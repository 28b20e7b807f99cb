package graft.dedup

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Pins

/** Duplicate-cluster resolution: turn near-dup candidate PAIRS (q36/q38
  * output) into CLUSTERS via connected components — the step that decides
  * which documents actually get dropped in a dedup pipeline.
  *
  * The pair source is pinned once (`pairs.select(doc_a, doc_b)`, scoped
  * to the call), so the upstream pair pipeline (e.g. q38's all-pairs
  * verify) runs once whichever path answers. Two paths, selected by the
  * constant bound [[LocalEdgeLimit]]:
  *
  *  - LOCAL UNION-FIND for bounded edge sets: dedup pair sets are tiny
  *    relative to their corpus (pairs ∝ near-duplicates, not documents).
  *    The driver takes at most `LocalEdgeLimit`+1 pair rows (`head`, one
  *    bounded action) and, when the set fits, resolves components with
  *    path-compressed union-find and returns a LocalRelation: zero
  *    shuffles, zero iterations, and downstream consumers see a
  *    broadcastable relation.
  *
  *  - MIN-LABEL PROPAGATION above the bound (or for non-integral id
  *    types): one shuffle join + one hash-agg per generation. Each label
  *    generation is an eager `localCheckpoint`, so it enters the next
  *    plan as a leaf and the plan is the same size every iteration; the
  *    changed-row and null-id counts ride that checkpoint job through
  *    `observe`. A superseded generation is released as soon as its
  *    successor is materialized (at most two are held); only the final
  *    one outlives the call. The loop runs until no label changes, which
  *    always happens: a label only ever decreases and takes values in the
  *    finite set of ids, so after at most (component diameter + 1)
  *    generations none changes. On a cluster, swap `localCheckpoint` for
  *    `checkpoint` to reliable storage for fault tolerance.
  */
object DedupClusters {

  private val NullIds = "connectedComponents: pairs hold a null doc_a/doc_b"

  /** Pair rows the driver resolves locally: ≈100 MB of driver rows,
    * under the 1 GB `spark.driver.maxResultSize` default. */
  val LocalEdgeLimit = 1000000

  /** pairs(doc_a, doc_b) → (doc_id, cluster_id = min doc_id reachable).
    * Only documents that appear in some pair are emitted (singletons need
    * no resolution). Both paths are exact at any diameter. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponents(pairs, LocalEdgeLimit)

  /** DuckDB twin of [[connectedComponents]]' reachability: the `edges`
    * and recursive `reach(src, dst)` CTEs over the `pairs` CTE's
    * `(doc_a, doc_b)` rows, for a statement opened with `WITH RECURSIVE`. */
  private[graft] def reachSql(pairs: String): String = s"""edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM $pairs
        UNION SELECT doc_b, doc_a FROM $pairs),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)"""

  /** The min-label query over [[reachSql]]'s `reach`: (doc_id,
    * cluster_id = min doc_id reachable), as [[connectedComponents]]. */
  private[graft] def clusterLabelSql: String =
    """SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src"""

  /** [[connectedComponents]] with the local bound as a parameter, so
    * specs reach both paths (0 forces the distributed loop). */
  private[dedup] def connectedComponents(pairs: DataFrame, localLimit: Int)
      : DataFrame = Pins.scope { pins =>
    val src = pins.persistRows(pairs.select(col("doc_a"), col("doc_b")))
    val dt = src.schema("doc_a").dataType
    val taken = dt match {
      // limit+1 rows, so an over-the-bound set is detected, never
      // silently truncated; union-find absorbs duplicate edges
      case LongType | IntegerType => Some(src.head(localLimit + 1))
      case _ => None
    }
    taken.filter(_.length <= localLimit) match {
      case Some(rows) => localComponents(pairs.sparkSession, rows, dt)
      case None => distributedComponents(pins, src)
    }
  }

  /** Path-compressed union-find with union-by-min: the root of every set
    * is its minimum member, exactly the min-label-propagation fixpoint.
    * Output rows sorted by doc_id so the LocalRelation is deterministic
    * row-for-row across runs (same contract as a shuffled result fed to
    * the Verify dump). */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
      rows: Array[Row], dt: DataType): DataFrame = {
    val parent = new java.util.HashMap[Long, Long](rows.length * 2)
    def find(x0: Long): Long = {
      var r = x0
      while (parent.get(r) != r) r = parent.get(r)
      var c = x0
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    var i = 0
    while (i < rows.length) {
      val row = rows(i)
      require(!row.isNullAt(0) && !row.isNullAt(1), NullIds)
      val a = row.getAs[Number](0).longValue
      val b = row.getAs[Number](1).longValue
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        // attach the larger root under the smaller: every root stays the
        // min of its component, so find() IS the cluster label
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
      i += 1
    }
    val nodes = parent.keySet().toArray(new Array[java.lang.Long](0))
      .map(_.longValue).sorted
    val out = new java.util.ArrayList[Row](nodes.length)
    val isInt = dt == IntegerType
    nodes.foreach { n =>
      val lbl = find(n)
      if (isInt) out.add(Row(n.toInt, lbl.toInt)) else out.add(Row(n, lbl))
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("doc_id", dt, nullable = true),
      StructField("cluster_id", dt, nullable = true))))
  }

  /** Iterative min-label propagation over the pinned pair source, one
    * checkpointed generation per iteration. */
  private def distributedComponents(pins: Pins, pairs: DataFrame)
      : DataFrame = {
    // Both directions plus a self-loop per endpoint, from one scan of the
    // pair source; read every iteration. The self-loop carries a node's
    // own label into its min, so one join + one agg is a whole step.
    val a = col("doc_a")
    val b = col("doc_b")
    val edges = pins.persist(pairs.select(explode(array(
        struct(a.as("src"), b.as("dst")), struct(b.as("src"), a.as("dst")),
        struct(a.as("src"), a.as("dst")), struct(b.as("src"), b.as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    // One step: (src, dst, label of src) → the next generation (node,
    // label), materialized as a checkpointed leaf. A null pair id
    // surfaces as a null node; the changed and null counts ride the
    // checkpoint job.
    def step(labelled: DataFrame): (DataFrame, Long) = {
      val obs = Observation()
      val next = labelled.groupBy(col("dst").as("node"))
        .agg(min(col("label")).as("label"),
          min(when(col("src") === col("dst"), col("label"))).as("old"))
        .observe(obs,
          count(when(col("label") < col("old"), 1)).as("changed"),
          count(when(col("node").isNull, 1)).as("nulls"))
        .select(col("node"), col("label"))
        .localCheckpoint(true)
      val m = obs.get
      require(m("nulls") == 0L, NullIds)
      (next, m("changed").asInstanceOf[Long])
    }
    // the first step starts from identity labels: label(src) = src
    var (labels, changed) = step(edges.withColumn("label", col("src")))
    while (changed > 0L) {
      val (next, c) = step(
        edges.join(labels.withColumnRenamed("node", "src"), "src"))
      Pins.checkpointRdds(labels).foreach(_.unpersist(false)) // superseded
      labels = next
      changed = c
    }
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }
}
