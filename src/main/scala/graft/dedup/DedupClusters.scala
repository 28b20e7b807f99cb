package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Pins

/** Duplicate-cluster resolution: turn near-dup candidate PAIRS (q36/q38
  * output) into CLUSTERS via connected components — the step that decides
  * which documents actually get dropped in a dedup pipeline.
  *
  * Two execution paths, selected by a declared size bound (r15):
  *
  *  - LOCAL UNION-FIND for bounded edge sets: dedup pair sets are tiny
  *    relative to their corpus (pairs ∝ near-duplicates, not documents),
  *    so the common case is thousands-to-millions of edges feeding an
  *    iterative loop whose per-iteration cost is pure fixed job overhead
  *    (~0.2-0.4 s × diameter+1 iterations × 2-3 jobs of scheduling on
  *    label frames of a few KB). The driver takes at most
  *    `graft.cc.localEdgeLimit`+1 pair rows (`head`, an incremental
  *    executeTake — ONE bounded action, no shuffle of its own) and, when
  *    the set fits, resolves components with path-compressed union-find
  *    and returns a LocalRelation: zero shuffles, zero iterations, zero
  *    cache pins, and downstream consumers see a broadcastable relation.
  *    guide §1.2/§2.4: the cheapest shuffle is the one that never runs.
  *
  *  - ITERATIVE MIN-LABEL PROPAGATION above the bound (or for non-integral
  *    id types): one shuffle join + one hash-agg per iteration, driver
  *    only orchestrates and checks an O(1) convergence bit — the 100 TB
  *    shape, unchanged from r14.
  *
  * The bound is a conf knob, not a constant tuned to the bench:
  * `graft.cc.localEdgeLimit` (default 1,000,000 pair rows ≈ 100 MB of
  * driver rows, comfortably under the 1 GB maxResultSize default). Set 0
  * to force the distributed loop (specs exercise both paths). At 100 TB
  * an over-the-bound edge set falls through automatically after one
  * bounded take.
  *
  * Scale notes (distributed path): `localCheckpoint` truncates the
  * growing lineage every 8 generations (on a cluster, prefer `checkpoint`
  * to HDFS for fault tolerance); for adversarial high-diameter graphs
  * swap in star contraction / alternating large-small — the API stays
  * the same.
  */
object DedupClusters {

  private val NullIds = "connectedComponents: pairs hold a null doc_a/doc_b"

  /** pairs(doc_a, doc_b) → (doc_id, cluster_id = min doc_id reachable).
    * Only documents that appear in some pair are emitted (singletons need
    * no resolution).
    *
    * `maxIter` is a safety bound on the distributed loop, not a tuning
    * knob: iterations needed = component diameter, and the default 64
    * covers even a 64-edit incremental-revision chain (real near-dup
    * clusters are diameter 1–3). Hitting the bound FAILS LOUDLY (require)
    * rather than silently emitting half-merged clusters — wrong dedup
    * output deletes the wrong documents. The local path is exact at any
    * diameter. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 64): DataFrame = {
    val spark = pairs.sparkSession
    val dt = pairs.schema("doc_a").dataType
    val localLimit = spark.conf
      .get("graft.cc.localEdgeLimit", "1000000").toInt
    val integral = dt match {
      case LongType | IntegerType => true
      case _ => false
    }
    if (integral && localLimit > 0) {
      // ONE bounded action over the raw pair pipeline: no explode, no
      // distinct (union-find absorbs duplicate edges), limit+1 rows so
      // over-the-bound sets are detected, never silently truncated.
      val taken = pairs.select(col("doc_a"), col("doc_b"))
        .head(localLimit + 1)
      if (taken.length <= localLimit)
        return localComponents(spark, taken, dt)
      // over the bound: fall through to the scale path
    }
    distributedComponents(pairs, maxIter)
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

  /** The 100 TB shape: iterative min-label propagation, one job and one
    * shuffle per iteration (the changed-flag count both materializes the
    * persisted next-generation labels and answers convergence). */
  private def distributedComponents(pairs: DataFrame, maxIter: Int)
      : DataFrame = Pins.scope { pins =>
    // ONE scan of the (possibly expensive) pair pipeline: explode each
    // pair into both directions instead of a union of two projections —
    // the union form computed the whole upstream (e.g. q38's all-pairs
    // verify) twice, once per branch. Reused every iteration.
    val edges = pins.persist(pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    // Iteration 1 folded into the seed: with identity labels the min
    // neighbor label of `node` is simply min(src) over its in-edges, so
    // the first join of the generic loop is a no-op — seed labels with
    // least(node, min neighbor) directly (edges are symmetric, so every
    // node appears as dst).
    val seed = edges.groupBy(col("dst").as("node"))
      .agg(min(col("src")).as("nbr"))
      .select(col("node"), least(col("node"), col("nbr")).as("label"))
      .persist()
    var labels: DataFrame = seed
    // `pinned` is the HANDLE that was actually persisted. Unpersisting a
    // derived frame (e.g. next.drop("__changed")) is a silent no-op —
    // Spark's CacheManager only uncaches plans that sameResult the cached
    // plan — so superseded generations would stay pinned until
    // clearCache (ADVICE r14). None after a localCheckpoint generation:
    // dropping a locally-checkpointed RDD's blocks would lose data its
    // truncated lineage cannot recompute.
    var pinned: Option[DataFrame] = Some(seed)
    var iter = 1
    var converged = false
    while (iter < maxIter && !converged) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("label")).as("nbr_label"))
      // ONE job per iteration: the changed flag rides the label update,
      // and counting the changed rows both MATERIALIZES the persisted
      // next-labels cache and answers convergence — the previous form
      // paid a checkpoint job plus a separate convergence join per
      // iteration (3 shuffles/2 jobs; now 1/1).
      val next = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"),
          (col("nbr_label") < col("label")).as("__changed"))
        .persist()
      // A null pair id surfaces as a null node (edges are symmetric); its
      // count rides the same aggregate, so the check costs no extra job.
      val Row(changed: Long, nullIds: Long) = next.agg(
        count(when(col("__changed"), 1)), count(when(col("node").isNull, 1)))
        .collect()(0)
      require(nullIds == 0L, NullIds)
      converged = changed == 0L
      pinned.foreach(_.unpersist(false)) // superseded generation
      pinned = Some(next)
      labels = next.drop("__changed")
      iter += 1
      // Adversarial high-diameter graphs: cut the join lineage every 8
      // generations so plan growth stays bounded (each cut is one extra
      // job, amortized over 8 iterations; diameter-1-3 dedup graphs never
      // reach it).
      if (iter % 8 == 0) {
        labels = labels.localCheckpoint(true)
        pinned.foreach(_.unpersist(false)) // checkpoint holds the blocks now
        pinned = None
      }
    }
    require(converged, s"connectedComponents did not converge in $maxIter iterations")
    // The final generation stays out of the scope (the result reads it);
    // the harness's clearCache or the ContextCleaner reclaims it.
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }
}
