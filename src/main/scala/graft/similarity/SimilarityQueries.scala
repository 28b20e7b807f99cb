package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analytics.{Ops, QueryDef}
import graft.dedup.DedupQueries
import Ops._
import graft.text.{TextQueries, TextSignals}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Arithmetic contract: vectors are widened to DOUBLE first, dot/norm are
  * sequential left-folds (`aggregate`), division/sqrt in DOUBLE — the exact
  * same operation order the DuckDB oracle uses, so results are
  * bit-comparable; outputs additionally round to 1e-6 for safety.
  *
  * Scale design: brute-force is the correctness baseline (O(n·q), fine when
  * the query side is small and broadcast); the LSH-bucketed variant
  * (random-hyperplane signs → bucket join) is the 100 TB path — candidates
  * shuffle by bucket id, never the full cross product.
  */
object SimilarityQueries {

  /** Elementwise-double view of an embedding column. */
  private[similarity] def asDouble(c: String): Column =
    expr(s"transform($c, x -> cast(x AS double))")

  /** L2 norm via the native codegen'd dot product (same sequential
    * summation as the oracle's sqrt(list_dot_product(e,e))). */
  private[similarity] def l2norm(c: String): Column = expr(s"sqrt(graft_dot($c, $c))")

  /** cosine(a, b) given precomputed norms — norms are evaluated once per
    * vector (narrow pre-pass), not once per pair, and the pair-level dot is
    * the native [[graft.functions.DotProduct]] codegen loop. Arithmetic
    * (dot/(na·nb), sequential sums) stays bit-identical to the oracle.
    *
    * ZERO-NORM guard: cosine is undefined for a zero vector, and Spark 4
    * ANSI throws on DOUBLE division by zero (unlike IEEE) — a single
    * all-zero embedding (models emit them for empty inputs) would
    * otherwise kill the whole job. NULL similarity → the pair/candidate is
    * excluded by every downstream threshold filter and sorts last under
    * desc ordering. Driver testdata has no zero vectors, so oracle parity
    * is unchanged (the guard branch never fires there). */
  private[similarity] def cosine(a: String, b: String, na: String, nb: String): Column =
    expr(s"CASE WHEN $na * $nb > 0 THEN round(graft_dot($a, $b) / ($na * $nb), 6) " +
      "ELSE CAST(NULL AS DOUBLE) END")

  /** (vec_id, v: array<double>, norm: double) — the shared similarity input. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, d, "embeddings")
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("norm", l2norm("v"))
  }

  /** Session conf key bounding the all-pairs CORRECTNESS BASELINES (q39 /
    * q40). Set to -1 to disable. */
  val MaxBruteForceRowsKey = "spark.graft.similarity.maxBruteForceRows"
  private val DefaultMaxBruteForceRows = 50000L

  /** q41 (LSH) / q42b (IVF) are the scale paths of the q39/q40 baselines. */
  private def guardBruteForce(s: SparkSession, d: String, query: String): Unit =
    Ops.guardBruteForce(s, d, query, "embeddings", MaxBruteForceRowsKey,
      DefaultMaxBruteForceRows, "all-pairs", "vectors",
      "q41_ann_lsh / q42b_ann_ivf (top-k) or q68_cosine_pairs_lsh (pair mining)")

  /** Multi-table sign-LSH bucket assignment: (vec_id, v, norm, table_id,
    * bucket) — one row per (vector, table). OR-amplification: L tables × k
    * hyperplane bits each; a pair at angular similarity p collides in at
    * least one table with prob 1-(1-p^k)^L. k bounds bucket size (2^k
    * buckets/table), L buys recall linearly in cost — the same math as
    * q36's band/row split. Planes are a PRECOMPUTED LITERAL (deterministic
    * seeded SplittableRandom — reproducible on any cluster, never rebuilt
    * per row the way an expression-derived plane array is). Shared by the
    * ANN top-k (q41) and the near-dup pair scale path (q68). */
  private[similarity] def lshTableBuckets(df: DataFrame,
      nTables: Int = 8, bits: Int = 4): DataFrame = {
    val rng = new java.util.SplittableRandom(0x9e3779b97f4a7c15L)
    val planes: Seq[Seq[Double]] = Seq.fill(nTables * bits)(
      Seq.fill(64)(rng.nextDouble() * 2.0 - 1.0))
    df.withColumn("planes", typedLit(planes))
      .withColumn("signs",
        expr("transform(planes, plane -> if(graft_dot(v, plane) >= 0.0, 1L, 0L))"))
      .select(col("vec_id"), col("v"), col("norm"),
        posexplode(expr(
          s"""transform(sequence(0, ${nTables - 1}), t ->
             |  aggregate(sequence(0, ${bits - 1}), 0L, (acc, b) ->
             |    acc | shiftleft(element_at(signs, t * $bits + b + 1), b)))"""
            .stripMargin)).as(Seq("table_id", "bucket")))
  }

  /** Sequential left-fold dot product — the SAME summation order as
    * [[graft.functions.DotProduct]] and DuckDB's list_dot_product, so a
    * driver-side-computed value is bit-identical to either engine's. */
  private def dotSeq(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Nearest-centroid assignment against a DRIVER-HELD centroid list (k
    * centroids — bounded metadata, the MLlib KMeans shape): the centroids
    * inline as literals, so assignment is a NARROW projection — no join, no
    * shuffle, regardless of input size. d² = v·v − 2·v·c + c·c with v·v
    * pre-projected once (HOF lambdas are interpreted and never CSE'd — an
    * in-lambda v·v would recompute per centroid) and c·c precomputed on the
    * driver via the fold-order-compatible [[dotSeq]]. Ties break to the
    * lowest centroid id: `array_position` returns the FIRST minimum and
    * `cents` is sorted by id. Adds (cluster, d2) to the frame. */
  private[similarity] def assignToCentroids(all: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty && cents.map(_._1) == cents.map(_._1).sorted,
      "centroids must be non-empty and sorted by id (tie-break contract)")
    all
      .withColumn("vv", expr("graft_dot(v, v)"))
      .withColumn("__cents", typedLit(cents.map(_._2)))
      .withColumn("__ccs", typedLit(cents.map(c => dotSeq(c._2, c._2))))
      .withColumn("__d2s",
        expr("zip_with(__cents, __ccs, (c, cc) -> vv - 2 * graft_dot(v, c) + cc)"))
      .withColumn("d2", expr("array_min(__d2s)"))
      .withColumn("cluster", element_at(typedLit(cents.map(_._1)),
        expr("array_position(__d2s, d2)").cast("int")))
      .drop("vv", "__cents", "__ccs", "__d2s")
  }

  /** One Lloyd step: assign → per-(cluster, pos) exact micro-unit mean
    * (the q56 centroid aggregate — cross-engine exact, 6-dp surfaced) →
    * collect the k×dims result to the driver (k·64 doubles — bounded
    * metadata, like MLlib's per-iteration center collect). Empty clusters
    * simply drop out, matching the oracle's GROUP BY. Per iteration the
    * cluster pays one narrow scan + one tiny (cluster, pos)-keyed agg
    * shuffle — nothing vector-sized ever shuffles. */
  private[similarity] def lloydStep(all: DataFrame,
      cents: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] =
    assignToCentroids(all, cents)
      .select(col("cluster"), posexplode(col("v")))
      .groupBy("cluster", "pos")
      .agg(round(
        sum(round(col("col") * 1e6).cast("long")).cast("double")
          / (lit(1e6) * count(lit(1))), 6).as("cv"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (cl, rows) =>
        (cl, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq) }
      .toSeq.sortBy(_._1)

  /** DuckDB twin of [[trainedCentroids]]' lowest-id init and first
    * [[lloydStep]] over `v(vec_id, e)`: seeds `c0` (`vec_id < k`), the
    * nearest-seed assignment `d1`/`m1`, and the exact micro-unit means
    * `z1`/`c1`, ending in the step-1 centroids `c1l(cent_id, ce)`. */
  private def lloydStep1Sql(k: Int): String =
    s"""c0 AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < $k),
      d1 AS (
        SELECT v.vec_id, c0.cent_id,
          list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, c0.ce)
            + list_dot_product(c0.ce, c0.ce) AS d2
        FROM v CROSS JOIN c0),
      m1 AS (
        SELECT vec_id, cent_id AS cluster FROM d1
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      z1 AS (
        SELECT m1.cluster, unnest(list_zip(v.e, range(len(v.e)))) AS z
        FROM v JOIN m1 USING (vec_id)),
      c1 AS (
        SELECT cluster, CAST(struct_extract(z, 2) AS BIGINT) AS pos,
          ROUND(CAST(SUM(CAST(ROUND(struct_extract(z, 1) * 1000000) AS BIGINT)) AS DOUBLE)
            / (1000000.0 * COUNT(*)), 6) AS cv
        FROM z1 GROUP BY cluster, pos),
      c1l AS (SELECT cluster AS cent_id, list(cv ORDER BY pos) AS ce
              FROM c1 GROUP BY cluster)"""

  /** Lloyd-trained coarse quantizer shared by the IVF paths (q42b, q74):
    * deterministic lowest-id init (the q71 contract — ids are dense from 0
    * in the lake, so `vec_id < k` IS the k lowest) followed by `iters`
    * exact-arithmetic [[lloydStep]]s. Centroids come back as driver-held
    * bounded metadata (k×64 six-dp doubles) bit-identical to the same
    * training unrolled in oracle SQL (the q71-proven composition), so even
    * the fully-oracled q74 trains for real. Replaces the round-5 "every
    * 25th vector" stand-in: trained cells group similar vectors, which is
    * what buys IVF recall at equal nProbe and balances the sum(cell²)
    * candidate bound on clustered real-world embeddings. */
  private[similarity] def trainedCentroids(all: DataFrame, k: Int,
      iters: Int): Seq[(Long, Seq[Double])] = {
    val init = all.filter(col("vec_id") < k)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq.sortBy(_._1)
    (1 to iters).foldLeft(init)((c, _) => lloydStep(all, c))
  }

  /** DuckDB CTE fragment unrolling the persisted IVF index's TRAINING —
    * the same deterministic two-step Lloyd (k=20, lowest-id seeds
    * `vec_id < 20`, micro-unit mean arithmetic) that [[trainedCentroids]]
    * runs and `VectorIndex.build` persists, proven bit-comparable by the
    * q104 gate. Ends in `c2l(cent_id, ce)` — the stored centroids — and
    * `asg(vec_id, e, cell)` — the stored cells table. Callers open with
    * `WITH`, splice this, and compose probe stages on top (q104 single-
    * query RRF, q114 multi-query vote). */
  private def IvfIndexSql: String = s"""
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      ${lloydStep1Sql(20)},
      d2i AS (
        SELECT v.vec_id, c1l.cent_id,
          list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, c1l.ce)
            + list_dot_product(c1l.ce, c1l.ce) AS d2
        FROM v CROSS JOIN c1l),
      m2 AS (
        SELECT vec_id, cent_id AS cluster FROM d2i
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1),
      z2 AS (
        SELECT m2.cluster, unnest(list_zip(v.e, range(len(v.e)))) AS z
        FROM v JOIN m2 USING (vec_id)),
      c2 AS (
        SELECT cluster, CAST(struct_extract(z, 2) AS BIGINT) AS pos,
          ROUND(CAST(SUM(CAST(ROUND(struct_extract(z, 1) * 1000000) AS BIGINT)) AS DOUBLE)
            / (1000000.0 * COUNT(*)), 6) AS cv
        FROM z2 GROUP BY cluster, pos),
      c2l AS (SELECT cluster AS cent_id, list(cv ORDER BY pos) AS ce
              FROM c2 GROUP BY cluster),
      asg AS (
        SELECT v.vec_id, v.e, c2l.cent_id AS cell
        FROM v CROSS JOIN c2l
        QUALIFY row_number() OVER (PARTITION BY v.vec_id
          ORDER BY list_dot_product(v.e, c2l.ce) DESC, c2l.cent_id ASC) = 1),"""

  /** DuckDB fragment mirroring `VectorIndex.probeAgainst`'s CELL-SELECTION
    * stage over [[IvfIndexSql]]'s `c2l`: each query row of `$qcte`
    * (query_id, qe) keeps its `$nProbe` nearest cells by (dot desc,
    * cent_id asc). Emits the `$pcName` CTE (query_id, qe, cell). */
  private def probeCellsSql(qcte: String, pcName: String, nProbe: Int): String =
    s"""      $pcName AS (
       |        SELECT $qcte.query_id, $qcte.qe, c2l.cent_id AS cell
       |        FROM c2l CROSS JOIN $qcte
       |        QUALIFY row_number() OVER (PARTITION BY $qcte.query_id
       |          ORDER BY list_dot_product($qcte.qe, c2l.ce) DESC,
       |            c2l.cent_id ASC) <= $nProbe),""".stripMargin

  /** DuckDB fragment mirroring the CANDIDATE-SCORING stage: probed cells
    * join the `asg` cells table, self excluded, 6-dp portable cosine.
    * `$candFilter` restricts the candidate slice (e.g. " AND asg.vec_id
    * % 50 <> 0"); emits the `$candName` CTE (query_id, cand_id, cos_sim). */
  private def probeCandSql(pcName: String, candName: String,
      candFilter: String = ""): String =
    s"""      $candName AS (
       |        SELECT $pcName.query_id, asg.vec_id AS cand_id,
       |          round(list_dot_product($pcName.qe, asg.e) /
       |            (sqrt(list_dot_product($pcName.qe, $pcName.qe))
       |              * sqrt(list_dot_product(asg.e, asg.e))), 6) AS cos_sim
       |        FROM $pcName JOIN asg USING (cell)
       |        WHERE asg.vec_id <> $pcName.query_id$candFilter),""".stripMargin

  /** Shared oracle for q42b (inline train+probe) and q105 (the same probe
    * against the PERSISTED index — probe == inline is VectorIndexSpec's
    * pinned contract, so one oracle hash-gates both): queries vec_id<10,
    * nProbe=6, top-5 by (cos desc, cand asc). */
  private lazy val ivfProbeOracle: String = s"""
      WITH ${IvfIndexSql}
      qv AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
${probeCellsSql("qv", "pc", 6)}
${probeCandSql("pc", "cand")}
      ranked AS (
        SELECT query_id, cand_id,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank,
          cos_sim
        FROM cand)
      SELECT query_id, cand_id, rank, cos_sim FROM ranked
      WHERE rank <= 5"""

  /** Driver-held centroids as a (cent_id, cv) frame for the broadcast side
    * of [[ivfAssign]] — a k-row local relation, never a scan. */
  private[similarity] def centroidFrame(s: SparkSession, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import s.implicits._
    cents.toDF("cent_id", "cv")
  }

  /** IVF-cell assignment via broadcast-centroid argmax-dot + window — the
    * shared dataflow of q42b (ANN probe) and q74 (semantic dedup). */
  private[similarity] def ivfAssign(all: DataFrame, cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("dot").desc, col("cent_id").asc)
    all.join(broadcast(cents))
      .withColumn("dot", expr("graft_dot(v, cv)"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("norm"), col("cent_id").as("cell"))
  }

  /** Frame-level IVF-cell assignment with a freshly trained quantizer —
    * the q74 dataflow head over any (vec_id, embedding) frame, for
    * composition (CorpusCurate's semantic stage): (vec_id, v, norm, cell). */
  private[graft] def semanticAssign(emb: DataFrame, k: Int = 20,
      iters: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val all = emb.select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("norm", l2norm("v"))
    ivfAssign(all, centroidFrame(emb.sparkSession,
      trainedCentroids(all, k, iters)))
  }

  /** The q74 keep-earliest rule over an assignment frame: vec_ids
    * dominated by an earlier (lower-id) same-cell vector at cosine >= tau.
    * Exact cosine runs WITHIN CELLS ONLY (candidate volume Σ cell², never
    * n²) — the SemDeDup shape shared by q74 and the curation pipeline. */
  private[graft] def dominatedIn(assigned: DataFrame, tau: Double): DataFrame =
    semanticPairsIn(assigned, tau)
      .select(col("id_b").as("vec_id")).distinct()

  /** The within-cell cosine PAIRS behind [[dominatedIn]] — factored out
    * (r12) so compositions needing the edges themselves (q250's
    * cross-modal pair dedup) share one definition with the q74 rule. */
  private[graft] def semanticPairsIn(assigned: DataFrame,
      tau: Double): DataFrame =
    assigned.toDF("id_a", "va", "na", "cell")
      .join(assigned.toDF("id_b", "vb", "nb", "cell"), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosine("va", "vb", "na", "nb"))
      .filter(col("cos_sim") >= tau)
      .select(col("id_a"), col("id_b"), col("cos_sim"))

  /** The q104 dataflow, parameterized so the fidelity spec can drive the
    * approximation knobs: RRF (k=60) fusion of a PostingsIndex.probe
    * top-`topN` lexical list with a VectorIndex.probe (IVF, `nProbe`
    * cells) top-`topN` vector list. At nProbe = k (every cell probed) and
    * topN covering both arms this reproduces q88's exact corpus-rank
    * fusion top-15 EXACTLY (HybridIndexedSpec pins it at two SFs) — the
    * only divergence at serving parameters is IVF recall, not the
    * composition. */
  private[graft] def hybridIndexed(s: SparkSession, d: String, nProbe: Int,
      topN: Int): DataFrame = {
    val (pRoot, vName) = graft.IndexCache.ensure(s, d)
    val lex = graft.operators.GlobalOrder.withRowNumbers(
        graft.text.PostingsIndex.probe(s, pRoot,
          Seq("query", "dup", "scan"), k = topN),
        Seq(col("bm25").desc, col("doc_id").asc), out = "r_lex")
      .select(col("doc_id"), col("r_lex"))
    val q0 = t(s, d, "embeddings").filter(col("vec_id") === 0)
      .select("vec_id", "embedding")
    val vec = VectorIndex.probe(s, vName, q0, nProbe = nProbe, topK = topN)
      .select(col("cand_id").as("doc_id"), col("rank").as("r_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(15)
      .select(col("doc_id"), round(col("rrf"), 6).as("rrf"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_vec"), lit(0L)).as("r_vec"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ── Near-duplicate pairs by embedding cosine ───────────────────────
    QueryDef("q39_cosine_dup_pairs", (s, d) => {
      guardBruteForce(s, d, "q39_cosine_dup_pairs")
      val a = vecs(s, d).toDF("id_a", "va", "na")
      val b = vecs(s, d).toDF("id_b", "vb", "nb")
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos_sim", cosine("va", "vb", "na", "nb"))
        .filter(col("cos_sim") >= 0.35)
        .select("id_a", "id_b", "cos_sim")
    }, Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_dot_product(a.e, b.e) /
              (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
          AS cos_sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.e, b.e) /
              (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35"""),
      notes = "embedding-cosine near-dup; double-widened, rounded to 1e-6"),

    // ── Brute-force cosine top-k (ANN correctness baseline) ────────────
    QueryDef("q40_ann_topk", (s, d) => {
      guardBruteForce(s, d, "q40_ann_topk")
      val q = vecs(s, d).filter(col("vec_id") < 10).toDF("query_id", "qv", "qn")
      val c = vecs(s, d).toDF("cand_id", "cv", "cn")
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("cand_id").asc)
      broadcast(q).join(c, col("query_id") =!= col("cand_id"))
        .withColumn("cos_sim", cosine("qv", "cv", "qn", "cn"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("query_id", "cand_id", "rank", "cos_sim")
    }, Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          round(list_dot_product(q.e, c.e) /
                (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
            AS cos_sim
        FROM v q JOIN v c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10)
      SELECT query_id, cand_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank,
        cos_sim
      FROM scored
      QUALIFY rank <= 5"""),
      notes = "brute-force cosine top-5; query side broadcast, tie-broken rank"),

    // ── LSH-bucketed ANN (multi-table hyperplane signs; the scale path) ─
    QueryDef("q41_ann_lsh", (s, d) => {
      // OR-amplified multi-table sign-LSH ([[lshTableBuckets]]). The old
      // single-table k=6 shape measured recall@5 of only 0.04-0.08 on
      // this corpus; k=4 × L=8 measured 0.66-0.68; k=4 × L=16 doubles the
      // table count for linearly more candidate cost and measures
      // 0.84-0.94 (AnnRecallSpec pins the ≥0.7 floor).
      val ids = lshTableBuckets(vecs(s, d), nTables = 16, bits = 4)
        .select(col("vec_id"), col("table_id"), col("bucket"))
      val q = ids.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
      val c = ids.withColumnRenamed("vec_id", "cand_id")
      // a pair colliding in several tables must score ONCE — dedup on the
      // NARROW id pair (16 bytes/row through the exchange), then join the
      // vectors back; distinct over rows carrying two 64-dim arrays would
      // shuffle ~1 KB per collision row for the same result
      val cand = q.join(c, Seq("table_id", "bucket"))
        .filter(col("query_id") =!= col("cand_id"))
        .select("query_id", "cand_id").distinct()
      val v = vecs(s, d)
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("cand_id").asc)
      cand
        .join(v.toDF("query_id", "qv", "qn"), Seq("query_id"))
        .join(v.toDF("cand_id", "cv", "cn"), Seq("cand_id"))
        .withColumn("cos_sim", cosine("qv", "cv", "qn", "cn"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("query_id", "cand_id", "rank", "cos_sim")
    }, None,
      notes = "multi-table sign-LSH ANN (k=4 bits x L=16 tables) — shuffles by (table,bucket), never the cross product; rows-only (plane literals engine-side; q41b is its hash-gated md5 twin, AnnRecallSpec its recall floor)"),

    // ── Sign-LSH ANN, fully HASH-GATED (md5-portable twin) ─────────────
    // q41's promotion by the q68b recipe, completing the LSH twin set
    // (q36b/q37b/q68b/q107b — ANN top-k was the last untwinned member):
    // the SAME k=4 × L=16 table geometry, but every hyperplane component
    // derives from md5 (h(t:b:i) % 2001 − 1000), so both engines build
    // the identical bank, make identical sign decisions, collide the
    // identical candidate sets, and the exact verify + top-5 rank is the
    // q39/q40-portable arithmetic. q41 keeps engine-side planes as the
    // production form; this twin retires the trust-me row.
    QueryDef("q41b_ann_lsh_md5", (s, d) => {
      val Dim = 64
      val v = vecs(s, d)
      v.select(size(col("v")).as("dd")).take(1).foreach { r =>
        require(r.getInt(0) == Dim,
          s"q41b md5 plane bank is built for $Dim-dim embeddings but the " +
            s"fixture has ${r.getInt(0)} dims (the q68b guard)")
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      def h(key: String): Long = {
        val hex = md.digest(key.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16)
      }
      val planes = for (tb <- 0 until 16; b <- 0 until 4) yield
        (tb, b, 1L << b,
          (0 until Dim).map(i => (h(s"$tb:$b:$i") % 2001 - 1000).toDouble))
      import s.implicits._
      val planesDf = planes.toDF("table_id", "bit", "weight", "harr")
      val bits = v.join(broadcast(planesDf))
        .withColumn("dd", expr("graft_dot(v, harr)"))
        .groupBy(col("vec_id"), col("table_id"))
        .agg(sum(when(col("dd") >= 0, col("weight")).otherwise(0L))
          .as("bucket"))
      val q = bits.filter(col("vec_id") < 10)
        .withColumnRenamed("vec_id", "query_id")
      val c = bits.withColumnRenamed("vec_id", "cand_id")
      val cand = q.join(c, Seq("table_id", "bucket"))
        .filter(col("query_id") =!= col("cand_id"))
        .select("query_id", "cand_id").distinct()
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("cand_id").asc)
      cand
        .join(v.toDF("query_id", "qv", "qn"), Seq("query_id"))
        .join(v.toDF("cand_id", "cv", "cn"), Seq("cand_id"))
        .withColumn("cos_sim", cosine("qv", "cv", "qn", "cn"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("query_id", "cand_id", "rank", "cos_sim")
    }, Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
      planes AS (
        SELECT t, b,
          list_transform(range(0, 64), i ->
            CAST(CAST('0x' || substr(md5(t || ':' || b || ':' || i), 1, 15)
              AS BIGINT) % 2001 - 1000 AS DOUBLE)) AS harr
        FROM range(0, 16) r1(t), range(0, 4) r2(b)),
      bits AS (
        SELECT v.vec_id, p.t,
          SUM(CASE WHEN list_dot_product(v.e, p.harr) >= 0
            THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS bucket
        FROM v CROSS JOIN planes p GROUP BY v.vec_id, p.t),
      cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
        FROM bits q JOIN bits c ON c.t = q.t AND c.bucket = q.bucket
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
      scored AS (
        SELECT cd.query_id, cd.cand_id,
          round(list_dot_product(va.e, vb.e) /
            (sqrt(list_dot_product(va.e, va.e)) *
             sqrt(list_dot_product(vb.e, vb.e))), 6) AS cos_sim
        FROM cand cd
        JOIN v va ON va.vec_id = cd.query_id
        JOIN v vb ON vb.vec_id = cd.cand_id)
      SELECT query_id, cand_id,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank,
        cos_sim
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id
        ORDER BY cos_sim DESC, cand_id ASC) <= 5"""),
      notes = "q41's sign-LSH ANN promoted to a full hash gate via the q68b md5-derived plane bank (identical 16x4x64 bank both engines, identical sign/candidate sets, q39-portable verify + top-5 rank) — the last LSH-family row without its own hash-gated twin"),

    // ── IVF-style ANN: coarse quantize to centroid cells, probe nearest cells ──
    QueryDef("q42b_ann_ivf", (s, d) => {
      // Coarse quantizer TRAINED by Lloyd's algorithm ([[trainedCentroids]],
      // k=20, two exact steps — the q71 machinery): trained cells group
      // similar vectors, so a query's true neighbors concentrate in its
      // nearest few cells. Assign: each vector → argmax-dot centroid
      // (broadcast centroids, window argmax). Search: probe each query's
      // nProbe nearest cells only. Same nProbe=6, same 20-cell count as the
      // retired round-5 mod-25 stand-in, which measured recall@5 of only
      // 0.58-0.62 — training alone lifts it to a measured 0.90-0.94
      // (AnnRecallSpec pins the ≥0.7 floor). Training cost: two narrow
      // scans + two (cluster,pos) agg
      // shuffles of bounded partials, amortized across every probe batch at
      // real scale (train once, assign many).
      val all = vecs(s, d)
      val cents = centroidFrame(s, trainedCentroids(all, k = 20, iters = 2))
      val assigned = ivfAssign(all, cents)
      val nProbe = 6
      val wProbe = Window.partitionBy("query_id")
        .orderBy(col("dot").desc, col("cent_id").asc)
      val probes = all.filter(col("vec_id") < 10)
        .toDF("query_id", "qv", "qn")
        .join(broadcast(cents))
        .withColumn("dot", expr("graft_dot(qv, cv)"))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= nProbe)
        .select(col("query_id"), col("qv"), col("qn"), col("cent_id").as("cell"))
      val wRank = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("cand_id").asc)
      probes.join(
          assigned.toDF("cand_id", "cv", "cn", "cell"), Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("cos_sim", cosine("qv", "cv", "qn", "cn"))
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .filter(col("rank") <= 5)
        .select("query_id", "cand_id", "rank", "cos_sim")
    }, Some(ivfProbeOracle),
      // HASH-GATED since r11 (was rows-only "approximate by design"):
      // approximate ≠ non-deterministic — the oracle unrolls the SAME
      // Lloyd training + argmax assignment + nProbe=6 probe (the q104/
      // q114-proven composition), so the approximation itself is gated.
      notes = "IVF coarse-quantized ANN (Lloyd-trained k=20 quantizer, broadcast-centroid argmax assign, nProbe=6 probe); fully hash-gated since r11 — the oracle replays training + probe, approximation and all"),

    // ── Cosine near-dup pairs, SCALE PATH (LSH-fed) ────────────────────
    // The embedding mirror of q62's composed dedup pipeline: multi-table
    // LSH candidate generation (O(n·L) bucket rows, shuffled by
    // (table_id, bucket) — never the cross product) → exact cosine
    // verification of CANDIDATES ONLY at the same 0.35 threshold as q39.
    // q39 is the exactness twin: every pair this path emits carries the
    // IDENTICAL cos_sim value (same fold, same rounding); what differs is
    // coverage — pairs whose signs disagree in all L tables are missed
    // (CosinePairsLshSpec pins the measured recall floor and value
    // equality). Rows-only in the driver gate: the candidate set depends
    // on the engine-side plane literals.
    QueryDef("q68_cosine_pairs_lsh", (s, d) => {
      // k=3 bits × L=12 tables (vs q41's 4×8): pair MINING wants high
      // recall at the 0.35 threshold — p=0.61 collision prob per bit-agree
      // gives 1-(1-p^3)^12 ≈ 0.96 theoretical (0.96-0.98 measured,
      // CosinePairsLshSpec).
      //
      // SIZING HONESTY (measured, Q68 stage profile at sf0.1): candidate
      // volume per table is ~n²/2^(k+1), so k is the CORPUS-SIZE knob —
      // pick k ≈ log2(n/B) for target bucket size B. At the 5000-vector
      // test corpus, k=3 (8 buckets/table) yields ~19M candidate rows,
      // MORE than the 12.5M brute-force pairs: at toy scale this path
      // wins on plan SHAPE (bounded buckets, candidate-only verification,
      // id-only shuffles), not wall-clock. A billion-vector corpus at the
      // same bucket size runs k≈27 and never materializes a cross
      // product. Note also that sign-LSH selectivity at LOW thresholds is
      // intrinsically weak (p=0.61 vs chance 0.5 at cos 0.35); for
      // high-threshold near-dup mining (cos ≥ 0.7, p=0.75) the same k
      // buys far more precision per bit.
      // PINNED (r14): both sides of the bucket self-join consume ids and
      // both verify sides consume v — unpinned, the plane projections and
      // the vector scan each ran twice (the q36b staging discipline).
      val ids = lshTableBuckets(vecs(s, d), nTables = 12, bits = 3)
        .select(col("vec_id"), col("table_id"), col("bucket"))
        .persist()
      val cand = ids.as("a").join(ids.as("b"),
          col("a.table_id") === col("b.table_id") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .distinct() // a pair colliding in several tables verifies ONCE
      val v = vecs(s, d).persist()
      cand
        .join(v.toDF("id_a", "va", "na"), Seq("id_a"))
        .join(v.toDF("id_b", "vb", "nb"), Seq("id_b"))
        .withColumn("cos_sim", cosine("va", "vb", "na", "nb"))
        .filter(col("cos_sim") >= 0.35)
        .select("id_a", "id_b", "cos_sim")
    }, None,
      notes = "scale-path cosine near-dup: LSH candidates -> exact cosine verify (candidates only); rows-only (plane literals engine-side)"),

    // ── Sign-LSH cosine pairs, fully HASH-GATED (md5-portable twin) ────
    // q68's promotion to a full hash gate (the q107b/q138 precedent):
    // the hyperplane bank derives every component from md5 — h(t,b,i) =
    // md5int(t:b:i) % 2001 − 1000 — so BOTH engines build the identical
    // 12×3×64 bank, and the bucket bits compare graft_dot (Spark) vs
    // list_dot_product (DuckDB), the q39-proven bit-compatible
    // sequential-fold pair, against zero. Identical sign decisions ⇒
    // identical candidate sets ⇒ the exact-cosine verify is the already
    // portable q39 arithmetic with an integer-first 6-dp surface. Same
    // plan shapes as q68 (bounded buckets, candidate-only verification,
    // id-only shuffles, the k ≈ log2(n/B) corpus-size knob); the bank is
    // a 36-row broadcast either way. The only nonportable piece of q68
    // was its plane-literal SOURCE — q68 keeps the engine-side planes as
    // the production form, this twin retires the trust-me row.
    QueryDef("q68b_cosine_pairs_lsh_md5", (s, d) => {
      val Dim = 64 // the fixture's embedding width; the md5 bank below is
      // deterministic in (t, b, i) so any width works — the require makes
      // a fixture change loud instead of silently mis-hashing
      val v = vecs(s, d).persist()
      // one-row probe (empty corpus → empty result, nothing to guard); a
      // bare head() would throw NoSuchElementException before the message
      v.select(size(col("v")).as("d")).take(1).foreach { r =>
        require(r.getInt(0) == Dim,
          s"q68b md5 plane bank is built for $Dim-dim embeddings but the " +
            s"fixture has ${r.getInt(0)} dims; graft_dot would fold over " +
            "min(len) and silently mis-bucket while the DuckDB twin diverges")
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      def h(key: String): Long = {
        val hex = md.digest(key.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16)
      }
      val planes = for (tb <- 0 until 12; b <- 0 until 3) yield
        (tb, b, 1L << b,
          (0 until Dim).map(i => (h(s"$tb:$b:$i") % 2001 - 1000).toDouble))
      import s.implicits._
      val planesDf = planes.toDF("table_id", "bit", "weight", "harr")
      // PINNED (r14): the q68 staging discipline — bucket bits feed both
      // self-join sides, v feeds both verify sides.
      val bits = v.join(broadcast(planesDf))
        .withColumn("d", expr("graft_dot(v, harr)"))
        .groupBy(col("vec_id"), col("table_id"))
        .agg(sum(when(col("d") >= 0, col("weight")).otherwise(0L))
          .as("bucket"))
        .persist()
      val cand = bits.as("a").join(bits.as("b"),
          col("a.table_id") === col("b.table_id") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .distinct()
      cand
        .join(v.toDF("id_a", "va", "na"), Seq("id_a"))
        .join(v.toDF("id_b", "vb", "nb"), Seq("id_b"))
        .filter(col("na") * col("nb") > 0)
        .withColumn("cos_sim",
          round(expr("graft_dot(va, vb)") / (col("na") * col("nb"))
            * lit(1e6)).cast("long") / lit(1e6))
        .filter(col("cos_sim") >= 0.35)
        .select("id_a", "id_b", "cos_sim")
    }, Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
      planes AS (
        SELECT t, b,
          list_transform(range(0, 64), i ->
            CAST(CAST('0x' || substr(md5(t || ':' || b || ':' || i), 1, 15)
              AS BIGINT) % 2001 - 1000 AS DOUBLE)) AS harr
        FROM range(0, 12) r1(t), range(0, 3) r2(b)),
      bits AS (
        SELECT v.vec_id, p.t,
          SUM(CASE WHEN list_dot_product(v.e, p.harr) >= 0
            THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS bucket
        FROM v CROSS JOIN planes p GROUP BY v.vec_id, p.t),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
        FROM bits a JOIN bits b2
          ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
      verified AS (
        SELECT c.id_a, c.id_b,
          CAST(ROUND(list_dot_product(va.e, vb.e) /
            (sqrt(list_dot_product(va.e, va.e)) *
             sqrt(list_dot_product(vb.e, vb.e))) * 1000000) AS BIGINT)
            / 1000000.0 AS cos_sim
        FROM cand c
        JOIN v va ON va.vec_id = c.id_a
        JOIN v vb ON vb.vec_id = c.id_b
        WHERE sqrt(list_dot_product(va.e, va.e)) *
              sqrt(list_dot_product(vb.e, vb.e)) > 0)
      SELECT id_a, id_b, cos_sim FROM verified WHERE cos_sim >= 0.35"""),
      notes = "q68's sign-LSH pair mining promoted to a full hash gate via an md5-derived hyperplane bank (identical on both engines; bucket signs from the q39-proven bit-compatible dot pair) — 12x3x64 broadcast bank, candidate-only exact verify, integer-first 6-dp cosine"),

    // ── Embedding int8 quantization (storage-side compression op) ──────
    // Per-vector symmetric max-abs quantization: scale = max|v|/127,
    // q_i = round(v_i/scale) ∈ [-127,127], plus the reconstruction RMSE a
    // storage pipeline monitors before swapping float32 for int8 (4×
    // smaller at rest). Narrow scan-project, no shuffle. Cross-engine
    // exactness: the RMSE reduces to a sequential dot product of the
    // residual array — the same fold order as the oracle's
    // list_dot_product, the q39-proven bit-compatible pair — and scale/
    // rmse round to 6 dp per the determinism contract. Zero vectors get
    // scale 0 / rmse 0 (the division guard, ANSI-safe).
    QueryDef("q67_quantize_embeddings", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      t(s, d, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x AS double))").as("v"))
        .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn("scale",
          expr("CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END"))
        .withColumn("q", expr(
          "CASE WHEN amax > 0 THEN transform(v, x -> cast(round(x / scale) AS long)) " +
          "ELSE transform(v, x -> 0L) END"))
        .withColumn("resid", expr("zip_with(v, q, (a, b) -> a - b * scale)"))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale"),
          expr("round(sqrt(graft_dot(resid, resid) / size(resid)), 6)").as("rmse"))
    }, Some("""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      s AS (
        SELECT vec_id, e,
          list_max(list_transform(e, x -> abs(x))) AS amax
        FROM v),
      sc AS (
        SELECT vec_id, e,
          CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END AS scale
        FROM s),
      r AS (
        SELECT vec_id, scale,
          list_zip(e, CASE WHEN scale > 0
            THEN list_transform(e, x -> CAST(round(x / scale) AS BIGINT))
            ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END) AS z
        FROM sc),
      resid AS (
        SELECT vec_id, scale,
          list_transform(z, p ->
            struct_extract(p, 1) - struct_extract(p, 2) * scale) AS d
        FROM r)
      SELECT vec_id, round(scale, 6) AS scale,
        round(sqrt(list_dot_product(d, d) / len(d)), 6) AS rmse
      FROM resid"""),
      notes = "symmetric int8 max-abs quantization + reconstruction RMSE; narrow map, 4x storage cut"),

    // ── Vector centroid aggregate (the IVF-training / cluster-mean op) ─
    // posexplode → (label, dim) hash-agg: one shuffle of (label, pos, sum)
    // partials, dims stay distributed (never a per-label collect of
    // vectors). Exactness: each float becomes ROUND(v*1e6) — the product is
    // an EXACT double (float mantissa 24 bits × 1e6's 20 bits < 53), so
    // both engines round the identical value. Exact .5 ties CAN occur
    // (dyadic rationals: v = 1/128 → 7812.5) and agree because Spark
    // round() (HALF_UP) and DuckDB round() both take half AWAY FROM ZERO
    // for either sign — do not swap in bround/HALF_EVEN here.
    QueryDef("q56_vector_centroid", (s, d) => {
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(round(
          sum(round(col("col").cast("double") * 1e6).cast("long")).cast("double")
            / (lit(1e6) * count(lit(1))), 6).as("centroid_v"))
    }, Some("""
      WITH ex AS (
        SELECT label, unnest(list_zip(embedding, range(len(embedding)))) AS z
        FROM embeddings)
      SELECT label, CAST(struct_extract(z, 2) AS BIGINT) AS pos,
        ROUND(CAST(SUM(CAST(ROUND(CAST(struct_extract(z, 1) AS DOUBLE)*1000000) AS BIGINT)) AS DOUBLE)
          / (1000000.0 * COUNT(*)), 6) AS centroid_v
      FROM ex GROUP BY label, pos"""),
      notes = "per-label elementwise centroid; exact integer micro-unit sums both engines"),

    // ── K-means training (Lloyd's algorithm — the real IVF quantizer) ──
    // Two unrolled Lloyd iterations, k=8, deterministic init (the 8
    // lowest-id vectors). Upgrades q42b's "every 25th vector" stand-in
    // quantizer to an actual trainer while keeping the driver-gated
    // cross-engine exactness story: assignment d² uses the
    // fold-order-compatible dot (q39-proven), centroid recompute uses the
    // q56 exact micro-unit mean (6-dp surfaced), and the 6-dp centroids
    // round identically in both engines — so even the ITERATED state
    // (centroids-of-assignments-of-centroids) stays bit-comparable.
    // Scale shape per iteration: narrow assignment projection (centroids
    // are driver-held literals — no join) + one (cluster, pos)-keyed agg
    // shuffle of partial sums + a k×dims driver collect. At a billion
    // vectors that is one scan and a few-KB shuffle per iteration — the
    // exact MLlib KMeans dataflow. More iterations = more unrolled steps;
    // convergence is pinned by KMeansSpec (inertia non-increasing).
    QueryDef("q71_kmeans_train", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val all = t(s, d, "embeddings")
        .select(col("vec_id"), asDouble("embedding").as("v"))
      val init = all.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq.sortBy(_._1)
      val c1 = lloydStep(all, init)
      assignToCentroids(all, c1)
        .select(col("vec_id"), col("cluster"), round(col("d2"), 6).as("d2"))
    }, Some(s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      ${lloydStep1Sql(8)},
      d2s AS (
        SELECT v.vec_id, c1l.cent_id,
          list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, c1l.ce)
            + list_dot_product(c1l.ce, c1l.ce) AS d2
        FROM v CROSS JOIN c1l)
      SELECT vec_id, cent_id AS cluster, round(d2, 6) AS d2
      FROM d2s
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1"""),
      notes = "k-means (2 Lloyd iterations, k=8, lowest-id init): narrow literal-centroid assignment + q56 exact centroid recompute; ties to lowest centroid id"),

    // ── Semantic dedup (SemDeDup-style: cluster, then drop near-dups) ──
    // The embedding twin of the q62 dedup composition: IVF-cell
    // assignment (broadcast-centroid argmax — the q42b dataflow) bounds
    // the candidate space, exact cosine runs WITHIN CELLS ONLY, and a
    // vector is dropped iff an earlier (lower-id) vector in its cell
    // matches at >= 0.35 (q39's threshold). The keep-earliest rule makes
    // the survivor set closed under the pair relation: two survivors in
    // the same cell are NEVER >= tau similar (SemanticDedupSpec pins
    // this), and the whole query is deterministic — so unlike q68 it is
    // fully oracle-gated, no rows-only carve-out. Scale: candidate volume
    // is sum(cell²) not n²; cell count (centroid density) is the knob.
    // The quantizer is TRAINED (one exact Lloyd step over the lowest-20
    // init, [[trainedCentroids]]), which balances the cells on clustered
    // real-world embeddings — and because the training arithmetic is the
    // q71 bit-comparable composition, the oracle below unrolls the SAME
    // training in SQL and the whole trained pipeline stays hash-gated.
    QueryDef("q74_semantic_dedup", (s, d) => {
      // shared definition with the curation pipeline's semantic stage:
      // [[semanticAssign]] (trained cells) + [[dominatedIn]] (keep-earliest)
      val assigned = semanticAssign(
        t(s, d, "embeddings").select("vec_id", "embedding"))
      assigned.join(dominatedIn(assigned, 0.35), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cell"))
    }, Some(s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      ${lloydStep1Sql(20)},
      asg AS (
        SELECT v.vec_id, v.e, c1l.cent_id AS cell
        FROM v CROSS JOIN c1l
        QUALIFY row_number() OVER (PARTITION BY v.vec_id
          ORDER BY list_dot_product(v.e, c1l.ce) DESC, c1l.cent_id ASC) = 1),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.e, b.e) /
          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
          >= 0.35)
      SELECT vec_id, cell FROM asg
      WHERE vec_id NOT IN (SELECT id_b FROM pairs)"""),
      notes = "SemDeDup-style semantic dedup: Lloyd-trained IVF cells bound candidates, exact cosine within cells, keep-earliest survivor rule; fully oracled incl. training"),

    // ── Semantic dedup, SCALE PATH (persisted IVF index) ───────────────
    // q74 served from the stored quantizer — the anchor→scale-twin rule
    // (q40→q105, q113→q114, q162→q168) applied to the LAST inline-trained
    // member: q74 retrains its cells on every invocation, which is
    // correct for the gate but mismeasures serving (the r06 q42b lesson).
    // Here the cell assignment is READ from `<name>_cells`, the table
    // [[VectorIndex.build]] persisted BUCKETED BY cell — so the
    // within-cell self-join that generates candidate pairs consumes two
    // co-located bucketed scans with ZERO exchange on either side
    // (SemanticDedupIndexedSpec plan-asserts it); the only shuffle left
    // is the label-sized distinct over dominated ids. At 100 TB the
    // dedup pass costs two bucket-local reads of the standing index +
    // an id-only exchange — the corpus embeddings never move. Same
    // keep-earliest rule and tau as q74 ([[dominatedIn]] verbatim), so
    // any divergence from q74 is exactly the quantizer (k=20 trained at
    // 2 Lloyd iters vs q74's 1) — survivor-set closure under the INDEX
    // cells and the q74 parity floor are spec-pinned. Rows-only for
    // q42b's reason: cells depend on the trained quantizer.
    QueryDef("q207_semantic_dedup_indexed", (s, d) => {
      val (_, vName) = graft.IndexCache.ensure(s, d)
      val assigned = s.table(s"${vName}_cells")
        .select("vec_id", "v", "norm", "cell")
      assigned.join(dominatedIn(assigned, 0.35), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cell"))
    }, Some(s"""
      WITH ${IvfIndexSql}
      pairs AS (
        SELECT b.vec_id AS id_b
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.e, b.e) /
          (sqrt(list_dot_product(a.e, a.e))
            * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35)
      SELECT vec_id, cell FROM asg
      WHERE vec_id NOT IN (SELECT id_b FROM pairs)"""),
      // HASH-GATED since r11: q74's oracle shape over the PERSISTED
      // quantizer's cells (IvfIndexSql = the 2-iter training the index
      // stores, where q74 trains 1 iter inline) — the stored cell
      // assignment and the keep-earliest rule both replayed.
      notes = "q74 served from the persisted bucketed IVF cells (SemDeDup at serving: exchange-free within-cell candidate join over the standing index, keep-earliest survivors); fully hash-gated since r11 (oracle unrolls the stored quantizer); parity + closure additionally spec-pinned"),

    // ── Top principal component via power iteration (embedding analysis) ─
    // The q71 pattern applied to PCA: per-doc projection scores onto the
    // dominant eigenvector of the (uncentered) second-moment matrix EᵀE,
    // computed by two unrolled power-iteration steps with DRIVER-HELD
    // 64-double state. Per step the cluster pays one narrow scan (the
    // current direction inlines as a literal — no join) + one 64-row
    // pos-keyed agg shuffle of bounded partials + a 64-double collect.
    // At a billion vectors that is one scan and a KB-sized shuffle per
    // step — the classic distributed power-iteration dataflow.
    //
    // Cross-engine exactness: the ONLY order-sensitive reduction (the
    // per-dimension sum Σᵢ sᵢ·eᵢⱼ) uses q56's micro-unit integer trick —
    // round(x·1e6) AS BIGINT sums are order-independent and both engines
    // round identical doubles identically. Everything else (v₀ = e₀/‖e₀‖,
    // the dot products, the normalizations) is pure IEEE double arithmetic
    // on bit-identical inputs in the SAME fold order (graft_dot ≡
    // list_dot_product, q39-proven), so NO intermediate rounding is needed
    // — only the surfaced score rounds to 6 dp. Init follows the q71
    // dense-id contract (vec_id 0 exists); sign of the component is fixed
    // by the init choice, so scores are deterministic, not just
    // deterministic-up-to-sign. Training-pipeline use: outlier scoring /
    // whitening diagnostics over an embedding corpus.
    QueryDef("q76_power_iteration", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val all = t(s, d, "embeddings")
        .select(col("vec_id"), asDouble("embedding").as("v"))
      def normalize(v: Seq[Double]): Seq[Double] = {
        val n = math.sqrt(dotSeq(v, v)); v.map(_ / n)
      }
      val e0 = all.filter(col("vec_id") === 0)
        .select("v").collect()(0).getSeq[Double](0).toSeq
      var dir = normalize(e0)
      for (_ <- 1 to 2) {
        val sums = all
          .withColumn("__dir", typedLit(dir))
          .withColumn("s", expr("graft_dot(v, __dir)"))
          .select(col("s"), posexplode(col("v")))
          .groupBy("pos")
          .agg(sum(round(col("s") * col("col") * 1e6).cast("long")).as("wsum"))
          .collect().map(r => (r.getInt(0), r.getLong(1)))
          .sortBy(_._1).map(_._2.toDouble / 1e6).toSeq
        dir = normalize(sums)
      }
      all.withColumn("__dir", typedLit(dir))
        .select(col("vec_id"), expr("round(graft_dot(v, __dir), 6)").as("pc1_score"))
    }, Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      v0 AS (
        SELECT list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS vv
        FROM v WHERE vec_id = 0),
      s1 AS (SELECT v.e, list_dot_product(v.e, v0.vv) AS s FROM v CROSS JOIN v0),
      z1 AS (SELECT s, unnest(list_zip(e, range(len(e)))) AS z FROM s1),
      w1 AS (
        SELECT CAST(struct_extract(z, 2) AS BIGINT) AS pos,
          CAST(SUM(CAST(ROUND(s * struct_extract(z, 1) * 1000000) AS BIGINT)) AS DOUBLE)
            / 1000000.0 AS w
        FROM z1 GROUP BY pos),
      w1l AS (SELECT list(w ORDER BY pos) AS wl FROM w1),
      v1 AS (SELECT list_transform(wl, x -> x / sqrt(list_dot_product(wl, wl))) AS vv
             FROM w1l),
      s2 AS (SELECT v.e, list_dot_product(v.e, v1.vv) AS s FROM v CROSS JOIN v1),
      z2 AS (SELECT s, unnest(list_zip(e, range(len(e)))) AS z FROM s2),
      w2 AS (
        SELECT CAST(struct_extract(z, 2) AS BIGINT) AS pos,
          CAST(SUM(CAST(ROUND(s * struct_extract(z, 1) * 1000000) AS BIGINT)) AS DOUBLE)
            / 1000000.0 AS w
        FROM z2 GROUP BY pos),
      w2l AS (SELECT list(w ORDER BY pos) AS wl FROM w2),
      v2 AS (SELECT list_transform(wl, x -> x / sqrt(list_dot_product(wl, wl))) AS vv
             FROM w2l)
      SELECT v.vec_id, round(list_dot_product(v.e, v2.vv), 6) AS pc1_score
      FROM v CROSS JOIN v2"""),
      notes = "top principal component by 2 power-iteration steps (driver-held 64-double state, micro-unit exact per-dim sums); per-doc PC1 projection scores"),

    // ── Hybrid retrieval: reciprocal-rank fusion of BM25 + cosine ──────
    // The composition hybrid search actually runs: the LEXICAL ranking
    // (q86's exact BM25 integer scores via TextQueries.bm25MicroScores —
    // both queries rank the SAME micro-unit sums) fused with a VECTOR
    // ranking (cosine to a fixed query embedding, vec_id 0, over the
    // embeddings table whose ids align with doc_ids in the driver
    // testdata) by RRF: score = Σ 1/(60 + rank), the standard k=60 form.
    // Docs missing from one list contribute nothing from it (full outer
    // join + coalesce) — RRF's defined behavior. Exactness: ranks are
    // integers from totally-tiebroken orderings (exact BIGINT BM25 sums;
    // 6dp-rounded cosines, q39-proven cross-engine); 1/(60+r) on integer
    // r is identical IEEE everywhere, so the fusion is fully hash-gated.
    // Scale: the EXACT full-corpus rankings both arms need are computed by
    // GlobalOrder.withRowNumbers (range partition + local ids + window-free
    // broadcast offsets) — identical ranks to row_number() OVER (ORDER BY)
    // with NO single-partition exchange anywhere (the r06 scale-killer
    // fixed; PlanContractSpec-asserted). q104 is the index-served twin
    // whose arms are bounded top-N probe lists instead of corpus ranks.
    QueryDef("q88_hybrid_rrf", (s, d) => {
      val lex = graft.operators.GlobalOrder.withRowNumbers(
          graft.text.TextQueries.bm25MicroScores(s, d),
          Seq(col("s").desc, col("doc_id").asc), out = "r_lex")
        .select(col("doc_id"), col("r_lex"))
      val v = vecs(s, d)
      val qv = v.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("norm").as("qn"))
      val vec = graft.operators.GlobalOrder.withRowNumbers(
          v.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
            .withColumn("cos_sim", cosine("v", "qv", "norm", "qn")),
          Seq(col("cos_sim").desc, col("vec_id").asc), out = "r_vec")
        .select(col("vec_id").as("doc_id"), col("r_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)))
        .orderBy(col("rrf").desc, col("doc_id").asc).limit(15)
        .select(col("doc_id"), round(col("rrf"), 6).as("rrf"),
          coalesce(col("r_lex"), lit(0L)).as("r_lex"),
          coalesce(col("r_vec"), lit(0L)).as("r_vec"))
    }, Some(s"""
      WITH ${TextQueries.bm25CorpusSql},
      q AS (SELECT unnest(['query', 'dup', 'scan']) AS tok),
      ${TextQueries.bm25TermsSql("", "terms")},
      scored AS (SELECT doc_id, SUM(micro) AS s FROM terms GROUP BY doc_id),
      lex AS (
        SELECT doc_id,
          CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS BIGINT)
            AS r_lex
        FROM scored),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      qv AS (SELECT e FROM v WHERE vec_id = 0),
      cos AS (
        SELECT v.vec_id AS doc_id,
          round(list_dot_product(v.e, qv.e) /
            (sqrt(list_dot_product(v.e, v.e))
              * sqrt(list_dot_product(qv.e, qv.e))), 6) AS cos_sim
        FROM v CROSS JOIN qv WHERE v.vec_id <> 0),
      vec AS (
        SELECT doc_id,
          CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS BIGINT)
            AS r_vec
        FROM cos),
      fused AS (
        SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
          COALESCE(CAST(1 AS DOUBLE) / (60 + lex.r_lex), 0)
            + COALESCE(CAST(1 AS DOUBLE) / (60 + vec.r_vec), 0) AS rrf,
          lex.r_lex, vec.r_vec
        FROM lex FULL OUTER JOIN vec USING (doc_id))
      SELECT doc_id, round(rrf, 6) AS rrf,
        COALESCE(r_lex, 0) AS r_lex, COALESCE(r_vec, 0) AS r_vec
      FROM fused ORDER BY fused.rrf DESC, doc_id ASC LIMIT 15"""),
      notes = "hybrid search: RRF (k=60) fusion of the exact BM25 ranking with a cosine-to-query-vector ranking; full-outer rank join, id+rank pairs only"),

    // ── Hybrid retrieval over the PERSISTED indexes (the serving shape) ─
    // q88 recomposed the way a 100 TB deployment actually runs it: the
    // lexical arm is a PostingsIndex.probe top-100 (term-pruned postings
    // reads — PushedFilters on `tok`, never a corpus scan), the vector arm
    // is a VectorIndex.probe top-100 (broadcast-centroid cell selection +
    // bucketed-cell candidate join — candidates bounded by the nProbe=6
    // probed cells, never all vectors), and RRF fuses the two BOUNDED
    // candidate lists. No corpus-wide rank window exists anywhere: the
    // lex ranks come from GlobalOrder over the ≤100-row probe result, the
    // vec ranks from the probe's query-partitioned window over cell-bounded
    // candidates (PlanContractSpec asserts the no-single-partition shape).
    // Fully hash-gated: the oracle unrolls the SAME k=20 two-step Lloyd
    // training (the q71/q74-proven bit-comparable composition), the same
    // argmax-dot cell assignment, the same nProbe=6 cell probe, and the
    // same bounded-list RRF — approximation and all, both engines compute
    // the identical candidate sets and ranks. Fidelity vs q88: RRF's
    // tail is exactly where IVF recall bites (docs mediocre in BOTH arms),
    // so serving parameters trade overlap for probe cost — measured
    // overlap@15 is 11/15 (sf0.001) / 10/15 (sf0.01) at nProbe=6 and
    // reaches 15/15 ORDERED equality at nProbe=k (every cell probed,
    // the exact limit). HybridIndexedSpec pins both: the measured floor
    // at serving parameters and exact q88 equality in the full-probe
    // limit — proving the composition is faithful and the only
    // divergence is the IVF recall knob.
    // Index lifecycle: IndexCache builds once per (corpus, session) and
    // every later probe reuses the stored layout — Bench pre-builds after
    // warm-up so the timed number is the PROBE path (production steady
    // state), not the one-time build.
    QueryDef("q104_hybrid_indexed",
      (s, d) => hybridIndexed(s, d, nProbe = 6, topN = 100), Some(s"""
      WITH ${TextQueries.bm25CorpusSql},
      q AS (SELECT unnest(['query', 'dup', 'scan']) AS tok),
      ${TextQueries.bm25TermsSql("", "terms")},
      scored AS (SELECT doc_id, SUM(micro) AS s FROM terms GROUP BY doc_id),
      lex AS (
        SELECT doc_id,
          CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS BIGINT)
            AS r_lex
        FROM scored
        QUALIFY row_number() OVER (ORDER BY s DESC, doc_id ASC) <= 100),
${IvfIndexSql}
      qv AS (SELECT e FROM v WHERE vec_id = 0),
      pc AS (
        SELECT c2l.cent_id AS cell FROM c2l CROSS JOIN qv
        QUALIFY row_number() OVER (
          ORDER BY list_dot_product(qv.e, c2l.ce) DESC, c2l.cent_id ASC) <= 6),
      cand AS (
        SELECT asg.vec_id AS doc_id,
          round(list_dot_product(qv.e, asg.e) /
            (sqrt(list_dot_product(qv.e, qv.e))
              * sqrt(list_dot_product(asg.e, asg.e))), 6) AS cos_sim
        FROM asg JOIN pc USING (cell) CROSS JOIN qv
        WHERE asg.vec_id <> 0),
      vecarm AS (
        SELECT doc_id,
          CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS BIGINT)
            AS r_vec
        FROM cand
        QUALIFY row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) <= 100),
      fused AS (
        SELECT COALESCE(lex.doc_id, vecarm.doc_id) AS doc_id,
          COALESCE(CAST(1 AS DOUBLE) / (60 + lex.r_lex), 0)
            + COALESCE(CAST(1 AS DOUBLE) / (60 + vecarm.r_vec), 0) AS rrf,
          lex.r_lex, vecarm.r_vec
        FROM lex FULL OUTER JOIN vecarm USING (doc_id))
      SELECT doc_id, round(rrf, 6) AS rrf,
        COALESCE(r_lex, 0) AS r_lex, COALESCE(r_vec, 0) AS r_vec
      FROM fused ORDER BY fused.rrf DESC, doc_id ASC LIMIT 15"""),
      notes = "hybrid retrieval served from the persisted indexes: PostingsIndex top-100 + VectorIndex (IVF nProbe=6) top-100, RRF over the bounded union; oracle unrolls the identical Lloyd training + cell probe"),

    // ── ANN probe against the pre-built IVF index (the bench shape) ────
    // q42b measures train+assign+probe in one query — correct dataflow but
    // the wrong COST model: at scale training is paid once and amortized
    // over every probe batch. q105 is the same probe (10 queries, nProbe=6,
    // top-5) against the index IndexCache already built, so its bench line
    // is the production serving cost. VectorIndexSpec pins probe == q42b
    // inline exactly; AnnRecallSpec pins recall@5 ≥ 0.85 vs the q40 exact
    // baseline. Rows-only by the same reasoning as q42b (approximate
    // candidate set), with the parity/recall specs as the quality gate.
    QueryDef("q105_ann_indexed", (s, d) => {
      val (_, vName) = graft.IndexCache.ensure(s, d)
      val queries = t(s, d, "embeddings").filter(col("vec_id") < 10)
        .select("vec_id", "embedding")
      VectorIndex.probe(s, vName, queries, nProbe = 6, topK = 5)
    }, Some(ivfProbeOracle),
      // HASH-GATED since r11: probe == inline q42b is VectorIndexSpec's
      // pinned contract, so the SHARED ivfProbeOracle gates the stored
      // layout too — a stale or mis-bucketed index now fails the driver
      // gate, not just the spec.
      notes = "IVF probe against the persisted index (build amortized via IndexCache): the production ANN serving path; fully hash-gated since r11 via the shared q42b oracle (probe == inline, VectorIndexSpec), recall floor additionally spec-gated"),

    // ── kNN label vote (label-noise / label-quality audit) ─────────────
    // (labelVote — the shared vote/verdict stage — sits below the defs;
    // q113 exact and q114 indexed run the IDENTICAL stage over different
    // neighbor sources, so their parity is structural.)
    // The weak-supervision audit every labeled corpus runs: hold out a
    // deterministic slice (vec_id % 50 == 0), predict each held-out
    // vector's label by majority vote of its k=5 nearest TRAIN vectors
    // (cosine), and surface pred-vs-true per query — disagreements rank
    // mislabeled/ambiguous examples for review, and the agg of
    // `is_correct` is the standard leave-slice-out kNN accuracy. Votes
    // tie-break by (count desc, label asc); neighbor ranks tie-break by
    // (cos desc, cand_id asc) — both mirrored in the oracle, so the gate
    // is exact. This is the guarded brute-force EXACTNESS ANCHOR (the
    // q40 contract): the 100 TB path swaps the scored cross join for
    // VectorIndex.probe candidates (q105's shape) and reuses the same
    // vote/tiebreak stages unchanged. Query side broadcasts (|queries| =
    // n/50); votes/argmax windows partition by query_id — bounded by k
    // candidate rows per query, never corpus-wide.
    QueryDef("q113_knn_label_vote", (s, d) =>
      labelVote(knnExactTop(s, d), labelsOf(s, d)), Some("""
      WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label AS cand_label,
          round(list_dot_product(q.e, c.e) /
                (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
            AS cos_sim
        FROM v q JOIN v c ON c.vec_id % 50 <> 0
        WHERE q.vec_id % 50 = 0),
      top AS (
        SELECT query_id, cand_id, cand_label FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, cand_id ASC) <= 5),
      votes AS (
        SELECT query_id, cand_label, CAST(COUNT(*) AS BIGINT) AS n_votes
        FROM top GROUP BY 1, 2),
      pred AS (
        SELECT query_id, cand_label AS pred_label, n_votes FROM votes
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY n_votes DESC, cand_label ASC) = 1)
      SELECT p.query_id, v.label AS true_label, p.pred_label, p.n_votes,
        CAST(CASE WHEN p.pred_label = v.label THEN 1 ELSE 0 END AS BIGINT)
          AS is_correct
      FROM pred p JOIN v ON v.vec_id = p.query_id"""),
      notes = "k=5 cosine kNN majority-vote label audit on a deterministic held-out slice: guarded brute-force anchor (VectorIndex.probe is the scale path); exact tie-broken votes, fully oracle-gated"),

    // ── kNN label vote, SCALE PATH (served from the persisted IVF index) ─
    // q113's scored cross join replaced by VectorIndex.probe — the same
    // anchor→scale-twin pairing as q38→q62 and q40→q105, completing the
    // rule that every guarded brute-force baseline has a driver-gated
    // indexed twin. Probe returns the top-10 so that held-out vectors
    // (which live in the index but are not voters) can be dropped and a
    // full 5 TRAIN votes usually remain; the re-rank keeps the probe's
    // cosine order. The vote/verdict stage is [[labelVote]] — shared with
    // q113, so any divergence is exactly IVF recall, never vote logic
    // (KnnVoteIndexedSpec pins agreement and the perfect-recall subset).
    // HASH-GATED since round 11 (was rows-only "for q42b's reason"): the
    // q104 gate already proved the persisted index's Lloyd training +
    // argmax-dot assignment unrolls bit-comparably in DuckDB, and the
    // shared [[IvfIndexSql]] fragment makes the multi-query probe just
    // one more query-partitioned window on top — so the oracle replays
    // training, assignment, the nProbe=10/top-10 probe, the train-only
    // re-rank to top-5, and the vote, approximation and all. All windows
    // query-partitioned over ≤10 candidate rows.
    QueryDef("q114_knn_vote_indexed", (s, d) =>
      labelVote(knnIndexedTop(s, d), labelsOf(s, d)), Some(s"""
      WITH ${IvfIndexSql}
      lab AS (SELECT vec_id, label FROM embeddings),
      qv AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 50 = 0),
      pc AS (
        SELECT qv.query_id, qv.qe, c2l.cent_id AS cell FROM c2l CROSS JOIN qv
        QUALIFY row_number() OVER (PARTITION BY qv.query_id
          ORDER BY list_dot_product(qv.qe, c2l.ce) DESC, c2l.cent_id ASC) <= 10),
      cand AS (
        SELECT pc.query_id, asg.vec_id AS cand_id,
          round(list_dot_product(pc.qe, asg.e) /
            (sqrt(list_dot_product(pc.qe, pc.qe))
              * sqrt(list_dot_product(asg.e, asg.e))), 6) AS cos_sim
        FROM pc JOIN asg USING (cell)
        WHERE asg.vec_id <> pc.query_id),
      top10 AS (
        SELECT query_id, cand_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, cand_id ASC) AS rnk
        FROM cand
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, cand_id ASC) <= 10),
      top5 AS (
        SELECT query_id, cand_id FROM top10
        WHERE cand_id % 50 <> 0
        QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rnk ASC) <= 5),
      votes AS (
        SELECT t.query_id, lab.label AS cand_label,
          CAST(count(*) AS BIGINT) AS n_votes
        FROM top5 t JOIN lab ON lab.vec_id = t.cand_id
        GROUP BY 1, 2),
      pred AS (
        SELECT query_id, cand_label AS pred_label, n_votes FROM votes
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY n_votes DESC, cand_label ASC) = 1)
      SELECT p.query_id, lab.label AS true_label, p.pred_label, p.n_votes,
        CAST(CASE WHEN p.pred_label = lab.label THEN 1 ELSE 0 END AS BIGINT)
          AS is_correct
      FROM pred p JOIN lab ON lab.vec_id = p.query_id"""),
      notes = "q113 served from the persisted IVF index (probe top-10 -> train-only top-5 -> shared vote stage): the label-audit scale path; fully hash-gated since r11 — the oracle unrolls the q104-proven Lloyd training + multi-query probe; neighbor recall + verdict parity additionally spec-pinned"),

    // ── MMR diversified re-rank (retrieval post-processing) ────────────
    // Maximal marginal relevance over each query's top-8 cosine
    // candidates: greedily pick 3, each step maximizing
    // 0.7·rel − 0.3·max-sim-to-already-picked — the standard diversity
    // re-rank between retrieval and consumption. Distribution of work
    // follows the operator's real shape at 100 TB: candidate GENERATION
    // is the distributed part (here the guarded q40 baseline; in
    // production VectorIndex.probe, identical interface), and the
    // per-query greedy — embarrassingly parallel across queries — runs
    // in a flatMapGroups keyed by query_id over the bounded top-8
    // lists (≤8 rel + ≤28 sim rows per group), so driver memory is
    // O(1) regardless of query load (the r08 form collected every
    // (query, cand, sim) row and looped on the driver — fine at
    // fixture scale, a driver bottleneck at production query counts).
    // Exactness: rel and pairwise sims are
    // the 6dp-rounded cosines q40 already hash-matches; each greedy
    // score combines them with identical IEEE ops on both engines, ties
    // break on cand_id, so the oracle's 3 unrolled greedy steps land on
    // the same picks and the whole re-rank is hash-gated.
    QueryDef("q124_mmr_rerank", (s, d) => {
      guardBruteForce(s, d, "q124_mmr_rerank")
      val q = vecs(s, d).filter(col("vec_id") < 5).toDF("query_id", "qv", "qn")
      val c = vecs(s, d).toDF("cand_id", "cv", "cn")
      val wq = Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("cand_id").asc)
      val cands = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
        .withColumn("rel", cosine("qv", "cv", "qn", "cn"))
        .withColumn("rk", row_number().over(wq))
        .filter(col("rk") <= 8)
        .select("query_id", "cand_id", "rel", "cv", "cn")
      val a = cands.select(col("query_id"), col("cand_id").as("ca"),
        col("cv").as("av"), col("cn").as("an"))
      val b = cands.select(col("query_id").as("qb"), col("cand_id").as("cb"),
        col("cv").as("bv"), col("cn").as("bn"))
      // exact integer scoring: 6dp cosines become micro-unit longs, the
      // greedy score 0.7·rel − 0.3·sim becomes 7·relµ − 3·simµ in 1e-7
      // units — pure BIGINT on both engines, so no rounding knife-edge
      // can ever flip a pick or drift the output hash (a double-rounding
      // .5 boundary DID bite at sf0.01 before this). Both the rel rows
      // (kind = −1 marker) and the sim rows union into ONE query-keyed
      // frame so the greedy sees its whole bounded group in one pass.
      import s.implicits._
      val simT = a.join(b,
          col("query_id") === col("qb") && col("ca") < col("cb"))
        .withColumn("sim", cosine("av", "bv", "an", "bn"))
        .select(col("query_id"), col("ca"), col("cb"),
          round(col("sim") * lit(1e6)).cast("long").as("m"))
        .as[(Long, Long, Long, Long)]
      val relT = cands
        .select(col("query_id"), col("cand_id"), lit(-1L).as("kind"),
          round(col("rel") * lit(1e6)).cast("long").as("m"))
        .as[(Long, Long, Long, Long)]
      val picks = relT.union(simT).groupByKey(_._1).flatMapGroups {
        (qid: Long, it: Iterator[(Long, Long, Long, Long)]) =>
          val rows = it.toIndexedSeq
          val rel = rows.collect { case (_, cid, -1L, m) => cid -> m }.toMap
          val simMap = rows.collect { case (_, x, y, m) if y != -1L =>
            (x, y) -> m
          }.toMap
          def sim(x: Long, y: Long): Long =
            simMap((math.min(x, y), math.max(x, y)))
          var remaining = rel.keySet.toList.sorted
          var selected = List.empty[Long]
          (1 to 3).iterator.map { step =>
            val best = remaining.map { cid =>
              val score =
                if (selected.isEmpty) 7L * rel(cid)
                else 7L * rel(cid) - 3L * selected.map(sim(cid, _)).max
              (cid, score)
            }.minBy { case (cid, sc) => (-sc, cid) }
            selected = selected :+ best._1
            remaining = remaining.filterNot(_ == best._1)
            (qid, step.toLong, best._1, best._2)
          }
      }
      picks.toDF("query_id", "pick_rank", "cand_id", "raw")
        .select(col("query_id"), col("pick_rank"), col("cand_id"),
          (col("raw").cast("double") / lit(1e7)).as("mmr_score"))
    }, Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          round(list_dot_product(q.e, c.e) /
                (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
            AS rel
        FROM v q JOIN v c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 5),
      cands AS (
        SELECT query_id, cand_id,
          CAST(round(rel * 1000000) AS BIGINT) AS relm, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, cand_id ASC) AS rk
        FROM scored QUALIFY rk <= 8),
      sims AS (
        SELECT x.query_id, x.cand_id AS ca, y.cand_id AS cb,
          CAST(round(round(list_dot_product(vx.e, vy.e) /
                (sqrt(list_dot_product(vx.e, vx.e)) * sqrt(list_dot_product(vy.e, vy.e))), 6)
            * 1000000) AS BIGINT) AS simm
        FROM cands x
        JOIN cands y ON x.query_id = y.query_id AND x.cand_id < y.cand_id
        JOIN v vx ON vx.vec_id = x.cand_id
        JOIN v vy ON vy.vec_id = y.cand_id),
      p1 AS (SELECT query_id, cand_id, 7 * relm AS score FROM cands WHERE rk = 1),
      s2 AS (
        SELECT c.query_id, c.cand_id, 7 * c.relm - 3 * s.simm AS score
        FROM cands c
        JOIN p1 p ON p.query_id = c.query_id AND c.cand_id <> p.cand_id
        JOIN sims s ON s.query_id = c.query_id
          AND s.ca = LEAST(c.cand_id, p.cand_id)
          AND s.cb = GREATEST(c.cand_id, p.cand_id)),
      p2 AS (SELECT query_id, cand_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, cand_id ASC) AS rk2 FROM s2) WHERE rk2 = 1),
      s3 AS (
        SELECT c.query_id, c.cand_id, 7 * c.relm - 3 * MAX(s.simm) AS score
        FROM cands c
        JOIN p1 ON p1.query_id = c.query_id AND c.cand_id <> p1.cand_id
        JOIN p2 ON p2.query_id = c.query_id AND c.cand_id <> p2.cand_id
        JOIN sims s ON s.query_id = c.query_id AND (
          (s.ca = LEAST(c.cand_id, p1.cand_id) AND
           s.cb = GREATEST(c.cand_id, p1.cand_id)) OR
          (s.ca = LEAST(c.cand_id, p2.cand_id) AND
           s.cb = GREATEST(c.cand_id, p2.cand_id)))
        GROUP BY c.query_id, c.cand_id, c.relm),
      p3 AS (SELECT query_id, cand_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, cand_id ASC) AS rk3 FROM s3) WHERE rk3 = 1)
      SELECT query_id, CAST(1 AS BIGINT) AS pick_rank, cand_id,
        CAST(score AS DOUBLE) / 10000000.0 AS mmr_score FROM p1
      UNION ALL SELECT query_id, CAST(2 AS BIGINT), cand_id,
        CAST(score AS DOUBLE) / 10000000.0 FROM p2
      UNION ALL SELECT query_id, CAST(3 AS BIGINT), cand_id,
        CAST(score AS DOUBLE) / 10000000.0 FROM p3"""),
      notes = "MMR diversity re-rank (lambda=0.7, top-8 candidates, 3 picks): distributed candidate generation + bounded per-query greedy in exact micro-unit integers (7*relu - 3*simu, 1e-7 units) — no float knife-edges, fully hash-gated"),

    // ── k-center greedy coreset (Gonzalez farthest-first selection) ────
    // Diverse representative-subset selection — the labeling-budget /
    // eval-set primitive (pick k points so every vector is near some
    // pick): greedy farthest-first, the classic 2-approximation to the
    // k-center objective. Seed = lowest vec_id (deterministic), then 3
    // rounds of "farthest from everything chosen so far". Distances are
    // squared-euclidean over 1e-6-quantized INTEGER vectors (the q56
    // micro-unit idiom) so every compare and min is exact BIGINT — the
    // ITERATED selection chain is hash-gated with zero float knife-edges
    // (the oracle unrolls the same 4 steps over list_zip integer folds).
    // Scale shape per round: ONE narrow projection against the
    // driver-held center literal (no join — the q71 literal-centroid
    // posture, state = k×64 longs) + a 1-row TakeOrdered collect; the
    // running min-distance column accumulates via least(), so round r
    // costs one scan regardless of how many centers are already chosen.
    // At a billion vectors: k scans, each embarrassingly parallel.
    QueryDef("q136_kcenter_coreset", (s, d) => {
      import s.implicits._
      val em = t(s, d, "embeddings").select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint))")
        .as("e"))
      def vecOf(id: Long): Array[Long] =
        em.filter(col("vec_id") === id).select("e")
          .collect()(0).getSeq[Long](0).toArray
      def distExpr(center: Array[Long]): String = {
        val arr = center.mkString("array(", "L, ", "L)")
        s"aggregate(zip_with(e, $arr, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
      }
      val seedId = em.agg(min("vec_id")).collect()(0).getLong(0)
      var picked = Vector((1L, seedId, 0L))
      var cur = em.withColumn("md", expr(distExpr(vecOf(seedId))))
      for (step <- 2 to 4) {
        val top = cur.orderBy(col("md").desc, col("vec_id").asc)
          .limit(1).collect()(0)
        val cid = top.getAs[Long]("vec_id")
        picked = picked :+ ((step.toLong, cid, top.getAs[Long]("md")))
        if (step < 4)
          cur = cur.withColumn("md",
            least(col("md"), expr(distExpr(vecOf(cid)))))
      }
      picked.toDF("step", "center_id", "sel_dist")
    }, Some("""
      WITH em AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
        FROM embeddings),
      c1 AS (SELECT MIN(vec_id) AS id FROM em),
      e1 AS (SELECT em.e FROM em, c1 WHERE em.vec_id = c1.id),
      d1 AS (
        SELECT em.vec_id, CAST(list_sum(list_transform(list_zip(em.e, e1.e),
          z -> (struct_extract(z, 1) - struct_extract(z, 2))
             * (struct_extract(z, 1) - struct_extract(z, 2)))) AS BIGINT) AS md
        FROM em, e1),
      c2 AS (SELECT vec_id AS id, md FROM d1
             ORDER BY md DESC, vec_id ASC LIMIT 1),
      e2 AS (SELECT em.e FROM em, c2 WHERE em.vec_id = c2.id),
      d2 AS (
        SELECT d1.vec_id, least(d1.md,
          CAST(list_sum(list_transform(list_zip(em.e, e2.e),
            z -> (struct_extract(z, 1) - struct_extract(z, 2))
               * (struct_extract(z, 1) - struct_extract(z, 2)))) AS BIGINT)) AS md
        FROM d1 JOIN em USING (vec_id), e2),
      c3 AS (SELECT vec_id AS id, md FROM d2
             ORDER BY md DESC, vec_id ASC LIMIT 1),
      e3 AS (SELECT em.e FROM em, c3 WHERE em.vec_id = c3.id),
      d3 AS (
        SELECT d2.vec_id, least(d2.md,
          CAST(list_sum(list_transform(list_zip(em.e, e3.e),
            z -> (struct_extract(z, 1) - struct_extract(z, 2))
               * (struct_extract(z, 1) - struct_extract(z, 2)))) AS BIGINT)) AS md
        FROM d2 JOIN em USING (vec_id), e3),
      c4 AS (SELECT vec_id AS id, md FROM d3
             ORDER BY md DESC, vec_id ASC LIMIT 1)
      SELECT CAST(1 AS BIGINT) AS step, c1.id AS center_id,
        CAST(0 AS BIGINT) AS sel_dist FROM c1
      UNION ALL SELECT CAST(2 AS BIGINT), id, CAST(md AS BIGINT) FROM c2
      UNION ALL SELECT CAST(3 AS BIGINT), id, CAST(md AS BIGINT) FROM c3
      UNION ALL SELECT CAST(4 AS BIGINT), id, CAST(md AS BIGINT) FROM c4"""),
      notes = "k-center greedy coreset (Gonzalez farthest-first, k=4): diverse representative selection in exact micro-unit integer distances — iterated selection fully hash-gated; one narrow literal-center scan + 1-row collect per round, running least() min"),

    // ── ANN hard-negative mining (contrastive training pairs) ──────────
    // q83 draws RANDOM cross-source negatives — cheap, but embedding
    // training plateaus on easy negatives; the standard fix mines HARD
    // negatives: for each anchor, the most-similar vectors carrying a
    // DIFFERENT label (similar enough to confuse the model, labeled
    // differently so the loss pushes them apart). Anchors are the
    // deterministic q113 held-out slice (vec_id % 50 = 0); per anchor,
    // top-3 candidates by cosine desc among label <> anchor's, cand_id
    // tiebreak. This is the guarded brute-force CORRECTNESS anchor —
    // the scale path is [[VectorIndex.probe]] + the same label filter
    // (q114's exact composition: probe wider, drop same-label, keep 3),
    // so at 100 TB mining touches nProbe cells per anchor, never the
    // corpus. The per-query rank window partitions by query_id over the
    // candidate set — bounded by the guard here, by probe topK at scale.
    QueryDef("q162_hard_negatives", (s, d) => {
      guardBruteForce(s, d, "q162_hard_negatives")
      val lab = labelsOf(s, d)
      val q = vecs(s, d).join(lab, "vec_id")
        .filter(col("vec_id") % 50 === 0)
        .toDF("query_id", "qv", "qn", "q_label")
      val c = vecs(s, d).join(lab, "vec_id")
        .filter(col("vec_id") % 50 =!= 0)
        .toDF("cand_id", "cv", "cn", "cand_label")
      val wr = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("cand_id").asc)
      broadcast(q).join(c, col("q_label") =!= col("cand_label"))
        .withColumn("cos_sim", cosine("qv", "cv", "qn", "cn"))
        .withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= 3)
        .select("query_id", "q_label", "rank", "cand_id", "cand_label",
          "cos_sim")
    }, Some("""
      WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
          c.vec_id AS cand_id, c.label AS cand_label,
          round(list_dot_product(q.e, c.e) /
                (sqrt(list_dot_product(q.e, q.e)) *
                 sqrt(list_dot_product(c.e, c.e))), 6) AS cos_sim
        FROM v q JOIN v c
          ON c.vec_id % 50 <> 0 AND q.label <> c.label
        WHERE q.vec_id % 50 = 0)
      SELECT query_id, q_label,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank,
        cand_id, cand_label, cos_sim
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id
        ORDER BY cos_sim DESC, cand_id ASC) <= 3"""),
      notes = "ANN hard-negative mining for contrastive training (q83's upgrade from random negatives): per held-out anchor, top-3 most-cosine-similar candidates with a DIFFERENT label, exact tie-broken ranks; guarded brute-force anchor — VectorIndex.probe + label filter is the scale path"),

    // ── Hard-negative mining, SCALE PATH (persisted IVF index) ─────────
    // q162 served from the index — the same anchor→scale-twin pairing as
    // q113→q114 and q40→q105, keeping the rule that every guarded
    // brute-force baseline has a driver-gated indexed twin. Probe wide
    // (nProbe=10, topK=10 — q114's argument: the cross-label top-3 is a
    // strictly harder target than top-3-overall, so extra probed cells
    // buy the recall the mined pairs ride on), drop held-out vectors,
    // then the SAME label filter + top-3 re-rank as q162 — so any
    // divergence from q162 is exactly IVF recall, never mining logic
    // (HardNegativesIndexedSpec pins the overlap floor and the
    // perfect-recall subset). Rows-only for q42b's reason: probed cells
    // depend on the trained quantizer. Windows partition by query over
    // ≤10 candidate rows.
    QueryDef("q168_hard_negatives_indexed", (s, d) => {
      val (_, vName) = graft.IndexCache.ensure(s, d)
      val queries = t(s, d, "embeddings").filter(col("vec_id") % 50 === 0)
        .select("vec_id", "embedding")
      val lab = labelsOf(s, d)
      val probed = VectorIndex.probe(s, vName, queries, nProbe = 10, topK = 10)
        .filter(col("cand_id") % 50 =!= 0)
      val wr = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("cand_id").asc)
      probed
        .join(lab.toDF("query_id", "q_label"), "query_id")
        .join(lab.toDF("cand_id", "cand_label"), "cand_id")
        .filter(col("q_label") =!= col("cand_label"))
        .withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= 3)
        .select("query_id", "q_label", "rank", "cand_id", "cand_label",
          "cos_sim")
    }, Some(s"""
      WITH ${IvfIndexSql}
      lab AS (SELECT vec_id, label FROM embeddings),
      qv AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 50 = 0),
${probeCellsSql("qv", "pc", 10)}
${probeCandSql("pc", "cand")}
      top10 AS (
        SELECT query_id, cand_id, cos_sim FROM cand
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, cand_id ASC) <= 10),
      filt AS (
        SELECT t.query_id, ql.label AS q_label, t.cand_id,
          cl.label AS cand_label, t.cos_sim
        FROM top10 t
        JOIN lab ql ON ql.vec_id = t.query_id
        JOIN lab cl ON cl.vec_id = t.cand_id
        WHERE t.cand_id % 50 <> 0 AND ql.label <> cl.label)
      SELECT query_id, q_label,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank,
        cand_id, cand_label, cos_sim
      FROM filt
      QUALIFY row_number() OVER (PARTITION BY query_id
        ORDER BY cos_sim DESC, cand_id ASC) <= 3"""),
      // HASH-GATED since r11 via the shared IvfIndexSql unroll: probe
      // top-10 -> drop held-out -> label filter -> top-3 re-rank, every
      // stage replayed (the q114 promotion applied to mining).
      notes = "q162 served from the persisted IVF index (probe top-10 -> drop held-out -> label filter -> top-3 re-rank, stages shared with q162): the hard-negative mining scale path; fully hash-gated since r11 (oracle unrolls training + probe); overlap floor additionally spec-pinned"),

    // ── Semantic (embedding-space) decontamination ─────────────────────
    // q64/q203/q209 decontaminate on LITERAL n-gram overlap, which a
    // paraphrased or translated eval item defeats entirely — the known
    // blind spot of GPT-3-style decontamination. This is the
    // embedding-space member: every train vector is scored by its
    // MAXIMUM cosine against the eval set (the q203 md5 selector on
    // vec_id, ~4%), and dropped past a similarity ceiling. Shape: the
    // eval side is bounded BY CONTRACT (it is the eval set — the same
    // asymmetry q203 exploits), so it broadcasts and the scan is
    // LINEAR in train (a broadcast nested-loop over n_eval candidates
    // per train row — n_train × n_eval work with n_eval a constant,
    // NOT all-pairs; the require below makes a misuse on an unbounded
    // "eval" side loud, and the million-item-eval upgrade is the q207
    // IVF-probe path with this query as its exact-semantics anchor).
    // Exactness: cosine is the q39-proven bit-portable surface
    // (graft_dot / list_dot_product, 6-dp round); the per-train argmax
    // is a train-keyed window (partition size = n_eval, bounded) with
    // the total (cos_sim desc, eval_id asc) tiebreak on both engines.
    QueryDef("q211_semantic_decontaminate", (s, d) => {
      val isEval = DedupQueries.isEval(col("vec_id"))
      val all = vecs(s, d)
      val ev = all.filter(isEval).toDF("eval_id", "ev", "en")
      val nEval = ev.count()
      require(nEval <= 50000,
        s"q211 scores every train vector against ALL $nEval eval vectors " +
          "(linear in train only while the eval side is bounded); an eval " +
          "set this large should go through the IVF probe path " +
          "(VectorIndex.probe, the q207 shape) instead")
      val train = all.filter(!isEval).toDF("train_id", "tv", "tn")
      val w = Window.partitionBy("train_id")
        .orderBy(col("cos_sim").desc, col("eval_id").asc)
      train.crossJoin(broadcast(ev))
        .withColumn("cos_sim", cosine("tv", "ev", "tn", "en"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("train_id"), col("eval_id").as("nearest_eval"),
          col("cos_sim").as("max_sim"),
          (col("cos_sim") >= 0.35).cast("long").as("dropped"))
    }, Some(s"""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
          ${DedupQueries.isEvalSql("vec_id")} AS is_eval
        FROM embeddings),
      scored AS (
        SELECT t.vec_id AS train_id, q.vec_id AS eval_id,
          round(list_dot_product(t.e, q.e) /
                (sqrt(list_dot_product(t.e, t.e)) *
                 sqrt(list_dot_product(q.e, q.e))), 6) AS cos_sim
        FROM v t JOIN v q ON (NOT t.is_eval) AND q.is_eval)
      SELECT train_id, eval_id AS nearest_eval, cos_sim AS max_sim,
        CAST(cos_sim >= 0.35 AS BIGINT) AS dropped
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY train_id
        ORDER BY cos_sim DESC, eval_id ASC) = 1"""),
      notes = "embedding-space decontamination (the paraphrase-robust member q64/q203/q209's n-grams can't see): max cosine of every train vector vs the bounded eval set, dropped past 0.35; broadcast eval side -> linear in train, q39-portable 6-dp cosine, train-keyed bounded window argmax; the IVF probe path (q207 shape) is the large-eval upgrade with this as its exact anchor"),

    // ── Semantic decontamination, SCALE PATH (persisted IVF index) ─────
    // q211's require caps its broadcast-eval shape at 50k eval vectors; a
    // real decontamination sweep screens against EVERY benchmark suite at
    // once — millions of eval items, far past any broadcast. This is the
    // served form: the eval side becomes an IVF INDEX and each train
    // vector probes its nProbe nearest cells, so per-train work is
    // O(|probed cells|), not O(n_eval). No new index is built — the
    // standing corpus index's bucketed cells table FILTERED to the eval
    // slice is itself a valid IVF index of the eval set under the same
    // frozen quantizer (probeAgainst's contract), and the filter rides
    // the bucketed scan without disturbing its exchange-free co-location.
    // Verdict semantics vs the q211 anchor are ONE-SIDED by construction:
    // every similarity the probe surfaces is a real cosine, so the
    // indexed max is a lower bound of the true max — an indexed drop is
    // always a true drop (no train doc is ever falsely discarded);
    // recall of the drop set is the quantizer-dependent part, floor-
    // pinned in the spec (the AnnRecallSpec posture). Trains whose
    // probed cells hold no eval vector surface with NULL nearest/sim and
    // dropped=0 — the left join keeps the verdict relation TOTAL over
    // the train side (a decontamination pass must pass judgment on
    // every doc, not just the ones with candidates). Rows-only for
    // q42b's reason: the surfaced neighbors depend on the trained
    // quantizer.
    QueryDef("q213_semantic_decontaminate_indexed", (s, d) => {
      val (_, vName) = graft.IndexCache.ensure(s, d)
      val isEval = DedupQueries.isEval(col("vec_id"))
      val cents = s.table(s"${vName}_centroids")
      val cells = s.table(s"${vName}_cells")
      val emb = t(s, d, "embeddings")
      // Forward: each train vector probes the eval slice, keeps its top
      // candidate. Reverse: each EVAL vector probes the TRAIN slice with
      // a THRESHOLD (range search, no top-k truncation — a contaminated
      // cluster of 500 train near-copies of one eval item must surface
      // all 500). Decontamination's costly error is a MISSED drop; under
      // the union a miss needs BOTH directions to mis-cell the pair,
      // which is what lifts measured drop recall to 1.00/0.91/0.93
      // across the three fixture SFs where the one-direction probe read
      // 0.76-0.87 (spec floor 0.85). The fixture deliberately stresses
      // the WORST regime for any locality method: its embeddings are
      // near-random, so tau=0.35 sits in the similarity BULK (q90-q95),
      // not the near-dup tail — production decontamination thresholds
      // live in the tail, where the quantizer's AnnRecallSpec regime
      // (0.90-0.94 top-k) applies per direction BEFORE the union.
      // Reverse cost scales with the EVAL side (the small side) times
      // probed train buckets — the corpus still never moves.
      val fwd = graft.similarity.VectorIndex.probeAgainst(
        cents, cells.filter(isEval), emb.filter(!isEval), nProbe = 8,
        topK = 1)
        .select(col("query_id").as("train_id"),
          col("cand_id").as("eval_id"), col("cos_sim"))
      val rev = graft.similarity.VectorIndex.probeThreshold(
        cents, cells.filter(!isEval), emb.filter(isEval), tau = 0.35,
        nProbe = 8)
        .select(col("cand_id").as("train_id"),
          col("query_id").as("eval_id"), col("cos_sim"))
      val w = Window.partitionBy("train_id")
        .orderBy(col("cos_sim").desc, col("eval_id").asc)
      val best = fwd.union(rev)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      emb.filter(!isEval).select(col("vec_id").as("train_id"))
        .join(best, Seq("train_id"), "left_outer")
        .select(col("train_id"), col("eval_id").as("nearest_eval"),
          col("cos_sim").as("max_sim"),
          coalesce((col("cos_sim") >= 0.35).cast("long"), lit(0L))
            .as("dropped"))
    }, Some(s"""
      WITH ${IvfIndexSql}
      ev AS (SELECT vec_id FROM v
             WHERE ${DedupQueries.isEvalSql("vec_id")}),
      tq AS (SELECT vec_id AS query_id, e AS qe FROM v
             WHERE vec_id NOT IN (SELECT vec_id FROM ev)),
${probeCellsSql("tq", "tpc", 8)}
${probeCandSql("tpc", "tcand",
        " AND asg.vec_id IN (SELECT vec_id FROM ev)")}
      fwd AS (
        SELECT query_id AS train_id, cand_id AS eval_id, cos_sim
        FROM tcand
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, cand_id ASC) <= 1),
      eq AS (SELECT vec_id AS query_id, e AS qe FROM v
             WHERE vec_id IN (SELECT vec_id FROM ev)),
${probeCellsSql("eq", "epc", 8)}
${probeCandSql("epc", "ecand",
        " AND asg.vec_id NOT IN (SELECT vec_id FROM ev)")}
      rev AS (
        SELECT cand_id AS train_id, query_id AS eval_id, cos_sim
        FROM ecand WHERE cos_sim >= 0.35),
      best AS (
        SELECT train_id, eval_id, cos_sim
        FROM (SELECT * FROM fwd UNION ALL SELECT * FROM rev)
        QUALIFY row_number() OVER (PARTITION BY train_id
          ORDER BY cos_sim DESC, eval_id ASC) = 1)
      SELECT t.query_id AS train_id, b.eval_id AS nearest_eval,
        b.cos_sim AS max_sim,
        COALESCE(CAST(b.cos_sim >= 0.35 AS BIGINT), 0) AS dropped
      FROM tq t LEFT JOIN best b ON b.train_id = t.query_id"""),
      // HASH-GATED: both probe directions (train->eval top-1,
      // eval->train threshold range search) replayed over the unrolled
      // stored quantizer — the q114 promotion applied to the
      // decontamination serving path.
      notes = "q211 served from the persisted IVF index for unbounded eval sets (the standing cells table filtered per slice IS a slice index under the frozen quantizer): BIDIRECTIONAL probe — train->eval top-1 unioned with eval->train threshold range search (a miss needs both directions to mis-cell the pair; hot eval items surface ALL tau-near train docs, no top-k truncation); indexed drops are ALWAYS true drops (surfaced sims are real cosines — no false discards), drop recall 1.00/0.91/0.93 measured at the 3 SFs, floor-pinned 0.85 (fixture tau sits in the sim bulk — the adversarial regime); verdict total via left join; fully hash-gated since r11 (oracle unrolls training + both probe directions); recall floors additionally spec-pinned"),

    // ── Margin-based bitext / pair mining (Artetxe-Schwenk) ────────────
    // Parallel-pair mining for translation / paraphrase / retrieval
    // training data: raw cosine is a poor mining criterion because hub
    // vectors are near-everything (any threshold either floods with hub
    // pairs or starves sparse regions). The margin criterion divides each
    // pair's cosine by the mean of the two endpoints' top-K neighborhood
    // cosines — a hub's inflated denominator cancels its inflated
    // similarities, so accepted pairs are those UNUSUALLY close relative
    // to their own neighborhoods (ratio-margin form of Artetxe & Schwenk
    // 2019, the LASER/CCMatrix mining rule). Pools are the catalog's
    // established deterministic split: probes X = vec_id%50==0 (the
    // q113/q40 bounded slice, broadcast), candidates Y = the rest.
    // Cost is |X|·|Y| with X bounded — but the %50 slice grows with the
    // corpus, so the guardBruteForce require keeps this the loud
    // CORRECTNESS ANCHOR (q39/q40 posture); q215 is the unbounded path
    // (both directions served from the standing IVF index). Determinism:
    // 6-dp
    // portable cosines; neighborhood sums accumulate as DECIMAL(18,6)
    // (exact, order-free) and the denominator/margin are computed with
    // the identical DOUBLE op sequence on both engines; all top-K and
    // argmax windows carry full tiebreaks. BOTH neighborhood means
    // divide by their actual surfaced count (fa_cnt / fb_cnt, each
    // min(K, pool size) — pools can be < K at tiny SFs): a bare /K
    // would deflate the denominator for a sparse neighborhood and
    // inflate every margin, and would be inconsistent with q215's
    // fa_cnt (the r9 cut divided fa by the constant K; advisor-flagged).
    QueryDef("q214_bitext_margin", (s, d) => {
      val K = 4
      // the %50 probe slice grows WITH the corpus, so |X|·|Y| is quadratic
      // in n past fixture scale — same loud guard as the q39/q40 baselines;
      // q215 (IVF-served) is the unbounded path.
      guardBruteForce(s, d, "q214_bitext_margin")
      val x = vecs(s, d).filter(col("vec_id") % 50 === 0)
        .toDF("query_id", "qv", "qn")
      val y = vecs(s, d).filter(col("vec_id") % 50 =!= 0)
        .toDF("cand_id", "cv", "cn")
      // pinned: scored feeds fa, fb AND the final margin join — unpinned,
      // the |X|·|Y| cosine pass (and both corpus scans under it) re-runs
      // 3× (surfaced by the ExplainAudit multi-scan check: embeddings
      // scanned x6). The guard bounds |X|·|Y|, so the pin is small.
      val scored = broadcast(x).join(y, lit(true))
        .withColumn("cos_sim", cosine("qv", "cv", "qn", "cn"))
        .select("query_id", "cand_id", "cos_sim")
        .localCheckpoint(true)
      val wf = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("cand_id").asc)
      val fa = scored.withColumn("rn", row_number().over(wf))
        .filter(col("rn") <= K).groupBy("query_id")
        .agg(sum(col("cos_sim").cast("decimal(18,6)")).as("fa_num"),
          count(lit(1)).as("fa_cnt"))
      val wb = Window.partitionBy("cand_id")
        .orderBy(col("cos_sim").desc, col("query_id").asc)
      val fb = scored.withColumn("rn", row_number().over(wb))
        .filter(col("rn") <= K).groupBy("cand_id")
        .agg(sum(col("cos_sim").cast("decimal(18,6)")).as("fb_num"),
          count(lit(1)).as("fb_cnt"))
      val denom = (col("fa_num").cast("double") / col("fa_cnt").cast("double")
        + col("fb_num").cast("double") / col("fb_cnt").cast("double")) / lit(2.0)
      val wm = Window.partitionBy("query_id")
        .orderBy(col("margin").desc_nulls_last, col("cand_id").asc)
      scored.join(fa, Seq("query_id")).join(fb, Seq("cand_id"))
        .withColumn("margin",
          when(denom > 0, round(col("cos_sim") / denom, 6)))
        .withColumn("rn", row_number().over(wm))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id").as("match_id"),
          col("cos_sim"), col("margin"),
          coalesce((col("margin") >= 1.05).cast("long"), lit(0L))
            .as("accepted"))
    }, Some("""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          CASE WHEN q.nrm * c.nrm > 0
            THEN round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6)
          END AS cos_sim
        FROM v q JOIN v c ON q.vec_id % 50 = 0 AND c.vec_id % 50 <> 0),
      fa AS (
        SELECT query_id, SUM(CAST(cos_sim AS DECIMAL(18,6))) AS fa_num,
          CAST(COUNT(*) AS BIGINT) AS fa_cnt
        FROM (SELECT * FROM scored
              QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, cand_id ASC) <= 4)
        GROUP BY 1),
      fb AS (
        SELECT cand_id, SUM(CAST(cos_sim AS DECIMAL(18,6))) AS fb_num,
          CAST(COUNT(*) AS BIGINT) AS fb_cnt
        FROM (SELECT * FROM scored
              QUALIFY row_number() OVER (PARTITION BY cand_id
                ORDER BY cos_sim DESC, query_id ASC) <= 4)
        GROUP BY 1),
      m AS (
        SELECT s.query_id, s.cand_id, s.cos_sim,
          CASE WHEN (CAST(fa.fa_num AS DOUBLE) / CAST(fa.fa_cnt AS DOUBLE)
                     + CAST(fb.fb_num AS DOUBLE) / CAST(fb.fb_cnt AS DOUBLE))
                    / 2.0 > 0
            THEN round(s.cos_sim /
              ((CAST(fa.fa_num AS DOUBLE) / CAST(fa.fa_cnt AS DOUBLE)
                + CAST(fb.fb_num AS DOUBLE) / CAST(fb.fb_cnt AS DOUBLE))
               / 2.0), 6)
          END AS margin
        FROM scored s
        JOIN fa ON fa.query_id = s.query_id
        JOIN fb ON fb.cand_id = s.cand_id)
      SELECT query_id, cand_id AS match_id, cos_sim, margin,
        COALESCE(CAST(margin >= 1.05 AS BIGINT), 0) AS accepted
      FROM m
      QUALIFY row_number() OVER (PARTITION BY query_id
        ORDER BY margin DESC NULLS LAST, cand_id ASC) = 1"""),
      notes = "margin-based bitext/pair mining (ratio form of Artetxe-Schwenk, the LASER/CCMatrix rule): each probe's best candidate scored by cosine over the mean of both endpoints' top-4 neighborhood cosines — hubness cancels via the denominator; broadcast probe slice under the q39/q40 brute-force guard (q215 is the IVF-served unbounded path); DECIMAL(18,6) neighborhood sums + identical DOUBLE op sequence keep the margin bit-portable; accepted = margin >= 1.05"),

    // ── Bitext margin mining, SCALE PATH (persisted IVF index) ─────────
    // q214's broadcast probe slice is LINEAR in the corpus only while
    // the probe side stays bounded; real mining runs (CCMatrix: monolingual
    // web corpora on BOTH sides) have millions of probes. This is the
    // served form, the q211→q213 upgrade applied to the margin rule:
    // both neighborhood estimates come from the standing corpus index's
    // bucketed cells table FILTERED per slice (probeAgainst's frozen-
    // quantizer contract, zero new index builds).
    //  - forward: each probe surfaces its top-K candidate-slice
    //    neighborhood from its nProbe nearest cells — fa and the
    //    candidate argmax in one probe;
    //  - reverse: ONLY the surfaced candidates (≤ K·|probes| ids, the
    //    mining frontier — not the corpus) probe the probe-slice cells
    //    for THEIR top-K reverse neighborhoods — fb.
    // Per-probe work is O(probed cells), per-round total O(|probes|·K)
    // index probes: the corpus-sized candidate slice never moves, never
    // self-joins. Estimator deltas vs the q214 anchor, both deliberate:
    // fa averages over the SURFACED count (≤K — a sparse probed
    // neighborhood must not deflate the denominator and inflate every
    // margin), and the neighborhood is index-recall-approximate, so the
    // mined argmax can differ where true neighbors were mis-celled —
    // surfaced cosines are still REAL cosines (an accepted pair's
    // margin is computed from true similarities over an under-estimated
    // neighborhood mean, the one-sided q213 argument weakened only by
    // fa/fb's missing-neighbor upward bias; BitextMarginSpec pins the
    // match/accept agreement floor vs q214 on the fixture corpus).
    // Left join keeps the relation TOTAL over probes (a mining pass
    // reports every probe, matched or not). Rows-only for q42b's
    // reason: surfaced neighborhoods depend on the trained quantizer.
    QueryDef("q215_bitext_margin_indexed", (s, d) => {
      val K = 4
      val (_, vName) = graft.IndexCache.ensure(s, d)
      val cents = s.table(s"${vName}_centroids")
      val cells = s.table(s"${vName}_cells")
      val emb = t(s, d, "embeddings")
      val isProbe = col("vec_id") % 50 === 0
      // pinned: fwd feeds three consumers (frontier distinct, fa agg, the
      // mined join) — id-sized, so the pin is cheap and the index probe
      // runs once (the q221 fan-out rule)
      val fwd = VectorIndex.probeAgainst(cents, cells.filter(!isProbe),
          emb.filter(isProbe), nProbe = 8, topK = K)
        .select(col("query_id"), col("cand_id"), col("cos_sim"))
        .localCheckpoint(true)
      val surfaced = fwd.select(col("cand_id").as("vec_id")).distinct()
        .join(emb, Seq("vec_id"))
      val rev = VectorIndex.probeAgainst(cents, cells.filter(isProbe),
          surfaced, nProbe = 8, topK = K)
        .select(col("query_id").as("cand_id"), col("cos_sim"))
      val fa = fwd.groupBy("query_id")
        .agg(sum(col("cos_sim").cast("decimal(18,6)")).as("fa_num"),
          count(lit(1)).as("fa_cnt"))
      val fb = rev.groupBy("cand_id")
        .agg(sum(col("cos_sim").cast("decimal(18,6)")).as("fb_num"),
          count(lit(1)).as("fb_cnt"))
      val denom = (col("fa_num").cast("double") / col("fa_cnt").cast("double")
        + col("fb_num").cast("double") / col("fb_cnt").cast("double")) / lit(2.0)
      val wm = Window.partitionBy("query_id")
        .orderBy(col("margin").desc_nulls_last, col("cand_id").asc)
      val mined = fwd.join(fa, Seq("query_id")).join(fb, Seq("cand_id"))
        .withColumn("margin",
          when(denom > 0, round(col("cos_sim") / denom, 6)))
        .withColumn("rn", row_number().over(wm))
        .filter(col("rn") === 1)
      emb.filter(isProbe).select(col("vec_id").as("query_id"))
        .join(mined, Seq("query_id"), "left_outer")
        .select(col("query_id"), col("cand_id").as("match_id"),
          col("cos_sim"), col("margin"),
          coalesce((col("margin") >= 1.05).cast("long"), lit(0L))
            .as("accepted"))
    }, Some(s"""
      WITH ${IvfIndexSql}
      pq AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 50 = 0),
${probeCellsSql("pq", "ppc", 8)}
${probeCandSql("ppc", "pcand", " AND asg.vec_id % 50 <> 0")}
      fwd AS (
        SELECT query_id, cand_id, cos_sim FROM pcand
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, cand_id ASC) <= 4),
      sq AS (SELECT DISTINCT cand_id AS vec_id FROM fwd),
      sqe AS (SELECT sq.vec_id AS query_id, v.e AS qe
              FROM sq JOIN v ON v.vec_id = sq.vec_id),
${probeCellsSql("sqe", "spc", 8)}
${probeCandSql("spc", "scand", " AND asg.vec_id % 50 = 0")}
      rev AS (
        SELECT query_id AS cand_id, cos_sim FROM (
          SELECT query_id, cand_id, cos_sim FROM scand
          QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, cand_id ASC) <= 4)),
      fa AS (SELECT query_id, SUM(CAST(cos_sim AS DECIMAL(18,6))) AS fa_num,
               CAST(COUNT(*) AS BIGINT) AS fa_cnt
             FROM fwd GROUP BY 1),
      fb AS (SELECT cand_id, SUM(CAST(cos_sim AS DECIMAL(18,6))) AS fb_num,
               CAST(COUNT(*) AS BIGINT) AS fb_cnt
             FROM rev GROUP BY 1),
      m AS (
        SELECT f.query_id, f.cand_id, f.cos_sim,
          CASE WHEN (CAST(fa.fa_num AS DOUBLE) / CAST(fa.fa_cnt AS DOUBLE)
                     + CAST(fb.fb_num AS DOUBLE) / CAST(fb.fb_cnt AS DOUBLE))
                    / 2.0 > 0
            THEN round(f.cos_sim /
              ((CAST(fa.fa_num AS DOUBLE) / CAST(fa.fa_cnt AS DOUBLE)
                + CAST(fb.fb_num AS DOUBLE) / CAST(fb.fb_cnt AS DOUBLE))
               / 2.0), 6)
          END AS margin
        FROM fwd f JOIN fa ON fa.query_id = f.query_id
        JOIN fb ON fb.cand_id = f.cand_id),
      mined AS (
        SELECT query_id, cand_id, cos_sim, margin FROM m
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY margin DESC NULLS LAST, cand_id ASC) = 1)
      SELECT p.query_id, mined.cand_id AS match_id, mined.cos_sim,
        mined.margin,
        COALESCE(CAST(mined.margin >= 1.05 AS BIGINT), 0) AS accepted
      FROM pq p LEFT JOIN mined ON mined.query_id = p.query_id"""),
      // HASH-GATED since r11: forward probe, the surfaced-frontier
      // reverse probe, both DECIMAL neighborhood means and the margin
      // argmax all replayed over the unrolled stored quantizer.
      notes = "q214 served from the persisted IVF index for unbounded probe sets: forward probe surfaces each probe's top-4 candidate neighborhood (fa + argmax in one pass), then ONLY the surfaced candidates (the mining frontier, <= 4·|probes| ids) reverse-probe the probe slice for fb — the corpus never moves or self-joins; surfaced cosines are real cosines, fa averages over the surfaced count so sparse cells can't inflate margins; relation total via left join; fully hash-gated since r11 (oracle unrolls training + both probe passes + the DECIMAL margin algebra); match/accept agreement vs the q214 anchor additionally floor-pinned in BitextMarginSpec (measured 0.60/1.00 at sf0.01 — the argmax is the recall-fragile readout under near-random fixture sims, the accept verdict is threshold-stable)"),

    // ── Product quantization + ADC probe (the compressed-ANN memory path)
    // IVF (q42b) bounds WHICH vectors a query reads; PQ bounds HOW MUCH
    // each vector costs: split every 64-dim vector into M=8 contiguous
    // 8-dim subspaces, Lloyd-train a K=16 codebook PER SUBSPACE (init =
    // the 16 lowest vec_ids' subvectors, one exact micro-unit Lloyd step
    // — the q71/q42b training contract), and store each vector as 8
    // codeword ids — 8 small ints standing in for 64 floats, the
    // Jégou-style PQ code. Probing is ADC (asymmetric distance
    // computation): the query precomputes its 8×16 subspace-distance
    // table against the CODEBOOK (128 rows — broadcast metadata), and a
    // candidate's approximate ||q−x||² is the SUM of 8 table lookups
    // keyed by its code. At 100 TB this is the memory-side half of
    // IVF-PQ: compose with q42b's cells to bound candidates, and the
    // ADC scan reads 8 bytes per candidate instead of 256 — the codes
    // table is the index, the codebook is a broadcast literal, and the
    // per-query work is one broadcast-join + sum over candidate codes
    // (map-side partial per (query, cand)). Here the kernel scans all
    // codes (PQ's brute-over-compressed form; q40 is the uncompressed
    // exact anchor for recall).
    //
    // TRAINING IS SUBSPACE-PARALLEL, so the whole trainer is ONE
    // dataflow with m as a row dimension — no per-subspace unrolling
    // anywhere (contrast IvfIndexSql's per-iteration unroll): explode
    // (vec, m) → assign to cb0 by raw-double d2 (graft_dot forms,
    // lowest-cid ties — bit-identical to list_dot_product, the proven
    // q42b contract) → exact micro-unit per-(m, cid, pos) means →
    // re-assign = codes. ADC terms round to integer micro-units per
    // (query, m, cid) BEFORE the 8-term sum, so summation order cannot
    // drift (the q56/q77 discipline). Fully hash-gated: the oracle
    // replays training, encoding, and the ADC probe, approximation and
    // all; PqAdcSpec additionally pins recall vs the q40 exact anchor.
    QueryDef("q239_pq_adc", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      // PINNED: v feeds the subspace explode (itself consumed by init,
      // two assignment passes, the codebook agg and the query slice) AND
      // the exact re-rank's two vector joins — unpinned, the ratchet
      // measured embeddings scanned x10 (the q140/q210 defect class).
      // One corpus read; every consumer reads the pin.
      val v = t(s, d, "embeddings")
        .select(col("vec_id"), asDouble("embedding").as("e"))
        .localCheckpoint(true)
      val sub = pqSubspaces(v)
      val cb1 = pqTrainCodebook(sub)
      val codes = pqAssign(sub, cb1)
      pqAdcShortlistRerank(codes, cb1, v)
    }, Some(pqAdcOracle),
      notes = "product quantization + ADC shortlist + exact re-rank (Jegou PQ: M=8 subspaces, K=16 Lloyd-trained codewords each, codes = 8 ids per vector; query precomputes the 8x16 micro-unit distance table, candidates cost 8 lookups; ADC top-50 shortlist re-ranked by exact L2 -> top-5): the compressed-ANN memory path composing with q42b's IVF cells at scale; fully hash-gated (oracle replays subspace-parallel training + encode + ADC + re-rank), recall vs the exact anchor spec-pinned (0.66-0.88 measured on the near-random fixture, PQ's adversarial regime)"),

    // ── PQ probe against the PERSISTED index (the serving path) ────────
    // q239 trains + encodes + probes inline; THIS is what a serving
    // system runs: [[PqIndex.build]] persisted the 128-row codebook and
    // the one-row-per-vector compressed codes table (amortized via
    // IndexCache, the q105 pattern), and the probe explodes the stored
    // codes, broadcasts the query's ADC table, shortlists and exactly
    // re-ranks — the IDENTICAL [[pqAdcShortlistRerank]] stage as the
    // inline query, so probe == inline is STRUCTURAL (and doubles
    // round-trip parquet bit-exactly, so the stored codebook reproduces
    // the trainer's arithmetic). The shared oracle therefore gates the
    // stored layout too: a stale or corrupted index fails the driver
    // gate, not just PqIndexSpec's parity pin.
    QueryDef("q243_pq_served", (s, d) => {
      val name = graft.IndexCache.ensurePq(s, d)
      PqIndex.probe(s, name, t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding")))
    }, Some(pqAdcOracle),
      notes = "PQ probe against the persisted codebook + compressed codes tables (build amortized via IndexCache): the compressed-ANN serving path; probe == inline q239 is structural (shared pqAdcShortlistRerank stage) so the shared oracle hash-gates the stored layout; parity + freshness additionally spec-pinned"),

    // ── IVF-PQ: the full production ANN composition ────────────────────
    // q42b bounds WHICH vectors a query reads (trained cells, nProbe=6);
    // q239/q243 bound HOW MUCH each candidate costs (8-byte codes, ADC
    // lookups). THIS runs both against the two PERSISTED indexes — the
    // Jégou IVFADC layout every production vector store ships: cell
    // selection from the stored IVF centroids (the pinned probeCells
    // stage), candidate ids from the bucketed cells table (exchange-free
    // co-located read), ADC scoring of ONLY those candidates via the
    // stored PQ codes + the broadcast query table, top-50 shortlist,
    // exact re-rank. Per query the cluster touches ~nProbe/k of the
    // corpus and reads 8 bytes per touched candidate — multiplicative
    // savings, and full vectors only for the ≤50 shortlisted ids. Every
    // stage is a pinned contract from its parent query (probeCells =
    // q42b/q105, ADC/shortlist/re-rank = q239/q243), so the composed
    // oracle — IvfIndexSql + the renamed PQ banks, both trainings
    // replayed — hash-gates the whole thing, approximations stacked and
    // all. IvfPqSpec pins subset-of-q239 recall (the IVF restriction can
    // only remove candidates, never invent them).
    QueryDef("q244_ivfpq", (s, d) => {
      val (_, vName) = graft.IndexCache.ensure(s, d)
      val pqName = graft.IndexCache.ensurePq(s, d)
      graft.functions.GraftFunctions.register(s)
      val corpus = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val v = corpus.select(col("vec_id"), asDouble("embedding").as("e"))
        .localCheckpoint(true)
      val candIds = VectorIndex.probeCells(s.table(s"${vName}_centroids"),
          corpus.filter(col("vec_id") < 10), nProbe = 6)
        .select("query_id", "cell")
        .join(s.table(s"${vName}_cells").select(col("vec_id"), col("cell")),
          Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .select("query_id", "vec_id")
      val codesLong = s.table(s"${pqName}_codes")
        .select(col("vec_id"), posexplode(col("code")))
        .select(col("vec_id"), col("pos").cast("int").as("m"),
          col("col").cast("bigint").as("cid"))
      val cand = candIds.join(codesLong, Seq("vec_id"))
        .join(broadcast(pqAdcTable(s.table(s"${pqName}_codebook"), v)),
          Seq("query_id", "m", "cid"))
        .groupBy("query_id", "vec_id").agg(sum("md2").as("md2s"))
      pqRerank(pqShortlist(cand), v)
    }, Some(ivfPqOracle),
      notes = "IVF-PQ (the Jegou IVFADC production composition over BOTH persisted indexes): stored-centroid cell selection bounds candidates (nProbe=6, exchange-free bucketed cells read), stored 8-byte PQ codes + broadcast ADC table score only those candidates, top-50 shortlist, exact re-rank top-5; fully hash-gated — the composed oracle replays both trainings, the probe, the ADC and the re-rank; subset-of-q239 recall spec-pinned"),

    // ── Cross-modal PAIR near-dup (CLIP-curation step after q171) ──────
    // The dedup a contrastive vision-language pipeline runs over its
    // (image, caption) PAIRS: a pair is a near-duplicate of an EARLIER
    // pair iff BOTH modalities match — the image at pHash Hamming ≤ 3
    // (q241's bank: real decode → integer DCT → median sign bits +
    // Manku 4×16-bit pigeonhole join) AND the caption embedding at
    // within-cell cosine ≥ 0.35 under q74's Lloyd-trained cells
    // ([[semanticPairsIn]], the SemDeDup rule verbatim). Same image with
    // a NEW caption — or same caption on a NEW image — is a distinct
    // training pair and survives; only both-modality duplicates drop
    // (keep-earliest, q74's rule). Output is the per-pair manifest
    // (witness count + keep), so the kept set is reviewable. Composed
    // ENTIRELY from the two hash-gated banks; the oracle replays both
    // (pixel-formula pHash brute pairs ∩ trained-cell cosine pairs).
    // Scale: each side keeps its own candidate bound (block pigeonhole /
    // IVF cells); the composition joins two edge lists on (a, b) — edge-
    // sized, never corpus-sized.
    QueryDef("q250_pair_neardup", (s, d) => {
      // image side: q241's pHash + block pigeonhole, verbatim shape.
      // PINNED: the 8-bytes-per-image hash frame feeds both self-join
      // sides AND the output base — unpinned, the ratchet measured the
      // decode pass re-run x3 (documents x3)
      val hs = graft.multimodal.Multimodal.imagePHash(
        graft.multimodal.Multimodal.fromDocuments(s, d)).toDF()
        .withColumnRenamed("ahash", "phash")
        .localCheckpoint(true)
      val blocks = hs.select(col("media_id"), col("phash"),
          explode(array((0 until 4).map(j => struct(lit(j).as("j"),
            shiftrightunsigned(col("phash"), 16 * j).bitwiseAND(lit(0xFFFFL))
              .as("blk"))): _*)).as("p"))
        .select(col("media_id"), col("phash"), col("p.j"), col("p.blk"))
      val ipairs = blocks.as("a").join(blocks.as("b"),
          col("a.j") === col("b.j") && col("a.blk") === col("b.blk") &&
            col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("pair_a"),
          col("b.media_id").as("pair_b"),
          col("a.phash").as("ha"), col("b.phash").as("hb"))
        .distinct()
        .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
        .filter(col("hamming") <= 3)
        .select("pair_a", "pair_b")
      // text side: q74's trained cells + within-cell cosine pairs
      val assigned = semanticAssign(
        t(s, d, "embeddings").select("vec_id", "embedding"))
      val tpairs = semanticPairsIn(assigned, 0.35)
        .select(col("id_a").as("pair_a"), col("id_b").as("pair_b"))
      val dup = ipairs.join(tpairs, Seq("pair_a", "pair_b"))
        .groupBy(col("pair_b").as("pair_id"))
        .agg(count(lit(1)).as("n_dup_witnesses"))
      hs.select(col("media_id").as("pair_id"))
        .join(dup, Seq("pair_id"), "left_outer")
        .select(col("pair_id"),
          coalesce(col("n_dup_witnesses"), lit(0L)).as("n_dup_witnesses"),
          (coalesce(col("n_dup_witnesses"), lit(0L)) === 0L)
            .cast("long").as("keep"))
    }, Some(s"""
      WITH im AS (
        SELECT doc_id AS id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        FROM documents WHERE doc_id % 3 = 0),
      px AS (
        SELECT id, list_transform(range(64),
          i -> (id*31 + (((i // 8) * h // 8) * w + ((i % 8) * w // 8)) * 7)
               % 256) AS p
        FROM im),
      ${graft.multimodal.Multimodal.phashSql},
      ipairs AS (
        SELECT a.id AS pair_a, b.id AS pair_b
        FROM sig a JOIN sig b ON a.id < b.id
        WHERE bit_count(xor(a.ph, b.ph)) <= 3),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      ${lloydStep1Sql(20)},
      asg AS (
        SELECT v.vec_id, v.e, c1l.cent_id AS cell
        FROM v CROSS JOIN c1l
        QUALIFY row_number() OVER (PARTITION BY v.vec_id
          ORDER BY list_dot_product(v.e, c1l.ce) DESC, c1l.cent_id ASC) = 1),
      tpairs AS (
        SELECT a.vec_id AS pair_a, b.vec_id AS pair_b
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.e, b.e) /
          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
          >= 0.35),
      dup AS (
        SELECT i.pair_b AS pair_id, CAST(count(*) AS BIGINT) AS nw
        FROM ipairs i JOIN tpairs t
          ON t.pair_a = i.pair_a AND t.pair_b = i.pair_b
        GROUP BY 1)
      SELECT im.id AS pair_id,
        COALESCE(dup.nw, 0) AS n_dup_witnesses,
        CAST(CASE WHEN COALESCE(dup.nw, 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
          AS keep
      FROM im LEFT JOIN dup ON dup.pair_id = im.id"""),
      notes = "cross-modal image-text PAIR near-dup (the CLIP curation step after q171): drop a pair iff an EARLIER pair matches in BOTH modalities — q241's pHash Hamming <= 3 AND q74's within-trained-cell cosine >= 0.35; composed from the two hash-gated banks, oracle replays both; per-pair witness-count manifest, keep-earliest")
  )

  /** q244's composed oracle: the IvfIndexSql training+cells bank, the
    * q42b cell-selection stage, and the PQ training/encode/ADC banks
    * (CTEs renamed p* to avoid collisions), candidates restricted to the
    * probed cells — both approximations replayed, then the exact
    * re-rank. */
  private lazy val ivfPqOracle: String = s"""
      WITH ${IvfIndexSql}
      qv AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
${probeCellsSql("qv", "pc", 6)}
      candi AS (
        SELECT pc.query_id, asg.vec_id
        FROM pc JOIN asg USING (cell)
        WHERE asg.vec_id <> pc.query_id),
      psub AS (SELECT vec_id, m, e[m*8+1 : m*8+8] AS sv
               FROM v, (SELECT unnest(range(0, 8)) AS m)),
      pcb0 AS (SELECT m, vec_id AS cid, sv AS ce FROM psub WHERE vec_id < 16),
      pd0 AS (SELECT s.vec_id, s.m, c.cid,
               list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.ce)
                 + list_dot_product(c.ce, c.ce) AS d2
              FROM psub s JOIN pcb0 c USING (m)),
      pa0 AS (SELECT vec_id, m, cid FROM pd0
              QUALIFY row_number() OVER (PARTITION BY vec_id, m
                ORDER BY d2, cid) = 1),
      pz AS (SELECT pa0.m, pa0.cid, unnest(list_zip(s.sv, range(len(s.sv)))) AS z
             FROM psub s JOIN pa0 USING (vec_id, m)),
      pc1m AS (SELECT m, cid, CAST(struct_extract(z, 2) AS BIGINT) AS pos,
                ROUND(CAST(SUM(CAST(ROUND(struct_extract(z, 1) * 1000000) AS BIGINT)) AS DOUBLE)
                  / (1000000.0 * COUNT(*)), 6) AS cv
              FROM pz GROUP BY 1, 2, 3),
      pcb1 AS (SELECT m, cid, list(cv ORDER BY pos) AS ce FROM pc1m GROUP BY 1, 2),
      pd1 AS (SELECT s.vec_id, s.m, c.cid,
               list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.ce)
                 + list_dot_product(c.ce, c.ce) AS d2
              FROM psub s JOIN pcb1 c USING (m)),
      pcodes AS (SELECT vec_id, m, cid FROM pd1
                 QUALIFY row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY d2, cid) = 1),
      padc AS (SELECT q.query_id, c.m, c.cid,
                CAST(ROUND((list_dot_product(q.qsv, q.qsv)
                  - 2 * list_dot_product(q.qsv, c.ce)
                  + list_dot_product(c.ce, c.ce)) * 1000000) AS BIGINT) AS md2
               FROM (SELECT vec_id AS query_id, m, sv AS qsv
                     FROM psub WHERE vec_id < 10) q
               JOIN pcb1 c USING (m)),
      pcand AS (SELECT ci.query_id, ci.vec_id AS cand_id, SUM(padc.md2) AS md2s
                FROM candi ci
                JOIN pcodes pco ON pco.vec_id = ci.vec_id
                JOIN padc ON padc.query_id = ci.query_id
                  AND padc.m = pco.m AND padc.cid = pco.cid
                GROUP BY 1, 2),
      pshort AS (SELECT query_id, cand_id FROM pcand
                 QUALIFY row_number() OVER (PARTITION BY query_id
                   ORDER BY md2s ASC, cand_id ASC) <= 50),
      prr AS (SELECT sh.query_id, sh.cand_id,
               CAST(ROUND((list_dot_product(cv.e, cv.e)
                 - 2 * list_dot_product(qe2.e, cv.e)
                 + list_dot_product(qe2.e, qe2.e)) * 1000000) AS BIGINT) AS d2m
              FROM pshort sh JOIN v cv ON cv.vec_id = sh.cand_id
              JOIN v qe2 ON qe2.vec_id = sh.query_id)
      SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY d2m ASC, cand_id ASC) AS BIGINT) AS rank,
        cand_id, CAST(d2m AS DOUBLE) / 1000000.0 AS l2_d2
      FROM prr
      QUALIFY rank <= 5"""

  /** Shared oracle for q239 (inline train+encode+probe) and q243 (the
    * same probe against the PERSISTED PQ index — probe == inline is
    * structural via the shared pqAdcShortlistRerank stage, so one
    * oracle hash-gates both, the q42b/q105 relationship): replays
    * subspace-parallel training, encoding, the micro-unit ADC table,
    * the top-50 shortlist and the exact re-rank. */
  private def pqAdcOracle: String = """
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      sub AS (SELECT vec_id, m, e[m*8+1 : m*8+8] AS sv
              FROM v, (SELECT unnest(range(0, 8)) AS m)),
      cb0 AS (SELECT m, vec_id AS cid, sv AS ce FROM sub WHERE vec_id < 16),
      d0 AS (SELECT s.vec_id, s.m, c.cid,
              list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.ce)
                + list_dot_product(c.ce, c.ce) AS d2
             FROM sub s JOIN cb0 c USING (m)),
      a0 AS (SELECT vec_id, m, cid FROM d0
             QUALIFY row_number() OVER (PARTITION BY vec_id, m
               ORDER BY d2, cid) = 1),
      z AS (SELECT a0.m, a0.cid, unnest(list_zip(s.sv, range(len(s.sv)))) AS z
            FROM sub s JOIN a0 USING (vec_id, m)),
      c1 AS (SELECT m, cid, CAST(struct_extract(z, 2) AS BIGINT) AS pos,
              ROUND(CAST(SUM(CAST(ROUND(struct_extract(z, 1) * 1000000) AS BIGINT)) AS DOUBLE)
                / (1000000.0 * COUNT(*)), 6) AS cv
             FROM z GROUP BY 1, 2, 3),
      cb1 AS (SELECT m, cid, list(cv ORDER BY pos) AS ce FROM c1 GROUP BY 1, 2),
      d1 AS (SELECT s.vec_id, s.m, c.cid,
              list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.ce)
                + list_dot_product(c.ce, c.ce) AS d2
             FROM sub s JOIN cb1 c USING (m)),
      codes AS (SELECT vec_id, m, cid FROM d1
                QUALIFY row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY d2, cid) = 1),
      q AS (SELECT vec_id AS query_id, m, sv AS qv FROM sub WHERE vec_id < 10),
      adc AS (SELECT q.query_id, c.m, c.cid,
               CAST(ROUND((list_dot_product(q.qv, q.qv)
                 - 2 * list_dot_product(q.qv, c.ce)
                 + list_dot_product(c.ce, c.ce)) * 1000000) AS BIGINT) AS md2
              FROM q JOIN cb1 c USING (m)),
      cand AS (SELECT a.query_id, c.vec_id AS cand_id, SUM(a.md2) AS md2s
               FROM codes c JOIN adc a ON a.m = c.m AND a.cid = c.cid
               WHERE c.vec_id <> a.query_id
               GROUP BY 1, 2),
      short AS (SELECT query_id, cand_id FROM cand
                QUALIFY row_number() OVER (PARTITION BY query_id
                  ORDER BY md2s ASC, cand_id ASC) <= 50),
      rr AS (SELECT s.query_id, s.cand_id,
               CAST(ROUND((list_dot_product(cv.e, cv.e)
                 - 2 * list_dot_product(qv.e, cv.e)
                 + list_dot_product(qv.e, qv.e)) * 1000000) AS BIGINT) AS d2m
             FROM short s JOIN v cv ON cv.vec_id = s.cand_id
             JOIN v qv ON qv.vec_id = s.query_id)
      SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY d2m ASC, cand_id ASC) AS BIGINT) AS rank,
        cand_id, CAST(d2m AS DOUBLE) / 1000000.0 AS l2_d2
      FROM rr
      QUALIFY rank <= 5"""

  private[similarity] def labelsOf(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"), col("label"))

  /** q113's neighbor stage: EXACT top-5 train neighbors (cos desc,
    * cand_id asc) of each held-out query via the guarded scored cross
    * join. Returns (query_id, cand_id). */
  private[similarity] def knnExactTop(s: SparkSession, d: String): DataFrame = {
    guardBruteForce(s, d, "q113_knn_label_vote")
    val q = vecs(s, d).filter(col("vec_id") % 50 === 0)
      .toDF("query_id", "qv", "qn")
    val c = vecs(s, d).filter(col("vec_id") % 50 =!= 0)
      .toDF("cand_id", "cv", "cn")
    val wr = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("cand_id").asc)
    broadcast(q).join(c, lit(true))
      .withColumn("cos_sim", cosine("qv", "cv", "qn", "cn"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 5)
      .select("query_id", "cand_id")
  }

  /** q114's neighbor stage: the persisted-IVF probe's top-10, dropped to
    * train-only, re-ranked to top-5 — the same (query_id, cand_id)
    * contract as [[knnExactTop]], so the vote stage composes over either. */
  private[similarity] def knnIndexedTop(s: SparkSession, d: String): DataFrame = {
    val (_, vName) = graft.IndexCache.ensure(s, d)
    val queries = t(s, d, "embeddings").filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
    // nProbe=10 (of k=20 cells): the vote consumes the top-5 of the TRAIN
    // slice, a strictly harder target than q105's top-5-overall — the
    // extra probed cells buy the recall the verdict quality rides on
    // while still reading half the corpus cells of a full scan (and the
    // production ratio is k >> nProbe; this corpus is just small)
    val probed = VectorIndex.probe(s, vName, queries, nProbe = 10, topK = 10)
      .filter(col("cand_id") % 50 =!= 0)
    val wr = Window.partitionBy("query_id").orderBy(col("rank").asc)
    probed.withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= 5)
      .select("query_id", "cand_id")
  }

  // ── Shared PQ stages (q239 inline / q243 served via PqIndex) ─────────

  /** (vec_id, m, sv): the M=8 contiguous 8-dim subspace view of a pinned
    * (vec_id, e) frame — narrow explode, recomputed per consumer but
    * always reading the caller's pin. */
  private[similarity] def pqSubspaces(v: DataFrame): DataFrame =
    v.select(col("vec_id"), col("e"),
        explode(sequence(lit(0), lit(7))).as("m"))
      .withColumn("sv", expr("slice(e, m * 8 + 1, 8)")).drop("e")

  /** Nearest-codeword assignment per (vec_id, m) by raw-double d2 with
    * (d2 asc, cid asc) ties — the same arithmetic DuckDB evaluates, so
    * no rounding is needed here (the proven q42b assignment contract). */
  private[similarity] def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame = {
    val wr = Window.partitionBy("vec_id", "m")
      .orderBy(col("d2").asc, col("cid").asc)
    sub.join(broadcast(cb), Seq("m"))
      .withColumn("d2", expr(
        "graft_dot(sv, sv) - 2 * graft_dot(sv, ce) + graft_dot(ce, ce)"))
      .withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
      .select("vec_id", "m", "cid")
  }

  /** One exact micro-unit Lloyd step per subspace from the 16-lowest-id
    * init — returns the trained (m, cid, ce) codebook, PINNED (128 rows
    * of bounded metadata consumed by both the encode pass and the ADC
    * table; unpinned each consumer re-trains). */
  private[similarity] def pqTrainCodebook(sub: DataFrame): DataFrame = {
    val cb0 = sub.filter(col("vec_id") < 16)
      .select(col("m"), col("vec_id").as("cid"), col("sv").as("ce"))
    sub.join(pqAssign(sub, cb0), Seq("vec_id", "m"))
      .select(col("m"), col("cid"), posexplode(col("sv")))
      .groupBy("m", "cid", "pos")
      .agg(round(sum(round(col("col") * 1e6).cast("long")).cast("double")
        / (lit(1e6) * count(lit(1))), 6).as("cv"))
      .groupBy("m", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), x -> x.cv)")
        .as("ce"))
      .localCheckpoint(true)
  }

  /** ADC SHORTLIST (top-50) → EXACT re-rank → top-5 for the vec_id < 10
    * query batch: the production composition — PQ's 8-byte scan picks
    * the shortlist, then the ≤50 original vectors per query (the only
    * full vectors read) get exact distances. Near-random embeddings are
    * PQ's adversarial regime (distances concentrate, quantization noise
    * ~ the gaps); the re-rank is what makes the surfaced top-5
    * trustworthy there. `codes` may come from the inline trainer (q239)
    * or the persisted index (q243) — the stage is identical, which is
    * what makes probe == inline structural. */
  private[similarity] def pqAdcShortlistRerank(codes: DataFrame,
      cb: DataFrame, v: DataFrame): DataFrame = {
    val cand = codes.join(broadcast(pqAdcTable(cb, v)), Seq("m", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("md2").as("md2s"))
    pqRerank(pqShortlist(cand), v)
  }

  /** The query batch's precomputed ADC table: (query_id, m, cid, md2) —
    * 8×16 micro-unit subspace distances per query against the codebook.
    * Bounded metadata (|queries|·128 rows), always broadcast. */
  private[similarity] def pqAdcTable(cb: DataFrame, v: DataFrame): DataFrame =
    pqSubspaces(v.filter(col("vec_id") < 10))
      .select(col("vec_id").as("query_id"), col("m"), col("sv").as("qv"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("md2", round(expr(
        "(graft_dot(qv, qv) - 2 * graft_dot(qv, ce) + graft_dot(ce, ce))")
        * lit(1e6)).cast("long"))
      .select("query_id", "m", "cid", "md2")

  /** Top-50 ADC shortlist per query from a scored (query_id, vec_id,
    * md2s) candidate frame. */
  private[similarity] def pqShortlist(cand: DataFrame): DataFrame = {
    val ws = Window.partitionBy("query_id")
      .orderBy(col("md2s").asc, col("vec_id").asc)
    cand.withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= 50).select("query_id", "vec_id")
  }

  /** Exact-L2 re-rank of a (query_id, vec_id) shortlist → top-5: the
    * only stage reading full vectors, and only for shortlisted ids. */
  private[similarity] def pqRerank(short: DataFrame, v: DataFrame): DataFrame = {
    // explicit select, not positional toDF: a caller passing an extra
    // column must not silently misname the query side
    val qv = v.select(col("vec_id").as("query_id"), col("e").as("qe"))
    val wk = Window.partitionBy("query_id")
      .orderBy(col("d2m").asc, col("vec_id").asc)
    short.join(v, Seq("vec_id")).join(qv, Seq("query_id"))
      .withColumn("d2m", round(expr(
        "(graft_dot(e, e) - 2 * graft_dot(qe, e) + graft_dot(qe, qe))")
        * lit(1e6)).cast("long"))
      .withColumn("rank", row_number().over(wk).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("cand_id"),
        (col("d2m").cast("double") / lit(1e6)).as("l2_d2"))
  }

  /** Shared kNN vote/verdict stage (q113 exact / q114 indexed): majority
    * vote over each query's neighbor ids with deterministic tie-breaks
    * (count desc, label asc), then pred-vs-true verdict per query. */
  private def labelVote(top: DataFrame, lab: DataFrame): DataFrame = {
    val votes = top
      .join(lab.toDF("cand_id", "cand_label"), Seq("cand_id"))
      .groupBy("query_id", "cand_label")
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("cand_label").asc)
    votes.withColumn("rn", row_number().over(wv)).filter(col("rn") === 1)
      .select(col("query_id"), col("cand_label").as("pred_label"),
        col("n_votes"))
      .join(lab.toDF("query_id", "true_label"), Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("n_votes"),
        (col("pred_label") === col("true_label")).cast("long").as("is_correct"))
  }
}
