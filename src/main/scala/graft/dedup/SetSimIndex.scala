package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one exact set-similarity (Jaccard ≥ τ) join, and the persisted
  * prefix index built from it.
  *
  * Three primitives carry every exact Jaccard consumer except q38's brute
  * reference (`DedupQueries.ngramJaccard`):
  *  - [[prefixes]]: per doc, the first n − ⌈τ·n⌉ + 1 grams under a
  *    caller-attached (df asc, g asc) order — rarest first;
  *  - [[candidates]]: the prefix-equality join with the PPJoin length and
  *    positional prunes;
  *  - [[verify]]: the exact Jaccard of candidate pairs.
  * Callers: q141 (self-join, df from one window over g), q149 (delta vs
  * base, base-only df from a conditional window), [[build]]/[[append]]/
  * [[probe]] (q202, the stored gram df), and the LSH paths, which verify
  * their own candidates (q62, q107, q107b, `StreamingDocIngest`,
  * `CorpusCurate` via `nearDupBatchTwin`).
  *
  * Soundness: prefix filtering is lossless for ANY total gram order,
  * provided BOTH join sides use the SAME order (Chaudhuri et al.; the
  * PPJoin papers assume df order only for selectivity) — a pair with
  * J ≥ τ shares at least ⌈τ·n⌉ grams with either side of size n, so one
  * of them lies in both prefixes. The prunes cannot drop a true pair:
  *  - length: J ≥ τ forces τ·max(n_a, n_b) ≤ min(n_a, n_b);
  *  - positional: no shared gram precedes the FIRST one a true pair
  *    shares in either prefix, so its overlap is at most
  *    min(n_a − pos_a, n_b − pos_b), and J ≥ τ needs overlap ≥
  *    τ/(1+τ)·(n_a + n_b); that row survives and keeps the pair.
  * The slice and both prunes compare in exact decimal arithmetic: in
  * doubles the positional bound τ/(1+τ)·(n_a + n_b) can land one ulp
  * above an integer (0.8/1.8·63 = 28.000000000000004) and drop a pair
  * whose Jaccard is exactly τ (SetSimJoinSpec's 35/28 and 70/63 pairs).
  *
  * Index layout under `root/` (plain parquet, like PostingsIndex):
  *  - `gramdf`    (g, df)                — base gram document frequencies:
  *                                         the index's FROZEN total order
  *  - `prefixes`  (doc_id, n, pos, g)    — [[prefixes]] of each base doc
  *  - `docs`      (doc_id, grams_h, n_grams) — full gram sets for [[verify]]
  *
  * ORDER-FREEZE SEMANTICS (the part that makes [[append]] sound): the
  * order is frozen at [[build]] time. [[append]] ranks new docs' prefixes
  * under the ORIGINAL gramdf (unseen grams at df 0, gram-value tiebreak —
  * still total), and [[probe]] ranks the delta the same way — so
  * candidates stay lossless after any number of appends; only prefix
  * SELECTIVITY decays as the frozen df drifts from the true df. A
  * periodic [[build]] is the OPTIMIZE analog that refreshes the order.
  * SetSimIndexSpec pins both: probe == q149 row-for-row, and append+probe
  * == rebuild+probe as a match set (postings differ by design, results
  * may not).
  *
  * Scale shape: [[probe]] touches the delta (narrow gram hashing), one
  * broadcast-or-shuffle join of delta prefixes against the gram-keyed
  * base `prefixes` parquet, and a verify join against `docs` keyed by
  * the candidate doc ids — base never self-joins, never re-scans text.
  */
object SetSimIndex {

  private def exact(tau: Double): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(tau))

  /** Prefix postings (keys…, n, pos, g) of (doc_id, g, df) rows — one row
    * per distinct gram of a doc, with df the caller's order key. Any
    * further column is a per-doc attribute carried through as a key
    * (q149's `is_delta`). pos is 0-based in (df asc, g asc) order. */
  def prefixes(rows: DataFrame, tau: Double): DataFrame = {
    val keys = rows.columns.filterNot(Set("g", "df")).toSeq.map(col)
    rows.groupBy(keys: _*)
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("ord"))
      .select(keys ++ Seq(size(col("ord")).as("n"),
        posexplode(expr("transform(slice(ord, 1, greatest(cast(size(ord) - " +
          s"ceil(${exact(tau).toPlainString}BD * size(ord)) + 1 as int), 0)), " +
          "x -> x.g)")).as(Seq("pos", "g"))): _*)
  }

  /** Candidate pairs (doc_a from `a`, doc_b from `b`) of two [[prefixes]]
    * frames ranked under the same order: one row per surviving shared
    * prefix gram, so callers `distinct()` the pairs. `side` is an extra
    * join condition over the `a`/`b` aliases (the self-join's
    * `a.doc_id < b.doc_id`). */
  def candidates(a: DataFrame, b: DataFrame, tau: Double,
      side: Column = lit(true)): DataFrame = {
    val t = lit(exact(tau))
    a.as("a").join(b.as("b"),
        col("a.g") === col("b.g") && side &&
          col("b.n") >= t * col("a.n") && col("a.n") >= t * col("b.n") &&
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) *
            (lit(1) + t) >= t * (col("a.n") + col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  /** Exact Jaccard of candidate `pairs` (doc_a, doc_b): (doc_a, doc_b,
    * jaccard) for jaccard ≥ τ, with doc_a's gram set from `docsA` and
    * doc_b's from `docsB`, both (doc_id, grams_h, n_grams) with sorted
    * hashed grams. O(candidates), never O(n²). */
  def verify(pairs: DataFrame, docsA: DataFrame, docsB: DataFrame,
      tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(pairs.sparkSession)
    val union = col("na") + col("nb") - col("n_inter")
    pairs
      .join(docsA.select(col("doc_id").as("doc_a"), col("grams_h").as("ga"),
        col("n_grams").as("na")), Seq("doc_a"))
      .join(docsB.select(col("doc_id").as("doc_b"), col("grams_h").as("gb"),
        col("n_grams").as("nb")), Seq("doc_b"))
      .withColumn("n_inter", expr("graft_intersect_card(ga, gb)"))
      // TOTAL division: Catalyst may push a downstream jaccard filter
      // into the join condition, where conjunct order is undefined and
      // an ANSI 0/0 would abort the job before any guard runs
      .withColumn("jaccard", when(union > 0,
        col("n_inter").cast("double") / union).otherwise(lit(0.0)))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** [[verify]] with both sides' gram sets in one frame. */
  def verify(pairs: DataFrame, docs: DataFrame, tau: Double): DataFrame =
    verify(pairs, docs, docs, tau)

  /** [[prefixes]] of `grams` (doc_id, grams_h, n_grams) under a stored
    * (g, df) order; grams it has not seen rank at df 0. */
  private def prefixesUnder(grams: DataFrame, gramdf: DataFrame,
      tau: Double): DataFrame =
    prefixes(grams.select(col("doc_id"), explode(col("grams_h")).as("g"))
      .join(gramdf, Seq("g"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L))), tau)

  /** Build (or rebuild — refreshing the frozen order) from the base
    * corpus. `base` must expose (doc_id, grams_h, n_grams). */
  def build(base: DataFrame, root: String, tau: Double = 0.5): Unit = {
    val gramdf = base
      .select(col("doc_id"), explode(col("grams_h")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
    gramdf.write.mode("overwrite").parquet(s"$root/gramdf")
    val spark = base.sparkSession
    val storedDf = spark.read.parquet(s"$root/gramdf")
    prefixesUnder(base, storedDf, tau)
      .write.mode("overwrite").parquet(s"$root/prefixes")
    base.select("doc_id", "grams_h", "n_grams")
      .write.mode("overwrite").parquet(s"$root/docs")
  }

  /** Absorb a delta into the index under the FROZEN build-time order:
    * delta prefixes rank by the stored gramdf (unseen grams at df 0) and
    * APPEND to `prefixes`/`docs`; gramdf itself is immutable until the
    * next [[build]]. Cost is delta-proportional: the base postings are
    * never rewritten. */
  def append(spark: SparkSession, root: String, delta: DataFrame,
      tau: Double = 0.5): Unit = {
    val gramdf = spark.read.parquet(s"$root/gramdf")
    prefixesUnder(delta, gramdf, tau)
      .write.mode("append").parquet(s"$root/prefixes")
    delta.select("doc_id", "grams_h", "n_grams")
      .write.mode("append").parquet(s"$root/docs")
  }

  /** All Jaccard ≥ τ pairs between the INDEXED docs and `delta`:
    * (doc_a = indexed, doc_b = delta, jaccard), exactly q149's output
    * shape. The indexed side comes wholly from the stored prefix
    * postings + gram sets; the delta side is ranked under the same
    * frozen order. */
  def probe(spark: SparkSession, root: String, delta: DataFrame,
      tau: Double = 0.5): DataFrame = {
    val gramdf = spark.read.parquet(s"$root/gramdf")
    val cand = candidates(spark.read.parquet(s"$root/prefixes"),
      prefixesUnder(delta, gramdf, tau), tau).distinct()
    verify(cand, spark.read.parquet(s"$root/docs"), delta, tau)
      .withColumn("jaccard", round(col("jaccard"), 6))
  }
}
