package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pins
import graft.analytics.{Ops, QueryDef}
import graft.text.TextSignals
import Ops._

/** Deduplication operator family over `documents` — exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All built from codegen'd built-in
  * expressions (no UDFs): hashing via xxhash64, shingling via higher-order
  * array functions, banding via explode + hash-partitioned groupBy.
  *
  * Scale design (the part that matters at 100 TB):
  *  - signatures are computed in a single narrow scan per doc;
  *  - LSH candidate generation shuffles only (band_id, band_hash, doc_id)
  *    triples — bytes per doc, not the documents themselves;
  *  - exact verification joins only the candidate pairs back to content,
  *    never the full cross product.
  */
object DedupQueries {

  /** 3-token shingles of the space-tokenized text, distinct — over the
    * PRE-SPLIT token array `__toks` added by [[tokenized]]. A text of n
    * tokens has n-2 shingles. Spark's sequence(0, stop) turns DESCENDING
    * when stop < 0 (sequence(0,-1) = [0,-1], which would crash slice for
    * <=3-token docs), so the index list is built from a safe non-empty
    * sequence and filtered to the valid range — empty for short docs,
    * 0..n-3 otherwise.
    *
    * Why pre-split (round 3, BASELINE.md): an inline `split(text, ' ')`
    * re-evaluates inside every lambda element — higher-order lambdas run
    * interpreted and Catalyst never CSEs the call — measured 2-7× slower
    * per gram query at sf0.1. CollapseProject leaves the producer
    * projection alone because `__toks` is non-cheap and multiply
    * referenced, so the split genuinely runs once per row. */
  private[dedup] val shinglesOfToks =
    "array_distinct(transform(" +
      "filter(sequence(0, greatest(size(__toks) - 2, 1) - 1), " +
      "i -> i < size(__toks) - 2), " +
      "i -> concat_ws(' ', slice(__toks, i + 1, 3))))"

  /** DuckDB twin of [[shinglesOfToks]]: the distinct word 3-grams of the
    * SQL expression `text`, split on single spaces. */
  private[graft] def gramSetSql(text: String = "text"): String =
    s"""list_distinct(list_transform(
          range(1, greatest(len(string_split($text, ' ')) - 1, 1)),
          i -> string_split($text, ' ')[i] || ' ' ||
               string_split($text, ' ')[i+1] || ' ' ||
               string_split($text, ' ')[i+2]))"""

  private[dedup] def tokenized(df: DataFrame): DataFrame =
    df.withColumn("__toks", split(col("text"), " "))

  private val K = 16 // minhash signature length
  private val Bands = 4 // LSH bands (r = K/Bands rows per band)

  /** Hot-bucket guard: max "representative" docs per (band_id, band_hash)
    * bucket. A degenerate cluster (thousands of near-identical docs landing
    * in one bucket) would otherwise self-join quadratically — THE scale
    * killer for LSH dedup at 100 TB. Capping reps bounds a size-n bucket at
    * ~MaxBucketReps*n pairs (reps pair with everything, non-reps only with
    * reps), which keeps every doc connected to its cluster while cutting the
    * non-rep × non-rep quadratic tail. Buckets smaller than the cap are
    * byte-identical to the unguarded plan. */
  private[graft] val MaxBucketReps = 64

  /** q64 document-frequency cap: a 3-gram appearing in more than this many
    * TRAINING docs is excluded from the contamination join — it is
    * stopword-ish noise, and (the scale reason) it bounds the per-gram join
    * fan-out at MaxGramDf train partners instead of the whole corpus. The
    * cap is part of the query's declared semantics, mirrored in the oracle
    * SQL — not a silent truncation. */
  private[dedup] val MaxGramDf = 64

  /** Session conf key bounding the all-pairs-within-source CORRECTNESS
    * BASELINE (q38, and q57 which consumes q38's edges). Set to -1 to
    * disable. Mirrors [[graft.similarity.SimilarityQueries.MaxBruteForceRowsKey]]. */
  val MaxBruteForceDocsKey = "spark.graft.dedup.maxBruteForceDocs"
  private val DefaultMaxBruteForceDocs = 50000L

  /** q38's within-source self-join is the exactness twin of the q36/q62
    * LSH path; one dominant source makes it O(n²). */
  private def guardBruteForce(s: SparkSession, d: String, query: String): Unit =
    Ops.guardBruteForce(s, d, query, "documents", MaxBruteForceDocsKey,
      DefaultMaxBruteForceDocs, "all-pairs-within-source", "docs",
      "q36_minhash_lsh candidates / q62_dup_clusters_lsh (LSH candidates " +
        "+ exact verify of candidates only)")

  /** The incremental family's delta split (q149/q166/q202/q251/q252 and
    * the IndexCache base builds): the ~10% of doc ids whose md5 hex starts
    * at or below 19 play the new batch; the rest is the standing base. */
  private[graft] val isDelta: Column =
    substring(md5(col("doc_id").cast("string")), 1, 2) <= "19"

  /** The held-out eval split of the contamination family (q64, q203/q209,
    * q211/q213): the ~4% of ids whose md5 hex starts at or below 0a. */
  private[graft] def isEval(id: Column): Column =
    substring(md5(id.cast("string")), 1, 2) <= "0a"

  /** DuckDB twin of [[isEval]] over the SQL id column `id`. */
  private[graft] def isEvalSql(id: String): String =
    s"substr(md5(CAST($id AS VARCHAR)), 1, 2) <= '0a'"

  /** DuckDB twin of `!isEval(id)`: the training side of the split. */
  private[graft] def isTrainSql(id: String): String =
    s"substr(md5(CAST($id AS VARCHAR)), 1, 2) > '0a'"

  /** DuckDB twin of the exact gram-set Jaccard that [[ngramJaccard]] and
    * [[SetSimIndex.verify]] compute: |a ∩ b| / |a ∪ b| over the `grams`
    * lists of the relations aliased `a` and `b`. */
  private[graft] def jaccardSql(a: String, b: String): String =
    s"""CAST(len(list_intersect($a.grams, $b.grams)) AS DOUBLE) /
            (len($a.grams) + len($b.grams) - len(list_intersect($a.grams, $b.grams)))"""

  /** DuckDB twin of [[SetSimIndex.verify]] at tau 0.5 over
    * `g(doc_id, grams)` self-joined as `a`/`b` on `on`: the pairs
    * (doc_a, doc_b, jaccard) rounded to 6 places, ending the statement. */
  private[graft] def setSimPairsSql(on: String): String = s"""p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          len(list_intersect(a.grams, b.grams)) AS inter,
          len(a.grams) AS sa, len(b.grams) AS sb
        FROM g a JOIN g b ON $on)
      SELECT doc_a, doc_b,
        round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) AS jaccard
      FROM p
      WHERE CAST(inter AS DOUBLE) / nullif(sa + sb - inter, 0) >= 0.5"""

  /** DuckDB twin of q57's edge set, [[ngramJaccard]]'s within-source
    * pairs kept at Jaccard >= 0.6: the body of a `pairs(doc_a, doc_b)`
    * CTE over `g(doc_id, source, grams)`. */
  private[graft] def sourcePairsSql: String = s"""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
                          AND len(a.grams) + len(b.grams) > 0
        WHERE ${jaccardSql("a", "b")}
          >= 0.6"""

  /** Docs with their 3-gram shingle sets hashed to SORTED long arrays —
    * the shared exact-verification input (q38 all-pairs, q62 candidate
    * verify). Hashing once per doc turns the per-pair Jaccard into a
    * codegen'd two-pointer merge over primitive longs. */
  private[dedup] def hashedGrams(s: SparkSession, d: String): DataFrame =
    hashedGramsOf(t(s, d, "documents"))

  /** Frame-level variant for composition (streaming near-dup ingest): the
    * same hashed-gram computation over any (doc_id, text[, source]) frame —
    * batch⇄stream parity by shared definition. */
  private[graft] def hashedGramsOf(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val keep = col("doc_id") +:
      (if (docs.columns.contains("source")) Seq(col("source")) else Nil)
    tokenized(docs)
      .select(keep :+
        expr(s"sort_array(array_distinct(transform($shinglesOfToks, g -> xxhash64(g))))")
          .as("grams_h"): _*)
      .withColumn("n_grams", size(col("grams_h")))
  }

  /** q38's exact all-pairs Jaccard body over an already-PINNED
    * [[hashedGrams]] frame (both self-join sides consume it; unpinned,
    * the shingle hashing ran twice). Shingles are hashed to sorted long
    * arrays ONCE per doc; the O(pairs) inner loop is a codegen'd
    * two-pointer merge on primitive longs (graft_intersect_card) instead
    * of string-set hashing — values identical to the string-set form
    * modulo xxhash64 collisions (~2^-64, far below the oracle's 1e-6
    * rounding). */
  private def ngramJaccard(grams: DataFrame): DataFrame = {
    val a = grams.as("a"); val b = grams.as("b")
    a.join(b, col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id") &&
        // drop degenerate pairs where BOTH gram sets are empty (<=2-token
        // docs): jaccard would be 0/0 (ANSI divide-by-zero)
        col("a.n_grams") + col("b.n_grams") > 0)
      // intersection computed ONCE per pair; |A∪B| = |A|+|B|-|A∩B| with
      // per-doc sizes precomputed before the join
      .withColumn("n_inter", expr("graft_intersect_card(a.grams_h, b.grams_h)"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        // the division must be TOTAL even though the join guard excludes
        // both-empty pairs: a downstream filter on jaccard (q57) gets
        // pushed into the join condition, where conjunct evaluation order
        // is undefined and ANSI 0/0 aborts the job before the guard runs
        when(col("a.n_grams") + col("b.n_grams") - col("n_inter") > 0,
          col("n_inter").cast("double") /
            (col("a.n_grams") + col("b.n_grams") - col("n_inter")))
          .otherwise(lit(0.0))
          .as("jaccard"))
  }

  /** MinHash signatures via explode → codegen'd hash-agg of K seeded
    * min-hashes: each shingle is hashed K times in one pass (no interpreted
    * higher-order lambdas, no expression re-evaluation), one shuffle keyed
    * by doc_id with map-side partial mins. This is the shape that survives
    * 100 TB — state per doc is K longs. Docs with an empty shingle set
    * (<=2 tokens) produce no signature row. */
  private[dedup] def signatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(t(s, d, "documents"))

  /** Frame-level variant for composition (streaming near-dup ingest). */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame = {
    val sh = tokenized(docs)
      .select(col("doc_id"), explode(expr(shinglesOfToks)).as("sng"))
    val minCols = (0 until K).map(j =>
      min(xxhash64(col("sng"), lit(j))).as(s"h$j"))
    sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** (doc_id, band_id, band_hash) banding of a signature frame — the LSH
    * bucket key shared by the batch self-join ([[lshCandidatePairs]]) and
    * the streaming ingest's batch-vs-base join. */
  private[graft] def bandsOf(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val slots = (b * K / Bands until (b + 1) * K / Bands).map(j => col(s"h$j"))
      struct(lit(b).as("band_id"), xxhash64(slots: _*).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
  }

  /** LSH candidate pairs (doc_a < doc_b, distinct) from a signature frame:
    * band the signature, bucket-join within (band_id, band_hash), with the
    * hot-bucket guard capping the quadratic tail (see [[MaxBucketReps]]),
    * observed as "q36_lsh_guard". */
  private[graft] def lshCandidatePairs(sig: DataFrame): DataFrame = {
    val (reps, observed) = hotBucketGuard(bandsOf(sig), "q36_lsh_guard",
      Seq("band_id", "band_hash"), "doc_id", MaxBucketReps)
    reps.as("a").join(observed.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The hot-bucket guard of a bucket self-join: ranks `rows` within each
    * `bucket` by `order` (the partitioning the join shuffle needs anyway)
    * and returns (reps, observed) — the first `cap` rows per bucket, which
    * act as the join's left side, and every ranked row. Both carry `rn`.
    *
    * NO SILENT CAPS: `observed` carries an in-flow `observe` node named
    * `name` (zero extra jobs): `capped_buckets` counts buckets crossing
    * the cap (rn == cap+1), `skipped_pairs` sums the (rn - cap - 1)
    * non-rep partners each row past the cap loses — C(size-cap, 2) per
    * bucket. The guard registers `name` with the session listener, which
    * WARNs whenever a run actually capped. */
  private[graft] def hotBucketGuard(rows: DataFrame, name: String,
      bucket: Seq[String], order: String, cap: Int): (DataFrame, DataFrame) = {
    watchGuard(rows.sparkSession, name)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bucket.map(col): _*).orderBy(order)
    val ranked = rows.withColumn("rn", row_number().over(w))
    val observed = ranked.observe(name,
      count(when(col("rn") === cap + 1, lit(1))).as("capped_buckets"),
      coalesce(sum(when(col("rn") > cap,
        (col("rn") - cap - 1).cast("long"))), lit(0L)).as("skipped_pairs"))
    (ranked.filter(col("rn") <= cap), observed)
  }

  /** q141 candidate-volume observability threshold: the exact prefix-filter
    * join must NOT silently cap (exactness is its contract), so a
    * degenerate near-dup-dense corpus surfaces as a WARN on the observed
    * candidate count instead — the operator's cue to route through the
    * approximate LSH path. */
  private[dedup] val SetSimCandidateWarn = 10000000L

  /** Conf key for the ExactSubstr hot-window guard (the q36 hot-bucket
    * discipline applied to 25-gram window hashes). OFF unless set to a
    * positive int — the hash-gated rows (q249/q251/q252) keep EXACT
    * semantics by default. ON is the declared 100 TB knob: a corpus-hot
    * 25-gram (boilerplate header, license block) otherwise fans the
    * aligned×all candidate join out by its full occurrence count. */
  private[graft] val SubstrHotWindowCapKey = "spark.graft.substr.hotWindowCap"

  /** Cap the SOURCE-side fan-out of an ExactSubstr candidate join at the
    * conf-keyed hot-window cap ([[SubstrHotWindowCapKey]]; absent/<=0 =
    * identity, the exactness default). When ON, each window hash keeps
    * only its EARLIEST `cap` source windows (base-before-delta when the
    * `s_delta` column is present, then (src_id, spos) ascending — the
    * occurrences the earlier-occurrence rule prefers, so a true span is
    * missed only when ALL of its earliest `cap` matches are decoys).
    * NO SILENT CAPS: capped_hashes / skipped_windows ride an in-flow
    * observe() node named `substr_guard_<tag>` (tags keep names unique
    * when one query guards several sides), WARNed like every guard's.
    * Its own ranking, not [[hotBucketGuard]]'s: it counts skipped
    * windows, not pair slots. */
  private[graft] def substrSourceGuard(sSide: DataFrame,
      tag: String): DataFrame = {
    val sess = sSide.sparkSession
    val cap = sess.conf.getOption(SubstrHotWindowCapKey)
      .map(_.trim.toInt).getOrElse(0)
    if (cap <= 0) sSide
    else {
      watchGuard(sess, s"substr_guard_$tag")
      val ord =
        (if (sSide.columns.contains("s_delta")) Seq(col("s_delta").asc)
         else Nil) ++ Seq(col("src_id").asc, col("spos").asc)
      // partition by the FULL pair key when h2 rides along:
      // the candidate join keys on (h, h2), so budgeting per h alone
      // would make distinct windows whose 31-bit h values collide share
      // one cap — tighter than the documented per-true-window cap and
      // partially undoing the pair-key collision fix. Same shuffle-key
      // superset, so the exchange shape is unchanged.
      val pcols =
        (if (sSide.columns.contains("h2")) Seq("h", "h2") else Seq("h"))
          .map(col)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pcols: _*).orderBy(ord: _*)
      val ranked = sSide.withColumn("__rn", row_number().over(w))
      val observed = ranked.observe(s"substr_guard_$tag",
        count(when(col("__rn") === cap + 1, lit(1))).as("capped_hashes"),
        coalesce(sum(when(col("__rn") > cap, lit(1L))), lit(0L))
          .as("skipped_windows"))
      observed.filter(col("__rn") <= cap).drop("__rn")
    }
  }

  /** Observe-node names of the guards that ran in this JVM: the listener
    * WARNs on exactly these. */
  private val guardNames = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def watchGuard(s: SparkSession, name: String): Unit = {
    guardNames.add(name)
    ensureGuardListener(s)
  }

  /** One WARN line per execution and guard that actually capped (first
    * metric > 0), named by the guard's observe node and metric columns —
    * the observable trail for a recall-affecting cap — plus q141's
    * candidate-volume WARN. Registered at most once per session. */
  private val guardListenerSessions = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
  private[graft] def ensureGuardListener(s: SparkSession): Unit =
    if (guardListenerSessions.add(s)) {
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          def first(row: org.apache.spark.sql.Row) =
            if (row.isNullAt(0)) 0L else row.getLong(0)
          qe.observedMetrics.foreach { case (name, row) =>
            if (guardNames.contains(name) && first(row) > 0L) {
              val f = row.schema.fieldNames
              log.warn(s"hot-bucket guard [$name] ${f(0)}=${first(row)}, " +
                s"${f(1)}=${row.getLong(1)} — recall differs from the " +
                "unguarded join")
            }
          }
          qe.observedMetrics.get("q141_setsim").map(first)
            .filter(_ > SetSimCandidateWarn).foreach { cands =>
              log.warn(s"q141 prefix-filter join produced $cands candidate " +
                s"rows (> $SetSimCandidateWarn): the corpus is near-dup " +
                "dense enough that the EXACT join approaches quadratic — " +
                "switch to the LSH path (q36/q62) or dedup upstream first")
            }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    }

  /** Asymmetric-containment pairs over any (doc_id, text) frame — the q95
    * dataflow, frame-level for composition (CorpusCurate's containment
    * stage runs it on the near-dup survivors). Candidates come from the
    * q64 DF-capped inverted index (per-gram fan-out ≤ [[MaxGramDf]], never
    * all-pairs); the SOUND `n_shared + min(capped)` bound prunes before
    * the array join; the codegen two-pointer intersect verifies survivors
    * only. Output: (doc_a < doc_b, n_inter, c_ab, c_ba) with
    * max(c_ab, c_ba) >= tau. */
  private[graft] def containmentPairsOf(docs: DataFrame, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // pinned: g feeds the gram explode, the per-doc profile AND both
    // sides of the verify join — unpinned, the tokenize+shingle+hash+
    // sort pass re-ran per consumer (ExplainAudit: documents x12 in
    // q95). The exploded per-doc-DISTINCT gram stream also replaces the
    // r9 raw-shingle re-tokenize: df/n_shared/n_kept now count DISTINCT
    // grams exactly (occurrence counting made the capped-gram prefilter
    // bound only heuristically sound when a doc repeats a shingle —
    // distinct counts make `n_inter <= n_shared + min(capped)` a
    // theorem, since n_inter is a distinct-set intersection).
    val g = hashedGramsOf(docs.select("doc_id", "text"))
      .persist()
    val ex = g.select(col("doc_id"), explode(col("grams_h")).as("gh"))
    // DF cap via ONE window over gh instead of groupBy + join-back: the
    // count per gh over the (doc, gram) stream IS the df (grams are
    // per-doc distinct), one exchange instead of two plus a join. PINNED:
    // three consumers below (both shared-join sides + keptCounts).
    // TRADEOFF (ADVICE r14, applies to every window-form cap in this
    // file): WindowExec buffers every occurrence of a hot gram in ONE
    // partition group before the cap filter drops it, where the old
    // groupBy shrank hot keys with map-side partial aggregation — on a
    // corpus with stopword-shingle skew far beyond the bench SFs, swap
    // back to the groupBy form (values identical either way).
    val kept = ex.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("gh")))
      .filter(col("df") <= MaxGramDf).drop("df")
      .persist()
    // shared-gram COUNTS per candidate pair (q64's agg shape — one
    // gram-keyed shuffle of longs; the count is free relative to the
    // distinct the naive form pays anyway)
    val shared = kept.select(col("gh"), col("doc_id").as("doc_a"))
      .join(kept.select(col("gh"), col("doc_id").as("doc_b")), Seq("gh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    // per-doc gram profile: total distinct grams + how many survived the
    // DF cap (3 ints per doc — the arrays stay out of the wide joins)
    val keptCounts = kept.groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
    val profile = g.select(col("doc_id"), col("n_grams"))
      .join(keptCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    // SOUND prefilter: the index only misses capped-out grams, so
    // n_inter <= n_shared + min(capped_a, capped_b). Pairs that can't
    // reach tau even with every capped gram shared are dropped BEFORE
    // the array join — at sf0.1 this cuts ~1.1M candidates to the
    // handful that can actually qualify (21 s -> ~4 s, beating the
    // DuckDB twin's 92 s on the identical shape either way).
    val cand = shared
      .join(profile.select(col("doc_id").as("doc_a"), col("n_grams").as("na"),
        col("n_kept").as("ka")), Seq("doc_a"))
      .join(profile.select(col("doc_id").as("doc_b"), col("n_grams").as("nb"),
        col("n_kept").as("kb")), Seq("doc_b"))
      .filter((col("n_shared") +
        least(col("na") - col("ka"), col("nb") - col("kb"))).cast("double")
        >= lit(tau) * least(col("na"), col("nb")))
      .select("doc_a", "doc_b")
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("grams_h").as("ga"),
        col("n_grams").as("na")), Seq("doc_a"))
      .join(g.select(col("doc_id").as("doc_b"), col("grams_h").as("gb"),
        col("n_grams").as("nb")), Seq("doc_b"))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("n_inter", expr("graft_intersect_card(ga, gb)").cast("long"))
      .withColumn("c_ab", col("n_inter").cast("double") / col("na"))
      .withColumn("c_ba", col("n_inter").cast("double") / col("nb"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= tau)
      .select("doc_a", "doc_b", "n_inter", "c_ab", "c_ba")
  }

  /** Containment DROP set for dedup composition: per qualifying pair,
    * drop the MORE-CONTAINED doc (the quote, not the host — its content
    * lives inside the survivor); symmetric ties (mutual near-supersets)
    * fall back to the keep-earliest rule. One drop per qualifying pair
    * means no qualifying pair survives intact → the stage is idempotent
    * (CorpusCurateSpec pins it). */
  private[graft] def containmentDrops(docs: DataFrame, tau: Double): DataFrame =
    containmentPairsOf(docs, tau)
      .select(when(col("c_ab") > col("c_ba"), col("doc_a"))
        .when(col("c_ba") > col("c_ab"), col("doc_b"))
        .otherwise(greatest(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()

  /** Per-cluster canonical election shared by q81 (exact edges) and q107
    * (LSH edges): keep the longest member (n_chars desc, doc_id asc
    * tiebreak) — (cluster_id, canonical_doc, members). Shapes: one
    * doc-keyed join against a narrow documents projection + one
    * cluster-keyed window, both proportional to CLUSTERED docs only. */
  private[dedup] def canonicalElection(clusters: DataFrame,
      docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    clusters.join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .withColumn("rn", row_number().over(Window.partitionBy("cluster_id")
        .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .withColumn("members",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_doc"),
        col("members"))
  }

  /** The q203 decontamination stage as a frame-level function — shared
    * verbatim by the batch query and [[graft.streaming.StreamingDecontaminate]]
    * (stateless against a FIXED eval gram set, so batch⇄stream parity is
    * by shared definition, the StreamingScore pattern). `evalGrams` must
    * expose one `gram` column (already distinct). */
  private[graft] def decontaminateAgainst(docs: DataFrame,
      evalGrams: DataFrame): DataFrame = {
    val g = tokenized(docs)
      .select(col("doc_id"), explode(expr(shinglesOfToks)).as("gram"))
    val perDoc = g
      .join(evalGrams.withColumn("hit", lit(1L)), Seq("gram"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("shared_eval_grams"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("shared_eval_grams"), lit(0L)).as("shared_eval_grams"),
        ((coalesce(col("shared_eval_grams"), lit(0L)) * lit(2L) >=
            coalesce(col("n_grams"), lit(0L)) &&
          coalesce(col("n_grams"), lit(0L)) > 0) ||
          coalesce(col("shared_eval_grams"), lit(0L)) >= 8L)
          .cast("long").as("dropped"))
  }

  /** The q203 eval-side gram set for a documents frame (distinct union). */
  private[graft] def evalGramSetOf(docs: DataFrame): DataFrame =
    tokenized(docs)
      .select(explode(expr(shinglesOfToks)).as("gram")).distinct()

  /** Decontamination oracle, shared VERBATIM by q203 (the inline exact
    * form) and q209 (the bloom-pruned serving form): the bloom sketch has
    * no false negatives and the exact semi join removes its false
    * positives, so both queries compute the same relation by construction
    * — one oracle string keeps that claim honest the same way q202 shares
    * q149's. */
  private[dedup] val decontamOracleSql = s"""
      WITH g AS (
        SELECT doc_id,
          ${isEvalSql("doc_id")} AS is_eval,
          ${gramSetSql()} AS grams
        FROM documents),
      ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE is_eval),
      tr AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE NOT is_eval),
      pd AS (
        SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS shared_eval_grams
        FROM tr LEFT JOIN ev ON ev.gram = tr.gram
        GROUP BY tr.doc_id)
      SELECT d.doc_id,
        COALESCE(pd.n_grams, 0) AS n_grams,
        COALESCE(pd.shared_eval_grams, 0) AS shared_eval_grams,
        CAST((COALESCE(pd.shared_eval_grams, 0) * 2 >= COALESCE(pd.n_grams, 0)
              AND COALESCE(pd.n_grams, 0) > 0)
          OR COALESCE(pd.shared_eval_grams, 0) >= 8 AS BIGINT) AS dropped
      FROM (SELECT doc_id FROM g WHERE NOT is_eval) d
      LEFT JOIN pd USING (doc_id)"""

  /** md5-portable MinHash signatures: K 60-bit minhashes per doc over
    * the distinct 3-gram shingles, h_j = min md5(gram || ':' || j) — the
    * engine-portable twin of [[signaturesOf]]'s xxhash64 form, shared by
    * the q36b/q107b hash-gated promotions. Docs without shingles emit no
    * row (same contract as signaturesOf). */
  private[dedup] def md5Signatures(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // r14: all 16 salted md5 slot hashes per gram come from ONE compiled
    // expression ([[graft.functions.Md5Sig16]]) instead of 16 separate
    // md5/substring/conv chains — bit-identical values (Md5Sig16Spec pins
    // parity with the chain form; the DuckDB oracle twin is unchanged),
    // ~5x less per-gram work in the dominant stage of q36b/q107b.
    val grams = tokenized(t(s, d, "documents"))
      .select(col("doc_id"), explode(expr(shinglesOfToks)).as("gram"))
      .select(col("doc_id"), expr("graft_md5_sig16(gram)").as("hs"))
    val sigCols = (0 until K).map { j =>
      min(element_at(col("hs"), j + 1)).as(s"h$j")
    }
    grams.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** (doc_id, band_id, bh) banding of [[md5Signatures]] — band key = md5
    * of the comma-joined slot values, identical text on both engines. */
  private[dedup] def md5Bands(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      val slots = (b * K / Bands until (b + 1) * K / Bands)
        .map(j => col(s"h$j"))
      struct(lit(b).as("band_id"), md5(concat_ws(",", slots: _*)).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_id").as("band_id"),
        col("bb.bh").as("bh"))
  }

  /** The SQL twin of [[md5Signatures]]'s aggregate list (spliced into the
    * q36b/q107b oracles). */
  private[dedup] def md5SigSql: String = (0 until K).map(j =>
    s"MIN(CAST('0x' || substr(md5(gram || ':$j'), 1, 15) AS BIGINT)) AS h$j")
    .mkString(",\n          ")

  /** The SQL twin of [[md5Bands]]'s band-key CASE. */
  private[dedup] def md5BandSql: String = (0 until Bands).map { b =>
    val slots = (b * K / Bands until (b + 1) * K / Bands)
      .map(j => s"h$j").mkString(" || ',' || ")
    s"WHEN $b THEN md5($slots)"
  }.mkString("\n            ")

  /** The three exact near-dup detectors' NORMALIZED pair sets as one
    * tagged frame (m, doc_a, doc_b) with doc_a < doc_b — q167's members
    * and q81's edge source (m = 'jaccard'). Exposed so
    * [[graft.IndexCache.ensureDedupPairs]] can persist it once per corpus
    * (the q104/q105 build-once posture): the three member pipelines are
    * individually scale-audited but COMPOSED-inline they re-ran per
    * invocation, which made q81/q167 the two noisiest bench lines in r07
    * (13 s / 30 s of repeated member work per run). */
  def dedupMethodPairs(s: SparkSession, d: String): DataFrame = {
    def normPairs(df: DataFrame, m: String): DataFrame =
      df.select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct().withColumn("m", lit(m))
    def q(name: String): DataFrame = defs.find(_.name == name).get.fn(s, d)
    normPairs(q("q38_ngram_jaccard").filter(col("jaccard") >= 0.6), "jaccard")
      .union(normPairs(q("q95_containment"), "containment"))
      .union(normPairs(q("q151_winnowing"), "winnowing"))
  }

  // ── ExactSubstr span dedup (Lee et al. 2022, r12) ─────────────────────
  // The EXACT top of the dedup family's exactness ladder: a position p of
  // doc D is DUPLICATED iff some 50-token window containing p occurs
  // earlier in the corpus ((doc, pos) lexicographic) — the span-granular
  // semantics document-level dedup (q35) and approximate span methods
  // (q151 winnowing, q220 CDC) only approximate. Spark NEVER materializes
  // the 50-grams; the oracle pays that brute form (the q139/q141
  // discipline).
  //
  // CANDIDATE BOUND (pigeonhole): any 50-window of D contains a fully
  // 25-ALIGNED block (start ≡ 1 mod 25), and that block matches SOME
  // 25-window of the earlier occurrence at the span's alignment offset δ
  // — so joining D's ALIGNED 25-windows (1/25 of positions) against ALL
  // 25-windows on the source side covers every true span. 25-window
  // hashes for every position come from ONE windowed pass via a modular
  // ROLLING HASH (no 25× string blowup): with prefix weights w(pos) =
  // r^pos mod p (p = 2³¹−1, products stay < 2⁶² — ANSI-safe), the
  // 25-term windowed SUM of h·w is position-free after multiplying by
  // r^{−pos} mod p (broadcast power table, one row per token position).
  // Hash equality only PROPOSES (doc, src, δ) alignments — collisions
  // add candidates, never results.
  //
  // VERIFICATION is exact and relational: per candidate alignment, join
  // the two token streams at offset δ, flag equality, and find maximal
  // equal runs with the gaps-and-islands rank; runs ≥ 50 mark their D
  // positions covered (every position of a ≥50 run lies in some
  // 50-window inside it, so run-coverage ≡ window-coverage exactly).
  // Windows partition by (doc, src, δ) — many small groups, no
  // single-partition window. Self-alignments (src = doc, δ > 0) handle
  // repeated spans WITHIN a doc; the earlier copy survives, exactly as
  // the first-occurrence rule dictates. ExactSubstrSpec pins adversarial
  // forms (overlap, periodic text, within-doc repeats) against a brute
  // Scala replica.
  //
  // 100 TB: the aligned×all join shuffles (hash, doc, pos) triples; a
  // corpus-hot 25-gram (boilerplate) inflates its bucket — the
  // mitigation is [[substrSourceGuard]], the q36 hot-bucket rep cap on
  // the source side (conf-keyed via [[SubstrHotWindowCapKey]]; OFF by
  // default so the hash-gated rows stay exact, ON as the declared
  // 100 TB knob with observe() metrics + WARN), or suffix-array
  // sharding; the fixture corpus needs neither. Hash width: h is 31-bit
  // (mod 2³¹−1), so past ~2¹⁶ windows per value BIRTHDAY collisions —
  // not just hot grams — start inflating buckets (exactness is safe,
  // verification is token-exact; only candidate mass grows). The 100 TB
  // form widens the hash — a 61-bit Mersenne prime modulus, or pairing
  // two independent 31-bit hashes as the join key — keeping every
  // product below the 2⁶³ ANSI bound via the same r^pos weight algebra.
  private[dedup] val SpanLen = 50
  private[dedup] val BlockLen = 25
  private val HashP = 2147483647L // 2^31 - 1
  private val HashR = 1000003L
  // Second independent rolling hash (r13): the candidate join keys on
  // the PAIR (h, h2) — two independent 31-bit hashes ≈ one 62-bit hash,
  // pushing the birthday-collision regime from ~2^16 to ~2^31 windows
  // per bucket (the documented 100 TB widening, now implemented).
  // Independence comes from a different xxhash64 seed on the token AND
  // a different base; exactness is untouched either way (verification
  // is token-exact; collisions only ever ADD candidates) — the pair key
  // strictly SHRINKS candidate mass for one extra windowed sum.
  // Bucketed layouts keep bucketing by h alone: HashPartitioning(h)
  // satisfies ClusteredDistribution(h, h2), so index-side scans stay
  // exchange-free under the pair join.
  private val HashR2 = 1000033L

  private def modpow(b: Long, e: Long, m: Long): Long = {
    var r = 1L; var bb = b % m; var ee = e
    while (ee > 0) {
      if ((ee & 1) == 1) r = r * bb % m
      bb = bb * bb % m; ee >>= 1
    }
    r
  }

  private[dedup] def exactSubstrDedup(s: SparkSession, d: String): DataFrame =
    exactSubstrCore(s, d, incremental = false)

  /** q251: the INCREMENTAL form — output only the DELTA docs (the q149
    * md5 split: ~10% of the corpus plays the new-batch role), "earlier"
    * meaning ALL of base precedes all of delta (the standing corpus was
    * there first), then delta by (doc_id, pos) as in q249. The D side
    * (aligned candidate windows + verification streams) is DELTA-sized;
    * the source side reads the full corpus — at 100 TB that side is a
    * persisted window-hash index (the SetSimIndex pattern; documented
    * seam, not half-built). */
  private[dedup] def exactSubstrIncremental(s: SparkSession,
      d: String): DataFrame = exactSubstrCore(s, d, incremental = true)

  private def exactSubstrCore(s: SparkSession, d: String,
      incremental: Boolean): DataFrame = {
    val docs0 = t(s, d, "documents")
    val docs = docs0.withColumn("is_delta", isDelta)
    // pinned: ONE corpus tokenize pass — the row-form token stream feeds
    // the window hashing (via the h25 pin), BOTH verification sides, and
    // nothing else re-reads documents except the final narrow length join
    val toks = substrTokens(docs, Seq("is_delta")).localCheckpoint(true)
    val powers = substrPowers(s, substrMaxLen(toks))
    val h25 = substrWindowHashes(toks, powers, Seq("is_delta"))
      .localCheckpoint(true) // feeds BOTH join sides — one hashing pass
    // q249: "earlier" = (doc_id, pos) lexicographic. q251 (incremental):
    // ALL of base precedes all of delta — a base source wins regardless
    // of numeric id — then delta-vs-delta falls back to the q249 order.
    // The D (candidate) side restricts to delta in the incremental form,
    // so base-vs-base pairs never generate.
    val dSide = h25.filter(pmod(col("pos") - 1, lit(BlockLen)) === 0)
      .filter(if (incremental) col("is_delta") else lit(true))
      .select(col("doc_id"), col("pos").as("dpos"), col("h"), col("h2"))
    val sSide = substrSourceGuard(
      h25.select(col("doc_id").as("src_id"),
        col("is_delta").as("s_delta"), col("pos").as("spos"),
        col("h"), col("h2")),
      if (incremental) "incr" else "core")
    val q249Order = col("src_id") < col("doc_id") ||
      (col("src_id") === col("doc_id") && col("spos") < col("dpos"))
    val cand = dSide.join(sSide, Seq("h", "h2"))
      .filter(if (incremental) !col("s_delta") || q249Order else q249Order)
      .select(col("doc_id"), col("src_id"),
        (col("dpos") - col("spos")).as("delta"))
      .distinct()
    val plain = toks.drop("is_delta")
    val cov = substrCoverage(cand, plain, plain)
    docs.filter(if (incremental) col("is_delta") else lit(true))
      .select(col("doc_id"),
        size(TextSignals.words(col("text"))).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("nd"), lit(0L)).as("n_dup_tokens"),
        (col("n_tokens") - coalesce(col("nd"), lit(0L))).as("n_kept_tokens"))
  }

  // ── factored ExactSubstr kernels (shared with SubstrIndex, r12) ──────

  /** Row-form token stream (doc_id, [passthrough...,] pos, tok) of a
    * (doc_id, text, ...) frame — 1-based positions, empty tokens dropped
    * (the family's tokenization contract). */
  private[dedup] def substrTokens(docs: DataFrame,
      passthrough: Seq[String] = Nil): DataFrame =
    docs
      .select((col("doc_id") +: passthrough.map(col)) :+
        posexplode(TextSignals.words(col("text"))): _*)
      .select((col("doc_id") +: passthrough.map(col)) ++
        Seq((col("pos") + 1).as("pos"), col("col").as("tok")): _*)

  /** Bounded driver state: max token position (= max doc length) off a
    * token frame; 1 on an all-empty corpus. */
  private[dedup] def substrMaxLen(toks: DataFrame): Long = {
    val r = toks.agg(max(col("pos"))).collect()(0)
    (if (r.isNullAt(0)) 1L else r.getInt(0).toLong) max 1L
  }

  /** Broadcast power table (pos, r^pos, r^-pos, r2^pos, r2^-pos — all
    * mod p) sized to `maxLen` — position weights for BOTH rolling
    * hashes of the pair key. */
  private[dedup] def substrPowers(s: SparkSession, maxLen: Long): DataFrame = {
    val rInv = modpow(HashR, HashP - 2, HashP)
    val r2Inv = modpow(HashR2, HashP - 2, HashP)
    val rows = (1L to maxLen).scanLeft((0L, 1L, 1L, 1L, 1L)) {
      case ((_, rp, ri, rp2, ri2), i) =>
        (i, rp * HashR % HashP, ri * rInv % HashP,
          rp2 * HashR2 % HashP, ri2 * r2Inv % HashP)
    }.tail
    import s.implicits._
    broadcast(rows.toDF("pos", "rp", "ri", "rp2", "ri2"))
  }

  /** 25-token window hash PAIR at EVERY position of every doc, in ONE
    * windowed pass: (doc_id, [passthrough...,] pos, h, h2). Each hash is
    * a pure function of window CONTENT (position weights cancel via the
    * r^-pos factor), so hashes computed in different jobs/builds — e.g.
    * a persisted index vs a fresh probe — are comparable by value; the
    * pair (h, h2) is the candidate-join key (see [[HashR2]]). Both
    * windowed sums ride the same frame — one pass either way. */
  private[dedup] def substrWindowHashes(toks: DataFrame, powers: DataFrame,
      passthrough: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wWin = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, BlockLen - 1)
    val nWin = Window.partitionBy("doc_id")
    toks.join(powers, Seq("pos"))
      .withColumn("hw", pmod(xxhash64(col("tok")), lit(HashP)) * col("rp")
        % lit(HashP))
      .withColumn("hw2",
        pmod(xxhash64(col("tok"), lit(1)), lit(HashP)) * col("rp2")
          % lit(HashP))
      .withColumn("g", sum(col("hw")).over(wWin)) // ≤ 25·2³¹ < 2³⁶
      .withColumn("g2", sum(col("hw2")).over(wWin))
      .withColumn("n", count(lit(1)).over(nWin))
      .filter(col("pos") <= col("n") - lit(BlockLen - 1))
      .select((col("doc_id") +: passthrough.map(col)) ++
        Seq(col("pos"),
          (pmod(col("g"), lit(HashP)) * col("ri") % lit(HashP)).as("h"),
          (pmod(col("g2"), lit(HashP)) * col("ri2") % lit(HashP))
            .as("h2")): _*)
  }

  /** EXACT verification + coverage: candidate alignments (doc_id,
    * src_id, delta) against the two token streams → (doc_id, nd) covered
    * position counts. Gaps-and-islands equal runs, runs ≥ [[SpanLen]]
    * cover their positions; windows partition by (doc, src, δ) — many
    * small groups, never single-partition.
    *
    * Coverage counting is a per-doc INTERVAL UNION (r13): qualifying
    * islands [lo, hi] sort by lo within doc, a running max of prior
    * `hi` opens a new group exactly when intervals stop touching, and
    * each merged group contributes max(hi) − min(lo) + 1 positions.
    * Row mass is ISLANDS, not positions — the prior
    * explode(sequence(lo, hi)) + distinct form materialized one row per
    * covered position, which on worst-case-duplicated corpora (every
    * position covered, the measured x10 datapoint) is corpus-sized and
    * dominated the whole family. The union is the same count by
    * construction: merged groups partition the covered-position set. */
  private[dedup] def substrCoverage(cand: DataFrame, dToks: DataFrame,
      sToks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dt = cand.join(dToks, Seq("doc_id"))
      .withColumn("mpos", col("pos") - col("delta"))
    val st = sToks.select(col("doc_id").as("src_id"),
      col("pos").as("mpos"), col("tok").as("stok"))
    val eq = dt.join(st, Seq("src_id", "mpos"))
      .filter(col("tok") === col("stok"))
    val runWin = Window.partitionBy("doc_id", "src_id", "delta")
      .orderBy("pos")
    val spans = eq.withColumn("isl", col("pos") - row_number().over(runWin))
      .groupBy("doc_id", "src_id", "delta", "isl")
      .agg(min("pos").as("lo"), max("pos").as("hi"))
      .filter(col("hi") - col("lo") >= lit(SpanLen - 1))
      .select("doc_id", "lo", "hi")
    // doc-keyed island-mass window (many small groups); integer positions
    // make "touching" intervals ([1,5],[6,10]) safe to keep separate or
    // merge — either way the group sums partition the covered set
    val ordWin = Window.partitionBy("doc_id").orderBy("lo", "hi")
    val prevHi = max(col("hi"))
      .over(ordWin.rowsBetween(Window.unboundedPreceding, -1))
    spans
      .withColumn("newgrp",
        when(prevHi.isNull || col("lo") > prevHi, 1L).otherwise(0L))
      .withColumn("grp", sum(col("newgrp"))
        .over(ordWin.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp")
      .agg((max("hi") - min("lo") + lit(1L)).as("cov"))
      .groupBy("doc_id").agg(sum("cov").as("nd"))
  }

  /** Shared oracle for q251 (inline incremental) and q252 (the same
    * semantics served from the persisted window-hash index): brute
    * all-50-grams with base-first ordering, delta rows only. */
  private val exactSubstrIncrOracle: String = s"""
      WITH tkt AS (
        SELECT doc_id,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '19' AS is_delta,
          ${TextSignals.wordsSql()} AS tk
        FROM documents),
      g AS (
        SELECT doc_id, is_delta, s.pos AS pos, s.gram AS gram FROM (
          SELECT doc_id, is_delta,
            unnest(list_transform(range(1, len(tk) - 48),
              i -> struct_pack(pos := i,
                gram := array_to_string(tk[i:i+49], ' ')))) AS s
          FROM tkt WHERE len(tk) >= 50)),
      f AS (
        SELECT doc_id, is_delta, pos,
          row_number() OVER (PARTITION BY gram
            ORDER BY is_delta ASC, doc_id, pos) AS rn
        FROM g),
      cov AS (
        SELECT DISTINCT doc_id, upos FROM (
          SELECT doc_id, unnest(range(pos, pos + 50)) AS upos
          FROM f WHERE rn > 1 AND is_delta)),
      cv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd
             FROM cov GROUP BY 1)
      SELECT t.doc_id,
        CAST(len(t.tk) AS BIGINT) AS n_tokens,
        COALESCE(cv.nd, 0) AS n_dup_tokens,
        CAST(len(t.tk) AS BIGINT) - COALESCE(cv.nd, 0) AS n_kept_tokens
      FROM tkt t LEFT JOIN cv USING (doc_id)
      WHERE t.is_delta"""

  /** Shared oracle for q149 (inline delta-vs-base set-sim join) and q202
    * (the same pairs served from the persisted [[SetSimIndex]]): brute
    * all delta × base string-set Jaccard ≥ 0.5. */
  private val setSimIncrOracle: String = s"""
      WITH g AS (
        SELECT doc_id,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '19' AS is_delta,
          ${gramSetSql()} AS grams
        FROM documents),
      ${setSimPairsSql("(NOT a.is_delta) AND b.is_delta")}"""

  val defs: Seq[QueryDef] = Seq(

    // ── ExactSubstr span dedup (see exactSubstrDedup block scaladoc) ───
    QueryDef("q249_exact_substr", (s, d) => exactSubstrDedup(s, d), Some(s"""
      WITH tkt AS (
        SELECT doc_id, ${TextSignals.wordsSql()} AS tk
        FROM documents),
      g AS (
        SELECT doc_id, s.pos AS pos, s.gram AS gram FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(tk) - 48),
            i -> struct_pack(pos := i,
              gram := array_to_string(tk[i:i+49], ' ')))) AS s
          FROM tkt WHERE len(tk) >= 50)),
      f AS (
        SELECT doc_id, pos,
          row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        FROM g),
      cov AS (
        SELECT DISTINCT doc_id, upos FROM (
          SELECT doc_id, unnest(range(pos, pos + 50)) AS upos
          FROM f WHERE rn > 1)),
      cv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd
             FROM cov GROUP BY 1)
      SELECT t.doc_id,
        CAST(len(t.tk) AS BIGINT) AS n_tokens,
        COALESCE(cv.nd, 0) AS n_dup_tokens,
        CAST(len(t.tk) AS BIGINT) - COALESCE(cv.nd, 0) AS n_kept_tokens
      FROM tkt t LEFT JOIN cv USING (doc_id)"""),
      notes = "ExactSubstr span dedup (Lee et al.): a position is duplicated iff a 50-token window containing it occurs earlier in the corpus — EXACT semantics via pigeonhole aligned-25-block candidates (rolling-hash windows, one pass) + relational equal-run verification; oracle pays the brute all-50-grams form"),

    // ── ExactSubstr, INCREMENTAL form (the q149 discipline) ────────────
    QueryDef("q251_exact_substr_incremental",
      (s, d) => exactSubstrIncremental(s, d), Some(exactSubstrIncrOracle),
      notes = "incremental ExactSubstr (the q149 md5 delta split): per NEW doc, positions inside a >=50-token span present in the STANDING corpus (all of base precedes all of delta) or an earlier delta doc; candidate + verification sides are delta-sized, the source side is the corpus read that a persisted window-hash index would replace at scale"),

    // ── ExactSubstr, SCALE PATH (persisted window-hash index) ──────────
    // q251 served from the STANDING structure — the anchor→scale-twin
    // rule (q141→q149→q202, q40→q105) applied to the newest family:
    // q251 re-hashes the whole standing corpus's windows every batch;
    // here the base windows are READ from `<name>_windows`, the bucketed
    // table [[SubstrIndex.build]] persisted (h-keyed, so the candidate
    // join shuffles only the delta side), and only DELTA windows hash
    // fresh. Verification still reads source tokens — exact, collision-
    // immune. Same semantics as q251 BY CONSTRUCTION (the window hash is
    // content-pure, so stored and fresh hashes are comparable by value),
    // so the SAME oracle hash-gates the stored layout; SubstrIndexSpec
    // additionally pins q252 == q251 row-for-row and append+probe ==
    // rebuild+probe.
    QueryDef("q252_exact_substr_indexed", (s, d) => {
      val name = graft.IndexCache.ensureSubstrIndex(s, d)
      val docs = t(s, d, "documents").withColumn("is_delta", isDelta)
      SubstrIndex.probe(s, name,
        docs.filter(col("is_delta")).drop("is_delta"),
        docs.filter(!col("is_delta")).drop("is_delta"))
    }, Some(exactSubstrIncrOracle),
      notes = "incremental ExactSubstr served from the persisted window-hash index (bucketed by h; only delta windows hash fresh, base windows are a bucketed scan, verification reads source tokens exactly); content-pure hashing makes stored==fresh by value, so q251's oracle hash-gates the stored layout verbatim"),

    // ── Exact dedup: hash-groupBy fingerprint clusters ─────────────────
    QueryDef("q35_dedup_exact", (s, d) => {
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper_doc_id"),
          count(lit(1)).as("cluster_size"))
    }, Some("""
      SELECT md5(text) AS fp,
             MIN(doc_id) AS keeper_doc_id,
             COUNT(*) AS cluster_size
      FROM documents GROUP BY md5(text)"""),
      notes = "exact dedup via content-hash groupBy; keeper = min doc_id"),

    // ── MinHash signatures + LSH banding (b=4, r=4) ────────────────────
    QueryDef("q36_minhash_lsh", (s, d) => {
      val sig = signatures(s, d)
      val pairs = lshCandidatePairs(sig)
      // per-doc summary (stable one-row-per-doc output): candidate count +
      // sig head. Base is the full documents table — docs whose shingle set
      // is empty (<=2 tokens) have no sig rows but must still appear.
      val candCount = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      t(s, d, "documents").select(col("doc_id"))
        .join(sig, Seq("doc_id"), "left_outer")
        .join(candCount, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("h0").as("sig0"), col("h1").as("sig1"))
    }, None,
      notes = "MinHash(k=16)+LSH(b=4,r=4) candidate generation; rows-only (hash fns engine-specific)"),

    // ── SimHash (64-bit, explode + one shuffle keyed by doc) ───────────
    QueryDef("q37_simhash", (s, d) => {
      val tokens = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      val bitCols = (0 until 64).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1)
          .otherwise(-1)).as(s"b$i")
      }
      val bitSums = tokens.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
      val sim = (0 until 64).map { i =>
        when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
      }.reduce(_.bitwiseOR(_))
      bitSums.select(col("doc_id"), sim.as("simhash"))
    }, None,
      notes = "64-bit SimHash from token-hash bit votes; rows-only (xxhash64 engine-specific)"),

    // ── n-gram Jaccard within source groups (exact, set-based) ─────────
    // q38 keeps its lazy gram pin: the harness's clearCache reclaims it.
    QueryDef("q38_ngram_jaccard", (s, d) => {
      guardBruteForce(s, d, "q38_ngram_jaccard")
      ngramJaccard(hashedGrams(s, d).persist())
    },
      Some(s"""
      WITH g AS (
        SELECT doc_id, source,
          ${gramSetSql()} AS grams
        FROM documents)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        ${jaccardSql("a", "b")}
          AS jaccard
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
                        AND len(a.grams) + len(b.grams) > 0"""),
      notes = "exact 3-gram Jaccard, blocked by source (LSH is the scale path, q36)"),

    // ── Duplicate-cluster resolution (connected components) ────────────
    // The missing last step of near-dedup: pairs → clusters. Edges are the
    // exact-Jaccard pairs at ≥ 0.6 (deterministic on both engines — q38's
    // jaccard values hash-match, so the threshold filter agrees), clusters
    // via iterative min-label propagation (DedupClusters). The oracle walks
    // the same graph with a recursive CTE — tractable at oracle scale,
    // while the Spark loop is the 100 TB form.
    QueryDef("q57_dup_clusters", (s, d) => Pins.scope { pins =>
      // CC consumes the q38 pair pipeline EAGERLY (bounded take or
      // iterative loop), so the gram pin is scoped to this call.
      guardBruteForce(s, d, "q38_ngram_jaccard")
      val jac = ngramJaccard(pins.persist(hashedGrams(s, d)))
      DedupClusters.connectedComponents(
        jac.filter(col("jaccard") >= 0.6).select("doc_a", "doc_b"))
    }, Some(s"""
      WITH RECURSIVE g AS (
        SELECT doc_id, source,
          ${gramSetSql()} AS grams
        FROM documents),
      pairs AS ($sourcePairsSql),
      ${DedupClusters.reachSql("pairs")}
      ${DedupClusters.clusterLabelSql}"""),
      notes = "near-dup clusters: min-label-propagation CC over jaccard>=0.6 pairs"),

    // ── Duplicate-cluster resolution, SCALE PATH (LSH-fed) ─────────────
    // The end-to-end 100 TB dedup pipeline: LSH candidate generation
    // (q36's guarded bucket join — O(docs) signature shuffle, bounded
    // bucket self-join) → exact Jaccard verification of CANDIDATES ONLY
    // (O(candidates) gram-set joins, never all pairs) → connected
    // components. q57 is the exactness twin: same verify threshold, but
    // its edges come from the exact all-pairs-within-source join, so q57
    // finds every >=0.6 pair while this path misses only LSH recall
    // losses (pairs whose 16-slot signatures disagree on all 4 bands) and
    // additionally CATCHES cross-source near-dups q57's source blocking
    // skips. Parity is pinned by DedupClustersLshSpec.
    QueryDef("q62_dup_clusters_lsh", (s, d) => Pins.scope { pins =>
      // Pins: band self-join reads signatures twice, verify reads the
      // gram sets twice (the q36b/q141 staging discipline). CC consumes
      // the edges EAGERLY (bounded take or iterative loop), so the pins
      // are scoped to this call.
      val sigs = pins.persist(signatures(s, d))
      val grams = pins.persist(hashedGrams(s, d))
      DedupClusters.connectedComponents(
        SetSimIndex.verify(lshCandidatePairs(sigs), grams, 0.6))
    }, None,
      notes = "scale-path near-dup clusters: LSH candidates -> exact verify (candidates only) -> CC; rows-only (band hashes engine-specific)"),

    // ── Benchmark-contamination check (train ↔ eval n-gram collisions) ─
    // The training-pipeline op that guards eval integrity: for every doc in
    // a deterministic held-out set (q51's md5 split), find the training doc
    // sharing the most 3-gram shingles. Plan shape at 100 TB: one
    // gram-hash-keyed shuffle join (the inverted index), with fan-out per
    // gram BOUNDED by the document-frequency cap — without it one stopword
    // trigram joins every doc against every eval doc. Spark joins on
    // xxhash64(gram) (primitive longs through the shuffle); the oracle
    // joins the gram strings — identical counts modulo 2^-64 collisions,
    // the same argument as q38.
    QueryDef("q64_contamination", (s, d) => {
      // PINNED: one explode+hash pass serves the eval and train
      // splits (it ran 3x unpinned — ev, tr's cap agg, tr's join side).
      val grams = tokenized(t(s, d, "documents"))
        .select(col("doc_id"), isEval(col("doc_id")).as("is_eval"),
          explode(expr(shinglesOfToks)).as("gram"))
        .select(col("doc_id"), col("is_eval"), xxhash64(col("gram")).as("g"))
        .persist()
      val ev = grams.filter(col("is_eval")).select(col("doc_id").as("eval_doc"), col("g"))
      // DF cap: grams present in > MaxGramDf training docs are both noise
      // (stopword-ish shingles) and unbounded join fan-out — drop them.
      // (train_doc, g) rows are per-doc DISTINCT, so the per-g row count
      // IS countDistinct(train_doc) — one window over g instead of a
      // groupBy + join-back (the q141 rewrite; skew tradeoff noted at
      // the q95 cap site).
      val tr = grams.filter(!col("is_eval"))
        .select(col("doc_id").as("train_doc"), col("g"))
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("g")))
        .filter(col("df") <= MaxGramDf).drop("df")
      val shared = tr.join(ev, "g")
        .groupBy("eval_doc", "train_doc")
        .agg(count(lit(1)).as("n_shared"))
      val top = shared.withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("eval_doc")
            .orderBy(col("n_shared").desc, col("train_doc").asc)))
        .filter(col("rn") === 1).drop("rn")
      // per-eval-doc distinct-gram counts from the pinned gram rows (the
      // rows ARE the distinct grams) instead of re-tokenizing documents;
      // zero-gram docs are absent from both sides of the inner join either
      // way.
      val evalSizes = ev.groupBy("eval_doc")
        .agg(count(lit(1)).as("n_eval_grams"))
      top.join(evalSizes, Seq("eval_doc"))
        .select(col("eval_doc"), col("train_doc"), col("n_shared"),
          // eval docs with zero grams never emit gram rows, so n_eval_grams
          // here is always > 0 — the division is total
          (col("n_shared").cast("double") / col("n_eval_grams")).as("overlap"))
    }, Some(s"""
      WITH g AS (
        SELECT doc_id,
          ${gramSetSql()} AS grams
        FROM documents),
      ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      ev AS (SELECT doc_id AS eval_doc, gram FROM ex
             WHERE ${isEvalSql("doc_id")}),
      tr AS (SELECT doc_id AS train_doc, gram FROM ex
             WHERE ${isTrainSql("doc_id")}),
      keep AS (SELECT gram FROM tr GROUP BY gram
               HAVING count(DISTINCT train_doc) <= 64),
      shared AS (
        SELECT ev.eval_doc, tr.train_doc, CAST(count(*) AS BIGINT) AS n_shared
        FROM tr JOIN keep USING (gram) JOIN ev USING (gram)
        GROUP BY 1, 2),
      ranked AS (
        SELECT eval_doc, train_doc, n_shared,
          row_number() OVER (PARTITION BY eval_doc
            ORDER BY n_shared DESC, train_doc ASC) AS rn
        FROM shared)
      SELECT r.eval_doc, r.train_doc, r.n_shared,
        CAST(r.n_shared AS DOUBLE) / len(g.grams) AS overlap
      FROM ranked r JOIN g ON g.doc_id = r.eval_doc
      WHERE r.rn = 1"""),
      notes = "eval-set contamination: top contaminating train doc per eval doc via DF-capped 3-gram collision join"),

    // ── Incremental dedup (new batch vs existing corpus) ───────────────
    // The most common production dedup shape: an arriving batch admits
    // only docs whose normalized fingerprint is (a) absent from the
    // already-clean base — LEFT ANTI join on fp, shuffles fingerprints
    // not documents — and (b) not claimed by an earlier doc within the
    // batch itself (min-doc_id window, WindowGroupLimit-optimized). The
    // batch/base split is the q51 hash split, so the scenario is
    // reproducible cross-engine. At 100 TB the base side is a
    // fingerprint-bucketed table: the anti join then runs exchange-free on
    // the base side against the bucketed layout (LakeCatalog.saveTable
    // bucketing; plan-asserted by BucketedJoinSpec's q70 case).
    QueryDef("q70_incremental_dedup", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("fp", TextSignals.normalizedFingerprint(col("text")))
        .withColumn("is_batch",
          substring(md5(col("doc_id").cast("string")), 1, 2) <= "28")
      val base = docs.filter(!col("is_batch"))
      val batch = docs.filter(col("is_batch"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      batch.join(base.select("fp").distinct(), Seq("fp"), "left_anti")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("fp"))
    }, Some("""
      WITH f AS (
        SELECT doc_id, source,
          md5(lower(replace(text, ' ', ''))) AS fp,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '28' AS is_batch
        FROM documents),
      fresh AS (
        SELECT b.doc_id, b.source, b.fp
        FROM f b
        WHERE b.is_batch AND NOT EXISTS (
          SELECT 1 FROM f ba WHERE NOT ba.is_batch AND ba.fp = b.fp)),
      ranked AS (
        SELECT doc_id, source, fp,
          row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM fresh)
      SELECT doc_id, source, fp FROM ranked WHERE rn = 1"""),
      notes = "incremental batch-vs-base exact dedup: anti-join on fingerprint + within-batch min-id winner"),

    // ── Intra-document repetition (Gopher-style duplicate-gram fraction) ─
    // The within-doc counterpart of near-dedup: fraction of 3-gram slots
    // occupied by a repeated gram. A doc of n tokens has n-2 gram slots;
    // rep_fraction = 1 - distinct/total. Narrow scan-project, no shuffle —
    // the same single-pass shape as the q30/q31 quality signals.
    QueryDef("q65_repetition", (s, d) => {
      val nTok = size(col("__toks"))
      val total = greatest(nTok - lit(2), lit(0)).cast("long")
      val distinctG = expr(s"size($shinglesOfToks)").cast("long")
      tokenized(t(s, d, "documents")).select(
        col("doc_id"),
        total.as("n_grams_total"),
        distinctG.as("n_grams_distinct"),
        when(total > 0,
          lit(1.0) - distinctG.cast("double") / total.cast("double"))
          .otherwise(lit(0.0)).as("rep_fraction"))
    }, Some(s"""
      SELECT doc_id,
        CAST(greatest(len(string_split(text, ' ')) - 2, 0) AS BIGINT)
          AS n_grams_total,
        CAST(len(${gramSetSql()}) AS BIGINT) AS n_grams_distinct,
        CASE WHEN len(string_split(text, ' ')) - 2 > 0
          THEN 1.0 - CAST(len(${gramSetSql()}) AS DOUBLE)
            / (len(string_split(text, ' ')) - 2)
          ELSE 0.0 END AS rep_fraction
      FROM documents"""),
      notes = "duplicate 3-gram fraction per doc (repetition quality filter); narrow map, no shuffle"),

    // ── Canonical-document selection per near-dup cluster ──────────────
    // The step AFTER clustering that q57/q62 stop short of: a dedup
    // pipeline doesn't just name clusters, it elects one survivor per
    // cluster and drops the rest. Policy here: keep the longest member
    // (n_chars desc, doc_id asc tiebreak) — "longest wins" is the common
    // retention rule because near-dup shorter members are usually
    // truncations. Output is the per-cluster keep decision: (cluster_id,
    // canonical_doc, members). Shapes on top of the q57 edges: one
    // doc_id-keyed join against the (narrow) documents projection, one
    // cluster-keyed window — both proportional to CLUSTERED docs only,
    // a vanishing fraction of the corpus. The edge source composes: this
    // uses q38's exact pairs (the guarded exactness twin, so the oracle
    // can follow); at 100 TB the same two stages run unchanged on q62's
    // LSH-fed clusters.
    QueryDef("q81_cluster_canonical", (s, d) => {
      // edges from the PERSISTED pair tables (IndexCache build-once, the
      // q104/q105 posture): result-identical to deriving q38 inline —
      // the pair set is a deterministic corpus function — but the member
      // pipeline no longer re-runs inside every CC iteration's lineage
      val pairs = s.read.parquet(graft.IndexCache.ensureDedupPairs(s, d))
        .filter(col("m") === "jaccard")
        .select("doc_a", "doc_b")
      canonicalElection(DedupClusters.connectedComponents(pairs),
        t(s, d, "documents"))
    }, Some(s"""
      WITH RECURSIVE g AS (
        SELECT doc_id, source,
          ${gramSetSql()} AS grams
        FROM documents),
      pairs AS ($sourcePairsSql),
      ${DedupClusters.reachSql("pairs")},
      clusters AS (
        ${DedupClusters.clusterLabelSql}),
      ranked AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
          row_number() OVER (PARTITION BY c.cluster_id
            ORDER BY d.n_chars DESC, c.doc_id) AS rn,
          CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS members
        FROM clusters c JOIN documents d USING (doc_id))
      SELECT cluster_id, doc_id AS canonical_doc, members
      FROM ranked WHERE rn = 1"""),
      notes = "per-cluster survivor election (longest member wins, deterministic tiebreak) over q57's exact near-dup clusters"),

    // ── Cross-source overlap matrix (corpus contamination audit) ───────
    // q64 answers "is my EVAL set in my training data"; this answers the
    // corpus-level question "how much do my SOURCES overlap each other" —
    // the audit run before mixing crawls that share upstream origins.
    // Key: the q80 prefix fingerprint widened to 15 tokens (boilerplate/
    // mirror detection). Shape: fingerprints aggregate per (fp, source)
    // FIRST — so the self-join fans out per fp over at most |sources|
    // rows, never over document rows (a fp shared by every source costs
    // |sources|² pair rows, bounded by the catalog dimension, not the
    // corpus) — then one fp-keyed shuffle join + a pair-keyed agg.
    // n_doc_pairs = Σ cnt_a·cnt_b counts document-level collisions
    // without ever materializing document pairs.
    QueryDef("q93_source_overlap", (s, d) => {
      val toks = TextSignals.words(col("text"))
      val g = t(s, d, "documents")
        .select(col("source"), md5(array_join(slice(toks, 1, 15), " ")).as("fp"))
        .groupBy("fp", "source").agg(count(lit(1)).as("cnt"))
      val a = g.select(col("fp"), col("source").as("source_a"), col("cnt").as("cnt_a"))
      val b = g.select(col("fp"), col("source").as("source_b"), col("cnt").as("cnt_b"))
      a.join(b, Seq("fp"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_shared_fps"),
          sum(col("cnt_a") * col("cnt_b")).as("n_doc_pairs"))
    }, Some(s"""
      WITH f AS (
        SELECT source,
          md5(array_to_string(
            ${TextSignals.wordsSql()}[1:15], ' '))
            AS fp
        FROM documents),
      g AS (SELECT fp, source, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM f GROUP BY 1, 2)
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(COUNT(*) AS BIGINT) AS n_shared_fps,
        CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS n_doc_pairs
      FROM g a JOIN g b ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2"""),
      notes = "pairwise source-overlap matrix on 15-token prefix fingerprints; (fp,source) pre-agg bounds the self-join fan-out by |sources|, not documents"),

    // ── Asymmetric containment (near-superset / quote detection) ───────
    // q38's Jaccard is SYMMETRIC: a short doc quoted inside a long one
    // scores |A|/|B| ≈ 0 and slips through. Containment C(A→B) =
    // |A∩B|/|A| is the asymmetric fix (the suffix-dedup motivation from
    // the dedup literature): a contained quote scores 1.0 regardless of
    // the host's length. Candidates come from the q64 DF-capped inverted
    // index — shared-gram collisions, fan-out ≤ MaxGramDf per gram, NOT
    // all-pairs — then the exact verify joins gram arrays back for only
    // the candidate ids and computes both directions with the codegen
    // two-pointer intersect. On the sf0.01 corpus every τ≥0.8 hit is
    // genuinely asymmetric (max-side containment < 1): pairs q38 cannot
    // see. Shapes: gram-keyed shuffles + id-keyed candidate dedup; no
    // quadratic stage.
    QueryDef("q95_containment",
      (s, d) => containmentPairsOf(t(s, d, "documents"), 0.8), Some(s"""
      WITH g AS (
        SELECT doc_id,
          ${gramSetSql()} AS grams
        FROM documents),
      ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      keep AS (SELECT gram FROM ex GROUP BY gram
               HAVING count(DISTINCT doc_id) <= 64),
      k AS (SELECT doc_id, gram FROM ex JOIN keep USING (gram)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM k a JOIN k b USING (gram) WHERE a.doc_id < b.doc_id),
      v AS (
        SELECT c.doc_a, c.doc_b,
          CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) AS n_inter,
          len(ga.grams) AS na, len(gb.grams) AS nb
        FROM cand c
        JOIN g ga ON ga.doc_id = c.doc_a
        JOIN g gb ON gb.doc_id = c.doc_b
        WHERE len(ga.grams) > 0 AND len(gb.grams) > 0)
      SELECT doc_a, doc_b, n_inter,
        CAST(n_inter AS DOUBLE) / na AS c_ab,
        CAST(n_inter AS DOUBLE) / nb AS c_ba
      FROM v
      WHERE greatest(CAST(n_inter AS DOUBLE) / na,
                     CAST(n_inter AS DOUBLE) / nb) >= 0.8"""),
      notes = "asymmetric shingle containment >= 0.8 (quote/near-superset pairs Jaccard misses): DF-capped inverted-index candidates + exact two-pointer verify"),

    // ── LSH clusters → canonical election (the full scale pipeline) ────
    // q81 proves the election on q38's EXACT edges (oracle-able); its
    // scaladoc promises the same stages run unchanged on q62's LSH-fed
    // clusters — this entry IS that artifact: LSH candidates → exact
    // verify (candidates only) → iterative CC → [[canonicalElection]],
    // the complete 100 TB dedup pipeline as one driver-gated query.
    // Parity is structural, not re-derived: verify keeps only TRUE >= 0.6
    // pairs, so the LSH edge set is a SUBSET of q38's and CC(LSH) REFINES
    // CC(exact) — LshCanonicalSpec pins the refinement, the same-member
    // clusters electing identical canonicals (shared definition), and
    // full equality with q81 whenever LSH recall hits 1.0 on the corpus.
    // Rows-only for the q62 reason: band hashes are engine-specific.
    QueryDef("q107_lsh_canonical", (s, d) => {
      // Pins: band self-join reads signatures twice, verify reads the
      // gram sets twice (the q36b/q141 staging discipline). CC consumes
      // the edges EAGERLY, so the pins are scoped to the CC call.
      val cc = Pins.scope { pins =>
        val sigs = pins.persist(signatures(s, d))
        val grams = pins.persist(hashedGrams(s, d))
        DedupClusters.connectedComponents(
          SetSimIndex.verify(lshCandidatePairs(sigs), grams, 0.6))
      }
      canonicalElection(cc, t(s, d, "documents"))
    }, None,
      notes = "LSH candidates -> exact verify -> CC -> canonical election: the q62+q81 composition as one query (rows-only; parity spec vs q81 modulo LSH recall)"),

    // ── Inter-document duplicated-gram coverage (per-doc dup signal) ───
    // The per-document CROSS-doc duplication score: what fraction of a
    // doc's distinct 3-gram shingles also appear in at least one OTHER
    // document. This is the filter-signal complement of the pair/cluster
    // family — q38/q95 emit PAIRS, q57/q62 emit CLUSTERS, q65 measures
    // INTRA-doc repetition; curation gates (the MassiveText/RefinedWeb
    // recipe) additionally want a scalar per doc ("mostly boilerplate
    // shared with the rest of the corpus?") that ranks docs for removal
    // WITHOUT materializing pairs. Crucially there is NO pairwise join
    // here at all: one gram-keyed hash-agg computes each gram's distinct
    // document frequency, one join hands it back to the doc's gram rows,
    // one doc-keyed agg folds to (n_grams, n_shared) — three shuffles,
    // every one linear in the gram stream, no DF cap needed because
    // nothing fans out. At 100 TB this is the dedup-family query you can
    // always afford. Spark keys the gram agg on xxhash64 (primitive longs
    // through both shuffles); the oracle uses gram strings — identical
    // modulo 2^-64 collisions, the q38/q64 argument. Short docs (≤ 2
    // tokens, zero grams) keep a row via the left join: per-doc contract,
    // total division.
    QueryDef("q110_interdup_coverage", (s, d) => {
      val docs = t(s, d, "documents")
      // PINNED (r15): the hashed gram stream feeds the DF aggregate AND
      // the join-back side — unpinned, the tokenize+shingle pass ran
      // twice (documents ×3 in the before-plan; the q64 staging pattern)
      val grams = tokenized(docs)
        .select(col("doc_id"), explode(expr(shinglesOfToks)).as("gram"))
        .select(col("doc_id"), xxhash64(col("gram")).as("g"))
        .persist()
      val gramDf = grams.groupBy("g")
        .agg(countDistinct(col("doc_id")).as("df"))
      val perdoc = grams.join(gramDf, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      docs.select(col("doc_id"), col("source"))
        .join(perdoc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          coalesce(col("n_shared").cast("double") / col("n_grams"), lit(0.0))
            .as("dup_frac"))
    }, Some(s"""
      WITH g AS (
        SELECT doc_id,
          ${gramSetSql()} AS grams
        FROM documents),
      ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      gdf AS (SELECT gram, count(DISTINCT doc_id) AS df FROM ex GROUP BY gram),
      perdoc AS (
        SELECT ex.doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(SUM(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_shared
        FROM ex JOIN gdf USING (gram) GROUP BY 1)
      SELECT d.doc_id, d.source,
        COALESCE(p.n_grams, 0) AS n_grams,
        COALESCE(p.n_shared, 0) AS n_shared,
        COALESCE(CAST(p.n_shared AS DOUBLE) / p.n_grams, 0.0) AS dup_frac
      FROM documents d LEFT JOIN perdoc p USING (doc_id)"""),
      notes = "per-doc cross-document duplicated-gram coverage: gram-DF agg + join-back + doc fold — the pairless dup filter signal (3 linear shuffles, no candidate join)"),

    // ── SimHash near-dup pairs, EXACT via block pigeonhole (Manku) ─────
    // q37's SimHash is rows-only (xxhash64 is engine-specific); this is
    // the ORACLE-GATED twin and the production shape: a 60-bit md5-based
    // SimHash (the portable q51 hash idiom, bit votes weighted by token
    // multiplicity) plus the Manku/Charikar block trick — split the
    // signature into 4 15-bit blocks; any pair within Hamming distance 3
    // differs in at most 3 blocks, so it MATCHES on at least one block
    // (pigeonhole) and the block-equality join finds EVERY such pair.
    // The DuckDB oracle brute-forces all n^2/2 pairs; Spark never does —
    // candidates are a hash join on (block-index, block-value), then a
    // codegen bit_count(xor) verify. Same crossover as q95/q139: the
    // oracle's O(n^2) vs a blocked O(sum of block-group sizes^2), with
    // q36's hot-bucket guard as the production cap for degenerate
    // corpora (a block value shared by millions of near-identical docs).
    // At 100 TB: one token-keyed signature agg + one block-keyed join;
    // nothing all-pairs, nothing single-partition.
    QueryDef("q138_simhash_blocks", (s, d) => {
      val tok = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      val bitCols = (0 until 60).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L)).as(s"b$i")
      }
      val sig = tok.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
        .select(col("doc_id"),
          (0 until 60).map(i =>
            when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
            .reduce(_.bitwiseOR(_)).as("sh"))
      val blocks = sig.select(col("doc_id"), col("sh"),
          explode(array((0 until 4).map(j => struct(lit(j).as("j"),
            shiftright(col("sh"), 15 * j).bitwiseAND(0x7FFF).as("blk"))): _*))
            .as("p"))
        .select(col("doc_id"), col("sh"), col("p.j"), col("p.blk"))
      blocks.as("a").join(blocks.as("b"),
          col("a.j") === col("b.j") && col("a.blk") === col("b.blk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sh").as("sha"), col("b.sh").as("shb"))
        .distinct()
        .select(col("doc_a"), col("doc_b"),
          expr("bit_count(sha ^ shb)").cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
    }, Some("""
      WITH tok AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(u.tok), 1, 15) AS BIGINT) AS h
        FROM documents, unnest(string_split(text, ' ')) AS u(tok)),
      bits AS (
        SELECT doc_id, i,
          SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM tok, range(60) r(i) GROUP BY doc_id, i),
      sig AS (
        SELECT doc_id,
          SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS sh
        FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3"""),
      notes = "exact Hamming<=3 SimHash pairs via 4x15-bit block pigeonhole: block-equality hash join + bit_count(xor) verify vs the oracle's brute n^2 — the Manku block-permutation dedup, oracle-gated"),

    // ── Single-typo entity-resolution candidates (masked blocking) ─────
    // Record linkage's candidate-generation step, exact for Hamming
    // distance 1: for each name, emit L masked variants (position i
    // replaced by a sentinel); two equal-length names differ in exactly
    // one position iff they share a masked variant (the deletion-
    // neighborhood / q138-pigeonhole idea applied to characters). The
    // Spark plan is a hash join on the masked key — O(n*L) keys, group
    // sizes bounded by real near-duplicate density — while the DuckDB
    // oracle pays the brute n^2 levenshtein cross join (on equal-length
    // strings levenshtein 1 <=> exactly one substitution, so the two
    // predicates are equivalent). DISTINCT guards duplicate name rows.
    // At 100 TB: narrow Generate fan-out (L ~ name length) + one
    // key-hash join; no all-pairs stage anywhere.
    QueryDef("q139_typo_pairs", (s, d) => {
      val masked = t(s, d, "customer").select(col("c_name"),
        // chr(1) sentinel (never appears in names) KEEPS the masked
        // position in the key: an empty sentinel would collapse to the
        // deletion neighborhood, where variants from DIFFERENT positions
        // collide ("abc" del 3 and "xab" del 1 both give "ab") and the
        // join would emit Hamming-3 false positives.
        explode(expr("transform(sequence(1, length(c_name)), i -> " +
          "concat(substring(c_name, 1, i-1), chr(1), " +
          "substring(c_name, i+1)))")).as("mk"))
      masked.as("a").join(masked.as("b"),
          col("a.mk") === col("b.mk") && col("a.c_name") < col("b.c_name"))
        .select(col("a.c_name").as("name_a"), col("b.c_name").as("name_b"))
        .distinct()
    }, Some("""
      SELECT DISTINCT a.c_name AS name_a, b.c_name AS name_b
      FROM customer a JOIN customer b
        ON length(a.c_name) = length(b.c_name)
       AND a.c_name < b.c_name
       AND levenshtein(a.c_name, b.c_name) = 1"""),
      notes = "Hamming-1 name pairs via position-masked blocking join (O(n*L) keys) vs the oracle's brute n^2 levenshtein — exact candidate generation for entity resolution"),

    // ── EXACT set-similarity join via prefix filtering (PPJoin-style) ──
    // The third member of the similarity-join family: q38 is the exact
    // brute-force BASELINE (guarded, within-source), q36/q62 the
    // APPROXIMATE scale path (LSH, recall < 1) — this is exact AND
    // scalable: corpus-wide Jaccard >= 0.5 pairs with NO all-pairs
    // stage. The join is [[SetSimIndex]]'s (prefix filter + PPJoin
    // prunes + verify; its scaladoc carries the soundness argument) under
    // a corpus-wide (df ASC, hash ASC) order — rarest first, the
    // candidate-minimizing choice; the order only tunes candidate COUNT,
    // never the verified answer. Shapes: one gram-df window, per-doc
    // LOCAL sort (sort_array, no global sort), prefix explode +
    // gram-keyed equi self-join, then the codegen two-pointer intersect
    // verify on sorted hashed grams. Jaccard on xxhash64'd distinct grams
    // == string-set Jaccard modulo 2^-64 collisions (the q38 precedent);
    // the oracle brute-forces n^2/2 string-set intersections.
    QueryDef("q141_setsim_join", (s, d) => {
      ensureGuardListener(s)
      val tau = 0.5
      // PIN the hashed gram sets: consumed by the explode AND both verify
      // sides — unpinned, the shingle hashing runs 3x.
      val docs = hashedGrams(s, d).select("doc_id", "grams_h", "n_grams")
        .persist()
      val ex = docs.select(col("doc_id"), explode(col("grams_h")).as("g"))
      // gram df via ONE window over g instead of groupBy + join-back:
      // same value (count of occurrences per gram), one exchange instead
      // of two plus a join (guide §2.4; skew tradeoff noted at the q95
      // cap site). PINNED: the candidate self-join consumes the prefixes
      // twice, replaying the collect_list ranking otherwise.
      val wG = org.apache.spark.sql.expressions.Window.partitionBy("g")
      val pre = SetSimIndex.prefixes(
        ex.withColumn("df", count(lit(1)).over(wG)), tau).persist()
      val cand = SetSimIndex.candidates(pre, pre, tau,
          col("a.doc_id") < col("b.doc_id"))
        // NO SILENT CAP (exactness is the contract) — candidate volume is
        // observed in-flow instead; the session listener WARNs past
        // SetSimCandidateWarn, the cue to route degenerate corpora through
        // the approximate LSH path
        .observe("q141_setsim", count(lit(1)).as("n_candidate_rows"))
        .distinct()
      SetSimIndex.verify(cand, docs, tau)
        .withColumn("jaccard", round(col("jaccard"), 6))
    }, Some(s"""
      WITH g AS (
        SELECT doc_id,
          ${gramSetSql()} AS grams
        FROM documents),
      ${setSimPairsSql("a.doc_id < b.doc_id")}"""),
      notes = "exact corpus-wide Jaccard>=0.5 join via rarest-first prefix filtering (lossless candidate generation, per-doc local sorts only) + codegen intersect verify vs the oracle's brute n^2"),

    // ── Incremental exact near-dup: delta vs base (the serving shape) ──
    // The production use of q141: an incoming crawl BATCH (delta, the
    // ~14% md5-split of doc ids — the q70/q109 hash-split idiom) checked
    // for Jaccard >= 0.5 duplicates AGAINST the existing corpus (base)
    // without ever pairing base with base or delta with delta. Gram
    // order comes from BASE document frequencies — exactly what the
    // persisted [[SetSimIndex]] stores (q202 is this query's serving twin
    // probing it delta-proportionally; this inline form stays as the
    // exact-semantics anchor and shares its oracle) — with unseen-in-base
    // grams at df 0, rarest-first; prefix filtering stays lossless for
    // ANY shared total order, and the PPJoin length/positional prunes
    // apply unchanged to the cross join of the two prefix sets. Cost
    // model: O(|delta|) gram work + a (gram)-keyed join against base
    // prefixes — the base side never self-joins, which is the whole point
    // of incremental dedup at 100 TB (q70 is the EXACT-hash twin; the
    // streaming near-dup ingest is the LSH twin of this same
    // delta-vs-base shape).
    QueryDef("q149_setsim_incremental", (s, d) => {
      ensureGuardListener(s)
      val tau = 0.5
      // Same staging as q141: pin the gram sets (3 consumers) and the
      // prefix frame (2 consumers), base-df via one window over g.
      val docs = hashedGrams(s, d).select("doc_id", "grams_h", "n_grams")
        .withColumn("is_delta", isDelta)
        .persist()
      val ex = docs.select(col("doc_id"), col("is_delta"),
        explode(col("grams_h")).as("g"))
      // BASE document frequency as a windowed conditional sum: identical
      // to a base-only groupBy + left join + coalesce(df, 0) — delta-only
      // grams sum to 0 — with one exchange instead of two.
      val wG = org.apache.spark.sql.expressions.Window.partitionBy("g")
      val pre = SetSimIndex.prefixes(ex.withColumn("df",
        sum(when(!col("is_delta"), 1L).otherwise(0L)).over(wG)), tau)
        .persist()
      val cand = SetSimIndex.candidates(pre.filter(!col("is_delta")),
        pre.filter(col("is_delta")), tau).distinct()
      SetSimIndex.verify(cand, docs, tau)
        .withColumn("jaccard", round(col("jaccard"), 6))
    }, Some(setSimIncrOracle),
      notes = "incremental exact near-dup: md5-split delta joined against base-only prefix postings (base df order — exactly what the persisted SetSimIndex stores; q202 is the index-served twin); base never self-joins; q70's exact-hash and the streaming LSH ingest's third sibling"),

    // ── Winnowing fingerprints (MOSS-style overlap detection) ──────────
    // The POSITION-ROBUST member of the overlap family: q33's rolling
    // hash fingerprints whole docs (any edit changes it), q130 keys on
    // fixed 8-token segment boundaries (inserting one token upstream
    // shifts every later segment) — winnowing (Schleimer et al., the
    // MOSS algorithm) selects the MIN 4-gram hash per sliding window of
    // 4 positions, which provably keeps a shared fingerprint for any
    // shared run of ≥ 7 tokens REGARDLESS of its offset in either doc.
    // Shapes: per-doc gram hashing is narrow; the window min is keyed by
    // doc_id and ordered by position (partition bounded by doc length,
    // never corpus size); distinct (doc, fp) then a fingerprint-equality
    // pair join with the q64-style DF cap (fingerprints in > 64 docs are
    // boilerplate noise AND the join fan-out bound — declared, mirrored
    // in the oracle, inert on this corpus where max df is 4). Shared
    // fingerprint count >= 2 filters singleton coincidences. Portable
    // md5 hashing keeps the whole thing oracle-gated.
    QueryDef("q151_winnowing", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      // COMPILED fingerprint derivation (r15, guide §4): graft_winnow_fps
      // fuses the per-position interpreted md5-HOF (one gram string + one
      // hex string + one base-16 parse per position), the doc-keyed
      // window-min (a WindowExec exchange+sort), and the per-doc DISTINCT
      // (a corpus-wide exchange) into one per-row loop — the (doc, fp)
      // rows explode directly. PINNED: the DF-cap aggregate and both
      // pair-join sides consume the fp rows (via `kept`). The cap keeps
      // the groupBy+join-back form rather than a window: map-side partial
      // aggregation shrinks boilerplate-hot fingerprints BEFORE the
      // exchange, where a count-over-window would buffer every occurrence
      // of a hot fp in one partition group first (ADVICE r14).
      val fp = t(s, d, "documents").select(col("doc_id"),
          explode(expr("graft_winnow_fps(split(text, ' '))")).as("fp"))
        .persist()
      val kept = fp.join(
        fp.groupBy("fp").agg(count(lit(1)).as("c")).filter(col("c") <= 64)
          .select("fp"),
        "fp")
      kept.as("a").join(kept.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_fp"))
        .filter(col("shared_fp") >= 2)
    }, Some("""
      WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      g AS (
        SELECT doc_id, i AS pos,
          CAST('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' ||
            t[i+2] || ' ' || t[i+3]), 1, 15) AS BIGINT) AS h
        FROM tk, unnest(range(1, greatest(len(t) - 2, 1))) u(i)),
      w AS (
        SELECT doc_id, pos, h,
          MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin,
          COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wn
        FROM g),
      fp AS (SELECT DISTINCT doc_id, wmin AS fp FROM w WHERE wn = 4),
      fpdf AS (SELECT fp, count(*) AS c FROM fp GROUP BY fp),
      kept AS (SELECT fp.* FROM fp JOIN fpdf USING (fp) WHERE c <= 64)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(count(*) AS BIGINT) AS shared_fp
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2"""),
      notes = "MOSS winnowing: min 4-gram hash per 4-position window (shared runs >= 7 tokens always share a fingerprint at any offset); doc-keyed windows, DF-capped fingerprint pair join, portable md5 hashing — fully oracle-gated"),

    // ── Theta-sketch source-overlap matrix (q93's sketch scale twin) ───
    // q93 answers "how much do sources share?" by shuffling every
    // fingerprint row into a fp-keyed self-join — exact, but the data
    // crosses the wire again for EVERY new overlap question. The theta
    // path touches the corpus ONCE: one bounded-size sketch blob per
    // source (graft_theta_agg over the same 15-token prefix fps as q93),
    // then the full pairwise matrix — per-source distinct, shared,
    // A-not-B — is set algebra over |sources| sketch ROWS. At 100 TB the
    // blobs persist beside the data (the q82/q92/q108 rollup pattern)
    // and day-over-day novelty, snapshot containment, or any new pair
    // query is answered from blobs without rescanning anything.
    //
    // Why this can be ORACLE-gated when q82/q92/q108 are rows-only: a
    // theta sketch is EXACT below its nominal-entries bound (it keeps
    // the k smallest hashes; below k nothing is discarded, and set ops
    // over exact sketches are exact), and theta has no randomized
    // compaction, so at every driver SF (<=250 distinct fps/source vs
    // k=4096) the estimates ARE the exact distinct counts the oracle
    // computes — the hash gate proves the sketch algebra against exact
    // relational set ops. Past k the same query degrades gracefully to
    // ~1.6% estimates (ThetaSketchSpec pins that regime + determinism).
    // Residual caveat: estimates count distinct 64-bit HASHES, so a fp
    // hash collision (P ~ n²/2^65) could shift a count by 1 — ignorable
    // at any gated SF.
    // Shapes: one fp projection + ONE source-keyed sketch agg (map-side
    // combined, blob-sized partials); the pair join is a broadcast
    // nested loop over 20 one-blob rows — metadata, not data.
    QueryDef("q154_theta_overlap", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val toks = TextSignals.words(col("text"))
      // localCheckpoint: both pair-matrix sides read this |sources|-row
      // blob table — un-checkpointed, each side would re-sketch the
      // corpus (Spark shares no subtrees), and "touched once" is the
      // whole point of the sketch path
      val sk = t(s, d, "documents")
        .select(col("source"), md5(array_join(slice(toks, 1, 15), " ")).as("fp"))
        .groupBy("source")
        .agg(expr("graft_theta_agg(fp, 4096)").as("sk"))
        .localCheckpoint(true)
      val a = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
      val b = sk.select(col("source").as("source_b"), col("sk").as("sk_b"))
      a.join(b, col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          expr("CAST(round(graft_theta_estimate(sk_a)) AS BIGINT)").as("n_a"),
          expr("CAST(round(graft_theta_estimate(sk_b)) AS BIGINT)").as("n_b"),
          expr("""CAST(round(graft_theta_estimate(
                    graft_theta_intersect2(sk_a, sk_b))) AS BIGINT)""")
            .as("n_shared"),
          expr("""CAST(round(graft_theta_estimate(
                    graft_theta_anotb(sk_a, sk_b))) AS BIGINT)""")
            .as("n_only_a"))
    }, Some(s"""
      WITH f AS (
        SELECT source,
          md5(array_to_string(
            ${TextSignals.wordsSql()}[1:15], ' '))
            AS fp
        FROM documents),
      g AS (SELECT DISTINCT source, fp FROM f),
      n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1),
      ov AS (
        SELECT ga.source AS source_a, gb.source AS source_b,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM g ga JOIN g gb ON ga.fp = gb.fp AND ga.source < gb.source
        GROUP BY 1, 2)
      SELECT na.source AS source_a, nb.source AS source_b,
        na.n AS n_a, nb.n AS n_b,
        COALESCE(ov.n_shared, 0) AS n_shared,
        na.n - COALESCE(ov.n_shared, 0) AS n_only_a
      FROM n na JOIN n nb ON na.source < nb.source
      LEFT JOIN ov ON ov.source_a = na.source AND ov.source_b = nb.source"""),
      notes = "theta-sketch source-overlap matrix (q93's touch-once scale twin): per-source sketch blobs + pairwise intersect/a-not-b algebra over sketch rows; oracle-gated because theta is exact (and deterministic) below nominal entries at every driver SF"),

    // ── Leakage-free split manifest (cluster-aware q109) ───────────────
    // q109 assigns splits per DOCUMENT, so two near-duplicates can land
    // in train and test — the eval then scores memorization, the exact
    // leak q64's contamination check hunts after the fact. The fix
    // every serious pipeline ships: split by near-dup CLUSTER, not by
    // doc — every member of a cluster follows its cluster id through
    // the same 90/5/5 hash rule as q109, so a duplicate family can
    // never straddle a split boundary BY CONSTRUCTION (singletons key
    // on their own doc_id and reproduce q109's assignment exactly).
    // Composition: clusters come from q57's exact CC here (what the
    // recursive-CTE oracle can twin); at 100 TB the same split stage
    // runs unchanged on q62/q107's LSH-fed clusters — group_id is just
    // a column. Shapes: q57's edge+CC cost (label-only shuffles), one
    // left join, then the narrow q109 hash projection; the split
    // decision itself adds NO new corpus-sized shuffle.
    QueryDef("q155_leakage_split", (s, d) => {
      val clusters = defs.find(_.name == "q57_dup_clusters").get.fn(s, d)
      val docs = t(s, d, "documents").select(col("doc_id"))
      val grouped = docs.join(clusters, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("group_id"),
          when(col("cluster_id").isNotNull, 1L).otherwise(0L).as("clustered"))
      val u = conv(substring(md5(col("group_id").cast("string")), 1, 15),
        16, 10).cast("double") / lit(1152921504606846976L) // 2^60
      grouped.withColumn("split",
        when(u < 0.90, lit("train")).when(u < 0.95, lit("val"))
          .otherwise(lit("test")))
    }, Some(s"""
      WITH RECURSIVE g AS (
        SELECT doc_id, source,
          ${gramSetSql()} AS grams
        FROM documents),
      pairs AS ($sourcePairsSql),
      ${DedupClusters.reachSql("pairs")},
      cl AS (
        ${DedupClusters.clusterLabelSql}),
      grouped AS (
        SELECT d.doc_id,
          COALESCE(cl.cluster_id, d.doc_id) AS group_id,
          CAST(CASE WHEN cl.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
            AS clustered
        FROM documents d LEFT JOIN cl USING (doc_id))
      SELECT doc_id, group_id, clustered,
        CASE WHEN u < 0.90 THEN 'train'
             WHEN u < 0.95 THEN 'val'
             ELSE 'test' END AS split
      FROM (SELECT *,
              CAST(CAST('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
            FROM grouped)"""),
      notes = "cluster-aware leakage-free train/val/test split: every near-dup cluster follows its cluster id through q109's 90/5/5 hash rule, so duplicate families never straddle splits by construction; singletons reproduce q109's per-doc assignment; runs unchanged on the LSH cluster path at scale"),

    // ── ExactSubstr-style duplicated-run removal (Lee et al. 2022) ─────
    // The REMOVAL member of the position-robust overlap family: q130
    // drops fixed 8-token grid segments (one inserted token upstream
    // shifts every later boundary and the grid misses the run), q151
    // winnowing DETECTS shared runs at any offset but removes nothing.
    // This is the sub-document dedup of "Deduplicating Training Data
    // Makes Language Models Better": every SLIDING 8-token window whose
    // exact token sequence appears in >= 2 distinct docs marks all 8 of
    // its positions, marked tokens are removed, survivors reassemble in
    // order — so a duplicated run of length R >= 8 is removed in full
    // from every doc carrying it REGARDLESS of its offset (the paper
    // uses a suffix array for R >= 50 bytes; the windowed-gram form is
    // the standard distributed equivalent, trading <= 7 tokens of
    // boundary slack at each run edge).
    //
    // Plan shape at 100 TB: window explode is narrow (1:~L fan-out of
    // 8-token strings; at scale you'd hash each window to 128 bits at
    // the explode — same shape, q151 shows the hashing form); dup
    // detection is ONE window-keyed hash-agg (count distinct docs,
    // map-side combined); mark-back is a window-keyed equi join
    // (broadcastable when the duplicated set is small); position
    // coverage is a bounded x8 explode + distinct; removal is one
    // (doc,pos)-keyed left anti pattern folded into a doc-keyed agg.
    // No windows-over-rows, no candidate pairs, nothing quadratic —
    // strictly q130's shapes with a sliding grid.
    QueryDef("q161_substr_dedup", (s, d) => {
      val tk = t(s, d, "documents").select(col("doc_id"),
        TextSignals.words(col("text")).as("t"))
        .persist() // two consumers: the window explode and the token explode
      // sliding 8-token windows, 1-based start positions (q151's
      // filter-sequence guard handles docs shorter than the window).
      // The window string is HASHED to a long AT THE EXPLODE (the
      // q38/q64 Spark-hashes-vs-oracle-strings precedent — identical
      // results modulo 2^-64 collisions): dup detection and mark-back
      // shuffle 8-byte longs, not 8-token strings. PINNED: dup agg
      // + cov join both consume it.
      val wins = tk.select(col("doc_id"),
          posexplode(expr(
            "transform(filter(sequence(1, greatest(size(t) - 7, 1)), " +
              "i -> i <= size(t) - 7), " +
              "i -> xxhash64(array_join(slice(t, i, 8), ' ')))"))
            .as(Seq("i0", "wh")))
        .select(col("doc_id"), (col("i0") + 1).cast("long").as("pos"),
          col("wh"))
        .persist()
      val dup = wins.groupBy("wh")
        .agg(count_distinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2)
        .select("wh")
      val cov = wins.join(dup, Seq("wh"))
        .select(col("doc_id"),
          explode(expr("sequence(pos, pos + 7)")).as("pos"))
        .distinct()
        .withColumn("c", lit(1L))
      val toks = tk.select(col("doc_id"),
          posexplode(col("t")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("tok"))
      toks.join(cov, Seq("doc_id", "pos"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          array_join(expr(
            "transform(array_sort(collect_list(CASE WHEN c IS NULL THEN " +
              "struct(pos, tok) END)), x -> x.tok)"), " ").as("clean_text"))
    }, Some(s"""
      WITH tk AS (
        SELECT doc_id, ${TextSignals.wordsSql()} AS t
        FROM documents),
      w AS (
        SELECT doc_id, i AS pos, array_to_string(t[i : i + 7], ' ') AS win
        FROM (SELECT doc_id, t,
                unnest(range(1, greatest(len(t) - 6, 1))) AS i
              FROM tk)),
      dup AS (SELECT win FROM w GROUP BY win
              HAVING COUNT(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT w.doc_id, w.pos + off AS pos
              FROM w JOIN dup USING (win), unnest(range(0, 8)) u(off)),
      toks AS (
        SELECT doc_id, i AS pos, t[i] AS tok
        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tk))
      SELECT tt.doc_id, COUNT(*) AS n_tokens,
        CAST(SUM(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_removed,
        COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN tt.tok END,
          ' ' ORDER BY tt.pos), '') AS clean_text
      FROM toks tt LEFT JOIN cov c ON tt.doc_id = c.doc_id AND tt.pos = c.pos
      GROUP BY tt.doc_id"""),
      notes = "ExactSubstr-style duplicated-run removal (Lee et al. 2022, windowed-gram form): sliding 8-token windows shared by >= 2 docs mark their positions, marked tokens removed, survivors reassembled in order — offset-robust where q130's fixed grid is not; window-keyed agg + equi join + bounded x8 coverage explode + doc-keyed agg, no pairs, no row windows"),

    // ── Incremental duplicated-run removal (delta vs base) ─────────────
    // q161's production serving shape, completing the incremental-dedup
    // quartet (q70 exact-hash, q149 set-sim, the streaming LSH ingest):
    // the corpus splits on q149's md5 rule (~10% delta), and only DELTA
    // docs are cleaned — a delta window is duplicated if its token
    // sequence exists anywhere in the BASE (at scale: one equi probe
    // into the persisted window-hash postings the base run already
    // wrote; the base NEVER self-joins here) OR in ≥ 2 distinct delta
    // docs (the within-batch q161 rule). Base docs were cleaned by
    // their own run — re-emitting them is the anti-pattern q70 kills.
    // Shapes: base contributes one distinct window projection (the
    // index stand-in), delta the q161 shapes over ~10% of the corpus;
    // mark-back joins are window-keyed equi joins throughout.
    QueryDef("q166_substr_incremental", (s, d) => {
      // Same staging as q161: pinned token arrays, window hashed to a
      // long at the explode (q38/q64 precedent), pinned window frame
      // (THREE consumers: baseWins, deltaDup, cov).
      val tk = t(s, d, "documents").select(col("doc_id"),
        TextSignals.words(col("text")).as("t"))
        .withColumn("is_delta", isDelta)
        .persist()
      val wins = tk.select(col("doc_id"), col("is_delta"),
          posexplode(expr(
            "transform(filter(sequence(1, greatest(size(t) - 7, 1)), " +
              "i -> i <= size(t) - 7), " +
              "i -> xxhash64(array_join(slice(t, i, 8), ' ')))"))
            .as(Seq("i0", "wh")))
        .select(col("doc_id"), col("is_delta"),
          (col("i0") + 1).cast("long").as("pos"), col("wh"))
        .persist()
      val baseWins = wins.filter(!col("is_delta")).select("wh").distinct()
      val deltaDup = wins.filter(col("is_delta")).groupBy("wh")
        .agg(count_distinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2).select("wh")
      val dup = baseWins.union(deltaDup).distinct()
      val cov = wins.filter(col("is_delta")).join(dup, Seq("wh"))
        .select(col("doc_id"),
          explode(expr("sequence(pos, pos + 7)")).as("pos"))
        .distinct()
        .withColumn("c", lit(1L))
      val toks = tk.filter(col("is_delta")).select(col("doc_id"),
          posexplode(col("t")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("tok"))
      toks.join(cov, Seq("doc_id", "pos"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          array_join(expr(
            "transform(array_sort(collect_list(CASE WHEN c IS NULL THEN " +
              "struct(pos, tok) END)), x -> x.tok)"), " ").as("clean_text"))
    }, Some(s"""
      WITH tk AS (
        SELECT doc_id,
          ${TextSignals.wordsSql()} AS t,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '19' AS is_delta
        FROM documents),
      w AS (
        SELECT doc_id, is_delta, i AS pos,
          array_to_string(t[i : i + 7], ' ') AS win
        FROM (SELECT doc_id, is_delta, t,
                unnest(range(1, greatest(len(t) - 6, 1))) AS i
              FROM tk)),
      dup AS (
        SELECT DISTINCT win FROM w WHERE NOT is_delta
        UNION
        SELECT win FROM w WHERE is_delta GROUP BY win
          HAVING COUNT(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT w.doc_id, w.pos + off AS pos
              FROM w JOIN dup USING (win), unnest(range(0, 8)) u(off)
              WHERE w.is_delta),
      toks AS (
        SELECT doc_id, i AS pos, t[i] AS tok
        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
              FROM tk WHERE is_delta))
      SELECT tt.doc_id, COUNT(*) AS n_tokens,
        CAST(SUM(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_removed,
        COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN tt.tok END,
          ' ' ORDER BY tt.pos), '') AS clean_text
      FROM toks tt LEFT JOIN cov c ON tt.doc_id = c.doc_id AND tt.pos = c.pos
      GROUP BY tt.doc_id"""),
      notes = "incremental duplicated-run removal: md5-split delta cleaned against BASE windows (one distinct projection — the persisted window-postings stand-in; base never self-joins, never re-emits) plus the within-batch >= 2-doc rule; q161's shapes over the delta only — q70/q149/streaming-LSH's fourth sibling"),

    // ── Dedup-method agreement matrix (the method-selection artifact) ──
    // The catalog fields three EXACT near-dup detectors with different
    // blind spots: q38's Jaccard ≥ 0.6 (symmetric overlap, source-
    // blocked), q95's containment ≥ 0.8 (asymmetric quote/superset
    // pairs Jaccard dilutes), q151's winnowing (shared-run fingerprints
    // at any offset). Before choosing one for a corpus, a pipeline
    // owner asks HOW MUCH THEY AGREE — this query answers it: each
    // method's pair set (normalized to doc_a < doc_b), pairwise
    // |A|, |B|, |A∩B| and the set-level Jaccard, 3 matrix rows.
    // The Spark side COMPOSES the production operators (defs.find, the
    // q155 pattern — any fix to a member propagates here); the oracle
    // inlines the equivalent SQL (the q155 precedent for composed
    // oracles). Shapes: the three member pipelines (each individually
    // scale-audited), then one union + (doc_a, doc_b)-keyed self-join
    // over PAIR rows — pairs are sparse (dup density bounds them, not
    // corpus size), so the matrix stage is metadata-sized;
    // localCheckpoint keeps the members from re-running per branch.
    QueryDef("q167_dedup_agreement", (s, d) => {
      // members from the PERSISTED pair tables (IndexCache build-once):
      // the three pipelines ran inline per invocation in r07 — 30 s of
      // repeated member work per bench run; the persisted sets are
      // deterministic, so the matrix (and its oracle gate) is unchanged
      val pairs = s.read.parquet(graft.IndexCache.ensureDedupPairs(s, d))
      val counts = pairs.groupBy("m").agg(count(lit(1)).as("n"))
      val overlap = pairs.as("a").join(pairs.as("b"),
          col("a.doc_a") === col("b.doc_a") &&
            col("a.doc_b") === col("b.doc_b") && col("a.m") < col("b.m"))
        .groupBy(col("a.m").as("method_a"), col("b.m").as("method_b"))
        .agg(count(lit(1)).as("n_both"))
      // full 3-row matrix even when an intersection is empty: spine from
      // the method pairs of the counts table, overlap left-joined
      counts.as("ca").join(broadcast(counts.as("cb")), col("ca.m") < col("cb.m"))
        .select(col("ca.m").as("method_a"), col("cb.m").as("method_b"),
          col("ca.n").as("n_a"), col("cb.n").as("n_b"))
        .join(overlap, Seq("method_a", "method_b"), "left_outer")
        .select(col("method_a"), col("method_b"), col("n_a"), col("n_b"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          round(coalesce(col("n_both"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("n_both"), lit(0L))), 6)
            .as("set_jaccard"))
    }, Some(s"""
      WITH g AS (
        SELECT doc_id, source,
          ${gramSetSql()} AS grams
        FROM documents),
      m1 AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE COALESCE(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / nullif(len(a.grams) + len(b.grams)
                   - len(list_intersect(a.grams, b.grams)), 0), 0) >= 0.6),
      ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      keep AS (SELECT gram FROM ex GROUP BY gram
               HAVING count(DISTINCT doc_id) <= 64),
      k AS (SELECT doc_id, gram FROM ex JOIN keep USING (gram)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM k a JOIN k b USING (gram) WHERE a.doc_id < b.doc_id),
      m2 AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN g ga ON ga.doc_id = c.doc_a
        JOIN g gb ON gb.doc_id = c.doc_b
        WHERE len(ga.grams) > 0 AND len(gb.grams) > 0
          AND greatest(
            CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
              / len(ga.grams),
            CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
              / len(gb.grams)) >= 0.8),
      tkw AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      gw AS (
        SELECT doc_id, i AS pos,
          CAST('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' ||
            t[i+2] || ' ' || t[i+3]), 1, 15) AS BIGINT) AS h
        FROM tkw, unnest(range(1, greatest(len(t) - 2, 1))) u(i)),
      ww AS (
        SELECT doc_id, pos, h,
          MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin,
          COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wn
        FROM gw),
      fp AS (SELECT DISTINCT doc_id, wmin AS fp FROM ww WHERE wn = 4),
      fpdf AS (SELECT fp, count(*) AS c FROM fp GROUP BY fp),
      keptw AS (SELECT fp.* FROM fp JOIN fpdf USING (fp) WHERE c <= 64),
      m3 AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keptw a JOIN keptw b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2),
      pairs AS (
        SELECT 'jaccard' AS m, doc_a, doc_b FROM (SELECT DISTINCT * FROM m1)
        UNION ALL
        SELECT 'containment', doc_a, doc_b FROM (SELECT DISTINCT * FROM m2)
        UNION ALL
        SELECT 'winnowing', doc_a, doc_b FROM (SELECT DISTINCT * FROM m3)),
      counts AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n
                 FROM pairs GROUP BY 1),
      ov AS (
        SELECT a.m AS method_a, b.m AS method_b,
          CAST(COUNT(*) AS BIGINT) AS n_both
        FROM pairs a JOIN pairs b
          ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b AND a.m < b.m
        GROUP BY 1, 2)
      SELECT ca.m AS method_a, cb.m AS method_b,
        ca.n AS n_a, cb.n AS n_b,
        COALESCE(ov.n_both, 0) AS n_both,
        round(CAST(COALESCE(ov.n_both, 0) AS DOUBLE) /
          (ca.n + cb.n - COALESCE(ov.n_both, 0)), 6) AS set_jaccard
      FROM counts ca JOIN counts cb ON ca.m < cb.m
      LEFT JOIN ov ON ov.method_a = ca.m AND ov.method_b = cb.m"""),
      notes = "dedup-method agreement matrix over the three exact detectors (q38 Jaccard>=0.6, q95 containment, q151 winnowing): normalized pair sets, pairwise |A|/|B|/intersection + set-level Jaccard — the method-selection artifact; Spark side composes the production operators, matrix stage runs on sparse pair rows"),

    // ── Entity resolution end-to-end (block → match → cluster → elect) ─
    // The master-data pipeline composed from the catalog's own exact
    // operators, over a deterministic dirty-records table derived from
    // customer: every customer yields a base record with a 12-hex-char
    // pseudo-name (md5 of its key — NOT c_name: sequential ID-style
    // names are pairwise Hamming-1 all over the keyspace, so any
    // edit-distance rule transitively collapses them into one blob;
    // hash names make cross-entity Hamming-1 collisions vanishingly
    // rare, which is what real-name entropy looks like), and every
    // third customer adds a last-char-typo variant with a slightly
    // lower balance. Match rule: Hamming ≤ 1 via q139's position-
    // masked blocking join (equal names share every masked key, so
    // exact dups match too; NO all-pairs stage — the oracle uses the
    // q138 half-string pigeonhole + levenshtein, lossless for ≤ 1).
    // Iterative min-label CC (the q57 operator) resolves pairs;
    // a q59 struct-argmax elects each cluster's golden record
    // (highest balance, lowest rec_id on ties → the base record).
    // `n_entities` audits cluster PURITY: distinct true entities per
    // cluster (1 everywhere = no false merges) — the ER quality
    // metric, emitted and gated.
    QueryDef("q194_entity_resolution", (s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      val base = cust.select((col("c_custkey") * 2).as("rec_id"),
        col("c_custkey").as("entity_key"),
        substring(md5(col("c_custkey").cast("string")), 1, 12).as("name"),
        col("c_acctbal"))
      val variants = cust.filter(col("c_custkey") % 3 === 0)
        .select((col("c_custkey") * 2 + 1).as("rec_id"),
          col("c_custkey").as("entity_key"),
          concat(substring(md5(col("c_custkey").cast("string")), 1, 11),
            lit("z")).as("name"),
          (col("c_acctbal") - lit(1.0)).as("c_acctbal"))
      val records = base.unionAll(variants).localCheckpoint(true)
      val masked = records.select(col("rec_id"),
        explode(expr("transform(sequence(1, length(name)), i -> " +
          "concat(substring(name, 1, i-1), chr(1), " +
          "substring(name, i+1)))")).as("mk"))
      val pairs = masked.as("a").join(masked.as("b"),
          col("a.mk") === col("b.mk") && col("a.rec_id") < col("b.rec_id"))
        .select(col("a.rec_id").as("doc_a"), col("b.rec_id").as("doc_b"))
        .distinct()
      val cc = graft.dedup.DedupClusters.connectedComponents(pairs)
      cc.join(records, cc("doc_id") === records("rec_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          count_distinct(col("entity_key")).as("n_entities"),
          max(struct(col("c_acctbal").as("ab"), (-col("rec_id")).as("nk")))
            .as("g"))
        .select(col("cluster_id"), col("n_members"), col("n_entities"),
          (-col("g.nk")).as("golden_rec_id"),
          col("g.ab").as("golden_acctbal"))
    }, Some(s"""
      WITH RECURSIVE rec AS (
        SELECT c_custkey * 2 AS rec_id, c_custkey AS entity_key,
          substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS name,
          c_acctbal
        FROM customer
        UNION ALL
        SELECT c_custkey * 2 + 1, c_custkey,
          substr(md5(CAST(c_custkey AS VARCHAR)), 1, 11) || 'z',
          c_acctbal - 1.0
        FROM customer WHERE c_custkey % 3 = 0),
      pairs AS (
        SELECT a.rec_id AS doc_a, b.rec_id AS doc_b
        FROM rec a JOIN rec b
          ON a.rec_id < b.rec_id
         AND (substr(a.name, 1, 6) = substr(b.name, 1, 6)
           OR substr(a.name, 7, 6) = substr(b.name, 7, 6))
        WHERE levenshtein(a.name, b.name) <= 1),
      ${DedupClusters.reachSql("pairs")},
      cc AS (
        ${DedupClusters.clusterLabelSql}),
      mem AS (
        SELECT cc.cluster_id, r.rec_id, r.entity_key, r.c_acctbal
        FROM cc JOIN rec r ON r.rec_id = cc.doc_id),
      rk AS (
        SELECT cluster_id, rec_id, c_acctbal,
          row_number() OVER (PARTITION BY cluster_id
            ORDER BY c_acctbal DESC, rec_id ASC) AS r,
          count(*) OVER (PARTITION BY cluster_id) AS nm,
          count(DISTINCT entity_key) OVER (PARTITION BY cluster_id) AS ne
        FROM mem)
      SELECT cluster_id, CAST(nm AS BIGINT) AS n_members,
        CAST(ne AS BIGINT) AS n_entities,
        rec_id AS golden_rec_id, c_acctbal AS golden_acctbal
      FROM rk WHERE r = 1"""),
      notes = "entity resolution end-to-end over a deterministic dirty-records table: q139's Hamming<=1 masked blocking join (no all-pairs; oracle uses the q138 half-string pigeonhole) -> q57's iterative min-label CC -> q59 golden-record election, with a gated n_entities cluster-purity audit"),

    // ── Incremental entity resolution (delta vs resolved base) ─────────
    // The incremental family's ER member (q70 exact-hash, q149 set-sim,
    // q166 substr, streaming LSH): a RESOLVED base (every customer's
    // q194 base record, its own entity) absorbs a delta — typo variants
    // of every third customer plus genuinely NEW entities (a different
    // hash name, matching nothing). Delta records block against BASE
    // masked keys only (the base never self-joins, never re-resolves —
    // the q149/q166 discipline); a matched record inherits its base
    // cluster, an unmatched one founds a new entity. Within-delta pairs
    // cannot exist here by construction (≤ 1 record per entity per
    // batch); a production batch would run q194's CC on the unmatched
    // residual — same operators, delta-sized. The `matched`/`is_new`
    // split is the gated incremental-ER quality readout.
    QueryDef("q196_er_incremental", (s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"))
      val base = cust.select((col("c_custkey") * 2).as("rec_id"),
        col("c_custkey").as("entity_key"),
        substring(md5(col("c_custkey").cast("string")), 1, 12).as("name"))
      val deltaVar = cust.filter(col("c_custkey") % 3 === 0)
        .select((col("c_custkey") * 2 + 1).as("rec_id"),
          col("c_custkey").as("entity_key"),
          concat(substring(md5(col("c_custkey").cast("string")), 1, 11),
            lit("z")).as("name"))
      val deltaNew = cust.filter(col("c_custkey") % 7 === 1)
        .select((col("c_custkey") * 2 + 1000000000L).as("rec_id"),
          (col("c_custkey") + 2000000000L).as("entity_key"),
          substring(md5(concat_ws(":", col("c_custkey").cast("string"),
            lit("new"))), 1, 12).as("name"))
      val delta = deltaVar.unionAll(deltaNew)
      def masked(df: org.apache.spark.sql.DataFrame) =
        df.select(col("rec_id"), explode(expr(
          "transform(sequence(1, length(name)), i -> " +
            "concat(substring(name, 1, i-1), chr(1), " +
            "substring(name, i+1)))")).as("mk"))
      val matches = masked(delta).withColumnRenamed("rec_id", "d_rec")
        .join(masked(base).withColumnRenamed("rec_id", "b_rec"), "mk")
        .groupBy(col("d_rec").as("rec_id"))
        .agg(min(col("b_rec")).as("base_match"))
      delta.join(matches, Seq("rec_id"), "left_outer")
        .select(col("rec_id"), col("entity_key"),
          col("base_match").isNotNull.cast("long").as("matched"),
          coalesce(col("base_match"), col("rec_id")).as("assigned_cluster"),
          col("base_match").isNull.cast("long").as("is_new"))
    }, Some("""
      WITH base AS (
        SELECT c_custkey * 2 AS rec_id, c_custkey AS entity_key,
          substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS name
        FROM customer),
      delta AS (
        SELECT c_custkey * 2 + 1 AS rec_id, c_custkey AS entity_key,
          substr(md5(CAST(c_custkey AS VARCHAR)), 1, 11) || 'z' AS name
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey * 2 + 1000000000, c_custkey + 2000000000,
          substr(md5(CAST(c_custkey AS VARCHAR) || ':new'), 1, 12)
        FROM customer WHERE c_custkey % 7 = 1),
      m AS (
        SELECT dd.rec_id, MIN(b.rec_id) AS base_match
        FROM delta dd JOIN base b
          ON (substr(dd.name, 1, 6) = substr(b.name, 1, 6)
           OR substr(dd.name, 7, 6) = substr(b.name, 7, 6))
         AND levenshtein(dd.name, b.name) <= 1
        GROUP BY dd.rec_id)
      SELECT dd.rec_id, dd.entity_key,
        CAST(m.base_match IS NOT NULL AS BIGINT) AS matched,
        COALESCE(m.base_match, dd.rec_id) AS assigned_cluster,
        CAST(m.base_match IS NULL AS BIGINT) AS is_new
      FROM delta dd LEFT JOIN m ON m.rec_id = dd.rec_id"""),
      notes = "incremental entity resolution: delta records (typo variants + genuinely new entities) block against BASE masked keys only (base never self-joins — the q149/q166 discipline); matched records inherit their base cluster, unmatched found new entities — the incremental family's ER member, delta-sized at any base size"),

    // ── MinHash+LSH candidate summary, HASH-GATED (md5 twin of q36) ────
    // q36's per-doc candidate summary with the md5-portable signature
    // bank (shared md5Signatures/md5Bands — the q107b machinery), so the
    // DuckDB oracle replays signatures, banding, bucket-join candidate
    // counts and the sig head exactly. Same shapes as q36: one explode +
    // K-min agg, (band, key, doc) triples through the shuffle, per-doc
    // candidate counts. q36 stays as the xxhash64 production form.
    QueryDef("q36b_minhash_lsh_md5", (s, d) => {
      // PIN the signature bank: consumed by both sides of the band
      // self-join AND the final left-outer sig-head join — unpinned, the
      // 16-min-md5 aggregation (the dominant stage) ran 3-4x (r14 plan
      // audit: 12 parquet scans, no exchange reuse). LAZY persist, not an
      // eager checkpoint: the consumers already run concurrently inside
      // one job, so a blocking materialization job would serialize the
      // DAG (measured slower); the cache block lock makes whichever
      // stage arrives first compute each partition once.
      val sig = md5Signatures(s, d).persist()
      val bands = md5Bands(sig)
      val pairs = bands.as("a").join(bands.as("b"),
          col("a.band_id") === col("b.band_id") &&
            col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val candCount = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      t(s, d, "documents").select(col("doc_id"))
        .join(sig, Seq("doc_id"), "left_outer")
        .join(candCount, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("h0").as("sig0"), col("h1").as("sig1"))
    }, Some(s"""
      WITH g AS (
        SELECT doc_id,
          ${gramSetSql()} AS grams
        FROM documents),
      ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      sig AS (
        SELECT doc_id,
          ${md5SigSql}
        FROM ex GROUP BY doc_id),
      bands AS (
        SELECT doc_id, band_id,
          CASE band_id
            ${md5BandSql}
          END AS bh
        FROM sig, unnest([${(0 until Bands).mkString(", ")}]) u(band_id)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
      cc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM (SELECT doc_a AS doc_id FROM cand
              UNION ALL SELECT doc_b FROM cand)
        GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(cc.n_candidates, 0) AS n_candidates,
        sig.h0 AS sig0, sig.h1 AS sig1
      FROM documents d
      LEFT JOIN sig ON sig.doc_id = d.doc_id
      LEFT JOIN cc ON cc.doc_id = d.doc_id"""),
      notes = "q36's MinHash+LSH candidate summary promoted to a full hash gate via the shared md5 signature bank (q107b machinery); per-doc candidate counts + sig head, total-per-doc contract preserved"),

    // ── SimHash, HASH-GATED (md5 twin of q37, 60-bit) ──────────────────
    // q37's bit-vote SimHash with the 60-bit md5 token hash both engines
    // share (15 hex chars — the catalog's md5-integer idiom), so the
    // oracle replays every vote: bit i's sum over tokens of ±1 by
    // (h >> i) & 1, fingerprint = OR of the winning bits (disjoint
    // powers sum == OR). Same shape as q37 — one explode + ONE doc-keyed
    // agg of 60 integer votes. q37 stays as the 64-bit xxhash64
    // production form.
    QueryDef("q37b_simhash_md5", (s, d) => {
      val tokens = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
            .as("h"))
      val bitCols = (0 until 60).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1)
          .otherwise(-1)).as(s"b$i")
      }
      val bitSums = tokens.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
      val sim = (0 until 60).map { i =>
        when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
      }.reduce(_.bitwiseOR(_))
      bitSums.select(col("doc_id"), sim.as("simhash"))
    }, Some {
      val votes = (0 until 60).map(i =>
        s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
        .mkString(",\n          ")
      val orBits = (0 until 60).map(i =>
        s"(CASE WHEN b$i > 0 THEN CAST(1 AS BIGINT) << $i ELSE 0 END)")
        .mkString("\n        + ")
      s"""
      WITH toks AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)),
      votes AS (
        SELECT doc_id,
          $votes
        FROM toks GROUP BY doc_id)
      SELECT doc_id,
        $orBits AS simhash
      FROM votes"""
    },
      notes = "q37's SimHash promoted to a full hash gate: 60-bit md5 token hashes (the 15-hex idiom) voted bit-wise, fingerprint = OR of winning bits — one explode + one doc-keyed agg; q37 keeps the 64-bit xxhash64 production form"),

    // ── Eval-set decontamination REMOVAL (q64's enforcement twin) ──────
    // q64 DETECTS train↔eval shingle collisions pairwise; this is the op
    // a pipeline actually runs before training: drop every train doc
    // whose content overlaps the eval UNION set too much. Rule (the
    // BigCode/GPT-3-style n-gram decontamination): a train doc is
    // dropped when >= half its distinct 3-gram shingles appear anywhere
    // in the eval set, or when >= 8 of them do (long docs with a full
    // embedded eval item must not escape via the ratio). Scale shape —
    // and the reason this beats the pairwise form for REMOVAL: the eval
    // grams collapse to a DISTINCT gram set first, so the train side
    // joins a set membership (fan-out <= 1 per gram occurrence, no DF
    // cap needed, nothing pairwise, no q64-style bounded blow-up); one
    // gram-keyed join + one doc-keyed agg, linear at any corpus size.
    // Total per-doc contract: gramless (<= 2 token) train docs keep a
    // row with n_grams 0 / kept.
    QueryDef("q203_decontaminate", (s, d) => {
      val docs = t(s, d, "documents")
      decontaminateAgainst(docs.filter(!isEval(col("doc_id"))),
        evalGramSetOf(docs.filter(isEval(col("doc_id")))))
    }, Some(decontamOracleSql),
      notes = "eval-set decontamination removal (q64's enforcement twin): train docs vs the eval UNION gram set — ratio >= 1/2 or absolute >= 8 shared shingles drops the doc; set-membership join (fan-out <= 1, no DF cap, nothing pairwise), one gram join + one doc agg at any scale"),

    // ── Effective-token accounting after exact dedup (data-card row) ───
    // The number every dataset card needs next to q143's volume: how
    // many tokens SURVIVE exact deduplication, per source. Canonical =
    // the min doc_id per md5(text) fingerprint CORPUS-WIDE (the q35
    // rule); a source's effective tokens count only its canonical docs,
    // so cross-source duplicates charge the source that re-crawled
    // them, not the one that found them first. One fingerprint agg +
    // one broadcast-sized join back + one source agg — the q35 shape
    // with token accounting attached; dup_token_fraction surfaces
    // integer-first (f7235c6 idiom).
    QueryDef("q205_effective_tokens", (s, d) => {
      val docs = t(s, d, "documents").select(col("source"), col("doc_id"),
        TextSignals.nTokens(col("text")).cast("long").as("ntok"),
        md5(col("text")).as("fp"))
      val canon = docs.groupBy("fp").agg(min(col("doc_id")).as("canon_id"))
      docs.join(canon, Seq("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          sum(when(col("doc_id") === col("canon_id"), 1L).otherwise(0L))
            .as("n_canonical"),
          sum(when(col("doc_id") === col("canon_id"), col("ntok"))
            .otherwise(0L)).as("effective_tokens"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_canonical"), col("effective_tokens"),
          (col("n_tokens") - col("effective_tokens")).as("dup_tokens"),
          when(col("n_tokens") > 0,
            round((col("n_tokens") - col("effective_tokens")).cast("double") /
              col("n_tokens").cast("double") * lit(1e6)).cast("long") /
              lit(1e6))
            .otherwise(lit(0.0)).as("dup_token_fraction"))
    }, Some("""
      WITH docs AS (
        SELECT source, doc_id,
          CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
            AS ntok,
          md5(text) AS fp
        FROM documents),
      canon AS (SELECT fp, MIN(doc_id) AS canon_id FROM docs GROUP BY fp)
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN doc_id = canon_id THEN 1 ELSE 0 END) AS BIGINT)
          AS n_canonical,
        CAST(SUM(CASE WHEN doc_id = canon_id THEN ntok ELSE 0 END) AS BIGINT)
          AS effective_tokens,
        CAST(SUM(ntok) - SUM(CASE WHEN doc_id = canon_id THEN ntok ELSE 0 END)
          AS BIGINT) AS dup_tokens,
        CASE WHEN SUM(ntok) > 0 THEN
          CAST(ROUND(CAST(SUM(ntok) - SUM(CASE WHEN doc_id = canon_id
              THEN ntok ELSE 0 END) AS DOUBLE)
            / CAST(SUM(ntok) AS DOUBLE) * 1000000) AS BIGINT) / 1000000.0
          ELSE 0.0 END AS dup_token_fraction
      FROM docs JOIN canon USING (fp)
      GROUP BY source"""),
      notes = "per-source effective tokens after corpus-wide exact dedup (canonical = min doc_id per md5(text)): the data-card row beside q143 — cross-source dups charge the re-crawling source; one fp agg + one join + one source agg, integer-first dup fraction"),

    // ── LSH -> CC -> canonical, fully HASH-GATED (md5-portable twin) ───
    // q107 composes the production xxhash64 LSH (rows-only: band hashes
    // are engine-specific, pinned by LshCanonicalSpec). This twin replays
    // the ENTIRE pipeline in engine-portable md5 arithmetic so the DuckDB
    // oracle can follow every stage exactly — the q138 precedent of
    // promoting a rows-only family to a full hash gate, retiring a
    // "trust me" row: K=16 minhashes h_j = min over distinct 3-gram
    // shingles of the 60-bit md5(gram || ':' || j) integer; 4 bands of 4
    // rows, band key = md5 of the comma-joined slots; bucket-join
    // candidates (doc_a < doc_b, distinct); exact-Jaccard >= 0.6 verify
    // on candidates ONLY (the shared SetSimIndex.verify); iterative
    // min-label CC; longest-member canonical election. Same shapes as q107 —
    // signatures are one explode + one doc-keyed agg of K mins,
    // candidates shuffle (band, key, doc) triples, verify is
    // O(candidates) — just 16 md5s per gram instead of 16 xxhash64s, the
    // declared price of oracle portability (the production path keeps
    // xxhash64; LshCanonicalSpec pins this twin's parity with it).
    QueryDef("q107b_lsh_canonical_md5", (s, d) => {
      // PIN the signature bank (both sides of the band self-join replay
      // the 16-min-md5 aggregation otherwise) and the hashed gram sets
      // (both verify sides scan them) — the q36b discipline. CC consumes
      // the edges EAGERLY, so the pins are scoped to the CC call.
      val cc = Pins.scope { pins =>
        val sigs = pins.persist(md5Signatures(s, d))
        val grams = pins.persist(hashedGrams(s, d))
        val bands = md5Bands(sigs)
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band_id") === col("b.band_id") &&
              col("a.bh") === col("b.bh") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        DedupClusters.connectedComponents(SetSimIndex.verify(cand, grams, 0.6))
      }
      canonicalElection(cc, t(s, d, "documents"))
    }, Some {
      val sigSql = md5SigSql
      val bandSql = md5BandSql
      s"""
      WITH RECURSIVE g AS (
        SELECT doc_id,
          ${gramSetSql()} AS grams
        FROM documents),
      ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      sig AS (
        SELECT doc_id,
          $sigSql
        FROM ex GROUP BY doc_id),
      bands AS (
        SELECT doc_id, band_id,
          CASE band_id
            $bandSql
          END AS bh
        FROM sig, unnest([${(0 until Bands).mkString(", ")}]) u(band_id)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN g ga ON ga.doc_id = c.doc_a
        JOIN g gb ON gb.doc_id = c.doc_b
        WHERE len(ga.grams) + len(gb.grams)
                - len(list_intersect(ga.grams, gb.grams)) > 0
          AND ${jaccardSql("ga", "gb")} >= 0.6),
      ${DedupClusters.reachSql("pairs")},
      cc AS (
        ${DedupClusters.clusterLabelSql}),
      ranked AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
          row_number() OVER (PARTITION BY c.cluster_id
            ORDER BY d.n_chars DESC, c.doc_id) AS rn,
          CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS members
        FROM cc c JOIN documents d USING (doc_id))
      SELECT cluster_id, doc_id AS canonical_doc, members
      FROM ranked WHERE rn = 1"""
    },
      notes = "the q107 LSH->verify->CC->election composition replayed in engine-portable md5 arithmetic, FULLY hash-gated (the q138 rows-only-promotion precedent): K=16 md5 minhashes, 4x4 banding, exact-verify on candidates only, recursive-CC oracle; production keeps the xxhash64 twin (q107), parity spec-pinned"),

    // ── Incremental ER with a DIRTY batch (within-delta residual) ──────
    // q196 defers the within-delta case because its batch cannot contain
    // one (<= 1 record per entity per batch, by construction). A real
    // crawl batch HAS internal dups — this entry runs the documented
    // composition on a batch built to contain them: every fifth customer
    // (mod 5 == 2) contributes TWO records of one genuinely-new entity
    // whose names are Hamming-1 of each other and match nothing in base.
    // Pipeline: (1) q196's delta-vs-base masked absorption (base never
    // self-joins); (2) q194's operators — masked blocking + iterative CC
    // — on the UNMATCHED RESIDUAL only, delta-sized at any base size.
    // Output adds the three-way partition the judge of an incremental ER
    // run reads: inherits (matched=1), founds-new singleton (is_new=1,
    // merged_in_delta=0), merges-within-delta (is_new=1,
    // merged_in_delta=1, shared assigned_cluster = min member rec_id).
    QueryDef("q196b_er_dirty_batch", (s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"))
      val base = cust.select((col("c_custkey") * 2).as("rec_id"),
        col("c_custkey").as("entity_key"),
        substring(md5(col("c_custkey").cast("string")), 1, 12).as("name"))
      val deltaVar = cust.filter(col("c_custkey") % 3 === 0)
        .select((col("c_custkey") * 2 + 1).as("rec_id"),
          col("c_custkey").as("entity_key"),
          concat(substring(md5(col("c_custkey").cast("string")), 1, 11),
            lit("z")).as("name"))
      val deltaNew = cust.filter(col("c_custkey") % 7 === 1)
        .select((col("c_custkey") * 2 + 1000000000L).as("rec_id"),
          (col("c_custkey") + 2000000000L).as("entity_key"),
          substring(md5(concat_ws(":", col("c_custkey").cast("string"),
            lit("new"))), 1, 12).as("name"))
      val deltaDup = cust.filter(col("c_custkey") % 5 === 2)
        .select(col("c_custkey"), explode(expr("array('x', 'y')")).as("sfx"))
        .select((col("c_custkey") * 2 + lit(3000000000L) +
            when(col("sfx") === "y", 1L).otherwise(0L)).as("rec_id"),
          (col("c_custkey") + 4000000000L).as("entity_key"),
          concat(substring(md5(concat_ws(":",
            col("c_custkey").cast("string"), lit("wd"))), 1, 11),
            col("sfx")).as("name"))
      val delta = deltaVar.unionAll(deltaNew).unionAll(deltaDup)
      def masked(df: org.apache.spark.sql.DataFrame) =
        df.select(col("rec_id"), explode(expr(
          "transform(sequence(1, length(name)), i -> " +
            "concat(substring(name, 1, i-1), chr(1), " +
            "substring(name, i+1)))")).as("mk"))
      val matches = masked(delta).withColumnRenamed("rec_id", "d_rec")
        .join(masked(base).withColumnRenamed("rec_id", "b_rec"), "mk")
        .groupBy(col("d_rec").as("rec_id"))
        .agg(min(col("b_rec")).as("base_match"))
      val joined = delta.join(matches, Seq("rec_id"), "left_outer")
        .localCheckpoint(true) // read by the residual AND the final join
      val residual = joined.filter(col("base_match").isNull)
        .select("rec_id", "name")
      val rm = masked(residual)
      val rPairs = rm.as("a").join(rm.as("b"),
          col("a.mk") === col("b.mk") && col("a.rec_id") < col("b.rec_id"))
        .select(col("a.rec_id").as("doc_a"), col("b.rec_id").as("doc_b"))
        .distinct()
      val cc = graft.dedup.DedupClusters.connectedComponents(rPairs)
      joined.join(cc, joined("rec_id") === cc("doc_id"), "left_outer")
        .select(joined("rec_id"), col("entity_key"),
          col("base_match").isNotNull.cast("long").as("matched"),
          coalesce(col("base_match"), col("cluster_id"), joined("rec_id"))
            .as("assigned_cluster"),
          col("base_match").isNull.cast("long").as("is_new"),
          (col("base_match").isNull && col("cluster_id").isNotNull)
            .cast("long").as("merged_in_delta"))
    }, Some(s"""
      WITH RECURSIVE base AS (
        SELECT c_custkey * 2 AS rec_id, c_custkey AS entity_key,
          substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS name
        FROM customer),
      delta AS (
        SELECT c_custkey * 2 + 1 AS rec_id, c_custkey AS entity_key,
          substr(md5(CAST(c_custkey AS VARCHAR)), 1, 11) || 'z' AS name
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey * 2 + 1000000000, c_custkey + 2000000000,
          substr(md5(CAST(c_custkey AS VARCHAR) || ':new'), 1, 12)
        FROM customer WHERE c_custkey % 7 = 1
        UNION ALL
        SELECT c_custkey * 2 + 3000000000
            + CASE WHEN sfx = 'y' THEN 1 ELSE 0 END,
          c_custkey + 4000000000,
          substr(md5(CAST(c_custkey AS VARCHAR) || ':wd'), 1, 11) || sfx
        FROM customer, unnest(['x', 'y']) u(sfx)
        WHERE c_custkey % 5 = 2),
      m AS (
        SELECT dd.rec_id, MIN(b.rec_id) AS base_match
        FROM delta dd JOIN base b
          ON (substr(dd.name, 1, 6) = substr(b.name, 1, 6)
           OR substr(dd.name, 7, 6) = substr(b.name, 7, 6))
         AND levenshtein(dd.name, b.name) <= 1
        GROUP BY dd.rec_id),
      jd AS (
        SELECT dd.rec_id, dd.entity_key, dd.name, m.base_match
        FROM delta dd LEFT JOIN m ON m.rec_id = dd.rec_id),
      res AS (SELECT rec_id, name FROM jd WHERE base_match IS NULL),
      rpairs AS (
        SELECT a.rec_id AS doc_a, b.rec_id AS doc_b
        FROM res a JOIN res b
          ON a.rec_id < b.rec_id
         AND (substr(a.name, 1, 6) = substr(b.name, 1, 6)
           OR substr(a.name, 7, 6) = substr(b.name, 7, 6))
        WHERE levenshtein(a.name, b.name) <= 1),
      ${DedupClusters.reachSql("rpairs")},
      cc AS (
        ${DedupClusters.clusterLabelSql})
      SELECT jd.rec_id, jd.entity_key,
        CAST(jd.base_match IS NOT NULL AS BIGINT) AS matched,
        COALESCE(jd.base_match, cc.cluster_id, jd.rec_id)
          AS assigned_cluster,
        CAST(jd.base_match IS NULL AS BIGINT) AS is_new,
        CAST(jd.base_match IS NULL AND cc.cluster_id IS NOT NULL AS BIGINT)
          AS merged_in_delta
      FROM jd LEFT JOIN cc ON cc.doc_id = jd.rec_id"""),
      notes = "incremental ER with a DIRTY batch: q196's base absorption + q194's masked blocking + CC on the unmatched residual (which HAS internal Hamming-1 pairs by construction) — the three-way inherits / founds-new / merges-within-delta partition, all stages delta-sized"),

    // ── Set-sim serving from the PERSISTED prefix index (q149's twin) ──
    // q149 is the exact-semantics anchor: it re-derives base grams, base
    // df and the prefix ordering inline on every run — correct, but the
    // serving path re-scans the base corpus per batch. This query is the
    // production steady state: the SetSimIndex is built ONCE per corpus
    // (IndexCache, the q104/q105/q120 posture), and each delta batch
    // probes the stored gram-df order + prefix postings + gram sets
    // delta-proportionally — the base side never self-joins and never
    // re-tokenizes. The probe's candidate generation and verify are
    // q149's (the same SetSimIndex join; frozen base-df order == q149's
    // base-only df by construction), so q149's DuckDB oracle gates this
    // query verbatim — a persisted serving path under a full hash gate.
    QueryDef("q202_setsim_served", (s, d) => {
      val root = graft.IndexCache.ensureSetSim(s, d)
      val delta = hashedGrams(s, d).select("doc_id", "grams_h", "n_grams")
        .filter(isDelta)
      SetSimIndex.probe(s, root, delta, tau = 0.5)
    }, Some(setSimIncrOracle),
      notes = "q149 served from the persisted SetSimIndex (build-once prefix postings under the frozen base-df order, delta-proportional probe): shares q149's oracle verbatim because probe arithmetic == inline arithmetic — the persisted-serving member of the set-similarity family"),

    // ── Bloom-pruned decontamination (q203's shuffle-diet twin) ────────
    // q203's cost at 100 TB is ONE gram-keyed exchange carrying every
    // distinct train shingle — trillions of rows of which only the tiny
    // contaminated fraction matters. This twin moves the eval gram set
    // across as a BLOOM SKETCH instead (BloomPrune's contract: ~1.2 MB
    // per 1M keys at 1% fpp, built distributed via the tree-aggregated
    // `stat.bloomFilter`, shipped once per task through the codegen
    // references array): train grams are probed by the codegen'd
    // graft_bloom_contains BEFORE any exchange, so the gram shuffle
    // carries only sketch survivors (true hits + <=1% false positives of
    // the pruned mass — the observe metric below makes the realized
    // prune factor visible in-flow, the q36/q141 no-silent-caps rule).
    // Exactness is structural, not statistical: the sketch has NO false
    // negatives, and the exact semi join against the eval gram set
    // removes its false positives — so the result relation is q203's,
    // and this query shares q203's oracle VERBATIM (the q202/q149
    // serving-twin pattern). The per-doc totals (n_grams) never needed
    // the gram exchange at all: they partial-aggregate map-side under
    // the doc_id key — splitting them out of the membership join is
    // itself part of the diet (q203's single left-outer ships every
    // gram; here the full gram stream crosses no exchange unkeyed).
    // Probe keys are xxhash64(gram) on BOTH build and probe sides (the
    // sketch stores longs; gram-string equality is re-established by the
    // exact verify, so a 2^-64 hash collision can only ADD a candidate
    // that the semi join then adjudicates on the real gram).
    QueryDef("q209_decontaminate_bloom", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = t(s, d, "documents")
      // Eval grams are consumed three times (count for sketch sizing,
      // sketch build, exact verify) — pin once; the eval side is bounded
      // by contract (it is the EVAL set), so materializing it is the
      // cheap side of the trade.
      val ev = evalGramSetOf(docs.filter(isEval(col("doc_id"))))
        .localCheckpoint(true)
      val nEval = math.max(ev.count(), 1L)
      val sketch = ev.select(xxhash64(col("gram")).as("h"))
        .stat.bloomFilter("h", nEval, 0.01)
      val bytes = {
        val out = new java.io.ByteArrayOutputStream()
        sketch.writeTo(out)
        out.toByteArray
      }
      val train = docs.filter(!isEval(col("doc_id")))
      val g = tokenized(train)
        .select(col("doc_id"), explode(expr(shinglesOfToks)).as("gram"))
      val perDoc = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val shared = g
        .filter(call_function("graft_bloom_contains",
          xxhash64(col("gram")), lit(bytes)))
        .observe("q209_bloom", count(lit(1)).as("n_bloom_survivors"))
        .join(ev, Seq("gram"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("shared_eval_grams"))
      train.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left_outer")
        .join(shared, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("shared_eval_grams"), lit(0L)).as("shared_eval_grams"),
          ((coalesce(col("shared_eval_grams"), lit(0L)) * lit(2L) >=
              coalesce(col("n_grams"), lit(0L)) &&
            coalesce(col("n_grams"), lit(0L)) > 0) ||
            coalesce(col("shared_eval_grams"), lit(0L)) >= 8L)
            .cast("long").as("dropped"))
    }, Some(decontamOracleSql),
      notes = "q203's decontamination under a bloom-pruned gram exchange: eval grams cross as a fixed-size sketch, train grams are probed pre-shuffle by the codegen'd graft_bloom_contains, only survivors reach the exact verify semi join (which removes the <=1% false positives — no false negatives exist, so the result is q203's relation and shares its oracle verbatim); per-doc totals split into a map-side partial agg that never ships grams"),

    // ── Content-defined chunking (rolling-hash breakpoints) ────────────
    // The dedup-STORAGE primitive (rsync/LBFS lineage) this catalog's
    // document-level dedup family doesn't cover: fixed-offset chunking
    // shatters under a single insertion (every later chunk shifts), so
    // incremental dedup of LONG near-identical documents (versioned
    // wikis, licenses boilerplate, log-structured corpora) cuts at
    // positions the CONTENT chooses — wherever an 8-char rolling window
    // hash ≡ 0 (mod 64) — and an edit only perturbs chunks that overlap
    // it; boundaries re-synchronize at the first breakpoint after the
    // edit (CdcChunksSpec pins exactly that re-sync on a constructed
    // insertion). Arithmetic: the window hash is Σ code·31^j over 8
    // chars — exact BIGINT, no modular reduction needed (max value
    // ~3.5e12), computed per position by indexing a chars array
    // (element_at is O(1), so a doc costs O(8n) integer ops inside ONE
    // codegen'd HOF chain — linear, narrow, zero shuffles until the
    // chunk table itself is consumed). Oracle recomputes the identical
    // integer arithmetic (the q39 posture), so breakpoints, chunk
    // extraction and hashes gate end-to-end.
    QueryDef("q220_cdc_chunks", (s, d) =>
      cdcChunkTable(t(s, d, "documents").select("doc_id", "text")),
      Some("""
      WITH d AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        FROM documents),
      b AS (
        SELECT doc_id, text, n,
          CASE WHEN n >= 8 THEN
            list_filter(range(0, n - 7), i ->
              (list_sum(list_transform(range(0, 8), j ->
                ascii(substr(text, CAST(i + j + 1 AS INT), 1)) *
                ([1, 31, 961, 29791, 923521, 28629151, 887503681,
                  27512614111])[CAST(j + 1 AS INT)])) % 64) = 0)
          ELSE CAST([] AS BIGINT[]) END AS bidx
        FROM d),
      c AS (
        SELECT doc_id, text, n,
          list_filter(list_transform(bidx, i -> i + 8), x -> x < n)
            AS cuts
        FROM b),
      u AS (
        SELECT doc_id, text, n, cuts,
          unnest(range(0, len(cuts) + 1)) AS chunk_idx
        FROM c),
      e AS (
        SELECT doc_id, chunk_idx, text,
          CASE WHEN chunk_idx = 0 THEN 0
               ELSE cuts[CAST(chunk_idx AS INT)] END AS s,
          CASE WHEN chunk_idx = len(cuts) THEN n
               ELSE cuts[CAST(chunk_idx + 1 AS INT)] END AS e2
        FROM u)
      SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        CAST(e2 - s AS BIGINT) AS chunk_len,
        md5(substr(text, CAST(s + 1 AS INT), CAST(e2 - s AS INT)))
          AS chunk_md5
      FROM e"""),
      notes = "content-defined chunking (rsync/LBFS): cut wherever the 8-char rolling window hash = 0 mod 64, so an edit only perturbs overlapping chunks and boundaries re-sync at the next breakpoint (spec-pinned); exact BIGINT polynomial hash (no modular reduction needed), O(8n) per doc inside one codegen'd HOF chain, narrow until the chunk table is consumed; oracle recomputes the identical integers"),

    // ── Chunk-ledger incremental dedup (q220's consumer) ───────────────
    // What CDC chunking is FOR: a new crawl batch arrives and most of it
    // is re-fetches of pages the corpus already holds, lightly edited —
    // document-level hashes miss them entirely (one changed byte, new
    // hash) and MinHash pays a full near-dup pass. The chunk ledger
    // answers cheaper and EXACTLY at chunk granularity: chunk the delta,
    // semi-join its chunk hashes against the standing ledger of base
    // chunk hashes, and a delta doc whose shared chunks cover ≥ half its
    // bytes is a re-fetch (the q220 re-sync property guarantees an
    // edited re-fetch shares every chunk after the first breakpoint past
    // the edit). The fixture derives its delta inside the query (the
    // corpus has one version): %25==0 docs re-arrive with a prefix edit
    // (must flag mostly_dup, except single-chunk shorties — both
    // outcomes occur), %25==7 docs re-arrive reversed (novel content,
    // must not flag). Shape: the chunk pass is q220's narrow map; the
    // ledger is id-sized (one md5 per unique chunk) and in production
    // is PERSISTED and bucketed (the q70/q149/q202 standing-structure
    // posture — here it derives inline so the oracle can see it); the
    // only joins are chunk_md5-keyed semi + doc-keyed aggs.
    QueryDef("q221_chunk_ledger_dedup", (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val delta = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("v2 update note "), col("text")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 25 === 7)
          .select((col("doc_id") + 20000000L).as("doc_id"),
            reverse(col("text")).as("text")))
      // pinned: three consumers (ledger, semi join, per-doc agg) must not
      // re-run the chunking pass — the chunk table is the cheap artifact
      val chunks = cdcChunkTable(docs.unionAll(delta)).localCheckpoint(true)
      val ledger = chunks.filter(col("doc_id") < 10000000L)
        .select("chunk_md5").distinct()
      val dch = chunks.filter(col("doc_id") >= 10000000L)
      val shared = dch.join(ledger, Seq("chunk_md5"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"),
          sum("chunk_len").as("bytes_shared"))
      dch.groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"), sum("chunk_len").as("n_bytes"))
        .join(shared, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_chunks"), col("n_bytes"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          coalesce(col("bytes_shared"), lit(0L)).as("bytes_shared"),
          (coalesce(col("bytes_shared"), lit(0L)) * 2 >= col("n_bytes"))
            .cast("long").as("mostly_dup"))
    }, Some("""
      WITH src AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000, 'v2 update note ' || text
        FROM documents WHERE doc_id % 25 = 0
        UNION ALL
        SELECT doc_id + 20000000, reverse(text)
        FROM documents WHERE doc_id % 25 = 7),
      d AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM src),
      b AS (
        SELECT doc_id, text, n,
          CASE WHEN n >= 8 THEN
            list_filter(range(0, n - 7), i ->
              (list_sum(list_transform(range(0, 8), j ->
                ascii(substr(text, CAST(i + j + 1 AS INT), 1)) *
                ([1, 31, 961, 29791, 923521, 28629151, 887503681,
                  27512614111])[CAST(j + 1 AS INT)])) % 64) = 0)
          ELSE CAST([] AS BIGINT[]) END AS bidx
        FROM d),
      c AS (
        SELECT doc_id, text, n,
          list_filter(list_transform(bidx, i -> i + 8), x -> x < n)
            AS cuts
        FROM b),
      u AS (
        SELECT doc_id, text, n, cuts,
          unnest(range(0, len(cuts) + 1)) AS chunk_idx
        FROM c),
      ch AS (
        SELECT doc_id,
          CAST(e2 - s AS BIGINT) AS chunk_len,
          md5(substr(text, CAST(s + 1 AS INT), CAST(e2 - s AS INT)))
            AS chunk_md5
        FROM (
          SELECT doc_id, text,
            CASE WHEN chunk_idx = 0 THEN 0
                 ELSE cuts[CAST(chunk_idx AS INT)] END AS s,
            CASE WHEN chunk_idx = len(cuts) THEN n
                 ELSE cuts[CAST(chunk_idx + 1 AS INT)] END AS e2
          FROM u)),
      led AS (
        SELECT DISTINCT chunk_md5 FROM ch WHERE doc_id < 10000000),
      dch AS (
        SELECT ch.*, CASE WHEN led.chunk_md5 IS NOT NULL THEN 1 ELSE 0 END
          AS shared
        FROM ch LEFT JOIN led ON led.chunk_md5 = ch.chunk_md5
        WHERE ch.doc_id >= 10000000)
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_chunks,
        CAST(SUM(chunk_len) AS BIGINT) AS n_bytes,
        CAST(SUM(shared) AS BIGINT) AS n_shared,
        CAST(SUM(CASE WHEN shared = 1 THEN chunk_len ELSE 0 END)
          AS BIGINT) AS bytes_shared,
        CAST(SUM(CASE WHEN shared = 1 THEN chunk_len ELSE 0 END) * 2 >=
          SUM(chunk_len) AS BIGINT) AS mostly_dup
      FROM dch GROUP BY doc_id"""),
      notes = "chunk-ledger incremental dedup (q220's consumer): delta chunk hashes semi-join the standing base ledger; a delta doc whose shared chunks cover >= half its bytes is an edited re-fetch (the re-sync property makes this exact, not approximate); fixture delta = prefix-edited re-fetches (must flag) + reversed novel docs (must not); ledger is id-sized and persisted/bucketed in production")
  )

  /** (doc_id, chunk_idx, chunk_len, chunk_md5) — the q220 operator,
    * shared with CdcChunksSpec. `docs` must expose (doc_id, text).
    *
    * r14: the chunk pass now runs as ONE compiled expression
    * ([[graft.functions.CdcChunks]], `graft_cdc_chunks`) with an O(n)
    * incremental rolling hash — the previous higher-order-function chain
    * (kept below as [[legacyCdcChunksExpr]], still the CdcChunksSpec
    * parity reference) evaluated its lambdas INTERPRETED, O(8n) boxed
    * integer ops per document (guide §4). Values are bit-identical —
    * the spec pins new == legacy on ASCII and multi-byte fixtures. */
  private[graft] def cdcChunkTable(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), explode(expr("graft_cdc_chunks(text)")).as("ch"))
      .select(col("doc_id"), col("ch.chunk_idx").as("chunk_idx"),
        col("ch.chunk_len").as("chunk_len"),
        col("ch.chunk_md5").as("chunk_md5"))
  }

  /** The pre-r14 HOF-chain form of the q220 chunk expression — retained
    * as the independent parity reference for [[graft.functions.CdcChunks]]
    * (CdcChunksSpec evaluates both and asserts equality, including on
    * multi-byte/astral-plane inputs).
    *
    * SHAPE NOTE (measured, not theoretical): the whole per-doc pipeline
    * (codes → breakpoints → cuts → chunk structs) lives inside ONE
    * expression where each stage binds ONCE as a lambda variable — the
    * single-element `transform(array(<stage>), v -> …)[1]` let-binding
    * idiom. The chained-`withColumn` form let project-collapse inline
    * the `codes` array INTO the per-position filter lambda, and when the
    * composed expression fell out of whole-stage codegen (where CSE
    * would have saved it) the interpreted path re-evaluated
    * `split(text,'')` for EVERY position — O(n²) per doc, jstack-caught
    * at 100× the runtime (the q197 composed-tree lesson, HOF edition).
    * With the let-bindings the pipeline is linear even interpreted. */
  private[graft] def legacyCdcChunksExpr: String = {
    val pows = "array(1L, 31L, 961L, 29791L, 923521L, 28629151L, " +
      "887503681L, 27512614111L)"
    s"""element_at(transform(
         |  array(transform(split(text, ''), ch -> ascii(ch))), codes ->
         |  element_at(transform(
         |    array(filter(
         |      transform(
         |        CASE WHEN length(text) >= 8
         |             THEN filter(sequence(0, length(text) - 8), i ->
         |                    (aggregate(sequence(0, 7), CAST(0 AS BIGINT),
         |                      (acc, j) ->
         |                        acc + CAST(element_at(codes, i + j + 1)
         |                                   AS BIGINT) *
         |                          element_at($pows, j + 1)) % 64) = 0)
         |             ELSE CAST(array() AS array<int>) END,
         |        i -> i + 8),
         |      x -> x < length(text))), cuts ->
         |    transform(sequence(0, size(cuts)), k ->
         |      struct(
         |        CAST(k AS BIGINT) AS chunk_idx,
         |        CAST((CASE WHEN k = size(cuts) THEN length(text)
         |                   ELSE element_at(cuts, k + 1) END)
         |           - (CASE WHEN k = 0 THEN 0
         |                   ELSE element_at(cuts, k) END)
         |          AS BIGINT) AS chunk_len,
         |        md5(substring(text,
         |          (CASE WHEN k = 0 THEN 0
         |                ELSE element_at(cuts, k) END) + 1,
         |          (CASE WHEN k = size(cuts) THEN length(text)
         |                ELSE element_at(cuts, k + 1) END)
         |           - (CASE WHEN k = 0 THEN 0
         |                   ELSE element_at(cuts, k) END)))
         |          AS chunk_md5))), 1)), 1)""".stripMargin
  }
}
