package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.LakeCatalog
import graft.text.TextSignals

/** Persisted ExactSubstr WINDOW-HASH index — the fourth persisted
  * structure beside the BM25 postings, the IVF cells, and the set-sim
  * prefixes, completing the q249→q251 ladder the way q141→q149→q202 was
  * completed: q251's incremental form re-hashes the STANDING corpus's
  * windows on every batch; production ExactSubstr (suffix-array shards
  * in Lee et al.'s implementation) keeps that structure ON DISK and
  * pays only the delta.
  *
  * Layout: `<name>_windows` (h, doc_id, pos) — one row per 25-token
  * window at EVERY position of every indexed doc, BUCKETED BY h — the
  * probe's candidate join shuffles only the (small) delta side into the
  * bucket layout; the index side reads exchange-free.
  *
  * APPEND SOUNDNESS (stronger than SetSimIndex's): the window hash is a
  * pure content function ([[DedupQueries.substrWindowHashes]] — the
  * r^-pos factor cancels position, and p/r are compile-time constants),
  * so there is NO frozen-order or drift concern at all: hashes written
  * by any build/append/probe are comparable by value, append+probe ==
  * rebuild+probe EXACTLY (SubstrIndexSpec pins it), and a periodic
  * rebuild buys nothing but compaction.
  *
  * Verification stays EXACT and source-backed: candidates propose
  * (delta doc, indexed src, δ) alignments; token-level equal-run
  * verification reads the delta tokens (fresh) and the indexed docs'
  * tokens from the caller-supplied corpus frame — at 100 TB a
  * candidate-keyed point lookup against the source store, here a join
  * against the documents table. Hash collisions only ADD candidates. */
object SubstrIndex {

  private def windowsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val toks = DedupQueries.substrTokens(docs).localCheckpoint(true)
    DedupQueries.substrWindowHashes(toks,
      DedupQueries.substrPowers(s, DedupQueries.substrMaxLen(toks)))
      .select("h", "h2", "doc_id", "pos")
  }

  /** Index every 25-token window of `docs` (doc_id, text, ...). */
  def build(docs: DataFrame, name: String): Unit =
    LakeCatalog.saveTable(windowsOf(docs), s"${name}_windows",
      bucketCols = Seq("h"), numBuckets = 8, sortCols = Seq("h"))

  /** Absorb NEW docs at delta-proportional cost: hash their windows and
    * append under the same bucket spec. Content-pure hashing makes this
    * exact (see object scaladoc) — appended docs serve later probes as
    * "standing corpus" immediately. */
  def append(docs: DataFrame, name: String): Unit =
    LakeCatalog.saveTable(windowsOf(docs), s"${name}_windows",
      mode = "append", bucketCols = Seq("h"), numBuckets = 8,
      sortCols = Seq("h"))

  /** Per-delta-doc ExactSubstr coverage against the STANDING index plus
    * delta-internal earlier occurrences — q251's exact semantics served
    * from the persisted structure: (doc_id, n_tokens, n_dup_tokens,
    * n_kept_tokens), one row per delta doc.
    *
    * `corpus` supplies the INDEXED docs' text for the verification
    * point-lookups (the source store); delta docs verify against their
    * own fresh tokens. Only delta windows hash fresh; the index side is
    * a bucketed scan.
    *
    * `excludeDelta = true` drops index rows whose doc_id is IN the delta
    * (a broadcast anti-join — the delta id set is batch-sized) before
    * the candidate join. The streaming ingest sets it so an
    * at-least-once REPLAY whose previous attempt already appended the
    * batch to the index cannot violate the "a doc must never find
    * itself in the index" contract (ADVICE r13): without it, a
    * partially-committed batch's own windows would propose self-matching
    * full-coverage candidates on retry. Within-batch earlier-ness stays
    * with the delta-self join's (doc_id, pos) order either way. */
  def probe(s: SparkSession, name: String, deltaDocs: DataFrame,
      corpus: DataFrame, excludeDelta: Boolean = false): DataFrame = {
    val dToks = DedupQueries.substrTokens(deltaDocs).localCheckpoint(true)
    val powers = DedupQueries.substrPowers(s, DedupQueries.substrMaxLen(dToks))
    val dWh = DedupQueries.substrWindowHashes(dToks, powers)
      .localCheckpoint(true) // feeds the aligned AND delta-self sides
    val dAligned = dWh
      .filter(pmod(col("pos") - 1, lit(DedupQueries.BlockLen)) === 0)
      .select(col("doc_id"), col("pos").as("dpos"), col("h"), col("h2"))
    // every INDEXED window is "earlier" than every delta doc; the index
    // side passes through the conf-keyed hot-window guard (identity
    // unless spark.graft.substr.hotWindowCap is set — the 100 TB knob).
    // Join key is the (h, h2) pair; bucketing by h alone still satisfies
    // the pair's clustered distribution, so the index scan stays
    // exchange-free.
    val idxSide = {
      val w = s.table(s"${name}_windows")
        .select(col("h"), col("h2"), col("doc_id").as("src_id"),
          col("pos").as("spos"))
      if (excludeDelta)
        w.join(broadcast(deltaDocs.select(col("doc_id").as("src_id"))
          .distinct()), Seq("src_id"), "left_anti")
      else w
    }
    val candBase = dAligned
      .join(DedupQueries.substrSourceGuard(idxSide, "index"),
        Seq("h", "h2"))
    // delta-vs-delta: the q249 (doc_id, pos) order
    val candDelta = dAligned
      .join(DedupQueries.substrSourceGuard(
        dWh.select(col("doc_id").as("src_id"),
          col("pos").as("spos"), col("h"), col("h2")), "deltaself"),
        Seq("h", "h2"))
      .filter(col("src_id") < col("doc_id") ||
        (col("src_id") === col("doc_id") && col("spos") < col("dpos")))
    val cand = candBase.unionByName(candDelta)
      .select(col("doc_id"), col("src_id"),
        (col("dpos") - col("spos")).as("delta"))
      .distinct()
    val sToks = DedupQueries.substrTokens(corpus).unionByName(dToks)
    val cov = DedupQueries.substrCoverage(cand, dToks, sToks)
    deltaDocs
      .select(col("doc_id"),
        size(TextSignals.words(col("text"))).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("nd"), lit(0L)).as("n_dup_tokens"),
        (col("n_tokens") - coalesce(col("nd"), lit(0L))).as("n_kept_tokens"))
  }
}
