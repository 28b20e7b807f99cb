package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reusable text-signal column builders — the SAME expressions behind the
  * batch catalog queries (q31 quality, q33 fingerprint) and the streaming
  * document-ingest pipeline, so batch/stream parity holds by construction
  * (one definition, two execution modes) instead of by re-implementation.
  * All narrow codegen'd expressions: no shuffle, no state. */
object TextSignals {

  /** The words of `text`: split on single spaces, empty tokens dropped —
    * the one token definition of the lexical queries, the dedup windows
    * and the BM25 postings index. Null text gives a null array. */
  def words(text: Column): Column =
    filter(split(text, " "), w => length(w) > lit(0))

  /** DuckDB twin of [[words]], spliced into the oracle SQL: the words of
    * the SQL expression `text` as a list. */
  def wordsSql(text: String = "text"): String =
    s"list_filter(string_split($text, ' '), x -> len(x) > 0)"

  /** Whitespace token count via length arithmetic (engine-portable; the
    * q30 form): spaces + 1, so it also counts the empty tokens between
    * doubled spaces and differs from `size(words(text))` on purpose —
    * each query's oracle mirrors the rule that query uses. */
  def nTokens(text: Column): Column =
    length(text) - nonSpaceChars(text) + lit(1)

  /** Mean token length: non-space characters per [[nTokens]] token. */
  def meanTokenLength(text: Column): Column =
    nonSpaceChars(text).cast("double") / nTokens(text)

  private def nonSpaceChars(text: Column): Column =
    length(replace(text, lit(" "), lit("")))

  /** Occurrences of `word` as a standalone token (\b boundaries — counts
    * adjacent repeats correctly, identical ASCII semantics across
    * engines). */
  def wordCount(text: Column, word: String): Column =
    size(regexp_extract_all(text, lit("\\b" + word + "\\b"), lit(0)))
      .cast("double")

  /** Stopword hits over the fixed 4-marker set (the q31 signal). */
  def stopwordHits(text: Column): Column =
    wordCount(text, "the") + wordCount(text, "a") +
      wordCount(text, "and") + wordCount(text, "of")

  /** Composite quality in {0, 0.5, 1.0}: in-range length + stopword
    * presence (the q31 score). */
  def qualityScore(text: Column): Column = {
    val stop = stopwordHits(text)
    when(length(text) >= 100 && length(text) <= 20000, 0.5).otherwise(0.0) +
      when(stop / nTokens(text).cast("double") > 0.01, 0.5).otherwise(0.0)
  }

  /** Normalized content fingerprint (case/whitespace-insensitive md5 — the
    * q33 `fp_normalized` definition; the exact-dedup key). */
  def normalizedFingerprint(text: Column): Column =
    md5(lower(replace(text, lit(" "), lit(""))))
}
