package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted lexical (BM25) postings index — the [[graft.similarity.VectorIndex]]
  * pattern applied to text retrieval: pay the corpus scan ONCE at build
  * time, then answer any keyword query from term-pruned index reads.
  *
  * Layout under `root/`:
  *  - `postings/`  (tok, doc_id, tf)  — one row per (term, doc)
  *  - `docstats/`  (doc_id, dl)      — per-doc token length
  *  - `termdf/`    (tok, df)         — per-term document frequency
  *  - `corpus/`    (n_docs, t_toks)  — 1-row corpus totals
  *
  * Probe cost model at 100 TB: the query-term filter pushes into the
  * postings parquet scan (PushedFilters on `tok`), so only the queried
  * terms' postings are read — never the corpus; the doc-keyed join to
  * docstats is proportional to the MATCHED postings. Tokens come from the
  * scan path's own [[TextQueries.bm25TokenStreamOf]]; scoring reproduces
  * [[TextQueries.bm25MicroScores]]'s micro-unit integer arithmetic
  * term-for-term, so the index path ranks BIT-IDENTICALLY to the q86
  * scan path (PostingsIndexSpec pins row-for-row parity).
  */
object PostingsIndex {

  /** One corpus pass → the four index tables. */
  def build(docs: DataFrame, root: String): Unit = {
    val toks = TextQueries.bm25TokenStreamOf(docs)
    toks.groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").parquet(s"$root/postings")
    toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .write.mode("overwrite").parquet(s"$root/docstats")
    toks.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
      .write.mode("overwrite").parquet(s"$root/termdf")
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(toks.agg(count(lit(1)).as("t_toks")))
      .write.mode("overwrite").parquet(s"$root/corpus")
  }

  /** Absorb a delta of NEW documents without rescanning the corpus — the
    * daily-delta maintenance path (the q70 incremental-dedup motivation
    * applied to index upkeep). Doc-keyed tables (postings, docstats) are
    * pure parquet APPENDS proportional to the delta; term-keyed tables
    * merge at VOCABULARY size (termdf: base ∪ delta df re-summed; corpus:
    * two 1-row totals added) and are swapped in via write-aside + rename —
    * the only rewrites are dictionary-sized, never corpus-sized.
    *
    * CONTRACT: `docs` must be docs the index has never seen (new doc_ids).
    * Appending a doc twice double-counts it everywhere — callers dedup
    * first (the StreamingDocIngest hook feeds near-dup SURVIVORS).
    * IncrementalIndexSpec pins append == full rebuild on a split corpus. */
  def append(docs: DataFrame, root: String): Unit = {
    val spark = docs.sparkSession
    val toks = TextQueries.bm25TokenStreamOf(docs)
    toks.groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      .write.mode("append").parquet(s"$root/postings")
    toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .write.mode("append").parquet(s"$root/docstats")
    val termdf = spark.read.parquet(s"$root/termdf")
      .unionByName(toks.groupBy("tok")
        .agg(countDistinct(col("doc_id")).as("df")))
      .groupBy("tok").agg(sum(col("df")).as("df"))
    replace(termdf, s"$root/termdf")
    val corpus = spark.read.parquet(s"$root/corpus")
      .unionByName(docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(toks.agg(count(lit(1)).as("t_toks"))))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("t_toks")).as("t_toks"))
    replace(corpus, s"$root/corpus")
  }

  /** First call bootstraps the index, later calls absorb deltas — the
    * streaming-ingest entry point (a fresh deployment has no index yet). */
  def buildOrAppend(docs: DataFrame, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/corpus")
    val fs = p.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) append(docs, root) else build(docs, root)
  }

  /** Overwrite a table that feeds its own replacement: write aside, then
    * swap by rename (Spark refuses to overwrite a path it is reading). */
  private def replace(df: DataFrame, path: String): Unit = {
    val tmp = s"${path}_swap"
    df.write.mode("overwrite").parquet(tmp)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val t = new org.apache.hadoop.fs.Path(tmp)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    require(fs.rename(t, p), s"could not swap $tmp into $path")
  }

  /** BM25 top-k for `terms` from the index alone (no corpus scan).
    * Output (doc_id, bm25, n_terms) matches q86's shape and ordering. */
  def probe(spark: SparkSession, root: String, terms: Seq[String],
      k: Int = 20): DataFrame = {
    val postings = spark.read.parquet(s"$root/postings")
      .filter(col("tok").isin(terms: _*)) // pushed to the parquet scan
    val dl = spark.read.parquet(s"$root/docstats")
    val dfT = spark.read.parquet(s"$root/termdf")
      .filter(col("tok").isin(terms: _*))
    val corpus = spark.read.parquet(s"$root/corpus")
    postings.join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .join(broadcast(dfT), "tok")
      // EXACT replica of bm25MicroScores' micro-unit expression — parity
      // is by identical arithmetic, spec-enforced
      .withColumn("micro", round(
        graft.functions.DetMath.detLnRatio(lit(2) * col("n_docs") + lit(2),
            lit(2) * col("df") + lit(1))
          * col("tf").cast("double") * lit(2.2)
          / (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
              lit(0.75) * col("dl").cast("double") /
                (col("t_toks").cast("double") / col("n_docs").cast("double"))))
          * 1000000).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("micro")).as("s"), count(lit(1)).as("n_terms"))
      .orderBy(col("s").desc, col("doc_id").asc).limit(k)
      .select(col("doc_id"),
        round(col("s").cast("double") / 1e6, 6).as("bm25"), col("n_terms"))
  }
}
