package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Pins
import graft.text.{HtmlExtract, TextClean, TextSignals, UrlOps}

/** The crawl front door run CONTINUOUSLY — the streaming twin of
  * [[graft.pipeline.WebCurate]]: a stream of crawled pages (page_id,
  * url, html, source) flows through the identical stage chain — URL
  * dedup → domain cap → extract + repair → quality gate → exact dedup →
  * near-dup dedup — with each stage's cross-arrival memory held in a
  * PERSISTED LEDGER instead of a one-shot window (the
  * [[StreamingChunkLedger]] / [[StreamingDocIngest]] foreachBatch
  * pattern; every stage expression is the SHARED batch definition, so
  * batch⇄stream parity holds by construction and is pinned by
  * StreamingWebCurateSpec against `WebCurate.run`'s survivor set).
  *
  * Ledgers (all id/hash-sized — document bytes never persist here):
  *  - `url_ledger`: one row per canonical URL that has ever won its
  *    class (later spellings and re-fetches anti-join away; recorded at
  *    the URL stage, BEFORE the cap, so a canon whose keeper later died
  *    at the cap still blocks its other spellings — the one-shot rule);
  *  - `domain_counts`: per-batch kept-count increments per canonical
  *    host; the reader sums, so the cap closes permanently once a
  *    domain's lifetime count reaches `maxPerDomain`;
  *  - `fp_ledger`: one row per normalized fingerprint that won its
  *    class among quality-gate survivors;
  *  - `sig`: the near-dup signature table ([[StreamingDocIngest]] — all
  *    docs' signatures persist, kept AND dropped, which is what makes
  *    the survivor set micro-batch-boundary invariant).
  *
  * In-order replay (page_id order across batches) reproduces
  * `WebCurate.run`'s one-shot survivors exactly. Shard packing stays an
  * offline step over the curated zone (the q66 pass) — a stream can't
  * know a shard's final token sum until the corpus stops.
  *
  * Scale posture: stages are narrow maps + per-batch keyed windows; the
  * ledger joins key on canonical-url / domain / md5 / band hashes; at
  * 100 TB the ledgers live bucketed by their join key (LakeCatalog
  * posture) so each micro-batch's anti/semi joins land co-located. */
object StreamingWebCurate {

  def ingest(pages: DataFrame, outRoot: String, checkpoint: String,
      maxPerDomain: Long = 3L, minQuality: Double = 1.0,
      minJ: Double = 0.6): StreamingQuery =
    pages.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        curateBatch(batch, outRoot, maxPerDomain, minQuality, minJ)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One micro-batch through every stage. Its pins (the checkpointed
    * stage frames) are released when the batch's appends have run. */
  private[graft] def curateBatch(batch: DataFrame, outRoot: String,
      maxPerDomain: Long, minQuality: Double, minJ: Double): Unit = Pins.scope { pins =>
    val spark = batch.sparkSession
    // explicit schema via LedgerIO: an exists-but-fileless ledger dir
    // (crash between mkdir and the first part-file commit) must read as
    // empty, not wedge every restart on schema inference
    def readOrEmpty(path: String, like: DataFrame): DataFrame =
      LedgerIO.readOrEmpty(spark, path, like.schema)

    // 1. URL dedup: earliest page per canonical class within the batch,
    //    minus every class already banked
    val canon = batch.withColumn("url_canon",
      UrlOps.canonicalize(col("url")))
    val urlLedger = readOrEmpty(s"$outRoot/url_ledger",
      canon.select("url_canon"))
    val wUrl = Window.partitionBy("url_canon").orderBy("page_id")
    // pinned: urlKept feeds the cap stage AND its own ledger append —
    // unpinned, the canonicalize window would re-run per consumer (the
    // q221/q182 pinning rule; frames here are batch-sized)
    val urlKept = pins.checkpoint(canon
      .withColumn("__rn", row_number().over(wUrl))
      .filter(col("__rn") === 1).drop("__rn")
      .join(urlLedger, Seq("url_canon"), "left_anti"))

    // 2. domain cap: lifetime kept-count per canonical host
    val dom = urlKept.withColumn("domain", UrlOps.domain(col("url_canon")))
    val priorCounts = readOrEmpty(s"$outRoot/domain_counts",
      dom.groupBy("domain").agg(count(lit(1)).as("n")))
      .groupBy("domain").agg(sum("n").as("prior_n"))
    val wDom = Window.partitionBy("domain").orderBy("page_id")
    // pinned: feeds the extract chain + the domain_counts append
    val capped = pins.checkpoint(dom
      .withColumn("__dr", row_number().over(wDom))
      .join(priorCounts, Seq("domain"), "left_outer")
      .filter(coalesce(col("prior_n"), lit(0L)) + col("__dr") <= maxPerDomain)
      .drop("__dr", "prior_n"))

    // 3. extract + repair; empty shells drop; html bytes stop here
    val texts = capped
      .withColumn("text",
        TextClean.clean(HtmlExtract.extract(col("html")).getField("text")))
      .filter(length(col("text")) > 0)
      .drop("html")

    // 4. quality gate (shared TextSignals definition)
    val gated = texts
      .withColumn("quality_score", TextSignals.qualityScore(col("text")))
      .filter(col("quality_score") >= minQuality)

    // 5. exact dedup: normalized fingerprint vs ledger + within batch
    val fped = gated.withColumn("fp",
      TextSignals.normalizedFingerprint(col("text")))
    val fpLedger = readOrEmpty(s"$outRoot/fp_ledger", fped.select("fp"))
    val wFp = Window.partitionBy("fp").orderBy("page_id")
    // pinned: fpKept feeds survivorsOf's three internal consumers
    // (grams, signatures, the anti-join base) plus the fp ledger append
    // — and pinning here caps the whole extract+quality chain at ONE run
    val fpKept = pins.checkpoint(fped
      .withColumn("__rn", row_number().over(wFp))
      .filter(col("__rn") === 1).drop("__rn")
      .join(fpLedger, Seq("fp"), "left_anti"))

    // 6. near-dup dedup against the standing signature table
    val (survivors, sigRows) = StreamingDocIngest.survivorsOf(
      fpKept.withColumnRenamed("page_id", "doc_id"),
      s"$outRoot/sig", minJ)

    // survivors FIRST (all ledger reads' file listings are pinned at
    // read() time; appends below must not race the joins above)
    survivors.write.mode("append").parquet(s"$outRoot/curated")
    sigRows.write.mode("append").parquet(s"$outRoot/sig")
    urlKept.select("url_canon").write.mode("append")
      .parquet(s"$outRoot/url_ledger")
    capped.groupBy("domain").agg(count(lit(1)).as("n"))
      .write.mode("append").parquet(s"$outRoot/domain_counts")
    fpKept.select("fp").write.mode("append").parquet(s"$outRoot/fp_ledger")
  }
}
