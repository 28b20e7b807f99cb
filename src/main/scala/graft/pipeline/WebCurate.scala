package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pins
import graft.text.{HtmlExtract, TextClean, UrlOps}

/** Web-corpus curation end-to-end — the MARKUP front door in front of
  * [[CorpusCurate]]: raw crawled pages (url + html) down to the curated,
  * shard-assigned corpus, every stage an already-gated catalog operator
  * composed by shared definition:
  *  1. URL dedup — canonicalize ([[UrlOps]], q218) and keep the earliest
  *     page per canonical URL: the cheapest dedup there is, and it runs
  *     FIRST because it needs no content at all;
  *  2. domain cap — at most `maxPerDomain` pages per canonical host
  *     (q219's C4-style balancing), earliest-page preference;
  *  3. extraction + repair — markup → main content ([[HtmlExtract]],
  *     q217) then byte repair ([[TextClean]], q222); pages whose visible
  *     content is empty (pure-boilerplate shells) drop here;
  *  4. the whole [[CorpusCurate]] chain (quality gate → exact → near-dup
  *     → optional containment/semantic → shard pack) on the extracted
  *     text, page_id standing as doc_id.
  *
  * The manifest partitions the page count exactly (the CorpusCurate
  * discipline lifted one level): pages = urlDup + domainCap + emptyExtract
  * + curated.inputDocs, and the inner manifest partitions its own input.
  *
  * Scale posture: stages 1-3 are one narrow string map plus two keyed
  * windows whose rank filters get WindowGroupLimit map-side pushdown
  * (q07 contract — the exchanges carry ~cap rows per key per map
  * partition, not the crawl); stage 4 inherits CorpusCurate's audited
  * shapes. Nothing byte-sized survives past stage 3: html is dropped
  * the moment text exists. */
object WebCurate {

  final case class WebManifest(
      pages: Long,
      urlDupDropped: Long,
      domainCapDropped: Long,
      emptyExtractDropped: Long,
      curated: CorpusCurate.Manifest) {
    require(pages == urlDupDropped + domainCapDropped +
      emptyExtractDropped + curated.inputDocs,
      s"web manifest does not partition the crawl: $this")

    /** The crawl-level fields, then the inner manifest's. */
    def fields: Seq[(String, Long)] = Seq("pages" -> pages,
      "url_dup_dropped" -> urlDupDropped,
      "domain_cap_dropped" -> domainCapDropped,
      "empty_extract_dropped" -> emptyExtractDropped) ++ curated.fields
  }

  /** `pages` must expose (page_id, url, html, source). Returns the
    * curated frame (CorpusCurate columns + url_canon/domain) and the
    * two-level manifest.
    *
    * The post-extract checkpoint and every [[CorpusCurate.run]] pin live
    * in `pins`: the returned frame reads them, so it must be consumed
    * inside the caller's `Pins.scope`. */
  def run(pins: Pins, pages: DataFrame, maxPerDomain: Long = 3L,
      minQuality: Double = 1.0, minJ: Double = 0.6,
      shardTokens: Long = 2048L): (DataFrame, WebManifest) = {
    require(maxPerDomain > 0, s"maxPerDomain must be positive: $maxPerDomain")
    // The crawl is scanned exactly ONCE, however many manifest counts are
    // taken (r15, VERDICT r14 #7 — was twice since r14, per-count lineage
    // re-runs before that): all four stage counts RIDE the one
    // materializing pass as observe() metrics. n0 counts below the URL
    // window (CollectMetrics sits under the WindowGroupLimit pushdown, so
    // every crawl row passes it before map-side top-1 dropping), n1
    // counts the URL keepers (= distinct canonicals, no countDistinct
    // needed), n2/n3 count the extract output around its empty filter.
    // The pinned POST-EXTRACT frame is text-only (html dropped before the
    // pin, so the pin holds curated-scale text, never crawl-scale
    // markup); at 100 TB swap the localCheckpoint for a zone write (the
    // Runner staging posture). The eager localCheckpoint is the action
    // that latches all three observations.
    val headObs = new org.apache.spark.sql.Observation()
    val urlObs = new org.apache.spark.sql.Observation()
    val extractObs = new org.apache.spark.sql.Observation()
    val canon = pages.withColumn("url_canon",
      UrlOps.canonicalize(col("url")))
      .observe(headObs, count(lit(1)).as("n0"))

    val wUrl = Window.partitionBy("url_canon").orderBy("page_id")
    val urlKept = canon
      .withColumn("__rn", row_number().over(wUrl))
      .filter(col("__rn") === 1).drop("__rn")
      .observe(urlObs, count(lit(1)).as("n1"))

    val wDom = Window.partitionBy("domain").orderBy("page_id")
    val capped = urlKept
      .withColumn("domain", UrlOps.domain(col("url_canon")))
      .withColumn("__rn", row_number().over(wDom))
      .filter(col("__rn") <= maxPerDomain).drop("__rn")

    val texts0 = pins.checkpoint(capped
      .withColumn("text",
        TextClean.clean(HtmlExtract.extract(col("html")).getField("text")))
      .drop("html") // bytes stop here
      .observe(extractObs, count(lit(1)).as("n2"),
        count(when(length(col("text")) > 0, 1)).as("n3")))
    val n0 = headObs.get("n0").asInstanceOf[Long]
    val n1 = urlObs.get("n1").asInstanceOf[Long]
    val extractRow = extractObs.get
    val n2 = extractRow("n2").asInstanceOf[Long]
    val n3 = extractRow("n3").asInstanceOf[Long]
    val texts = texts0.filter(length(col("text")) > 0)

    val (curated, inner) = CorpusCurate.run(pins,
      texts.withColumnRenamed("page_id", "doc_id"),
      minQuality = minQuality, minJ = minJ, shardTokens = shardTokens)
    (curated, WebManifest(
      pages = n0,
      urlDupDropped = n0 - n1,
      domainCapDropped = n1 - n2,
      emptyExtractDropped = n2 - n3,
      curated = inner))
  }

  /** CLI: `runMain graft.pipeline.WebCurate <pagesParquetDir> <outRoot>` —
    * mirrors [[CorpusCurate.main]]: lands `<outRoot>/curated` plus a
    * two-level manifest JSON. */
  def main(args: Array[String]): Unit = {
    val Array(inDir, outRoot) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-web-curate")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val m = Pins.scope { pins =>
        val (curated, m) = run(pins, spark.read.parquet(inDir))
        curated.write.mode("overwrite")
          .option("compression", "snappy").parquet(s"$outRoot/curated")
        m
      }
      val json = CorpusCurate.manifestJson(m.fields)
      JobStatus.writeText(spark, s"$outRoot/manifest.json", json)
      println(s"WEB_CURATE_OK $json")
    } finally spark.stop()
  }
}
