package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Pins, SparkSpec}
import graft.io.WarcIO
import graft.pipeline.WebCurate

/** [[StreamingWarcIngest]] — the raw-archive stream: WARC files arriving
  * in waves parse and curate into exactly `WebCurate.run`'s one-shot
  * survivor set, and a later re-crawl wave (fresh record ids, already-
  * banked URLs/content) adds nothing — the ledgers remember across
  * files and across stream restarts (each wave is its own AvailableNow
  * run over the same checkpoint). */
class StreamingWarcIngestSpec extends SparkSpec {

  private def synthesis(lo: Long, hi: Long): DataFrame =
    graft.analytics.Ops.t(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id").as("page_id"),
        graft.text.UrlOps.syntheticUrl(col("doc_id")).as("url"),
        graft.text.HtmlExtract.syntheticHtml(col("doc_id"), col("text"))
          .as("html"),
        col("source"))

  /** Wave writer: unique file names per wave (the file-stream source
    * keys on paths — a wave must be NEW files, as real crawls deliver).
    * `gzip` delivers the wave in the .warc.gz transport — real crawls
    * MIX transports, and the stream's per-file magic sniff must too. */
  private def writeWave(pages: DataFrame, dir: String, tag: String,
      gzip: Boolean = false): Unit = {
    import spark.implicits._
    pages.select("page_id", "url", "html", "source")
      .as[(Long, String, String, String)].collect()
      .groupBy(_._4).foreach { case (source, rows) =>
        val sorted = rows.sortBy(_._1).iterator.map(r => (r._1, r._2, r._3))
        val (bytes, ext) =
          if (gzip) (WarcIO.renderFileGz(source, sorted), "warc.gz")
          else (WarcIO.renderFile(source, sorted), "warc")
        Files.write(
          java.nio.file.Paths.get(dir, s"$tag-$source.$ext"), bytes)
      }
  }

  private def runWave(warcDir: String, outRoot: String, cp: String): Unit = {
    val q = StreamingWarcIngest.ingest(spark, warcDir, outRoot, cp)
    q.awaitTermination()
  }

  test("WARC waves curate to the one-shot survivors; a re-crawl wave adds nothing") {
    val warcDir = Files.createTempDirectory("graft-swarc-in").toString
    val outRoot = Files.createTempDirectory("graft-swarc-out").toString
    val cp = Files.createTempDirectory("graft-swarc-cp").toString

    val all = synthesis(0, 200)
    val expected = Pins.scope { pins =>
      WebCurate.run(pins, all)._1
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }

    writeWave(synthesis(0, 100), warcDir, "wave1")
    runWave(warcDir, outRoot, cp)
    // wave 2 arrives COMPRESSED (.warc.gz) — mixed transports, one stream
    writeWave(synthesis(100, 200), warcDir, "wave2", gzip = true)
    runWave(warcDir, outRoot, cp)

    def survivors(): Set[Long] =
      spark.read.parquet(s"$outRoot/curated").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    assert(survivors() == expected,
      "two streamed WARC waves must land WebCurate.run's one-shot set")

    // wave 3: a re-crawl — five wave-1 pages re-fetched under FRESH
    // record ids (new WARC file, new page ids, banked URLs): the URL
    // ledger must drop every one across the file boundary
    val recrawl = synthesis(0, 5)
      .withColumn("page_id", col("page_id") + 1000L)
    writeWave(recrawl, warcDir, "wave3")
    runWave(warcDir, outRoot, cp)
    assert(survivors() == expected, "re-crawled pages must all be dropped")
  }
}
