package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Pins, SparkSpec}
import graft.io.WarcIO

/** The CONTINUOUS form of the q253 flagship composition, wired from the
  * two existing streaming jobs exactly as a production deployment chains
  * them through a zone:
  *
  *   .warc/.warc.gz waves → [[StreamingWarcIngest]] (parse + WebCurate
  *   ledgers) → curated zone → file-source stream →
  *   [[StreamingPackIngest]] (frozen-tokenizer encode + cursor packing)
  *   → blocks zone.
  *
  * Claim under test: after two mixed-transport crawl waves, the blocks
  * view equals the ONE-SHOT packing of the one-shot WebCurate survivor
  * corpus — i.e. the full streamed composition is batch-equivalent end
  * to end (waves arrive in page_id order, the parity premise both
  * ingests document). */
class StreamingPretrainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def synthesis(lo: Long, hi: Long): DataFrame =
    graft.analytics.Ops.t(spark, sf, "documents")
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id").as("page_id"),
        graft.text.UrlOps.syntheticUrl(col("doc_id")).as("url"),
        graft.text.HtmlExtract.syntheticHtml(col("doc_id"), col("text"))
          .as("html"),
        col("source"))

  private def writeWave(pages: DataFrame, dir: String, tag: String,
      gzip: Boolean): Unit = {
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

  test("warc waves -> curate zone -> pack zone equals the one-shot " +
    "composition (crawl to training blocks, batch==stream)") {
    val warcDir = Files.createTempDirectory("graft-sp-in").toString
    val outRoot = Files.createTempDirectory("graft-sp-out").toString
    val cpCurate = Files.createTempDirectory("graft-sp-cp1").toString
    val cpPack = Files.createTempDirectory("graft-sp-cp2").toString
    val merges = graft.IndexCache.ensureByteBpeMerges(spark, sf)

    def curateWave(): Unit =
      StreamingWarcIngest.ingest(spark, warcDir, outRoot, cpCurate)
        .awaitTermination()
    def packWave(): Unit = {
      val schema = spark.read.parquet(s"$outRoot/curated").schema
      StreamingPackIngest.packIngest(
        spark.readStream.schema(schema).parquet(s"$outRoot/curated"),
        merges, s"$outRoot/pack", cpPack).awaitTermination()
    }

    writeWave(synthesis(0, 100), warcDir, "wave1", gzip = false)
    curateWave(); packWave()
    writeWave(synthesis(100, 200), warcDir, "wave2", gzip = true)
    curateWave(); packWave()

    // one-shot twin: batch WebCurate over the full synthesis, then the
    // one-shot pack of the curated corpus in doc_id order
    val expected = Pins.scope { pins =>
      val curated1shot =
        graft.pipeline.WebCurate.run(pins, synthesis(0, 200))._1
          .select("doc_id", "text")
      val perdoc = graft.text.TextQueries.byteBpeDocTokens(curated1shot, merges)
      graft.operators.GlobalOrder
        .withRunningTotals(perdoc, Seq(col("doc_id")), col("n_tokens"))
        .withColumn("block_id", explode(sequence(
          expr("tstart div 512"), expr("(tend - 1) div 512"))))
        .groupBy("block_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("tend"), (col("block_id") + 1) * 512L) -
            greatest(col("tstart"), col("block_id") * 512L))
            .as("block_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(expected.nonEmpty, "one-shot composition must produce blocks")
    val streamed = StreamingPackIngest.blocks(spark, s"$outRoot/pack")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == expected,
      "streamed crawl->curate->pack composition must equal the one-shot")
  }
}
