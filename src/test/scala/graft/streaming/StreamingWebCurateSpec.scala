package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Pins, SparkSpec}
import graft.pipeline.WebCurate

/** [[StreamingWebCurate]] — the continuous crawl front door:
  *  - batch⇄stream parity: replaying a crawl through curateBatch — one
  *    batch or several, in page_id order — yields exactly
  *    [[WebCurate.run]]'s one-shot survivor set (every stage shares its
  *    batch definition; the ledgers carry the cross-batch memory);
  *  - each ledger individually enforces its stage across batches: a URL
  *    re-spelling, a domain's 4th page, an exact re-post and a near-dup
  *    arriving in LATER batches are all dropped;
  *  - the end-to-end streaming query lands the same survivors on the
  *    fixture-scale synthesis. */
class StreamingWebCurateSpec extends SparkSpec {

  private val tA = "the quick brown fox jumps over the lazy dog and then " +
    "runs through the wide green field with a very happy friend all day"
  private val tB = "a careful reader walks into the old library and finds " +
    "that every shelf holds some forgotten story about the quiet sea here"
  private val tC = "when the winter storm finally passed over the valley " +
    "the farmers came out and started to repair all of the broken fences"
  private val tD = "every morning the baker lights the oven and the whole " +
    "street wakes to the warm smell of fresh bread drifting on the air"
  private val tDup = "the committee met on a tuesday and after a long " +
    "debate about the budget they agreed to postpone every decision again"
  private val tN1 = "the small boat drifted past the harbor wall while the " +
    "gulls circled above and the fishermen hauled their heavy nets aboard"
  private val tN2 = "the small boat drifted past the harbor wall while the " +
    "gulls circled above and the fishermen hauled their heavy nets ashore"

  private def page(text: String) =
    s"<html><head><title>t</title></head><body><p>$text</p></body></html>"

  private def crawl(): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "https://A.com/x?utm_source=t", page(tA), "crawl"),
      (2L, "https://a.com:443/x", page(tA), "crawl"),
      (3L, "https://big.com/p1", page(tB), "crawl"),
      (4L, "https://big.com/p2", page(tC), "crawl"),
      (5L, "https://big.com/p3", page(tD), "crawl"),
      (6L, "https://big.com/p4", page(tB + " extra"), "crawl"),
      (7L, "https://big.com/p5", page(tC + " extra"), "crawl"),
      (8L, "https://empty.org/x",
        "<body><div><a href=\"/a\">Home</a> <a href=\"/b\">More</a></div></body>",
        "crawl"),
      (9L, "https://dup.org/a", page(tDup), "crawl"),
      (10L, "https://dup.org/b", page(tDup), "crawl"),
      (11L, "https://bad.org/q", page("short"), "crawl"),
      (12L, "https://near.org/a", page(tN1), "crawl"),
      (13L, "https://near.org/b", page(tN2), "crawl"))
      .toDF("page_id", "url", "html", "source")
  }

  private def survivors(root: String): Set[Long] =
    spark.read.parquet(s"$root/curated").select("doc_id")
      .collect().map(_.getLong(0)).toSet

  private def oneShot(pages: DataFrame): Set[Long] = Pins.scope { pins =>
    WebCurate.run(pins, pages)._1.select("doc_id")
      .collect().map(_.getLong(0)).toSet
  }

  test("survivor set equals WebCurate.run — one batch and split replays") {
    val c = crawl()
    val expected = oneShot(c)
    assert(expected == Set(1L, 3L, 4L, 5L, 9L, 12L)) // the pinned crawl

    val r1 = Files.createTempDirectory("graft-swc1").toString
    StreamingWebCurate.curateBatch(c, r1, 3L, 1.0, 0.6)
    assert(survivors(r1) == expected)

    // three in-order batches: the URL-dup pair, the capped domain run,
    // the exact-dup pair and the near-dup pair each SPAN a boundary
    val r2 = Files.createTempDirectory("graft-swc2").toString
    StreamingWebCurate.curateBatch(
      c.filter(col("page_id") <= 4), r2, 3L, 1.0, 0.6)
    StreamingWebCurate.curateBatch(
      c.filter(col("page_id") > 4 && col("page_id") <= 9), r2, 3L, 1.0, 0.6)
    StreamingWebCurate.curateBatch(
      c.filter(col("page_id") > 9), r2, 3L, 1.0, 0.6)
    assert(survivors(r2) == expected,
      "micro-batch boundaries changed the curated set")
    // ledgers stay duplicate-free where they promise to
    val url = spark.read.parquet(s"$r2/url_ledger")
    assert(url.count() == url.distinct().count())
    val fp = spark.read.parquet(s"$r2/fp_ledger")
    assert(fp.count() == fp.distinct().count())
  }

  test("every ledger enforces its stage across batch boundaries") {
    import spark.implicits._
    val r = Files.createTempDirectory("graft-swc3").toString
    StreamingWebCurate.curateBatch(crawl(), r, 3L, 1.0, 0.6)
    // fresh texts (no banked fp, no >=0.6 shingle overlap with batch 1):
    // the later-stage ledgers CANNOT drop these pages, so each assert
    // below attributes its drop to exactly one stage's memory
    val uA = "the tall ship sailed beyond the frozen cape and the crew " +
      "watched a pale sun climb over the silent water until the ice broke"
    val uB = "inside the workshop the old clockmaker fixed the broken " +
      "gears while a small cat slept on the warm bench near the window"
    val later = Seq(
      // URL re-spelling of page 1's canonical class
      (101L, "https://www.a.com/x", page(uA), "re"),
      // 4th page of big.com (cap is 3, lifetime)
      (102L, "https://big.com/p6", page(uB), "re"),
      // exact re-post of tDup under a fresh URL/domain
      (103L, "https://fresh1.org/a", page(tDup), "re"),
      // near-dup of tN1 under a fresh URL/domain
      (104L, "https://fresh2.org/a", page(tN2), "re"),
      // genuinely new page: must survive
      (105L, "https://fresh3.org/a", page(tC.replace("winter", "summer")
        .replace("valley", "plain")), "re"))
      .toDF("page_id", "url", "html", "source")
    StreamingWebCurate.curateBatch(later, r, 3L, 1.0, 0.6)
    val s = survivors(r)
    assert(!s.contains(101L), "url ledger must drop the re-spelling")
    assert(!s.contains(102L), "domain count must keep the cap closed")
    assert(!s.contains(103L), "fp ledger must drop the exact re-post")
    assert(!s.contains(104L), "sig table must drop the near-dup re-post")
    assert(s.contains(105L), s"fresh page must survive (got $s)")
  }

  test("end-to-end streaming query lands the one-shot survivors on the synthesis") {
    val docs = graft.analytics.Ops
      .t(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id").as("page_id"),
        graft.text.UrlOps.syntheticUrl(col("doc_id")).as("url"),
        graft.text.HtmlExtract.syntheticHtml(col("doc_id"), col("text"))
          .as("html"),
        col("source"))
    val expected = oneShot(docs)
    val root = Files.createTempDirectory("graft-swc-e2e").toString
    docs.coalesce(1).write.parquet(s"$root/in")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$root/in")
    val q = StreamingWebCurate.ingest(stream, root, s"$root/ckpt")
    q.awaitTermination(180000)
    assert(survivors(root) == expected)
  }
}
