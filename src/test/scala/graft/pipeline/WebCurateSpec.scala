package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{Pins, SparkSpec}
import graft.text.UrlOps

/** [[WebCurate]] — every stage must fire on a handcrafted crawl with an
  * exactly-pinned two-level manifest, and the fixture-scale synthesis
  * must satisfy the a-priori-derivable counts (the q218 class algebra). */
class WebCurateSpec extends SparkSpec {

  // ≥100 chars + stopwords → qualityScore 1.0 (both halves)
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
  // near-dup pair: differ ONLY in the final word → shingle Jaccard ≈ 0.89
  private val tN1 = "the small boat drifted past the harbor wall while the " +
    "gulls circled above and the fishermen hauled their heavy nets aboard"
  private val tN2 = "the small boat drifted past the harbor wall while the " +
    "gulls circled above and the fishermen hauled their heavy nets ashore"

  private def page(text: String) =
    s"<html><head><title>t</title></head><body><p>$text</p></body></html>"

  test("handcrafted crawl: every stage fires, manifest pinned exactly") { Pins.scope { pins =>
    import spark.implicits._
    val pages = Seq(
      (1L, "https://A.com/x?utm_source=t", page(tA), "crawl"),
      (2L, "https://a.com:443/x", page(tA), "crawl"), // url-dup of 1
      (3L, "https://big.com/p1", page(tB), "crawl"),
      (4L, "https://big.com/p2", page(tC), "crawl"),
      (5L, "https://big.com/p3", page(tD), "crawl"),
      (6L, "https://big.com/p4", page(tB + " extra"), "crawl"), // capped
      (7L, "https://big.com/p5", page(tC + " extra"), "crawl"), // capped
      (8L, "https://empty.org/x",
        "<body><div><a href=\"/a\">Home</a> <a href=\"/b\">More</a></div></body>",
        "crawl"), // boilerplate shell → empty extract
      (9L, "https://dup.org/a", page(tDup), "crawl"),
      (10L, "https://dup.org/b", page(tDup), "crawl"), // exact text dup
      (11L, "https://bad.org/q", page("short"), "crawl"), // fails quality
      (12L, "https://near.org/a", page(tN1), "crawl"),
      (13L, "https://near.org/b", page(tN2), "crawl")) // near-dup of 12
      .toDF("page_id", "url", "html", "source")

    val (curated, m) = WebCurate.run(pins, pages)
    assert(m.pages == 13L)
    assert(m.urlDupDropped == 1L, m.toString)
    assert(m.domainCapDropped == 2L, m.toString)
    assert(m.emptyExtractDropped == 1L, m.toString)
    assert(m.curated.inputDocs == 9L, m.toString)
    assert(m.curated.qualityDropped == 1L, m.toString)
    assert(m.curated.exactDupDropped == 1L, m.toString)
    assert(m.curated.nearDupDropped == 1L, m.toString)
    assert(m.curated.keptDocs == 6L, m.toString)
    assert(m.curated.shards == 1L, m.toString)

    val kept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L, 9L, 12L), kept.toString)
    // tokens survive extraction + cleaning intact
    val tok = curated.filter(col("doc_id") === 1L)
      .select("n_tokens").head().getLong(0)
    assert(tok == tA.split(" ").length.toLong)
  } }

  test("fixture-scale synthesis satisfies the q218 class algebra") { Pins.scope { pins =>
    val docs = graft.analytics.Ops
      .t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").as("page_id"),
        UrlOps.syntheticUrl(col("doc_id")).as("url"),
        graft.text.HtmlExtract.syntheticHtml(col("doc_id"), col("text"))
          .as("html"),
        col("source"))
    val (curated, m) = WebCurate.run(pins, docs)
    // 500 pages over 40 canonical classes → 460 url-dups; the 40
    // survivors land on 40 distinct domains → the cap never fires; every
    // survivor extracts non-empty content
    assert(m.pages == 500L)
    assert(m.urlDupDropped == 460L, m.toString)
    assert(m.domainCapDropped == 0L, m.toString)
    assert(m.emptyExtractDropped == 0L, m.toString)
    assert(m.curated.inputDocs == 40L)
    assert(m.curated.keptDocs >= 1L && m.curated.keptTokens > 0L)
    assert(curated.count() == m.curated.keptDocs)
    info(s"fixture-scale web manifest: $m")
  } }
}
