package graft.io

import java.nio.file.Files

import graft.{Pins, SparkSpec}

/** WARC container contracts: byte-level record round-trips (CRLF-heavy
  * and binary bodies included), strict None-on-malformed parsing, the
  * Spark read path's page extraction, and the q235 premise — pages
  * routed through WARC files equal the pages that went in. */
class WarcIOSpec extends SparkSpec {
  import WarcIO._

  test("single record renders and re-parses identically (binary + CRLF bodies)") {
    val bodies = Seq(
      "hello world".getBytes("UTF-8"),
      Array[Byte](0, 1, 2, -1, 13, 10, 13, 10, 7), // embedded CRLFCRLF
      Array.empty[Byte],
      ("a" * 70000).getBytes("UTF-8"))
    bodies.foreach { b =>
      val rec = WarcRecord(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> "<urn:graft:page:42>",
        "WARC-Target-URI" -> "http://example.org/x?a=1"), b)
      val parsed = parseRecords(render(rec))
      assert(parsed.isDefined && parsed.get.size == 1)
      assert(parsed.get.head.headers == rec.headers)
      assert(java.util.Arrays.equals(parsed.get.head.body, b))
    }
  }

  test("multi-record file parses every record in order") {
    val f = renderFile("web", Iterator(
      (1L, "http://a.com/1", "<html>one</html>"),
      (2L, "http://a.com/2", "<html>two\r\nlines</html>"),
      (7L, "http://b.org/7", "")))
    val recs = parseRecords(f).get
    assert(recs.size == 4) // warcinfo + 3 responses
    assert(recs.head.header("WARC-Type").contains("warcinfo"))
    assert(recs(1).header("WARC-Record-ID").contains("<urn:graft:page:1>"))
    assert(new String(httpBody(recs(2).body).get, "UTF-8")
      == "<html>two\r\nlines</html>")
  }

  test("malformed streams parse to None, never partial records") {
    val good = renderFile("web", Iterator((1L, "http://a/1", "<p>x</p>")))
    assert(parseRecords(good.dropRight(1)).isEmpty, "truncated separator")
    assert(parseRecords(good.take(good.length - 10)).isEmpty, "truncated body")
    assert(parseRecords("WARC/2.9\r\n\r\n\r\n\r\n".getBytes).isEmpty,
      "unknown version")
    val noLen = render(WarcRecord(Seq("WARC-Type" -> "x"), "b".getBytes))
    // strip the Content-Length header line
    val s = new String(noLen, "UTF-8").replaceFirst("Content-Length: 1\r\n", "")
    assert(parseRecords(s.getBytes("UTF-8")).isEmpty, "missing Content-Length")
    assert(parseRecords("garbage".getBytes).isEmpty)
  }

  test("readPages: WARC dir -> (page_id, url, html, source) rows") {
    val dir = Files.createTempDirectory("graft_warc").toFile.getPath
    import spark.implicits._
    val pages = Seq(
      (3L, "http://site1.com/a", "<html><p>alpha</p></html>", "cc"),
      (1L, "http://site1.com/b", "<html><p>beta</p></html>", "cc"),
      (9L, "http://site2.org/c", "<html><p>gamma</p></html>", "news"))
      .toDF("page_id", "url", "html", "source")
    writePages(pages, dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".warc")) == 2)
    val got = readPages(spark, dir)
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    val want = pages.as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(got == want)
  }

  test("distributed writer: readPages recovers the exact page set; per-source bytes match the fixture writer") {
    val dirD = Files.createTempDirectory("graft_warc_dist").toFile.getPath
    val dirF = Files.createTempDirectory("graft_warc_fix").toFile.getPath
    import spark.implicits._
    val pages = Seq(
      (3L, "http://s1.com/a", "<p>alpha</p>", "cc"),
      (1L, "http://s1.com/b", "<p>beta</p>", "cc"),
      (9L, "http://s2.org/c", "<p>gamma</p>", "news"),
      (4L, "http://s2.org/d", "<p>delta</p>", "news"))
      .toDF("page_id", "url", "html", "source")
    writePagesDistributed(pages, dirD)
    writePages(pages, dirF)
    val got = readPages(spark, dirD)
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    val want = pages.as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(got == want)
    // a source's distributed file is BYTE-identical to the fixture
    // writer's (same sorted rendering; only the name differs)
    def bySource(dir: String): Map[String, Seq[Byte]] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc"))
        .map(f => f.getName.split("[-.]")(0) ->
          Files.readAllBytes(f.toPath).toSeq).toMap
    assert(bySource(dirD) == bySource(dirF))
  }

  test("q235 premise: WebCurate over WARC-routed pages == WebCurate over the pages directly") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pages = docs.select(
      col("doc_id").as("page_id"),
      graft.text.UrlOps.syntheticUrl(col("doc_id")).as("url"),
      graft.text.HtmlExtract.syntheticHtml(col("doc_id"), col("text")).as("html"),
      col("source"))
    val (_, direct) = Pins.scope(graft.pipeline.WebCurate.run(_, pages))
    val dir = graft.IndexCache.ensureWarcFixture(spark, sf)
    val (_, viaWarc) =
      Pins.scope(graft.pipeline.WebCurate.run(_, readPages(spark, dir)))
    assert(viaWarc == direct,
      s"WARC routing changed the manifest: $viaWarc vs $direct")
  }
}
