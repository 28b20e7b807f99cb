package graft.io

import java.nio.file.Files

import graft.{Pins, SparkSpec}

/** `.warc.gz` transport contracts (VERDICT r11 punch #2): gzip-member-
  * per-record layout pinned byte-exactly, concatenated-member
  * decompression round-trips, strictness on corrupt members, and the
  * q245 premise — pages routed through the COMPRESSED archive equal the
  * pages routed through the plain one and the pages that went in. */
class WarcGzSpec extends SparkSpec {
  import WarcIO._

  private val pages3 = Seq(
    (1L, "http://a.com/1", "<html>one</html>"),
    (2L, "http://a.com/2", "<html>two\r\nlines</html>"),
    (7L, "http://b.org/7", ""))

  test("gzipMember/gunzipAll round-trip, single and concatenated members") {
    val a = "alpha record".getBytes("UTF-8")
    val b = Array[Byte](0, 1, 2, -1, 13, 10, 13, 10, 7)
    assert(java.util.Arrays.equals(gunzipAll(gzipMember(a)), a))
    // concatenated members decompress to the concatenated plaintext —
    // the JDK behavior the whole .warc.gz transport stands on
    assert(java.util.Arrays.equals(
      gunzipAll(gzipMember(a) ++ gzipMember(b)), a ++ b))
    assert(gunzipAll(Array.empty[Byte]).isEmpty)
  }

  test("renderFileGz layout: one gzip member PER RECORD, byte-exact") {
    val gz = renderFileGz("web", pages3.iterator)
    // the layout contract: the file equals gzipping each rendered record
    // independently and concatenating — which is what gives range readers
    // record-granular random access (WARC annex D / Common Crawl form)
    val plainRecords = parseRecords(renderFile("web", pages3.iterator)).get
    val expected = plainRecords.map(r => gzipMember(render(r)))
      .foldLeft(Array.empty[Byte])(_ ++ _)
    assert(java.util.Arrays.equals(gz, expected),
      "renderFileGz is not member-per-record")
    // and the decompressed whole equals the plain rendering
    assert(java.util.Arrays.equals(gunzipAll(gz),
      renderFile("web", pages3.iterator)))
  }

  test("decompressed .warc.gz parses to the identical record sequence") {
    val plain = parseRecords(renderFile("web", pages3.iterator)).get
    val viaGz = parseRecords(gunzipAll(renderFileGz("web", pages3.iterator))).get
    assert(viaGz.size == plain.size)
    viaGz.zip(plain).foreach { case (g, p) =>
      assert(g.headers == p.headers)
      assert(java.util.Arrays.equals(g.body, p.body))
    }
  }

  test("corrupt or truncated members throw, never yield partial bytes") {
    val gz = renderFileGz("web", pages3.iterator)
    intercept[java.io.IOException](gunzipAll(gz.dropRight(3)))
    val corrupted = gz.clone()
    corrupted(corrupted.length / 2) = (corrupted(corrupted.length / 2) ^ 0x55).toByte
    intercept[java.io.IOException](gunzipAll(corrupted))
    intercept[java.io.IOException](gunzipAll("not gzip".getBytes("UTF-8")))
  }

  test("truncation INSIDE optional header fields throws ZipException, " +
    "never ArrayIndexOutOfBounds (ADVICE r13)") {
    // FEXTRA flag set, XLEN=16, but the member ends inside the extra
    // field — the skip (off += xl) must re-check bounds before setInput
    val fextra = Array(0x1f, 0x8b, 8, 0x04, 0, 0, 0, 0, 0, 0,
      16, 0, 1, 2).map(_.toByte)
    intercept[java.util.zip.ZipException] { gunzipAll(fextra) }
    // FHCRC flag set but the member ends inside the 2-byte CRC16
    val fhcrc = Array(0x1f, 0x8b, 8, 0x02, 0, 0, 0, 0, 0, 0,
      0x11).map(_.toByte)
    intercept[java.util.zip.ZipException] { gunzipAll(fhcrc) }
    // FNAME flag set, name never NUL-terminated before the bytes end
    val fname = Array(0x1f, 0x8b, 8, 0x08, 0, 0, 0, 0, 0, 0,
      'x'.toInt, 'y'.toInt).map(_.toByte)
    intercept[java.util.zip.ZipException] { gunzipAll(fname) }
  }

  test("a damaged SECOND member header throws — never a silently shorter archive") {
    // the JDK GZIPInputStream failure mode this guards against (ADVICE
    // r12): readTrailer swallows IOExceptions while probing the NEXT
    // member's header, so corruption THERE used to truncate silently
    val m1 = gzipMember("first record".getBytes("UTF-8"))
    val m2 = gzipMember("second record".getBytes("UTF-8"))
    val ok = m1 ++ m2
    assert(new String(gunzipAll(ok), "UTF-8") == "first recordsecond record")
    // corrupt the second member's validated header bytes in turn:
    // magic (0,1), CM (2), FLG (3 — ^0x55 sets a reserved bit)
    (0 until 4).foreach { i =>
      val bad = ok.clone()
      bad(m1.length + i) = (bad(m1.length + i) ^ 0x55).toByte
      intercept[java.io.IOException] { gunzipAll(bad) }
    }
    // MTIME/XFL/OS (4-9) are ignorable per RFC 1952: flipping them must
    // NOT throw and must not change the payload
    (4 until 10).foreach { i =>
      val bad = ok.clone()
      bad(m1.length + i) = (bad(m1.length + i) ^ 0x55).toByte
      assert(new String(gunzipAll(bad), "UTF-8") ==
        "first recordsecond record")
    }
    // a second member cut off mid-header (the 10-byte-header truncation)
    intercept[java.io.IOException] { gunzipAll(m1 ++ m2.take(5)) }
    // trailing garbage after the last member
    intercept[java.io.IOException] {
      gunzipAll(ok ++ "trailing junk".getBytes("UTF-8"))
    }
  }

  test("readPagesGz: .warc.gz dir -> identical rows to the plain reader") {
    val dirGz = Files.createTempDirectory("graft_warcgz").toFile.getPath
    val dirPl = Files.createTempDirectory("graft_warcpl").toFile.getPath
    import spark.implicits._
    val pages = Seq(
      (3L, "http://site1.com/a", "<html><p>alpha</p></html>", "cc"),
      (1L, "http://site1.com/b", "<html><p>beta</p></html>", "cc"),
      (9L, "http://site2.org/c", "<html><p>gamma</p></html>", "news"))
      .toDF("page_id", "url", "html", "source")
    writePages(pages, dirGz, gzip = true)
    writePages(pages, dirPl)
    assert(new java.io.File(dirGz).listFiles()
      .count(_.getName.endsWith(".warc.gz")) == 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    val got = rows(readPagesGz(spark, dirGz))
    assert(got == rows(readPages(spark, dirPl)))
    assert(got == rows(pages.toDF("page_id", "url", "html", "source")))
  }

  test("distributed gz writer: bytes match the fixture writer; reader recovers the set") {
    val dirD = Files.createTempDirectory("graft_warcgz_dist").toFile.getPath
    val dirF = Files.createTempDirectory("graft_warcgz_fix").toFile.getPath
    import spark.implicits._
    val pages = Seq(
      (3L, "http://s1.com/a", "<p>alpha</p>", "cc"),
      (1L, "http://s1.com/b", "<p>beta</p>", "cc"),
      (9L, "http://s2.org/c", "<p>gamma</p>", "news"))
      .toDF("page_id", "url", "html", "source")
    writePagesDistributed(pages, dirD, gzip = true)
    writePages(pages, dirF, gzip = true)
    def bySource(dir: String): Map[String, Seq[Byte]] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
        .map(f => f.getName.split("[-.]")(0) ->
          Files.readAllBytes(f.toPath).toSeq).toMap
    assert(bySource(dirD) == bySource(dirF))
    val got = readPagesGz(spark, dirD)
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(got == pages.as[(Long, String, String, String)]
      .collect().sortBy(_._1).toSeq)
  }

  test("q245 premise: WebCurate over .warc.gz == over plain WARC == direct") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pages = docs.select(
      col("doc_id").as("page_id"),
      graft.text.UrlOps.syntheticUrl(col("doc_id")).as("url"),
      graft.text.HtmlExtract.syntheticHtml(col("doc_id"), col("text")).as("html"),
      col("source"))
    val (_, direct) = Pins.scope(graft.pipeline.WebCurate.run(_, pages))
    val gzDir = graft.IndexCache.ensureWarcGzFixture(spark, sf)
    val (_, viaGz) =
      Pins.scope(graft.pipeline.WebCurate.run(_, readPagesGz(spark, gzDir)))
    assert(viaGz == direct,
      s".warc.gz routing changed the manifest: $viaGz vs $direct")
  }
}
