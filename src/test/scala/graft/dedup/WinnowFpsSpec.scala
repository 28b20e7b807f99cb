package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Parity of the compiled winnowing-fingerprint expression
  * (graft_winnow_fps) with the legacy pipeline it replaced (r15):
  * per-position md5-HOF → posexplode → doc-keyed window-min (full
  * windows only) → per-doc distinct. Set equality per doc on the fixture
  * corpus plus targeted edges: sub-7-token docs (no full window → no
  * fingerprint), repeated tokens, multi-byte/astral tokens, empty
  * tokens from doubled spaces. */
class WinnowFpsSpec extends SparkSpec {

  private def legacyFps(docs: org.apache.spark.sql.DataFrame) = {
    val tk = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val g = tk.select(col("doc_id"),
        posexplode(expr(
          "transform(filter(sequence(0, greatest(size(t) - 4, 0)), " +
            "i -> i <= size(t) - 4), " +
            "i -> conv(substring(md5(concat_ws(' ', slice(t, i + 1, 4))), " +
            "1, 15), 16, 10))")).as(Seq("pos", "hs")))
      .select(col("doc_id"), col("pos"), col("hs").cast("long").as("h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    g.withColumn("wmin", min(col("h")).over(win))
      .withColumn("wn", count(lit(1)).over(win))
      .filter(col("wn") === 4)
      .select(col("doc_id"), col("wmin").as("fp")).distinct()
  }

  private def compiledFps(docs: org.apache.spark.sql.DataFrame) = {
    graft.functions.GraftFunctions.register(spark)
    docs.select(col("doc_id"),
      explode(expr("graft_winnow_fps(split(text, ' '))")).as("fp"))
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }

  test("compiled == legacy on the fixture corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val c = asMap(compiledFps(docs))
    val l = asMap(legacyFps(docs))
    assert(c == l, {
      val onlyC = c.keySet -- l.keySet; val onlyL = l.keySet -- c.keySet
      s"winnow parity broke: docs only compiled=$onlyC only legacy=$onlyL " +
        (c.keySet & l.keySet).find(k => c(k) != l(k))
          .map(k => s"first diff doc $k: ${c(k) -- l(k)} vs ${l(k) -- c(k)}")
          .getOrElse("")
    })
  }

  test("compiled == legacy on adversarial token edges") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""),                                  // empty text
      (2L, "a b c"),                             // < 4 tokens: no grams
      (3L, "a b c d e f"),                       // 6 tokens: grams but no full window
      (4L, "a b c d e f g"),                     // exactly 7: one window
      (5L, "x x x x x x x x x x"),               // repeats: one distinct fp
      (6L, "héllo 日本 𝒜 b c d é ü ghi jkl"),      // multi-byte + astral
      (7L, "a  b   c d e f g h")                 // doubled spaces -> empty tokens
    ).toDF("doc_id", "text")
    assert(asMap(compiledFps(docs)) == asMap(legacyFps(docs)))
  }

  test("a token array holding a null element yields null") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val toks = (1 to 9).map(i => s"t$i").toList
    val out = Seq(toks, toks.updated(4, null), Seq[String](null)).toDF("tk")
      .select(expr("graft_winnow_fps(tk)")).collect()
    assert(!out(0).isNullAt(0) && out(0).getSeq[Long](0).nonEmpty)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0),
      "a null token must yield null, not an NPE")
  }
}
