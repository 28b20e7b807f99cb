package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Slot-for-slot parity of the compiled merge application
  * (graft_bpe_apply / graft_byte_bpe_encode) with the legacy interpreted
  * HOF chain (bpeMergeExpr / byteSymsExpr) — the r15 guarantee that the
  * tokenizer family's results are bit-identical after the §4 rewrite.
  * Covers a ≠ b merges, a = b run pairing, chained merges consuming
  * earlier merge output, multi-byte/astral-plane words, and adjacency
  * edge cases at array boundaries. */
class BpeApplySpec extends SparkSpec {

  private def legacyChain(tkCol: String, pairs: Seq[String]): String =
    pairs.foldLeft(tkCol) { (acc, pair) =>
      val i = pair.indexOf(' ')
      // bpeMergeExpr is written against a column literally named `tk`;
      // re-target it by textual substitution on the accumulated expr
      TextQueries.bpeMergeExpr(pair.substring(0, i), pair.substring(i + 1))
        .replace("tk", s"($acc)")
    }

  test("graft_bpe_apply == chained bpeMergeExpr on word-symbol arrays") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Seq(
      "a b a b c",        // two disjoint (a,b) matches
      "a a a a a",        // run of 5 under (a,a): pairs off LTR
      "a a b b a b",      // mixed
      "b a b a",          // match not at position 0
      "x",                // single symbol
      "a b",              // exactly one match consuming the whole array
      "ab a b ab",        // symbols equal to a merge's output already present
      "q w e r t y"       // no matches at all
    ).toDF("text").select(split(col("text"), " ").as("tk"))
    // merge list: (a,b), then (a,a) on the survivors, then a merge that
    // consumes earlier output (ab + a -> aba)
    val pairs = Seq("a b", "a a", "ab ab")
    val both = docs.select(
      expr(TextQueries.bpeApplyExpr("tk", pairs)).as("compiled"),
      expr(legacyChain("tk", pairs)).as("legacy"))
    val rows = both.collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"compiled=${r.getSeq[String](0)} legacy=${r.getSeq[String](1)}")
    }
  }

  test("graft_byte_bpe_encode == byteSymsExpr + chained merges (incl. unicode)") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val words = Seq("hello", "aaaa", "héllo", "日本語", "𝒜x", "x")
      .toDF("word")
    // 61='a'? the corpus is hex pairs: merge two common UTF-8 bytes and a
    // chained merge over the merged symbol
    val pairs = Seq("68 65", "6865 6C", "E6 97")
    val legacy = pairs.foldLeft(TextQueries.byteSymsExpr) { (acc, pair) =>
      val i = pair.indexOf(' ')
      TextQueries.bpeMergeExpr(pair.substring(0, i), pair.substring(i + 1))
        .replace("tk", s"($acc)")
    }
    val both = words.select(
      expr(TextQueries.byteBpeEncodeExpr(pairs)).as("compiled"),
      expr(legacy).as("legacy"))
    both.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"compiled=${r.getSeq[String](0)} legacy=${r.getSeq[String](1)}")
    }
  }

  test("empty symbols take the legacy fold branch (adversarial doubled spaces)") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    // split on ' ' of doubled/tripled-space text yields EMPTY tokens; the
    // adversarial corpus trains pairs like ('','') and ('a','') whose
    // legacy aggregate-fold ABSORBS RUNS (ab == a re-matches)
    val docs = Seq(
      "a||b", "a|||b", "||||", "a|", "|a", "x||||y", "a|a||a"
    ).toDF("raw").select(split(col("raw"), "\\|").as("tk"))
    for (pairs <- Seq(Seq(" "), Seq("a "), Seq(" a"), Seq(" ", "a "))) {
      val both = docs.select(
        expr(TextQueries.bpeApplyExpr("tk", pairs)).as("compiled"),
        expr(legacyChain("tk", pairs)).as("legacy"))
      both.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"pairs=$pairs compiled=${r.getSeq[String](0)} legacy=${r.getSeq[String](1)}")
      }
    }
  }

  test("empty merge lists degrade to identity / plain byte symbols") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq("a b c").toDF("text").select(split(col("text"), " ").as("tk"))
    assert(df.select(expr(TextQueries.bpeApplyExpr("tk", Nil)))
      .head().getSeq[String](0) == Seq("a", "b", "c"))
    val w = Seq("hi").toDF("word")
    assert(w.select(expr(TextQueries.byteBpeEncodeExpr(Nil)))
      .head().getSeq[String](0) == Seq("68", "69"))
  }

  test("graft_bpe_apply yields null for a null symbol or merge pair") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val tk = Seq(Seq("a", "b", "a"), Seq("a", null, "b")).toDF("tk")
    val out = tk.select(
      expr("graft_bpe_apply(tk, array('a b'))").as("m"),
      expr("graft_bpe_apply(tk, array('a b', NULL))").as("nullPair"))
      .collect()
    assert(out(0).getSeq[String](0) == Seq("ab", "a"))
    assert(out(1).isNullAt(0), "a null symbol must yield null")
    assert(out.forall(_.isNullAt(1)), "a null merge pair must yield null")
  }

  test("graft_byte_bpe_encode yields null for a null merge pair") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val out = Seq("hi", "he").toDF("word").select(
      expr("graft_byte_bpe_encode(word, array('68 69'))").as("m"),
      expr("graft_byte_bpe_encode(word, array('68 69', NULL))").as("nullPair"))
      .collect()
    assert(out.map(_.getSeq[String](0)).toSeq == Seq(Seq("6869"), Seq("68", "65")))
    assert(out.forall(_.isNullAt(1)), "a null merge pair must yield null")
  }
}
