package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The two token rules of [[TextSignals]]: `words` (split on single
  * spaces, empty tokens dropped) and `nTokens` (spaces + 1). They differ
  * on doubled spaces on purpose — each query's oracle mirrors the rule
  * that query uses. */
class TextSignalsSpec extends SparkSpec {
  import spark.implicits._

  private def words(texts: Seq[String]): Seq[Seq[String]] =
    texts.toDF("text").select(TextSignals.words(col("text")))
      .as[Seq[String]].collect().toSeq

  test("words drops the empty tokens of leading, trailing and doubled spaces") {
    assert(words(Seq(" a b", "a b ", "a  b", "  a   b  ")) ==
      Seq.fill(4)(Seq("a", "b")))
  }

  test("words of an empty text is an empty array, of null is null") {
    assert(words(Seq("")) == Seq(Seq.empty[String]))
    val n = Seq(Option.empty[String]).toDF("text")
      .select(TextSignals.words(col("text")).isNull).as[Boolean].head()
    assert(n)
  }

  test("nTokens counts spaces + 1 and so differs from size(words) on doubled spaces") {
    val r = Seq("a  b").toDF("text").select(TextSignals.nTokens(col("text")),
      size(TextSignals.words(col("text")))).as[(Int, Int)].head()
    assert(r == ((3, 2)))
  }
}
