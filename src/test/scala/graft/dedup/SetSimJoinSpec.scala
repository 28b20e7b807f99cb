package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared set-similarity join ([[SetSimIndex.prefixes]] +
  * [[SetSimIndex.candidates]] + [[SetSimIndex.verify]]) against a
  * from-scratch Scala brute-force Jaccard, at several thresholds, in the
  * self-join form (q141: every pair once, corpus-wide df order) and the
  * cross-set form (q149/q202: base × delta, base-only df order, unseen
  * grams at df 0).
  *
  * Input: the sf0.001 corpus's hashed gram sets plus hand-made sets that
  * sit on the edges — identical sets, empty and one-gram sets, and pairs
  * whose Jaccard is EXACTLY τ with τ·n an integer (n = 5 at 0.6, n = 10
  * and 35/28 at 0.8, 70/63 at 0.9). In the last two the positional
  * prune's bound τ/(1+τ)·(n_a + n_b) is an integer that a double lands
  * one ulp above (0.8/1.8·63 = 28.000000000000004), dropping the pair. */
class SetSimJoinSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** (doc_id, grams, is_delta); the cross-set form pairs is_delta=false
    * with is_delta=true. */
  private val edge: Seq[(Long, Seq[Long], Boolean)] = Seq(
    (1001L, 1L to 8L, false), (1002L, 1L to 8L, true), // identical
    (1003L, Nil, false), (1004L, Nil, true), // empty: 0/0, never a pair
    (1005L, Seq(9L), false), (1006L, Seq(9L), true), // one gram
    (1007L, Seq(9L, 10L), true),
    (1008L, 11L to 15L, false), (1009L, 11L to 13L, true), // 3/5 = 0.6
    (1010L, (11L to 14L) :+ 16L, true),
    (1011L, 21L to 30L, false), (1012L, 21L to 28L, true), // 8/10 = 0.8
    (1013L, (21L to 29L) :+ 31L, true),
    (1014L, 101L to 135L, false), (1015L, 101L to 128L, true), // 28/35 = 0.8
    (1016L, 201L to 270L, false), (1017L, 201L to 263L, true)) // 63/70 = 0.9

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val corpus = DedupQueries
      .hashedGramsOf(spark.read.parquet(s"$sf/documents.parquet"))
      .select(col("doc_id"), col("grams_h"), col("n_grams"),
        DedupQueries.isDelta.as("is_delta"))
    val hand = edge.toDF("doc_id", "grams_h", "is_delta")
      .select(col("doc_id"), col("grams_h"), size(col("grams_h")).as("n_grams"),
        col("is_delta"))
    corpus.unionByName(hand).localCheckpoint(true)
  }

  /** Every pair either form can produce with its Jaccard (a 0/0 pair has
    * none): (doc_a, doc_b, in the self-join form, in the cross-set form,
    * jaccard). */
  private lazy val allPairs: Seq[(Long, Long, Boolean, Boolean, Double)] = {
    val local = docs.collect().toSeq.map(r =>
      (r.getLong(0), r.getSeq[Long](1).toArray.sorted, r.getBoolean(3)))
    for {
      (a, ga, da) <- local; (b, gb, db) <- local
      if a < b || (!da && db)
      inter = interCard(ga, gb); union = ga.length + gb.length - inter
      if union > 0
    } yield (a, b, a < b, !da && db, inter.toDouble / union)
  }

  /** |a ∩ b| of two sorted distinct arrays. */
  private def interCard(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  private def brute(cross: Boolean, tau: Double): Set[(Long, Long, Double)] =
    allPairs.collect {
      case (a, b, self, x, j) if (if (cross) x else self) && j >= tau =>
        (a, b, j)
    }.toSet

  private def joined(cross: Boolean, tau: Double): Set[(Long, Long, Double)] = {
    val rows = docs.select(col("doc_id"), col("is_delta"),
      explode(col("grams_h")).as("g"))
    val df = (if (cross) rows.filter(!col("is_delta")) else rows)
      .groupBy("g").agg(count(lit(1)).as("df"))
    val pre = SetSimIndex.prefixes(rows.join(df, Seq("g"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L))), tau)
    val cand =
      if (cross) SetSimIndex.candidates(pre.filter(!col("is_delta")),
        pre.filter(col("is_delta")), tau)
      else SetSimIndex.candidates(pre, pre, tau,
        col("a.doc_id") < col("b.doc_id"))
    SetSimIndex.verify(cand.distinct(), docs, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  /** Pair counts per (form, τ): a join that finds nothing fails here. */
  private val golden = Map(
    (false, 0.5) -> 40, (false, 0.6) -> 38, (false, 0.8) -> 35, (false, 0.9) -> 30,
    (true, 0.5) -> 14, (true, 0.6) -> 13, (true, 0.8) -> 11, (true, 0.9) -> 7)

  /** The hand-made pairs whose Jaccard is exactly τ. */
  private val onThreshold = Map(0.6 -> (1008L, 1009L), 0.8 -> (1014L, 1015L),
    0.9 -> (1016L, 1017L))

  for (cross <- Seq(false, true); tau <- Seq(0.5, 0.6, 0.8, 0.9)) {
    val form = if (cross) "cross-set" else "self-join"
    test(s"$form at tau=$tau equals brute-force Jaccard") {
      val want = brute(cross, tau)
      val got = joined(cross, tau)
      assert(got == want,
        s"missing ${want -- got}, extra ${got -- want}")
      onThreshold.get(tau).foreach { p =>
        assert(want.exists(w => (w._1, w._2) == p), s"$p is not on the threshold")
      }
      assert(!want.exists(w => Set(w._1, w._2).exists(Set(1003L, 1004L))),
        "an empty set paired")
      assert(want.size == golden((cross, tau)), s"pair count ${want.size}")
    }
  }
}
