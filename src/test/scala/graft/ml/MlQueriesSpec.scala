package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Training-loop invariants the hash gate can't express: the weights are
  * bit-compared by the driver (q116 oracle unrolls the same steps), but
  * only a spec can pin that GD actually LEARNS (loss decreases step over
  * step), that training is deterministic across runs and partitionings,
  * and that q117's serving scores are consistent with its own verdict
  * columns. */
class MlQueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  private def weightsAfter(steps: Int): Array[Double] =
    MlQueries.trainLogReg(MlQueries.langFeatures(docs),
      Seq(col("x1"), col("x2"), col("x3")), col("y"), lr = 0.5, steps)

  private def logLoss(w: Array[Double]): Double = {
    val f = MlQueries.langFeatures(docs)
    val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3")
    val p = lit(1.0) / (lit(1.0) + exp(-z))
    // clamped log-loss; evaluation metric only, not part of training
    val eps = 1e-12
    f.agg(avg(-(col("y") * log(greatest(p, lit(eps))) +
        (lit(1.0) - col("y")) * log(greatest(lit(1.0) - p, lit(eps))))))
      .first().getDouble(0)
  }

  test("loss decreases at every GD step") {
    val losses = (0 to 3).map(k => logLoss(weightsAfter(k)))
    info(s"log-loss by step: ${losses.map(l => f"$l%.6f").mkString(" -> ")}")
    losses.sliding(2).foreach { case Seq(a, b) =>
      assert(b < a, s"loss did not decrease: $a -> $b")
    }
    assert(losses.last.isFinite)
  }

  test("training is deterministic across runs and partitionings") {
    val w1 = weightsAfter(3)
    val w2 = weightsAfter(3)
    assert(w1.sameElements(w2), "re-run produced different weights")
    val repart = MlQueries.trainLogReg(
      MlQueries.langFeatures(docs).repartition(13),
      Seq(col("x1"), col("x2"), col("x3")), col("y"), lr = 0.5, steps = 3)
    assert(w1.sameElements(repart),
      "partitioning changed the trained weights — gradient sums not exact")
  }

  test("q117 scores are self-consistent and match q116's weights") {
    val w = graft.SparkEntry.queries("q116_logreg_train")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(w.keySet == Set("bias", "x1_kchars", "x2_tokens", "x3_stop"))
    assert(w.values.forall(v => v.isFinite))
    val scored = graft.SparkEntry.queries("q117_logreg_score")(spark, sf)
      .collect()
    assert(scored.length == docs.count())
    scored.foreach { r =>
      val p = r.getDouble(1)
      assert(p >= 0.0 && p <= 1.0, s"score out of range: $p")
      val pred = r.getLong(2)
      assert(pred == (if (p >= 0.5) 1L else 0L) ||
        math.abs(p - 0.5) < 1e-6, // micro-rounded display score at the cut
        s"pred_en inconsistent with p_en: $r")
    }
    // the synthetic corpus draws lang labels i.i.d. of the text (every
    // lang shares one vocabulary), so the majority class IS the Bayes
    // optimum here — the floor guards against doing WORSE than majority
    // (a sign-flipped gradient would); the loss-decrease test above is
    // what pins that GD actually optimizes
    val n = scored.length.toDouble
    val acc = scored.count(r => r.getLong(2) == r.getLong(3)) / n
    val majority = math.max(scored.count(_.getLong(3) == 1L),
      scored.count(_.getLong(3) == 0L)) / n
    info(f"train accuracy $acc%.3f vs majority baseline $majority%.3f")
    assert(acc >= majority - 1e-9,
      "trained classifier does worse than predicting the majority class")
  }

  test("persisted model round-trips bit-exactly; q120 == q117 row-for-row") {
    val root = ModelStore.ensureLogReg(spark, sf)
    val (names, stored) = ModelStore.load(spark, root)
    assert(names == MlQueries.FeatureNames, "feature order not preserved")
    val inline = weightsAfter(3)
    assert(stored.sameElements(inline),
      "parquet round-trip drifted the weights — store must be bit-exact")
    val q117 = graft.SparkEntry.queries("q117_logreg_score")(spark, sf)
      .orderBy("doc_id").collect()
    val q120 = graft.SparkEntry.queries("q120_logreg_stored")(spark, sf)
      .orderBy("doc_id").collect()
    assert(q117.sameElements(q120),
      "stored-model serving diverged from inline-trained serving")
  }

  test("ensure is build-once: a second call does not retrain") {
    val root = ModelStore.ensureLogReg(spark, sf)
    val f = new java.io.File(s"$root/weights")
    val mtimes = f.listFiles().map(x => x.getName -> x.lastModified()).toMap
    ModelStore.ensureLogReg(spark, sf)
    val after = f.listFiles().map(x => x.getName -> x.lastModified()).toMap
    assert(after == mtimes, "second ensure rewrote the persisted model")
  }

  test("a same-count corpus rewrite retrains the stored model") {
    val dir = java.nio.file.Files.createTempDirectory("graft_model_stamp")
    val corpus = s"$dir/documents.parquet"
    // two 100-doc slices of the corpus: same row count, different text
    def write(lo: Long): Array[Double] = {
      val slice = docs.filter(col("doc_id") >= lo).orderBy("doc_id")
        .limit(100)
      slice.coalesce(1).write.mode("overwrite").parquet(corpus)
      MlQueries.trainOn(spark.read.parquet(corpus))
    }
    val root = graft.IndexCache.modelRoot(dir.toString)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    try {
      val first = write(0L)
      ModelStore.ensureLogReg(spark, dir.toString)
      assert(ModelStore.load(spark, root)._2.sameElements(first))
      val second = write(250L)
      assert(!second.sameElements(first), "the slices must train apart")
      ModelStore.ensureLogReg(spark, dir.toString)
      assert(ModelStore.load(spark, root)._2.sameElements(second),
        "a same-count rewrite served the stale model")
    } finally {
      rm(dir.toFile)
      rm(new java.io.File(root).getParentFile)
    }
  }

  test("NB bucket counts merge by addition — incremental training is exact") {
    import org.apache.spark.sql.functions.col
    def counts(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      MlQueries.nbCounts(MlQueries.nbTokens(df)).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val base = docs.select(col("doc_id"), col("lang"), col("text"))
    val full = counts(base)
    val h1 = counts(base.filter(col("doc_id") % 2 === 0))
    val h2 = counts(base.filter(col("doc_id") % 2 =!= 0))
    assert(full.keySet == (0L until 256L).toSet, "spine must cover 256 buckets")
    assert(h1.keySet == full.keySet && h2.keySet == full.keySet,
      "slice models must align on the full spine")
    val merged = full.keySet.map(b =>
      b -> ((h1(b)._1 + h2(b)._1, h1(b)._2 + h2(b)._2))).toMap
    assert(merged == full,
      "summed half-corpus models diverge from the full-corpus model")
    assert(full.values.map(v => v._1 + v._2).sum > 0, "empty model")
  }
  // ── Single-class corpus degeneracy (the guards, exercised) ──────────
  // A corpus whose every label is the SAME class stresses the documented
  // guards across the ML/stats family: q163/q189's prior ln would be
  // ±Inf without the both-classes gate, q191's label entropy is exactly
  // 0 (mi_ratio must not divide by it), q176 has no class signal left to
  // split on (but must not crash), and q180/q197 see a one-sided
  // calibration slice. Shape-free: no ANSI error, no crash, coherent
  // degenerate outputs.
  test("single-class corpus: guards hold across the ML/stats queries") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-oneclass").toString
    (1L to 60L).map(i =>
      (i, s"the a and of w$i x$i y$i z$i common tokens here now", "en",
        s"src${i % 4}", 40L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    Seq("q163_naive_bayes", "q176_decision_stump", "q177_data_diet",
      "q180_conformal", "q182_doremi_mix", "q186_ab_test",
      "q188_label_noise", "q190_ks_test", "q197_temperature").foreach { q =>
      graft.SparkEntry.queries(q)(spark, d).collect() // must not throw
    }
    // q189: prior guard degrades to 0, kappa stays defined
    val k = graft.SparkEntry.queries("q189_model_kappa")(spark, d)
      .collect().head
    assert(k.getAs[Long]("n") == 60)
    val kap = k.getAs[Double]("kappa")
    assert(!kap.isNaN && !kap.isInfinite)
    // q191: H(y) = 0 exactly -> mi_ratio guard returns 0, MI ~ 0
    graft.SparkEntry.queries("q191_mi_features")(spark, d)
      .collect().foreach { r =>
        assert(r.getAs[Double]("h_label") == 0.0)
        assert(r.getAs[Double]("mi_ratio") == 0.0)
        assert(math.abs(r.getAs[Double]("mi_nats")) < 1e-6)
      }
  }
}
