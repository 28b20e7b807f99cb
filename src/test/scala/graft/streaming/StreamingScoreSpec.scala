package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** StreamingScore: (1) a bounded replay of the driver documents table
  * scores EXACTLY like the persisted-model batch path (q120) — same
  * weights, same shared projection, row-for-row; (2) the answer is
  * invariant to micro-batch boundaries (stateless stage — nothing can
  * leak across cuts); (3) the observe tap reports exact per-batch
  * telemetry that sums to the batch totals. */
class StreamingScoreSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def weights: Array[Double] = {
    val root = graft.ml.ModelStore.ensureLogReg(spark, sf)
    graft.ml.ModelStore.load(spark, root)._2
  }

  private def docRows: Array[(Long, String, String, Long)] =
    spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))

  private def batchExpected: Map[Long, (Double, Long, Long)] =
    graft.SparkEntry.queries("q120_logreg_stored")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("p_en"), r.getAs[Long]("pred_en"),
          r.getAs[Long]("is_en")))).toMap

  test("replayed stream scores == q120 batch, across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val w = weights
    val rows = docRows
    val expected = batchExpected
    assert(expected.size == rows.length)

    for ((nBatches, name) <- Seq(1 -> "score_one", 4 -> "score_four")) {
      val input = MemoryStream[(Long, String, String, Long)]
      val q = StreamingScore.serve(
          input.toDS().toDF("doc_id", "text", "lang", "n_chars"), w)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val per = math.max(1, rows.length / nBatches + 1)
        rows.grouped(per).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable()
        }
        val got = spark.table(name).collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Double]("p_en"), r.getAs[Long]("pred_en"),
              r.getAs[Long]("is_en")))).toMap
        assert(got == expected, s"$nBatches-batch replay diverged from q120")
      } finally q.stop()
    }
  }

  test("conformal serving: stream == q180 batch on the test slice, across splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val w = weights
    val batch = graft.SparkEntry.queries("q180_conformal")(spark, sf).collect()
    assert(batch.nonEmpty)
    val qhatU = batch.head.getAs[Long]("qhat_u")
    val expected = batch.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Double]("p_en"), r.getAs[Long]("set_size"),
        r.getAs[Long]("covered")))).toMap
    val testIds = expected.keySet
    val rows = docRows.filter(r => testIds(r._1))
    assert(rows.length == expected.size)

    for ((nBatches, name) <- Seq(1 -> "conf_one", 3 -> "conf_three")) {
      val input = MemoryStream[(Long, String, String, Long)]
      val q = StreamingScore.serveConformal(
          input.toDS().toDF("doc_id", "text", "lang", "n_chars"), w, qhatU,
          observed = false)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val per = math.max(1, rows.length / nBatches + 1)
        rows.grouped(per).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable()
        }
        val got = spark.table(name).collect()
        assert(got.forall(_.getAs[Long]("qhat_u") == qhatU))
        val gotMap = got.map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("p_en"), r.getAs[Long]("set_size"),
            r.getAs[Long]("covered")))).toMap
        assert(gotMap == expected,
          s"$nBatches-batch conformal replay diverged from q180")
      } finally q.stop()
    }
  }

  test("observe tap: per-batch telemetry is exact and sums to the batch totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val w = weights
    val rows = docRows
    val expected = batchExpected
    val expPos = expected.values.count(_._2 == 1L).toLong
    val expMicroSum = expected.values
      .map(v => math.round(v._1 * 1e6)).sum

    var seen = Vector.empty[(Long, Long, Long)]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics.get("score_monitor")
        if (m != null) synchronized {
          seen :+= ((m.getAs[Long]("n_scored"), m.getAs[Long]("n_pred_pos"),
            m.getAs[Long]("score_micro_sum")))
        }
      }
    }
    spark.streams.addListener(listener)
    val input = MemoryStream[(Long, String, String, Long)]
    val q = StreamingScore.serve(
        input.toDS().toDF("doc_id", "text", "lang", "n_chars"), w)
      .writeStream.format("memory").queryName("score_obs")
      .outputMode("append").start()
    try {
      rows.grouped(200).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      // listener events are delivered asynchronously after progress, so
      // the listener stays registered (until finally) while they drain
      val deadline = System.currentTimeMillis() + 30000
      while (seen.map(_._1).sum < rows.length &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val nonEmpty = seen.filter(_._1 > 0)
      assert(nonEmpty.map(_._1).sum == rows.length,
        s"telemetry rows ${nonEmpty.map(_._1).sum} != ${rows.length}")
      assert(nonEmpty.map(_._2).sum == expPos,
        "positive-decision telemetry diverged from the batch answer")
      assert(nonEmpty.map(_._3).sum == expMicroSum,
        "micro-score telemetry diverged from the batch answer")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }
}
