package graft.pipeline

import graft.{Pins, SparkSpec}
import org.apache.spark.sql.functions._

/** Cache-pin hygiene: the curation entry points and the eager CC-family
  * query fns take their pins in a [[Pins]] scope, so a long-lived session
  * calling them repeatedly does not accumulate strongly-held
  * CacheManager entries or checkpoint blocks — on normal exit and when
  * the body throws. */
class PinHygieneSpec extends SparkSpec {

  private def sf = "/root/testdata/sf0.001"

  /** Persisted RDD ids that are NOT locally-checkpointed frames. */
  private def pinIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs
      .filterNot(_._2.isCheckpointed).keySet.toSet

  /** Every persisted RDD id, locally-checkpointed ones included. */
  private def allIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def pages = spark.read.parquet(s"$sf/documents.parquet").limit(100)
    .select(
      col("doc_id").as("page_id"),
      graft.text.UrlOps.syntheticUrl(col("doc_id")).as("url"),
      graft.text.HtmlExtract.syntheticHtml(col("doc_id"), col("text")).as("html"),
      col("source"))

  test("CorpusCurate.run inside Pins.scope releases every cache pin") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val before = pinIds
    val (_, m) = Pins.scope(CorpusCurate.run(_, docs))
    assert(m.inputDocs > 0)
    val leaked = pinIds -- before
    assert(leaked.isEmpty, s"CorpusCurate.run leaked cache pins: $leaked")
  }

  test("WebCurate.run inside Pins.scope releases every cache pin") {
    val before = pinIds
    val (_, m) = Pins.scope(WebCurate.run(_, pages))
    assert(m.pages > 0)
    val leaked = pinIds -- before
    assert(leaked.isEmpty, s"WebCurate.run leaked cache pins: $leaked")
  }

  test("observe-fused manifests equal the r14 two-pass counts") {
    // the pinned CorpusCurateSpec manifest re-asserted here so the
    // observe() rewrite is pinned against the historical aggregate form
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (_, m) = Pins.scope(CorpusCurate.run(_, docs))
    assert(m == CorpusCurate.Manifest(500, 67, 0, 21, 0, 0, 412, 25182, 20),
      s"manifest drifted under the observe() rewrite: $m")
  }

  test("eager CC-family query fns release their pins (q57/q62/q107/q107b)") {
    for (q <- Seq("q57_dup_clusters", "q62_dup_clusters_lsh",
        "q107_lsh_canonical", "q107b_lsh_canonical_md5")) {
      val before = pinIds
      graft.SparkEntry.queries(q)(spark, sf)
        .write.mode("overwrite").format("noop").save()
      val leaked = pinIds -- before
      assert(leaked.isEmpty, s"$q leaked cache pins: $leaked")
    }
  }

  test("scoped pipelines and queries leave no persisted RDD, checkpoints included") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the first q253 call trains the session-cached byte-BPE merges and
    // writes the .warc.gz fixture; only the scoped work is measured
    graft.SparkEntry.queries("q253_pretrain_e2e")(spark, sf)
      .write.mode("overwrite").format("noop").save()
    def leakedBy(what: String)(body: => Unit): Unit = {
      val before = allIds
      body
      val leaked = allIds -- before
      assert(leaked.isEmpty, s"$what left persisted RDDs: $leaked")
    }
    leakedBy("CorpusCurate.run") {
      Pins.scope { pins =>
        val (curated, _) = CorpusCurate.run(pins, docs)
        curated.write.mode("overwrite").format("noop").save()
      }
    }
    leakedBy("WebCurate.run") {
      Pins.scope { pins =>
        val (curated, _) = WebCurate.run(pins, pages)
        curated.write.mode("overwrite").format("noop").save()
      }
    }
    for (q <- Seq("q57_dup_clusters", "q62_dup_clusters_lsh",
        "q107_lsh_canonical", "q107b_lsh_canonical_md5",
        "q224_web_curate_e2e", "q253_pretrain_e2e"))
      leakedBy(q) {
        graft.SparkEntry.queries(q)(spark, sf)
          .write.mode("overwrite").format("noop").save()
      }
  }

  test("a scope whose body throws still releases every pin it took") {
    val before = allIds
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the pinned frames stay reachable past the check, so a missed
    // release cannot hide behind GC of an unreferenced RDD
    var held = Seq.empty[org.apache.spark.sql.DataFrame]
    val e = intercept[IllegalStateException] {
      Pins.scope { pins =>
        held = Seq(pins.persist(docs.filter(col("doc_id") % 2 === 0)),
          pins.checkpoint(docs.filter(col("doc_id") % 3 === 0)),
          graft.streaming.StreamingDocIngest.nearDupBatchTwin(pins, docs))
        held.foreach(_.count())
        throw new IllegalStateException("body failed after pinning")
      }
    }
    assert(e.getMessage == "body failed after pinning")
    val leaked = allIds -- before
    assert(leaked.isEmpty, s"a throwing scope left persisted RDDs: $leaked")
    assert(held.size == 3)
  }
}
