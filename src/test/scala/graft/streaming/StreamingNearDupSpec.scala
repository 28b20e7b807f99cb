package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Pins, SparkSpec}

/** Streaming near-dup ingest contract:
  *  - batch⇄stream parity: replaying a corpus through the foreachBatch
  *    stage — in ONE batch or split across several — yields exactly the
  *    one-shot [[StreamingDocIngest.nearDupBatchTwin]] survivor set
  *    (micro-batch-boundary invariance, the design's central claim);
  *  - dropped docs still witness: a doc whose near-dup witness was itself
  *    dropped in an EARLIER batch is still suppressed (the base signature
  *    table persists dropped docs' signatures);
  *  - the end-to-end streaming query (file source → nearDupIngest) lands
  *    the same survivors. */
class StreamingNearDupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** testdata head + exact clones (clone of doc i gets id 10000+i, same
    * text → jaccard 1.0, identical signature → guaranteed LSH candidate). */
  private def corpus(): DataFrame = {
    val docs = graft.analytics.Ops.t(spark, sf, "documents")
      .select("doc_id", "text").filter(col("doc_id") < 60)
    val clones = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    docs.unionByName(clones)
  }

  private def survivors(path: String): Set[Long] =
    spark.read.parquet(path).select("doc_id")
      .collect().map(_.getLong(0)).toSet

  private def twinSet(c: DataFrame): Set[Long] = Pins.scope { pins =>
    StreamingDocIngest.nearDupBatchTwin(pins, c)
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  test("survivor set is micro-batch-boundary invariant and equals the batch twin") {
    val c = corpus()
    val expected = twinSet(c)
    // clones must be dropped (teeth) and originals kept
    assert((0L until 10L).forall(expected.contains))
    assert((10000L until 10010L).forall(i => !expected.contains(i)))

    // one shot
    val r1 = Files.createTempDirectory("graft-neardup1").toString
    StreamingDocIngest.dedupBatch(c, s"$r1/out", s"$r1/sig", 0.6)
    assert(survivors(s"$r1/out") == expected)

    // two batches split by id (in-order replay)
    val r2 = Files.createTempDirectory("graft-neardup2").toString
    StreamingDocIngest.dedupBatch(c.filter(col("doc_id") < 30), s"$r2/out", s"$r2/sig", 0.6)
    StreamingDocIngest.dedupBatch(c.filter(col("doc_id") >= 30), s"$r2/out", s"$r2/sig", 0.6)
    assert(survivors(s"$r2/out") == expected)
  }

  test("a witness dropped in an earlier batch still suppresses later dups") {
    import spark.implicits._
    // chain: b is a near-dup of a (dropped); c clones b — c's only possible
    // witnesses are a/b, and identical text makes candidacy certain
    val base = (1 to 40).map(i => f"tok$i%02d").mkString(" ")
    val b = ((1 to 32).map(i => f"tok$i%02d") ++ (33 to 40).map(i => f"alt$i%02d")).mkString(" ")
    val batch1 = Seq((1L, base), (2L, b)).toDF("doc_id", "text")
    val batch2 = Seq((3L, b)).toDF("doc_id", "text")

    val r = Files.createTempDirectory("graft-neardup3").toString
    StreamingDocIngest.dedupBatch(batch1, s"$r/out", s"$r/sig", 0.6)
    val afterB1 = survivors(s"$r/out")
    StreamingDocIngest.dedupBatch(batch2, s"$r/out", s"$r/sig", 0.6)
    val all = survivors(s"$r/out")
    // doc 2 shares 30 of 46 distinct 3-grams with doc 1 (J ≈ 0.65 >= 0.6):
    // dropped IF the 16-hash signature collides on a band; doc 3 is an
    // exact clone of doc 2, so whatever doc 2's fate, doc 3 must be
    // suppressed by doc 2's PERSISTED signature (kept or dropped)
    assert(afterB1.contains(1L))
    assert(!all.contains(3L),
      s"doc 3 must be suppressed by doc 2's persisted signature (got $all)")
    // and the whole replay still equals the one-shot twin
    val expected = twinSet(batch1.unionByName(batch2))
    assert(all == expected)
  }

  test("end-to-end streaming query: file source -> nearDupIngest lands twin survivors") {
    val root = Files.createTempDirectory("graft-neardup-e2e").toString
    val c = corpus()
    c.coalesce(1).write.parquet(s"$root/in")
    val stream = spark.readStream.schema(c.schema).parquet(s"$root/in")
    val q = StreamingDocIngest.nearDupIngest(
      stream, s"$root/out", s"$root/sig", s"$root/ckpt")
    q.awaitTermination(120000)
    assert(survivors(s"$root/out") == twinSet(c))
    // base table holds every signature-bearing doc, kept AND dropped
    val sigDocs = spark.read.parquet(s"$root/sig").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert((10000L until 10010L).forall(sigDocs.contains))
  }
}
