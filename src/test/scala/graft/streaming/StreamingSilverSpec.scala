package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.gen.FixtureGen
import graft.model.Schemas
import graft.transform.{Audit, Silver}

/** The streaming silver stage must agree row-for-row with the batch silver
  * job over the same bronze zone — parity is the whole point of the
  * foreachBatch design. */
class StreamingSilverSpec extends SparkSpec {

  test("streaming silver == batch silver over the same bronze (valid + rejects)") {
    val root = Files.createTempDirectory("graft-stream-silver").toString
    FixtureGen.generate(s"$root/raw", FixtureGen.Config(days = 2, rowsPerDay = 500))

    // materialize bronze once (streaming bronze twin, backlog mode)
    val qb = StreamingBronze.writeBronze(
      StreamingBronze.pipeline(
        StreamingBronze.readRawStream(spark, s"$root/raw/transactions")),
      s"$root/bronze", s"$root/ckpt-bronze")
    qb.awaitTermination(120000)

    // streaming silver over that bronze
    val qs = StreamingSilver.writeSilver(
      StreamingSilver.readBronzeStream(spark, s"$root/bronze"),
      s"$root/silver", s"$root/audit", s"$root/ckpt-silver")
    qs.awaitTermination(120000)

    val bronze = spark.read.parquet(s"$root/bronze")
    val batchSilver = Silver.pipeline(bronze)
    val streamSilver = spark.read.parquet(s"$root/silver")
    assert(streamSilver.count() == batchSilver.count())
    assert(streamSilver.select("txn_id").except(batchSilver.select("txn_id")).count() == 0)
    assert(streamSilver.columns.contains("status_curated"))

    val batchRejects = Audit.invalidRecords(Audit.tagRejects(bronze))
    val streamRejects = spark.read.parquet(s"$root/audit")
    assert(streamRejects.count() == batchRejects.count())
    assert(streamSilver.count() + streamRejects.count() == bronze.count())

    // checkpoint: re-run with no new bronze files appends nothing
    val qs2 = StreamingSilver.writeSilver(
      StreamingSilver.readBronzeStream(spark, s"$root/bronze"),
      s"$root/silver", s"$root/audit", s"$root/ckpt-silver")
    qs2.awaitTermination(60000)
    assert(spark.read.parquet(s"$root/silver").count() == batchSilver.count())
  }

  test("a bronze zone holding only _SUCCESS streams as empty, by the contract schema") {
    val root = Files.createTempDirectory("graft-stream-silver-empty").toString
    Files.createDirectories(Paths.get(s"$root/bronze"))
    Files.createFile(Paths.get(s"$root/bronze/_SUCCESS"))
    val stream = StreamingSilver.readBronzeStream(spark, s"$root/bronze")
    assert(stream.schema.map(f => f.name -> f.dataType) ==
      Schemas.bronze.map(f => f.name -> f.dataType))
    val qs = StreamingSilver.writeSilver(stream,
      s"$root/silver", s"$root/audit", s"$root/ckpt-silver")
    qs.awaitTermination(60000)
    assert(qs.exception.isEmpty)
    assert(LedgerIO.readOrEmpty(spark, s"$root/silver", Schemas.silver).isEmpty)
  }
}
