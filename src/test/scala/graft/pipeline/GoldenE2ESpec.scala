package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.io.Zones

/** Golden end-to-end: seed-42 corpus → full lake run → pinned counts.
  * Pins the whole pipeline's behavior (generator, bronze dedup, silver
  * filters, audit split) so any semantic drift fails loudly. */
class GoldenE2ESpec extends SparkSpec {

  test("seed-42 golden run: counts, partition layout, idempotent re-run") {
    val root = Files.createTempDirectory("graft-golden").toString
    val zones = Zones(root)
    graft.gen.FixtureGen.generate(s"$root/raw")
    val res = Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")

    assert(res.rawRows == 3000)
    assert(res.bronzeRows == 3000) // UUID txn_ids: no dups in generator
    assert(res.silverRows == 2948)
    assert(res.invalidRows == 52)
    assert(res.dqSummaryJson.contains("\"valid_rows\":2948"))
    assert(res.dqSummaryJson.contains("\"blank_user_rows\":15"))

    // Hive partition layout on txn_date
    val parts = new java.io.File(zones.silver).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(parts.toSeq == Seq("txn_date=2025-08-01", "txn_date=2025-08-02", "txn_date=2025-08-03"))

    // overwrite re-run is idempotent
    val res2 = Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
    assert(res2.silverRows == res.silverRows)

    // append re-run duplicates (reference B4 parity): bronze doubles to
    // 6000, silver gains a fresh validation of all 6000 on top of 2948
    val res3 = Runner.run(spark, zones, mode = "append", runDate = "2025-08-03")
    assert(res3.rawRows == res.rawRows)
    assert(res3.bronzeRows == 2 * res.bronzeRows)
    assert(res3.silverRows == 3 * res.silverRows)
    assert(res3.invalidRows == 2 * res.invalidRows)
  }

  private def lake(name: String, cfg: graft.gen.FixtureGen.Config): Zones = {
    val zones = Zones(Files.createTempDirectory(name).toString)
    graft.gen.FixtureGen.generate(s"${zones.root}/raw", cfg)
    zones
  }

  test("clean input (no invalid rows) runs through with invalidRows = 0") {
    val zones = lake("graft-clean", graft.gen.FixtureGen.Config(
      days = 2, rowsPerDay = 200, invalidRate = 0.0, seed = 7))
    val res = Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
    assert(res.invalidRows == 0)
    assert(res.dqSummaryJson.contains("\"invalid_rows\":0,"))
  }

  test("overwrite re-run over a new raw input leaves no stale audit rows") {
    val zones = lake("graft-stale",
      graft.gen.FixtureGen.Config(days = 3, rowsPerDay = 300, seed = 7))
    Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"${zones.root}/raw"))
    graft.gen.FixtureGen.generate(s"${zones.root}/raw", graft.gen.FixtureGen.Config(
      startDate = java.time.LocalDate.parse("2025-09-01"), days = 1,
      rowsPerDay = 300, seed = 8))
    val res = Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
    assert(res.invalidRows == 7)
    assert(res.dqSummaryJson.contains("\"invalid_rows\":7,"))
    assert(spark.read.parquet(zones.auditInvalid).count() == 7)
  }

  test("all-invalid input: empty silver zone, gold tables written with 0 rows") {
    val zones = lake("graft-all-invalid", graft.gen.FixtureGen.Config(
      days = 1, rowsPerDay = 50, invalidRate = 0.0, seed = 7))
    // every currency becomes ZZZ, so every row fails silver validation
    val csv = Files.walk(java.nio.file.Paths.get(zones.raw))
      .filter(_.toString.endsWith(".csv")).findFirst().get
    val lines = Files.readAllLines(csv).asScala.toSeq
    Files.write(csv, (lines.head +: lines.tail.map { l =>
      l.split(",", -1).updated(4, "ZZZ").mkString(",")
    }).asJava)
    val res = Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
    assert((res.rawRows, res.bronzeRows, res.silverRows, res.invalidRows) ==
      ((50L, 50L, 0L, 50L)))
    assert(spark.read.parquet(zones.auditInvalid).count() == 50)
    for (t <- Seq("merchant_daily_kpis", "daily_totals"))
      assert(spark.read.parquet(s"${zones.gold}/$t").count() == 0, t)
  }

  test("bronze and silver footers carry their contract schema") {
    // the zones are registered by Schemas.bronze/silver without reading a
    // footer, so a column a transform adds must be added to Schemas too
    val zones = lake("graft-contract", graft.gen.FixtureGen.Config())
    Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
    def fields(t: org.apache.spark.sql.types.StructType) =
      t.fields.map(f => (f.name, f.dataType)).toSeq
    for ((path, contract) <- Seq(zones.bronze -> graft.model.Schemas.bronze,
        zones.silver -> graft.model.Schemas.silver)) {
      val footer = spark.read.parquet(path).schema
      assert(fields(footer).sortBy(_._1) == fields(contract).sortBy(_._1), path)
    }
  }

  test("a failed audit branch leaves gold run, then rethrows; nothing outlives run") {
    val zones = lake("graft-audit-fails", graft.gen.FixtureGen.Config(
      days = 1, rowsPerDay = 200, seed = 7))
    // a regular file where the audit zone's directory must go: the audit
    // write fails on both attempts
    Files.writeString(java.nio.file.Paths.get(s"${zones.root}/audit"), "x")
    val err = intercept[Exception] {
      Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
    }
    def status(stage: String): String = spark.read
      .json(s"${zones.root}/jobstatus/${stage}_2025-08-03.json")
      .collect().head.getAs[String]("status")
    assert(status("audit") == "FAILED")
    assert(status("gold") == "SUCCESS")
    assert(!new java.io.File(s"${zones.root}/jobstatus/audit_summary_2025-08-03.json").exists())
    val auditError = spark.read.json(s"${zones.root}/jobstatus/audit_2025-08-03.json")
      .collect().head.getAs[String]("error")
    assert(auditError == s"${err.getClass.getName}: ${Option(err.getMessage).getOrElse("")}")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.isAlive && t.getName.startsWith("graft-runner")))
  }

  test("job ratchet: one seed-42 run takes every count from its own scans") {
    val zones = lake("graft-jobs", graft.gen.FixtureGen.Config())
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        descriptions.add(String.valueOf(
          s.properties.getProperty(JobStatus.JobDescription))): Unit
      }
    }
    org.apache.spark.SpecBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
      org.apache.spark.SpecBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    val jobs = descriptions.asScala.toSeq
    // re-reading the zones for the Result counts (9 jobs), aggregating
    // bronze a second time for the DQ summary (2) or inferring a zone's
    // schema from its footers (1 per registration) would break this
    assert(jobs.size <= 10, s"Runner.run took ${jobs.size} jobs")
    // stages overlap in time, so each job must name its stage itself
    val stages = Set("bronze", "silver", "audit", "audit_summary", "gold")
    assert(jobs.forall(stages), s"jobs outside a stage: $jobs")
  }
}
