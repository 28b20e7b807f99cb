package graft.pipeline

import java.nio.file.Files

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

  test("job ratchet: one seed-42 run takes every count from its own scans") {
    val zones = lake("graft-jobs", graft.gen.FixtureGen.Config())
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    org.apache.spark.SpecBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
      org.apache.spark.SpecBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    // re-reading the zones for the Result counts (9 jobs) or aggregating
    // bronze a second time for the DQ summary (2) would break this
    assert(jobs.get() <= 12, s"Runner.run took ${jobs.get()} jobs")
  }
}
