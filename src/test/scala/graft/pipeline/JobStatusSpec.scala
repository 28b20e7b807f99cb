package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

/** The EventBridge/SNS stand-in contract: a failed stage must leave a
  * FAILED artifact behind (alert path), a successful one a SUCCESS artifact
  * with its metrics, and both must be valid JSON a monitor can ingest. */
class JobStatusSpec extends SparkSpec {

  test("failed stage writes a FAILED artifact before rethrowing") {
    val dir = Files.createTempDirectory("graft-jobstatus").toString
    val reporter = new JobStatus.Reporter(spark, dir, "2025-08-03")
    val boom = intercept[RuntimeException] {
      reporter.stage("silver") { throw new RuntimeException("bad \"input\" row") }
    }
    assert(boom.getMessage.contains("bad"))
    // artifact must exist and be machine-parseable JSON with the failure
    val row = spark.read.json(s"$dir/silver_2025-08-03.json").collect().head
    assert(row.getAs[String]("status") == "FAILED")
    assert(row.getAs[String]("stage") == "silver")
    assert(row.getAs[String]("error").contains("bad \"input\" row"))
    assert(row.getAs[Long]("duration_ms") >= 0L)
  }

  test("successful stage writes SUCCESS with embedded metrics JSON") {
    val dir = Files.createTempDirectory("graft-jobstatus").toString
    val reporter = new JobStatus.Reporter(spark, dir, "2025-08-03")
    val out = reporter.stageWithMetrics("audit") { 42 }(n =>
      Some(s"""{"input_rows":$n,"invalid_rows":0}"""))
    assert(out == 42)
    val row = spark.read.json(s"$dir/audit_2025-08-03.json").collect().head
    assert(row.getAs[String]("status") == "SUCCESS")
    val metrics = row.getAs[org.apache.spark.sql.Row]("metrics")
    assert(metrics.getAs[Long]("input_rows") == 42L)
  }

  test("transient first-attempt failure retries to SUCCESS with a FAILED trail") {
    val dir = Files.createTempDirectory("graft-jobstatus-retry").toString
    val reporter = new JobStatus.Reporter(spark, dir, "2025-08-03", maxRetries = 1)
    var calls = 0
    val out = reporter.stage("bronze") {
      calls += 1
      if (calls == 1) throw new RuntimeException("transient executor loss")
      "ok"
    }
    assert(out == "ok" && calls == 2)
    // trail: FAILED attempt-1 artifact AND the canonical SUCCESS artifact
    val failed = spark.read.json(s"$dir/bronze_2025-08-03_attempt1.json").collect().head
    assert(failed.getAs[String]("status") == "FAILED")
    assert(failed.getAs[Long]("attempt") == 1L)
    assert(failed.getAs[String]("error").contains("transient"))
    val ok = spark.read.json(s"$dir/bronze_2025-08-03.json").collect().head
    assert(ok.getAs[String]("status") == "SUCCESS")
    assert(ok.getAs[Long]("attempt") == 2L)
  }

  test("retried audit-style write stage does not duplicate the invalid zone") {
    // Regression: the audit stage once appended invalid records AND wrote
    // the DQ summary in one retried body — a summary failure after the
    // append committed duplicated the zone on retry. The write is now a
    // full overwrite, so commit-then-fail-then-retry must leave exactly
    // one copy.
    val dir = Files.createTempDirectory("graft-jobstatus-audit").toString
    val reporter = new JobStatus.Reporter(spark, dir, "2025-08-03", maxRetries = 1)
    val zones = graft.io.Zones(s"$dir/lake")
    import spark.implicits._
    val invalid = Seq(("t1", "2025-08-01"), ("t2", "2025-08-02"))
      .toDF("txn_id", "txn_date")
    var calls = 0
    reporter.stage("audit") {
      calls += 1
      zones.writePartitioned(invalid, zones.auditInvalid, mode = "overwrite")
      if (calls == 1) throw new RuntimeException("failure AFTER the committed write")
    }
    assert(calls == 2)
    assert(spark.read.parquet(zones.auditInvalid).count() == 2L)
  }

  test("retries exhausted: FAILED lands at the canonical path and rethrows") {
    val dir = Files.createTempDirectory("graft-jobstatus-exhaust").toString
    val reporter = new JobStatus.Reporter(spark, dir, "2025-08-03", maxRetries = 1)
    var calls = 0
    intercept[RuntimeException] {
      reporter.stage("bronze") { calls += 1; throw new RuntimeException("permanent") }
    }
    assert(calls == 2) // original + one retry
    val row = spark.read.json(s"$dir/bronze_2025-08-03.json").collect().head
    assert(row.getAs[String]("status") == "FAILED")
    assert(row.getAs[Long]("attempt") == 2L)
  }

  test("clean re-run clears the stale attempt trail from a prior failed run") {
    val dir = Files.createTempDirectory("graft-jobstatus-rerun").toString
    val reporter = new JobStatus.Reporter(spark, dir, "2025-08-03", maxRetries = 1)
    var calls = 0
    // run 1: transient failure -> FAILED attempt-1 artifact + SUCCESS
    reporter.stage("bronze") {
      calls += 1
      if (calls == 1) throw new RuntimeException("transient"); "ok"
    }
    assert(new java.io.File(s"$dir/bronze_2025-08-03_attempt1.json").exists())
    // run 2 (same runDate) succeeds first try: the old trail must go
    reporter.stage("bronze") { "ok" }
    assert(!new java.io.File(s"$dir/bronze_2025-08-03_attempt1.json").exists(),
      "stale FAILED attempt artifact survived a clean re-run")
    val row = spark.read.json(s"$dir/bronze_2025-08-03.json").collect().head
    assert(row.getAs[String]("status") == "SUCCESS" && row.getAs[Long]("attempt") == 1L)
  }

  test("metrics-mapper failure after a successful body does NOT re-run the body") {
    val dir = Files.createTempDirectory("graft-jobstatus-metrics").toString
    val reporter = new JobStatus.Reporter(spark, dir, "2025-08-03", maxRetries = 1)
    var bodyRuns = 0
    intercept[RuntimeException] {
      reporter.stageWithMetrics("audit") { bodyRuns += 1; 42 }(_ =>
        throw new RuntimeException("metrics boom"))
    }
    assert(bodyRuns == 1, s"stage body re-ran $bodyRuns times on a reporting failure")
  }

  test("non-JSON metrics embed as an escaped string, artifact stays parseable") {
    val dir = Files.createTempDirectory("graft-jobstatus-junk").toString
    val reporter = new JobStatus.Reporter(spark, dir, "2025-08-03")
    reporter.stageWithMetrics("audit") { 1 }(_ => Some("not {json"))
    val df = spark.read.json(s"$dir/audit_2025-08-03.json")
    assert(!df.columns.contains("_corrupt_record"), "artifact is malformed JSON")
    assert(df.collect().head.getAs[String]("metrics") == "not {json")
  }

  test("Runner e2e leaves one SUCCESS artifact per stage") {
    val root = Files.createTempDirectory("graft-lake-status").toString
    val zones = graft.io.Zones(root)
    graft.gen.FixtureGen.generate(zones.raw.stripSuffix("/transactions"))
    val res = Runner.run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
    val stages = Seq("bronze", "silver", "audit", "audit_summary", "gold")
    val rows = stages.map { s =>
      s -> spark.read.json(s"$root/jobstatus/${s}_2025-08-03.json").collect().head
    }.toMap
    for ((s, row) <- rows)
      assert(row.getAs[String]("status") == "SUCCESS", s"stage $s not SUCCESS")
    // every row count is readable from the reports alone
    def metric(stage: String, key: String): Long =
      rows(stage).getAs[org.apache.spark.sql.Row]("metrics").getAs[Long](key)
    assert(metric("bronze", "raw_rows") == res.rawRows)
    assert(metric("gold", "silver_rows") == res.silverRows)
    assert(metric("audit_summary", "input_rows") == res.bronzeRows)
    assert(metric("audit_summary", "invalid_rows") == res.invalidRows)
  }
}
