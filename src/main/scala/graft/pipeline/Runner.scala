package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.io.Zones
import graft.model.Schemas
import graft.transform.{Audit, Bronze, Gold, Silver}

/** Stage orchestration — the Glue-trigger chain (reference
  * `README.md:35-37`, `:77-88`) as a stage DAG in one driver:
  *
  *   bronze → silver → { audit → audit_summary } ∥ { gold }
  *
  * and inside gold its two writes run side by side. Stages hand off
  * through materialized Parquet, preserving the reference's job-boundary
  * semantics (restartability, zone isolation). Branches share no output
  * and no catalog entry: the audit branch reads the bronze frame silver
  * resolved, gold registers and reads only silver.
  *
  * Failure rule: a failed branch does not cancel its sibling. `run` returns
  * or throws only after both branches have ended, and then rethrows the
  * first failure in stage order (bronze, silver, audit, audit_summary,
  * gold). So an audit failure still lets gold run to its own report, and
  * the audit stage's FAILED artifact lands as before.
  */
object Runner {

  final case class Result(rawRows: Long, bronzeRows: Long, silverRows: Long,
      invalidRows: Long, dqSummaryJson: String)

  /** raw CSV → bronze → silver → (audit + DQ summary ∥ gold). Every
    * stage reports SUCCESS/FAILED + timing through JobStatus.Reporter (the
    * EventBridge/SNS monitoring equivalent, `README.md:96-104`).
    *
    * One pass: every count in the Result rides a scan a stage already runs,
    * as an `observe()` metric, and each is a whole-table count in both
    * modes:
    *  - `rawRows` — the raw CSV scan of the bronze write;
    *  - `bronzeRows`, `invalidRows` — the DQ observation on the audit
    *    write, which reads the whole bronze table;
    *  - `silverRows` — the whole-silver read of gold's KPI write.
    * Bronze and gold also carry their count in their stage report's
    * metrics (`raw_rows`, `silver_rows`), audit_summary the DQ JSON. */
  def run(spark: SparkSession, zones: Zones,
      mode: String = "append", runDate: String = "1970-01-01"): Result = {
    // One bounded retry per stage (the Glue-trigger at-least-once stand-in):
    // safe because every retried stage body ends at its writes — either
    // overwrite-mode (the audit zone and both gold tables always are) or an
    // append guarded by the output-commit protocol (failed jobs commit
    // nothing). Multi-action bodies are split into separate stages so a
    // late-action failure never replays an earlier committed write. Each
    // Observation is made inside its stage body: it serves one Dataset, so
    // a retry needs a fresh one.
    val reporter = new JobStatus.Reporter(spark, s"${zones.root}/jobstatus", runDate,
      maxRetries = 1)

    // Bronze job (etl_transactions_bronze.py equivalent)
    val rawRows = reporter.stageWithMetrics("bronze") {
      val (raw, rawObs) = counted(zones.readRaw(spark))
      zones.writePartitioned(Bronze.pipeline(raw), zones.bronze, mode)
      rows(rawObs)
    }(n => Some(s"""{"raw_rows":$n}"""))

    // Silver + audit jobs resolve bronze THROUGH THE CATALOG, mirroring the
    // reference's catalog-only reads (etl_transactions_silver.py:137-139) —
    // persistent external table under LakeCatalog.session, temp view under
    // the in-memory catalog. Registration + resolution live INSIDE the
    // silver stage so a catalog failure (stale Derby lock, corrupt zone)
    // still produces a FAILED artifact for the monitor.
    val bronzeBack = reporter.stage("silver") {
      zones.register(spark, "bronze_transactions", zones.bronze, Schemas.bronze)
      val b = spark.table("bronze_transactions")
      zones.writePartitioned(Silver.pipeline(b), zones.silver, mode)
      b
    }

    val ((dq, dqJson), silverRows) = both(
      {
        // Audit: one extra scan of bronze, tag + split (README-declared
        // layer), with the DQ counts riding the same scan. The invalid split
        // is always recomputed from the whole bronze table, so it is written
        // by plain OVERWRITE: a retry rewrites the same rows, and no
        // partition from an earlier raw input survives. "audit_summary" only
        // renders and writes the DQ JSON (no Spark job); it rides along as
        // that report's metrics.
        val dq = reporter.stage("audit") {
          val (tagged, dqObs) = Audit.observed(Audit.tagRejects(bronzeBack))
          zones.writePartitioned(Audit.invalidRecords(tagged), zones.auditInvalid,
            mode = "overwrite")
          dqObs.get
        }
        val dqJson = reporter.stageWithMetrics("audit_summary") {
          val json = Audit.dqJson(dq, runDate)
          JobStatus.writeText(spark, s"${zones.auditSummary}/dq_summary_$runDate.json",
            json)
          json
        }(Some(_))
        (dq, dqJson)
      },
      // Gold aggregates over silver (catalog read, inside the stage as
      // above); a retry re-runs both overwrites.
      reporter.stageWithMetrics("gold") {
        zones.register(spark, "silver_transactions", zones.silver, Schemas.silver)
        val sv = spark.table("silver_transactions")
        val (observed, svObs) = counted(sv)
        both(
          Gold.merchantDailyKpis(observed).write.mode("overwrite")
            .parquet(s"${zones.gold}/merchant_daily_kpis"),
          Gold.dailyTotals(sv).write.mode("overwrite")
            .parquet(s"${zones.gold}/daily_totals"))
        rows(svObs)
      }(n => Some(s"""{"silver_rows":$n}""")))

    Result(rawRows, dq("input_rows").asInstanceOf[Long], silverRows,
      dq("invalid_rows").asInstanceOf[Long], dqJson)
  }

  /** Runs `a` on a new daemon thread and `b` on this one, and waits for
    * both whatever either does. Then rethrows `a`'s failure (with `b`'s
    * suppressed if both failed), else `b`'s, else returns both results.
    * Spark's local properties and the active session are inheritable
    * thread-locals, so `a` sees what this thread set. */
  private def both[A, B](a: => A, b: => B): (A, B) = {
    def attempt[T](f: => T): Either[Throwable, T] =
      try Right(f) catch { case e: Throwable => Left(e) }
    var ra: Either[Throwable, A] = null
    val t = new Thread(() => ra = attempt(a), "graft-runner-branch")
    t.setDaemon(true)
    t.start()
    val rb = attempt(b)
    t.join() // orders `ra`'s write before the read below
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), _) => rb.swap.foreach(e.addSuppressed); throw e
      case (_, Left(e)) => throw e
    }
  }

  /** `df` with a row count that its first action fills in. */
  private def counted(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }

  /** A scan of a zone with no data files reports no metrics: 0 rows. */
  private def rows(obs: Observation): Long =
    obs.get.getOrElse("rows", 0L).asInstanceOf[Long]

  /** Local end-to-end demo: generate fixtures, run the lake, print counts. */
  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "target/lake"
    // Hive-metastore-backed session: the lake's table registrations persist
    // under <root>/metastore_db across runs (Glue Data Catalog stand-in).
    val spark = graft.io.LakeCatalog.session(root)
    spark.sparkContext.setLogLevel("WARN")
    val zones = Zones(root)
    graft.gen.FixtureGen.generate(zones.raw.stripSuffix("/transactions"))
    val res = run(spark, zones, mode = "overwrite", runDate = "2025-08-03")
    println(res)
    spark.sql(
      """SELECT merchant_id, txn_date, sum(amount) AS total, count(*) AS n
        |FROM silver_transactions GROUP BY 1, 2 ORDER BY total DESC LIMIT 5
        |""".stripMargin).show()
    spark.stop()
  }
}
