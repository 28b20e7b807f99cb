package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Job-state reporting — the stand-in for the reference's EventBridge rule
  * on Glue job `state = FAILED` → SNS alert (`README.md:96-104`). Each
  * pipeline stage writes one JSON artifact with status, timing, the error
  * (on failure), and stage metrics (e.g. bronze's `raw_rows`, the
  * audit_summary stage's DQ summary) to `<outDir>/<stage>_<runDate>.json`.
  * A monitoring system tails that directory exactly as SNS subscribers
  * consume the topic; on a real cluster `outDir` is an object-store prefix
  * (the write goes through the Hadoop FS API, so hdfs:// and s3a:// roots
  * work unchanged).
  */
object JobStatus {

  /** The local property Spark shows as a job's description. */
  val JobDescription = "spark.job.description"

  /** Writes `content` through the Hadoop FileSystem API, so an artifact
    * lands on the SAME filesystem as the data beside it (hdfs://, s3a://
    * or local) — java.nio would take a remote URI for a local path. */
  private[graft] def writeText(spark: SparkSession, path: String,
      content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  final case class StageReport(stage: String, status: String, startMs: Long,
      durationMs: Long, error: Option[String], metricsJson: Option[String],
      attempt: Int = 1) {
    def toJson: String = {
      def esc(s: String): String = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      val err = error.map(e => "\"" + esc(e) + "\"").getOrElse("null")
      // metricsJson is embedded raw ONLY if it actually parses as JSON —
      // a stage whose metrics mapper returns junk must not produce a
      // malformed artifact (the monitor consuming it is the whole point).
      // Fallback: embed the junk as an escaped string value.
      val met = metricsJson match {
        case None => "null"
        case Some(m) =>
          try {
            // strict parse: readTree alone accepts "" (MissingNode) and
            // trailing garbage ("{...} junk") — both would still produce a
            // malformed artifact
            val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
            mapper.enable(com.fasterxml.jackson.databind
              .DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
            val node = mapper.readTree(m)
            if (node == null || node.isMissingNode)
              throw new IllegalArgumentException("empty metrics")
            m
          } catch { case _: Exception => "\"" + esc(m) + "\"" }
      }
      s"""{"stage":"${esc(stage)}","status":"$status","start_ms":$startMs,""" +
        s""""duration_ms":$durationMs,"attempt":$attempt,"error":$err,"metrics":$met}"""
    }
  }

  /** Wraps each stage in try/catch + timing and persists the report. A
    * failing stage writes its FAILED artifact BEFORE rethrowing (or
    * retrying), so the alert exists even when the driver dies with the job.
    *
    * `maxRetries` > 0 mirrors the reference trigger chain's at-least-once
    * stage retry (`README.md:35-37,96-104`): each failed attempt leaves a
    * FAILED artifact at `<stage>_<runDate>_attempt<k>.json`, then the body
    * re-runs; the final outcome lands at the canonical `<stage>_<runDate>
    * .json` with its attempt number — so a transient failure yields a
    * FAILED(attempt=1) + SUCCESS(attempt=2) trail for the monitor. Retry
    * assumes stage writes are idempotent (overwrite mode, or appends guarded
    * by Spark's output-commit protocol — a failed job commits nothing). */
  final class Reporter(spark: SparkSession, outDir: String, runDate: String,
      maxRetries: Int = 0) {

    def stage[T](name: String)(body: => T): T = stageWithMetrics(name)(body)(_ => None)

    /** `metrics` maps the stage result to an optional raw-JSON metrics
      * object (e.g. the audit stage's DQ summary). Only the stage BODY is
      * retried: a failure in metrics mapping or artifact writing after the
      * body succeeded propagates without re-executing the stage (re-running
      * committed data work because a report write hiccuped would be worse
      * than the missing report).
      *
      * Every Spark job the stage starts carries the stage name as its job
      * description, a thread-local property, so stages that run at the same
      * time on different threads keep their jobs apart; the caller's
      * description is restored afterwards. */
    def stageWithMetrics[T](name: String)(body: => T)(
        metrics: T => Option[String]): T = {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(JobDescription)
      sc.setJobDescription(name)
      try attempts(name)(body)(metrics)
      finally sc.setLocalProperty(JobDescription, outer)
    }

    private def attempts[T](name: String)(body: => T)(
        metrics: T => Option[String]): T = {
      clearAttemptArtifacts(name) // a re-run must not inherit a stale trail
      var attempt = 1
      while (true) {
        val t0 = System.currentTimeMillis()
        val result = try Right(body) catch { case e: Throwable => Left(e) }
        result match {
          case Right(out) =>
            write(StageReport(name, "SUCCESS", t0,
              System.currentTimeMillis() - t0, None, metrics(out), attempt))
            return out
          case Left(e) =>
            val report = StageReport(name, "FAILED", t0,
              System.currentTimeMillis() - t0,
              Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"),
              None, attempt)
            if (attempt > maxRetries) { write(report); throw e }
            write(report, suffix = s"_attempt$attempt")
            attempt += 1
        }
      }
      throw new IllegalStateException("unreachable")
    }

    /** Delete `_attempt*` artifacts from a PRIOR run of the same (stage,
      * runDate): a clean re-run overwrites the canonical artifact, but the
      * old attempt trail would otherwise survive beside it and read as a
      * contradictory history. */
    private def clearAttemptArtifacts(stage: String): Unit = {
      val glob = new org.apache.hadoop.fs.Path(
        s"$outDir/${stage}_${runDate}_attempt*.json")
      val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try fs.globStatus(glob) match {
        case null => ()
        case stale => stale.foreach(s => fs.delete(s.getPath, false))
      } catch { case _: java.io.IOException => () } // best-effort hygiene
    }

    private def write(r: StageReport, suffix: String = ""): Unit =
      writeText(spark, s"$outDir/${r.stage}_$runDate$suffix.json", r.toJson + "\n")
  }
}
