package graft

import java.security.MessageDigest

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec, GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** The catalog plan audit. One pass builds every named catalog query once,
  * cache-cold, and keeps a [[PlanRecord]] of what SCALE.md's plan claims
  * rest on: output columns, cartesian / nested-loop joins, per-table scan
  * counts, unpartitioned-window sites, and a hash of the normalized
  * optimized plan. The tool prints `.explain("formatted")`, the scan
  * counts and a `PLAN <name> <hash>` line per query, an `ORACLE <name>
  * <hash>` line per query with a DuckDB oracle, then the window inventory;
  * it exits 2 when a query fails to build or an unpartitioned window has
  * no row bound below it. Plan and oracle identity between two commits
  * are a `diff` of their `PLAN` and `ORACLE` lines. Usage:
  *   runMain graft.ExplainAudit <sfDir> [queryName...]
  */
object ExplainAudit {

  /** An unpartitioned `WindowExec`/`WindowGroupLimitExec`, and whether a
    * row-bounding operator (TakeOrderedAndProject / GlobalLimit /
    * CollectLimit) sits strictly BELOW it — the declared bounded pattern
    * (q184). A LocalTableScan is NOT a bound: a LocalRelation can be
    * arbitrarily large (CC's union-find output is one). An unpartitioned
    * window over an UNBOUNDED frame is the canonical 100 TB killer
    * (Exchange SinglePartition of the data). */
  final case class Site(query: String, windowClass: String, bounded: Boolean)

  /** What the plan audits read of one built query; no DataFrame is held. */
  final case class PlanRecord(query: String, columns: Seq[String],
      cartesian: Boolean, nestedLoop: Boolean, scanCounts: Map[String, Int],
      windowSites: Seq[Site], planHash: String)

  /** One record per built query, each with what `also` returned for it,
    * plus the queries that could not be built (name → error message): a
    * failing query is reported, never read as a clean plan. */
  final case class Report[A](records: Seq[(PlanRecord, A)],
      failures: Seq[(String, String)]) {
    def sites: Seq[Site] = records.flatMap(_._1.windowSites)
  }

  /** Every node of a physical plan, root first: AQE input plans and query
    * stages (which hide their subtree from `children`), children, and
    * subqueries. A `ReusedExchangeExec` is a leaf here — it references a
    * subtree that is already walked and that Spark executes once. */
  private[graft] def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val hidden = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.inputPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case _ => Seq.empty
    }
    p +: (hidden ++ p.children.flatMap(planNodes) ++
      p.subqueries.flatMap(planNodes))
  }

  /** How many times each source parquet table is scanned in one query's
    * PHYSICAL plan — the q182/q210 defect class detector (a corpus-scale
    * frame consumed N times with no pin re-scans the corpus N times).
    * Counts `FileSourceScanExec` nodes grouped by root-path basename;
    * pinned frames (`localCheckpoint`) surface as RDD scans, not file
    * scans, so a correctly-pinned multi-consumer plan counts ONCE. A frame
    * served from the CacheManager also hides its scans, so the count is a
    * query's own only in a cache-cold build ([[audit]]). */
  def tableScanCounts(df: DataFrame): Map[String, Int] =
    planNodes(df.queryExecution.executedPlan).flatMap {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName)
      case _ => Seq.empty
    }.groupBy(identity).map { case (k, v) => (k, v.size) }

  private def hasBoundBelow(p: SparkPlan): Boolean =
    planNodes(p).drop(1).exists {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
          _: CollectLimitExec => true
      case _ => false
    }

  /** All unpartitioned-window sites in one query's executed plan. */
  def sitesOf(query: String, df: DataFrame): Seq[Site] =
    planNodes(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Site(query, "WindowExec", hasBoundBelow(w))
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Site(query, "WindowGroupLimitExec", hasBoundBelow(w))
    }

  /** What varies between two builds of one plan, each with its stand-in:
    * expression ids, generated `x_<n>` names, plan ids, JVM lambda
    * identities, and part-file UUIDs (q115 reads a rewritten layout). */
  private val Volatile = Seq(
    "#\\d+" -> "#",
    "\\bx_\\d+" -> "x_",
    "plan_id=\\d+" -> "plan_id=",
    "\\$\\$Lambda[$/\\w]*@[0-9a-f]+" -> "\\$\\$Lambda",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "<uuid>"
  ).map { case (re, to) => (re.r, to) }

  /** The optimized logical plan with its per-build identities blanked. */
  def normalizedPlan(df: DataFrame): String =
    Volatile.foldLeft(df.queryExecution.optimizedPlan.toString) {
      case (text, (re, to)) => re.replaceAllIn(text, to)
    }

  def planHash(df: DataFrame): String = hash(normalizedPlan(df))

  /** The identity of a query's oracle: its SQL with whitespace collapsed,
    * so re-indenting a spliced fragment keeps the hash and any token
    * change moves it. */
  def oracleHash(sql: String): String = hash(sql.trim.replaceAll("\\s+", " "))

  private def hash(text: String): String =
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  def record(query: String, df: DataFrame): PlanRecord = {
    val text = df.queryExecution.executedPlan.toString
    PlanRecord(query, df.columns.toSeq, text.contains("CartesianProduct"),
      text.contains("BroadcastNestedLoopJoin"), tableScanCounts(df),
      sitesOf(query, df), planHash(df))
  }

  /** Builds each named query once, in order, recording its plan and then
    * running `also` on the same frame. The CacheManager is cleared before
    * each build (the Bench/Verify cache-cold contract): queries persist()
    * internal frames, and a later build that matched them would read the
    * cache in place of its file scans. */
  def audit[A](spark: SparkSession, sfDir: String,
      names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted)(
      also: (PlanRecord, DataFrame) => A): Report[A] = {
    val results = names.map { n =>
      try {
        spark.catalog.clearCache()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val r = record(n, df)
        Right(r -> also(r, df))
      } catch { case NonFatal(e) => Left(n -> String.valueOf(e.getMessage)) }
    }
    Report(results.flatMap(_.toOption), results.flatMap(_.left.toOption))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = LocalSession(LocalSession.cpus(), logLevel = "ERROR")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val report = audit(spark, sfDir, names)(show)
    val oracles = SparkEntry.oracleSql
    names.filter(oracles.contains).foreach(n =>
      println(s"ORACLE $n ${oracleHash(oracles(n))}"))
    report.failures.foreach { case (n, msg) =>
      println(s"WINDOW-AUDIT-FAILED: $n $msg")
    }
    val sites = report.sites
    sites.foreach(s =>
      println(s"WINDOW-AUDIT: ${s.query} ${s.windowClass} bounded=${s.bounded}"))
    val unbounded = sites.count(!_.bounded)
    println(s"WINDOW-AUDIT-TOTAL: ${sites.size} sites, " +
      s"$unbounded without an in-plan bound, " +
      s"${report.failures.size} queries failed")
    spark.stop()
    if (report.failures.nonEmpty || unbounded > 0) sys.exit(2)
  }

  private def show(r: PlanRecord, df: DataFrame): Unit = {
    println(s"\n========== ${r.query} ==========")
    df.explain("formatted")
    r.scanCounts.toSeq.sortBy(-_._2).foreach { case (t, c) =>
      val flag = if (c >= 3) "  <== MULTI-SCAN WARN (pin or pre-agg?)" else ""
      println(s"SCAN-AUDIT: $t x$c$flag")
    }
    println(s"PLAN ${r.query} ${r.planHash}")
  }
}
