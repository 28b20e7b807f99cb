package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Plan-audit tool: prints `.explain("formatted")` for the named catalog
  * queries (all of them when no names given) so scan pruning, pushed
  * filters, broadcast vs shuffle joins, and WholeStageCodegen spans can be
  * reviewed against SCALE.md. Usage:
  *   runMain graft.ExplainAudit <sfDir> [queryName...]
  */
object ExplainAudit {

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
    * scans, so a correctly-pinned multi-consumer plan counts ONCE. */
  def tableScanCounts(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    planNodes(df.queryExecution.executedPlan).flatMap {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName)
      case _ => Seq.empty
    }.groupBy(identity).map { case (k, v) => (k, v.size) }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    // Dev-only (same contract as Bench/ScalingBench): SPARK_GRAFT_CONF
    // injects "k=v;k=v" session confs so conf-keyed paths can be
    // plan-audited in both states (e.g. spark.graft.substr.hotWindowCap=64).
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).filter(_.nonEmpty)
      .map(_.split("=", 2)).collect { case Array(k, v) => (k.trim, v.trim) }
    val builder = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          val df = fn(spark, sfDir)
          df.explain("formatted")
          tableScanCounts(df).toSeq.sortBy(-_._2).foreach { case (t, c) =>
            val flag = if (c >= 3) "  <== MULTI-SCAN WARN (pin or pre-agg?)"
                       else ""
            println(s"SCAN-AUDIT: $t x$c$flag")
          }
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
