package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Unpartitioned-window audit (r15, VERDICT r14 #4/#5): enumerate every
  * `WindowExec`/`WindowGroupLimitExec` with an EMPTY partitionSpec in
  * every declared query's physical plan, and classify whether a
  * row-bounding operator (TakeOrderedAndProject / GlobalLimit /
  * CollectLimit / LocalTableScan) sits strictly BELOW it — the declared
  * bounded pattern (q242b/q184). An unpartitioned window over an
  * UNBOUNDED frame is the canonical 100 TB killer (Exchange
  * SinglePartition of the data); this audit proves the two WindowExec
  * warnings in the Verify tail come only from declared bounded sites.
  * WindowAuditSpec pins the inventory; SCALE.md records it. Usage:
  *   runMain graft.WindowAudit [sfDir]
  */
object WindowAudit {

  final case class Site(query: String, windowClass: String, bounded: Boolean)

  private def collectPlans(p: SparkPlan): Seq[SparkPlan] = {
    val hidden = p match {
      case a: AdaptiveSparkPlanExec => collectPlans(a.inputPlan)
      case q: QueryStageExec => collectPlans(q.plan)
      case _ => Seq.empty
    }
    p +: (hidden ++ p.children.flatMap(collectPlans) ++
      p.subqueries.flatMap(collectPlans))
  }

  private def hasBoundBelow(p: SparkPlan): Boolean =
    collectPlans(p).drop(1).exists { n =>
      val c = n.getClass.getSimpleName
      c.contains("TakeOrderedAndProject") || c.contains("GlobalLimit") ||
        c.contains("CollectLimit") || c.contains("LocalTableScan")
    }

  /** All unpartitioned-window sites in one query's executed plan. */
  def sitesOf(query: String,
      df: org.apache.spark.sql.DataFrame): Seq[Site] =
    collectPlans(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Site(query, "WindowExec", hasBoundBelow(w))
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Site(query, "WindowGroupLimitExec", hasBoundBelow(w))
    }

  def audit(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[Site] =
    names.flatMap { n =>
      try sitesOf(n, SparkEntry.queries(n)(spark, sfDir))
      catch { case NonFatal(e) =>
        System.err.println(s"[window-audit] $n failed: ${e.getMessage}")
        Seq.empty
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sites = audit(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted)
    sites.foreach(s => println(s"WINDOW-AUDIT: ${s.query} ${s.windowClass} bounded=${s.bounded}"))
    println(s"WINDOW-AUDIT-TOTAL: ${sites.size} sites, " +
      s"${sites.count(!_.bounded)} without an in-plan bound")
    spark.stop()
  }
}
