package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Unpartitioned-window audit (r15, VERDICT r14 #4/#5): enumerate every
  * `WindowExec`/`WindowGroupLimitExec` with an EMPTY partitionSpec in
  * every declared query's physical plan, and classify whether a
  * row-bounding operator (TakeOrderedAndProject / GlobalLimit /
  * CollectLimit) sits strictly BELOW it — the declared bounded pattern
  * (q184). A LocalTableScan is NOT a bound: a LocalRelation can be
  * arbitrarily large (CC's union-find output is one). An unpartitioned
  * window over an UNBOUNDED frame is the canonical 100 TB killer (Exchange
  * SinglePartition of the data); this audit proves the two WindowExec
  * warnings in the Verify tail come only from declared bounded sites.
  * WindowAuditSpec pins the inventory; SCALE.md records it. Usage:
  *   runMain graft.WindowAudit [sfDir]
  */
object WindowAudit {

  final case class Site(query: String, windowClass: String, bounded: Boolean)

  /** Sites found, plus the queries whose plan could not be built
    * (name → error message): a failing query is reported, never read
    * as "no sites". */
  final case class Report(sites: Seq[Site], failures: Seq[(String, String)])

  private def hasBoundBelow(p: SparkPlan): Boolean =
    ExplainAudit.planNodes(p).drop(1).exists {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
          _: CollectLimitExec => true
      case _ => false
    }

  /** All unpartitioned-window sites in one query's executed plan. */
  def sitesOf(query: String,
      df: org.apache.spark.sql.DataFrame): Seq[Site] =
    ExplainAudit.planNodes(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Site(query, "WindowExec", hasBoundBelow(w))
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Site(query, "WindowGroupLimitExec", hasBoundBelow(w))
    }

  def audit(spark: SparkSession, sfDir: String, names: Seq[String]): Report = {
    val results = names.map { n =>
      try Right(sitesOf(n, SparkEntry.queries(n)(spark, sfDir)))
      catch { case NonFatal(e) => Left(n -> String.valueOf(e.getMessage)) }
    }
    Report(results.flatMap(_.toOption).flatten,
      results.flatMap(_.left.toOption))
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
    val Report(sites, failures) =
      audit(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted)
    failures.foreach { case (n, msg) =>
      println(s"WINDOW-AUDIT-FAILED: $n $msg")
    }
    sites.foreach(s => println(s"WINDOW-AUDIT: ${s.query} ${s.windowClass} bounded=${s.bounded}"))
    println(s"WINDOW-AUDIT-TOTAL: ${sites.size} sites, " +
      s"${sites.count(!_.bounded)} without an in-plan bound, " +
      s"${failures.size} queries failed")
    spark.stop()
  }
}
