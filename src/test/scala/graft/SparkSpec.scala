package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — mirrors the driver's session shape
  * (UTC, small shuffle partitions, nanos-as-long parquet reads). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark.sqlContext
  override def afterAll(): Unit = {} // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession("4")

  /** The catalog snapshot: every query built ONCE per test JVM at sf0.001,
    * cache-cold, by the plan audit's own pass — its plan record plus the
    * row count of that same frame. The full-catalog plan contracts and the
    * per-row determinism case all read it instead of rebuilding the
    * catalog each. */
  lazy val catalog: ExplainAudit.Report[Long] =
    ExplainAudit.audit(session, "/root/testdata/sf0.001")((_, df) => df.count())

  /** One query's snapshot entry; a query that failed to build fails here
    * with its build error. */
  def catalogEntry(name: String): (ExplainAudit.PlanRecord, Long) =
    catalog.records.find(_._1.query == name).getOrElse(
      throw new IllegalStateException(s"$name is not in the catalog " +
        s"snapshot: ${catalog.failures.toMap.getOrElse(name, "not built")}"))
}
