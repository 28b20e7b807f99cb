package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One catalog entry: a Spark query over the driver testdata plus (when
  * SQL-expressible) an equivalent ANSI SQL oracle the driver runs in DuckDB.
  *
  * Determinism contract (the driver hash-compares sorted rows/columns):
  *  - every computed column is aliased identically on both sides;
  *  - double aggregates go through exact DECIMAL accumulation and surface as
  *    DOUBLE (summation order can never drift the hash);
  *  - computed integers are BIGINT on both sides (Spark int vs DuckDB bigint
  *    defaults differ);
  *  - every top-k/limit has a total tiebreak order.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    notes: String = "")

object Ops {
  // One schema/footer read per (session, path) instead of per query: the
  // catalog reads the driver testdata, which is IMMUTABLE (TESTDATA.md:
  // "Read-only — do NOT regenerate or modify"), so the frozen file listing
  // can never go stale; mutable zones go through Zones/LakeCatalog, never
  // this cache. Keyed by session identity so a new session re-resolves.
  // Bounded: cleared wholesale past MaxScanEntries so a JVM that churns
  // many sessions/paths can't pin plans forever.
  private val MaxScanEntries = 256
  private val scanCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Scan one driver-provided table (TESTDATA.md layout). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (scanCache.size > MaxScanEntries) {
      // Evict stopped sessions first — they (and their file-listing state)
      // must not stay pinned by the cache's strong keys. Wholesale clear
      // only if live entries alone still exceed the bound.
      val it = scanCache.keySet.iterator
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
      if (scanCache.size > MaxScanEntries) scanCache.clear()
    }
    scanCache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      { case (s, p) => normalizeEventTs(s.read.parquet(p)) })
  }

  /** The catalog's `ts` contract: nanos-since-epoch LONG. Driver testdata
    * has carried `events.ts` as parquet TIMESTAMP(NANOS) (read as LONG via
    * nanosAsLong) and as TIMESTAMP(MICROS) (read as a timestamp type) in
    * different rounds; every query/oracle downstream assumes the LONG nanos
    * form, so a timestamp-typed `ts` is converted AT THE SCAN (one narrow
    * codegen'd projection, micros*1000 — exact, no sub-micro truncation
    * because the source has micro precision). LONG `ts` (adversarial spec
    * fixtures with explicit pre-1970 nanos) passes through untouched.
    * Sessions run UTC everywhere, so the NTZ→TZ cast is wall-clock exact. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
           Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      case _ => df
    }

  /** Exact decimal sum surfaced as DOUBLE — order-insensitive, engine-exact.
    * Oracle twin: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE). */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact mean: decimal sum / count, divided in DOUBLE on both engines.
    * Oracle twin: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)/COUNT(*). */
  def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(lit(1))

  /** An all-pairs correctness BASELINE is quadratic by design: pointed at a
    * billion-row `table` it would run for a week, so past the conf-keyed
    * bound (`key`, -1 disables) it fails loudly instead. The count is a
    * parquet metadata count (no column scan); `scalePath` names the
    * queries to use at scale. */
  def guardBruteForce(s: SparkSession, d: String, query: String,
      table: String, key: String, default: Long, pairs: String, rows: String,
      scalePath: String): Unit = {
    val limit = s.conf.get(key, default.toString).toLong
    if (limit >= 0) {
      val n = t(s, d, table).count()
      require(n <= limit,
        s"$query is an $pairs correctness BASELINE: input has $n $rows " +
          s"(> $key=$limit). Use $scalePath at scale, or raise the conf to " +
          "opt out.")
    }
  }
}
