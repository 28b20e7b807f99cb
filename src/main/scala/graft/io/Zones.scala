package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.model.Schemas

/** Medallion-zone IO: raw/bronze/silver/audit roots with the reference's
  * Hive-style partition layout (`ingest_date=` for raw,
  * `etl_transactions_bronze.py:131` / `etl_transactions_silver.py:145` for
  * `txn_date=` in bronze/silver).
  *
  * The reference reads via the Glue Data Catalog
  * (`etl_transactions_bronze.py:123-125`); our equivalent is direct
  * partition-discovering Parquet reads plus optional temp-view registration
  * (the Athena stand-in, SURVEY.md §1.4).
  *
  * Scale notes:
  *  - writes partitionBy(txn_date) so every downstream date predicate
  *    partition-prunes;
  *  - append mode preserved for parity (reference B4); idempotent re-runs
  *    via overwrite mode;
  *  - raw CSV reads use the explicit contract schema — no inferSchema pass
  *    over 100 TB.
  */
final case class Zones(root: String) {
  val raw = s"$root/raw/transactions"
  val bronze = s"$root/bronze/transactions_parquet"
  val silver = s"$root/silver/transactions_parquet"
  val auditInvalid = s"$root/audit/invalid_records"
  val auditSummary = s"$root/audit/dq_summary"
  val gold = s"$root/gold"

  /** Raw CSV scan with the explicit 8-string-column contract (S1/S3).
    * `ingest_date` is path metadata (partition-discovered), not part of the
    * logical raw schema — dropped to keep the 8-column contract. */
  def readRaw(spark: SparkSession): DataFrame =
    spark.read.schema(Schemas.raw).option("header", "true").csv(raw)
      .drop("ingest_date")

  /** Crawler-style schema-DISCOVERY raw read (SURVEY §2.1 S3; the Glue
    * Crawler / notebook `inferSchema=True` path, reference `README.md:80`).
    * The explicit-contract `readRaw` stays the scale default — inference
    * costs an extra full pass over the CSV, which is a non-starter at
    * 100 TB — but new/unknown feeds need the discovery option. */
  def readRawInferred(spark: SparkSession): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(raw)
      .drop("ingest_date")

  /** Partitioned Parquet write (K1/K2); append for reference parity.
    * `overwrite` replaces the whole zone (Spark's default static partition
    * overwrite). */
  def writePartitioned(df: DataFrame, path: String, mode: String = "append"): Unit =
    df.write.mode(mode)
      .option("compression", "snappy")
      .partitionBy("txn_date")
      .parquet(path)

  /** Register bronze and silver in the session catalog — the Athena/Glue
    * stand-in. */
  def registerTables(spark: SparkSession): Unit = {
    register(spark, "bronze_transactions", bronze, Schemas.bronze)
    register(spark, "silver_transactions", silver, Schemas.silver)
  }

  /** Register one zone as `name`, read by its contract `schema`. On a
    * Hive-backed session (`LakeCatalog.session`) it becomes a persistent
    * EXTERNAL table with crawled partitions that survives JVM restarts; on
    * the default in-memory catalog a session temp view. Either way
    * `spark.table(name)` resolves. The contract schema means no footer
    * inference job, and a zone with no data files (an empty partitioned
    * write leaves only `_SUCCESS`) still reads as an empty table. */
  private[graft] def register(spark: SparkSession, name: String, path: String,
      schema: StructType): Unit =
    if (LakeCatalog.isHive(spark))
      LakeCatalog.registerExternal(spark, name, path, Some(schema), Seq("txn_date"))
    else spark.read.schema(schema).parquet(path).createOrReplaceTempView(name)
}

/** Helpers for the driver-provided star-schema testdata (TESTDATA.md). */
object TestTables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    // ts normalization: same nanos-LONG contract as the catalog scans
    // (see Ops.normalizeEventTs — driver testdata rounds differ in the
    // parquet timestamp encoding of events.ts)
    graft.analytics.Ops.normalizeEventTs(
      spark.read.parquet(s"$sfDir/$name.parquet"))

  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => read(spark, sfDir, n).createOrReplaceTempView(n))
}
