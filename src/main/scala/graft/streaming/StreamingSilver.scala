package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Schemas
import graft.transform.{Audit, Silver}

/** Structured Streaming variant of the SILVER stage — extends the streaming
  * twin past bronze (the last README-declared upgrade, `README.md:133`,
  * without a streaming counterpart).
  *
  * Shape: `foreachBatch`, so each micro-batch runs the UNMODIFIED batch
  * transforms — `Silver.pipeline` (validate amount/currency/status + curate)
  * and the `Audit.tagRejects` split — giving transform parity with the batch
  * job by construction rather than by a re-implementation that could drift.
  *
  * Delivery note: the parquet appends inside foreachBatch are at-least-once
  * on micro-batch RETRY (two sinks can't commit atomically without a table
  * format). The checkpoint still guarantees no batch is reprocessed after
  * success, which matches the batch job's own append-mode posture (B4); a
  * dedup-on-read by txn_id (q07 shape) or a transactional table format is
  * the upgrade path where exactly-once files are required.
  */
object StreamingSilver {

  /** File-source stream over the BRONZE parquet zone (job-boundary parity:
    * the batch silver job also reads materialized bronze, not raw). Read
    * by the bronze contract schema, like the batch registration: no footer
    * inference job, and a bronze zone with no data files yet streams as
    * empty. */
  def readBronzeStream(spark: SparkSession, bronzeDir: String,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(Schemas.bronze)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(bronzeDir)

  /** Validation + audit split as one streaming stage: valid rows append to
    * the silver zone, rejects to the audit zone, both txn_date-partitioned
    * exactly like the batch writers. */
  def writeSilver(bronzeStream: DataFrame, silverPath: String,
      auditInvalidPath: String, checkpoint: String): StreamingQuery =
    bronzeStream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Silver.pipeline(batch)
          .write.mode("append").option("compression", "snappy")
          .partitionBy("txn_date").parquet(silverPath)
        Audit.invalidRecords(Audit.tagRejects(batch))
          .write.mode("append").option("compression", "snappy")
          .partitionBy("txn_date").parquet(auditInvalidPath)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
