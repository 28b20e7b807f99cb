package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Pins

/** Streaming training-block packing — the continuous form of q94/q253's
  * final stage: an unbounded curated-doc feed is byte-BPE encoded under
  * a FROZEN tokenizer and cut into fixed B-token blocks that cross BOTH
  * document and micro-batch boundaries, exactly as a one-shot pack of
  * the concatenated corpus would cut them. Normalization is NFC — the
  * same stage the batch flagship (q253's `pretrainE2e`) applies before
  * splitting, so the streamed path tokenizes identically to the batch
  * chain it mirrors (ADVICE r13).
  *
  * The cross-batch seam is a persistent TOKEN CURSOR: one single-row
  * parquet write per committed batch whose sum is the total token count
  * packed so far. Each batch computes its per-doc token counts
  * (vocab-sized merge application —
  * [[graft.text.TextQueries.byteBpeDocTokens]]), assigns global offsets
  * with the q89/q94 two-pass machinery SHIFTED by the cursor, writes
  * per-block CONTRIBUTIONS (block_id, n_docs, block_tokens) — a block
  * split by a batch boundary simply receives contribution rows from two
  * batches — and finally commits the batch's token total to the cursor.
  * The served [[blocks]] view aggregates contributions, so 1-wave ==
  * n-wave == one-shot BY CONSTRUCTION when docs arrive in doc_id order
  * (StreamingPackSpec pins it, including a mid-block wave split).
  *
  * EXACTLY-ONCE-EFFECTIVE under at-least-once replay (ADVICE r13 — the
  * naive append form double-counted block contributions AND
  * double-advanced the cursor on replay, permanently shifting every
  * later block boundary). Every write is keyed by `batchId` into its
  * own subdirectory and OVERWRITTEN, never appended:
  *
  *   - `outRoot/blocks/b<id>`  — the batch's block contributions;
  *   - `outRoot/cursor/b<id>`  — ONE row (n = batch token total),
  *     written LAST: its `_SUCCESS` marker is the batch's commit point.
  *
  * Replay of a committed batch (cursor marker present) is a no-op.
  * Replay of a partially-committed batch first DELETES its own partial
  * cursor dir (so the cursor sum it reads never includes itself), then
  * overwrites its blocks dir with identical content — the cursor sum,
  * and therefore every offset and block cut, is reproduced exactly.
  * The only transient anomaly: between a crash after the blocks write
  * and the replay, [[blocks]] may serve that batch's contributions
  * early; the replay overwrites them with identical bytes, so the view
  * converges and never double-counts.
  *
  * Scale posture: per batch — one vocab-sized merge apply, one
  * delta-sized offset pass (range partition + broadcast offsets, never
  * a single-partition window), one block-keyed agg; driver state is the
  * cursor SUM (one long; one tiny file per batch — compact by
  * re-summing, the ledger posture). The blocks store is per-batch
  * immutable and compacts by re-aggregation at read, the q66
  * shard-manifest posture. */
object StreamingPackIngest {

  private val CursorSchema = StructType(Seq(StructField("n", LongType)))
  private val BlocksSchema = StructType(Seq(
    StructField("block_id", LongType), StructField("n_docs", LongType),
    StructField("block_tokens", LongType)))

  private def fs(s: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `_SUCCESS` of the batch's cursor write = its commit marker. */
  private def committed(s: SparkSession, dir: String): Boolean =
    fs(s, dir).exists(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"))

  /** foreachBatch body: pack one micro-batch of (doc_id, text) docs.
    * Idempotent per `batchId` (see object scaladoc). */
  private[graft] def packBatch(batch: DataFrame, batchId: Long,
      merges: Seq[(Long, String, Long)], outRoot: String,
      blockTokens: Long = 512L): Unit = {
    require(blockTokens > 0, s"blockTokens must be positive: $blockTokens")
    val s = batch.sparkSession
    val cursorDir = s"$outRoot/cursor/b$batchId"
    if (committed(s, cursorDir)) return // replay of a committed batch
    // a partial own cursor dir (crash mid-commit) must not feed the sum
    fs(s, cursorDir).delete(new org.apache.hadoop.fs.Path(cursorDir), true)
    Pins.scope { pins =>
      // pinned: feeds the offsets AND the cursor total
      val perdoc = pins.checkpoint(graft.text.TextQueries
        .byteBpeDocTokens(batch.select("doc_id", "text"), merges))
      val cursor = LedgerIO
        .readOrEmpty(s, s"$outRoot/cursor", CursorSchema, recursive = true)
        .agg(coalesce(sum("n"), lit(0L))).collect()(0).getLong(0)
      val spans = graft.operators.GlobalOrder
        .withRunningTotals(perdoc, Seq(col("doc_id")), col("n_tokens"))
        .withColumn("tstart", col("tstart") + lit(cursor))
        .withColumn("tend", col("tend") + lit(cursor))
      spans
        .withColumn("block_id", explode(sequence(
          expr(s"tstart div ${blockTokens}L"),
          expr(s"(tend - 1) div ${blockTokens}L"))))
        .groupBy("block_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("tend"), (col("block_id") + 1) * blockTokens) -
            greatest(col("tstart"), col("block_id") * blockTokens))
            .as("block_tokens"))
        .write.mode("overwrite").parquet(s"$outRoot/blocks/b$batchId")
      val total = perdoc.agg(coalesce(sum("n_tokens"), lit(0L)))
        .collect()(0).getLong(0)
      import s.implicits._
      Seq(total).toDF("n").write.mode("overwrite").parquet(cursorDir)
    }
  }

  /** The served view: per-block composition aggregated over all landed
    * contributions (a boundary-split block's rows merge here). */
  def blocks(spark: SparkSession, outRoot: String): DataFrame =
    LedgerIO.readOrEmpty(spark, s"$outRoot/blocks", BlocksSchema,
        recursive = true)
      .groupBy("block_id")
      .agg(sum("n_docs").as("n_docs"),
        sum("block_tokens").as("block_tokens"))

  /** Wire a (doc_id, text, ...) stream through [[packBatch]]. */
  def packIngest(docs: DataFrame, merges: Seq[(Long, String, Long)],
      outRoot: String, checkpoint: String,
      blockTokens: Long = 512L): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        packBatch(batch, batchId, merges, outRoot, blockTokens)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
