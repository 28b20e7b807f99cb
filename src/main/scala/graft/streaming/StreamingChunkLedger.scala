package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Pins

/** Streaming chunk-ledger ingest — the continuous counterpart of q221's
  * standing content-defined-chunking ledger, for the crawl RE-FETCH
  * stream: pages arrive again and again (recrawls, mirrors, boilerplate
  * families), and a page whose bytes are mostly chunks the pipeline has
  * already banked is dropped before it costs anything downstream.
  *
  * Per micro-batch (the [[StreamingDocIngest.nearDupIngest]] foreachBatch
  * pattern — CDC banding, like LSH banding, needs cross-row joins
  * watermarked state can't express):
  *  1. content-defined chunks for the batch docs (the SAME
  *     [[graft.dedup.DedupQueries.cdcChunkTable]] expression q220/q221
  *     gate — parity by shared definition), pinned once for its three
  *     consumers (the q221 rule);
  *  2. a batch doc's chunk occurrence is SHARED iff its md5 is in the
  *     persisted ledger (any earlier-arrived doc banked it, kept or
  *     dropped) or an earlier doc OF THIS BATCH carries it (min-doc_id
  *     witness — so batch boundaries don't change the outcome);
  *  3. drop rule: 2·bytes_shared >= n_bytes ("mostly duplicate", q221's
  *     audit column as a gate); survivors append to `outPath`;
  *  4. the batch's chunk hashes — from kept AND dropped docs — append to
  *     the ledger, NEW hashes only (anti-join keeps ledger rows unique).
  *
  * Banking dropped docs' chunks makes the survivor set micro-batch-
  * boundary INVARIANT: replaying a corpus in one batch or many yields
  * exactly [[batchTwin]]'s one-shot survivors (StreamingChunkLedgerSpec
  * pins this, the StreamingNearDupSpec contract).
  *
  * Scale posture: the chunk pass is a narrow per-doc map (one codegen'd
  * HOF chain, no shuffle); per batch the joins key on chunk_md5 (16-byte
  * hashes + lengths — document bytes never join); the ledger is one row
  * per DISTINCT chunk ever seen — the corpus's unique-content mass at
  * ~1/64 granularity, the CDC economics q220 documents — and at 100 TB
  * lives bucketed by chunk_md5 so the per-batch semi/anti joins land on
  * co-located buckets. Appends share the at-least-once posture of
  * [[StreamingDocIngest.writeDocs]]. */
object StreamingChunkLedger {

  /** Continuous ingest: any stream of (doc_id, text) → ledger-deduped
    * survivors at `outPath`, standing ledger at `ledgerPath`. */
  def ingest(docs: DataFrame, outPath: String, ledgerPath: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        chunkBatch(batch, outPath, ledgerPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[streaming] def chunkBatch(batch: DataFrame, outPath: String,
      ledgerPath: String): Unit = Pins.scope { pins =>
    val (survivors, newChunks) = survivorsOf(pins, batch, ledgerPath)
    // survivors FIRST: materializes the joins against the ledger listing
    // pinned at read() time, before ledgerPath gains this batch's files
    survivors.write.mode("append").parquet(outPath)
    newChunks.write.mode("append").parquet(ledgerPath)
  }

  /** (survivor rows, this batch's NEW ledger rows), both reading a pin of
    * `pins`. Callers must materialize survivors before appending the
    * ledger rows. */
  private[streaming] def survivorsOf(pins: Pins, batch: DataFrame,
      ledgerPath: String): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    // pinned: the chunk table feeds the within-batch witness agg, the
    // per-doc stats AND the ledger append — the expensive narrow map
    // must run once (q221's pinning rule; chunks are hash+length rows)
    val chunks = pins.checkpoint(graft.dedup.DedupQueries.cdcChunkTable(
      batch.select("doc_id", "text")))
    // explicit schema via LedgerIO: an exists-but-fileless ledger dir
    // (crash between mkdir and the first part-file commit) must read as
    // empty, not wedge every restart on schema inference
    val ledger = LedgerIO.readOrEmpty(spark, ledgerPath,
      chunks.select("chunk_md5").schema)
    val firstSeen = chunks.groupBy("chunk_md5")
      .agg(min("doc_id").as("first_doc"))
    val occ = chunks
      .join(firstSeen, "chunk_md5")
      .join(ledger.select(col("chunk_md5"), lit(1).as("in_ledger")),
        Seq("chunk_md5"), "left_outer")
      .withColumn("shared",
        col("in_ledger").isNotNull || col("first_doc") < col("doc_id"))
    val dropped = occ.groupBy("doc_id")
      .agg(sum("chunk_len").as("n_bytes"),
        coalesce(sum(when(col("shared"), col("chunk_len"))), lit(0L))
          .as("bytes_shared"))
      .filter(col("bytes_shared") * 2 >= col("n_bytes"))
      .select("doc_id")
    val newChunks = chunks.select("chunk_md5").distinct()
      .join(ledger.select("chunk_md5"), Seq("chunk_md5"), "left_anti")
    (batch.join(dropped, Seq("doc_id"), "left_anti"), newChunks)
  }

  /** One-shot computation with the identical survivor rule over an empty
    * initial ledger — the batch⇄stream parity anchor. */
  def batchTwin(docs: DataFrame): DataFrame = {
    val chunks = graft.dedup.DedupQueries.cdcChunkTable(
      docs.select("doc_id", "text")).localCheckpoint(true)
    val firstSeen = chunks.groupBy("chunk_md5")
      .agg(min("doc_id").as("first_doc"))
    val dropped = chunks.join(firstSeen, "chunk_md5")
      .withColumn("shared", col("first_doc") < col("doc_id"))
      .groupBy("doc_id")
      .agg(sum("chunk_len").as("n_bytes"),
        coalesce(sum(when(col("shared"), col("chunk_len"))), lit(0L))
          .as("bytes_shared"))
      .filter(col("bytes_shared") * 2 >= col("n_bytes"))
      .select("doc_id")
    docs.join(dropped, Seq("doc_id"), "left_anti")
  }
}
