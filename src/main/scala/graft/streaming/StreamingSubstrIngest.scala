package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Pins
import graft.dedup.SubstrIndex

/** Streaming ExactSubstr ingest — the continuous counterpart of q251/q252,
  * completing the persisted-structure ingest family (postings, IVF cells,
  * set-sim prefixes all ride [[StreamingDocIngest.indexedIngest]]; the
  * window-hash index rides here): an unbounded document feed where each
  * micro-batch's positions are scored against everything that arrived
  * BEFORE them — the standing indexed corpus plus earlier rows of the
  * same batch — then the batch itself becomes standing corpus.
  *
  * Per micro-batch, in the order [[SubstrIndex]]'s scaladoc contracts
  * (PROBE BEFORE APPEND — a doc must never find itself in the index):
  *  1. probe: per-doc ExactSubstr coverage of the batch against the
  *     standing index (verification reads the landed corpus text) plus
  *     within-batch earlier occurrences — exact, source-backed;
  *  2. land: the batch text lands in the corpus store (the source store
  *     later probes' verification reads);
  *  3. append: the batch's window hashes append to the bucketed index
  *     (content-pure hashing ⇒ append+probe == rebuild+probe exactly);
  *  4. commit: the batch id lands in the ledger — the commit point.
  *
  * AT-LEAST-ONCE REPLAY SAFETY (ADVICE r13 — the naive form broke on
  * retry: a batch whose text had landed / whose windows had appended
  * before a crash found ITSELF in the corpus and index on replay,
  * self-matching to full coverage, and cov/landed rows duplicated):
  *  - a replay of a COMMITTED batch (ledger marker present) is a no-op;
  *  - coverage and landed text are written per batch to `covOut/b<id>` /
  *    `landedDir/b<id>` with OVERWRITE — a replay rewrites identical
  *    bytes instead of appending duplicates (the batch's own partial
  *    dirs are deleted up front so the probe's corpus read is clean);
  *  - the probe excludes the batch's own doc_ids from the INDEX side
  *    (`SubstrIndex.probe(excludeDelta = true)` — broadcast anti-join),
  *    so windows appended by a crashed attempt cannot self-match;
  *  - the index append itself is the one non-idempotent write: a replay
  *    after a partially-committed attempt can duplicate the batch's
  *    window rows. That is SAFE for every later probe (candidates pass
  *    through `.distinct()`, so duplicate index rows change nothing)
  *    and costs only index bytes until the next compacting rebuild —
  *    the same bloat-not-correctness trade [[SubstrIndex.append]]'s
  *    rebuild note already owns.
  *
  * CONTRACT: the index and the landed store must already exist — build
  * them over the base corpus with [[SubstrIndex.build]] + a parquet write
  * before starting the stream (the VectorIndex posture: building a
  * standing structure is an explicit decision, never an ingest side
  * effect; a missing table fails loudly here). The landed store is read
  * RECURSIVELY: base-corpus part files at the root and per-batch `b<id>`
  * subdirectories serve together.
  *
  * Batch-boundary invariance (StreamingSubstrIngestSpec pins it): when
  * docs arrive in doc_id order, 1-batch == n-batch == the one-shot q251
  * semantics, because "indexed before" and "lower doc_id" coincide —
  * cross-batch earlier-ness is carried by the index, within-batch by the
  * probe's delta-self join.
  *
  * Scale posture: each batch hashes only its OWN windows (delta-sized);
  * the index side of the candidate join is a bucketed exchange-free scan
  * (the replay anti-join is a broadcast of batch-sized ids); coverage is
  * the island-mass interval union; driver state is nil. */
object StreamingSubstrIngest {

  private val CovSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n_tokens", LongType),
    StructField("n_dup_tokens", LongType),
    StructField("n_kept_tokens", LongType)))
  private val CorpusSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def fs(s: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def committed(s: SparkSession, dir: String): Boolean =
    fs(s, dir).exists(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"))

  private def delete(s: SparkSession, dir: String): Unit =
    fs(s, dir).delete(new org.apache.hadoop.fs.Path(dir), true)

  /** The served coverage view: one row per ingested doc (doc_id,
    * n_tokens, n_dup_tokens, n_kept_tokens), all batches together. */
  def coverage(spark: SparkSession, covOut: String): DataFrame =
    LedgerIO.readOrEmpty(spark, covOut, CovSchema, recursive = true)

  /** foreachBatch body — probe, land, append, commit (in that order).
    * Replay-safe per `batchId` (see object scaladoc). */
  private[graft] def substrBatch(batch: DataFrame, batchId: Long,
      indexName: String, landedDir: String, covOut: String): Unit = {
    val s = batch.sparkSession
    val ledgerDir = s"${covOut}_ledger/b$batchId"
    if (committed(s, ledgerDir)) return // replay of a committed batch
    // scrub the batch's own partial outputs so the probe's corpus read
    // and the re-writes start clean
    delete(s, s"$landedDir/b$batchId")
    delete(s, s"$covOut/b$batchId")
    Pins.scope { pins =>
      val docs = pins.persist(batch.select("doc_id", "text"))
      val corpus = LedgerIO
        .readOrEmpty(s, landedDir, CorpusSchema, recursive = true)
        .select("doc_id", "text")
      SubstrIndex.probe(s, indexName, docs, corpus, excludeDelta = true)
        .write.mode("overwrite").parquet(s"$covOut/b$batchId")
      docs.write.mode("overwrite").parquet(s"$landedDir/b$batchId")
      SubstrIndex.append(docs, indexName)
      import s.implicits._
      Seq(batchId).toDF("batch_id")
        .write.mode("overwrite").parquet(ledgerDir)
    }
  }

  /** Wire a (doc_id, text, ...) stream through [[substrBatch]]. */
  def substrIngest(docs: DataFrame, indexName: String, landedDir: String,
      covOut: String, checkpoint: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        substrBatch(batch, batchId, indexName, landedDir, covOut)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
