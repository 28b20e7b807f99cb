package graft.streaming

import org.apache.datasketches.theta.SetOperation

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.functions.ThetaSketch
import graft.text.TextSignals

/** Per-source per-batch novelty snapshot: of `n_batch` distinct
  * fingerprints that arrived this micro-batch, `n_new` had NEVER been
  * seen by this source before; `n_total` is the lifetime distinct count.
  * All three are exact below the sketch's nominal entries, ~1/sqrt(k)
  * estimates past it. */
final case class SourceNovelty(source: String, n_batch: Long, n_new: Long,
    n_total: Long)

/** Streaming novelty monitor — the continuous twin of the q154 theta
  * overlap matrix, and the set-algebra sibling of [[StreamingQuantiles]]:
  * one theta sketch per source carried in `mapGroupsWithState` state,
  * each micro-batch sketched and DIFFED against it (a-not-b) before
  * being unioned in. The production use is ingest observability: a
  * crawler re-fetching yesterday's pages shows n_new collapsing toward
  * zero while n_batch stays high — the duplication signal BEFORE the
  * dedup pipeline spends a shuffle on the batch — and a source whose
  * n_new jumps changed its upstream feed.
  *
  * Why a sketch in state and not `dropDuplicates` + counters: exact
  * streaming novelty needs every fingerprint ever seen retained in
  * state (unbounded, the StreamingDocIngest.nearDupIngest cost, paid
  * there because dedup must EMIT the survivors); a monitor only needs
  * the COUNT, and the theta blob answers it in a few KB per source
  * FOREVER — state bounded by |sources| × sketch size, not stream
  * length. The serialized state is the same ordered-compact blob format
  * as the batch aggregate's (`graft_theta_agg`), so checkpointed monitor
  * state unions with batch rollup blobs via `graft_theta_union` — one
  * artifact family across batch and streaming.
  *
  * Exactness: theta set ops over exact-regime sketches are exact, and
  * theta serialization is canonical (no randomized compaction), so
  * stream == batch parity below nominal entries is parity of the whole
  * state round-trip (StreamingNoveltySpec pins it, plus the estimation
  * regime's error band). No timeout by default, same rationale as
  * [[StreamingQuantiles]]: silently evicted monitoring state reads as a
  * novelty cliff on the dashboard.
  */
object StreamingNovelty {

  /** The q93/q154 fingerprint projection: md5 of the doc's first 15
    * whitespace tokens. Input needs `source` and `text`; output feeds
    * [[monitor]]. */
  def fingerprints(docs: DataFrame): DataFrame = {
    val toks = TextSignals.words(col("text"))
    docs.select(col("source"),
      md5(array_join(slice(toks, 1, 15), " ")).as("fp"))
  }

  /** `keys` needs `source: string` and `fp: string`. Emits update-mode
    * snapshots; pair with a sink that upserts per source. */
  def monitor(keys: DataFrame, nomEntries: Int = 4096): Dataset[SourceNovelty] = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.select(col("source"), col("fp").cast("string"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (source: String, rows: Iterator[(String, String)],
         state: GroupState[Array[Byte]]) => {
          val batch = ThetaSketch.newUnion(nomEntries)
          // hash the UTF-8 bytes explicitly — the exact input form
          // ThetaSketchAgg uses, so monitor state blobs union with batch
          // rollup blobs as the SAME item space
          rows.foreach(r => batch.update(
            r._2.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          val batchSk = batch.getResult
          val nBatch = math.round(batchSk.getEstimate)
          if (state.exists) {
            val prev = ThetaSketch.heapify(state.get)
            val novel = SetOperation.builder().buildANotB()
              .aNotB(batchSk, prev)
            val total = ThetaSketch.newUnion(nomEntries)
            total.union(prev)
            total.union(batchSk)
            val totalSk = total.getResult
            state.update(totalSk.toByteArray)
            SourceNovelty(source, nBatch, math.round(novel.getEstimate),
              math.round(totalSk.getEstimate))
          } else {
            state.update(batchSk.toByteArray)
            SourceNovelty(source, nBatch, nBatch, nBatch)
          }
        })
  }
}
