package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Pins
import graft.text.TextSignals

/** Streaming document ingestion for the training-data pipeline: the
  * continuous counterpart of the batch quality gate (q31) + exact dedup
  * (q35) over an unbounded document feed.
  *
  * Shape: watermarked event-time stream → quality score (the SAME
  * TextSignals expressions the batch queries use — parity by shared
  * definition) → threshold filter → `dropDuplicatesWithinWatermark` on the
  * normalized content fingerprint.
  *
  * Scale posture: the quality gate is a narrow codegen'd map (no state);
  * dedup state is ONE (fingerprint → timestamp) entry per distinct doc
  * inside the watermark horizon — bounded by ingest rate × watermark, not
  * by stream lifetime (plain dropDuplicates would grow state forever).
  *
  * NEAR-dup (MinHash+LSH) dedup cannot live in streaming state — banding
  * needs cross-row joins that watermarked state can't express without
  * unbounded buffering — so [[nearDupIngest]] runs it as a foreachBatch
  * stage instead: each micro-batch joins against a persistent base
  * signature TABLE (bounded bytes per doc), reusing the exact q36/q62
  * batch building blocks. */
object StreamingDocIngest {

  /** quality-gate + watermark-bounded exact dedup over a stream of
    * (doc_id, text, ingest_ts). Output adds quality_score + fp. */
  def pipeline(docs: DataFrame, minQuality: Double = 1.0,
      watermark: String = "10 minutes"): DataFrame =
    build(docs, minQuality, watermark, observed = false)

  /** [[pipeline]] + per-micro-batch observability: input and quality-drop
    * counts piggyback on the pass the gate already makes via `observe`
    * (zero extra scans — the Audit.observed rationale, streaming edition)
    * and surface in every `StreamingQueryProgress.observedMetrics` under
    * "doc_ingest". A silent rise in the drop RATE is the production
    * incident signal for an upstream format change; watermark-dropped
    * late rows are already reported natively via
    * `progress.stateOperators.numRowsDroppedByWatermark`. */
  def observedPipeline(docs: DataFrame, minQuality: Double = 1.0,
      watermark: String = "10 minutes"): DataFrame =
    build(docs, minQuality, watermark, observed = true)

  private def build(docs: DataFrame, minQuality: Double,
      watermark: String, observed: Boolean): DataFrame = {
    val scored = docs.withWatermark("ingest_ts", watermark)
      .withColumn("quality_score", TextSignals.qualityScore(col("text")))
    val tapped =
      // n_quality_dropped counts the COMPLEMENT of what the gate keeps —
      // including NULL scores (null text): `score < min` would miss them,
      // under-reporting the drop rate the incident signal watches.
      if (observed) scored.observe("doc_ingest",
        count(lit(1)).as("n_in"),
        count(when(!(col("quality_score") >= minQuality) ||
          col("quality_score").isNull, 1)).as("n_quality_dropped"))
      else scored
    tapped.filter(col("quality_score") >= minQuality)
      .withColumn("fp", TextSignals.normalizedFingerprint(col("text")))
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Append the cleaned stream to a parquet zone (checkpointed,
    * backlog-drain trigger — the same posture as the other streaming
    * stages). */
  def writeDocs(clean: DataFrame, path: String, checkpoint: String): StreamingQuery =
    clean.writeStream
      .format("parquet")
      .option("path", path)
      .option("compression", "snappy")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  // ── Streaming near-duplicate (MinHash+LSH) dedup ─────────────────────

  /** Continuous near-dup dedup — the streaming counterpart of the q62
    * batch pipeline, composed from the SAME [[graft.dedup.DedupQueries]]
    * building blocks (signatures, banding, exact-Jaccard verification), so
    * batch⇄stream parity holds by shared definition. Per micro-batch:
    *  1. MinHash signatures + hashed 3-gram sets for the batch docs;
    *  2. LSH candidates WITHIN the batch (the guarded q36 self-join) and
    *     AGAINST the base signature table at `sigPath` — every doc seen so
    *     far, joined band-to-band (3 longs per band row, never documents);
    *  3. exact Jaccard verifies candidates only; a batch doc with a
    *     verified >= minJ witness (any earlier-arrived doc, or a lower-id
    *     doc within its own batch) is dropped;
    *  4. survivors append to `outPath`; ALL batch signatures+grams (kept
    *     AND dropped) append to `sigPath`.
    *
    * Persisting dropped docs' signatures makes the survivor set
    * micro-batch-boundary INVARIANT: a witness suppresses later dups
    * whether or not the witness itself survived, so one replay batch or
    * many yield the same survivors as the one-shot [[nearDupBatchTwin]]
    * (StreamingNearDupSpec pins this). Witness order is arrival order —
    * an in-order replay makes it doc_id order, matching the twin.
    *
    * Scale posture: signatures are K=16 longs + the gram-hash array per
    * doc; candidate generation shuffles (band_id, band_hash, doc_id)
    * triples; the base table grows with corpus lifetime and at 100 TB
    * lives bucketed by band/fingerprint (LakeCatalog.saveTable — the q70
    * base pattern). The parquet appends share writeDocs' at-least-once
    * recovery contract; an idempotent sink needs batchId-keyed commits. */
  def nearDupIngest(docs: DataFrame, outPath: String, sigPath: String,
      checkpoint: String, minJ: Double = 0.6): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dedupBatch(batch, outPath, sigPath, minJ)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[streaming] def dedupBatch(batch: DataFrame, outPath: String,
      sigPath: String, minJ: Double): Unit = {
    val (survivors, sigRows) = survivorsOf(batch, sigPath, minJ)
    // write survivors FIRST: it materializes every join above against the
    // base file listing pinned at read() time, before sigPath gains files
    survivors.write.mode("append").parquet(outPath)
    sigRows.write.mode("append").parquet(sigPath)
  }

  /** The near-dup survivor computation shared by [[dedupBatch]] and
    * [[indexedIngest]]: (survivor rows, this batch's signature rows).
    * Callers must materialize survivors BEFORE appending sigRows to
    * `sigPath` — the base listing is pinned at read() time. */
  private[streaming] def survivorsOf(batch: DataFrame, sigPath: String,
      minJ: Double): (DataFrame, DataFrame) = {
    import graft.dedup.DedupQueries
    val spark = batch.sparkSession
    val docs = batch.select("doc_id", "text")
    val grams = DedupQueries.hashedGramsOf(docs)
    val sigs = DedupQueries.signaturesOf(docs)
    // one persisted row per signature-bearing doc: signature + gram set
    val sigRows = sigs.join(grams.select("doc_id", "grams_h", "n_grams"), "doc_id")
    // explicit schema via LedgerIO: exists-but-fileless sigPath (crash
    // between mkdir and first part-file commit) reads as empty, no wedge
    val base = LedgerIO.readOrEmpty(spark, sigPath, sigRows.schema)

    val innerDrops = DedupQueries.verifyJaccard(
      DedupQueries.lshCandidatePairs(sigs), grams, minJ).select("doc_b")
    // base docs arrived earlier by construction: base is always the witness
    val crossPairs = DedupQueries.bandsOf(base)
      .withColumnRenamed("doc_id", "doc_a")
      .join(DedupQueries.bandsOf(sigs).withColumnRenamed("doc_id", "doc_b"),
        Seq("band_id", "band_hash"))
      .select("doc_a", "doc_b").distinct()
    val gramsAll = grams.select("doc_id", "grams_h", "n_grams")
      .unionByName(base.select("doc_id", "grams_h", "n_grams"))
    val crossDrops = DedupQueries.verifyJaccard(crossPairs, gramsAll, minJ)
      .select("doc_b")

    val dropped = innerDrops.unionByName(crossDrops).distinct()
      .withColumnRenamed("doc_b", "doc_id")
    (batch.join(dropped, Seq("doc_id"), "left_anti"), sigRows)
  }

  // ── Ingest + incremental index maintenance ───────────────────────────

  /** [[nearDupIngest]] extended with the daily-delta index upkeep the
    * persisted indexes need: each micro-batch's near-dup SURVIVORS are
    * absorbed into the BM25 postings index ([[graft.text.PostingsIndex.append]]
    * — delta-proportional appends + vocabulary-sized merges, never a
    * corpus rescan) and, when the stream carries an `embedding` column
    * and a vector index name is given, assigned to the FROZEN trained
    * quantizer and appended to the bucketed cells table
    * ([[graft.similarity.VectorIndex.append]]). Survivors are cached for
    * the duration of the batch: they feed the landing write plus every
    * index append without recomputing the LSH verification joins. */
  def indexedIngest(docs: DataFrame, outPath: String, sigPath: String,
      checkpoint: String, postingsRoot: String,
      vectorIndexName: Option[String] = None,
      setSimRoot: Option[String] = None,
      minJ: Double = 0.6): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        indexedBatch(batch, outPath, sigPath, postingsRoot,
          vectorIndexName, setSimRoot, minJ)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[graft] def indexedBatch(batch: DataFrame, outPath: String,
      sigPath: String, postingsRoot: String,
      vectorIndexName: Option[String], setSimRoot: Option[String],
      minJ: Double): Unit = {
    val (survivorsDf, sigRows) = survivorsOf(batch, sigPath, minJ)
    Pins.scope { pins =>
      val survivors = pins.persist(survivorsDf)
      survivors.write.mode("append").parquet(outPath)
      graft.text.PostingsIndex.buildOrAppend(
        survivors.select("doc_id", "text"), postingsRoot)
      // the vector index must already be BUILT (training is an explicit
      // VectorIndex.build decision, never an ingest side effect): a
      // missing table fails loudly here rather than training implicitly
      vectorIndexName.foreach { vn =>
        if (batch.columns.contains("embedding"))
          graft.similarity.VectorIndex.append(batch.sparkSession, vn,
            survivors.select(col("doc_id").as("vec_id"), col("embedding")))
      }
      // third persisted structure, same frozen-order posture as the
      // vector quantizer: the set-sim prefix index must already be BUILT
      // (the order freeze is a build-time decision); survivors append
      // under the frozen base-df order, delta-proportionally
      setSimRoot.foreach { root =>
        graft.dedup.SetSimIndex.append(batch.sparkSession, root,
          graft.dedup.DedupQueries.hashedGramsOf(
            survivors.select("doc_id", "text"))
            .select("doc_id", "grams_h", "n_grams"))
      }
      sigRows.write.mode("append").parquet(sigPath)
    }
  }

  /** One-shot batch computation with the identical survivor rule — drop
    * every doc with a lower-id LSH-verified >= minJ witness, kept or not —
    * for the batch⇄stream parity spec. (q62 continues past this point to
    * connected components; the ingest stage only needs the drop set.)
    * The internal signature/gram pins live in the caller's `pins`, so the
    * returned frame must be consumed inside that scope. */
  def nearDupBatchTwin(pins: Pins, docs: DataFrame,
      minJ: Double = 0.6): DataFrame = {
    import graft.dedup.DedupQueries
    val d = docs.select("doc_id", "text")
    // PIN the signature and gram frames (batch-only API — callers are
    // CorpusCurate and specs): the band self-join inside
    // lshCandidatePairs consumes the signatures twice and verifyJaccard
    // consumes the gram sets twice; unpinned, each side replayed the
    // full shingle pass over `docs`' lineage.
    val sigs = pins.persist(DedupQueries.signaturesOf(d))
    val grams = pins.persist(DedupQueries.hashedGramsOf(d))
    val dropped = DedupQueries.verifyJaccard(
      DedupQueries.lshCandidatePairs(sigs), grams, minJ)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(dropped, Seq("doc_id"), "left_anti")
  }
}
