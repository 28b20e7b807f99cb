package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pins
import graft.streaming.StreamingDocIngest
import graft.text.TextSignals

/** End-to-end training-data curation — the corpus counterpart of the
  * payments [[Runner]]: one composed call from raw documents to a
  * shard-assigned curated corpus plus a per-stage manifest.
  *
  * Stages, each an already-proven catalog component (parity by shared
  * definition, not re-implementation):
  *  1. quality gate — [[TextSignals.qualityScore]] (q31 / streaming gate);
  *  2. exact dedup — normalized fingerprint, earliest doc wins (q35/q07
  *     window rule);
  *  3. near-dup dedup — MinHash+LSH candidates + exact-Jaccard verify via
  *     [[StreamingDocIngest.nearDupBatchTwin]] (the q36/q62 blocks);
  *  4. OPTIONAL containment dedup — asymmetric shingle containment
  *     ([[graft.dedup.DedupQueries.containmentDrops]], the q95 shapes):
  *     drops quotes/near-subsets Jaccard cannot see, keeping the host;
  *  5. OPTIONAL semantic dedup — trained-IVF cells + within-cell cosine,
  *     keep-earliest ([[graft.similarity.SimilarityQueries.semanticAssign]]/
  *     `dominatedIn`, the q74 shapes) over an aligned embeddings frame;
  *  6. shard packing — per-source cumulative token budget (q66 rule).
  *
  * The pipeline is IDEMPOTENT (CorpusCurateSpec pins it, including with
  * both optional stages on): re-running on its own output drops nothing —
  * survivors all pass the gate, own unique fingerprints, and are pairwise
  * non-qualifying under each stage's survivor rule (any qualifying pair
  * would already have dropped one member).
  *
  * Scale posture: every stage is a catalog-audited shape (narrow gate,
  * one fp-keyed window, LSH band shuffles + candidate-only verify, one
  * source-keyed window); the driver actions are the manifest COUNTS — no
  * row ever reaches the driver. Each survivor generation (exact,
  * near-dup, and the optional containment/semantic stages) is PINNED in
  * the caller's [[graft.Pins]] scope (lazy `persist` — the first count
  * materializes the cache, every later stage reads it) because each has
  * several consumers (counts, the next stage's multiple scans, the stats
  * aggregate) — unpinned, the heavy LSH+verify stage replayed once per
  * downstream action. The scope holds at most 4 generations of
  * curated-scale text until it exits. At 100 TB swap the pins for zone
  * writes, exactly as Runner stages through zones. */
object CorpusCurate {

  final case class Manifest(
      inputDocs: Long,
      qualityDropped: Long,
      exactDupDropped: Long,
      nearDupDropped: Long,
      containmentDropped: Long,
      semanticDropped: Long,
      keptDocs: Long,
      keptTokens: Long,
      shards: Long) {
    require(inputDocs == qualityDropped + exactDupDropped + nearDupDropped +
      containmentDropped + semanticDropped + keptDocs,
      s"manifest does not partition the input: $this")

    /** The manifest's JSON fields, in declaration order. */
    def fields: Seq[(String, Long)] = Seq("input_docs" -> inputDocs,
      "quality_dropped" -> qualityDropped, "exact_dup_dropped" -> exactDupDropped,
      "near_dup_dropped" -> nearDupDropped,
      "containment_dropped" -> containmentDropped,
      "semantic_dropped" -> semanticDropped, "kept_docs" -> keptDocs,
      "kept_tokens" -> keptTokens, "shards" -> shards)
  }

  /** One flat JSON object of counts — the manifest artifact both curation
    * CLIs write. */
  private[graft] def manifestJson(fields: Seq[(String, Long)]): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** Curate `docs` (doc_id, source, text, ...) → (curated frame with
    * quality_score/fp/n_tokens/shard_id columns, per-stage manifest).
    *
    * `containmentTau = Some(tau)` switches on the q95 containment stage;
    * `semantic = Some((embeddings, tau))` switches on the q74 semantic
    * stage, where `embeddings` is a (vec_id, embedding) frame whose ids
    * align with doc_ids (docs without an embedding pass through — the
    * stage can only judge what the encoder embedded).
    *
    * Every internal pin lives in `pins`: the returned frame reads them,
    * so it must be consumed inside the caller's `Pins.scope`. */
  def run(pins: Pins, docs: DataFrame, minQuality: Double = 1.0,
      minJ: Double = 0.6, shardTokens: Long = 2048L,
      containmentTau: Option[Double] = None,
      semantic: Option[(DataFrame, Double)] = None): (DataFrame, Manifest) = {
    require(shardTokens > 0, s"shardTokens must be positive, got $shardTokens")
    // n0/n1 RIDE the exact-dedup pass via observe() (r15, guide §2.4):
    // the head aggregate previously scanned `docs` (and evaluated the
    // quality score) once more before the pinned pass — CollectMetrics
    // sits below the fp window, so every pre-gate row is counted by the
    // same job that materializes the pin. The metrics latch on the first
    // completed execution (exact.count), so later cache-miss recomputes
    // cannot double-count.
    val headObs = new org.apache.spark.sql.Observation()
    val gated = docs
      .withColumn("quality_score", TextSignals.qualityScore(col("text")))
      .observe(headObs, count(lit(1)).as("n0"),
        count(when(col("quality_score") >= minQuality, 1)).as("n1"))
      .filter(col("quality_score") >= minQuality)

    // PIN the exact-dedup survivors: consumed by the n2 count, by THREE
    // scans inside nearDupBatchTwin (signatures, hashed grams, anti-join
    // left side) and transitively by every later stage — unpinned, each
    // of those replayed quality gate + fp window from the source. Text
    // at this point is curated-scale (html already dropped upstream).
    val exact = pins.persist(gated
      .withColumn("fp", TextSignals.normalizedFingerprint(col("text")))
      .withColumn("__rn",
        row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("__rn") === 1).drop("__rn"))
    val n2 = exact.count()
    val headRow = headObs.get // latched by the count above
    val n0 = headRow("n0").asInstanceOf[Long]
    val n1 = headRow("n1").asInstanceOf[Long]

    // PIN the near-dup survivors: consumed by the n3 count, the optional
    // stages, the shard window AND the stats aggregate — unpinned, the
    // full LSH-candidates + exact-verify pipeline re-ran once per
    // downstream action (the r14 bench measured 3-4 replays per call).
    val near = pins.persist(
      StreamingDocIngest.nearDupBatchTwin(pins, exact, minJ))
    val n3 = near.count()

    // When an optional stage is OFF its frame IS the previous one —
    // recounting an identical frame buys nothing, so the count is reused.
    val (contained, n4) = containmentTau match {
      case Some(tau) =>
        val c = pins.persist(near.join(graft.dedup.DedupQueries.containmentDrops(
          near.select("doc_id", "text"), tau), Seq("doc_id"), "left_anti"))
        (c, c.count())
      case None => (near, n3)
    }

    val (semantically, n5) = semantic match {
      case Some((emb, tau)) =>
        import graft.similarity.SimilarityQueries
        // Train + assign over the FULL caller-provided embeddings frame,
        // then restrict the within-cell pair search to docs still alive.
        // Training on the full frame (not the survivors) is what makes
        // the stage IDEMPOTENT: a re-run sees the same quantizer, so the
        // surviving vectors keep their cells and every qualifying pair
        // already lost a member — training on survivors would re-carve
        // the cells each run and surface new cross-cell pairs forever.
        val assigned = SimilarityQueries.semanticAssign(emb)
        val alive = assigned.join(
          contained.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        val drops = SimilarityQueries.dominatedIn(alive, tau)
          .select(col("vec_id").as("doc_id"))
        val sdf = pins.persist(contained.join(drops, Seq("doc_id"), "left_anti"))
        (sdf, sdf.count())
      case None => (contained, n4)
    }

    val wSrc = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val curated = semantically
      .withColumn("n_tokens", TextSignals.nTokens(col("text")).cast("long"))
      .withColumn("__cum", sum(col("n_tokens")).over(wSrc))
      // q66 rule: a doc belongs to the shard its cumulative sum CLOSES in
      .withColumn("shard_id", expr(s"(__cum - 1) div ${shardTokens}L"))
      .drop("__cum")

    val stats = curated.agg(
      coalesce(sum(col("n_tokens")), lit(0L)).as("toks"),
      countDistinct(col("source"), col("shard_id")).as("shards")).collect()(0)

    val manifest = Manifest(
      inputDocs = n0,
      qualityDropped = n0 - n1,
      exactDupDropped = n1 - n2,
      nearDupDropped = n2 - n3,
      containmentDropped = n3 - n4,
      semanticDropped = n4 - n5,
      keptDocs = n5,
      keptTokens = stats.getLong(0),
      shards = stats.getLong(1))
    (curated, manifest)
  }

  /** CLI: `runMain graft.pipeline.CorpusCurate <docsParquetDir> <outRoot>` —
    * curates, lands the shard-assigned corpus at `<outRoot>/curated`, and
    * writes the manifest as a JobStatus-style JSON artifact beside it. */
  def main(args: Array[String]): Unit = {
    val Array(inDir, outRoot) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-corpus-curate")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val m = Pins.scope { pins =>
        val (curated, m) = run(pins, spark.read.parquet(inDir))
        curated.write.mode("overwrite")
          .option("compression", "snappy").parquet(s"$outRoot/curated")
        m
      }
      val json = manifestJson(m.fields)
      JobStatus.writeText(spark, s"$outRoot/manifest.json", json)
      println(s"CORPUS_CURATE_OK $json")
    } finally spark.stop()
  }
}
