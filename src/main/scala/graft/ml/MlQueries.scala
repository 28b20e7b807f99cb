package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analytics.QueryDef
import graft.analytics.Ops.t
import graft.functions.{DetMath, DetMathSql}
import graft.text.TextSignals

/** Distributed training of a tiny quality/routing classifier — gradient
  * descent expressed as aggregation, the dataflow every data-parallel
  * trainer (MLlib's LBFGS/GD included) runs under the hood: per-row
  * gradient terms are a narrow projection, the full-batch gradient is one
  * hash-free global aggregate, and the d+1 weights live on the driver
  * between steps (the q71 k-means posture: driver state is O(model),
  * never O(data); each step is one scan, no joins, no windows, no
  * shuffles beyond the single-stage agg).
  *
  * Cross-engine exactness (the reason a TRAINING loop can be hash-gated
  * at all): per-row gradient terms round to integer micro-units before
  * summation (the q77 log-prob pattern) — sums are BIGINT, so partition
  * count, merge order, and row order can never drift a ulp; every other
  * step op (divide by 1e6, by n, scale by lr, subtract) is identical
  * IEEE arithmetic on identical inputs, so the DuckDB oracle unrolling
  * the same three steps lands on bit-identical weights. The only shared
  * float risk is EXP differing at a rounding knife-edge, the same
  * accepted residual as q77's LN.
  *
  * At 100 TB: one scan per step over a narrow projection — the map-side
  * combiner reduces each partition to d+1 longs, so the agg moves
  * O(partitions × d) values, not data. Minibatch/sampled variants (q51's
  * hash-sample as the batch selector) change the filter, not the shape.
  */
object MlQueries {

  /** Full-batch GD for binary logistic regression: returns the weight
    * vector (bias :: xs) after `steps` steps from zero init. `feats`
    * must expose the feature columns `xs` and the 0/1 DOUBLE label `y`.
    * Each step: z = w·x (fixed fold order), p = sigmoid(z), gradient
    * terms (p − y)·x_j in exact micro-units, w_j ← w_j − lr·(ĝ_j)/n. */
  def trainLogReg(feats: DataFrame, xs: Seq[Column], y: Column,
      lr: Double, steps: Int): Array[Double] = {
    val n = feats.count().toDouble
    require(n > 0, "cannot train on an empty dataset")
    var w = Array.fill(xs.size + 1)(0.0)
    for (_ <- 1 to steps) {
      val z = xs.zipWithIndex.foldLeft(lit(w(0)): Column) {
        case (acc, (x, j)) => acc + lit(w(j + 1)) * x
      }
      val p = DetMath.detSigmoid(z) // bit-identical cross-engine (detExp)
      val terms = (lit(1.0) +: xs).zipWithIndex.map { case (x, j) =>
        sum(round((p - y) * x * lit(1e6)).cast("long")).as(s"g$j")
      }
      val g = feats.agg(terms.head, terms.tail: _*).first()
      w = Array.tabulate(w.length)(j => w(j) - lr * (g.getLong(j) / 1e6) / n)
    }
    w
  }

  /** The q116/q117 feature projection — engine-portable length arithmetic
    * only (the q30 pattern), shared by train and score so the serving
    * path can never skew from the training path. */
  private[ml] def langFeatures(docs: DataFrame): DataFrame = {
    val text = col("text")
    docs.select(
      col("doc_id"),
      (col("n_chars").cast("double") / lit(1000.0)).as("x1"),
      (TextSignals.nTokens(text).cast("double") / lit(100.0)).as("x2"),
      (TextSignals.stopwordHits(text) / lit(10.0)).as("x3"),
      when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"))
  }

  private val Lr = 0.5
  private val Steps = 3

  /** Catalog-stable feature names for the q116 model — the schema of the
    * persisted weight vector ([[ModelStore]]) and of q116's result. */
  private[ml] val FeatureNames =
    Seq("bias", "x1_kchars", "x2_tokens", "x3_stop")

  private[ml] def trainOn(docs: DataFrame): Array[Double] =
    trainLogReg(langFeatures(docs),
      Seq(col("x1"), col("x2"), col("x3")), col("y"), Lr, Steps)

  /** The q117 serving stage, shared verbatim by the inline (q117),
    * persisted-model (q120) and STREAMING (StreamingScore) paths:
    * model-as-literals narrow projection, micro-unit-rounded display
    * score. Stateless, so it applies to a streaming DataFrame unchanged
    * — parity across all three paths is by shared definition. */
  private[graft] def scoreWith(docs: DataFrame, w: Array[Double]): DataFrame = {
    val f = langFeatures(docs)
    val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3")
    val p = DetMath.detSigmoid(z)
    f.select(col("doc_id"),
      (round(p * lit(1e6)) / lit(1e6)).as("p_en"),
      (p >= 0.5).cast("long").as("pred_en"),
      col("y").cast("long").as("is_en"))
  }

  /** Shared oracle CTE prefix: features + three unrolled GD steps. */
  private val OracleSteps = s"""
      WITH f AS (
        SELECT doc_id,
          CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
          CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
            / 100.0 AS x2,
          (CAST(len(regexp_extract_all(text, '\\bthe\\b')) AS DOUBLE)
           + CAST(len(regexp_extract_all(text, '\\ba\\b')) AS DOUBLE)
           + CAST(len(regexp_extract_all(text, '\\band\\b')) AS DOUBLE)
           + CAST(len(regexp_extract_all(text, '\\bof\\b')) AS DOUBLE))
            / 10.0 AS x3,
          CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
               ELSE CAST(0.0 AS DOUBLE) END AS y
        FROM documents),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
      g1 AS (SELECT
          SUM(CAST(ROUND((0.5 - y) * 1.0 * 1000000.0) AS BIGINT)) AS g0,
          SUM(CAST(ROUND((0.5 - y) * x1 * 1000000.0) AS BIGINT)) AS g1,
          SUM(CAST(ROUND((0.5 - y) * x2 * 1000000.0) AS BIGINT)) AS g2,
          SUM(CAST(ROUND((0.5 - y) * x3 * 1000000.0) AS BIGINT)) AS g3
        FROM f),
      w1 AS (SELECT
          0.0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000.0) / nn.n AS w0,
          0.0 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000.0) / nn.n AS w1,
          0.0 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000.0) / nn.n AS w2,
          0.0 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000.0) / nn.n AS w3
        FROM g1, nn),
      p2z AS (SELECT f.*,
          -(w1.w0 + w1.w1 * x1 + w1.w2 * x2 + w1.w3 * x3) AS mz
        FROM f, w1),
      p2k AS (SELECT *, ${DetMathSql.expK("mz")} AS ek FROM p2z),
      p2r AS (SELECT *, ${DetMathSql.expR("mz", "ek")} AS er,
          ${DetMathSql.expK1("ek")} AS ek1 FROM p2k),
      p2q AS (SELECT *, ek - ek1 AS ek2, ${DetMathSql.expPoly("er")} AS ep
        FROM p2r),
      p2 AS (SELECT doc_id, x1, x2, x3, y,
          1.0 / (1.0 + ${DetMathSql.expScale(DetMathSql.expScale("ep", "ek1"), "ek2")})
            AS p
        FROM p2q),
      g2 AS (SELECT
          SUM(CAST(ROUND((p - y) * 1.0 * 1000000.0) AS BIGINT)) AS g0,
          SUM(CAST(ROUND((p - y) * x1 * 1000000.0) AS BIGINT)) AS g1,
          SUM(CAST(ROUND((p - y) * x2 * 1000000.0) AS BIGINT)) AS g2,
          SUM(CAST(ROUND((p - y) * x3 * 1000000.0) AS BIGINT)) AS g3
        FROM p2),
      w2 AS (SELECT
          w1.w0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000.0) / nn.n AS w0,
          w1.w1 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000.0) / nn.n AS w1,
          w1.w2 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000.0) / nn.n AS w2,
          w1.w3 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000.0) / nn.n AS w3
        FROM g2, w1, nn),
      p3z AS (SELECT f.*,
          -(w2.w0 + w2.w1 * x1 + w2.w2 * x2 + w2.w3 * x3) AS mz
        FROM f, w2),
      p3k AS (SELECT *, ${DetMathSql.expK("mz")} AS ek FROM p3z),
      p3r AS (SELECT *, ${DetMathSql.expR("mz", "ek")} AS er,
          ${DetMathSql.expK1("ek")} AS ek1 FROM p3k),
      p3q AS (SELECT *, ek - ek1 AS ek2, ${DetMathSql.expPoly("er")} AS ep
        FROM p3r),
      p3 AS (SELECT doc_id, x1, x2, x3, y,
          1.0 / (1.0 + ${DetMathSql.expScale(DetMathSql.expScale("ep", "ek1"), "ek2")})
            AS p
        FROM p3q),
      g3 AS (SELECT
          SUM(CAST(ROUND((p - y) * 1.0 * 1000000.0) AS BIGINT)) AS g0,
          SUM(CAST(ROUND((p - y) * x1 * 1000000.0) AS BIGINT)) AS g1,
          SUM(CAST(ROUND((p - y) * x2 * 1000000.0) AS BIGINT)) AS g2,
          SUM(CAST(ROUND((p - y) * x3 * 1000000.0) AS BIGINT)) AS g3
        FROM p3),
      w3 AS (SELECT
          w2.w0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000.0) / nn.n AS w0,
          w2.w1 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000.0) / nn.n AS w1,
          w2.w2 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000.0) / nn.n AS w2,
          w2.w3 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000.0) / nn.n AS w3
        FROM g3, w2, nn),
      scz AS (SELECT f.*,
          (w3.w0 + w3.w1 * x1 + w3.w2 * x2 + w3.w3 * x3) AS z
        FROM f, w3),
      sck AS (SELECT *, ${DetMathSql.expK("-(z)")} AS ek FROM scz),
      scr AS (SELECT *, ${DetMathSql.expR("-(z)", "ek")} AS er,
          ${DetMathSql.expK1("ek")} AS ek1 FROM sck),
      scq AS (SELECT *, ek - ek1 AS ek2, ${DetMathSql.expPoly("er")} AS ep
        FROM scr),
      sc AS (SELECT doc_id, x1, x2, x3, y, z,
          1.0 / (1.0 + ${DetMathSql.expScale(DetMathSql.expScale("ep", "ek1"), "ek2")})
            AS p
        FROM scq)"""

  /** The q180 test-stage prediction-set construction, shared VERBATIM by
    * the streaming serving path ([[graft.streaming.StreamingScore]]
    * serveConformal) — batch/stream parity by one definition, the
    * scoreWith pattern. Input: (doc_id, p_u BIGINT micro-score, is_en);
    * `qhatCol` is the broadcast micro-unit conformal threshold. Two
    * integer compares per row, stateless. */
  private[graft] def conformalSets(scored: DataFrame,
      qhatCol: Column): DataFrame =
    scored.select(col("doc_id"),
      (col("p_u").cast("double") / lit(1e6)).as("p_en"),
      qhatCol.as("qhat_u"),
      ((lit(1000000L) - col("p_u") <= qhatCol).cast("long") +
        (col("p_u") <= qhatCol).cast("long")).as("set_size"),
      when(col("is_en") === 1,
        (lit(1000000L) - col("p_u") <= qhatCol).cast("long"))
        .otherwise((col("p_u") <= qhatCol).cast("long")).as("covered"))

  /** The q176/q191 one-pass feature histogram: the q116 feature trio as
    * raw integers, binned into 16 exact-integer bins (v·16 div cap,
    * clamped; caps corpus-calibrated), ONE map-side-combined
    * (feature, bin) agg of (n, pos) over a bounded 3× literal fan-out.
    * The data is touched once; every downstream criterion (Gini split
    * search, mutual information) runs on ≤ 48 metadata rows. */
  private[ml] def stumpHistogram(docs: DataFrame): DataFrame = {
    val feats = docs.select(
      col("n_chars").cast("long").as("f_chars"),
      TextSignals.nTokens(col("text")).cast("long").as("f_tokens"),
      TextSignals.stopwordHits(col("text")).cast("long").as("f_stop"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    feats.select(col("y"), explode(array(
        struct(lit("f_chars").as("feature"), col("f_chars").as("v"),
          lit(600L).as("cap")),
        struct(lit("f_tokens").as("feature"), col("f_tokens").as("v"),
          lit(100L).as("cap")),
        struct(lit("f_stop").as("feature"), col("f_stop").as("v"),
          lit(12L).as("cap")))).as("fv"))
      .select(col("fv.feature").as("feature"),
        least(lit(15L), expr("fv.v * 16 div fv.cap")).as("bin"), col("y"))
      .groupBy("feature", "bin").agg(
        count(lit(1)).as("n"), sum(col("y")).as("pos"))
  }

  /** q163's hashed-bucket token projection: one row per token occurrence
    * with its 256-way md5 bucket, every non-text input column preserved
    * (so split/class flags ride through the explode). */
  private[graft] def nbTokens(docs: DataFrame): DataFrame =
    docs.withColumn("tok", explode(TextSignals.words(col("text"))))
      .withColumn("b",
        conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("long"))
      .drop("text", "tok")

  /** q163's 256-row class-count model over a token projection. NB models
    * MERGE BY ADDITION — counts over disjoint slices sum to the counts
    * over their union (MlQueriesSpec pins it), which is what makes NB
    * retraining on a delta a delta-sized job at 100 TB (the mergeable-
    * partial property the sketch families share). */
  private[graft] def nbCounts(toks: DataFrame): DataFrame =
    bucketSpine(toks.groupBy("b").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_en"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("c_ot")))

  /** Explicit 256-bucket spine over a (b, c_en, c_ot) count frame (q153's
    * trick): buckets absent from a slice still appear with zero counts,
    * so models ALIGN for merging and no scoring token can fall out of
    * the join. Shared by [[nbCounts]] and q182's pre-agg-derived model —
    * one definition, no drift. */
  private[graft] def bucketSpine(cb: DataFrame): DataFrame =
    cb.sparkSession.range(0, 256).select(col("id").as("b"))
      .join(cb, Seq("b"), "left_outer")
      .select(col("b"), coalesce(col("c_en"), lit(0L)).as("c_en"),
        coalesce(col("c_ot"), lit(0L)).as("c_ot"))

  val defs: Seq[QueryDef] = Seq(

    // ── Distributed classifier training (GD as aggregation) ───────────
    // Trains a lang-id router head (predict lang='en' from three
    // portable text statistics) with three full-batch GD steps. On this
    // corpus the target is deliberately unlearnable (the generator draws
    // lang i.i.d. of text, MlQueriesSpec documents majority as the Bayes
    // optimum) — the catalog artifact is the training DATAFLOW. The
    // catalog-visible artifact is the MODEL (one row per weight): the
    // thing a training pipeline persists and ships. Oracle unrolls the
    // identical three steps in SQL — micro-unit gradients make the
    // weights bit-comparable, so the hash gate covers the whole training
    // dataflow, not a summary of it.
    QueryDef("q116_logreg_train", (s, d) => {
      val w = trainOn(t(s, d, "documents"))
      import s.implicits._
      FeatureNames.zip(w).toDF("feature", "weight")
    }, Some(OracleSteps + """
      SELECT 'bias' AS feature, w0 AS weight FROM w3
      UNION ALL SELECT 'x1_kchars', w1 FROM w3
      UNION ALL SELECT 'x2_tokens', w2 FROM w3
      UNION ALL SELECT 'x3_stop', w3 FROM w3"""),
      notes = "full-batch logistic-regression training as one aggregate per step (micro-unit exact gradients, driver holds d+1 doubles): oracle unrolls the same 3 steps in SQL; weights bit-comparable"),

    // ── Model inference (the serving twin of q116) ─────────────────────
    // Scores every document with the just-trained weights — train and
    // score share langFeatures, so this is the full train→serve loop
    // under one hash gate. Inference is a pure narrow projection (no
    // joins, no shuffle: the model broadcasts as literals), which is
    // exactly how a scoring pass over 100 TB should look. Score rounds
    // to micro-units on BOTH sides so the per-row EXP sits behind the
    // same knife-edge guard as training.
    QueryDef("q117_logreg_score", (s, d) => {
      val docs = t(s, d, "documents")
      scoreWith(docs, trainOn(docs))
    }, Some(OracleSteps + """,
      scored AS (SELECT doc_id, p, CAST(y AS BIGINT) AS is_en FROM sc)
      SELECT doc_id, ROUND(p * 1000000.0) / 1000000.0 AS p_en,
        CAST(p >= 0.5 AS BIGINT) AS pred_en, is_en
      FROM scored"""),
      notes = "per-doc inference with the q116 weights (shared feature projection): narrow model-as-literals projection, the 100 TB scoring shape; micro-unit-rounded scores hash-gated"),

    // ── Serving from the persisted model (the production path) ─────────
    // q117 retrains inside every invocation — correct for the hash gate
    // but it mismeasures serving, the exact q42b-vs-q105 distinction: at
    // scale training is paid once and scoring reads d+1 stored doubles.
    // This query loads the ModelStore weights (built once per corpus via
    // the ensure/marker pattern) and runs the SAME scoreWith stage.
    // DOUBLE round-trips parquet bit-exactly and training is
    // partitioning-invariant (micro-unit sums), so stored == inline to
    // the bit and q117's oracle gates this query unchanged — a persisted
    // serving path under a full hash gate.
    QueryDef("q120_logreg_stored", (s, d) => {
      val root = ModelStore.ensureLogReg(s, d)
      val (_, w) = ModelStore.load(s, root)
      scoreWith(t(s, d, "documents"), w)
    }, Some(OracleSteps + """,
      scored AS (SELECT doc_id, p, CAST(y AS BIGINT) AS is_en FROM sc)
      SELECT doc_id, ROUND(p * 1000000.0) / 1000000.0 AS p_en,
        CAST(p >= 0.5 AS BIGINT) AS pred_en, is_en
      FROM scored"""),
      notes = "q117's scoring served from the persisted ModelStore weights (train amortized via the ensure/marker pattern): stored DOUBLEs round-trip bit-exactly, so the same oracle hash-gates the persisted serving path"),

    // ── Model evaluation: confusion matrix + exact AUC, window-free ────
    // The missing third of the train→serve→EVALUATE loop: one row of
    // release-gate metrics for the q116 model. AUC comes from the
    // Mann-Whitney rank form — AUC = (Σ ranks of positives − P(P+1)/2)
    // / (P·N) — which needs each row's GLOBAL rank by score: the naive
    // row_number() OVER (ORDER BY score) is an Exchange SinglePartition,
    // so ranks come from GlobalOrder.withRowNumbers instead (the
    // q88/q144 shape). Ranking key is the MICRO-UNIT score as BIGINT
    // with doc_id tiebreak: deterministic, identical cross-engine (the
    // per-row EXP knife edge sits behind the same micro rounding as
    // q117), and the declared semantics are tie-broken ranks — the
    // oracle evaluates the identical ordering, so midrank-vs-tiebreak
    // ambiguity never enters the gate. Everything else is one exact
    // integer aggregate; the two divisions happen in DOUBLE at the end.
    QueryDef("q147_model_eval", (s, d) => {
      val docs = t(s, d, "documents")
      // PINNED (r15): GlobalOrder's base and offsets branches prune the
      // range exchange's input differently, which defeats exchange reuse
      // and re-ran the whole feature projection per branch (documents x3
      // in the before-plan); the checkpoint holds one narrow doc-sized
      // row (doc_id, sm, pred_en, is_en) per doc.
      val scored = scoreWith(docs, trainOn(docs))
        .select(col("doc_id"),
          round(col("p_en") * 1e6).cast("long").as("sm"),
          col("pred_en"), col("is_en"))
        .localCheckpoint(true)
      val ranked = graft.operators.GlobalOrder.withRowNumbers(
        scored, Seq(col("sm").asc, col("doc_id").asc), out = "r")
      ranked.agg(
          count(lit(1)).as("n"),
          sum(col("is_en")).as("n_pos"),
          sum(when(col("pred_en") === 1 && col("is_en") === 1, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("pred_en") === 1 && col("is_en") === 0, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("pred_en") === 0 && col("is_en") === 0, 1L)
            .otherwise(0L)).as("tn"),
          sum(when(col("pred_en") === 0 && col("is_en") === 1, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("is_en") === 1, col("r")).otherwise(0L))
            .as("rank_pos_sum"))
        .select(col("n"), col("n_pos"), col("tp"), col("fp"), col("tn"),
          col("fn"),
          round((col("tp") + col("tn")).cast("double") / col("n"), 6)
            .as("accuracy"),
          round((col("rank_pos_sum").cast("double") -
            col("n_pos").cast("double") * (col("n_pos") + 1) / 2) /
            (col("n_pos").cast("double") * (col("n") - col("n_pos"))), 6)
            .as("auc"))
    }, Some(OracleSteps + """,
      scored AS (SELECT doc_id,
          CAST(ROUND(p * 1000000.0) AS BIGINT) AS sm,
          CAST(p >= 0.5 AS BIGINT) AS pred_en,
          CAST(y AS BIGINT) AS is_en
        FROM sc),
      ranked AS (SELECT *,
          row_number() OVER (ORDER BY sm ASC, doc_id ASC) AS r
        FROM scored)
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(is_en) AS BIGINT) AS n_pos,
        CAST(SUM(CASE WHEN pred_en = 1 AND is_en = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN pred_en = 1 AND is_en = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN pred_en = 0 AND is_en = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS tn,
        CAST(SUM(CASE WHEN pred_en = 0 AND is_en = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS fn,
        round(CAST(SUM(CASE WHEN pred_en = is_en THEN 1 ELSE 0 END)
          AS DOUBLE) / COUNT(*), 6) AS accuracy,
        round((CAST(SUM(CASE WHEN is_en = 1 THEN r ELSE 0 END) AS DOUBLE)
          - CAST(SUM(is_en) AS DOUBLE) * (SUM(is_en) + 1) / 2)
          / (CAST(SUM(is_en) AS DOUBLE) * (COUNT(*) - SUM(is_en))), 6)
          AS auc
      FROM ranked"""),
      notes = "confusion matrix + Mann-Whitney AUC in one aggregate over GlobalOrder ranks (no single-partition score sort); micro-unit BIGINT rank key with doc_id tiebreak — declared tie-broken semantics shared with the oracle"),

    // ── Calibration / reliability table (the q147 companion) ───────────
    // Per RANK-decile mean predicted probability vs observed positive
    // rate — decile calibration, the reliability readout a release gate
    // reads next to AUC. Rank deciles (not fixed-width probability bins)
    // because a near-constant scorer — like this deliberately
    // unlearnable target — would collapse fixed bins to one row and
    // report nothing; equi-depth deciles always yield 10 rows and are
    // the standard lift/gains-table form. Ranks are GlobalOrder's (the
    // q147 shape, no single-partition sort); the decile is pure integer
    // arithmetic on (rank, n) shared with the oracle; mean prediction
    // aggregates exact BIGINT micro scores, so only the final divisions
    // are floating point.
    QueryDef("q148_calibration", (s, d) => {
      val docs = t(s, d, "documents")
      // PINNED (r15) — the q147 rationale (documents x4 before)
      val scored = scoreWith(docs, trainOn(docs))
        .select(col("doc_id"),
          round(col("p_en") * 1e6).cast("long").as("sm"), col("is_en"))
        .localCheckpoint(true)
      val ranked = graft.operators.GlobalOrder.withRowNumbers(
        scored, Seq(col("sm").asc, col("doc_id").asc), out = "r")
      ranked.crossJoin(broadcast(docs.agg(count(lit(1)).as("nd"))))
        .withColumn("decile", expr("(r - 1) * 10 div nd + 1"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          sum(col("sm")).as("sm_sum"),
          sum(col("is_en")).as("n_pos"))
        .select(col("decile"), col("n"),
          round(col("sm_sum").cast("double") / 1e6 / col("n"), 6)
            .as("mean_pred"),
          round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"))
    }, Some(OracleSteps + """,
      scored AS (SELECT doc_id,
          CAST(ROUND(p * 1000000.0) AS BIGINT) AS sm,
          CAST(y AS BIGINT) AS is_en
        FROM sc),
      ranked AS (SELECT *,
          row_number() OVER (ORDER BY sm ASC, doc_id ASC) AS r,
          (SELECT COUNT(*) FROM scored) AS nd
        FROM scored)
      SELECT (r - 1) * 10 // nd + 1 AS decile,
        CAST(COUNT(*) AS BIGINT) AS n,
        round(CAST(SUM(sm) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS mean_pred,
        round(CAST(SUM(is_en) AS DOUBLE) / COUNT(*), 6) AS pos_rate
      FROM ranked GROUP BY 1"""),
      notes = "decile calibration (lift-table form): rank-decile mean predicted vs observed positive rate over GlobalOrder ranks — always 10 rows even for a near-constant scorer; integer decile arithmetic shared with the oracle"),

    // ── Naive Bayes text classifier (train + held-out score, one pass) ─
    // The COUNTING classifier beside q116's gradient one — multinomial
    // naive Bayes over q152's 256 hashed-unigram buckets, and the
    // reason it earns a separate catalog entry: training is ONE keyed
    // aggregation (bucket counts per class), not an iterated loop — at
    // 100 TB the whole train phase is a single map-side-combined pass
    // producing a 256-row model, the cheapest classifier a pipeline can
    // field (the fastText-style quality-gate niche). Discipline q116
    // lacks: docs hash-split 90/10 (q109's rule) and the model trains
    // ONLY on the train slice, scoring ONLY the held-out slice — so the
    // reported `correct` is generalization, not memorization, and the
    // split is reproducible by construction.
    //   Binary form: w(b) = ln[(c_en,b+1)(n_ot+256) / (c_ot,b+1)(n_en+256)]
    // over the explicit 256-bucket spine (q153's trick: buckets absent
    // from train still carry smoothed mass, so no test token can drop
    // out of the join), plus the ln-prior over train doc counts; each
    // term is ONE ln over a ratio of exact BIGINT products, micro-unit
    // rounded before the per-doc sum (q152's exactness argument), and
    // the decision compares the exact integer score to 0 — no float
    // knife edge anywhere. Shapes: one token explode + ONE combined
    // bucket agg (localCheckpoint'd — totals and weights both read the
    // 256-row table) + tiny prior agg, then the scoring pass is a
    // broadcast model join + doc fold over the held-out slice. No
    // windows, no pairs. (Degenerate corpora with a single class make
    // the prior ln undefined — a production caller gates on class
    // presence; every driver SF has both classes.)
    QueryDef("q163_naive_bayes", (s, d) => {
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
        16, 10).cast("double") / lit(1152921504606846976L) // 2^60
      val docsSplit = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          (u < 0.90).as("is_train"))
      val toks = nbTokens(docsSplit)
      val model0 = nbCounts(toks.filter(col("is_train")))
        .localCheckpoint(true)
      val tot = model0.agg(sum("c_en").as("n_en"), sum("c_ot").as("n_ot"))
      val model = model0.crossJoin(broadcast(tot))
        .withColumn("w", round(DetMath.detLnRatio(
          (col("c_en") + lit(1L)) * (col("n_ot") + lit(256L)),
          (col("c_ot") + lit(1L)) * (col("n_en") + lit(256L)))
          * 1e6).cast("long"))
        .select("b", "w")
      // single-class guard: a train slice with only one class would send
      // the prior ratio to ±Inf and ANSI-error the long cast (the q135
      // zero-weight lesson) — degrade to a flat prior (pm = 0, token
      // evidence only) instead, mirrored in the oracle; every driver SF
      // has both classes so the gated result is unchanged
      val pri = docsSplit.filter(col("is_train")).agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("d_en"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("d_ot"))
        .select(when(col("d_en") > 0 && col("d_ot") > 0,
          round(DetMath.detLnRatio(col("d_en"), col("d_ot"))
            * 1e6).cast("long")).otherwise(lit(0L)).as("pm"))
      val perdoc = toks.filter(!col("is_train"))
        .join(broadcast(model), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("w").as("sm"))
      docsSplit.filter(!col("is_train")).select(col("doc_id"), col("lang"))
        .join(perdoc, Seq("doc_id"), "left_outer")
        .crossJoin(broadcast(pri))
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          ((coalesce(col("sm"), lit(0L)) + col("pm")).cast("double") /
            lit(1e6)).as("nb_score"),
          (coalesce(col("sm"), lit(0L)) + col("pm") > 0).cast("long")
            .as("pred_en"),
          (col("lang") === "en").cast("long").as("is_en"),
          ((coalesce(col("sm"), lit(0L)) + col("pm") > 0) ===
            (col("lang") === "en")).cast("long").as("correct"))
    }, Some(s"""
      WITH split AS (
        SELECT doc_id, lang, text,
          CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) AS DOUBLE) / 1152921504606846976.0 < 0.90 AS is_train
        FROM documents),
      toks AS (
        SELECT doc_id, lang, is_train,
          CAST('0x' || substr(md5(tok), 1, 2) AS BIGINT) AS b
        FROM (SELECT doc_id, lang, is_train,
                unnest(${TextSignals.wordsSql()}) AS tok
              FROM split)),
      cb AS (SELECT b,
          SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
          SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_ot
        FROM toks WHERE is_train GROUP BY b),
      model0 AS (SELECT sp.b, COALESCE(c_en, 0) AS c_en,
          COALESCE(c_ot, 0) AS c_ot
        FROM (SELECT unnest(range(0, 256)) AS b) sp
        LEFT JOIN cb ON cb.b = sp.b),
      tot AS (SELECT SUM(c_en) AS n_en, SUM(c_ot) AS n_ot FROM model0),
      modelp AS (SELECT b,
          (c_en + 1) * (n_ot + 256) AS num, (c_ot + 1) * (n_en + 256) AS den
        FROM model0, tot),
      model AS (SELECT b,
          CAST(ROUND((${DetMathSql.lnLong("num")} -
            ${DetMathSql.lnLong("den")}) * 1000000) AS BIGINT)
            AS w
        FROM modelp),
      pri0 AS (SELECT
          SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS d_en,
          SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS d_ot
        FROM split WHERE is_train),
      pri AS (SELECT CASE WHEN d_en > 0 AND d_ot > 0 THEN
          CAST(ROUND((${DetMathSql.lnLong("d_en")} -
            ${DetMathSql.lnLong("d_ot")}) * 1000000) AS BIGINT) ELSE 0 END AS pm
        FROM pri0),
      perdoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          SUM(w) AS sm
        FROM toks JOIN model USING (b) WHERE NOT is_train GROUP BY 1)
      SELECT sp.doc_id,
        COALESCE(p.n_tokens, 0) AS n_tokens,
        CAST(COALESCE(p.sm, 0) + pm AS DOUBLE) / 1000000.0 AS nb_score,
        CAST(COALESCE(p.sm, 0) + pm > 0 AS BIGINT) AS pred_en,
        CAST(CASE WHEN sp.lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS is_en,
        CAST((COALESCE(p.sm, 0) + pm > 0) = (sp.lang = 'en') AS BIGINT)
          AS correct
      FROM split sp CROSS JOIN pri LEFT JOIN perdoc p USING (doc_id)
      WHERE NOT sp.is_train"""),
      notes = "multinomial naive Bayes over 256 hashed-unigram buckets with a leakage-free 90/10 hash split: train = ONE map-side-combined bucket agg (256-row model), score = broadcast join + doc fold over the held-out slice; micro-unit exact ln terms, integer decision at 0 — the one-pass counting classifier beside q116's iterated GD"),

    // ── Histogram-based decision-stump split finding (the GBDT core) ───
    // The primitive every gradient-boosted-tree trainer (XGBoost/
    // LightGBM histogram mode) runs per node: bin each feature into a
    // fixed histogram in ONE data pass, then pick the split maximizing
    // the purity score on the histogram alone — the data is touched
    // once, the split search runs on |features| x 16 rows of metadata.
    // Features: the q116 trio (n_chars / whitespace tokens / stopword
    // hits) as raw integers; label = lang='en'. Binning is exact
    // integer arithmetic (v*16 div cap, clamped to bin 15; caps
    // corpus-calibrated so every feature spreads). Split score is the
    // standard Gini-equivalent sum-of-squares form
    //   (pos_L² + neg_L²)/n_L + (pos_R² + neg_R²)/n_R
    // computed in DOUBLE from exact BIGINT counts with an identical
    // expression tree on both engines (exact while counts < 2^26 —
    // every driver SF; at 100 TB the score is a heuristic anyway),
    // micro-unit rounded into a BIGINT argmax key with lowest-bin
    // tiebreak. Shapes: 3x bounded literal fan-out -> ONE map-side-
    // combined (feature, bin) agg (<= 48 rows) -> windows and argmax on
    // metadata only. The cumulative windows partition by feature — no
    // single-partition exchange anywhere.
    QueryDef("q176_decision_stump", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hist = stumpHistogram(t(s, d, "documents"))
      val wCum = Window.partitionBy("feature").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy("feature")
      val cand = hist
        .withColumn("n_left", sum("n").over(wCum))
        .withColumn("pos_left", sum("pos").over(wCum))
        .withColumn("tot_n", sum("n").over(wTot))
        .withColumn("tot_pos", sum("pos").over(wTot))
        .filter(col("n_left") >= 1 && col("tot_n") - col("n_left") >= 1)
        .select(col("feature"), col("bin"), col("n_left"), col("pos_left"),
          (col("tot_n") - col("n_left")).as("n_right"),
          (col("tot_pos") - col("pos_left")).as("pos_right"))
      def sq(c: org.apache.spark.sql.Column) = c.cast("double") * c.cast("double")
      val scored = cand.withColumn("score_u", round((
          (sq(col("pos_left")) + sq(col("n_left") - col("pos_left"))) /
            col("n_left").cast("double") +
          (sq(col("pos_right")) + sq(col("n_right") - col("pos_right"))) /
            col("n_right").cast("double")) * lit(1e6)).cast("long"))
      scored.groupBy("feature").agg(max(struct(
          col("score_u").as("su"), (-col("bin")).as("nb"), col("bin").as("b"),
          col("n_left").as("nl"), col("pos_left").as("pl"),
          col("n_right").as("nr"), col("pos_right").as("pr"))).as("best"))
        .select(col("feature"), col("best.b").as("split_bin"),
          col("best.nl").as("n_left"), col("best.pl").as("pos_left"),
          col("best.nr").as("n_right"), col("best.pr").as("pos_right"),
          (col("best.su").cast("double") / lit(1e6)).as("split_score"))
    }, Some("""
      WITH f AS (
        SELECT CAST(n_chars AS BIGINT) AS f_chars,
          CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
            AS f_tokens,
          CAST(len(regexp_extract_all(text, '\bthe\b'))
             + len(regexp_extract_all(text, '\ba\b'))
             + len(regexp_extract_all(text, '\band\b'))
             + len(regexp_extract_all(text, '\bof\b')) AS BIGINT) AS f_stop,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents),
      fv AS (
        SELECT 'f_chars' AS feature, f_chars AS v, 600 AS cap, y FROM f
        UNION ALL SELECT 'f_tokens', f_tokens, 100, y FROM f
        UNION ALL SELECT 'f_stop', f_stop, 12, y FROM f),
      hist AS (
        SELECT feature, least(15, v * 16 // cap) AS bin,
          COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
        FROM fv GROUP BY 1, 2),
      cum AS (
        SELECT feature, bin,
          CAST(SUM(n) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT)
            AS n_left,
          CAST(SUM(pos) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT)
            AS pos_left,
          CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS tot_n,
          CAST(SUM(pos) OVER (PARTITION BY feature) AS BIGINT) AS tot_pos
        FROM hist),
      cand AS (
        SELECT feature, bin, n_left, pos_left,
          tot_n - n_left AS n_right, tot_pos - pos_left AS pos_right
        FROM cum WHERE n_left >= 1 AND tot_n - n_left >= 1),
      sc AS (
        SELECT feature, bin, n_left, pos_left, n_right, pos_right,
          CAST(ROUND((
            (CAST(pos_left AS DOUBLE) * CAST(pos_left AS DOUBLE)
             + CAST(n_left - pos_left AS DOUBLE)
               * CAST(n_left - pos_left AS DOUBLE))
              / CAST(n_left AS DOUBLE)
            + (CAST(pos_right AS DOUBLE) * CAST(pos_right AS DOUBLE)
             + CAST(n_right - pos_right AS DOUBLE)
               * CAST(n_right - pos_right AS DOUBLE))
              / CAST(n_right AS DOUBLE)) * 1000000.0) AS BIGINT) AS score_u
        FROM cand),
      rk AS (
        SELECT *, row_number() OVER (PARTITION BY feature
          ORDER BY score_u DESC, bin ASC) AS r
        FROM sc)
      SELECT feature, bin AS split_bin, n_left, pos_left, n_right, pos_right,
        CAST(score_u AS DOUBLE) / 1000000.0 AS split_score
      FROM rk WHERE r = 1"""),
      notes = "histogram-based decision-stump split finding (the XGBoost/LightGBM per-node primitive): one 3x literal fan-out + ONE map-side-combined (feature, bin) agg touches the data once; cumulative windows + Gini-equivalent argmax run on <= 48 metadata rows, micro-unit score key with lowest-bin tiebreak"),

    // ── EL2N example-difficulty scoring for data pruning (Data Diet) ───
    // Scores every example by the trained q116 model's error margin —
    // |p − y|, the (scalar-logit) EL2N score of Paul et al. 2021 — and
    // keeps the top-5 hardest per source: the data-pruning signal that
    // drops easy redundant examples while keeping the ones that carry
    // gradient. Composes the catalog's own train path (trainOn; scoring
    // is the q117 model-as-literals narrow projection) with the q135
    // per-group top-k shape, so the rank filter pushes into
    // WindowGroupLimit — per-source bounded state, no global sort. The
    // error is exact in micro-units (round(p*1e6) is the same BIGINT
    // both engines; y*1e6 is exact), so ranks and the hash gate are
    // deterministic; the source attribute rides a doc-keyed join.
    QueryDef("q177_data_diet", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val w = trainOn(docs)
      val f = langFeatures(docs)
      val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3")
      val p = DetMath.detSigmoid(z)
      val el = f.select(col("doc_id"),
        abs(round(p * lit(1e6)).cast("long") -
          (col("y") * lit(1e6)).cast("long")).as("el2n_u"))
      val win = Window.partitionBy("source")
        .orderBy(col("el2n_u").desc, col("doc_id").asc)
      el.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("rank", row_number().over(win).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank"), col("doc_id"),
          (col("el2n_u").cast("double") / lit(1e6)).as("el2n"))
    }, Some(OracleSteps + """,
      el AS (SELECT doc_id,
          abs(CAST(ROUND(p * 1000000.0) AS BIGINT)
            - CAST(y * 1000000.0 AS BIGINT)) AS el2n_u
        FROM sc),
      j AS (SELECT d.source, el.doc_id, el.el2n_u
        FROM el JOIN documents d USING (doc_id)),
      rk AS (SELECT source, doc_id, el2n_u,
          row_number() OVER (PARTITION BY source
            ORDER BY el2n_u DESC, doc_id ASC) AS rank
        FROM j)
      SELECT source, CAST(rank AS BIGINT) AS rank, doc_id,
        CAST(el2n_u AS DOUBLE) / 1000000.0 AS el2n
      FROM rk WHERE rank <= 5"""),
      notes = "EL2N example-difficulty scoring (Paul et al. Data Diet): |p - y| under the q116 model in exact micro-units, top-5 hardest per source via the q135 WindowGroupLimit shape — the data-pruning selection signal, train path + narrow scoring + per-group bounded rank"),

    // ── Split-conformal prediction sets (distribution-free calibration) ─
    // The release-gate companion to q147/q148: calibrate a conformal
    // threshold on a held-out slice and emit per-test-doc PREDICTION
    // SETS with finite-sample coverage ≥ 90% guaranteed by
    // exchangeability alone (Vovk; split-conformal form) — no
    // distributional assumption on the deliberately-unlearnable q116
    // model. Mechanics, all exact integers: 50/50 md5 split (q109's
    // rule); nonconformity of the TRUE label in micro-units
    // (1e6 − p_u for y=1 else p_u); threshold = the
    // ceil(0.9·(n_cal+1))-th smallest calibration score — an order
    // statistic, so ranks come from GlobalOrder (q147's shape, no
    // single-partition window) and the k-th row is selected by exact
    // integer rank (k computed by ceiling floor-division; an
    // undersized calibration slice degrades to cover-everything,
    // qhat = 1e6+1). Test stage: two integer compares per doc — set
    // membership for each label, set size, and whether the true label
    // is covered. At 100 TB: train once, one calibration pass, then
    // scoring + two compares per row — the threshold broadcasts as
    // one BIGINT.
    QueryDef("q180_conformal", (s, d) => {
      val docs = t(s, d, "documents")
      val w = trainOn(docs)
      val f = langFeatures(docs)
      val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3")
      val p = DetMath.detSigmoid(z)
      val u = conv(substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("conf"))), 1, 15), 16, 10)
        .cast("double") / lit(1152921504606846976L) // 2^60
      // PINNED (r15, the q147 rationale): calibration ranks, the n_cal
      // count, and the test stage all read this narrow doc-sized frame —
      // unpinned, GlobalOrder's pruning-split branches re-ran the feature
      // projection per consumer (documents ×5 in the before-plan)
      val scored = f.select(col("doc_id"),
        round(p * lit(1e6)).cast("long").as("p_u"),
        col("y").cast("long").as("is_en"),
        (u < 0.5).as("is_cal"))
        .localCheckpoint(true)
      val cal = scored.filter(col("is_cal"))
        .withColumn("s_u", when(col("is_en") === 1,
          lit(1000000L) - col("p_u")).otherwise(col("p_u")))
      val nCal = cal.agg(count(lit(1)).as("n_cal"))
      val ranked = graft.operators.GlobalOrder.withRowNumbers(
        cal, Seq(col("s_u").asc, col("doc_id").asc), out = "r")
      val qhat = ranked.crossJoin(broadcast(nCal))
        .filter(col("r") === expr("(9 * (n_cal + 1) + 9) div 10"))
        .agg(coalesce(max(col("s_u")), lit(1000001L)).as("qhat_u"))
      conformalSets(scored.filter(!col("is_cal"))
        .crossJoin(broadcast(qhat)), col("qhat_u"))
    }, Some(OracleSteps + """,
      scored AS (SELECT doc_id,
          CAST(ROUND(p * 1000000.0) AS BIGINT) AS p_u,
          CAST(y AS BIGINT) AS is_en,
          CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':conf'),
            1, 15) AS BIGINT) AS DOUBLE) / 1152921504606846976.0 < 0.5
            AS is_cal
        FROM sc),
      cal AS (SELECT doc_id,
          CASE WHEN is_en = 1 THEN 1000000 - p_u ELSE p_u END AS s_u
        FROM scored WHERE is_cal),
      nc AS (SELECT COUNT(*) AS n_cal FROM cal),
      rk AS (SELECT s_u,
          row_number() OVER (ORDER BY s_u ASC, doc_id ASC) AS r
        FROM cal),
      qh AS (SELECT COALESCE(MAX(s_u), 1000001) AS qhat_u
        FROM rk, nc WHERE r = (9 * (n_cal + 1) + 9) // 10)
      SELECT sc.doc_id, CAST(p_u AS DOUBLE) / 1000000.0 AS p_en,
        qh.qhat_u,
        CAST(1000000 - p_u <= qh.qhat_u AS BIGINT)
          + CAST(p_u <= qh.qhat_u AS BIGINT) AS set_size,
        CASE WHEN is_en = 1 THEN CAST(1000000 - p_u <= qh.qhat_u AS BIGINT)
             ELSE CAST(p_u <= qh.qhat_u AS BIGINT) END AS covered
      FROM scored sc, qh WHERE NOT is_cal"""),
      notes = "split-conformal prediction sets: 50/50 md5 calibration split, micro-unit true-label nonconformity, threshold = exact ceil(0.9(n+1))-th order statistic via GlobalOrder ranks (no single-partition window), per-test-doc set size + coverage by two integer compares — distribution-free >= 90% coverage from exchangeability alone"),

    // ── DoReMi-style domain mixture reweighting ────────────────────────
    // q164/q102 plan mixtures from token COUNTS; DoReMi (Xie et al.)
    // reweights from proxy-model LOSS: domains where the proxy does
    // worse than the corpus average get upweighted (they carry more
    // learnable signal). Proxy = the q163 unigram machinery trained on
    // the FULL corpus (mixture planning, not eval — no split): per-
    // token cross-entropy −ln p(bucket | doc's class) with add-1
    // smoothing over the aligned 256-bucket spine, micro-unit rounded
    // into BIGINT sums, so each source's mean loss is exact integers
    // divided in DOUBLE. One exponentiated-gradient step (η = 1):
    // w ∝ base_share · exp(mean_loss − corpus_loss), micro-quantized
    // BEFORE the only cross-source normalization sum (q164's
    // exactness pattern). Shapes: ONE corpus token pass, reduced
    // immediately to a (source, is_en, bucket)-keyed pre-agg
    // (<= |sources|·2·256 rows, localCheckpoint-pinned) that feeds
    // BOTH the 256-row model and the per-source loss totals — the
    // loss sum is Σ c·l over the pre-agg, exact because l is already
    // a micro-quantized BIGINT (r08's shape consumed the corpus-sized
    // token frame twice: model build + loss join = two full scans at
    // 100 TB where one suffices). Everything downstream of the
    // pre-agg runs on metadata-sized frames.
    QueryDef("q182_doremi_mix", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val toks = nbTokens(docs)
      val pre = toks.groupBy(col("source"),
          (col("lang") === "en").as("is_en"), col("b"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val model0 = bucketSpine(pre.groupBy("b").agg(
        sum(when(col("is_en"), col("c")).otherwise(0L)).as("c_en"),
        sum(when(!col("is_en"), col("c")).otherwise(0L)).as("c_ot")))
      val tot = model0.agg(sum("c_en").as("n_en"), sum("c_ot").as("n_ot"))
      val model = model0.crossJoin(broadcast(tot))
        .select(col("b"),
          round(-DetMath.detLnRatio(col("c_en") + lit(1L),
            col("n_en") + lit(256L)) * 1e6).cast("long")
            .as("l_en"),
          round(-DetMath.detLnRatio(col("c_ot") + lit(1L),
            col("n_ot") + lit(256L)) * 1e6).cast("long")
            .as("l_ot"))
      // localCheckpoint: perSrc is |sources| metadata rows read twice
      // (totals + mix) — pin it (the q152-q154 single-pass-per-stage
      // pattern); its input `pre` is itself pinned, so nothing below
      // this line touches the corpus again
      val perSrc = pre.join(broadcast(model), "b")
        .groupBy("source").agg(
          sum(col("c")).as("n_tokens"),
          sum(col("c") *
            when(col("is_en"), col("l_en")).otherwise(col("l_ot")))
            .as("loss_sum_u"))
        .localCheckpoint(true)
      val totals = perSrc.agg(sum("n_tokens").as("tt"),
        sum("loss_sum_u").as("tl"))
      val mix = perSrc.crossJoin(broadcast(totals))
        .withColumn("mean_loss_x", col("loss_sum_u").cast("double") /
          col("n_tokens").cast("double") / lit(1e6))
        .withColumn("corpus_loss", col("tl").cast("double") /
          col("tt").cast("double") / lit(1e6))
        .withColumn("w_u", round((col("n_tokens").cast("double") /
          col("tt").cast("double")) *
          DetMath.detExp(col("mean_loss_x") - col("corpus_loss")) * lit(1e6))
          .cast("long"))
      val wTot = mix.agg(sum("w_u").as("wsum"))
      mix.crossJoin(broadcast(wTot))
        // integer-micro-first surfacing (f7235c6): micro-sum quotients
        // are the dense 6th-decimal-tie class
        .select(col("source"), col("n_tokens"),
          (round(col("mean_loss_x") * lit(1e6)).cast("long") / lit(1e6))
            .as("mean_loss"),
          (round(col("n_tokens").cast("double") / col("tt").cast("double")
            * lit(1e6)).cast("long") / lit(1e6)).as("base_share"),
          (round(col("w_u").cast("double") / col("wsum").cast("double")
            * lit(1e6)).cast("long") / lit(1e6)).as("new_weight"))
    }, Some(s"""
      WITH toks AS (
        SELECT doc_id, lang, source,
          CAST('0x' || substr(md5(tok), 1, 2) AS BIGINT) AS b
        FROM (SELECT doc_id, lang, source,
                unnest(${TextSignals.wordsSql()}) AS tok
              FROM documents)),
      cb AS (SELECT b,
          SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
          SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_ot
        FROM toks GROUP BY b),
      model0 AS (SELECT sp.b, COALESCE(c_en, 0) AS c_en,
          COALESCE(c_ot, 0) AS c_ot
        FROM (SELECT unnest(range(0, 256)) AS b) sp
        LEFT JOIN cb ON cb.b = sp.b),
      tot AS (SELECT SUM(c_en) AS n_en, SUM(c_ot) AS n_ot FROM model0),
      model AS (SELECT b,
          CAST(ROUND(-(${DetMathSql.lnLong("c_en + 1")} -
            ${DetMathSql.lnLong("n_en + 256")}) * 1000000) AS BIGINT) AS l_en,
          CAST(ROUND(-(${DetMathSql.lnLong("c_ot + 1")} -
            ${DetMathSql.lnLong("n_ot + 256")}) * 1000000) AS BIGINT) AS l_ot
        FROM model0, tot),
      ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN lang = 'en' THEN l_en ELSE l_ot END) AS BIGINT)
            AS loss_sum_u
        FROM toks JOIN model USING (b) GROUP BY source),
      tts AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
          CAST(SUM(loss_sum_u) AS BIGINT) AS tl FROM ps),
      mx AS (SELECT source, n_tokens, loss_sum_u, tt, tl,
          CAST(loss_sum_u AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
            AS mean_loss_x,
          CAST(tl AS DOUBLE) / CAST(tt AS DOUBLE) / 1000000.0 AS corpus_loss
        FROM ps, tts),
      mxd AS (SELECT *, (mean_loss_x - corpus_loss) AS dx FROM mx),
      mxk AS (SELECT *, ${DetMathSql.expK("dx")} AS ek FROM mxd),
      mxr AS (SELECT *, ${DetMathSql.expR("dx", "ek")} AS er,
          ${DetMathSql.expK1("ek")} AS ek1 FROM mxk),
      mxq AS (SELECT *, ek - ek1 AS ek2, ${DetMathSql.expPoly("er")} AS ep
        FROM mxr),
      mw AS (SELECT *,
          CAST(ROUND((CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE)) *
            ${DetMathSql.expScale(DetMathSql.expScale("ep", "ek1"), "ek2")}
            * 1000000.0) AS BIGINT) AS w_u
        FROM mxq),
      ws AS (SELECT CAST(SUM(w_u) AS BIGINT) AS wsum FROM mw)
      SELECT source, n_tokens,
        CAST(ROUND(mean_loss_x * 1000000) AS BIGINT) / 1000000.0
          AS mean_loss,
        CAST(ROUND(CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE) * 1000000)
          AS BIGINT) / 1000000.0 AS base_share,
        CAST(ROUND(CAST(w_u AS DOUBLE) / CAST(wsum AS DOUBLE) * 1000000)
          AS BIGINT) / 1000000.0 AS new_weight
      FROM mw, ws"""),
      notes = "DoReMi-style loss-aware mixture reweighting: per-source mean per-token cross-entropy under the full-corpus q163 unigram proxy (micro-unit exact BIGINT sums), one exponentiated-gradient step w ~ share * exp(excess loss), micro-quantized before the only cross-source normalization — one token pass + 256-row broadcast model + |sources|-row metadata algebra"),

    // ── Two-proportion experiment readout (A/B test) ───────────────────
    // The experiment-analysis primitive beside q185's bootstrap: a
    // two-proportion z-test per experiment row, z = (p̂_A − p̂_B) /
    // sqrt(p̂(1−p̂)(1/n_A + 1/n_B)) with the pooled rate, computed in
    // identical IEEE doubles from exact BIGINT counts (ONE combined
    // map-side agg per experiment — counts, not rows, cross the
    // shuffle). Two designed rows prove both verdicts on the driver
    // corpus: `md5_aa` splits by a content-independent hash (a true
    // A/A — the test must NOT fire) and `length_effect` splits by
    // document length with a stopword-count metric (structurally
    // correlated — the test must fire). The z>1.96 flag is a double
    // knife-edge in principle; both engines compare the same IEEE z
    // (the q116 EXP-residual class).
    QueryDef("q186_ab_test", (s, d) => {
      val docs = t(s, d, "documents")
      val u = conv(substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("ab"))), 1, 15), 16, 10)
        .cast("double") / lit(1152921504606846976L) // 2^60
      val base = docs.select(
        (u < 0.5).as("arm_a1"),
        (col("n_chars") >= 300).as("arm_a2"),
        (TextSignals.qualityScore(col("text")) >= 0.5).as("m1"),
        (TextSignals.stopwordHits(col("text")) >= lit(2.0))
          .as("m2"))
      def expRow(name: String, arm: String, metric: String) = {
        val a = col(arm); val m = col(metric)
        base.agg(
            sum(when(a, 1L).otherwise(0L)).as("n_a"),
            sum(when(a && m, 1L).otherwise(0L)).as("pass_a"),
            sum(when(!a, 1L).otherwise(0L)).as("n_b"),
            sum(when(!a && m, 1L).otherwise(0L)).as("pass_b"))
          .withColumn("rate_a", when(col("n_a") > 0,
            col("pass_a").cast("double") / col("n_a").cast("double"))
            .otherwise(lit(0.0)))
          .withColumn("rate_b", when(col("n_b") > 0,
            col("pass_b").cast("double") / col("n_b").cast("double"))
            .otherwise(lit(0.0)))
          .withColumn("pp",
            when(col("n_a") + col("n_b") > 0,
              (col("pass_a") + col("pass_b")).cast("double") /
                (col("n_a") + col("n_b")).cast("double"))
              .otherwise(lit(0.0)))
          .withColumn("se", when(col("n_a") > 0 && col("n_b") > 0,
            sqrt(col("pp") * (lit(1.0) - col("pp")) *
              (lit(1.0) / col("n_a").cast("double") +
               lit(1.0) / col("n_b").cast("double")))).otherwise(lit(0.0)))
          .withColumn("z", when(col("se") > 0,
            (col("rate_a") - col("rate_b")) / col("se")).otherwise(lit(0.0)))
          .select(lit(name).as("experiment"),
            col("n_a"), col("pass_a"), col("n_b"), col("pass_b"),
            round(col("rate_a"), 6).as("rate_a"),
            round(col("rate_b"), 6).as("rate_b"),
            round(col("z"), 6).as("z"),
            (abs(col("z")) > 1.96).cast("long").as("significant"))
      }
      expRow("md5_aa", "arm_a1", "m1")
        .unionAll(expRow("length_effect", "arm_a2", "m2"))
    }, Some("""
      WITH base AS (
        SELECT
          CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ab'),
            1, 15) AS BIGINT) AS DOUBLE) / 1152921504606846976.0 < 0.5
            AS arm_a1,
          n_chars >= 300 AS arm_a2,
          (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 0.5 ELSE 0.0 END
           + CASE WHEN (CAST(len(regexp_extract_all(text, '\bthe\b')) AS DOUBLE)
               + CAST(len(regexp_extract_all(text, '\ba\b')) AS DOUBLE)
               + CAST(len(regexp_extract_all(text, '\band\b')) AS DOUBLE)
               + CAST(len(regexp_extract_all(text, '\bof\b')) AS DOUBLE))
               / CAST(length(text) - length(replace(text, ' ', '')) + 1
                   AS DOUBLE) > 0.01
             THEN 0.5 ELSE 0.0 END) >= 0.5 AS m1,
          (CAST(len(regexp_extract_all(text, '\bthe\b')) AS DOUBLE)
           + CAST(len(regexp_extract_all(text, '\ba\b')) AS DOUBLE)
           + CAST(len(regexp_extract_all(text, '\band\b')) AS DOUBLE)
           + CAST(len(regexp_extract_all(text, '\bof\b')) AS DOUBLE)) >= 2.0
            AS m2
        FROM documents),
      agg AS (
        SELECT 'md5_aa' AS experiment,
          CAST(SUM(CASE WHEN arm_a1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(SUM(CASE WHEN arm_a1 AND m1 THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_a,
          CAST(SUM(CASE WHEN NOT arm_a1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          CAST(SUM(CASE WHEN NOT arm_a1 AND m1 THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_b
        FROM base
        UNION ALL
        SELECT 'length_effect',
          CAST(SUM(CASE WHEN arm_a2 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN arm_a2 AND m2 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN NOT arm_a2 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN NOT arm_a2 AND m2 THEN 1 ELSE 0 END) AS BIGINT)
        FROM base),
      rates AS (
        SELECT *,
          CASE WHEN n_a > 0 THEN CAST(pass_a AS DOUBLE) / CAST(n_a AS DOUBLE)
            ELSE 0.0 END AS rate_a,
          CASE WHEN n_b > 0 THEN CAST(pass_b AS DOUBLE) / CAST(n_b AS DOUBLE)
            ELSE 0.0 END AS rate_b,
          CASE WHEN n_a + n_b > 0 THEN
            CAST(pass_a + pass_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
            ELSE 0.0 END AS pp
        FROM agg),
      zs AS (
        SELECT *,
          CASE WHEN n_a > 0 AND n_b > 0 THEN
            sqrt(pp * (1.0 - pp) *
              (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
          ELSE 0.0 END AS se
        FROM rates),
      fin AS (
        SELECT *, CASE WHEN se > 0 THEN (rate_a - rate_b) / se
          ELSE 0.0 END AS z
        FROM zs)
      SELECT experiment, n_a, pass_a, n_b, pass_b,
        round(rate_a, 6) AS rate_a, round(rate_b, 6) AS rate_b,
        round(z, 6) AS z,
        CAST(abs(z) > 1.96 AS BIGINT) AS significant
      FROM fin"""),
      notes = "two-proportion z-test experiment readout: pooled-rate z in identical IEEE doubles from exact BIGINT counts, one combined map-side agg per experiment; a true A/A row (must not fire) and a structurally-correlated row (must fire) prove both verdicts"),

    // ── Confident-mistake label QA (Cleanlab-style noise estimate) ─────
    // q177 ranks examples by difficulty; this flags likely LABEL ERRORS:
    // docs the q116 model scores in the corpus's top quartile of
    // P(en) while labeled not-en (and the mirror), i.e. confident
    // disagreement — confident-learning's off-diagonal estimate
    // collapsed to the binary case with RELATIVE confidence thresholds
    // (exact p25/p75 of the micro score, the q101 percentile pattern)
    // because an uncalibrated scorer's absolute 0.9 threshold can be
    // unreachable. Output: the per-source label-noise report a data-QA
    // pass files. Shapes: scoring projection + two-percentile agg
    // (broadcast 1-row thresholds) + doc-keyed source join + ONE keyed
    // agg.
    QueryDef("q188_label_noise", (s, d) => {
      val docs = t(s, d, "documents")
      val w = trainOn(docs)
      val f = langFeatures(docs)
      val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3")
      val p = DetMath.detSigmoid(z)
      val scored = f.select(col("doc_id"),
        round(p * lit(1e6)).cast("long").as("p_u"),
        col("y").cast("long").as("is_en"))
      val qs = scored.agg(expr("percentile(p_u, 0.25)").as("p25"),
        expr("percentile(p_u, 0.75)").as("p75"))
      scored.crossJoin(broadcast(qs))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("susp_hi",
          (col("p_u").cast("double") >= col("p75") && col("is_en") === 0)
            .cast("long"))
        .withColumn("susp_lo",
          (col("p_u").cast("double") <= col("p25") && col("is_en") === 1)
            .cast("long"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("susp_hi")).as("n_susp_hi"),
          sum(col("susp_lo")).as("n_susp_lo"))
        .select(col("source"), col("n_docs"), col("n_susp_hi"),
          col("n_susp_lo"),
          round((col("n_susp_hi") + col("n_susp_lo")).cast("double") /
            col("n_docs").cast("double"), 6).as("noise_rate"))
    }, Some(OracleSteps + """,
      scored AS (SELECT doc_id,
          CAST(ROUND(p * 1000000.0) AS BIGINT) AS p_u,
          CAST(y AS BIGINT) AS is_en
        FROM sc),
      qs AS (SELECT quantile_cont(p_u, 0.25) AS p25,
          quantile_cont(p_u, 0.75) AS p75 FROM scored),
      flagged AS (
        SELECT d.source,
          CASE WHEN CAST(sc.p_u AS DOUBLE) >= qs.p75 AND sc.is_en = 0
            THEN 1 ELSE 0 END AS susp_hi,
          CASE WHEN CAST(sc.p_u AS DOUBLE) <= qs.p25 AND sc.is_en = 1
            THEN 1 ELSE 0 END AS susp_lo
        FROM scored sc CROSS JOIN qs JOIN documents d USING (doc_id))
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(susp_hi) AS BIGINT) AS n_susp_hi,
        CAST(SUM(susp_lo) AS BIGINT) AS n_susp_lo,
        round(CAST(SUM(susp_hi) + SUM(susp_lo) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS noise_rate
      FROM flagged GROUP BY source"""),
      notes = "Cleanlab-style confident-mistake label QA: docs the q116 model scores in the top P(en) quartile while labeled not-en (and the mirror), relative-confidence thresholds from exact p25/p75 percentiles (q101 pattern); scoring projection + 1-row broadcast thresholds + one keyed agg — the per-source label-noise report"),

    // ── Cohen's kappa between the catalog's two classifiers ────────────
    // Inter-annotator agreement, the data-QA statistic for any labeling
    // setup — here the two "annotators" are the catalog's own production
    // models on the full corpus: q116's logistic regression and q163's
    // naive Bayes machinery (full-corpus variant — agreement audits use
    // every prediction, no held-out split). κ = (p_o − p_e)/(1 − p_e)
    // corrects raw agreement for chance using the marginals; the 2×2
    // contingency table is ONE combined agg of exact BIGINTs, κ is
    // constant-size double algebra. Two models that agree only by
    // chance (κ≈0) on this deliberately-unlearnable target is itself
    // the documented expected readout. Shapes: both scoring passes are
    // the catalog's own (narrow literals / broadcast 256-row model),
    // one doc-keyed join, one agg.
    QueryDef("q189_model_kappa", (s, d) => {
      val docs = t(s, d, "documents")
      val lr = scoreWith(docs, trainOn(docs))
        .select(col("doc_id"), col("pred_en").as("pred_lr"))
      val toks = nbTokens(docs.select(col("doc_id"), col("lang"), col("text")))
      // ONE token pass (r15, the q182 pre-agg lesson): the corpus-sized
      // token frame previously fed the model build AND the per-doc
      // scoring join — two full tokenize scans. The pinned
      // (doc, lang, bucket) pre-agg (≤ docs×256 rows) serves the 256-row
      // model, the totals, and the per-doc fold: sm = Σ tokens wb
      // = Σ buckets c·wb, exact BIGINTs either way.
      val pre = toks.groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val model0 = bucketSpine(pre.groupBy("b").agg(
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("c_en"),
        sum(when(col("lang") =!= "en", col("c")).otherwise(0L)).as("c_ot")))
      val tot = pre.agg(
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("n_en"),
        sum(when(col("lang") =!= "en", col("c")).otherwise(0L)).as("n_ot"))
      val model = model0.crossJoin(broadcast(tot))
        .withColumn("wb", round(DetMath.detLnRatio(
          (col("c_en") + lit(1L)) * (col("n_ot") + lit(256L)),
          (col("c_ot") + lit(1L)) * (col("n_en") + lit(256L)))
          * 1e6).cast("long"))
        .select("b", "wb")
      val pri = docs.agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("d_en"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("d_ot"))
        .select(when(col("d_en") > 0 && col("d_ot") > 0,
          round(DetMath.detLnRatio(col("d_en"), col("d_ot"))
            * 1e6).cast("long")).otherwise(lit(0L)).as("pm"))
      val perdoc = pre.join(broadcast(model), "b")
        .groupBy("doc_id").agg(sum(col("c") * col("wb")).as("sm"))
      val nb = docs.select("doc_id").join(perdoc, Seq("doc_id"), "left_outer")
        .crossJoin(broadcast(pri))
        .select(col("doc_id"),
          ((coalesce(col("sm"), lit(0L)) + col("pm")) > 0).cast("long")
            .as("pred_nb"))
      lr.join(nb, "doc_id").agg(
          count(lit(1)).as("n"),
          sum(when(col("pred_lr") === 1 && col("pred_nb") === 1, 1L)
            .otherwise(0L)).as("n11"),
          sum(when(col("pred_lr") === 1 && col("pred_nb") === 0, 1L)
            .otherwise(0L)).as("n10"),
          sum(when(col("pred_lr") === 0 && col("pred_nb") === 1, 1L)
            .otherwise(0L)).as("n01"),
          sum(when(col("pred_lr") === 0 && col("pred_nb") === 0, 1L)
            .otherwise(0L)).as("n00"))
        .withColumn("po", when(col("n") > 0,
          (col("n11") + col("n00")).cast("double") / col("n").cast("double"))
          .otherwise(lit(0.0)))
        .withColumn("pe", when(col("n") > 0,
          ((col("n11") + col("n10")).cast("double") *
            (col("n11") + col("n01")).cast("double") +
           (col("n01") + col("n00")).cast("double") *
            (col("n10") + col("n00")).cast("double")) /
            (col("n").cast("double") * col("n").cast("double")))
          .otherwise(lit(0.0)))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          round(col("po"), 6).as("po"), round(col("pe"), 6).as("pe"),
          when(lit(1.0) - col("pe") > 0,
            round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6))
            .otherwise(lit(0.0)).as("kappa"))
    }, Some(OracleSteps + s""",
      lr AS (SELECT doc_id,
          CAST(p >= 0.5 AS BIGINT) AS pred_lr
        FROM sc),
      toks AS (
        SELECT doc_id, lang,
          CAST('0x' || substr(md5(tok), 1, 2) AS BIGINT) AS b
        FROM (SELECT doc_id, lang,
                unnest(${TextSignals.wordsSql()}) AS tok
              FROM documents)),
      cb AS (SELECT b,
          SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
          SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_ot
        FROM toks GROUP BY b),
      model0 AS (SELECT sp.b, COALESCE(c_en, 0) AS c_en,
          COALESCE(c_ot, 0) AS c_ot
        FROM (SELECT unnest(range(0, 256)) AS b) sp
        LEFT JOIN cb ON cb.b = sp.b),
      tot AS (SELECT SUM(c_en) AS n_en, SUM(c_ot) AS n_ot FROM model0),
      modelp AS (SELECT b,
          (c_en + 1) * (n_ot + 256) AS num, (c_ot + 1) * (n_en + 256) AS den
        FROM model0, tot),
      model AS (SELECT b,
          CAST(ROUND((${DetMathSql.lnLong("num")} -
            ${DetMathSql.lnLong("den")}) * 1000000) AS BIGINT)
            AS wb
        FROM modelp),
      pri0 AS (SELECT
          SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS d_en,
          SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS d_ot
        FROM documents),
      pri AS (SELECT CASE WHEN d_en > 0 AND d_ot > 0 THEN
          CAST(ROUND((${DetMathSql.lnLong("d_en")} -
            ${DetMathSql.lnLong("d_ot")}) * 1000000) AS BIGINT) ELSE 0 END AS pm
        FROM pri0),
      perdoc AS (SELECT doc_id, SUM(wb) AS sm
        FROM toks JOIN model USING (b) GROUP BY doc_id),
      nb AS (SELECT d.doc_id,
          CAST(COALESCE(p.sm, 0) + pri.pm > 0 AS BIGINT) AS pred_nb
        FROM documents d CROSS JOIN pri
        LEFT JOIN perdoc p ON p.doc_id = d.doc_id),
      ct AS (SELECT
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN pred_lr = 1 AND pred_nb = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n11,
          CAST(SUM(CASE WHEN pred_lr = 1 AND pred_nb = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n10,
          CAST(SUM(CASE WHEN pred_lr = 0 AND pred_nb = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n01,
          CAST(SUM(CASE WHEN pred_lr = 0 AND pred_nb = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n00
        FROM lr JOIN nb USING (doc_id)),
      rates AS (SELECT *,
          CASE WHEN n > 0 THEN
            CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END AS po,
          CASE WHEN n > 0 THEN
            (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
             + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) ELSE 0.0 END AS pe
        FROM ct)
      SELECT n, n11, n10, n01, n00,
        round(po, 6) AS po, round(pe, 6) AS pe,
        CASE WHEN 1.0 - pe > 0 THEN round((po - pe) / (1.0 - pe), 6)
          ELSE 0.0 END AS kappa
      FROM rates"""),
      notes = "Cohen's kappa between the catalog's two production classifiers (q116 logreg vs q163-machinery NB, full corpus): chance-corrected agreement from ONE exact 2x2 contingency agg; both scoring passes are the catalog's own narrow/broadcast shapes — the inter-annotator-agreement statistic for label QA"),

    // ── Mutual-information feature ranking (q176's second criterion) ───
    // Feature selection's standard score over the SAME one-pass
    // histogram q176 builds (shared stumpHistogram — the data is
    // touched once, the criterion is swapped on metadata): per
    // feature, empirical MI(bin; y) = Σ p(b,y)·ln(p(b,y)/(p(b)p(y))),
    // each term nano-unit rounded from exact BIGINT counts (the q143
    // entropy pattern) and summed as BIGINT — plus the label entropy
    // H(y) and the normalized ratio MI/H(y) ∈ [0,1]. On this
    // deliberately-unlearnable target MI ≈ 0 is the documented
    // expected readout (the q116/q163 family's honest baseline);
    // rounding can leave the sum a few nano-units either side of 0.
    // Per-feature totals ride the same partition-by-feature window as
    // q176 — no single-partition stage.
    QueryDef("q191_mi_features", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wTot = Window.partitionBy("feature")
      def term(nby: org.apache.spark.sql.Column,
          ny: org.apache.spark.sql.Column) =
        when(nby > 0, round(
          nby.cast("double") / col("tot_n").cast("double") *
            DetMath.detLnRatio(nby * col("tot_n"), col("n") * ny) * lit(1e9))
          .cast("long")).otherwise(lit(0L))
      def hterm(c: org.apache.spark.sql.Column) =
        when(c > 0, round(-(c.cast("double") / col("tn").cast("double")) *
          DetMath.detLnRatio(c, col("tn")) * lit(1e9))
          .cast("long")).otherwise(lit(0L))
      stumpHistogram(t(s, d, "documents"))
        .withColumn("tot_n", sum("n").over(wTot))
        .withColumn("tot_pos", sum("pos").over(wTot))
        .withColumn("term_u",
          term(col("pos"), col("tot_pos")) +
            term(col("n") - col("pos"), col("tot_n") - col("tot_pos")))
        .groupBy("feature").agg(
          count(lit(1)).as("n_bins"),
          sum("term_u").as("mi_u"),
          first("tot_n").as("tn"), first("tot_pos").as("tp"))
        .withColumn("hy_u", hterm(col("tp")) + hterm(col("tn") - col("tp")))
        // integer-first surfacing: nano sums quantize nano->milli-nano,
        // the quotient micro-first (f7235c6 tie class)
        .select(col("feature"), col("n_bins"),
          (round(col("mi_u").cast("double") / lit(1e3)).cast("long")
            / lit(1e6)).as("mi_nats"),
          (round(col("hy_u").cast("double") / lit(1e3)).cast("long")
            / lit(1e6)).as("h_label"),
          when(col("hy_u") > 0,
            round(col("mi_u").cast("double") / col("hy_u").cast("double")
              * lit(1e6)).cast("long") / lit(1e6))
            .otherwise(lit(0.0)).as("mi_ratio"))
    }, Some(s"""
      WITH f AS (
        SELECT CAST(n_chars AS BIGINT) AS f_chars,
          CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
            AS f_tokens,
          CAST(len(regexp_extract_all(text, '\\bthe\\b'))
             + len(regexp_extract_all(text, '\\ba\\b'))
             + len(regexp_extract_all(text, '\\band\\b'))
             + len(regexp_extract_all(text, '\\bof\\b')) AS BIGINT) AS f_stop,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents),
      fv AS (
        SELECT 'f_chars' AS feature, f_chars AS v, 600 AS cap, y FROM f
        UNION ALL SELECT 'f_tokens', f_tokens, 100, y FROM f
        UNION ALL SELECT 'f_stop', f_stop, 12, y FROM f),
      hist AS (
        SELECT feature, least(15, v * 16 // cap) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
        FROM fv GROUP BY 1, 2),
      tots AS (
        SELECT feature, bin, n, pos,
          CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS tot_n,
          CAST(SUM(pos) OVER (PARTITION BY feature) AS BIGINT) AS tot_pos
        FROM hist),
      termsp AS (
        SELECT feature, n, pos, tot_n, tot_pos,
          pos * tot_n AS pnum, n * tot_pos AS pden,
          (n - pos) * tot_n AS qnum, n * (tot_n - tot_pos) AS qden
        FROM tots),
      terms AS (
        SELECT feature, tot_n, tot_pos,
          (CASE WHEN pos > 0 THEN CAST(ROUND(
              CAST(pos AS DOUBLE) / CAST(tot_n AS DOUBLE) *
              (${DetMathSql.lnLong("pnum")} - ${DetMathSql.lnLong("pden")})
              * 1000000000) AS BIGINT) ELSE 0 END
           + CASE WHEN n - pos > 0 THEN CAST(ROUND(
              CAST(n - pos AS DOUBLE) / CAST(tot_n AS DOUBLE) *
              (${DetMathSql.lnLong("qnum")} - ${DetMathSql.lnLong("qden")})
              * 1000000000) AS BIGINT) ELSE 0 END) AS term_u
        FROM termsp),
      agg AS (
        SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_bins,
          CAST(SUM(term_u) AS BIGINT) AS mi_u,
          ANY_VALUE(tot_n) AS tn, ANY_VALUE(tot_pos) AS tp
        FROM terms GROUP BY feature),
      hyp AS (SELECT *, tn - tp AS tq FROM agg),
      hy AS (
        SELECT *,
          (CASE WHEN tp > 0 THEN CAST(ROUND(
              -(CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) *
              (${DetMathSql.lnLong("tp")} - ${DetMathSql.lnLong("tn")})
              * 1000000000) AS BIGINT) ELSE 0 END
           + CASE WHEN tn - tp > 0 THEN CAST(ROUND(
              -(CAST(tn - tp AS DOUBLE) / CAST(tn AS DOUBLE)) *
              (${DetMathSql.lnLong("tq")} - ${DetMathSql.lnLong("tn")})
              * 1000000000) AS BIGINT) ELSE 0 END) AS hy_u
        FROM hyp)
      SELECT feature, n_bins,
        CAST(ROUND(CAST(mi_u AS DOUBLE) / 1000.0) AS BIGINT) / 1000000.0
          AS mi_nats,
        CAST(ROUND(CAST(hy_u AS DOUBLE) / 1000.0) AS BIGINT) / 1000000.0
          AS h_label,
        CASE WHEN hy_u > 0 THEN
          CAST(ROUND(CAST(mi_u AS DOUBLE) / CAST(hy_u AS DOUBLE) * 1000000)
            AS BIGINT) / 1000000.0
          ELSE 0.0 END AS mi_ratio
      FROM hy"""),
      notes = "mutual-information feature ranking over the SAME one-pass q176 histogram (shared stumpHistogram): per-feature MI(bin; y) from nano-unit exact terms + label entropy + normalized ratio; the criterion swaps on <= 48 metadata rows, the data is touched once"),

    // ── Temperature-scaling calibration fit (Guo et al.) ───────────────
    // q148 MEASURES calibration; this FITS it: the post-hoc temperature
    // T rescaling logits (p_T = σ(z/T)) chosen to minimize calibration
    // NLL — the standard one-parameter recalibration every deployed
    // classifier ships with. T is one-dimensional, so the fit is an
    // exact GRID SEARCH (6 candidates) instead of an unrolled Newton
    // loop: per (doc, T) NLL terms in micro-units (σ clamped away from
    // 0/1 so ln stays finite under ANSI — the q135 lesson), ONE keyed
    // agg over the 6-way bounded fan-out, argmin by exact BIGINT NLL
    // with lowest-T tiebreak. Calibration slice = q180's md5 half, so
    // the conformal and temperature calibrations read the same split.
    // Output: the full 6-row NLL profile with the winner flagged — the
    // artifact a model card records.
    QueryDef("q197_temperature", (s, d) => {
      val docs = t(s, d, "documents")
      val w = trainOn(docs)
      val f = langFeatures(docs)
      val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3")
      val u = conv(substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("conf"))), 1, 15), 16, 10)
        .cast("double") / lit(1152921504606846976L) // 2^60
      val cal = f.filter(u < 0.5).select(col("y"), z.as("z"))
      val grid = cal.select(col("y"), col("z"), explode(array(
        lit(0.5), lit(0.75), lit(1.0), lit(1.5), lit(2.0), lit(3.0)))
        .as("t_value"))
      // softplus form, fully DetMath-deterministic: with sp = ln(1+e^(-z/T))
      // (argument >= 1, detLnDoubleGe1-safe), the Bernoulli NLL is
      //   -(y ln sigma + (1-y) ln(1-sigma)) = y*sp + (1-y)*(z/T + sp)
      // algebraically, with no clamp needed: the old 1e-12 clamp only
      // bound for |z/T| > 27.6, unreachable on these features
      val zt = col("z") / col("t_value")
      val sp = DetMath.detLnDoubleGe1(lit(1.0) + DetMath.detExp(-zt))
      val nll = grid.withColumn("term_u", round(
          (col("y") * sp + (lit(1.0) - col("y")) * (zt + sp))
            * lit(1e6)).cast("long"))
        .groupBy("t_value").agg(count(lit(1)).as("n_cal"),
          sum("term_u").as("nll_u"))
      val best = nll.agg(min(struct(col("nll_u").as("nu"),
        col("t_value").as("tv"))).as("b"))
      nll.crossJoin(broadcast(best))
        .select(col("t_value"), col("n_cal"),
          round(col("nll_u").cast("double") / lit(1e6), 6).as("nll"),
          (col("nll_u") === col("b.nu") && col("t_value") === col("b.tv"))
            .cast("long").as("is_best"))
    }, Some(OracleSteps + s""",
      cal AS (SELECT y,
          w3.w0 + w3.w1 * x1 + w3.w2 * x2 + w3.w3 * x3 AS z
        FROM f, w3
        WHERE CAST(CAST('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)
          || ':conf'), 1, 15) AS BIGINT) AS DOUBLE)
          / 1152921504606846976.0 < 0.5),
      grid AS (SELECT y, z, CAST(tv AS DOUBLE) AS t_value
        FROM cal, unnest([0.5, 0.75, 1.0, 1.5, 2.0, 3.0]) g(tv)),
      tg1 AS (SELECT *, (z / t_value) AS zt, -(z / t_value) AS mzt
        FROM grid),
      tg2 AS (SELECT *, ${DetMathSql.expK("mzt")} AS ek FROM tg1),
      tg3 AS (SELECT *, ${DetMathSql.expR("mzt", "ek")} AS er,
          ${DetMathSql.expK1("ek")} AS ek1 FROM tg2),
      tg4 AS (SELECT *, ek - ek1 AS ek2, ${DetMathSql.expPoly("er")} AS ep
        FROM tg3),
      tg5 AS (SELECT *, CAST(1.0 AS DOUBLE) +
          ${DetMathSql.expScale(DetMathSql.expScale("ep", "ek1"), "ek2")}
          AS w1p
        FROM tg4),
      tg6 AS (SELECT *, ${DetMathSql.lnDoubleGe1("w1p")} AS sp FROM tg5),
      terms AS (SELECT t_value,
          CAST(ROUND((y * sp + (1.0 - y) * (zt + sp)) * 1000000) AS BIGINT)
            AS term_u
        FROM tg6),
      nllt AS (SELECT t_value, CAST(COUNT(*) AS BIGINT) AS n_cal,
          CAST(SUM(term_u) AS BIGINT) AS nll_u
        FROM terms GROUP BY t_value),
      best AS (SELECT nll_u AS bnu, t_value AS btv FROM nllt
        ORDER BY nll_u ASC, t_value ASC LIMIT 1)
      SELECT t_value, n_cal,
        round(CAST(nll_u AS DOUBLE) / 1000000.0, 6) AS nll,
        CAST(nllt.nll_u = best.bnu AND nllt.t_value = best.btv AS BIGINT)
          AS is_best
      FROM nllt, best"""),
      notes = "temperature-scaling calibration fit (Guo et al.): exact 6-point grid search minimizing micro-unit NLL on q180's calibration slice (clamped sigmoid keeps ln ANSI-finite), one keyed agg over a bounded fan-out, BIGINT argmin with lowest-T tiebreak — the post-hoc recalibration artifact beside q148's measurement")
  )
}
