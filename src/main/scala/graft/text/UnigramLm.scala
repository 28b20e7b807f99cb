package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Ops, QueryDef}
import graft.analytics.Ops.t

/** Unigram-LM (SentencePiece-style) tokenizer trainer — the OTHER
  * production tokenizer family beside BPE (q72/q75/q78/q132): instead of
  * greedily growing merges, start from an over-complete candidate-piece
  * vocabulary and iteratively (E) segment the corpus under the current
  * piece log-probs, (M) re-estimate probs from usage counts, and PRUNE
  * the least-used pieces — Kudo 2018's trainer with hard-EM (Viterbi)
  * E-steps.
  *
  * Spark-first decomposition (the q71/q75 driver-held-state pattern):
  *  - The VOCABULARY is bounded metadata (seed 200 multi-char pieces +
  *    the corpus alphabet) and lives on the driver between rounds,
  *    broadcast into each E-step as a map literal — never a joinable
  *    corpus-sized frame.
  *  - Each E-step is ONE narrow scan of the DISTINCT-WORD table (words
  *    carry their corpus counts, so segmenting each distinct word once
  *    covers every occurrence) + one piece-keyed hash-agg with map-side
  *    partials: exactly the shape a 100 TB trainer runs, because the
  *    distinct-word table is orders smaller than the corpus and the
  *    vocab is O(target size).
  *  - Viterbi segmentation of one word is an inherently SEQUENTIAL DP
  *    over its characters — expressed as a single codegen-friendly
  *    `aggregate` HOF over positions (bounded: words are capped at
  *    [[MaxWordLen]] chars, pieces at [[MaxPieceLen]]), not a UDF and
  *    not driver logic. Integer micro-unit log-probs make every score
  *    comparison exact, so tie-breaks are deterministic cross-run
  *    (longest-piece-wins on equal score; see [[viterbiExpr]]).
  *
  * Gating follows the BPE family split: the SEED SELECTION (q232) is
  * pure relational algebra — substring explode + hash-agg + top-k with
  * total tie order — and is fully hash-gated against DuckDB. The EM
  * LOOP (q233) is rows-only for q75's reason (the sequential DP has no
  * SQL twin); UnigramLmSpec pins every round against an independent
  * plain-Scala brute-force reimplementation (same integer arithmetic,
  * same tie-breaks), which is the same parity discipline
  * TrainingDataOpsSpec applies to q75. */
object UnigramLm {

  /** Longest candidate piece (SentencePiece's max_sentencepiece_length
    * spirit; 4 keeps the seed space dense at fixture scale). */
  val MaxPieceLen = 4

  /** Words longer than this are excluded from training stats (URL-ish
    * rare-tail; coverage is unaffected because the alphabet still seeds
    * from the kept words). Bounds the DP at MaxWordLen·MaxPieceLen
    * candidate probes per word. */
  val MaxWordLen = 24

  /** Multi-char seed pieces kept by the q232 selection. */
  val SeedSize = 200

  /** Per-round prune survival fraction for multi-char pieces. */
  val KeepFraction = 0.75

  /** Distinct training words with corpus occurrence counts:
    * (word, cnt). One scan + one word-keyed hash-agg. */
  private[text] def wordCounts(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      // NFKC first — the SentencePiece convention (TextClean.nfkc);
      // identity on the pure-ASCII fixture corpus (UnicodeNormSpec pins
      // the premise), so the training-replay oracles stay exact.
      .select(explode(split(TextClean.nfkc(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0 && length(col("word")) <= MaxWordLen)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** q232's frame: every substring of length 2..MaxPieceLen of every
    * training word, occurrence-weighted, scored freq·len (the standard
    * frequency-times-length seed heuristic), top-[[SeedSize]] with
    * (score desc, piece asc) total tie order. */
  private[text] def seedFrame(s: SparkSession, d: String): DataFrame =
    wordCounts(s, d)
      .select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), st ->
           |  filter(transform(array(${(2 to MaxPieceLen).mkString(", ")}), pl ->
           |    CASE WHEN st + pl - 1 <= length(word)
           |         THEN substring(word, st, pl) END),
           |  x -> x IS NOT NULL)))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("n_occ"))
      .select(col("piece"), col("n_occ"),
        (col("n_occ") * length(col("piece"))).cast("long").as("score"))
      .orderBy(col("score").desc, col("piece").asc)
      .limit(SeedSize)

  /** The Viterbi DP over one word's positions as a single `aggregate`
    * HOF. Accumulator: array of (s: best micro-log-prob, g: its
    * segmentation) per prefix, seeded with the empty prefix. Candidates
    * at position i are the vocab pieces ending there (pl = MaxPieceLen
    * down to 1); the inner aggregate keeps the STRICTLY better score, so
    * with candidates enumerated longest-first, ties break to the longest
    * piece — the deterministic rule UnigramLmSpec's brute force mirrors.
    * Integer micro-unit scores make "equal" exact, never a ULP race.
    * `__v` is the broadcast vocab map literal (piece -> lp_micro);
    * try_element_at both probes membership and fetches the log-prob
    * (ANSI-safe on missing keys). */
  private[text] val viterbiExpr: String = {
    val pls = (1 to MaxPieceLen).reverse.mkString(", ")
    s"""aggregate(
       |  sequence(1, length(word)),
       |  array(named_struct('s', 0L, 'g', CAST(array() AS array<string>))),
       |  (acc, i) -> array_append(acc,
       |    aggregate(
       |      filter(transform(array($pls), pl ->
       |        CASE WHEN i - pl >= 0
       |              AND try_element_at(__v, substring(word, i - pl + 1, pl))
       |                  IS NOT NULL
       |          THEN named_struct(
       |            's', element_at(acc, i - pl + 1).s
       |                   + try_element_at(__v, substring(word, i - pl + 1, pl)),
       |            'g', array_append(element_at(acc, i - pl + 1).g,
       |                   substring(word, i - pl + 1, pl)))
       |        END), x -> x IS NOT NULL),
       |      CAST(NULL AS struct<s: bigint, g: array<string>>),
       |      (b, c) -> IF(b IS NULL OR c.s > b.s, c, b))),
       |  acc -> element_at(acc, -1).g)""".stripMargin
  }

  /** One hard-EM E-step: Viterbi-segment every distinct word under the
    * driver-held vocab, explode the chosen pieces, and hash-agg
    * occurrence-weighted usage. Returns the bounded (piece -> n_uses)
    * map (≤ |vocab| rows — every surfaced piece IS a vocab key). */
  private[text] def eStep(wc: DataFrame, vocab: Map[String, Long]): Map[String, Long] =
    wc.withColumn("__v", typedLit(vocab))
      .select(col("cnt"), explode(expr(viterbiExpr)).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("n_uses"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Laplace-smoothed micro-unit log-probs over the kept pieces:
    * lp = round((detLn(uses+1) − detLn(Σ(uses+1))) · 1e6). HASH-GATED
    * since the r11 continuation, so the arithmetic must be bit-portable
    * CROSS-ENGINE: ln is [[graft.functions.DetMath.lnLong]] (the same
    * operation tree DetMathSql.lnLong emits for the oracle — a single
    * StrictMath.log of the quotient would carry libm-vs-fdlibm ULP
    * slack), and rounding is HALF-AWAY-FROM-ZERO to match DuckDB's
    * ROUND on the negative lp values (Math.round is half-up toward +∞,
    * which differs on an exact negative .5 boundary). */
  private[text] def smoothedLp(kept: Seq[String],
      uses: Map[String, Long]): Map[String, Long] = {
    val total = kept.map(p => uses.getOrElse(p, 0L) + 1L).sum
    kept.map { p =>
      val u = uses.getOrElse(p, 0L) + 1L
      val v = (graft.functions.DetMath.lnLong(u)
        - graft.functions.DetMath.lnLong(total)) * 1e6
      // BigDecimal HALF_UP (Java's HALF_UP ties away from zero — DuckDB
      // ROUND's semantics), not floor(abs+0.5): the float form misrounds
      // when abs(v)+0.5 crosses an integer boundary in IEEE arithmetic
      // (e.g. 0.49999999999999994 + 0.5 == 1.0).
      p -> BigDecimal(v)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).longValue
    }.toMap
  }

  /** The full trainer: seed -> `rounds` × (E-step, prune, M-step).
    * Returns the final vocab as (piece, n_uses, lp_micro) rows sorted
    * (n_uses desc, piece asc). The last round re-counts without pruning
    * so the surfaced n_uses describe the RETURNED vocab. */
  private[text] def train(s: SparkSession, d: String,
      rounds: Int = 3): Seq[(String, Long, Long)] = {
    // pinned: the distinct-word table feeds every round's E-step (the
    // q75/DedupClusters iteration rule — cut the re-scan, frames here
    // are unique-words-sized, far below corpus size)
    val wc = wordCounts(s, d).localCheckpoint(true)
    val alphabet = wc
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("piece"))
      .groupBy("piece").agg(sum("cnt").as("n_occ"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val seeds = seedFrame(s, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var vocab = smoothedLp((alphabet ++ seeds).keys.toSeq.sorted,
      alphabet ++ seeds)
    var uses = Map.empty[String, Long]
    (1 to rounds).foreach { r =>
      uses = eStep(wc, vocab)
      val multi = vocab.keys.filter(_.length > 1).toSeq
      val keep: Set[String] =
        if (r == rounds) multi.toSet
        else multi.sortBy(p => (-uses.getOrElse(p, 0L), p))
          .take(math.ceil(multi.size * KeepFraction).toInt).toSet
      val kept = vocab.keys.filter(p => p.length == 1 || keep(p)).toSeq.sorted
      vocab = smoothedLp(kept, uses)
    }
    vocab.keys.toSeq
      .map(p => (p, uses.getOrElse(p, 0L), vocab(p)))
      .sortBy { case (p, u, _) => (-u, p) }
  }

  // ── Relational EM unroll (the r11-continuation oracle for q233/q236:
  // the IvfIndexSql/BPE-unroll trick applied to the LAST sequential
  // family). The per-word Viterbi DP becomes a RECURSIVE CTE: the
  // forward pass slides a 4-wide best-score window (b1..b4 = best[i−3..
  // i]) over word positions with the 4 candidate pieces fetched by
  // LEFT JOINs against the vocab CTE (GREATEST of the NULL-guarded
  // sums — longest-piece-wins falls out in the BACKTRACK, which picks
  // the LONGEST pl achieving best[i], provably equal to the forward's
  // longest-first strictly-better rule on integer scores); the
  // backtrack is a second recursion over a precomputed per-(word, i)
  // `choice` table. Every cross-stage CTE is MATERIALIZED — without the
  // hint DuckDB re-evaluates the whole upstream chain once per
  // recursion ITERATION (measured >250 s; with hints 0.9-3.1 s at the
  // three SFs). Validated piece-for-piece against the plain-Scala
  // replica at all three SFs before wiring.

  private def lnSql(x: String): String = graft.functions.DetMathSql.lnLong(x)

  /** One E-step: fw/bests/choice/bt/emit/usage CTEs for round `r` under
    * vocab CTE `voc` (piece, lp). */
  private def oracleViterbiBank(r: Int, voc: String): String =
    s"""fw$r AS (
       |  SELECT word, 0 AS i, CAST(NULL AS BIGINT) AS b1,
       |         CAST(NULL AS BIGINT) AS b2, CAST(NULL AS BIGINT) AS b3,
       |         CAST(0 AS BIGINT) AS b4
       |  FROM wcx
       |  UNION ALL
       |  SELECT f.word, f.i + 1, f.b2, f.b3, f.b4,
       |    greatest(
       |      CASE WHEN f.b4 IS NOT NULL THEN f.b4 + v1.lp END,
       |      CASE WHEN f.i >= 1 AND f.b3 IS NOT NULL THEN f.b3 + v2.lp END,
       |      CASE WHEN f.i >= 2 AND f.b2 IS NOT NULL THEN f.b2 + v3.lp END,
       |      CASE WHEN f.i >= 3 AND f.b1 IS NOT NULL THEN f.b1 + v4.lp END)
       |  FROM fw$r f
       |  LEFT JOIN $voc v1 ON v1.piece = substring(f.word, f.i + 1, 1)
       |  LEFT JOIN $voc v2 ON v2.piece = substring(f.word, f.i, 2)
       |  LEFT JOIN $voc v3 ON v3.piece = substring(f.word, f.i - 1, 3)
       |  LEFT JOIN $voc v4 ON v4.piece = substring(f.word, f.i - 2, 4)
       |  WHERE f.i < len(f.word)),
       |bests$r AS MATERIALIZED (SELECT word, i, b4 AS best FROM fw$r),
       |choice$r AS MATERIALIZED (
       |  SELECT word, i, piece FROM (
       |    SELECT bc.word, bc.i,
       |      substring(bc.word, CAST(bc.i - pls.pl + 1 AS INT),
       |        CAST(pls.pl AS INT)) AS piece,
       |      row_number() OVER (PARTITION BY bc.word, bc.i
       |        ORDER BY pls.pl DESC) AS rn
       |    FROM bests$r bc
       |    CROSS JOIN (SELECT unnest([4, 3, 2, 1]) AS pl) pls
       |    JOIN bests$r bp ON bp.word = bc.word AND bp.i = bc.i - pls.pl
       |    JOIN $voc v ON v.piece =
       |      substring(bc.word, CAST(bc.i - pls.pl + 1 AS INT),
       |        CAST(pls.pl AS INT))
       |    WHERE bc.i >= 1 AND bp.best IS NOT NULL
       |      AND bp.best + v.lp = bc.best)
       |  WHERE rn = 1),
       |bt$r AS (
       |  SELECT word, CAST(len(word) AS BIGINT) AS i FROM wcx
       |  UNION ALL
       |  SELECT b.word, b.i - len(c.piece)
       |  FROM bt$r b JOIN choice$r c ON c.word = b.word AND c.i = b.i
       |  WHERE b.i > 0),
       |emit$r AS (
       |  SELECT b.word, c.piece FROM bt$r b
       |  JOIN choice$r c ON c.word = b.word AND c.i = b.i
       |  WHERE b.i > 0),
       |usage$r AS MATERIALIZED (
       |  SELECT e.piece, CAST(SUM(w.cnt) AS BIGINT) AS n
       |  FROM emit$r e JOIN wcx w USING (word) GROUP BY 1)""".stripMargin

  /** One prune + M-step: multi/keep/kept/ku/tot/kus/v CTEs for round `r`
    * over the previous vocab `vocPrev` and this round's `usage$r`. */
  private def oracleMStepBank(r: Int, vocPrev: String,
      prune: Boolean): String = {
    val ksel =
      if (prune) s"(SELECT CAST(CEIL(COUNT(*) * 0.75) AS BIGINT) FROM multi$r)"
      else s"(SELECT COUNT(*) FROM multi$r)"
    s"""multi$r AS (SELECT piece FROM $vocPrev WHERE len(piece) > 1),
       |keep$r AS (
       |  SELECT piece FROM (
       |    SELECT m.piece, COALESCE(u.n, 0) AS n
       |    FROM multi$r m LEFT JOIN usage$r u USING (piece))
       |  QUALIFY row_number() OVER (ORDER BY n DESC, piece ASC) <= $ksel),
       |kept$r AS (
       |  SELECT piece FROM $vocPrev WHERE len(piece) = 1
       |  UNION ALL SELECT piece FROM keep$r),
       |ku$r AS (
       |  SELECT k.piece, COALESCE(u.n, 0) + 1 AS u1
       |  FROM kept$r k LEFT JOIN usage$r u USING (piece)),
       |tot$r AS (SELECT CAST(SUM(u1) AS BIGINT) AS t FROM ku$r),
       |kus$r AS (SELECT piece, u1, (SELECT t FROM tot$r) AS t FROM ku$r),
       |v$r AS MATERIALIZED (
       |  SELECT piece, CAST(ROUND((${lnSql("u1")} - ${lnSql("t")})
       |    * 1000000) AS BIGINT) AS lp
       |  FROM kus$r)""".stripMargin
  }

  /** Shared head: word counts, alphabet + seed census, the initial
    * smoothed vocab v0, and the three unrolled EM rounds ending in
    * v3/usage3. Opened with WITH RECURSIVE by the callers. */
  private def oracleTrainCore: String =
    s"""wcx AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '),
       |      x -> len(x) > 0 AND len(x) <= $MaxWordLen)) AS word
       |    FROM documents)
       |  GROUP BY word),
       |alpha AS (
       |  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS u FROM (
       |    SELECT cnt, unnest(list_transform(range(1, len(word) + 1),
       |      i -> substr(word, CAST(i AS INT), 1))) AS piece FROM wcx)
       |  GROUP BY piece),
       |spieces AS (
       |  SELECT cnt, unnest(flatten(list_transform(range(1, len(word) + 1),
       |    st -> list_filter(list_transform([${(2 to MaxPieceLen).mkString(", ")}],
       |      pl -> CASE WHEN st + pl - 1 <= len(word)
       |                 THEN substr(word, CAST(st AS INT), CAST(pl AS INT)) END),
       |      x -> x IS NOT NULL)))) AS piece
       |  FROM wcx),
       |seeds AS (
       |  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS u
       |  FROM spieces GROUP BY piece
       |  ORDER BY SUM(cnt) * len(piece) DESC, piece ASC LIMIT $SeedSize),
       |v0u AS (SELECT piece, u + 1 AS u1 FROM alpha
       |        UNION ALL SELECT piece, u + 1 FROM seeds),
       |tot0 AS (SELECT CAST(SUM(u1) AS BIGINT) AS t FROM v0u),
       |v0s AS (SELECT piece, u1, (SELECT t FROM tot0) AS t FROM v0u),
       |v0 AS MATERIALIZED (
       |  SELECT piece, CAST(ROUND((${lnSql("u1")} - ${lnSql("t")})
       |    * 1000000) AS BIGINT) AS lp FROM v0s),
       |${oracleViterbiBank(1, "v0")},
       |${oracleMStepBank(1, "v0", prune = true)},
       |${oracleViterbiBank(2, "v1")},
       |${oracleMStepBank(2, "v1", prune = true)},
       |${oracleViterbiBank(3, "v2")},
       |${oracleMStepBank(3, "v2", prune = false)}""".stripMargin

  private[text] def q233OracleSql: String =
    s"""WITH RECURSIVE ${oracleTrainCore}
       |SELECT v3.piece, COALESCE(u.n, 0) AS n_uses, v3.lp AS lp_micro
       |FROM v3 LEFT JOIN usage3 u USING (piece)""".stripMargin

  private[text] def q236OracleSql: String =
    s"""WITH RECURSIVE ${oracleTrainCore},
       |${oracleViterbiBank(4, "v3")},
       |wp AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces
       |  FROM emit4 GROUP BY word),
       |dwords AS (
       |  SELECT doc_id, unnest(${TextSignals.wordsSql()}) AS word
       |  FROM documents),
       |perdoc AS (
       |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words_all,
       |    CAST(SUM(CASE WHEN wp.n_pieces IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_skipped,
       |    CAST(COALESCE(SUM(wp.n_pieces), 0) AS BIGINT) AS n_pieces
       |  FROM dwords d LEFT JOIN wp USING (word) GROUP BY 1)
       |SELECT doc.doc_id,
       |  COALESCE(p.n_words_all - p.n_skipped, 0) AS n_words,
       |  COALESCE(p.n_skipped, 0) AS n_skipped,
       |  COALESCE(p.n_pieces, 0) AS n_pieces,
       |  COALESCE(CASE WHEN p.n_words_all - p.n_skipped > 0
       |    THEN CAST(ROUND(p.n_pieces * 1000000.0 /
       |      (p.n_words_all - p.n_skipped)) AS BIGINT) / 1000000.0
       |    ELSE 0.0 END, 0.0) AS fertility
       |FROM documents doc LEFT JOIN perdoc p USING (doc_id)""".stripMargin

  val defs: Seq[QueryDef] =
    Seq(
      // ── Candidate-piece seed selection (the gated relational half) ──
      // Substring explode + piece-keyed hash-agg + freq·len top-k: the
      // over-complete vocabulary the EM loop prunes from. One narrow
      // scan; the explode fans out ≤ MaxWordLen·(MaxPieceLen-1) pieces
      // per DISTINCT word (the word-count agg collapses the corpus
      // first); TakeOrderedAndProject keeps the top-200 without a
      // global sort. Fully hash-gated: counts and the (score desc,
      // piece asc) total tie order are engine-portable integers.
      QueryDef("q232_unigram_seed", (s, d) => seedFrame(s, d), Some(s"""
      WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '),
          x -> len(x) > 0 AND len(x) <= $MaxWordLen)) AS word
        FROM documents),
      wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
             FROM toks GROUP BY word),
      pieces AS (
        SELECT cnt, unnest(flatten(list_transform(range(1, len(word) + 1),
          st -> list_filter(list_transform([${(2 to MaxPieceLen).mkString(", ")}],
            pl -> CASE WHEN st + pl - 1 <= len(word)
                       THEN substr(word, st, pl) END),
            x -> x IS NOT NULL)))) AS piece
        FROM wc)
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n_occ,
        CAST(SUM(cnt) * len(piece) AS BIGINT) AS score
      FROM pieces GROUP BY piece
      ORDER BY score DESC, piece ASC LIMIT $SeedSize"""),
        notes = "unigram-LM trainer seed: occurrence-weighted substring (len 2-4) candidates, freq*len score, top-200 total tie order; the hash-gated relational half of the q233 trainer"),

      // ── The EM trainer itself (driver-held vocab state) ─────────────
      // 3 rounds of Viterbi-segment -> usage hash-agg -> prune 25% of
      // multi-char pieces -> re-estimate smoothed log-probs. Rows-only
      // for q75's reason: the per-word DP is sequential and has no SQL
      // twin; UnigramLmSpec pins every round's usage counts, prune set,
      // and final vocab against a plain-Scala brute-force Viterbi with
      // identical integer arithmetic and tie-breaks.
      QueryDef("q233_unigram_train", (s, d) => {
        import s.implicits._
        train(s, d, 3).toDF("piece", "n_uses", "lp_micro")
      }, Some(q233OracleSql),
        notes = "SentencePiece-style unigram-LM trainer: hard-EM (Viterbi) E-steps as one distinct-word scan + piece hash-agg each, driver-held bounded vocab, 25% prune rounds; HASH-GATED since the r11 continuation — the recursive-CTE EM unroll replays seed, all three Viterbi E-steps, prunes and DetMath M-steps (was rows-only); brute-force spec parity kept"),

      // ── The APPLY half (q132's role for the unigram family) ─────────
      // Train once (driver-held vocab), then Viterbi-encode every
      // document under the FINAL log-probs and surface the per-doc
      // tokenization accounting a corpus owner reads: word/piece counts
      // and fertility (pieces per word — the standard tokenizer-quality
      // readout, q178's metric under the other trainer family). The
      // encode pass segments each DISTINCT word once and joins the
      // bounded (word, n_pieces) table back to per-doc occurrences —
      // at 100 TB the corpus pays one explode + one word-keyed join,
      // never a per-occurrence DP. Words beyond MaxWordLen are counted
      // as skipped (their chars may be outside the trained alphabet;
      // the trainer applied the same cap). Left join keeps empty docs.
      QueryDef("q236_unigram_encode", (s, d) => {
        val vocab = train(s, d, 3).map { case (p, _, lp) => p -> lp }.toMap
        val wordPieces = wordCounts(s, d)
          .withColumn("__v", typedLit(vocab))
          .select(col("word"),
            size(expr(viterbiExpr)).cast("long").as("n_pieces"))
        val words = t(s, d, "documents")
          // encode normalizes exactly as training did (NFKC, see wordCounts)
          .select(col("doc_id"),
            explode(split(TextClean.nfkc(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0)
        val perDoc = words
          .join(wordPieces, Seq("word"), "left_outer")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words_all"),
            sum(when(col("n_pieces").isNull, 1L).otherwise(0L))
              .as("n_skipped"),
            coalesce(sum("n_pieces"), lit(0L)).as("n_pieces"))
        t(s, d, "documents").select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("n_words_all") - col("n_skipped"), lit(0L))
              .as("n_words"),
            coalesce(col("n_skipped"), lit(0L)).as("n_skipped"),
            coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
            // integer-first micro rounding (determinism hygiene even
            // though rows-only: no float knife edge run-to-run)
            // ANSI-safe: an all-skipped doc divides by zero -> guard it
            coalesce(
              when(col("n_words_all") - col("n_skipped") > 0,
                round(col("n_pieces") * lit(1e6) /
                    (col("n_words_all") - col("n_skipped")))
                  .cast("long") / lit(1e6))
                .otherwise(lit(0.0)),
              lit(0.0)).as("fertility"))
      }, Some(q236OracleSql),
        notes = "unigram-LM encoder (the q132 role for the SentencePiece family): Viterbi-segment each DISTINCT word once under the trained vocab, join counts back per doc — word/piece/skipped counts + fertility; HASH-GATED since the r11 continuation (the q233 EM unroll + a fourth Viterbi bank under the final vocab); brute-force encode parity kept in UnigramLmSpec"))
}
