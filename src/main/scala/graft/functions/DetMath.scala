package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine DETERMINISTIC elementary math.
  *
  * Why this exists: the hash-gated catalog quantizes scores like
  * `round(ln(p) * 1e6)` to exact BIGINTs so engine-order-independent sums
  * stay bit-comparable between Spark and the DuckDB oracle. That idiom is
  * exact only if the pre-round double is BIT-IDENTICAL on both engines —
  * and libm `log` (DuckDB) vs the JVM intrinsic (Spark) are each allowed
  * ~1 ULP of slack, so a value landing within an ULP of a rounding
  * knife-edge flips the rounded integer on one engine only. q143 hit
  * exactly this at sf0.01 in round 7 (the catalog's only red row); q153 and
  * q165 passed "by luck, not by construction" (VERDICT r07, What's wrong #1).
  *
  * The by-construction fix: compute ln from ONLY IEEE-754 basic operations
  * (+ - * /, all correctly rounded and therefore bit-identical across any
  * compliant engine), with the SAME association order on both sides:
  *
  *   x ≥ 1 integer:  e = bitLength(x) - 1          (exact, via bin-string)
  *                   m = x / 2^e  ∈ [1, 2)         (exact quotient)
  *                   z = (m-1)/(m+1) ∈ [0, 1/3)
  *                   ln m = 2z · (1 + z²·P(z²))     (atanh series, Horner)
  *                   ln x = e·LN2 + ln m
  *
  * P has 17 Horner coefficients 1/3 … 1/35 — truncation < 6e-19, so the
  * result is within 1 ULP of true ln (property-pinned in DetMathSpec), and
  * identical to the last bit on Spark, DuckDB, the JVM, and CPython
  * (bit-equality re-runnable via `tools/detmath_check.py` — 0 mismatches
  * over x ∈ [1, 3e5] for ln and x ∈ [-80, 80] for exp; the driver's 3-SF
  * hash gates re-prove it on every query that uses it).
  * ln(a/b) for integers a, b is `detLnLong(a) - detLnLong(b)` — both
  * operands bit-identical, so the difference is too.
  *
  * [[DetMathSql]] emits the DuckDB-SQL twin with the exact same op tree.
  * The Spark side executes as single-node codegen'd expressions
  * ([[DetMathExpressions]]) calling the JVM reference impls below; the
  * Column-TREE builders (tree*) stay as the spec-pinned executable proof
  * that the op sequence the SQL twin evaluates is bit-identical.
  */
object DetMath {
  /** Odd reciprocal coefficients of the atanh series, 1/3 … 1/35. */
  private[functions] val Ks: Seq[Int] = 3 to 35 by 2

  /** The double nearest ln 2; the identical literal appears in the SQL twin. */
  val LN2 = 0.6931471805599453

  /** Column builders resolve through the registered single-node
    * expressions ([[DetMathExpressions]]): the Column-TREE forms below
    * (tree*) are bit-identical (DetMathSpec) but their serialized trees
    * blow up combinatorially when composed — q197's softplus went to a
    * 273 MiB task binary on the r08 bring-up bench. Registration is
    * idempotent and piggybacked here so every call site works in any
    * session that has one active. */
  private def viaFn(name: String, arg: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftFunctions.register)
    call_function(name, arg)
  }

  /** Deterministic ln of a positive integral column (cast to BIGINT).
    * Behaviour for x < 1 is undefined (callers guard, as they already did
    * for plain `log`). */
  def detLnLong(x: Column): Column =
    viaFn("graft_det_ln_long", x.cast("long"))

  /** The original Column-TREE form — spec-only, kept as the executable
    * proof that the op sequence the DuckDB twin evaluates is bit-identical
    * to [[lnLong]] (which the single-node expression calls). */
  private[functions] def treeLnLong(x: Column): Column = {
    val xl = x.cast("long")
    val e = length(bin(xl)) - lit(1)
    val m = xl.cast("double") /
      call_function("shiftleft", lit(1L), e.cast("int")).cast("double")
    val z = (m - lit(1.0)) / (m + lit(1.0))
    val z2 = z * z
    // P = 1/3 + z2*(1/5 + z2*( … + z2*(1/35)))
    val p = Ks.init.foldRight(lit(1.0 / Ks.last): Column)((k, acc) =>
      lit(1.0 / k) + (z2 * acc))
    (e.cast("double") * lit(LN2)) + ((lit(2.0) * z) * (lit(1.0) + (z2 * p)))
  }

  /** Deterministic ln(a/b) for positive integral columns: computed as
    * ln a − ln b so every intermediate is bit-identical cross-engine. */
  def detLnRatio(a: Column, b: Column): Column = detLnLong(a) - detLnLong(b)

  /** Factorial terms of the e^r Taylor series (r ∈ [−ln2/2, ln2/2],
    * truncation < 1e-26). */
  private[functions] val ExpN = 18

  /** Cody–Waite split of ln 2 for the argument reduction r = x − k·ln2:
    * LN2HI carries the high bits exactly, LN2LO the residual — fidelity
    * within ~1 ULP of true exp, and (the point) every op is IEEE-basic so
    * the result is bit-identical cross-engine. */
  private[functions] val LN2HI = 0.6931471803691238
  private[functions] val LN2LO = 1.9082149292705877e-10
  private[functions] val INVLN2 = 1.4426950408889634

  /** Deterministic e^x for |x| ≤ ~86 (the k-split covers |k| ≤ 124;
    * callers in the catalog feed sigmoid/loss deltas, |x| < 40).
    *   k = round(x/ln2);  r = (x − k·LN2HI) − k·LN2LO ∈ [−ln2/2, ln2/2]
    *   e^r by 18-term Taylor-Horner;  e^x = e^r · 2^k1 · 2^k2, k = k1+k2
    * (scaling by an exact power of two never rounds, and splitting k keeps
    * each BIGINT shift in range). */
  def detExp(x: Column): Column = viaFn("graft_det_exp", x.cast("double"))

  /** Column-TREE form of detExp — spec-only (see [[treeLnLong]]). */
  private[functions] def treeExp(x: Column): Column = {
    val k = round(x * lit(INVLN2)).cast("long")
    val kd = k.cast("double")
    val r = (x - (kd * lit(LN2HI))) - (kd * lit(LN2LO))
    // P = 1 + (r/1)·(1 + (r/2)·(1 + … (r/18)·1))
    val p = (ExpN to 1 by -1).foldLeft(lit(1.0): Column)((acc, n) =>
      lit(1.0) + ((r / lit(n.toDouble)) * acc))
    val k1 = (kd / lit(2.0)).cast("long") // trunc-toward-zero, same as SQL //
    val k2 = k - k1
    def scale(v: Column, kk: Column): Column =
      when(kk >= 0,
        v * call_function("shiftleft", lit(1L), kk.cast("int")).cast("double"))
      .otherwise(
        v / call_function("shiftleft", lit(1L), (-kk).cast("int")).cast("double"))
    scale(scale(p, k1), k2)
  }

  /** Deterministic logistic sigmoid 1/(1 + e^(−x)) — the logreg scoring
    * nonlinearity, bit-identical cross-engine. */
  def detSigmoid(x: Column): Column = lit(1.0) / (lit(1.0) + detExp(-x))

  /** Deterministic ln for a DOUBLE argument w ∈ [1, 2^62): the range
    * reduction exponent comes from floor(w)'s bit length (exact — no
    * engine log2), then the same atanh series as [[detLnLong]]. The
    * catalog's use is softplus(u) = ln(1 + e^u), whose argument is ≥ 1 by
    * construction; u ≤ 43 keeps floor(w) inside BIGINT. */
  def detLnDoubleGe1(w: Column): Column =
    viaFn("graft_det_ln_ge1", w.cast("double"))

  /** Column-TREE form of detLnDoubleGe1 — spec-only (see [[treeLnLong]]). */
  private[functions] def treeLnDoubleGe1(w: Column): Column = {
    val e = length(bin(floor(w).cast("long"))) - lit(1)
    val m = w / call_function("shiftleft", lit(1L), e.cast("int")).cast("double")
    val z = (m - lit(1.0)) / (m + lit(1.0))
    val z2 = z * z
    val p = Ks.init.foldRight(lit(1.0 / Ks.last): Column)((k, acc) =>
      lit(1.0 / k) + (z2 * acc))
    (e.cast("double") * lit(LN2)) + ((lit(2.0) * z) * (lit(1.0) + (z2 * p)))
  }

  /** JVM-double twin of [[detLnDoubleGe1]]. */
  def lnDoubleGe1(w: Double): Double = {
    require(w >= 1.0, s"detLnDoubleGe1 domain is w >= 1, got $w")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(math.floor(w).toLong)
    val m = w / (1L << e).toDouble
    val z = (m - 1.0) / (m + 1.0)
    val z2 = z * z
    var p = 1.0 / Ks.last
    Ks.init.reverseIterator.foreach(k => p = 1.0 / k + (z2 * p))
    (e.toDouble * LN2) + ((2.0 * z) * (1.0 + (z2 * p)))
  }

  /** JVM-double twin of [[detExp]] — the spec's bit-equality reference. */
  def expDouble(x: Double): Double = {
    // Half-away-from-zero, equal to Spark Round's BigDecimal path and to
    // libm round() for EVERY double, without the per-row BigDecimal
    // allocation: non-ties take rint (nearest); an exact .5 fraction (the
    // only case rint's half-even differs) rounds away from zero.
    // floor(v+0.5) would NOT work — it mis-rounds values 1 ULP below a half.
    val v = x * INVLN2
    val f = Math.floor(v)
    val k = (if (v - f == 0.5) { if (v >= 0) f + 1.0 else f }
             else Math.rint(v)).toLong
    val kd = k.toDouble
    val r = (x - (kd * LN2HI)) - (kd * LN2LO)
    var p = 1.0
    (ExpN to 1 by -1).foreach(n => p = 1.0 + ((r / n) * p))
    val k1 = (kd / 2.0).toLong
    val k2 = k - k1
    def scale(v: Double, kk: Long): Double =
      if (kk >= 0) v * (1L << kk).toDouble else v / (1L << (-kk)).toDouble
    scale(scale(p, k1), k2)
  }

  /** Same series on plain JVM doubles — the reference the spec pins the
    * Column version against, and a building block for driver-side models. */
  def lnLong(x: Long): Double = {
    require(x >= 1, s"detLn domain is x >= 1, got $x")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val m = x.toDouble / (1L << e).toDouble
    val z = (m - 1.0) / (m + 1.0)
    val z2 = z * z
    var p = 1.0 / Ks.last
    Ks.init.reverseIterator.foreach(k => p = 1.0 / k + (z2 * p))
    (e.toDouble * LN2) + ((2.0 * z) * (1.0 + (z2 * p)))
  }
}

/** DuckDB-SQL twin of [[DetMath]]: emits the same operation tree, textually,
  * so the oracle computes bit-identical doubles. Constants are CAST to
  * DOUBLE explicitly — a bare `0.6931471805599453` literal parses as
  * DECIMAL in DuckDB, which would silently change the arithmetic. */
object DetMathSql {
  private val LN2 = "CAST(0.6931471805599453 AS DOUBLE)"

  /** ln of a positive integral SQL expression, fully inline. The atanh
    * argument is expanded textually (z² appears once per Horner level), so
    * keep `x` a SHORT column reference — alias complex inputs in a prior
    * CTE stage first. */
  def lnLong(x: String): String = {
    val e = s"(length(bin(CAST($x AS BIGINT))) - 1)"
    val m = s"(CAST($x AS DOUBLE) / CAST((CAST(1 AS BIGINT) << $e) AS DOUBLE))"
    val z = s"(($m - CAST(1.0 AS DOUBLE)) / ($m + CAST(1.0 AS DOUBLE)))"
    val z2 = s"($z * $z)"
    val p = DetMath.Ks.init.foldRight(
      s"(CAST(1.0 AS DOUBLE)/CAST(${DetMath.Ks.last}.0 AS DOUBLE))") {
      (k, acc) => s"((CAST(1.0 AS DOUBLE)/CAST($k.0 AS DOUBLE)) + ($z2 * $acc))"
    }
    s"((CAST($e AS DOUBLE) * $LN2) + ((CAST(2.0 AS DOUBLE) * $z) * (CAST(1.0 AS DOUBLE) + ($z2 * $p))))"
  }

  // ── detExp staging (see DetMath.detExp). The Taylor argument r appears
  // once per Horner level, so exp sites STAGE k/r/k1/k2 as CTE columns
  // (short names) and splice these four fragments.

  /** Stage 1: k = round(x/ln2) as BIGINT. */
  def expK(x: String): String =
    s"CAST(round(($x) * CAST(1.4426950408889634 AS DOUBLE)) AS BIGINT)"

  /** Stage 2a: Cody–Waite residual r = (x − k·LN2HI) − k·LN2LO. */
  def expR(x: String, k: String): String =
    s"((($x) - (CAST($k AS DOUBLE) * CAST(0.6931471803691238 AS DOUBLE))) - " +
      s"(CAST($k AS DOUBLE) * CAST(1.9082149292705877e-10 AS DOUBLE)))"

  /** Stage 2b: k1 = trunc(k/2) via integer `//` (truncates toward zero in
    * DuckDB, matching the Column side's double-div-then-cast). k2 = k−k1
    * is written inline by the caller. */
  def expK1(k: String): String = s"($k // 2)"

  /** Stage 3: the 18-term Taylor-Horner polynomial in the staged column r. */
  def expPoly(r: String): String =
    (DetMath.ExpN to 1 by -1).foldLeft("CAST(1.0 AS DOUBLE)") { (acc, n) =>
      s"(CAST(1.0 AS DOUBLE) + ((($r) / CAST($n.0 AS DOUBLE)) * $acc))"
    }

  /** Stage 4: e^x = p · 2^k1 · 2^k2 — apply twice, p/k1 then result/k2. */
  def expScale(p: String, kk: String): String =
    s"(CASE WHEN $kk >= 0 THEN ($p) * CAST((CAST(1 AS BIGINT) << $kk) AS DOUBLE) " +
      s"ELSE ($p) / CAST((CAST(1 AS BIGINT) << (-($kk))) AS DOUBLE) END)"

  /** ln of a DOUBLE expression w ∈ [1, 2^62), inline (see
    * DetMath.detLnDoubleGe1). Keep `w` a SHORT column reference. */
  def lnDoubleGe1(w: String): String = {
    val e = s"(length(bin(CAST(floor($w) AS BIGINT))) - 1)"
    val m = s"(($w) / CAST((CAST(1 AS BIGINT) << $e) AS DOUBLE))"
    val z = s"(($m - CAST(1.0 AS DOUBLE)) / ($m + CAST(1.0 AS DOUBLE)))"
    val z2 = s"($z * $z)"
    val p = DetMath.Ks.init.foldRight(
      s"(CAST(1.0 AS DOUBLE)/CAST(${DetMath.Ks.last}.0 AS DOUBLE))") {
      (k, acc) => s"((CAST(1.0 AS DOUBLE)/CAST($k.0 AS DOUBLE)) + ($z2 * $acc))"
    }
    s"((CAST($e AS DOUBLE) * $LN2) + ((CAST(2.0 AS DOUBLE) * $z) * (CAST(1.0 AS DOUBLE) + ($z2 * $p))))"
  }
}
