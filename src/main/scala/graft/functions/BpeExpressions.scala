package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Null-element handling shared by the compiled array expressions: an
  * input array holding a null element yields a null result. */
private[functions] object NullElements {
  def in(arr: ArrayData): Boolean = {
    var i = 0
    while (i < arr.numElements() && !arr.isNullAt(i)) i += 1
    i < arr.numElements()
  }

  /** Whether `e` can yield an array with null elements. */
  def possible(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
}

/** Compiled BPE merge application (r15, the graft_cdc_chunks pattern
  * applied to the tokenizer family — guide §4: lambda higher-order
  * functions evaluate INTERPRETED, element by element, outside
  * whole-stage codegen).
  *
  * The legacy form ([[graft.text.TextQueries.bpeMergeExpr]]) applies each
  * frozen merge as a chained `withColumn` over a
  * `transform(filter(sequence(..)))` (a ≠ b) or `aggregate` fold (a = b)
  * — per merge, per word: a boxed-lambda pass with sequence allocations,
  * and a plan that grows ~80 nodes per merge. Here the whole merge LIST
  * applies in one compiled expression: per merge one tight array pass of
  * UTF8String pointer-equality/equals checks, zero allocations beyond the
  * output array.
  *
  * Semantics (pinned by BpeApplySpec slot-for-slot against the legacy
  * chain): greedy LEFT-TO-RIGHT single-pass merge of adjacent (a, b) into
  * the concatenation ab, merges applied in list order. For a ≠ b this
  * equals the legacy positional filter+transform (occurrences cannot
  * overlap: a consumed position holds b, a fresh match needs a); for
  * a = b it equals the legacy fold (runs of a pair off left-to-right —
  * the freshly merged symbol aa can never re-match a since symbols are
  * non-empty, so match decisions on the ORIGINAL array agree with the
  * output-directed fold).
  *
  * CodegenFallback is deliberate (the CdcChunks rationale): per-row work
  * is O(merges × symbols), so the per-call fallback overhead is noise
  * next to the compiled loop.
  */
object BpeMerge {

  /** Greedy left-to-right single-pass application of one merge — the
    * compiled twin of bpeMergeExpr's positional filter+transform branch
    * (a ≠ b, b non-empty). Returns the input array unchanged (same
    * instance) when nothing matched. */
  def applyOne(in: Array[UTF8String], a: UTF8String, b: UTF8String,
      ab: UTF8String): Array[UTF8String] = {
    val n = in.length
    val out = new Array[UTF8String](n)
    var i = 0
    var m = 0
    while (i < n) {
      if (i + 1 < n && in(i).equals(a) && in(i + 1).equals(b)) {
        out(m) = ab; m += 1; i += 2
      } else {
        out(m) = in(i); m += 1; i += 1
      }
    }
    if (m == n) in else java.util.Arrays.copyOf(out, m)
  }

  /** Output-directed fold — the compiled twin of bpeMergeExpr's
    * `aggregate` branch (a = b, or EMPTY b): the freshly merged symbol
    * stays eligible as the next match's `a`, which for an empty b
    * absorbs RUNS of empties exactly as the legacy fold does (the
    * adversarial doubled-space corpus trains such pairs — r15). */
  def applyFold(in: Array[UTF8String], a: UTF8String, b: UTF8String,
      ab: UTF8String): Array[UTF8String] = {
    val n = in.length
    val out = new Array[UTF8String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (m > 0 && out(m - 1).equals(a) && in(i).equals(b)) out(m - 1) = ab
      else { out(m) = in(i); m += 1 }
      i += 1
    }
    if (m == n) in else java.util.Arrays.copyOf(out, m)
  }

  /** (a, b, ab, positional?) from a foldable ARRAY<STRING> of "a b"
    * pairs — FIRST space separates, exactly the `pair.indexOf(' ')`
    * split every legacy caller used (symbols never contain spaces:
    * split-on-' ' tokens / hex codes and their concatenations; empty
    * symbols occur on adversarial doubled-space corpora and take the
    * fold branch, matching bpeMergeExpr's branch rule verbatim). None
    * when the list holds a null pair: the result is then null. */
  def compilePairs(e: Expression)
      : Option[Array[(UTF8String, UTF8String, UTF8String, Boolean)]] = {
    require(e.foldable, "the merge list must be a literal array of 'a b' pairs")
    val arr = e.eval().asInstanceOf[ArrayData]
    if (NullElements.in(arr)) None
    else Some((0 until arr.numElements()).map { i =>
      val pair = arr.getUTF8String(i).toString
      val sp = pair.indexOf(' ')
      require(sp >= 0, s"merge pair must be 'a b' (space-separated), got '$pair'")
      val a = pair.substring(0, sp)
      val b = pair.substring(sp + 1)
      (UTF8String.fromString(a), UTF8String.fromString(b),
        UTF8String.fromString(a + b), a != b && b.nonEmpty)
    }.toArray)
  }

  def applyAll(syms: Array[UTF8String],
      merges: Array[(UTF8String, UTF8String, UTF8String, Boolean)])
      : GenericArrayData = {
    var cur = syms
    var k = 0
    while (k < merges.length) {
      val (a, b, ab, positional) = merges(k)
      cur = if (positional) applyOne(cur, a, b, ab)
            else applyFold(cur, a, b, ab)
      k += 1
    }
    new GenericArrayData(cur.asInstanceOf[Array[Any]])
  }
}

/** `graft_bpe_apply(tk, array('a b', ...))` — the frozen merge list
  * applied greedily, in order, to an ARRAY<STRING> symbol column. */
case class BpeApplyMerges(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_bpe_apply(tk, merges) takes an ARRAY<STRING> symbol column " +
        "and a literal ARRAY<STRING> of 'a b' merge pairs")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // an array holding a null symbol or a null merge pair yields null
  override def nullable: Boolean = super.nullable ||
    NullElements.possible(left) || NullElements.possible(right)
  override def prettyName: String = "graft_bpe_apply"

  @transient private lazy val merges = BpeMerge.compilePairs(right)

  override protected def nullSafeEval(tk: Any, unused: Any): Any = {
    val in = tk.asInstanceOf[ArrayData]
    if (merges.isEmpty || NullElements.in(in)) return null
    val syms = new Array[UTF8String](in.numElements())
    var i = 0
    while (i < syms.length) { syms(i) = in.getUTF8String(i); i += 1 }
    BpeMerge.applyAll(syms, merges.get)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BpeApplyMerges = copy(left = newLeft, right = newRight)
}

/** `graft_byte_bpe_encode(word, array('a b', ...))` — byte-level BPE
  * encode of one word under a frozen merge list: the word's UTF-8 bytes
  * as 2-hex-digit symbols (exactly `byteSymsExpr`'s
  * `substring(hex(word), 2i-1, 2)`, uppercase), then the merges applied
  * greedily in order. Fuses the interpreted byte-symbol transform AND the
  * per-merge chains into one expression. */
case class ByteBpeEncode(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(StringType, _)) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_byte_bpe_encode(word, merges) takes a STRING word and a " +
        "literal ARRAY<STRING> of 'a b' merge pairs")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // a merge list holding a null pair yields null
  override def nullable: Boolean =
    super.nullable || NullElements.possible(right)
  override def prettyName: String = "graft_byte_bpe_encode"

  @transient private lazy val merges = BpeMerge.compilePairs(right)

  override protected def nullSafeEval(word: Any, unused: Any): Any = {
    if (merges.isEmpty) return null
    val bytes = word.asInstanceOf[UTF8String].getBytes
    val syms = new Array[UTF8String](bytes.length)
    var i = 0
    while (i < bytes.length) {
      syms(i) = ByteBpeEncode.HexSyms(bytes(i) & 0xFF)
      i += 1
    }
    BpeMerge.applyAll(syms, merges.get)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ByteBpeEncode = copy(left = newLeft, right = newRight)
}

object ByteBpeEncode {
  /** The 256 uppercase 2-hex-digit byte symbols (hex() is uppercase). */
  private[functions] val HexSyms: Array[UTF8String] =
    (0 until 256).map(b => UTF8String.fromString(f"$b%02X")).toArray
}
