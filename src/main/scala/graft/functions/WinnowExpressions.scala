package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Winnowing fingerprints of one document (the q151 rule) as a single
  * compiled expression: per position i (0-based, i ≤ n−4) hash the
  * 4-token gram `t(i) ' ' t(i+1) ' ' t(i+2) ' ' t(i+3)` to the 60-bit
  * md5-prefix value (`conv(substring(md5(gram), 1, 15), 16, 10)` — the
  * first 60 bits of the digest, read big-endian then >>> 4, the
  * established graft_md5_sig16 identity), take the min over each sliding
  * window of 4 consecutive positions (full windows only — the legacy
  * `wn = 4` guard), and emit the per-doc DISTINCT set, sorted.
  *
  * Replaces (r15, guide §4): an interpreted
  * `transform(filter(sequence(..)))` building one gram STRING + one md5
  * hex STRING + one base-16 string parse per position, a posexplode of
  * every position, a doc-keyed WindowExec (exchange + sort) for the
  * window-min, and a corpus-wide DISTINCT exchange — all of it now one
  * tight per-row loop with one reused MessageDigest. Downstream (the DF
  * cap and the pair join) consumes only the exploded (doc_id, fp) rows,
  * which this emits directly.
  *
  * Parity with the legacy pipeline is pinned by WinnowFpsSpec (same
  * fixture corpus, slot-for-slot set equality incl. multi-byte tokens
  * and sub-7-token documents, which produce no fingerprint).
  *
  * CodegenFallback is deliberate (the CdcChunks rationale): per-row work
  * is O(doc length) md5s, so the fallback overhead is noise.
  */
case class WinnowFps(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow_fps requires ARRAY<STRING> tokens, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // a token array holding a null element yields null
  override def nullable: Boolean =
    child.nullable || NullElements.possible(child)
  override def prettyName: String = "graft_winnow_fps"

  private val Space = Array[Byte](' ')

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    if (NullElements.in(toks)) return null
    val n = toks.numElements()
    if (n < 7) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    // token bytes once per token (each participates in up to 4 grams)
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { bytes(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val nPos = n - 3 // gram start positions 0 .. n-4
    val hs = new Array[Long](nPos)
    i = 0
    while (i < nPos) {
      md.reset()
      md.update(bytes(i)); md.update(Space)
      md.update(bytes(i + 1)); md.update(Space)
      md.update(bytes(i + 2)); md.update(Space)
      md.update(bytes(i + 3))
      val dg = md.digest()
      // first 15 hex chars = first 60 bits: big-endian first 8 bytes >>> 4
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (dg(b) & 0xFFL); b += 1 }
      hs(i) = v >>> 4
      i += 1
    }
    // full windows of 4 positions: min(hs(j-3..j)) for j in 3 .. nPos-1
    val set = new java.util.TreeSet[java.lang.Long]()
    var j = 3
    while (j < nPos) {
      var m = hs(j)
      if (hs(j - 1) < m) m = hs(j - 1)
      if (hs(j - 2) < m) m = hs(j - 2)
      if (hs(j - 3) < m) m = hs(j - 3)
      set.add(m): Unit
      j += 1
    }
    val out = new Array[Any](set.size())
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}
