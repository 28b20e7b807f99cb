package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mergeable quantile sketches (DataSketches KLL), completing graft's
  * sketch-rollup triad: distinct counts ([[graft.analytics.Relational]]
  * q82, HLL), heavy hitters (q92, frequent-items) and now quantiles
  * (q108). Spark ships HLL and frequent-items surfaces in 4.x but no
  * mergeable quantile blob — `percentile_approx` computes a one-shot
  * estimate and throws the sketch away — so this is the custom
  * `TypedImperativeAggregate` path (the same extension point Spark's own
  * `hll_sketch_agg` is built on).
  *
  * The 100 TB pattern (mirrors q82/q92): ACCUMULATE a bounded-size KLL
  * sketch per fine partition (source × lang, or day), persist the blobs,
  * then answer any coarser rollup by UNIONING the relevant blobs — sketch
  * rows, not data rows, cross the final exchange, and the raw table is
  * never rescanned. KLL guarantees ~1.65/sqrt(k)·... normalized rank
  * error (k=2048 → ~0.6% rank error) and, below ~k retained values, is
  * EXACT (no compaction has happened) — KllSketchSpec pins that regime.
  *
  * Registered SQL surface (entries of the one [[GraftFunctions.descriptions]]
  * table, which [[GraftFunctions.register]] and [[GraftExtensions]] both read):
  *  - `graft_kll_agg(x, k)`        → binary sketch blob (aggregate)
  *  - `graft_kll_union(blob, k)`   → binary sketch blob (aggregate)
  *  - `graft_kll_quantiles(blob, array(r1, r2, ...))` → array<double>
  *  - `graft_kll_n(blob)`          → bigint (stream length behind the blob)
  *
  * Determinism note: KLL compaction uses a randomized offset, so two
  * accumulations of the SAME data may emit different (equally valid)
  * blobs once in estimation mode; below k retained values the sketch is
  * exact and byte-stable. Queries over KLL blobs are therefore rows-only
  * at the driver gate, like q82/q92 — the spec pins exact-regime
  * equality and the estimation-mode error band instead.
  */
object QuantileSketch {
  /** Shared k bound check: DataSketches requires 8 <= k <= 65535. */
  private[graft] def requireK(k: Int): Unit =
    require(k >= 8 && k <= 65535, s"graft_kll: k must be in [8, 65535], got $k")

  // private[graft]: the streaming quantile monitor round-trips the same
  // blob format through mapGroupsWithState state (StreamingQuantiles).
  private[graft] def heapify(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))
}

/** `graft_kll_agg(x DOUBLE, k)` — accumulate doubles into a KLL(k) sketch
  * blob. Nulls are skipped (SQL aggregate convention); an all-null /
  * empty group yields an empty sketch blob (getN = 0), never SQL NULL,
  * so downstream unions need no null guards. */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch] with UnaryLike[Expression] {

  QuantileSketch.requireK(k)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kll_agg requires a DOUBLE input, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other)
    buf
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray

  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    QuantileSketch.heapify(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kll_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
}

/** `graft_kll_union(blob BINARY, k)` — union KLL sketch blobs (the rollup
  * step: per-fine-partition blobs in, one coarser blob out). Null blobs
  * are skipped; the result sketch's k never exceeds the requested k (KLL
  * unions adopt the smallest k seen, per the DataSketches contract). */
case class KllUnionAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch] with UnaryLike[Expression] {

  QuantileSketch.requireK(k)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kll_union requires a BINARY sketch blob, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buf.merge(QuantileSketch.heapify(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other)
    buf
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray

  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    QuantileSketch.heapify(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kll_union"

  override def withNewMutableAggBufferOffset(newOffset: Int): KllUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllUnionAgg =
    copy(child = newChild)
}

/** `graft_kll_quantiles(blob, array(r1, ...))` — evaluate INCLUSIVE-rule
  * quantiles at the given ranks from one sketch blob, one heapify per
  * call. CodegenFallback is deliberate: this only ever runs on
  * post-rollup sketch ROWS (one per group), never on the data path, so
  * interpreted eval costs nothing measurable while keeping the
  * expression 40 lines instead of a codegen template. Empty sketch
  * (getN = 0) → null, mirroring SQL quantile-of-no-rows. */
case class KllQuantiles(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_kll_quantiles requires a BINARY blob, got ${left.dataType.catalogString}")
    else right.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_kll_quantiles requires ARRAY<DOUBLE> ranks, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_kll_quantiles"

  override protected def nullSafeEval(blob: Any, ranks: Any): Any = {
    val sk = QuantileSketch.heapify(blob.asInstanceOf[Array[Byte]])
    if (sk.isEmpty) return null
    val rs = ranks.asInstanceOf[ArrayData].toDoubleArray()
    new GenericArrayData(
      sk.getQuantiles(rs, QuantileSearchCriteria.INCLUSIVE))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllQuantiles =
    copy(left = newLeft, right = newRight)
}

/** `graft_kll_n(blob)` — the stream length the sketch has absorbed
  * (exact, carried in the sketch preamble). The cheap sanity column for
  * rollup tables: union-of-parts must show the sum of the parts' n. */
case class KllN(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kll_n requires a BINARY blob, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_kll_n"

  override protected def nullSafeEval(blob: Any): Any =
    QuantileSketch.heapify(blob.asInstanceOf[Array[Byte]]).getN

  override protected def withNewChildInternal(newChild: Expression): KllN =
    copy(child = newChild)
}
