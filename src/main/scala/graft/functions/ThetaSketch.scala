package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{Intersection, SetOperation, Sketch, Sketches, Union}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable set-operation sketches (DataSketches Theta), completing the
  * sketch-rollup family: distinct counts (q82, HLL), heavy hitters (q92,
  * frequent-items), quantiles (q108, KLL) — and now set ALGEBRA. HLL can
  * only union: asking "how many fingerprints do sources A and B share?"
  * needs intersection, and "how many are unique to A?" needs a-not-b,
  * which is exactly what Theta adds over HLL. Spark 4.x ships neither a
  * theta aggregate nor theta set ops, so this is the same custom
  * `TypedImperativeAggregate` extension point as [[QuantileSketch]].
  *
  * The 100 TB pattern: ACCUMULATE one bounded-size sketch per partition
  * cell (source, day, snapshot), persist the blobs, then answer ANY
  * overlap/diff question — pairwise source overlap, day-over-day novelty,
  * snapshot containment — by set algebra over sketch rows. The raw table
  * is touched once; every subsequent question is metadata-sized.
  *
  * Registered SQL surface (entries of the one [[GraftFunctions.descriptions]]
  * table, which [[GraftFunctions.register]] and [[GraftExtensions]] both read):
  *  - `graft_theta_agg(x, nomEntries)`   → binary blob (aggregate)
  *  - `graft_theta_union(blob, nomEntries)` → binary blob (aggregate)
  *  - `graft_theta_intersect2(a, b)`     → binary blob (scalar pair op)
  *  - `graft_theta_anotb(a, b)`          → binary blob (scalar pair op)
  *  - `graft_theta_estimate(blob)`       → double
  *
  * Exactness regime: a theta sketch keeps the k = nomEntries smallest
  * 64-bit hashes; below k distinct values NO downsampling has happened
  * and `getEstimate` is the EXACT distinct count (set ops included —
  * intersections/differences of exact sketches are exact). Past k the
  * estimate carries ~1/sqrt(k) relative error (k=4096 → ~1.6%).
  * Determinism: theta has no randomized compaction — the same input SET
  * always yields the same ordered compact blob, at any parallelism
  * (ThetaSketchSpec pins this plus the exact regime and the error band).
  */
object ThetaSketch {
  /** nomEntries must be a power of two in [16, 2^26] (DataSketches). */
  private[graft] def requireNomEntries(n: Int): Unit =
    require(n >= 16 && n <= (1 << 26) && Integer.bitCount(n) == 1,
      s"graft_theta: nomEntries must be a power of two in [16, 2^26], got $n")

  private[graft] def heapify(bytes: Array[Byte]): Sketch =
    Sketches.heapifySketch(Memory.wrap(bytes))

  private[graft] def newUnion(nomEntries: Int): Union =
    SetOperation.builder().setNominalEntries(nomEntries).buildUnion()
}

/** `graft_theta_agg(x, nomEntries)` — accumulate values into a theta
  * sketch blob. STRING values hash by their UTF-8 bytes, BIGINT by value,
  * BINARY by content. Nulls are skipped; an empty/all-null group yields
  * an empty sketch blob (estimate 0.0), never SQL NULL, so downstream
  * set ops need no null guards. */
case class ThetaSketchAgg(
    child: Expression,
    nomEntries: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  ThetaSketch.requireNomEntries(nomEntries)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | LongType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_theta_agg requires STRING, BIGINT or BINARY input, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Union = ThetaSketch.newUnion(nomEntries)

  override def update(buf: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) v match {
      case s: UTF8String => buf.update(s.getBytes)
      case l: java.lang.Long => buf.update(l.longValue())
      case b: Array[Byte] => buf.update(b)
    }
    buf
  }

  override def merge(buf: Union, other: Union): Union = {
    buf.union(other.getResult)
    buf
  }

  // Ordered compact form: the canonical, deterministic serialization.
  override def eval(buf: Union): Any = buf.getResult.toByteArray

  override def serialize(buf: Union): Array[Byte] = buf.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = ThetaSketch.newUnion(nomEntries)
    u.union(ThetaSketch.heapify(bytes))
    u
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_theta_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchAgg =
    copy(child = newChild)
}

/** `graft_theta_union(blob, nomEntries)` — union theta sketch blobs (the
  * rollup step: per-cell blobs in, one coarser blob out). Null blobs are
  * skipped. */
case class ThetaUnionAgg(
    child: Expression,
    nomEntries: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  ThetaSketch.requireNomEntries(nomEntries)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_theta_union requires a BINARY sketch blob, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Union = ThetaSketch.newUnion(nomEntries)

  override def update(buf: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buf.union(ThetaSketch.heapify(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: Union, other: Union): Union = {
    buf.union(other.getResult)
    buf
  }

  override def eval(buf: Union): Any = buf.getResult.toByteArray

  override def serialize(buf: Union): Array[Byte] = buf.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = ThetaSketch.newUnion(nomEntries)
    u.union(ThetaSketch.heapify(bytes))
    u
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_theta_union"

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaUnionAgg =
    copy(child = newChild)
}

/** `graft_theta_intersect(blob, nomEntries)` — aggregate INTERSECTION of
  * theta sketch blobs: "items present in EVERY input cell" (e.g. the
  * fingerprints all sources share). A virgin intersection (zero input
  * rows) has no defined result → SQL NULL. Null input blobs are skipped.
  *
  * Buffer round-trip note: an in-progress intersection's state is
  * exactly (theta, retained set) = one compact sketch, so serialize emits
  * `getResult` and deserialize replays it with one `intersect` — a
  * zero-length blob marks the virgin state, which `getResult` refuses
  * to serve (DataSketches throws before the first intersect). */
case class ThetaIntersectAgg(
    child: Expression,
    nomEntries: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Intersection] with UnaryLike[Expression] {

  ThetaSketch.requireNomEntries(nomEntries)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_theta_intersect requires a BINARY sketch blob, got ${child.dataType.catalogString}")

  private def newIntersection(): Intersection =
    SetOperation.builder().setNominalEntries(nomEntries).buildIntersection()

  override def createAggregationBuffer(): Intersection = newIntersection()

  override def update(buf: Intersection, input: InternalRow): Intersection = {
    val v = child.eval(input)
    if (v != null) buf.intersect(ThetaSketch.heapify(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: Intersection, other: Intersection): Intersection = {
    if (other.hasResult) buf.intersect(other.getResult)
    buf
  }

  override def eval(buf: Intersection): Any =
    if (buf.hasResult) buf.getResult.toByteArray else null

  override def serialize(buf: Intersection): Array[Byte] =
    if (buf.hasResult) buf.getResult.toByteArray else Array.emptyByteArray
  override def deserialize(bytes: Array[Byte]): Intersection = {
    val i = newIntersection()
    if (bytes.nonEmpty) i.intersect(ThetaSketch.heapify(bytes))
    i
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_theta_intersect"

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaIntersectAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaIntersectAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaIntersectAgg =
    copy(child = newChild)
}

/** `graft_theta_intersect2(a, b)` — pairwise sketch intersection blob.
  * CodegenFallback is deliberate: set ops run on post-rollup sketch ROWS
  * (|cells|² at most), never on the data path. */
case class ThetaIntersect2(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_theta_intersect2 requires two BINARY sketch blobs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_theta_intersect2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetOperation.builder().buildIntersection()
      .intersect(ThetaSketch.heapify(a.asInstanceOf[Array[Byte]]),
        ThetaSketch.heapify(b.asInstanceOf[Array[Byte]]))
      .toByteArray

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaIntersect2 =
    copy(left = newLeft, right = newRight)
}

/** `graft_theta_anotb(a, b)` — sketch difference blob: items in A and not
  * in B (day-over-day novelty, "what did this source add"). */
case class ThetaANotB(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_theta_anotb requires two BINARY sketch blobs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_theta_anotb"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetOperation.builder().buildANotB()
      .aNotB(ThetaSketch.heapify(a.asInstanceOf[Array[Byte]]),
        ThetaSketch.heapify(b.asInstanceOf[Array[Byte]]))
      .toByteArray

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaANotB =
    copy(left = newLeft, right = newRight)
}

/** `graft_theta_estimate(blob)` — distinct-count estimate behind a blob
  * (EXACT below nomEntries retained values; see object scaladoc). */
case class ThetaEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_theta_estimate requires a BINARY blob, got ${child.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_theta_estimate"

  override protected def nullSafeEval(blob: Any): Any =
    ThetaSketch.heapify(blob.asInstanceOf[Array[Byte]]).getEstimate

  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
}
