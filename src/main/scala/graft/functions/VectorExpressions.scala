package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two ArrayType(DoubleType) columns.
  *
  * Replaces `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,x) -> acc+x)`
  * in the similarity hot path: the higher-order-function form interprets a
  * lambda per element per row (no whole-stage codegen), while this compiles
  * to a tight primitive loop inside the generated code — the difference is
  * ~50× on the all-pairs cosine join.
  *
  * Summation order is the same sequential left-to-right fold as the HOF
  * form and DuckDB's list_dot_product, so results stay bit-identical to the
  * DuckDB oracle.
  *
  * Null contract: null input array → null; elements are assumed non-null
  * (embedding vectors) — matching zip_with/aggregate on non-null data.
  *
  * Length contract: inputs are assumed EQUAL-LENGTH (vectors of one
  * embedding space); mismatched lengths are truncated to the shorter —
  * unlike the zip_with/aggregate form, which null-pads and yields NULL.
  * The bit-identical-equivalence claim holds only for equal lengths.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must be ArrayType(DoubleType); call sites (GraftFunctions /
  // SimilarityQueries) guarantee it, and resolution fails fast otherwise.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<double> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Cardinality of the intersection of two SORTED, distinct array<bigint>
  * columns, via a codegen'd two-pointer merge — O(n+m) primitive-long
  * comparisons per pair instead of `size(array_intersect(...))`'s hash-set
  * of objects. Used by the n-gram Jaccard join after shingles are hashed
  * (once per document) to sorted long arrays.
  *
  * Contract: inputs ascending-sorted and duplicate-free (produced by
  * sort_array(array_distinct(...))); elements non-null.
  */
case class SortedLongIntersectCard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_intersect_card requires array<bigint> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_intersect_card"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val n = ctx.freshName("n")
      val m = ctx.freshName("m"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |final int $n = $a.numElements();
         |final int $m = $b.numElements();
         |while ($i < $n && $j < $m) {
         |  final long $xv = $a.getLong($i);
         |  final long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectCard =
    copy(left = newLeft, right = newRight)
}
