package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** graft's native SQL functions, kept once as a table of Spark's own
  * function descriptions `(FunctionIdentifier, ExpressionInfo,
  * FunctionBuilder)`. Both session paths read this table:
  *  - [[register]], in process, on whatever session the caller holds (the
  *    query catalog's path; idempotent);
  *  - [[GraftExtensions]], for sessions that infrastructure constructs.
  *
  * A builder's argument checks (arity, an integer literal `k`) therefore
  * hold the same way on either path. */
object GraftFunctions {

  /** One table entry. `usage` follows the name in the `ExpressionInfo`
    * usage text and in the arity error. */
  private def fn[T <: Expression](name: String, arity: Int, usage: String)(
      build: Seq[Expression] => T)(implicit ct: ClassTag[T])
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(ct.runtimeClass.getName, null, name, name + usage, ""),
      { exprs =>
        require(exprs.length == arity, name + usage)
        build(exprs)
      })

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_dot", 2, "(a, b) takes two arrays")(e => DotProduct(e(0), e(1))),
    fn("graft_intersect_card", 2, "(a, b) takes two arrays")(
      e => SortedLongIntersectCard(e(0), e(1))),
    fn("graft_md5_sig16", 1, "(gram) takes one STRING")(e => Md5Sig16(e(0))),
    fn("graft_cdc_chunks", 1, "(text) takes one STRING")(e => CdcChunks(e(0))),
    fn("graft_winnow_fps", 1, "(tokens) takes one ARRAY<STRING>")(e => WinnowFps(e(0))),
    fn("graft_bpe_apply", 2,
      "(tk, merges) takes a symbol array and a literal merge array")(
      e => BpeApplyMerges(e(0), e(1))),
    fn("graft_byte_bpe_encode", 2,
      "(word, merges) takes a word and a literal merge array")(
      e => ByteBpeEncode(e(0), e(1))),
    fn("graft_zorder", 2, "(a, b) takes two BIGINT keys")(e => ZOrder2(e(0), e(1))),
    fn("graft_det_ln_long", 1, "(x) takes one BIGINT")(e => DetLnLong(e(0))),
    fn("graft_det_exp", 1, "(x) takes one DOUBLE")(e => DetExp(e(0))),
    fn("graft_det_ln_ge1", 1, "(w) takes one DOUBLE")(e => DetLnDoubleGe1(e(0))),
    fn("graft_bloom_contains", 2,
      "(key, bloomBytes) takes a key and a foldable binary sketch") { e =>
      require(e(1).foldable, "graft_bloom_contains: the sketch argument must be " +
        "a literal (fold the serialized BloomFilter in as lit(bytes))")
      BloomMightContain(e(0), e(1).eval().asInstanceOf[Array[Byte]])
    },
    fn("graft_kll_agg", 2, "(x, k) takes a value and a literal k")(
      e => KllSketchAgg(e(0), foldableInt(e(1), "graft_kll_agg"))),
    fn("graft_kll_union", 2, "(blob, k) takes a blob and a literal k")(
      e => KllUnionAgg(e(0), foldableInt(e(1), "graft_kll_union"))),
    fn("graft_kll_quantiles", 2,
      "(blob, ranks) takes a blob and an ARRAY<DOUBLE> of ranks")(
      e => KllQuantiles(e(0), e(1))),
    fn("graft_kll_n", 1, "(blob) takes one blob")(e => KllN(e(0))),
    fn("graft_theta_agg", 2, "(x, nomEntries) takes a value and a literal nomEntries")(
      e => ThetaSketchAgg(e(0), foldableInt(e(1), "graft_theta_agg"))),
    fn("graft_theta_union", 2,
      "(blob, nomEntries) takes a blob and a literal nomEntries")(
      e => ThetaUnionAgg(e(0), foldableInt(e(1), "graft_theta_union"))),
    fn("graft_theta_intersect", 2,
      "(blob, nomEntries) takes a blob and a literal nomEntries")(
      e => ThetaIntersectAgg(e(0), foldableInt(e(1), "graft_theta_intersect"))),
    fn("graft_theta_intersect2", 2, "(a, b) takes two blobs")(
      e => ThetaIntersect2(e(0), e(1))),
    fn("graft_theta_anotb", 2, "(a, b) takes two blobs")(e => ThetaANotB(e(0), e(1))),
    fn("graft_theta_estimate", 1, "(blob) takes one blob")(e => ThetaEstimate(e(0))),
    fn("graft_nfc", 1, "(s) takes one STRING")(e => NfcNormalize(e(0))),
    fn("graft_nfkc", 1, "(s) takes one STRING")(e => NfkcNormalize(e(0))))

  /** Extract a foldable INT parameter (e.g. a sketch's k) at plan time. */
  private def foldableInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: the k argument must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: k must be an integer literal, got $other")
    }
  }

  /** Register every table entry on `spark` that it does not yet resolve. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}

/** SparkSessionExtensions entry point: makes graft's native expressions
  * available to ANY session via config, with no code changes:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * It injects the same [[GraftFunctions.descriptions]] table that
  * [[GraftFunctions.register]] registers in process. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.descriptions.foreach(ext.injectFunction)
}
