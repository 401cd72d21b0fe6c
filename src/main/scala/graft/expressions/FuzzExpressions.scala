package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Fuzz

/** Native Catalyst expressions for the fuzzy-ratio kernels (SURVEY §4's
  * optional promotion of E4/E5 from UDFs to codegen'd expressions).
  *
  * Compared to a Scala UDF these skip the InternalRow → Row conversion,
  * the null-safety wrapper and the boxing on both sides: `doGenCode`
  * emits a direct static call on the UTF8String bytes inside the
  * surrounding whole-stage-codegen'd projection, so a scan-side
  * similarity filter stays in one generated method.
  */
object FuzzKernels {
  /** Codegen entry points (static, allocation-light).
    *
    * Equal-input fast path (r22): byte-equal UTF8Strings decode to the
    * same Java String, and both ratio kernels score equal inputs 100.0
    * unconditionally — `ratio` because `defaultProcess` is pure (equal
    * inputs → equal processed strings → `ratioRaw`'s `a == b` branch),
    * `token_set_ratio` because its own `pa == pb` early return fires —
    * so the memcmp replaces two UTF8String→String decodes plus two
    * `defaultProcess` scans per call. The blocked-join corpora are
    * twin-heavy (co-bucketed candidates frequently share the exact
    * name/birthplace cell), which is what makes this branch hot.
    * FuzzSpec pins the equal-input == 100.0 semantics over hostile
    * inputs (sentinels, whitespace-only, astral, empty).
    */
  def indelRatio(a: UTF8String, b: UTF8String): Double =
    if (a.equals(b)) 100.0 else Fuzz.ratio(a.toString, b.toString)
  def tokenSetRatio(a: UTF8String, b: UTF8String): Double =
    if (a.equals(b)) 100.0 else Fuzz.tokenSetRatio(a.toString, b.toString)
  def jaro(a: UTF8String, b: UTF8String): Double =
    Fuzz.jaro(a.toString, b.toString)
  def dateSimilarity(a: UTF8String, b: UTF8String): Double = {
    import graft.similarity.Similarity.{packedDate, packedDateSimilarity}
    packedDateSimilarity(packedDate(a), packedDate(b))
  }
}

abstract class FuzzBinaryExpression extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == org.apache.spark.sql.types.StringType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two string arguments")
  }
  protected def kernelName: String

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  protected def kernel(a: UTF8String, b: UTF8String): Double

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.FuzzKernels.$kernelName($a, $b)")
}

/** E4 `fuzz.ratio` as a codegen'd expression. */
case class IndelRatio(left: Expression, right: Expression) extends FuzzBinaryExpression {
  override protected def kernelName: String = "indelRatio"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    FuzzKernels.indelRatio(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IndelRatio =
    copy(left = l, right = r)
}

/** E5 `fuzz.token_set_ratio` as a codegen'd expression. */
case class TokenSetRatio(left: Expression, right: Expression) extends FuzzBinaryExpression {
  override protected def kernelName: String = "tokenSetRatio"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    FuzzKernels.tokenSetRatio(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TokenSetRatio =
    copy(left = l, right = r)
}

/** E7 Jaro similarity as a codegen'd expression. */
case class JaroSimilarity(left: Expression, right: Expression) extends FuzzBinaryExpression {
  override protected def kernelName: String = "jaro"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    FuzzKernels.jaro(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroSimilarity =
    copy(left = l, right = r)
}

/** E2 `date_similarity` as a codegen'd expression (−1 = unparseable). */
case class DateSimilarityExpr(left: Expression, right: Expression) extends FuzzBinaryExpression {
  override protected def kernelName: String = "dateSimilarity"
  override protected def kernel(a: UTF8String, b: UTF8String): Double =
    FuzzKernels.dateSimilarity(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DateSimilarityExpr =
    copy(left = l, right = r)
}

/** Column-API surface for the native expressions (Spark 4's Column is
  * node-backed; the classic bridge converts both ways).
  */
object FuzzColumns {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  private def e(c: Column): Expression = ColumnBridge.expression(c)
  def indelRatio(a: Column, b: Column): Column =
    ColumnBridge.column(IndelRatio(e(a), e(b)))
  def tokenSetRatio(a: Column, b: Column): Column =
    ColumnBridge.column(TokenSetRatio(e(a), e(b)))
  def jaro(a: Column, b: Column): Column =
    ColumnBridge.column(JaroSimilarity(e(a), e(b)))
  def dateSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(DateSimilarityExpr(e(a), e(b)))
}

/** `SparkSessionExtensions` injector: registers the native expressions as
  * SQL functions (`native_fuzz_ratio`, …). Enable with
  * `.config("spark.sql.extensions", "graft.expressions.GraftExtensions")`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((FunctionIdentifier("native_fuzz_ratio"),
      new ExpressionInfo(classOf[IndelRatio].getName, "native_fuzz_ratio"),
      (children: Seq[Expression]) => IndelRatio(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("native_token_set_ratio"),
      new ExpressionInfo(classOf[TokenSetRatio].getName, "native_token_set_ratio"),
      (children: Seq[Expression]) => TokenSetRatio(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("native_jaro"),
      new ExpressionInfo(classOf[JaroSimilarity].getName, "native_jaro"),
      (children: Seq[Expression]) => JaroSimilarity(children(0), children(1))))
  }
}
