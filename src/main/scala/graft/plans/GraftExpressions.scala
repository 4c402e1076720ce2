package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.Extractor

/** Native Catalyst expressions for the extraction kernels (SURVEY §7.2's
  * optional tier: a codegen'd `Expression` beats a Scala UDF — no
  * ScalaUDF serialization boundary, stays inside whole-stage codegen via a
  * static call, null-safe for free).
  *
  * The production hot path remains typed mapPartitions (per-partition
  * amortization); these expressions serve SQL users and plans where the
  * extraction is one column among relational work, so Catalyst can prune /
  * push around it.
  */
object GraftExpressions {

  /** Static kernel entry points referenced from generated Java. Format
    * dispatch lives in Extractor.extractTextOrEmpty — one routing table for
    * every surface. */
  def extractText(bytes: Array[Byte]): UTF8String =
    UTF8String.fromString(Extractor.extractTextOrEmpty(bytes))

  def sniffFormat(bytes: Array[Byte]): UTF8String =
    UTF8String.fromString(Extractor.sniffFormat(if (bytes == null) Array.emptyByteArray else bytes))
}

/** html/pdf/txt payload -> extracted main text; total (errors -> ""). */
case class ExtractTextExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary argument")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_extract_native"

  override def nullSafeEval(input: Any): Any =
    GraftExpressions.extractText(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftExpressions.extractText($c)")

  override protected def withNewChildInternal(newChild: Expression): ExtractTextExpr =
    copy(child = newChild)
}

/** payload -> 'html' | 'pdf' | 'txt' (magic-prefix sniff, S2/F10). */
case class SniffFormatExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary argument")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_sniff_native"

  override def nullSafeEval(input: Any): Any =
    GraftExpressions.sniffFormat(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftExpressions.sniffFormat($c)")

  override protected def withNewChildInternal(newChild: Expression): SniffFormatExpr =
    copy(child = newChild)
}

/** Registers the native expressions in a session: set by every
  * [[graft.LocalSpark]] session, and under spark-submit by
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_extract_native"),
      new ExpressionInfo(classOf[ExtractTextExpr].getName, "graft_extract_native"),
      (children: Seq[Expression]) => ExtractTextExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_sniff_native"),
      new ExpressionInfo(classOf[SniffFormatExpr].getName, "graft_sniff_native"),
      (children: Seq[Expression]) => SniffFormatExpr(children.head)))
  }
}
