package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for HTML entity decoding — the only SQL
  * entity decoder; it stays inside whole-stage codegen (no UDF
  * serialization boundary). The heavy lifting is a static call into the
  * kernel codec (graft.kernel.Entities ≡ html-entities@2.3.2).
  *
  * Column usage: register via GraftExtensions, then
  * `functions.call_function("html_unescape_native", col)`.
  */
case class HtmlUnescape(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "html_unescape_native"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_unescape_native requires a string argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(graft.kernel.Entities.decode(input.toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.kernel.Entities.decode($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): HtmlUnescape =
    copy(child = newChild)
}
