package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: Go `encoding/json` string escaping
  * (HTML-safe), with `doGenCode` so [[CanonicalJson.document]] — the one
  * serializer Spark's `to_json` cannot express (SURVEY.md §7.3) — stays
  * inside whole-stage codegen.
  *
  * The generated code calls [[CanonicalJson.escape]] directly — a static,
  * allocation-light scalar — so the expression is pipelined like any
  * built-in and never breaks the codegen span.
  */
case class GoJsonEscape(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(CanonicalJson.escape(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.CanonicalJson.escape($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): GoJsonEscape =
    copy(child = newChild)
}

object GoJsonEscape {

  val Name = "go_json_escape"

  /** Column API, self-contained. */
  def apply(c: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(GoJsonEscape(GraftExpressionBridge.expression(c)))
  }
}
