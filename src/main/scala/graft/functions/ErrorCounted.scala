package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.LongAccumulator

/** Row-error observability wrapper (reference: the per-step Prometheus
  * error counters in `miso-workflow/src/filter.rs:36-45` and
  * `project.rs:57-61`). The engine's error policy lowers row errors to
  * null via `try_*` — correct but silent; this wrapper passes the `try`
  * result through unchanged while incrementing an accumulator whenever a
  * NON-null input produced a null output (i.e. the row actually errored,
  * as opposed to a null flowing in).
  *
  * Installed only when a caller (the query server) asks for error
  * accounting; the unobserved path compiles exactly as before. It
  * generates its own code, so an operator holding it stays inside
  * whole-stage codegen: a `Range` feeding a Filter/Project outside the
  * stage runs row by row and never reaches its per-batch kill check, so
  * a cancelled query's tasks would run on to the end. Accumulator counts
  * are task-attempt-scoped upper bounds (Spark re-executes failed/
  * speculated tasks), which is the standard contract for operational
  * counters.
  */
case class ErrorCounted(
    tryResult: Expression, original: Expression, acc: LongAccumulator)
  extends BinaryExpression {

  override def left: Expression = tryResult
  override def right: Expression = original
  override def dataType: DataType = tryResult.dataType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = tryResult.eval(input)
    if (v == null && original.eval(input) != null) acc.add(1L)
    v
  }

  // `original` is evaluated only for a null result, as in eval
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = tryResult.genCode(ctx)
    val o = original.genCode(ctx)
    val counter = ctx.addReferenceObj("acc", acc)
    ev.copy(code = code"""
      |${t.code}
      |boolean ${ev.isNull} = ${t.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${t.value};
      |if (${ev.isNull}) {
      |  ${o.code}
      |  if (!${o.isNull}) $counter.add(1L);
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ErrorCounted =
    copy(tryResult = newLeft, original = newRight)
}
