package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A per-query constant that generated code reads by reference.
  *
  * Spark inlines a primitive literal (a date, a timestamp, a number)
  * into whole-stage Java source. A plan that differs from the previous
  * batch's only by such a value (the batch's date, the query's
  * current_timestamp) therefore compiles fresh classes, and the JIT
  * warms them from zero. Wrapped in this expression, the value reaches
  * generated code through `ctx.addReferenceObj`, so the source stays
  * the same from batch to batch and hits Spark's codegen cache.
  *
  * The child must be foldable. It is evaluated once per query, after
  * the optimizer's ComputeCurrentTime has fixed current_timestamp. The
  * expression itself is not foldable, or constant folding would turn
  * it back into an inlined literal.
  */
case class BatchConstant(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def prettyName: String = "batch_constant"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.foldable) TypeCheckResult.TypeCheckSuccess
    else DataTypeMismatch("NON_FOLDABLE_INPUT", Map(
      "inputName" -> "`value`",
      "inputType" -> s"\"${child.dataType.sql}\"",
      "inputExpr" -> s"\"${child.sql}\""))

  @transient private lazy val value: Any = child.eval()

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchConstant", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"""
      boolean ${ev.isNull} = $ref == null;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        ${ev.value} = $ref;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): BatchConstant =
    copy(child = newChild)
}
