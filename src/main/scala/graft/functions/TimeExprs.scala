package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, TimestampNTZType, TimestampType}

/** Reads a TIMESTAMP_NTZ wall clock as a UTC instant: both types hold
  * epoch micros internally, so the value passes through unchanged.
  *
  * A cast or a `timestampdiff` against the NTZ epoch goes through the
  * session time zone (twice, for the diff) and shifts wall clocks that
  * fall in that zone's DST gap; this never looks at a zone.
  */
case class NtzAsUtcExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == TimestampNTZType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"NtzAsUtcExpr needs TIMESTAMP_NTZ, got ${child.dataType}")

  override def dataType: DataType = TimestampType

  override protected def nullSafeEval(micros: Any): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, micros => micros)

  override protected def withNewChildInternal(c: Expression): NtzAsUtcExpr = copy(child = c)
}
