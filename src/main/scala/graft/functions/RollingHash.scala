package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling polynomial hash of a string's codepoint stream:
  * fp = fold(codepoints, acc → (acc·31 + cp) mod 1e9+7).
  *
  * Why a custom Expression: the `functions._` formulation
  * (aggregate over split(text, "")) materializes a one-char-string array
  * and dispatches an interpreted lambda per character — per-BYTE
  * interpreter overhead on a 100 TB text scan. This expression is one
  * static JVM loop over the string, invoked from generated code, so the
  * fingerprint scan stays inside whole-stage codegen. Arithmetic is
  * identical to the DuckDB list_reduce oracle (and the previous HOF
  * form): same fold, same modulus.
  */
case class RollingHashExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"rolling_hash expects a string input, got ${child.dataType}")

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    RollingHash.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.compute($c)")

  override protected def withNewChildInternal(c: Expression): RollingHashExpr = copy(child = c)
}

object RollingHash {
  val Mod = 1000000007L

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }

  def rollingHash(c: Column): Column = column(RollingHashExpr(expression(c)))
}
