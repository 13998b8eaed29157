package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native cosine similarity over two array<double> columns.
  *
  * Why a custom Catalyst Expression: the `functions._` formulation
  * (aggregate over zip_with) is three interpreted higher-order passes
  * with per-element lambda dispatch and never enters whole-stage
  * codegen. This expression generates a single fused Java loop
  * (dot + both norms in one pass), so a scan computing millions of
  * cosines stays inside WholeStageCodegen. Accumulation order is
  * sequential — identical to DuckDB's list_cosine_similarity, so oracle
  * results hash-match.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException("cosine_sim: array length mismatch: "
         |    + $a.numElements() + " vs " + $b.numElements());
         |}
         |int $n = $a.numElements();
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

object CosineSim {
  /** Shared by interpreted eval and (inlined equivalent in) codegen.
    * Mismatched lengths are an error — a silent prefix-cosine would mask
    * schema drift that the DuckDB oracle (list_cosine_similarity) would
    * reject. Zero-norm vectors yield NaN per IEEE; rankers drop NaN.
    */
  def compute(x: ArrayData, y: ArrayData): Double = {
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: array length mismatch: ${x.numElements()} vs ${y.numElements()}")
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Column API: cosine_sim(a, b) for array<double> columns. */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))
}
