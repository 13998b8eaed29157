package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.sql.types._

/** Random-hyperplane LSH bucket ids for an array<double> vector:
  * array<long> of length `tables`, entry t = the `bits`-bit sign bucket
  * of the vector against table t's hyperplanes.
  *
  * Why a custom Expression: each bucket needs tables × bits dense dot
  * products against a fixed plane matrix — a per-row kernel loop, not
  * something `functions._` can express without an interpreted lambda per
  * (plane, element). The plane matrix is deterministic (seeded Gaussian,
  * same for every caller), generated once per JVM and read straight from
  * the expression — the generated code does the full matrix pass in one
  * call.
  */
case class LshBucketsExpr(child: Expression, tables: Int, bits: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_buckets expects array<double>, got $other")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    LshBuckets.compute(v.asInstanceOf[ArrayData], tables, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LshBuckets.compute($c, $tables, $bits)")

  override protected def withNewChildInternal(c: Expression): LshBucketsExpr = copy(child = c)
}

object LshBuckets {

  /** Deterministic Gaussian hyperplanes, lazily sized per (tables, bits,
    * dim) — the seed schedule matches what the LSH spec pins down.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Array[Double]]]]()

  private def planesCached(tables: Int, bits: Int, dim: Int): Array[Array[Array[Double]]] =
    cache.computeIfAbsent((tables, bits, dim), { case (t0, b0, d0) =>
      Array.tabulate(t0, b0) { (t, b) =>
        // multiplicative mixing — OR-ing small fields into a constant
        // with overlapping bits collides seeds across bit indices,
        // which silently degenerates the plane set
        val rng = new java.util.Random(t * 1000003L + b * 31L + 0x5eedL)
        Array.fill(d0)(rng.nextGaussian())
      }
    })

  /** Public accessor returns a deep copy: the cached matrix backs every
    * lsh_buckets evaluation in the JVM, so caller mutation of a shared
    * reference would silently corrupt all bucketing.
    */
  def planes(tables: Int, bits: Int, dim: Int): Array[Array[Array[Double]]] =
    planesCached(tables, bits, dim).map(_.map(_.clone()))

  def compute(vec: ArrayData, tables: Int, bits: Int): GenericArrayData = {
    val dim = vec.numElements()
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = vec.getDouble(i); i += 1 }
    val ps = planesCached(tables, bits, dim)
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val p = ps(t)(b)
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += p(j) * v(j); j += 1 }
        if (dot > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  def lshBuckets(vec: Column, tables: Int, bits: Int): Column =
    column(LshBucketsExpr(expression(vec), tables, bits))
}
