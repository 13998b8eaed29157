package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.util.sketch.BloomFilter

/** Native `bloom_any_contain(array<long>)` — does ANY element of the
  * array hit the broadcast Bloom filter?
  *
  * Why a custom Catalyst Expression (VERDICT r5 #3): the Scala-UDF
  * formulation deserializes every row's shingle array into a boxed
  * `Seq[Long]` through the UDF encoder and breaks whole-stage codegen at
  * exactly the hottest point of [[graft.operators.Training.decontamBloom]]
  * — the map-only corpus gate whose entire value is that the 100 TB side
  * never leaves the scan. This expression keeps the probe inside the
  * generated loop: primitive `getLong` reads straight off Tungsten
  * `ArrayData`, short-circuiting on the first hit.
  *
  * The sketch travels as a `Broadcast[BloomFilter]` captured by the
  * expression — shipped once per executor (not per task), fetched once
  * per expression instance (lazily in both the interpreted and codegen
  * paths). The plan that holds the expression holds the sketch: nothing
  * else references it.
  */
case class BloomAnyContain(child: Expression, bloom: Broadcast[BloomFilter])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_any_contain expects array<bigint>, got $other")
  }
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.BooleanType

  override def prettyName: String = "graft_bloom_any"

  @transient private lazy val bf: BloomFilter = bloom.value

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && bf.mightContainLong(a.getLong(i))) return true
      i += 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[Broadcast[_]].getName
    val bfCls = classOf[BloomFilter].getName
    val bcRef = ctx.addReferenceObj("bloomBc", bloom, bcCls)
    // fetched once per operator instance, not per row: mutable state +
    // null-check init (Broadcast.value's lazy path is not free per-row)
    val bfVar = ctx.addMutableState(bfCls, "bloomFilter")
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |if ($bfVar == null) $bfVar = ($bfCls) $bcRef.value();
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n && !${ev.value}; $i++) {
         |  if (!$a.isNullAt($i)) ${ev.value} = $bfVar.mightContainLong($a.getLong($i));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BloomAnyContain =
    copy(child = newChild)
}

object BloomProbe {

  /** Column API: `anyContain(shingles, sketch)`. The Column carries the
    * sketch's broadcast inside its [[BloomAnyContain]] node and touches
    * no session state, so `spark` is unused; it stays in the signature
    * because graftbench's `Layers` calls it.
    */
  def anyContain(spark: SparkSession, arr: Column, bloom: Broadcast[BloomFilter]): Column =
    column(BloomAnyContain(expression(arr), bloom))

  /** A no-op: [[anyContain]] leaves nothing in the session to drop. Kept
    * only because graftbench's `Layers` still calls it.
    */
  def release(spark: SparkSession, bloom: Broadcast[BloomFilter]): Unit = ()
}
