package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash as a native typed aggregate: input is a 64-bit token
  * hash per row; the buffer holds the 64 signed bit-counters; the final
  * value packs counter-sign bits into one long.
  *
  * Why a custom aggregate: the `functions._` formulation needs 64
  * separate `sum(when(...))` aggregate columns — 64 buffer slots, 64
  * generated update paths, and a 64-column row through the partial/final
  * agg exchange. This aggregate keeps ONE buffer (64 ints), does one
  * branch-free update per row, and ships 260 bytes per group through the
  * shuffle. Same map-side partial aggregation + merge semantics as any
  * built-in aggregate, so it scales exactly like sum().
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < 64) {
        // +1 if bit i set, -1 otherwise, branch-free
        buf(i) += (((h >>> i) & 1L).toInt << 1) - 1
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Int]): Any = {
    var sig = 0L
    var i = 0
    while (i < 64) { if (buf(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(64 * 4)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getInt())
  }

  override def withNewMutableAggBufferOffset(o: Int): SimHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): SimHashAgg =
    copy(child = cs.head)
}

object SimHashAgg {
  /** Aggregate Column: simhash of the group's 64-bit token hashes. */
  def simhashAgg(tokenHash: Column): Column =
    column(SimHashAgg(expression(tokenHash)).toAggregateExpression())
}
