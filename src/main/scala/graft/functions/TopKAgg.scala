package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.sql.types._

/** Bounded top-k aggregate over (score double, id long) pairs, ordered by
  * (score desc, id asc). Returns array<struct<score:double,id:bigint>>
  * sorted in rank order.
  *
  * Why a custom aggregate: Spark's only per-group top-k idiom is
  * row_number() over a window + filter, which shuffles EVERY candidate
  * row to the group's task and sorts them all. This aggregate keeps a
  * k-bounded buffer, so the map side reduces each partition to ≤ k rows
  * per group before the exchange — at a 100 TB corpus scan with
  * |queries| groups, the shuffle carries |queries|·k·|partitions| rows
  * instead of the full score stream. Classic partial-aggregation win
  * that the window formulation structurally cannot get.
  */
case class TopKAgg(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAgg.Buffer] {

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(TopKAgg.entryType, containsNull = false)

  override def createAggregationBuffer(): TopKAgg.Buffer = new TopKAgg.Buffer(k)

  override def update(buf: TopKAgg.Buffer, input: InternalRow): TopKAgg.Buffer = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null)
      buf.insert(s.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKAgg.Buffer, b: TopKAgg.Buffer): TopKAgg.Buffer = {
    var i = 0
    while (i < b.size) { a.insert(b.scores(i), b.ids(i)); i += 1 }
    a
  }

  override def eval(buf: TopKAgg.Buffer): Any = {
    val order = (0 until buf.size).sortBy(i => (-buf.scores(i), buf.ids(i)))
    new GenericArrayData(order.map { i =>
      InternalRow(buf.scores(i), buf.ids(i))
    }.toArray[Any])
  }

  override def serialize(buf: TopKAgg.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKAgg.Buffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopKAgg =
    copy(scoreExpr = cs(0), idExpr = cs(1))
}

object TopKAgg {
  val entryType: StructType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))

  /** k-bounded buffer: parallel arrays + tracked index of the current
    * worst entry; O(k) replace only when a candidate beats the worst.
    */
  final class Buffer(k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var size = 0
    private var worst = -1 // index of the weakest kept entry, -1 = dirty

    /** (s, id) beats (s2, id2) in (score desc, id asc) order. */
    @inline private def beats(s: Double, id: Long, s2: Double, id2: Long): Boolean =
      s > s2 || (s == s2 && id < id2)

    private def findWorst(): Int = {
      var w = 0; var i = 1
      while (i < size) { if (beats(scores(i), ids(i), scores(w), ids(w))) () else w = i; i += 1 }
      w
    }

    def insert(s: Double, id: Long): Unit = {
      // NaN scores are unrankable and would wedge in the buffer (`beats`
      // is false in both directions) — drop them at the door
      if (s != s) return
      if (size < k) {
        scores(size) = s; ids(size) = id; size += 1; worst = -1
      } else {
        if (worst < 0) worst = findWorst()
        if (beats(s, id, scores(worst), ids(worst))) {
          scores(worst) = s; ids(worst) = id; worst = -1
        }
      }
    }
  }

  /** Aggregate Column: top-k (score, id) entries of the group, ranked. */
  def topKAgg(score: Column, id: Column, k: Int): Column =
    column(TopKAgg(expression(score), expression(id), k).toAggregateExpression())
}
