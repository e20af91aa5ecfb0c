package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.SqlShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** 60-bit SimHash as a native TypedImperativeAggregate: per-group bit
  * voting over token hashes with a mutable 60-counter buffer.
  *
  * The expression-only formulation (explode 60 bit rows per token +
  * two groupBys) shuffles 60x the token count; this aggregate folds the
  * votes map-side with one shuffle of 240-byte buffers per group — the
  * 10^12-scale shape (see SCALE.md).
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  private val Bits = graft.operators.Dedup.SimhashBits

  override def createAggregationBuffer(): Array[Int] = new Array[Int](Bits)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < Bits) {
        if (((h >>> b) & 1L) == 1L) buf(b) += 1 else buf(b) -= 1
        b += 1
      }
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < Bits) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Int]): Any = {
    var sig = 0L
    var b = 0
    while (b < Bits) {
      if (buf(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(Bits * 4)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(Bits)(bb.getInt)
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SimHashAgg =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): SimHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimHashAgg =
    copy(inputAggBufferOffset = o)
}

object SimHashAgg {
  /** Column form: simhash over a bigint token-hash column. */
  def simhash_agg(h: Column): Column =
    SqlShim.column(SimHashAgg(SqlShim.expression(h))
      .toAggregateExpression(isDistinct = false))
}
