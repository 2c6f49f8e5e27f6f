package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Per-seed two-smallest pick — the hypothesis sampler of
  * [[graft.ml.Ransac]] as ONE native [[TypedImperativeAggregate]]
  * (written the way [[MultiTopKDcg]] is).
  *
  * Motivation (measured, ransac_line at sf0.1): selecting each seed's
  * two sample cells as `min(struct(pri, x, y))` needs the cell table
  * crossed with the H seeds (H× rows) and a second pass for the runner-
  * up, and a struct buffer cannot be updated in place in an UnsafeRow,
  * so Spark plans both passes as sort-based aggregates. Here every
  * input row computes its H priorities on the fly and offers them to
  * a flat primitive buffer: no row expansion, one pass, no per-row
  * allocation, and a map-side partial of 4·H longs per task.
  *
  * input: (`m1` bigint — the cell's mixed id; `cid` bigint — the cell
  * id, unique within the input). For seed h ∈ 1..H the priority is
  * `MixMod61.mix(m1 + h)`. Buffer: `[pri₁, cid₁, pri₂, cid₂]` per seed,
  * the two smallest (pri, cid) pairs in lexicographic order, padded
  * with Long.MaxValue (larger than any mixer output or in-envelope
  * cid). The order is total over distinct cids, so the pick is exact
  * under priority collisions and independent of merge order.
  * Output: the buffer itself, `array<bigint>` of length 4·H; a seed
  * whose second cid is Long.MaxValue saw fewer than two cells.
  */
case class HypothesisPick(
    m1: Expression,
    cid: Expression,
    h: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with BinaryLike[Expression] {

  override def left: Expression = m1
  override def right: Expression = cid
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HypothesisPick =
    copy(m1 = newLeft, cid = newRight)
  override def withNewMutableAggBufferOffset(newOffset: Int): HypothesisPick =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HypothesisPick =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hypothesis_pick"

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(4 * h)(Long.MaxValue)

  /** Offer (p, c) to the seed slot pair at `o`, keeping it sorted. */
  @inline private def offer(buf: Array[Long], o: Int, p: Long, c: Long): Unit =
    if (p < buf(o + 2) || (p == buf(o + 2) && c < buf(o + 3))) {
      if (p < buf(o) || (p == buf(o) && c < buf(o + 1))) {
        buf(o + 2) = buf(o); buf(o + 3) = buf(o + 1)
        buf(o) = p; buf(o + 1) = c
      } else {
        buf(o + 2) = p; buf(o + 3) = c
      }
    }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val mRaw = m1.eval(input)
    val cRaw = cid.eval(input)
    if (mRaw != null && cRaw != null) {
      val m = mRaw.asInstanceOf[Long]
      val c = cRaw.asInstanceOf[Long]
      var s = 0
      while (s < h) {
        offer(buf, 4 * s, MixMod61.mix(m + s + 1), c)
        s += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var o = 0
    while (o < b1.length) {
      // padding entries never displace anything: MaxValue loses the
      // comparison against every slot, padding included
      offer(b1, o, b2(o), b2(o + 1))
      offer(b1, o, b2(o + 2), b2(o + 3))
      o += 4
    }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }
}

object HypothesisPick {
  /** Column form: `array<bigint>` of length 4·h, per seed
    * `[pri₁, cid₁, pri₂, cid₂]` (see the class doc). */
  def pick(m1: Column, cid: Column, h: Int): Column =
    Native.call(s"graft_hypothesis_pick_$h",
      exprs => HypothesisPick(exprs(0), exprs(1), h), m1, cid)
}
