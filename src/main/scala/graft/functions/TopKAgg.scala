package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._

/** Exact bounded-state top-k as a native imperative aggregate.
  *
  * `topk_agg(v, tag, k)` keeps the k largest `(v, tag)` pairs seen by
  * the group — v descending, ties broken by the SMALLER tag, so the
  * result is fully deterministic — in a fixed 2k-long buffer (the
  * [[MinHashAgg]] `TypedImperativeAggregate` sketch pattern):
  *
  *  - the per-row update is a reverse insertion into a sorted pair
  *    array (k is small — single-digit compares per row once the
  *    buffer saturates, and most rows fail the cheap "beats the
  *    current minimum" gate immediately);
  *  - partial buffers merge map-side, so the shuffle carries ONE
  *    ≤k-pair state per partition instead of the group's rows — a
  *    k-row-state EXACT alternative to both a global
  *    TakeOrderedAndProject sort and the count-min grid of
  *    `sketch_countmin` (which pays collision noise for its fixed
  *    grid; this pays nothing, because top-k of already-aggregated
  *    values IS mergeable, unlike top-k-by-count of raw rows);
  *  - merge is associative and commutative (proved in ScaleOpsSpec by
  *    re-aggregating under different partitionings), so AQE can
  *    combine partials in any shape.
  *
  * Result: `array<struct<v: bigint, tag: bigint>>` sorted best-first.
  */
final case class TopKAgg(
    left: Expression, right: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with BinaryLike[Expression] {

  require(k >= 1 && k <= 65536, s"top-k size out of range: $k")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("v", LongType, nullable = false),
      StructField("tag", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_agg"

  // buffer: pairs packed [v0, tag0, v1, tag1, …] sorted best-first;
  // buf(0) is a length header so partially-filled states serialize
  private def n(buf: Array[Long]): Int = buf(0).toInt

  override def createAggregationBuffer(): Array[Long] = new Array[Long](1 + 2 * k)

  /** (v1, t1) ranks strictly better than (v2, t2). */
  @inline private def better(v1: Long, t1: Long, v2: Long, t2: Long): Boolean =
    v1 > v2 || (v1 == v2 && t1 < t2)

  private def insert(buf: Array[Long], v: Long, tag: Long): Array[Long] = {
    val size = n(buf)
    if (size == k && !better(v, tag, buf(2 * size - 1), buf(2 * size))) return buf
    // find insertion slot from the tail (new entries are usually worst)
    var i = if (size == k) size - 1 else size
    while (i > 0 && better(v, tag, buf(2 * i - 1), buf(2 * i))) i -= 1
    // shift worse entries down, dropping the overflow
    var j = if (size == k) size - 1 else size
    while (j > i) {
      buf(2 * j + 1) = buf(2 * j - 1); buf(2 * j + 2) = buf(2 * j)
      j -= 1
    }
    buf(2 * i + 1) = v; buf(2 * i + 2) = tag
    if (size < k) buf(0) = size + 1
    buf
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = left.eval(input); val t = right.eval(input)
    if (v != null && t != null)
      insert(buf, v.asInstanceOf[Number].longValue(), t.asInstanceOf[Number].longValue())
    else buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    val m = n(other)
    while (i < m) { insert(buf, other(2 * i + 1), other(2 * i + 2)); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData((0 until n(buf)).map { i =>
      InternalRow(buf(2 * i + 1), buf(2 * i + 2))
    }.toArray[Any])

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(1 + 2 * k)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKAgg =
    copy(left = l, right = r)
}

object TopKAgg {
  /** Register `topk_agg(v, tag, k)` as a SQL aggregate on the session. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.registerOnce(spark, "topk_agg") { args =>
      require(args.length == 3, "topk_agg(v, tag, k) takes 3 arguments")
      val k = args(2) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(s"k must be an int literal, got $other")
      }
      TopKAgg(args(0), args(1), k)
    }
}
