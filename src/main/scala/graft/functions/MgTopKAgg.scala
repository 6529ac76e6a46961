package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Misra-Gries heavy hitters with FIXED `c`-counter state.
  *
  * `mg_topk_agg(tag, c)` maintains at most `c` (tag → counter) pairs
  * plus one error register, the third point of the top-k state
  * spectrum beside `topk_agg` (k-row EXACT — but only over
  * pre-aggregated counts) and `sketch_countmin` (fixed grid that only
  * ever OVER-counts). Misra-Gries runs over RAW rows in one pass and
  * UNDER-counts by a bounded amount:
  *
  *  - update: increment the tag's counter; if the tag is new and all
  *    `c` slots are full, decrement every counter instead (the classic
  *    batch decrement — the arriving row is absorbed by the decrement)
  *    and add the decrement to `err`;
  *  - merge: pairwise counter SUM (exact, commutative), then — only
  *    if the union exceeds `c` — one (c+1)-th-largest subtraction,
  *    added to `err` (Agarwal et al., "Mergeable Summaries", PODS'12);
  *  - guarantee, any partitioning / merge shape: for every tag,
  *    `est ≤ true ≤ est + err`, `err ≤ n/(c+1)`, and every tag with
  *    `true > err` is PRESENT in the summary. The reported values may
  *    differ across merge shapes (inherent to MG — which is why the
  *    oracle-gated `sketch_topk_mg` query emits the order-invariant
  *    idealized summary instead, see PipelineQueries), but the
  *    guarantee triple is partition-invariant and is what
  *    ScaleOpsSpec pins.
  *
  * The decrement loop is O(c) per overflow event — fine for the spec
  * scale here; a production deployment amortizes it with the
  * count-bucket linked list of the Space-Saving literature.
  *
  * Result: `struct<err: bigint, items: array<struct<est, tag>>>`,
  * items sorted est-descending then tag-ascending.
  */
final case class MgTopKAgg(
    child: Expression, c: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgTopKAgg.State] with UnaryLike[Expression] {

  require(c >= 1 && c <= (1 << 20), s"MG capacity out of range: $c")

  override def dataType: DataType = StructType(Seq(
    StructField("err", LongType, nullable = false),
    StructField("items", ArrayType(
      StructType(Seq(StructField("est", LongType, nullable = false),
        StructField("tag", LongType, nullable = false))), containsNull = false),
      nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "mg_topk_agg"

  override def createAggregationBuffer(): MgTopKAgg.State =
    new MgTopKAgg.State(0L, mutable.LongMap.empty[Long])

  override def update(buf: MgTopKAgg.State, input: InternalRow): MgTopKAgg.State = {
    val t = child.eval(input)
    if (t == null) return buf
    buf.err += MgTopKAgg.updateOne(buf.map, t.asInstanceOf[Number].longValue(), c)
    buf
  }

  override def merge(buf: MgTopKAgg.State, other: MgTopKAgg.State): MgTopKAgg.State = {
    buf.err += other.err
    other.map.foreachEntry { (k, v) => buf.map(k) = buf.map.getOrElse(k, 0L) + v }
    buf.err += MgTopKAgg.subtractToCapacity(buf.map, c)
    buf
  }

  override def eval(buf: MgTopKAgg.State): Any = {
    val items = buf.map.toArray.sortBy { case (tag, est) => (-est, tag) }
    InternalRow(buf.err, new GenericArrayData(
      items.map { case (tag, est) => InternalRow(est, tag): Any }))
  }

  override def serialize(buf: MgTopKAgg.State): Array[Byte] = {
    val bb = ByteBuffer.allocate(16 + 16 * buf.map.size)
    bb.putLong(buf.err).putLong(buf.map.size.toLong)
    buf.map.foreachEntry { (k, v) => bb.putLong(k).putLong(v); () }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MgTopKAgg.State = {
    val bb = ByteBuffer.wrap(bytes)
    val err = bb.getLong
    val sz  = bb.getLong.toInt
    val m   = mutable.LongMap.empty[Long]
    var i = 0
    while (i < sz) { m(bb.getLong) = bb.getLong; i += 1 }
    new MgTopKAgg.State(err, m)
  }

  override def withNewMutableAggBufferOffset(o: Int): MgTopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MgTopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(nc: Expression): MgTopKAgg =
    copy(child = nc)
}

object MgTopKAgg {
  /** Mutable MG summary: error register + tag → counter map (≤ c). */
  final class State(var err: Long, val map: mutable.LongMap[Long])

  /** One MG arrival into `m` under capacity `c`; returns the error
    * delta (1 when the batch decrement fired, else 0). The SINGLE
    * definition of the update step — the streaming shard state
    * (EventStreams.mgHeavyHitters) calls this too, so the two paths
    * cannot drift (the r10 getOrNull unboxing bug lived in exactly
    * such a duplicated copy). 0L is a safe absence sentinel: live
    * counters are always >= 1 (LongMap.getOrNull unboxes missing
    * primitives to 0L, so a null check never fires and would leave
    * the capacity branch dead — the map would silently grow past c). */
  def updateOne(m: mutable.LongMap[Long], key: Long, c: Int): Long = {
    val cur = m.getOrElse(key, 0L)
    if (cur != 0L) { m(key) = cur + 1L; 0L }
    else if (m.size < c) { m(key) = 1L; 0L }
    else { // batch decrement: the arriving row pays for it
      val dead = mutable.ArrayBuffer.empty[Long]
      m.foreachEntry { (k, v) => if (v == 1L) dead += k else m(k) = v - 1L }
      dead.foreach(m.remove)
      1L
    }
  }

  /** The mergeable-summaries reduction: if `m` exceeds `c` entries,
    * subtract the (c+1)-th-largest counter from every entry and drop
    * the non-positives; returns the subtraction (the error delta, 0
    * when already within capacity). Shared by merge() and the
    * streaming batch tail. */
  def subtractToCapacity(m: mutable.LongMap[Long], c: Int): Long =
    if (m.size <= c) 0L
    else {
      val vs = m.values.toArray
      java.util.Arrays.sort(vs)
      val t = vs(vs.length - 1 - c)
      val dead = mutable.ArrayBuffer.empty[Long]
      m.foreachEntry { (k, v) => if (v <= t) dead += k else m(k) = v - t }
      dead.foreach(m.remove)
      t
    }

  /** Register `mg_topk_agg(tag, c)` as a SQL aggregate on the session. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.registerOnce(spark, "mg_topk_agg") { args =>
      require(args.length == 2, "mg_topk_agg(tag, c) takes 2 arguments")
      val c = args(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"capacity must be an int literal, got $other")
      }
      MgTopKAgg(args(0), c)
    }
}
