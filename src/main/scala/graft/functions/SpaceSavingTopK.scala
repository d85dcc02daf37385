package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving heavy-hitter summary (Metwally et al. 2005) as a native
  * mergeable aggregate — the distributed frequent-items primitive: one
  * scan builds a CAPACITY-bounded summary per partition, partial
  * summaries merge associatively (Agarwal et al. 2012, "Mergeable
  * Summaries": the merged summary keeps the n/capacity error bound),
  * and the result is a candidate SUPERSET of every item with true
  * frequency > n/capacity. The caller re-counts the ≤ capacity
  * candidates exactly (one broadcast semi-join) — sketch to avoid the
  * full-cardinality shuffle, exact verify for a deterministic answer.
  *
  * State is O(capacity) per partial regardless of input cardinality —
  * the reason this exists: a plain groupBy on a 100 TB token stream
  * shuffles BILLIONS of distinct keys to find the top few hundred.
  *
  * Update/merge are O(log capacity) via a count-bucket TreeMap (the
  * stream-summary structure); eviction inserts the newcomer at
  * min+1 (the overestimate that preserves the no-false-negative
  * guarantee under any eviction choice).
  */
final case class SpaceSavingSummary(capacity: Int) {
  val counts = new mutable.HashMap[String, Long]()
  // count -> tokens at that count (the stream-summary buckets)
  val buckets = new java.util.TreeMap[Long, mutable.HashSet[String]]()

  private def bucketAdd(t: String, c: Long): Unit = {
    var s = buckets.get(c)
    if (s == null) { s = new mutable.HashSet[String](); buckets.put(c, s) }
    s.add(t); ()
  }

  private def bucketRemove(t: String, c: Long): Unit = {
    val s = buckets.get(c)
    if (s != null) {
      s.remove(t)
      if (s.isEmpty) buckets.remove(c)
      ()
    }
  }

  /** Add `by` occurrences of `t` (1 for stream updates, partial counts
    * for merges). */
  def add(t: String, by: Long): Unit = {
    counts.get(t) match {
      case Some(c) =>
        counts.update(t, c + by); bucketRemove(t, c); bucketAdd(t, c + by)
      case None if counts.size < capacity =>
        counts.update(t, by); bucketAdd(t, by)
      case None =>
        val min = buckets.firstKey()
        val victim = buckets.firstEntry().getValue.head
        counts.remove(victim); bucketRemove(victim, min)
        counts.update(t, min + by); bucketAdd(t, min + by)
    }
  }

  /** Evict minimum-count entries until the summary is within capacity
    * (used after a merge, which may transiently exceed it). */
  def trim(): Unit =
    while (counts.size > capacity) {
      val min = buckets.firstKey()
      val victim = buckets.firstEntry().getValue.head
      counts.remove(victim); bucketRemove(victim, min)
    }
}

object SpaceSavingSummary {
  /** Byte codec of the aggregate's shuffle serialization. */
  def toBytes(buf: SpaceSavingSummary): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.capacity)
    out.writeInt(buf.counts.size)
    buf.counts.foreach { case (t, c) =>
      val b = t.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): SpaceSavingSummary = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = SpaceSavingSummary(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      val c = in.readLong()
      s.add(new String(b, "UTF-8"), c)
      i += 1
    }
    s
  }
}

/** `spacesaving_topk(token, capacity)` → array<string> of the summary's
  * surviving candidates. `capacity` must be a foldable positive int. */
case class SpaceSavingTopK(
    child: Expression,
    capacityExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SpaceSavingSummary] {

  private lazy val capacity: Int =
    capacityExpr.eval(InternalRow.empty).asInstanceOf[Int]

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"spacesaving_topk expects a string column, got ${child.dataType.simpleString}")
    else if (capacityExpr.dataType != IntegerType || !capacityExpr.foldable)
      TypeCheckResult.TypeCheckFailure("capacity must be a foldable int literal")
    else if (capacity <= 0)
      TypeCheckResult.TypeCheckFailure(s"capacity must be positive, got $capacity")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): SpaceSavingSummary =
    SpaceSavingSummary(capacity)

  override def update(buf: SpaceSavingSummary, input: InternalRow): SpaceSavingSummary = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(buf: SpaceSavingSummary, other: SpaceSavingSummary): SpaceSavingSummary = {
    // mergeable-summaries merge: sum matched counts, union the rest,
    // then evict back down to capacity by smallest estimate
    other.counts.foreach { case (t, c) =>
      buf.counts.get(t) match {
        case Some(_) => buf.add(t, c)
        case None =>
          // insert WITHOUT the eviction-overestimate path: transient
          // over-capacity is reconciled by one trim afterwards
          buf.counts.update(t, c)
          val s = Option(buf.buckets.get(c)).getOrElse {
            val n = new mutable.HashSet[String]()
            buf.buckets.put(c, n); n
          }
          s.add(t)
      }
    }
    buf.trim()
    buf
  }

  override def eval(buf: SpaceSavingSummary): Any = {
    // sorted for a deterministic array; the caller treats it as a SET
    val toks = buf.counts.keys.toArray.sorted
    new GenericArrayData(
      toks.map(t => UTF8String.fromString(t).asInstanceOf[Any]))
  }

  override def serialize(buf: SpaceSavingSummary): Array[Byte] =
    SpaceSavingSummary.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): SpaceSavingSummary =
    SpaceSavingSummary.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = newOffset)

  override def children: Seq[Expression] = Seq(child, capacityExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SpaceSavingTopK =
    copy(child = newChildren(0), capacityExpr = newChildren(1))

  override def prettyName: String = "spacesaving_topk"
}
