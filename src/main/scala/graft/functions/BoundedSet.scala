package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bounded_set(col, cap, max_len)`: the EXACT sorted distinct set of a
  * string column, or NULL the moment it provably can't stay small — more
  * than `cap` distinct values, or any value longer than `max_len`.
  *
  * The point is the BOUND: `collect_set` accumulates every distinct value
  * before anyone can check the size, so using it on an arbitrary column
  * risks a high-cardinality blow-up in the aggregation buffer. This
  * aggregate clears its state at the overflow threshold and ignores
  * everything after, so memory is O(cap · max_len) per group REGARDLESS of
  * the data — safe to point at any column at 100 TB. Map-side combinable
  * (overflow is sticky through merge), so the shuffle carries at most the
  * capped set per group.
  *
  * Powers the per-file distinct-value stats (`ColumnStats.values`, kept
  * by the write tasks' [[graft.table.FileStatsTracker]] and the import
  * read-back alike): low-cardinality columns scattered
  * across files get exact-membership file pruning where min/max ranges
  * prove nothing. Also registered as a user-facing SQL aggregate. */
case class BoundedSetAgg(
    child: Expression,
    cap: Int,
    maxLen: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedSetAgg.Buf] {

  require(cap > 0 && maxLen > 0, s"bounded_set needs positive bounds, got ($cap, $maxLen)")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bounded_set"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bounded_set takes a string column (cast first), got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): BoundedSetAgg.Buf = new BoundedSetAgg.Buf()

  override def update(buf: BoundedSetAgg.Buf, input: InternalRow): BoundedSetAgg.Buf = {
    if (!buf.over) {
      val v = child.eval(input)
      if (v != null) {
        val s = v.toString
        if (s.length > maxLen) buf.overflow()
        else {
          buf.set.add(s)
          if (buf.set.size > cap) buf.overflow()
        }
      }
    }
    buf
  }

  override def merge(a: BoundedSetAgg.Buf, b: BoundedSetAgg.Buf): BoundedSetAgg.Buf = {
    if (a.over || b.over) a.overflow()
    else {
      a.set ++= b.set
      if (a.set.size > cap) a.overflow()
    }
    a
  }

  override def eval(buf: BoundedSetAgg.Buf): Any =
    if (buf.over) null
    else new GenericArrayData(
      buf.set.toArray.sorted.map(UTF8String.fromString(_): Any))

  // length-prefixed UTF-8, not writeUTF: a user-chosen max_len past 64 KiB
  // of UTF-8 would make writeUTF throw mid-shuffle
  override def serialize(buf: BoundedSetAgg.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeBoolean(buf.over)
    out.writeInt(buf.set.size)
    buf.set.foreach { s =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedSetAgg.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new BoundedSetAgg.Buf()
    if (in.readBoolean()) buf.overflow()
    else (0 until in.readInt()).foreach { _ =>
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      buf.set.add(new String(b, java.nio.charset.StandardCharsets.UTF_8))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedSetAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedSetAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedSetAgg =
    copy(child = newChildren.head)
}

object BoundedSetAgg {
  /** Overflow clears the set — the buffer must FREE its memory at the
    * threshold, not merely stop growing, or a million overflowing groups
    * each pin cap values. */
  final class Buf {
    var over: Boolean = false
    val set: mutable.HashSet[String] = mutable.HashSet.empty
    def overflow(): Unit = { over = true; set.clear() }
  }

  /** Column-API entry: `boundedSet(col.cast("string"), 64, 64)`. */
  def apply(c: Column, cap: Int, maxLen: Int): Column =
    Bridge.column(BoundedSetAgg(Bridge.expression(c), cap, maxLen)
      .toAggregateExpression())
}
