package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** KLL-style mergeable QUANTILE sketch over doubles (Karnin, Lang &
  * Liberty 2016, "Optimal Quantile Approximation in Streams") — the
  * quantile counterpart of [[ThetaSketch]]'s distinct-count sketch. Exact
  * percentiles (q19) need all values of a group co-located; at 100 TB the
  * right shape is a bounded-size mergeable summary: each map task folds its
  * partition into ≤ O(k log(n/k)) retained values, the shuffle carries
  * sketches instead of rows, and merge is associative + commutative so the
  * aggregate plans partial→final like any built-in.
  *
  * Structure: geometric levels of buffers; a value at level h carries
  * weight 2^h. When level h overflows its capacity (k·(2/3)^(top−h),
  * floor 8 — top levels largest, per the paper) it is sorted and every
  * other element promoted to level h+1 (weight doubles), the rest
  * discarded. The kept parity ALTERNATES deterministically instead of by
  * coin flip: reproducible results for the same data+order, same ε = O(1/k)
  * rank-error shape (the randomized offset only tightens constants against
  * adversarial inputs).
  *
  * Written from the paper's construction; no DataSketches code involved
  * (the serialized form is graft's own, documented at [[serialize]] —
  * Iceberg's Puffin spec only standardizes theta blobs, which
  * [[graft.table.Puffin]] handles).
  */
object KllSketch {
  val DefaultK = 200

  /** Mutable sketch state. `levels(h)` holds values of weight 2^h; level 0
    * is the unsorted insert buffer, levels keep no intra-level order
    * invariant (sorted on demand at compaction/query). */
  final class State(val k: Int) {
    val levels: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(ArrayBuffer.empty[Double])
    var n: Long = 0L
    var flip: Boolean = false

    private def capacity(h: Int): Int = {
      val depth = levels.size
      math.max(8, math.ceil(k * math.pow(2.0 / 3.0, (depth - 1 - h).toDouble)).toInt)
    }

    def update(v: Double): Unit = {
      levels(0) += v; n += 1
      if (levels(0).size >= capacity(0)) compact(0)
    }

    private def compact(h: Int): Unit = {
      val buf = levels(h)
      if (buf.size < 2) return
      val sorted = buf.sortInPlace()
      if (h + 1 == levels.size) levels += ArrayBuffer.empty[Double]
      val offset = if (flip) 1 else 0
      flip = !flip
      var i = offset
      val up = levels(h + 1)
      while (i < sorted.size) { up += sorted(i); i += 2 }
      // the unkept parity survives as at most one leftover when sizes are
      // odd — the classic implementation discards it with its weight
      // accounted by the kept sibling; we keep the leftover at level h so
      // total weight only changes by the compaction's +/-1 rank noise
      val leftover = if (sorted.size % 2 == 1 && offset == 1) Seq(sorted(0)) else Nil
      levels(h).clear()
      levels(h) ++= leftover
      if (levels(h + 1).size >= capacity(h + 1)) compact(h + 1)
    }

    def mergeIn(o: State): Unit = {
      n += o.n
      while (levels.size < o.levels.size) levels += ArrayBuffer.empty[Double]
      var h = 0
      while (h < o.levels.size) { levels(h) ++= o.levels(h); h += 1 }
      h = 0
      while (h < levels.size) {
        if (levels(h).size >= capacity(h)) compact(h)
        h += 1
      }
    }

    /** Weighted (value, weight) pairs across all levels. */
    def weighted: Seq[(Double, Long)] =
      levels.iterator.zipWithIndex.flatMap { case (buf, h) =>
        buf.iterator.map(v => (v, 1L << h))
      }.toSeq

    /** Rank-interpolated quantile: smallest retained value whose cumulative
      * weight reaches ⌈p·W⌉ (W = retained weight mass; ±compaction noise of
      * the true n). */
    def quantile(p: Double): Double = {
      val ws = weighted.sortBy(_._1)
      require(ws.nonEmpty, "empty sketch has no quantiles")
      val total = ws.iterator.map(_._2).sum
      val target = math.max(1L, math.ceil(p * total).toLong)
      var cum = 0L
      var i = 0
      while (i < ws.size) {
        cum += ws(i)._2
        if (cum >= target) return ws(i)._1
        i += 1
      }
      ws.last._1
    }
  }

  // ---- serialization (graft format, little-endian) --------------------
  // [u32 magic 'GKLL', u8 version=1, u8 flip, u16 pad, i32 k, i64 n,
  //  i32 numLevels, per level: i32 size + size doubles]
  private val Magic = 0x474b4c4c

  def serialize(s: State): Array[Byte] = {
    val payload = s.levels.map(_.size * 8 + 4).sum
    val bb = ByteBuffer.allocate(4 + 1 + 1 + 2 + 4 + 8 + 4 + payload)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Magic).put(1.toByte).put(if (s.flip) 1.toByte else 0.toByte)
      .putShort(0).putInt(s.k).putLong(s.n).putInt(s.levels.size)
    s.levels.foreach { buf =>
      bb.putInt(buf.size)
      buf.foreach(bb.putDouble)
    }
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): State = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bb.getInt() == Magic, "not a graft KLL sketch")
    require(bb.get() == 1, "unsupported KLL version")
    val flip = bb.get() == 1
    bb.getShort()
    val s = new State(bb.getInt())
    s.n = bb.getLong()
    s.flip = flip
    val numLevels = bb.getInt()
    s.levels.clear()
    (0 until numLevels).foreach { _ =>
      val sz = bb.getInt()
      val buf = new ArrayBuffer[Double](sz)
      (0 until sz).foreach(_ => buf += bb.getDouble())
      s.levels += buf
    }
    if (s.levels.isEmpty) s.levels += ArrayBuffer.empty[Double]
    s
  }

  def quantileFrom(bytes: Array[Byte], p: Double): Double =
    deserialize(bytes).quantile(p)

  def countFrom(bytes: Array[Byte]): Long = deserialize(bytes).n

  /** Column API: `KllSketch(col)` in an `.agg(...)` → serialized blob. */
  import org.apache.spark.sql.graftglue.Bridge
  def apply(child: Column, k: Int = DefaultK): Column =
    Bridge.column(KllSketchAgg(Bridge.expression(child), k).toAggregateExpression())

  /** Column API: extract a quantile from a sketch blob column. */
  def quantile(sketch: Column, p: Double): Column =
    Bridge.column(KllQuantile(Bridge.expression(sketch), p))
}

/** Scalar extractor: quantile p of a serialized KLL blob. Runs at
  * aggregate-result grain (one row per group), so the eval-mode
  * implementation (CodegenFallback) costs nothing measurable — the hot
  * path is the aggregate, not the extraction. */
case class KllQuantile(child: Expression, p: Double)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(p >= 0.0 && p <= 1.0, s"quantile p must be in [0,1], got $p")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "kll_quantile"
  override protected def nullSafeEval(input: Any): Any = {
    val s = KllSketch.deserialize(input.asInstanceOf[Array[Byte]])
    if (s.n == 0) null else s.quantile(p)
  }
  override protected def withNewChildInternal(newChild: Expression): KllQuantile =
    copy(child = newChild)
}

/** One-pass quantile-sketch aggregate producing the serialized KLL blob;
  * map-side combinable — at 100 TB the shuffle carries O(k log(n/k))
  * doubles per group, never the rows. Numeric inputs are widened to
  * double (the sketch's value domain). */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllSketch.State] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "kll_sketch"

  override def createAggregationBuffer(): KllSketch.State = new KllSketch.State(k)

  override def update(buf: KllSketch.State, input: InternalRow): KllSketch.State = {
    val v = child.eval(input)
    if (v != null) {
      val d = child.dataType match {
        case DoubleType => v.asInstanceOf[Double]
        case FloatType => v.asInstanceOf[Float].toDouble
        case IntegerType => v.asInstanceOf[Int].toDouble
        case LongType => v.asInstanceOf[Long].toDouble
        case ShortType => v.asInstanceOf[Short].toDouble
        case ByteType => v.asInstanceOf[Byte].toDouble
        case _: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
        case other => throw new IllegalArgumentException(s"kll_sketch: unsupported type $other")
      }
      buf.update(d)
    }
    buf
  }

  override def merge(a: KllSketch.State, b: KllSketch.State): KllSketch.State = {
    a.mergeIn(b); a
  }

  override def eval(buf: KllSketch.State): Any = KllSketch.serialize(buf)

  override def serialize(buf: KllSketch.State): Array[Byte] = KllSketch.serialize(buf)

  override def deserialize(bytes: Array[Byte]): KllSketch.State =
    KllSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllSketchAgg =
    copy(child = newChildren.head)
}

/** ROLLUP aggregate over PRE-BUILT sketches: merges serialized KLL blobs
  * (the `kll_sketch` output) into one sketch — the sketch-of-sketches
  * reaggregation pattern. A 100 TB summary layer stores one small blob per
  * (day, partition) and answers month/global percentile questions by
  * merging blobs — never rescanning rows; KLL's merge keeps the same
  * O(k log(n/k)) space and rank-error class as a single-pass build.
  * Null inputs (empty groups) are skipped. */
case class KllMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllSketch.State] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "kll_merge"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"kll_merge expects a serialized sketch (BINARY) column, got ${child.dataType}")

  override def createAggregationBuffer(): KllSketch.State =
    new KllSketch.State(KllSketch.DefaultK)

  override def update(buf: KllSketch.State, input: InternalRow): KllSketch.State = {
    val v = child.eval(input)
    if (v != null) buf.mergeIn(KllSketch.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(a: KllSketch.State, b: KllSketch.State): KllSketch.State = {
    a.mergeIn(b); a
  }

  override def eval(buf: KllSketch.State): Any = KllSketch.serialize(buf)
  override def serialize(buf: KllSketch.State): Array[Byte] = KllSketch.serialize(buf)
  override def deserialize(bytes: Array[Byte]): KllSketch.State =
    KllSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllMergeAgg =
    copy(child = newChildren.head)
}
