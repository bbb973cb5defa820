package graft.table

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference, Cast, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, ReplaceExpressions}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import graft.functions.BoundedSetAgg

/** Which statistics a data file's entry carries, and how raw per-file
  * figures render into [[ColumnStats]]. THE one list: the write tasks
  * ([[FileStatsTracker]]) and the read-back [[GraftTable.statFiles]] both
  * read it, so the two paths cannot drift.
  *
  * Per `bounded` column: row-order min/max under Spark's ordering (NaN
  * sorts highest), null count, and — for `valueSet` types — the exact
  * [[BoundedSetAgg]] value set. Per `transforms` entry: the transform
  * value's min/max and, for hash families, its value set. */
private[table] final case class StatLayout(schema: StructType,
    transforms: Seq[PartitionTransform]) {
  val bounded: Seq[StructField] = schema.fields.toSeq.filter(f => StatLayout.isStatType(f.dataType))

  /** Raw figures → the per-file stats map: strings truncated, timestamp
    * micros and NTZ renderings made canonical, the all-null marker set. */
  def render(raw: RawFile): Map[String, ColumnStats] = {
    val cols = bounded.zip(raw.cols).flatMap { case (f, st) =>
      if (st.min == null || st.max == null)
        // ALL-NULL marker (VERDICT r16 #4): empty bounds + nullCount ==
        // rows, so IS NOT NULL (and every comparison predicate) can
        // prune the file — without it an all-null column left no stats
        // entry and nothing to prove exclusion from
        if (st.nulls == raw.rows && raw.rows > 0L)
          Some(f.name -> ColumnStats("", "", f.dataType.typeName, st.nulls))
        else None
      else {
        val (mn, mx) = f.dataType match {
          case StringType => StatLayout.truncateBounds(st.min, st.max)
          case TimestampType => // raw bounds are UTC micros
            (GraftTable.tsCanon(st.min.toLong), GraftTable.tsCanon(st.max.toLong))
          case TimestampNTZType => // zone-free cast; re-render canonical
            (StatLayout.canonNtz(st.min), StatLayout.canonNtz(st.max))
          case _ => (st.min, st.max)
        }
        Some(f.name -> ColumnStats(mn, mx, f.dataType.typeName, st.nulls, st.set))
      }
    }
    val derived = transforms.zip(raw.transforms).flatMap { case (t, st) =>
      if (st.min == null || st.max == null) None
      else Some(t.canonical -> ColumnStats(st.min, st.max,
        if (t.numeric) "long" else "string", -1L, st.set))
    }
    (cols ++ derived).toMap
  }
}

private[table] object StatLayout {
  def isStatType(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType |
         TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** EXACT bounded distinct-value SETS next to the min/max
    * ([[ColumnStats.values]]): membership prunes where ranges prove
    * nothing — plain low-cardinality columns (categories, enums, flags)
    * scattered across files. Restricted to types whose cast-to-string is
    * the comparator's literal rendering ([[GraftTable.StatsComparator
    * .litStr]] — timestamps render canonically, floats format-sensitively:
    * excluded). */
  def valueSet(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         BooleanType | DateType => true
    case _ => false
  }

  /** Hash families scatter: a file holding two buckets spans most of the
    * domain, so only a set prunes equality; ranges are tight for the rest. */
  def transformSet(t: PartitionTransform): Boolean = !t.orderPreserving

  /** Longest rendered transform value a transform set keeps. */
  val TransformSetLen = 40

  /** Iceberg-style string-bound truncation so a long-text column (a whole
    * document!) never bloats snapshot metadata: the lower bound truncates to
    * a prefix (any prefix IS a valid lower bound), the upper bound truncates
    * and increments its last incrementable char (making it strictly above
    * everything sharing the prefix). Pruning comparisons stay conservative —
    * never excluding a file that could match. */
  private val BoundLen = 32
  def truncateBounds(min: String, max: String): (String, String) = {
    val mn = if (min.length > BoundLen) min.substring(0, BoundLen) else min
    val mx =
      if (max.length <= BoundLen) max
      else {
        val t = max.substring(0, BoundLen)
        val i = t.lastIndexWhere(_ < Char.MaxValue)
        if (i < 0) max // pathological all-￿ prefix: keep the full bound
        else t.substring(0, i) + (t(i) + 1).toChar
      }
    (mn, mx)
  }

  /** NTZ `cast(string)` rendering ("yyyy-MM-dd HH:mm:ss[.ffffff]", already
    * zone-free) → canonical 'T' form; unparseable falls through verbatim
    * (it then carries no pruning claim — safe). */
  def canonNtz(s: String): String =
    GraftTable.tsLitMicros(s).map(GraftTable.tsCanon).getOrElse(s)
}

/** One column's (or transform's) raw figures for one file: min and max as
  * Spark's `cast(… as string)` of the extreme value (timestamps as their
  * UTC micros; null when the file holds no non-null value), the null count
  * (unused for transforms), and the value set (None: not kept, or over its
  * cap). */
private[table] final case class RawStat(min: String, max: String, nulls: Long,
    set: Option[Seq[String]])

/** One file's raw figures, in [[StatLayout]] order. */
private[table] final case class RawFile(rows: Long, cols: Seq[RawStat],
    transforms: Seq[RawStat])

/** Per-file statistics computed IN the task that writes the file — the
  * pattern of Delta's `DeltaJobStatisticsTracker`. Spark's file writer
  * calls `newFile` / `newRow` / `closeFile` with the file each row lands
  * in, so a `maxRecordsPerFile` split is attributed exactly. Every
  * committed task sends its files' [[RawFile]]s back with its commit
  * message; on the driver [[files]] holds them keyed by file name.
  *
  * `ordinals` place the layout's bounded columns in the written row;
  * `transformExprs` compute the layout's transform values from it. */
private[table] final class FileStatsTracker private (layout: StatLayout,
    ordinals: Array[Int], transformExprs: Seq[Expression], timeZone: String)
  extends WriteJobStatsTracker {

  @transient private val collected = mutable.Map.empty[String, RawFile]

  /** Driver side, after the write job: file name → raw figures. */
  def files: Map[String, RawFile] = collected.toMap

  override def newTaskInstance(): WriteTaskStatsTracker = new FileStatsTracker.Task(
    layout, ordinals, transformExprs, timeZone)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    stats.foreach {
      case FileStatsTracker.TaskFiles(fs) => collected ++= fs
      case other => throw new IllegalStateException(s"unexpected task statistics $other")
    }
}

private[table] object FileStatsTracker {

  /** A tracker for writing `df`: the layout's columns are found in `df` by
    * name, its transforms resolved against `df` and bound to row ordinals. */
  def apply(df: DataFrame, layout: StatLayout, timeZone: String): FileStatsTracker = {
    val ordinals = layout.bounded.map(f => df.schema.fieldIndex(f.name)).toArray
    val exprs =
      if (layout.transforms.isEmpty) Nil
      else {
        val probe = df.select(layout.transforms.map(t => t.column(GraftTable.qcol(t.source))): _*)
        probe.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed match {
          case Project(list, child) =>
            // replace runtime-only forms (to_date, …) and fold constants,
            // over a stand-in leaf with the frame's attributes
            val leaf = LocalRelation(child.output)
            val ready = ConstantFolding(ReplaceExpressions(Project(list, leaf))).expressions
            BindReferences.bindReferences(ready.map {
              case a: Alias => a.child
              case e => e
            }, leaf.output)
          case other => throw new IllegalStateException(
            s"transform statistics expected a projection, got ${other.nodeName}")
        }
      }
    new FileStatsTracker(layout, ordinals, exprs, timeZone)
  }

  final case class TaskFiles(files: Map[String, RawFile]) extends WriteTaskStats

  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** A value that outlives the row it came from (row buffers are reused). */
  private def keep(v: Any): Any = v match {
    case d: Decimal => d.clone()
    case o => InternalRow.copyValue(o)
  }

  /** Running min/max (first of equals wins, as in Spark's `min`/`max`) and
    * value set of one column or transform over one file. */
  private final class Acc(dt: DataType, setAgg: Option[BoundedSetAgg]) {
    private val ord = TypeUtils.getInterpretedOrdering(dt)
    var min: Any = null
    var max: Any = null
    var nulls = 0L
    private val buf = setAgg.map(_.createAggregationBuffer())

    def add(v: Any, row: InternalRow): Unit = {
      if (v == null) nulls += 1
      else if (min == null) { val k = keep(v); min = k; max = k }
      else if (ord.lt(v, min)) min = keep(v)
      else if (ord.gt(v, max)) max = keep(v)
      if (buf.isDefined) setAgg.get.update(buf.get, row)
    }

    def result(render: Any => String): RawStat = RawStat(
      if (min == null) null else render(min), if (max == null) null else render(max), nulls,
      buf.flatMap(b => Option(setAgg.get.eval(b)).map(
        _.asInstanceOf[GenericArrayData].array.toSeq.map(_.toString))))
  }

  private final class Task(layout: StatLayout, ordinals: Array[Int],
      transformExprs: Seq[Expression], timeZone: String) extends WriteTaskStatsTracker {
    private val colTypes = layout.bounded.map(_.dataType).toArray
    private val transformTypes = transformExprs.map(_.dataType).toArray
    private lazy val project = UnsafeProjection.create(transformExprs)
    // the value set collects `cast(value as string)` of the row's column
    private val colSets = layout.bounded.zip(ordinals).map { case (f, o) =>
      if (StatLayout.valueSet(f.dataType))
        Some(BoundedSetAgg(toStr(BoundReference(o, f.dataType, nullable = true)),
          GraftTable.MaxPlainValues, GraftTable.MaxPlainLen))
      else None
    }.toArray
    private val transformSets = layout.transforms.zip(transformTypes).zipWithIndex.map {
      case ((t, dt), i) =>
        if (StatLayout.transformSet(t))
          Some(BoundedSetAgg(toStr(BoundReference(i, dt, nullable = true)),
            GraftTable.MaxStatValues, StatLayout.TransformSetLen))
        else None
    }.toArray

    private def toStr(e: Expression): Expression = Cast(e, StringType, Some(timeZone))

    private final class FileAcc {
      var rows = 0L
      val cols: Array[Acc] = colTypes.indices.map(i => new Acc(colTypes(i), colSets(i))).toArray
      val transforms: Array[Acc] =
        transformTypes.indices.map(i => new Acc(transformTypes(i), transformSets(i))).toArray
    }

    private val open = mutable.Map.empty[String, FileAcc]
    private val done = mutable.Map.empty[String, RawFile]
    private var lastPath: String = _
    private var last: FileAcc = _

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = open(filePath) = new FileAcc

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne lastPath) { lastPath = filePath; last = open(filePath) }
      val f = last
      f.rows += 1
      var i = 0
      while (i < ordinals.length) {
        val o = ordinals(i)
        f.cols(i).add(if (row.isNullAt(o)) null else row.get(o, colTypes(i)), row)
        i += 1
      }
      if (transformTypes.nonEmpty) {
        val t = project(row)
        var j = 0
        while (j < transformTypes.length) {
          f.transforms(j).add(if (t.isNullAt(j)) null else t.get(j, transformTypes(j)), t)
          j += 1
        }
      }
    }

    override def closeFile(filePath: String): Unit =
      open.remove(filePath).foreach { f =>
        if (filePath == lastPath) { lastPath = null; last = null }
        done(fileName(filePath)) = RawFile(f.rows,
          f.cols.toSeq.zip(layout.bounded).map { case (a, fld) =>
            // timestamps keep their UTC micros, as the read-back's unix_micros
            a.result(render(if (fld.dataType == TimestampType) LongType else fld.dataType))
          },
          f.transforms.toSeq.zip(transformTypes).map { case (a, dt) => a.result(render(dt)) })
      }

    /** Spark's `cast(… as string)` of one value. */
    private def render(dt: DataType)(v: Any): String =
      Cast(Literal(v, dt), StringType, Some(timeZone)).eval().toString

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      open.keys.toSeq.foreach(closeFile)
      TaskFiles(done.toMap)
    }
  }
}
