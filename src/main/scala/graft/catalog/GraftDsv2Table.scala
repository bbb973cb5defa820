package graft.catalog

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.GraftTable

/** DSv2 table over a graft snapshot log, optionally pinned to a version or
  * timestamp (time travel — SURVEY.md §2.8). A read builds a [[GraftScan]]
  * that [[graft.plans.GraftNativeScan]] swaps for Spark's vectorized
  * parquet read of the snapshot's file list; a write goes through the V1
  * fallback hook (`V1Write`) into an ACID append/overwrite commit — no
  * bespoke row-level IO. */
case class GraftDsv2Table(t: GraftTable, identName: String,
    asOfVersion: Option[Long] = None, asOfTimestampMs: Option[Long] = None,
    branch: Option[String] = None,
    // invoked at write-plan time (INSERT/OVERWRITE/DELETE targets): the
    // catalog splices a MODIFY grant check here so a SELECT-only principal
    // can resolve the table but not commit to it ([[GrantStore]])
    writeGuard: () => Unit = () => (),
    // invoked at scan-plan time: loadTable accepts SELECT-or-MODIFY (a
    // write-only principal must resolve its DML target), so the read
    // privilege proper is enforced here instead (ADVICE r13)
    readGuard: () => Unit = () => ())
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** SQL `DELETE FROM graft.db.t WHERE ...` (and `TRUNCATE TABLE` through
    * the inherited default): translate the pushed filters and run the
    * copy-on-write row-level delete. Refuse (-> Spark errors with a clear
    * message) when any filter shape can't be translated exactly. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    branch.isEmpty && filters.forall(f => toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    writeGuard()
    val cond = filters.flatMap(toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    t.delete(cond)
  }

  override def name(): String = identName

  override def schema(): StructType = {
    // a branch head may have evolved its schema independently of main
    val base = if (branch.isDefined) t.schemaOfSnapshot(snapshotForRead) else t.schema
    StructType(base.fields.map(_.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
  }

  /** Deliberately NOT declaring AUTOMATIC_SCHEMA_EVOLUTION: Spark's
    * `ResolveMergeIntoSchemaEvolution` applies the SOURCE type verbatim on
    * mismatch — including narrowings like BIGINT→INT when the source used
    * int literals — and errors if the catalog refuses. MERGE … WITH SCHEMA
    * EVOLUTION instead goes through [[GraftMergeEvolution]], which adds
    * missing columns and applies loss-free widenings only (Iceberg 1.9
    * semantics). */
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava

  override def properties(): util.Map[String, String] =
    t.log.current.properties.asJava

  /** Scan with pushdown: accepted filters prune whole files from the
    * snapshot log via column bounds (Iceberg-manifest-style, SURVEY.md §4
    * row 1) and column pruning narrows the read to the referenced
    * top-level columns. Filters are also returned as residuals, so Spark
    * re-checks them — pruning can never lose rows. The scan only describes
    * the read; [[graft.plans.GraftNativeScan]] turns it into the columnar
    * parquet plan. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    readGuard()
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
      private var pushed: Array[Filter] = Array.empty
      private val full = schema()
      private var required: StructType = full

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters
        filters // conservatively all residual: Spark re-evaluates post-scan
      }
      override def pushedFilters(): Array[Filter] = pushed
      // top-level columns at full types: the swap re-aliases the parquet
      // read's columns by name, and a nested-pruned struct would not match
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = StructType(full.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

      override def build(): Scan =
        GraftScan(GraftDsv2Table.this, snapshotForRead, pushed.toSeq, required)
    }
  }

  /** Best-effort translation of pushed filters back to Columns, for the
    * read the swap splices in and for DELETE / overwrite conditions
    * (unsupported shapes are skipped on reads — Spark re-checks all
    * residuals anyway). */
  private[graft] def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v)            => Some(col(c) === v)
      case GreaterThan(c, v)        => Some(col(c) > v)
      case GreaterThanOrEqual(c, v) => Some(col(c) >= v)
      case LessThan(c, v)           => Some(col(c) < v)
      case LessThanOrEqual(c, v)    => Some(col(c) <= v)
      case In(c, vs)                => Some(col(c).isin(vs.toIndexedSeq: _*))
      case IsNull(c)                => Some(col(c).isNull)
      case IsNotNull(c)             => Some(col(c).isNotNull)
      case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
      case Or(l, r)  => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
      case Not(c)    => toColumn(c).map(!_)
      case AlwaysTrue()  => Some(org.apache.spark.sql.functions.lit(true))
      case AlwaysFalse() => Some(org.apache.spark.sql.functions.lit(false))
      case _ => None
    }
  }

  /** The snapshot this table instance reads (honors time travel and branch
    * identifiers). An unpinned table re-reads the log HEAD on every call,
    * so a caller that makes one decision from several facts about the
    * snapshot binds it once: two calls can straddle a commit. */
  private[graft] def snapshotForRead: graft.table.Snapshot = branch match {
    case Some(b) =>
      val r = t.log.refs.getOrElse(b, throw new IllegalArgumentException(
        s"$identName: no branch '$b'"))
      require(r.refType == "branch", s"$identName: '$b' is a tag, not a branch")
      t.log.snapshot(r.version)
    case None => (asOfVersion, asOfTimestampMs) match {
      case (Some(v), _)  => t.log.snapshot(v)
      case (_, Some(ts)) => t.log.snapshotAsOf(ts)
      case _             => t.log.current
    }
  }

  /** THE column-statistics derivation of the (file-pruned) snapshot:
    * manifest row/byte totals and, for the columns of `cols`, merged null
    * counts and exact-numeric bounds, ANALYZE's `stats.ndv.*` distinct
    * counts and `stats.hist.*` histograms. [[GraftScan]] reports them to the
    * optimizer, and the [[graft.plans.GraftNativeScan]] swap attaches the
    * same result to its parquet relations for physical planning. Zero IO. */
  private[graft] def catalogStatistics(snap: graft.table.Snapshot, filters: Seq[Filter],
      cols: StructType): org.apache.spark.sql.catalyst.catalog.CatalogStatistics = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
    val files = t.pruneFiles(snap, filters)
    val rows = files.map(_.rows).sum
    val colStats = cols.fields.flatMap { f =>
      val perFile = files.map(_.stats.get(f.name))
      val nulls: Option[BigInt] =
        if (files.nonEmpty && perFile.forall(_.exists(_.nullCount >= 0)))
          Some(BigInt(perFile.flatMap(_.map(_.nullCount)).sum))
        else None
      // bounds only for exact numerics whose string form round-trips into
      // CatalogColumnStat's external representation losslessly
      val numeric = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType => true
        case _ => false
      }
      def bound(pick: graft.table.ColumnStats => String, wantMin: Boolean): Option[String] =
        if (!numeric) None
        else scala.util.Try {
          // drop all-null marker entries (empty bounds) — they carry no value
          val vals = perFile.flatten.map(pick).filter(_.trim.nonEmpty)
            .map(v => BigDecimal(v.trim))
          if (vals.isEmpty) None
          else Some((if (wantMin) vals.min else vals.max).underlying.toPlainString)
        }.toOption.flatten
      val mn = bound(_.min, wantMin = true)
      val mx = bound(_.max, wantMin = false)
      val ndv = snap.properties.get(s"stats.ndv.${f.name}")
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .map(n => BigInt(math.max(1L, math.min(n, math.max(rows, 1L)))))
      // ANALYZE's KLL quantile endpoints → Spark equi-height Histogram:
      // range-predicate selectivity from the actual mass distribution
      // (heights are the ANALYZED table's rows/bin; after file pruning
      // they overstate proportionally — same approximation the clamped
      // NDV makes, and strictly better than uniform interpolation)
      val hist = snap.properties.get(s"stats.hist.${f.name}").flatMap { s =>
        scala.util.Try {
          import org.apache.spark.sql.catalyst.plans.logical.{Histogram, HistogramBin}
          val qs = s.split(",").map(_.toDouble)
          val nBins = qs.length - 1
          require(nBins >= 1)
          // KLL endpoints are approximate; the manifest min/max are exact.
          // Spark's estimator ASSERTS the predicate range fits inside the
          // histogram, so the outer edges widen to the exact bounds
          mn.map(_.toDouble).filter(_ < qs(0)).foreach(qs(0) = _)
          mx.map(_.toDouble).filter(_ > qs(nBins)).foreach(qs(nBins) = _)
          val binNdv = math.max(1L,
            ndv.map(_.toLong).getOrElse(nBins.toLong) / nBins)
          Histogram(math.max(rows, 1L).toDouble / nBins,
            Array.tabulate(nBins)(i => HistogramBin(qs(i), qs(i + 1), binNdv)))
        }.toOption
      }
      if (nulls.isEmpty && ndv.isEmpty && mn.isEmpty) None
      else Some(f.name -> CatalogColumnStat(distinctCount = ndv,
        min = mn, max = mx, nullCount = nulls, histogram = hist))
    }.toMap
    CatalogStatistics(BigInt(files.map(_.bytes).sum), Some(BigInt(rows)), colStats)
  }

  /** Writes: plain append, TRUNCATE-overwrite, and Iceberg-style
    * overwrite-by-filter (`df.writeTo(t).overwrite(cond)` / static
    * `INSERT OVERWRITE`): the filter rewrite commits matching-row removal
    * and the new data in ONE snapshot. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    writeGuard()
    new WriteBuilder with SupportsOverwrite {
      private var overwrite = false
      private var overwriteCond: Option[org.apache.spark.sql.Column] = None
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def canOverwrite(filters: Array[Filter]): Boolean =
        filters.forall(f => toColumn(f).isDefined)
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        val cols = filters.map(f => toColumn(f).getOrElse(
          throw new IllegalArgumentException(s"untranslatable overwrite filter $f")))
        overwriteCond = cols.reduceOption(_ && _)
        if (overwriteCond.isEmpty) overwrite = true // no filters == full overwrite
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, overwriteFlag: Boolean) => {
            // write-audit-publish: with `write.wap.enabled=true` on the
            // table and `spark.wap.id` in the session, appends STAGE a
            // detached snapshot instead of publishing (Iceberg WAP flow;
            // audited via VERSION AS OF, released by CALL publish_changes)
            val wapId = data.sparkSession.conf.getOption("spark.wap.id")
              .filter(_ => t.currentProperties.get("write.wap.enabled").contains("true"))
            if (branch.isDefined) {
              // Iceberg branch-identifier write surface: INSERT INTO
              // graft.db.`t$branch_dev` appends to the branch head only —
              // audit/experiment isolation; fast_forward/publish merges back
              require(!(overwrite || overwriteFlag) && overwriteCond.isEmpty &&
                wapId.isEmpty,
                s"$identName: branch writes are append-only (no overwrite/WAP)")
              t.appendToBranch(branch.get, data)
            } else (overwriteCond, wapId) match {
              case (Some(cond), None) => t.overwriteWhere(cond, data)
              case (None, Some(id)) if !(overwrite || overwriteFlag) =>
                t.stageWapAppend(data, id)
              case (_, Some(id)) =>
                throw new UnsupportedOperationException(
                  s"wap.id '$id' is set but only appends can be staged for audit " +
                    "(Iceberg publish_changes replays appends only)")
              case (None, None) =>
                if (overwrite || overwriteFlag) t.overwrite(data) else t.append(data)
            }
          }
      }
    }
  }
}

/** A graft read — its ONE bound snapshot, pushed filters and read schema —
  * reporting [[GraftDsv2Table.catalogStatistics]] but with no batch of its
  * own: [[graft.plans.GraftNativeScan]] swaps it for the columnar read before
  * physical planning. A case class, so equal reads compare equal. */
case class GraftScan(table: GraftDsv2Table, snap: graft.table.Snapshot,
    filters: Seq[Filter], readSchema: StructType) extends Scan with SupportsReportStatistics {

  lazy val catalogStats: org.apache.spark.sql.catalyst.catalog.CatalogStatistics =
    table.catalogStatistics(snap, filters, readSchema)

  override def toBatch: Batch = throw new IllegalStateException(s"graft scan of ${table.name()} " +
    "reached physical planning unswapped: graft.plans.GraftNativeScan is not installed")

  override def estimateStatistics(): Statistics = stats

  private lazy val stats: Statistics = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
    import org.apache.spark.sql.connector.read.colstats.{ColumnStatistics, Histogram, HistogramBin}
    def long(v: Option[BigInt]) =
      v.fold(util.OptionalLong.empty)(n => util.OptionalLong.of(n.toLong))
    def opt[A >: Null](v: Option[A]): util.Optional[A] = util.Optional.ofNullable(v.orNull)
    val cs = catalogStats
    val cols = new util.HashMap[NamedReference, ColumnStatistics]()
    readSchema.fields.foreach { f =>
      // bounds typed as Spark's own catalog statistics type them
      cs.colStats.get(f.name).map(_.toPlanStat(f.name, f.dataType)).foreach { c =>
        cols.put(Expressions.column(f.name), new ColumnStatistics {
          override def distinctCount(): util.OptionalLong = long(c.distinctCount)
          override def nullCount(): util.OptionalLong = long(c.nullCount)
          override def min(): util.Optional[Object] = opt(c.min.map(_.asInstanceOf[Object]))
          override def max(): util.Optional[Object] = opt(c.max.map(_.asInstanceOf[Object]))
          override def histogram(): util.Optional[Histogram] = opt[Histogram](c.histogram.map(h =>
            new Histogram {
              override def height(): Double = h.height
              override def bins(): Array[HistogramBin] = h.bins.map(b => new HistogramBin {
                override def lo(): Double = b.lo
                override def hi(): Double = b.hi
                override def ndv(): Long = b.ndv
              })
            }))
        })
      }
    }
    new Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(cs.sizeInBytes.toLong)
      override def numRows(): util.OptionalLong = long(cs.rowCount)
      override def columnStats(): util.Map[NamedReference, ColumnStatistics] = cols
    }
  }
}
