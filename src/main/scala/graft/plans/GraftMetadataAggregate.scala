package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import graft.catalog.GraftDsv2Table
import graft.table.Snapshot

/** Metadata-only global aggregates over graft catalog tables: the snapshot
  * log already holds exact per-file row counts and column min/max bounds
  * (collected at write time for pruning), so an unfiltered `COUNT(*)` /
  * `MIN(numeric)` / `MAX(numeric)` needs ZERO data IO — the same
  * aggregate-pushdown shortcut Iceberg's Spark integration performs from
  * its manifests (reference stack surface, `main.tf:803`). At 100 TB this
  * turns the most common sanity queries from full scans into metadata
  * lookups.
  *
  * Fires only when provably exact:
  *  - global aggregate (no GROUP BY), no Filter between it and the relation
  *    (matching is structural: only column-only Projects are walked);
  *  - `count(*)`/`count(<non-null literal>)` — non-distinct, no FILTER
  *    clause — and `min`/`max` of integral/floating columns. String bounds
  *    are TRUNCATED in metadata and date/timestamp bounds round-trip
  *    through casts, so only exact numeric bounds participate;
  *  - every file with rows in the column carries its bounds (a file missing
  *    bounds for an EXISTING column is all-null there and contributes
  *    nothing; files predating an added column likewise);
  *  - the snapshot has no merge-on-read delete files (deleted rows could
  *    hold the extremum / change the count — fall through to the scan).
  *
  * An operator-optimization rule: it sees the graft relation before scan
  * pushdown builds a scan of it. Honors time travel — values come from the
  * relation's pinned snapshot.
  */
case class GraftMetadataAggregate(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groupless, aggExprs, child, _) if groupless.isEmpty && aggExprs.nonEmpty =>
      // one snapshot for the no-deletes guard AND the answer: a merge-on-
      // read delete committed between two reads would otherwise pass the
      // guard and then count the row totals of a snapshot with deletes
      graftOf(child).map(g => g -> g.snapshotForRead) match {
        case Some((g, snap)) if snap.deleteFiles.isEmpty && snap.eqDeleteFiles.isEmpty =>
          val answers = aggExprs.map(e => answer(e, snap))
          if (answers.forall(_.isDefined)) {
            // metadata values ARE reads: loadTable accepts SELECT-or-MODIFY
            // (write-only principals must resolve their DML target), so the
            // read privilege is enforced wherever data becomes visible —
            // newScanBuilder, the MV rewrite, and HERE, or a MODIFY-only
            // principal could lift counts and column extrema
            g.readGuard()
            LocalRelation(agg.output.asInstanceOf[Seq[Attribute]],
              Seq(InternalRow.fromSeq(answers.map(_.get))))
          } else agg
        case _ => agg
      }
  }

  /** The graft relation under column-only projections, if any. */
  private def graftOf(plan: LogicalPlan): Option[GraftDsv2Table] = plan match {
    case r: DataSourceV2Relation =>
      r.table match { case g: GraftDsv2Table => Some(g); case _ => None }
    case Project(projs, child) if projs.forall(_.isInstanceOf[AttributeReference]) =>
      graftOf(child)
    case _ => None
  }

  /** Exact numeric types whose metadata bounds round-trip losslessly. */
  private def exactBounds(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType => true
    case _ => false
  }

  private def parse(s: String, dt: DataType): Any = dt match {
    case LongType    => s.toLong
    case IntegerType => s.toInt
    case ShortType   => s.toShort
    case ByteType    => s.toByte
    case DoubleType  => s.toDouble
    case FloatType   => s.toFloat
    case other       => throw new IllegalStateException(s"unexpected bound type $other")
  }

  /** The metadata answer for one aggregate output column, or None if this
    * expression (or its inputs' metadata) can't be answered exactly. */
  private def answer(e: NamedExpression, snap: Snapshot): Option[Any] = e match {
    case Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) if v != null =>
          Some(snap.files.map(_.rows).sum)
        case Min(attr: AttributeReference) if exactBounds(attr.dataType) =>
          boundOver(snap, attr, _.min, (a: Any, b: Any) => lt(a, b, attr.dataType))
        case Max(attr: AttributeReference) if exactBounds(attr.dataType) =>
          boundOver(snap, attr, _.max, (a: Any, b: Any) => lt(b, a, attr.dataType))
        case _ => None
      }
    case _ => None
  }

  /** Fold one side of the bounds across files. A file without stats for the
    * column is all-null in it (file stats hold bounds iff min/max were
    * non-null — [[graft.table.StatLayout]]), so it contributes nothing — exactly the null-skipping
    * semantics of MIN/MAX; likewise files predating an added column. All
    * files null → the SQL answer is NULL. */
  private def boundOver(snap: Snapshot, attr: AttributeReference,
      side: graft.table.ColumnStats => String, takes: (Any, Any) => Boolean): Option[Any] = {
    val vals = snap.files.flatMap(f =>
      // all-null marker entries carry EMPTY bounds (nullCount == rows):
      // they contribute nothing to MIN/MAX, same as the missing-entry case
      f.stats.get(attr.name).filter(_.min.nonEmpty)
        .map(st => parse(side(st), attr.dataType)))
    Some(vals.reduceOption((a, b) => if (takes(a, b)) a else b).orNull)
  }

  /** Spark's total order for each type — for floats that is java.lang
    * compare semantics (NaN greatest, -0.0 < 0.0), matching Min/Max. */
  private def lt(a: Any, b: Any, dt: DataType): Boolean = dt match {
    case LongType    => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    case IntegerType => a.asInstanceOf[Int] < b.asInstanceOf[Int]
    case ShortType   => a.asInstanceOf[Short] < b.asInstanceOf[Short]
    case ByteType    => a.asInstanceOf[Byte] < b.asInstanceOf[Byte]
    case DoubleType  => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double]) < 0
    case FloatType   => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float]) < 0
    case _           => false
  }
}
