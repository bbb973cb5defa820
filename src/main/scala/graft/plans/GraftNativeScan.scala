package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.sources.Filter
import graft.catalog.GraftDsv2Table
import graft.table.Snapshot

/** Keeps catalog-table reads vectorized: swaps a graft DSv2 relation for the
  * logical plan of the snapshot's (file-pruned) parquet read, so `SELECT …
  * FROM graft.db.t` plans as the stock columnar `FileScan parquet` inside
  * whole-stage codegen — the same physical shape `spark.read.parquet` gets —
  * instead of the row-based `V1Scan` fallback (which pays an
  * InternalRow→Row→InternalRow conversion per row and fences off codegen).
  *
  * Injected as an operator-optimization rule: it runs in the same fixed-point
  * batch as `PushDownPredicates`, so by the time a relation is swapped the
  * WHERE clause sits directly above it — the conjuncts translate to
  * data-source filters and drive snapshot-log file pruning (the Iceberg-
  * manifest-style skip; reference `main.tf:803`, SURVEY.md §4 row 1), then
  * stay in the plan and push into the parquet scan's own row-group pruning.
  *
  * Row-level DML nodes keep the DSv2 relation as a direct child and are
  * matched on it by Spark's strategies / [[graft.catalog.GraftSqlDml]], so
  * the rewrite never descends into them. Writes are safe by construction:
  * a `V2WriteCommand`'s target table is a field, not a child.
  */
object GraftNativeScan extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case d: DeleteFromTable => d
    case u: UpdateTable     => u
    case m: MergeIntoTable  => m
    case f @ Filter(cond, r: DataSourceV2Relation) =>
      swappable(r).fold[LogicalPlan](f) { case (g, snap) =>
        f.copy(child = swap(r, g, snap, conjuncts(cond).flatMap(Bridge.translateFilter)))
      }
    case r: DataSourceV2Relation =>
      swappable(r).fold[LogicalPlan](r) { case (g, snap) => swap(r, g, snap, Seq.empty) }
    case other => other.mapChildren(rewrite)
  }

  /** The graft table and the ONE snapshot the swap reads and describes. */
  private def swappable(r: DataSourceV2Relation): Option[(GraftDsv2Table, Snapshot)] =
    graftOf(r).map(g => g -> g.snapshotForRead)

  private def graftOf(r: DataSourceV2Relation): Option[GraftDsv2Table] = r.table match {
    case g: GraftDsv2Table => Some(g)
    case _                 => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** Replace the relation with the pruned parquet read's analyzed plan,
    * aliasing its output back to the relation's attribute ids so every
    * reference above keeps resolving. The table's statistics ride along:
    * the spliced plan is a bare parquet `LogicalRelation` whose stats
    * would otherwise be just file bytes, so the snapshot's manifest
    * row/byte totals and per-column NDV/null/bounds are attached as a
    * synthetic `CatalogTable` — `LogicalRelation.computeStats` then serves
    * the CBO the same numbers the DSv2 `estimateStatistics` reports, and
    * an ANALYZEd low-cardinality filter can still flip a join to
    * broadcast on the vectorized path. */
  private def swap(r: DataSourceV2Relation, g: GraftDsv2Table, snap: Snapshot,
      filters: Seq[Filter]): LogicalPlan = {
    // this swap IS the read path when it fires (newScanBuilder never runs),
    // so the SELECT grant check must happen here too
    g.readGuard()
    val child = g.t.readPruned(snap, filters).queryExecution.analyzed
    val stats = g.catalogStatistics(snap, filters.toArray)
    val statsTable = org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(g.name()),
      tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty,
      schema = child.schema,
      provider = Some("parquet"),
      stats = Some(stats))
    val withStats = child.transformUp {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.catalogTable.isEmpty =>
        lr.copy(catalogTable = Some(statsTable))
    }
    val byName = withStats.output.map(a => a.name -> a).toMap
    val proj = r.output.map { attr =>
      Alias(byName(attr.name), attr.name)(exprId = attr.exprId, qualifier = attr.qualifier)
    }
    Project(proj, withStats)
  }
}
