package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.graftglue.Bridge
import graft.catalog.{GraftGovernance, GraftScan}

/** THE graft read path: swaps each scan relation over a [[GraftScan]] for
  * the snapshot's file-pruned parquet read, so catalog and `format("graft")`
  * reads plan as the stock columnar `FileScan parquet`. The table's entry
  * points install it (`GraftCatalog.initialize`, `GraftDataSource.getTable`),
  * so what a reader gets does not depend on how its session was built — as
  * Iceberg's `SparkCatalog` alone gives Spark a columnar scan (reference
  * `main.tf:794`). It runs in Spark's user-provided optimizer batch, after
  * scan pushdown, join reordering and the bloom-filter runtime filter (whose
  * creation side is a subquery plan the rule also rewrites) read the scan's
  * statistics. A `DELETE FROM` target keeps its scan relation: Spark's
  * delete strategy matches it there and calls `deleteWhere`, never reading it.
  */
object GraftNativeScan extends Rule[LogicalPlan] {

  /** Append this rule to the active session's extra optimizations, once. */
  def install(): Unit = SparkSession.getActiveSession.foreach { s =>
    val methods = s.experimental
    methods.synchronized {
      if (!methods.extraOptimizations.contains(this))
        methods.extraOptimizations = methods.extraOptimizations :+ this
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d: DeleteFromTable => d
    case _ => plan.transformUpWithSubqueries {
      case r @ DataSourceV2ScanRelation(_, s: GraftScan, _, _, _) => swap(r, s)
    }
  }

  /** The scan's read, its output aliased back to the relation's attribute
    * ids. Projections and filters over one relation are spliced as
    * analyzed: the physical scan collapses them with the residual filter
    * above. Any other read (schema-evolution unions, merge-on-read and
    * equality-delete anti-joins) gets the pushed filters and read schema
    * applied in one analysis pass and is optimized, since no later pass
    * would push the residual filter into its branches or plan its hints.
    * The scan's statistics ride along as a synthetic `CatalogTable` on
    * each parquet relation, for physical planning. */
  private def swap(r: DataSourceV2ScanRelation, s: GraftScan): LogicalPlan = {
    val spark = SparkSession.active
    GraftGovernance.requireEnforced(spark, s, catalogRead = r.relation.catalog.nonEmpty)
    val g = s.table
    val pruned = g.t.readPruned(s.snap, s.filters).queryExecution.analyzed
    val child = if (simple(pruned)) pruned else {
      val filtered = s.filters.flatMap(g.toColumn).reduceOption(_ && _)
        .fold(pruned)(c => Filter(Bridge.expression(spark, c), pruned))
      spark.sessionState.optimizer.execute(Bridge.ofRows(spark,
        Project(s.readSchema.fieldNames.toSeq.map(UnresolvedAttribute.quoted), filtered))
        .queryExecution.analyzed)
    }
    val statsTable = CatalogTable(TableIdentifier(g.name()), CatalogTableType.EXTERNAL,
      CatalogStorageFormat.empty, child.schema, Some("parquet"), stats = Some(s.catalogStats))
    val withStats = child.transformUp {
      case lr: LogicalRelation if lr.catalogTable.isEmpty =>
        lr.copy(catalogTable = Some(statsTable))
    }
    val byName = withStats.output.map(a => a.name -> a).toMap
    Project(r.output.map { attr =>
      Alias(byName(attr.name), attr.name)(exprId = attr.exprId, qualifier = attr.qualifier)
    }, withStats)
  }

  private def simple(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => simple(c)
    case Filter(_, c)  => simple(c)
    case _: LeafNode   => true
    case _             => false
  }
}
