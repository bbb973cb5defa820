package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** ROW FILTERS + COLUMN MASKS — the table-attached governance policies the
  * reference's Databricks side sells (row-level security / column masking;
  * Trino's Iceberg connector exposes the same pair):
  *
  *   ALTER TABLE graft.db.users SET TBLPROPERTIES (
  *     'graft.filter'     = "region <> 'EU' OR consent",
  *     'graft.mask.email' = "regexp_replace(email, '(?<=.).(?=[^@]*@)', '*')")
  *
  * Every SQL READ of the table — SELECT, joins, subqueries, views over it,
  * CTAS/INSERT sources — resolves as if the table were
  * `SELECT <masked cols> FROM t WHERE <filter>`: the row filter evaluates
  * on RAW values (below the masks, the Unity/Trino semantics), the masks
  * replace the column values without changing names or types. Enforcement
  * happens at ANALYSIS time by splicing the policy expressions UNRESOLVED
  * around the relation, so the analyzer resolves functions and columns
  * exactly as if the user had written the wrapping query — no exprId
  * surgery, and every downstream optimization (pushdown through the
  * deterministic filter, pruning of unused masks) still applies.
  *
  * The rule is registered in BOTH the early (hint) analyzer batch — where
  * top-level relations are still unresolved — and the resolution batch,
  * which catches relations spliced in LATE by view expansion
  * ([[GraftViewRead]]): a view over a governed table is governed too.
  *
  * Scope, by design:
  *  - DML and write TARGETS (UPDATE/MERGE/DELETE/INSERT) read the raw
  *    table — the writer role; row images must not be masked or the write
  *    would corrupt. MERGE/INSERT *sources* that are governed tables ARE
  *    masked (what the writer may read is policy-bound).
  *  - The direct path API (`GraftTable.read`) and maintenance procedures
  *    are engine-internal and privileged, like Iceberg's own action APIs.
  *  - The path-based DSv2 entry (`spark.read.format("graft").load(path)`)
  *    is governed exactly when the session acts as a PRINCIPAL
  *    (`spark.graft.principal` set — the same trigger as the path entry's
  *    grant gate): a governed user must not read unmasked rows by spelling
  *    the table as a path. Unprincipaled sessions stay engine-internal.
  *
  * Policy expressions are validated at DEFINITION time (parse + resolve +
  * type check in [[GraftCatalog.alterTable]]), so a typo fails the ALTER,
  * not the next analyst's SELECT. Time travel is governed too — policies
  * are read from the CURRENT table state, so tightening a policy
  * retroactively covers old snapshots. */
case class GraftGovernance(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftViewSupport.target
  import GraftGovernance._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // write/DML targets keep the raw table: collect them BY REFERENCE
    val exempt = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def exemptAll(p: LogicalPlan): Unit = p.foreach {
      case u: UnresolvedRelation => exempt.add(u)
      // a path-based write target resolves straight to a catalog-less
      // DataSourceV2Relation (TableProvider route) — exempt it like the
      // UnresolvedRelation form, or enabling path DSv2 writes would wrap
      // the WRITE TARGET in filter/masks and corrupt row images (ADVICE r15)
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        exempt.add(r)
      case _ => ()
    }
    plan.foreach {
      case m: MergeIntoTable => exemptAll(m.targetTable)
      case u: UpdateTable => exemptAll(u.table)
      case d: DeleteFromTable => exemptAll(d.table)
      case i: InsertIntoStatement => exemptAll(i.table)
      case w: V2WriteCommand => exemptAll(w.table)
      case _ => ()
    }
    // time-travel reads wrap at the RelationTimeTravel node (its child must
    // stay a bare relation for ResolveRelations to pin the snapshot)
    val ttChildren = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case tt: RelationTimeTravel => ttChildren.add(tt.relation); case _ => ()
    }
    plan.transformUpWithSubqueries {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, _, _)
          if u.getTagValue(WrappedTag).isEmpty && !exempt.contains(u) =>
        policiesFor(u.multipartIdentifier) match {
          case Some((filter, masks, cols)) =>
            u.setTagValue(WrappedTag, true)
            wrap(tt, u.multipartIdentifier.last, filter, masks, cols)
          case None => tt
        }
      case u: UnresolvedRelation if u.getTagValue(WrappedTag).isEmpty &&
          !exempt.contains(u) && !ttChildren.contains(u) =>
        policiesFor(u.multipartIdentifier) match {
          case Some((filter, masks, cols)) =>
            u.setTagValue(WrappedTag, true)
            wrap(u, u.multipartIdentifier.last, filter, masks, cols)
          case None => u
        }
      // PATH-based loads resolve straight to a DataSourceV2Relation with no
      // catalog/identifier (TableProvider route) — catalog-resolved
      // relations carry both, and THEIR policies were spliced at the
      // UnresolvedRelation stage above (the catalog/identifier guard is
      // what prevents double-masking). Governed only for principaled
      // sessions: the path spelling must not launder a governed user past
      // the masks, while unprincipaled sessions stay engine-internal.
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.getTagValue(WrappedTag).isEmpty && r.catalog.isEmpty &&
            r.identifier.isEmpty && !exempt.contains(r) && GrantStore.sessionPrincipal.nonEmpty =>
        r.table match {
          case g: GraftDsv2Table =>
            policiesOf(g.t.log.current.properties) match {
              case Some((filter, masks)) =>
                r.setTagValue(WrappedTag, true)
                wrap(r, g.t.path.split("/").last, filter, masks,
                  g.t.schema.fields.map(_.name).toSeq)
              case None => r
            }
          case _ => r
        }
    }
  }

  /** (row filter, masks by column, column order) when `parts` names a graft
    * table carrying governance properties.
    *
    * FAIL CLOSED: only the legitimate "no policy can exist" outcomes return
    * None (not a graft catalog/table, table absent — analysis will produce
    * its own table-not-found error). Any OTHER exception while loading the
    * table or reading its snapshot-log properties (transient IO, corrupt
    * head JSON) propagates and fails the query: a row-security layer that
    * swallows its own load errors silently serves raw unfiltered rows. */
  private def policiesFor(parts: Seq[String])
      : Option[(Option[String], Map[String, String], Seq[String])] =
    target(spark, parts).flatMap { case (cat, ident) =>
      val loaded =
        try Some(cat.loadTable(ident))
        catch {
          case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException =>
            None
        }
      loaded.collect { case g: GraftDsv2Table => g }.flatMap { t =>
        policiesOf(t.t.log.current.properties)
          .map { case (filter, masks) =>
            (filter, masks, t.t.schema.fields.map(_.name).toSeq)
          }
      }
    }

  private def parse(sql: String): Expression =
    spark.sessionState.sqlParser.parseExpression(sql)

  private def wrap(child: LogicalPlan, name: String, filter: Option[String],
      masks: Map[String, String], cols: Seq[String]): LogicalPlan = {
    val filtered = filter.map(f => Filter(parse(f), child)).getOrElse(child)
    val projected =
      if (masks.isEmpty) filtered
      else Project(cols.map { c =>
        masks.get(c) match {
          case Some(sql) => Alias(parse(sql), c)(): NamedExpression
          case None => UnresolvedAttribute.quoted(c)
        }
      }, filtered)
    SubqueryAlias(name, projected)
  }
}

object GraftGovernance {
  val FilterProp = "graft.filter"
  val MaskPropPrefix = "graft.mask."
  private val WrappedTag = TreeNodeTag[Boolean]("graft.governance.wrapped")

  /** The ONE property→policy extraction — shared by the catalog-identifier
    * and path-relation routes so a policy-property change can never cover
    * one route and silently miss the other. */
  private[graft] def policiesOf(props: Map[String, String])
      : Option[(Option[String], Map[String, String])] = {
    val filter = props.get(FilterProp)
    val masks = props.collect {
      case (k, v) if k.startsWith(MaskPropPrefix) =>
        k.stripPrefix(MaskPropPrefix) -> v
    }
    if (filter.isEmpty && masks.isEmpty) None else Some((filter, masks))
  }

  /** Fail closed where this rule does not run (a session without
    * `GraftExtensions`): refuse a governed table in the scope the rule
    * covers — catalog reads always, path reads for a principal. */
  private[graft] def requireEnforced(spark: SparkSession, s: GraftScan,
      catalogRead: Boolean): Unit = {
    val g = s.table
    // policies come from the CURRENT table state (time travel is governed
    // too); an unpinned scan's bound snapshot is that state
    def current =
      if (g.asOfVersion.isEmpty && g.asOfTimestampMs.isEmpty && g.branch.isEmpty) s.snap
      else g.t.log.current
    if ((catalogRead || GrantStore.sessionPrincipal.nonEmpty) &&
        !spark.sessionState.analyzer.extendedResolutionRules.exists(_.isInstanceOf[GraftGovernance]) &&
        policiesOf(current.properties).nonEmpty)
      throw new SecurityException(s"${g.name()} carries row-filter or column-mask " +
        s"policies ($FilterProp / $MaskPropPrefix*) that this session does not enforce: " +
        "build it with spark.sql.extensions=graft.GraftExtensions")
  }
}
