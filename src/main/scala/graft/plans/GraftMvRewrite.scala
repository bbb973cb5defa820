package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import graft.catalog.GraftDsv2Table
import graft.operators.IncrementalAgg
import graft.table.GraftTable

/** TRANSPARENT MATERIALIZED-AGGREGATE REWRITE: answer `GROUP BY` queries
  * over a graft catalog table from an [[IncrementalAgg]] materialization
  * instead of the base data — the query-rewrite half of the materialized
  * views the reference's Databricks side sells (the refresh half is
  * `CALL graft.system.refresh_agg`). At 100 TB this turns the hottest
  * dashboard aggregates from full scans into reads of a |groups|-row table.
  *
  * Fires only when provably EXACT — the rewrite must be bit-for-bit
  * indistinguishable from the scan it replaces:
  *  - freshness: the MV's stamped `incragg.source-version` equals the
  *    version the query actually reads (`snapshotForRead` — so a time
  *    travel read AT the stamped version also rewrites, and any later
  *    source commit disables the rewrite until `refresh_agg` runs);
  *  - grouping expressions, and any filter between the aggregate and the
  *    scan, reference ONLY the MV's group keys (a filter on keys removes
  *    whole groups, so it commutes with the re-aggregation; `HAVING`
  *    sits above the Aggregate and is unaffected);
  *  - aggregates map losslessly onto the maintained state: `count(*)` →
  *    `sum(cnt)`, `count(c)` → `sum(nn_c)` (the per-column non-null
  *    count), `sum(c)` → `sum(sum_c)` for integral `c` (any long is exact
  *    in the stored decimal(28,6)) and for decimal `c` with scale ≤ 6 and
  *    ≤ 22 integer digits; `min(c)`/`max(c)` → `min(min_c)`/`max(max_c)`
  *    for columns the MV maintains extrema on (stored in the source
  *    column's own type — exact for any orderable type); `count(distinct
  *    k)` for a KEY column re-runs the distinct over the |groups|-row MV
  *    (every base (G, k) combination appears as at least one MV row).
  *    Float/double sums, non-key DISTINCTs, and FILTER clauses fall
  *    through to the scan. AVG is
  *    deliberately out: Spark computes it in the input's float geometry,
  *    which a decimal re-division can't reproduce bit-exactly.
  *
  * Grouping by a SUBSET of the MV keys (or any deterministic expression of
  * them) re-aggregates the MV — a rollup over |groups| rows, never the
  * base table. Output attributes keep the original exprIds, names, and
  * types, so the surrounding plan never notices the swap.
  *
  * Candidates come from [[IncrementalAgg.rewriteCandidates]] — populated by
  * `materialize_agg` / `refresh_agg` in this session, or re-attached via
  * `CALL graft.system.register_agg_rewrite` after a restart. Freshness
  * costs one snapshot-log head read per candidate per query — metadata
  * grain, never data IO. Disable it like any optimizer rule, with
  * `spark.sql.optimizer.excludedRules=graft.plans.GraftMvRewrite`.
  *
  * An operator-optimization rule: it sees the graft relation before scan
  * pushdown, and long before [[GraftNativeScan]] plans the read. An answer
  * from the MV is a read of the source, so a rewrite checks the source's
  * SELECT grant (`readGuard`) — no scan of the source is ever built.
  */
case class GraftMvRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (IncrementalAgg.rewriteRegistryEmpty) plan
    else plan.transform {
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
    }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] =
    sourceOf(agg.child).flatMap { case Walk(g, filterOpt, subst) =>
      freshCandidates(g).flatMap { case (mv, keys, sums, minMaxes) =>
        build(agg, filterOpt, subst, mv, keys, sums, minMaxes)
      }.nextOption().map { rewritten => g.readGuard(); rewritten }
    }

  /** What the walk down to the relation found: the graft table, the
    * conjunction of filters (expressed over BASE relation attributes), and
    * the substitution inlining every intermediate Project alias — the
    * analyzer extracts `GROUP BY upper(k)` into a
    * `Project [upper(k) AS _groupingexpression]` below the Aggregate, so
    * seeing through deterministic aliases is what makes key-expression
    * grouping rewritable. */
  private case class Walk(table: GraftDsv2Table, filter: Option[Expression],
      subst: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression])

  private def sourceOf(plan: LogicalPlan): Option[Walk] = plan match {
    case r: DataSourceV2Relation => r.table match {
      case g: GraftDsv2Table => Some(Walk(g, None, Map.empty))
      case _ => None
    }
    case Project(ps, child) =>
      sourceOf(child).flatMap { w =>
        val entries = ps.map {
          case a: AttributeReference => Some(a.exprId -> inline(a, w.subst))
          case al: Alias if al.child.deterministic =>
            Some(al.exprId -> inline(al.child, w.subst))
          case _ => None
        }
        if (entries.exists(_.isEmpty)) None
        else Some(w.copy(subst = w.subst ++ entries.flatten))
      }
    case Filter(cond, child) =>
      sourceOf(child).map { w =>
        val base = inline(cond, w.subst)
        w.copy(filter = Some(w.filter.map(And(base, _)).getOrElse(base)))
      }
    case _ => None
  }

  /** Rewrite `e` in terms of base relation attributes by inlining project
    * aliases (substitutions already bottom out at base attrs). */
  private def inline(e: Expression,
      subst: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression]): Expression =
    e.transform {
      case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
    }

  /** Registered materializations of this table stamped at EXACTLY the
    * version this relation reads. Lazy: candidates are only loaded (one
    * snapshot-log head read) until the first one that can serve the query. */
  private def freshCandidates(
      g: GraftDsv2Table): Iterator[(GraftTable, Seq[String], Seq[String], Seq[String])] = {
    val srcVersion = g.snapshotForRead.version
    IncrementalAgg.rewriteCandidates(g.t.path).iterator.flatMap { p =>
      scala.util.Try {
        val mv = GraftTable.load(spark, p)
        val props = mv.log.current.properties
        def cols(prop: String): Seq[String] =
          props.getOrElse(prop, "").split(",").toSeq.filter(_.nonEmpty)
        if (props.get(IncrementalAgg.SourceVersionProp).exists(_.toLong == srcVersion))
          Some((mv, cols(IncrementalAgg.KeysProp), cols(IncrementalAgg.SumsProp),
            cols(IncrementalAgg.MinMaxProp)))
        else None
      }.toOption.flatten
    }
  }

  private def build(agg: Aggregate, filterOpt: Option[Expression],
      subst: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression],
      mv: GraftTable, keys: Seq[String], sums: Seq[String],
      minMaxes: Seq[String]): Option[LogicalPlan] = {
    val keySet = keys.map(_.toLowerCase).toSet
    val sumSet = sums.map(_.toLowerCase).toSet
    val minMaxSet = minMaxes.map(_.toLowerCase).toSet

    def keysOnly(e: Expression): Boolean =
      e.deterministic && e.references.forall(a => keySet(a.name.toLowerCase))
    val groupsBase = agg.groupingExpressions.map(inline(_, subst))
    if (!groupsBase.forall(keysOnly)) return None
    if (!filterOpt.forall(keysOnly)) return None

    val mvPlan = mv.read.queryExecution.analyzed
    val mvAttr: Map[String, Attribute] =
      mvPlan.output.map(a => a.name.toLowerCase -> a).toMap
    // the maintained state must actually be there (older MV, renamed cols)
    if (!mvAttr.contains("cnt") || !keys.forall(k => mvAttr.contains(k.toLowerCase)) ||
        !sums.forall(c => mvAttr.contains("sum_" + c.toLowerCase) &&
          mvAttr.contains("nn_" + c.toLowerCase)) ||
        !minMaxes.forall(c => mvAttr.contains("min_" + c.toLowerCase) &&
          mvAttr.contains("max_" + c.toLowerCase))) return None

    /** Source key references -> the MV's same-named columns. */
    def remap(e: Expression): Expression = e.transform {
      case a: AttributeReference if keySet(a.name.toLowerCase) =>
        mvAttr(a.name.toLowerCase)
    }

    /** One aggregate call over the source -> its exact MV re-aggregation. */
    def rewriteAggFn(fn: AggregateFunction): Option[Expression] = fn match {
      case Count(Seq(Literal(v, _))) if v != null =>
        Some(Coalesce(Seq(Sum(mvAttr("cnt")).toAggregateExpression(), Literal(0L))))
      case Count(Seq(a: AttributeReference)) if sumSet(a.name.toLowerCase) =>
        Some(Coalesce(Seq(
          Sum(mvAttr("nn_" + a.name.toLowerCase)).toAggregateExpression(), Literal(0L))))
      case Min(a: AttributeReference) if minMaxSet(a.name.toLowerCase) =>
        // min of per-group mins IS the rollup min; stored in the source
        // column's own type, so exactness is structural
        Some(Min(mvAttr("min_" + a.name.toLowerCase)).toAggregateExpression())
      case Max(a: AttributeReference) if minMaxSet(a.name.toLowerCase) =>
        Some(Max(mvAttr("max_" + a.name.toLowerCase)).toAggregateExpression())
      case Sum(a: AttributeReference, _) if sumSet(a.name.toLowerCase) =>
        val stored = mvAttr("sum_" + a.name.toLowerCase)
        a.dataType match {
          // OVERFLOW BOUNDARY (documented contract): state is decimal(28,6),
          // so the rewrite is bit-exact while every maintained group total
          // stays within ±(10^22 - 1) — and for integral sums, within Long
          // range, where native sum(long) would WRAP under non-ANSI mode
          // while Cast(Sum(decimal), Long) returns NULL. Past those bounds
          // the MV state itself has already gone NULL-on-overflow, so the
          // divergence is in the maintenance layer, not introduced here.
          case ByteType | ShortType | IntegerType | LongType =>
            Some(Cast(Sum(stored).toAggregateExpression(), LongType))
          case d: DecimalType if d.scale <= 6 && (d.precision - d.scale) <= 22 =>
            Some(Cast(Sum(stored).toAggregateExpression(),
              DecimalType(math.min(38, d.precision + 10), d.scale)))
          case _ => None
        }
      case _ => None
    }

    def rewriteNamed(ne: NamedExpression): Option[NamedExpression] = {
      val (child, name, id) = ne match {
        case a: AttributeReference => (inline(a, subst), a.name, a.exprId)
        case al: Alias => (inline(al.child, subst), al.name, al.exprId)
        case _ => return None
      }
      var ok = true
      // transformUp: the replacement subtree contains a fresh
      // AggregateExpression that must NOT itself be revisited
      val replaced = child.transformUp {
        case ae: AggregateExpression if ae.filter.isEmpty && ae.isDistinct =>
          ae.aggregateFunction match {
            // COUNT(DISTINCT key): every base (G, k) combination appears as
            // at least one MV group row, so the distinct set per G-partition
            // is identical — re-run the distinct over |groups| rows
            case Count(Seq(a: AttributeReference)) if keySet(a.name.toLowerCase) =>
              AggregateExpression(Count(Seq(mvAttr(a.name.toLowerCase))),
                ae.mode, isDistinct = true, None)
            case _ => ok = false; ae
          }
        case ae: AggregateExpression =>
          if (ae.filter.isDefined) { ok = false; ae }
          else rewriteAggFn(ae.aggregateFunction) match {
            case Some(x) => x
            case None => ok = false; ae
          }
      }
      if (!ok) return None
      val rem = remap(replaced)
      if (rem.deterministic && rem.references.subsetOf(mvPlan.outputSet))
        Some(Alias(rem, name)(exprId = id))
      else None
    }
    val rewritten: Seq[Option[NamedExpression]] =
      agg.aggregateExpressions.map(rewriteNamed)
    if (rewritten.exists(_.isEmpty)) return None

    val newChild = filterOpt match {
      case Some(c) =>
        val rc = remap(c)
        if (!rc.references.subsetOf(mvPlan.outputSet)) return None
        Filter(rc, mvPlan)
      case None => mvPlan
    }
    val newGroups = groupsBase.map(remap)
    if (newGroups.exists(!_.references.subsetOf(mvPlan.outputSet))) return None
    val newAgg = Aggregate(newGroups, rewritten.map(_.get), newChild)
    // the swap must be invisible: identical ids and types, or no deal
    val sameShape = newAgg.output.length == agg.output.length &&
      newAgg.output.zip(agg.output).forall { case (n, o) =>
        n.exprId == o.exprId && n.dataType == o.dataType && n.name == o.name
      }
    if (sameShape) Some(newAgg) else None
  }
}
