package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Divide, EqualTo, Expression, If, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Aggregate → materialized-aggregate rewrite (beyond the reference —
  * the plan optimization a warehouse makes when the same fact table
  * feeds many aggregation dashboards; the reference's closest machinery
  * is its partial-agg ResultMerger, which re-aggregates worker partials
  * exactly the way this rule re-aggregates stored partials —
  * src/operators/result_merger.cpp, re-derived at
  * [[graft.plans.PlanClassifier]]).
  *
  * [[graft.Engine.createMaterializedAggregate]] stores, per measure m,
  * the distributive partials (sum_m, min_m, max_m, cnt_m) plus n_rows,
  * grouped by the MV's dimension columns. A SQL aggregate over the
  * base table whose
  *  - grouping columns ⊆ dims,
  *  - WHERE predicate references only dims, and
  *  - aggregate calls are Sum/Min/Max/Count/Avg over measures (or
  *    count(*)), non-DISTINCT, non-FILTER
  * is re-aggregated from the MV instead: sum→sum(sum_m),
  * min→min(min_m), max→max(max_m), count(m)→sum(cnt_m),
  * count(*)→sum(n_rows), avg(m)→sum(sum_m)/sum(cnt_m) (double
  * measures only — Spark's own Average is sum/count in double, so the
  * rewrite is the identical float computation). Output names, exprIds
  * and types are preserved (results cast back to the original
  * aggregate call's type), so operators above the Aggregate — HAVING,
  * ORDER BY — resolve unchanged.
  *
  * At 100 TB this is the largest single win available to a repeated
  * query: the fact-table scan+shuffle collapses to a scan of a
  * dims-cardinality parquet artifact. Groups present in the MV are
  * exactly the non-empty groups of the base, so re-aggregation is
  * semantics-preserving with no empty-group special case.
  *
  * Staleness: the rewrite matches only a base read whose registry
  * entry is the SAME snapshot the MV was built from (the tag on the
  * table's alias); any DML/ALTER on the base swaps the entry and
  * silently disables the rewrite until `refreshMaterializedAggregate`.
  * Correctness never depends on the MV being fresh.
  * A [[graft.GraftExtensions]] rule; its output aggregates the MV, not
  * the base, so re-applying it changes nothing.
  */
object MatViewRewrite {

  private[graft] def rewrite(plan: LogicalPlan,
      engine: graft.Engine): LogicalPlan = {
    val mvs = engine.matViews.values.toSeq
    if (mvs.isEmpty) return plan
    plan.transformWithPruning(_.containsPattern(AGGREGATE)) {
      case agg: Aggregate =>
        mvs.view.flatMap { case (mv, stamp) =>
          tryRewrite(agg, mv, stamp, engine)
        }.headOption.getOrElse(agg)
    }
  }

  /** The base-table reference under an Aggregate, optionally below a
    * WHERE Filter: an engine table's alias (possibly under further user
    * aliases) tagged with `stamp`, the entry the MV was built from
    * ([[graft.Engine.relation]]). Any later write swaps the entry, so a
    * stale MV matches nothing. */
  private def baseOf(child: LogicalPlan,
      stamp: graft.TableEntry): Option[Option[Expression]] = {
    def isBase(p: LogicalPlan): Boolean = p match {
      case sa: SubqueryAlias =>
        sa.getTagValue(graft.Engine.TableTag).exists(_ eq stamp) ||
          isBase(sa.child)
      case _ => false
    }
    child match {
      case sa: SubqueryAlias if isBase(sa) => Some(None)
      case Filter(cond, sa: SubqueryAlias) if isBase(sa) => Some(Some(cond))
      case _ => None
    }
  }

  private def tryRewrite(agg: Aggregate, mv: graft.MatViewDef,
      stamp: graft.TableEntry, engine: graft.Engine): Option[Aggregate] = {
    val dims = mv.dims.map(_.toLowerCase).toSet
    def isDim(a: Attribute): Boolean = dims.contains(a.name.toLowerCase)

    baseOf(agg.child, stamp).flatMap { cond =>
      // grouping: plain dimension columns only
      val groupOk = agg.groupingExpressions.forall {
        case a: Attribute => isDim(a)
        case _ => false
      }
      // WHERE: references only dimension columns
      val condOk = cond.forall(_.references.forall(isDim))
      // every aggregate call rewritable; every attribute outside an
      // aggregate call is a dimension (probe rewrites with a dummy
      // resolver — only feasibility matters here)
      def exprOk(e: Expression): Boolean = e match {
        case ae: AggregateExpression =>
          rewriteAgg(ae, mv, _ => Literal(0L)).isDefined
        case a: Attribute => isDim(a)
        case other => other.children.forall(exprOk)
      }
      val aggsOk = agg.aggregateExpressions.forall {
        case _: AttributeReference => true // checked via groupOk
        case al: Alias => exprOk(al.child)
        case _ => false
      }
      if (!(groupOk && condOk && aggsOk)) None
      else {
        // the stored partials themselves, not the MV's fold of them:
        // re-aggregating the raw scan is one Aggregate, the same
        // sum/min/max/sum-of-counts the fold would compute first
        val mvPlan = engine.matViewScanPlan(mv.name)
        val mvOut: Map[String, Attribute] =
          mvPlan.output.map(a => a.name.toLowerCase -> a).toMap
        def dimAttr(a: Attribute): Attribute = mvOut(a.name.toLowerCase)
        // explicit recursion (not transform): a rewritten aggregate call
        // contains fresh AggregateExpressions that must NOT re-match
        def rw(e: Expression): Expression = e match {
          case ae: AggregateExpression =>
            rewriteAgg(ae, mv, c => mvOut(c)).get
          case a: AttributeReference if isDim(a) => dimAttr(a)
          case other => other.mapChildren(rw)
        }
        val newChild = cond match {
          case Some(c) => Filter(rw(c), mvPlan)
          case None => mvPlan
        }
        val newGroup = agg.groupingExpressions.map {
          case a: Attribute => dimAttr(a)
        }
        val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.map {
          case a: AttributeReference =>
            Alias(dimAttr(a), a.name)(exprId = a.exprId)
          case al: Alias =>
            Alias(rw(al.child), al.name)(
              exprId = al.exprId, qualifier = al.qualifier)
        }
        Some(Aggregate(newGroup, newAggs, newChild))
      }
    }
  }

  private def fresh(fn: AggregateFunction): AggregateExpression =
    AggregateExpression(fn, Complete, isDistinct = false)

  /** Rewritten form of one aggregate call (partial columns produced by
    * `resolve`), or None if the call is not rewritable from the MV. */
  private def rewriteAgg(ae: AggregateExpression, mv: graft.MatViewDef,
      resolve: String => Expression): Option[Expression] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    val measures = mv.measures.map(_.toLowerCase).toSet
    def isMeasure(a: Attribute): Boolean =
      measures.contains(a.name.toLowerCase)
    def m(a: Attribute): String = a.name.toLowerCase
    ae.aggregateFunction match {
      case Sum(a: Attribute, _) if isMeasure(a) =>
        Some(Cast(fresh(Sum(resolve(s"sum_${m(a)}"))), ae.dataType))
      case Min(a: Attribute) if isMeasure(a) =>
        Some(Cast(fresh(Min(resolve(s"min_${m(a)}"))), ae.dataType))
      case Max(a: Attribute) if isMeasure(a) =>
        Some(Cast(fresh(Max(resolve(s"max_${m(a)}"))), ae.dataType))
      // counts coalesce to 0: a GLOBAL aggregate whose dim filter
      // matches no MV rows sums over an empty frame (NULL), but the
      // direct count over the base is 0 — non-empty groupings are
      // unaffected (their empty groups emit no rows on either side)
      case Count(Seq(l: Literal)) if l.value != null =>
        Some(Coalesce(Seq(
          Cast(fresh(Sum(resolve("n_rows"))), LongType), Literal(0L))))
      case Count(Seq(a: Attribute)) if isMeasure(a) =>
        Some(Coalesce(Seq(
          Cast(fresh(Sum(resolve(s"cnt_${m(a)}"))), LongType),
          Literal(0L))))
      case Average(a: Attribute, _) if isMeasure(a) &&
          a.dataType == DoubleType =>
        val s = Cast(fresh(Sum(resolve(s"sum_${m(a)}"))), DoubleType)
        val c = Coalesce(Seq(
          Cast(fresh(Sum(resolve(s"cnt_${m(a)}"))), DoubleType),
          Literal(0.0)))
        // guard the all-NULL-group and empty-global edges (cnt 0)
        Some(If(EqualTo(c, Literal(0.0)), Literal(null, DoubleType),
          Divide(s, c)))
      case _ => None
    }
  }
}
