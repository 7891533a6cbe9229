package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, LocalRelation, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.types.{DateType, IntegerType, LongType}

import graft.{Engine, TableEntry}

/** Bare metadata-answerable aggregates over a path-registered parquet
  * table fold to FOOTER statistics — no data pages, no scan job (the
  * fast path every native engine, including the reference's DuckDB
  * core, takes for `SELECT count(*)` / `min(key)` / `max(key)`).
  * Applies only when
  *
  *  - EVERY output aggregate is ungrouped, unfiltered, non-distinct
  *    and one of: `count(1)` (what the analyzer lowers COUNT(*) to),
  *    `min(col)`, `max(col)` over a 32/64-bit integer or date column
  *    (the only types whose parquet chunk statistics are
  *    unconditionally exact — strings truncate, floats have NaN
  *    ordering caveats),
  *  - the input is the registered table's scan, unmodified — any
  *    Filter/Project/DML-rewrite in between keeps the rewrite out (a
  *    table mutated through the engine's
  *    copy-on-write DML re-registers WITHOUT a source path, so a
  *    post-INSERT aggregate always recomputes the real lineage),
  *  - every chunk of every referenced column carries exact non-null
  *    statistics (verified footer-by-footer; the fold is exact or
  *    absent, never approximate).
  *
  * The fold substitutes a [[LocalRelation]] carrying the SAME output
  * attributes, so aliases, downstream operators, and the stats
  * recorder see an unchanged schema. A [[graft.GraftExtensions]] rule;
  * it matches the plan root only, so its output never matches again. */
object FooterAggRewrite {

  private def bare(e: AggregateExpression): Boolean =
    !e.isDistinct && e.filter.isEmpty

  /** The column name if this aggregate is min/max over a direct
    * integral/date attribute; Some(None) marks count(1); None marks
    * not-foldable. */
  private def foldKey(e: AggregateExpression): Option[Option[String]] =
    e.aggregateFunction match {
      case Count(Seq(Literal(1, _))) if bare(e) => Some(None)
      case Min(a: AttributeReference) if bare(e) &&
          (a.dataType == IntegerType || a.dataType == LongType ||
            a.dataType == DateType) => Some(Some(a.name))
      case Max(a: AttributeReference) if bare(e) &&
          (a.dataType == IntegerType || a.dataType == LongType ||
            a.dataType == DateType) => Some(Some(a.name))
      case _ => None
    }

  /** The table a bare scan behind aliases reads: an engine table's
    * tagged alias ([[Engine.relation]]) directly over its leaf. */
  private def scanned(p: LogicalPlan): Option[TableEntry] = p match {
    case a: SubqueryAlias => a.getTagValue(Engine.TableTag) match {
      case None => scanned(a.child)
      case e => e.filter(_ => a.child.isInstanceOf[LeafNode])
    }
    case _ => None
  }

  def rewrite(plan: LogicalPlan, engine: Engine): LogicalPlan = plan match {
    case agg @ Aggregate(Nil, exprs, child, _)
        if exprs.nonEmpty && exprs.forall {
          case Alias(ae: AggregateExpression, _) => foldKey(ae).isDefined
          case _ => false
        } =>
      val keys = exprs.map {
        case Alias(ae: AggregateExpression, _) => foldKey(ae).get
      }
      val cols = keys.flatten.distinct
      scanned(child).flatMap(engine.metadataAgg(_, cols)) match {
        case Some((rows, mm)) =>
          val values = exprs.zip(keys).map {
            case (_, None) => rows
            case (Alias(ae: AggregateExpression, _), Some(c)) =>
              val (mn, mx) = mm(c)
              val v = ae.aggregateFunction match {
                case _: Min => mn
                case _ => mx
              }
              // LocalRelation rows carry the attribute's physical type
              if (ae.dataType == LongType) v else v.toInt
            case other =>
              throw new IllegalStateException(s"unreachable: $other")
          }
          LocalRelation(agg.output, Seq(InternalRow(values: _*)))
        case None => plan
      }
    case _ => plan
  }
}
