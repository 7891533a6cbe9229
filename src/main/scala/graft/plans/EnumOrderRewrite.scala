package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ArrayPosition, Attribute, BinaryComparison, CreateNamedStruct, ExprId, Expression, GreaterThan, GreaterThanOrEqual, If, LessThan, LessThanOrEqual, Length, Literal, SortOrder, StartsWith, StringTranslate, UnaryMinus}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, MaxBy, Min, MinBy}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Sort, SubqueryAlias}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Declaration-order / numeric-order semantics for columns the engine
  * carries as STRING:
  *
  *  - ENUM columns compare by DECLARATION order, not lexically (DuckDB
  *    enum semantics — enum_type_support.test:62-81, 225-260);
  *  - HUGEINT/UHUGEINT columns (beyond Spark's DECIMAL(38) tower, carried
  *    as canonical integer text — type_support.test:229-261) compare
  *    NUMERICALLY via a (sign, signed length, digit text) order key.
  *
  * Rewritten shapes, in both cases:
  *
  *  - SortOrder(col)           → SortOrder(orderKey(col))
  *  - Min(col) / Max(col)      → MinBy / MaxBy over the order key
  *  - col <,≤,>,≥ 'lit'/col₂   → key(col) ⊕ key(lit)/key(col₂)
  *
  * Column resolution binds each attribute to the registered table it
  * actually comes from (the tagged SubqueryAlias wrapping the table's
  * plan — [[graft.Engine.relation]]), never by name alone — a column in
  * an unrelated table, or under a user alias or CTE, that merely shares
  * a name with an enum column keeps Spark's lexical semantics. Catalogs
  * are per-[[graft.Engine]]; this [[graft.GraftExtensions]] rule acts
  * for [[graft.GraftExtensions.engineFor]] the session. Equality is
  * untouched (string equality IS enum/canonical-integer equality). A
  * rewrite replaces the attribute it matched with an order key, so
  * re-applying the rule changes nothing.
  */
object EnumOrderRewrite {

  private[graft] def rewrite(plan: LogicalPlan,
      engine: graft.Engine): LogicalPlan = {
    if (engine.enumCols.isEmpty && engine.typeOrigins.isEmpty) return plan

    // attribute → (registered table, column) via the tagged alias each
    // table reference resolves through (user aliases and CTEs wrap
    // further SubqueryAlias nodes outside; exprIds are stable through
    // them)
    val binding: Map[ExprId, (String, String)] = plan.collect {
      case sa: SubqueryAlias
          if sa.getTagValue(graft.Engine.TableTag).isDefined =>
        sa.output.map(a => a.exprId -> ((sa.alias, a.name)))
    }.flatten.toMap

    def enumValuesOf(a: Attribute): Option[Seq[String]] =
      binding.get(a.exprId).flatMap { case (t, c) =>
        engine.enumTypeOf(t, c).map(engine.enumValues)
      }.filter(_.nonEmpty)

    def isHuge(a: Attribute): Boolean =
      binding.get(a.exprId).exists { case (t, c) =>
        engine.typeOrigins.get((t, c))
          .exists(o => o == "HUGEINT" || o == "UHUGEINT")
      }

    object EnumAttr {
      def unapply(e: Expression): Option[(Attribute, Seq[String])] = e match {
        case a: Attribute if a.resolved && a.dataType == StringType =>
          enumValuesOf(a).map((a, _))
        case _ => None
      }
    }
    object HugeAttr {
      def unapply(e: Expression): Option[Attribute] = e match {
        case a: Attribute
          if a.resolved && a.dataType == StringType && isHuge(a) => Some(a)
        case _ => None
      }
    }

    plan transform {
      case s: Sort =>
        val rewritten = s.order.map {
          case so @ SortOrder(EnumAttr(a, values), _, _, _) =>
            so.copy(child = rank(a, values))
          case so @ SortOrder(HugeAttr(a), _, _, _) =>
            so.copy(child = hugeKey(a))
          case other => other
        }
        if (rewritten == s.order) s else s.copy(order = rewritten)

      case a: Aggregate =>
        a.transformExpressions {
          case Min(EnumAttr(at, values)) => MinBy(at, rank(at, values))
          case Max(EnumAttr(at, values)) => MaxBy(at, rank(at, values))
          case Min(HugeAttr(at)) => MinBy(at, hugeKey(at))
          case Max(HugeAttr(at)) => MaxBy(at, hugeKey(at))
        }

      case f: Filter =>
        f.transformExpressions {
          case cmp: BinaryComparison if isOrderCmp(cmp) =>
            (cmp.left, cmp.right) match {
              case (EnumAttr(a, values), l: Literal) =>
                rankLiteral(values, l).map(rl =>
                  cmp.withNewChildren(Seq(rank(a, values), rl)))
                  .getOrElse(cmp)
              case (l: Literal, EnumAttr(a, values)) =>
                rankLiteral(values, l).map(rl =>
                  cmp.withNewChildren(Seq(rl, rank(a, values))))
                  .getOrElse(cmp)
              case (EnumAttr(a1, v1), EnumAttr(a2, v2)) if v1 == v2 =>
                cmp.withNewChildren(Seq(rank(a1, v1), rank(a2, v2)))
              case (HugeAttr(a), r) if r.dataType == StringType =>
                cmp.withNewChildren(Seq(hugeKey(a), hugeKey(r)))
              case (l, HugeAttr(a)) if l.dataType == StringType =>
                cmp.withNewChildren(Seq(hugeKey(l), hugeKey(a)))
              case _ => cmp
            }
        }
    }
  }

  private def isOrderCmp(e: Expression): Boolean = e match {
    case _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual => true
    case _ => false
  }

  private def rank(a: Expression, values: Seq[String]): Expression =
    ArrayPosition(Literal.create(values, ArrayType(StringType)), a)

  /** Numeric order key for canonical integer text (no leading zeros):
    * (sign, length signed by it, digits — nines-complemented when
    * negative so longer/bigger magnitudes sort first). Struct comparison
    * over these three fields IS integer comparison, at any precision. */
  private def hugeKey(e: Expression): Expression = {
    val neg = StartsWith(e, Literal("-"))
    CreateNamedStruct(Seq(
      Literal("s"), If(neg, Literal(0), Literal(1)),
      Literal("l"), If(neg, UnaryMinus(Length(e)), Length(e)),
      Literal("d"), If(neg,
        StringTranslate(e, Literal("0123456789"), Literal("9876543210")), e)))
  }

  /** A string literal's declaration rank, iff it is a member of the
    * enum (a non-member comparison keeps lexical semantics rather than
    * silently misranking). */
  private def rankLiteral(values: Seq[String],
      lit: Literal): Option[Expression] = lit.value match {
    case s: UTF8String if values.contains(s.toString) =>
      Some(Literal(values.indexOf(s.toString) + 1L))
    case _ => None
  }
}
