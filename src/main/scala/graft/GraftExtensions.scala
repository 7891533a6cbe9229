package graft

import java.util.Locale

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{ArrayContains, ArrayPosition, Cast, ElementAt, Explode, Expression, ExpressionInfo, Literal, NullIf, Size}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructType}

import graft.functions.{CosineSimilarity, RollingHashFingerprint, ShingleArray, ShingleHashArray, TermCounts, WordChunks}
import graft.plans.{EnumOrderRewrite, FooterAggRewrite, MatViewRewrite}

/** graft's SQL surface through Spark's own hooks (as the reference plugs
  * into DuckDB's planner), deployed by setting `spark.sql.extensions` to
  * this class or by `builder().withExtensions(new GraftExtensions)`:
  * the engine's functions and DuckDB aliases,
  * `enum_ord`, the `table_changes`/`graft_probe_stats` table functions,
  * [[GraftParser]], the relation rule that resolves engine tables
  * ([[GraftExtensions.EngineRelations]]), and the post-hoc resolution
  * [[GraftExtensions.rules]] (on the ANALYZED plan, before the optimizer
  * collapses filters into literal relations). Catalog-dependent pieces
  * act for [[GraftExtensions.engineFor]] the session: one with no engine (a
  * `newSession()` clone too) gets functions and spellings, no rewrite. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String) = new ExpressionInfo("graft", name)
    (GraftExtensions.functions :+ ("enum_ord" -> GraftExtensions.enumOrd))
      .foreach { case (n, b) =>
        ext.injectFunction((FunctionIdentifier(n), info(n), b))
      }
    GraftExtensions.tableFunctions.foreach { case (n, b) =>
      ext.injectTableFunction((FunctionIdentifier(n), info(n), b))
    }
    ext.injectParser((session, spark) => new GraftParser(session, spark))
    ext.injectHintResolutionRule(session =>
      GraftExtensions.EngineRelations(session))
    GraftExtensions.rules.foreach { case (name, rewrite) =>
      ext.injectPostHocResolutionRule(session =>
        GraftExtensions.EngineRule(name, rewrite, session))
    }
  }
}

object GraftExtensions {
  private def intLit(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (e => CosineSimilarity(e(0), e(1))),
    "shingle_array" -> {
      case Seq(c) => ShingleArray(c, 3)
      case Seq(c, n) => ShingleArray(c, intLit(n))
    },
    "rolling_fingerprint" -> {
      case Seq(c) => RollingHashFingerprint(c, 8)
      case Seq(c, w) => RollingHashFingerprint(c, intLit(w))
    },
    "shingle_hash_array" -> {
      case Seq(c) => ShingleHashArray(c, 3)
      case Seq(c, n) => ShingleHashArray(c, intLit(n))
    },
    "word_chunks" -> {
      case Seq(c) => WordChunks(c, 10)
      case Seq(c, n) => WordChunks(c, intLit(n))
    },
    "term_counts" -> (e => TermCounts(e.head)),
    "len" -> (e => Size(e.head)),
    "unnest" -> (e => Explode(e.head)),
    "list_contains" -> (e => ArrayContains(e(0), e(1))),
    "list_extract" -> (e => ElementAt(e(0), e(1))))

  /** `enum_ord('mood', col)`: declaration-order rank in the acting
    * engine's type catalog, NULL for a non-member (DuckDB enum order in
    * pure SQL — enum_type_support.test:62-81). */
  private val enumOrd: Seq[Expression] => Expression = { case Seq(tpe, c) =>
    val values = engineFor(SparkSession.active)
      .map(_.enumValues(tpe.eval().toString)).getOrElse(Nil)
    Cast(new NullIf(ArrayPosition(Literal.create(values, ArrayType(StringType)),
      c), Literal(0L)), IntegerType)
  }

  /** The post-hoc resolution rules, in the order they run. */
  val rules: Seq[(String, (LogicalPlan, Engine) => LogicalPlan)] = Seq(
    "FooterAggRewrite" -> FooterAggRewrite.rewrite,
    "MatViewRewrite" -> MatViewRewrite.rewrite,
    "EnumOrderRewrite" -> EnumOrderRewrite.rewrite)

  /** The engine's catalog, acting for [[engineFor]] `session`: `t`,
    * `dh.t` ([[Engine.keyOf]]) and `t VERSION AS OF n` resolve to the
    * table's plan, or the retained version's, under an alias tagged with
    * its registry entry ([[Engine.relation]]). A hint-batch rule, so it
    * runs after CTE substitution (a CTE named `t` shadows the table) and
    * before Spark's relation lookup (the engine's `t` wins over a
    * same-named warehouse table or temp view, as it does for writes —
    * [[SqlRouter]]). */
  private[graft] final case class EngineRelations(session: SparkSession)
      extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      engineFor(session).fold(plan) { e =>
        def resolve(r: UnresolvedRelation)(entry: String => TableEntry) =
          e.keyOf(r.multipartIdentifier).filter(e.tableExists)
            .map(k => e.relation(r.multipartIdentifier, k, entry(k)))
        plan.resolveOperators {
          case tt @ RelationTimeTravel(r: UnresolvedRelation, ts, ver) =>
            resolve(r)(e.entryAsOf(_, ts, ver)).getOrElse(tt)
          case r: UnresolvedRelation if !r.isStreaming =>
            resolve(r)(e.registry).getOrElse(r)
        }
      }
  }

  /** A plan rewrite acting for [[engineFor]] `session`. */
  private[graft] final case class EngineRule(override val ruleName: String,
      rewrite: (LogicalPlan, Engine) => LogicalPlan, session: SparkSession)
      extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      engineFor(session).fold(plan)(rewrite(plan, _))
  }

  /** Engine table functions, acting for the (active) analyzing session. */
  val tableFunctions: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "table_changes" -> (args =>
      activeEngine("table_changes").tableChangesPlan(args)),
    // the index-probe analog of duckherder_get_query_execution_stats
    // (query_execution_stats_query_function.cpp:22-60): a local frame
    "graft_probe_stats" -> { args =>
      require(args.isEmpty, "graft_probe_stats() takes no arguments")
      castToImpl(activeEngine("graft_probe_stats").probeStats)
        .queryExecution.analyzed
    })

  private def activeEngine(fn: String): Engine =
    engineFor(SparkSession.active).getOrElse(throw new IllegalArgumentException(
      s"Catalog Error: $fn() needs a graft Engine on this session"))

  private val acting = new ThreadLocal[Engine]

  /** Runs `body` acting for `e` on this thread (`Engine.sql`/`explain`),
    * so a scratch engine's SQL sees its own catalogs. Not inheritable:
    * pool threads must not keep a binding. */
  private[graft] def actingFor[A](e: Engine)(body: => A): A = {
    val prev = acting.get
    acting.set(e)
    try body finally acting.set(prev)
  }

  /** The engine whose `sql`/`explain` runs on this thread for
    * `session`, else the session's serving engine. */
  private[graft] def engineFor(session: SparkSession): Option[Engine] =
    Option(acting.get).filter(_.spark eq session)
      .orElse(Engine.forSession(session))
}

/** Spark's parser plus graft's SQL surface: DuckDB literal spellings
  * ([[DuckSyntax]]; INTERVAL literals only when the engine owns INTERVAL
  * columns) and — for a session with an engine — the engine's DDL/DML
  * verbs as
  * [[GraftCommand]]s ([[SqlRouter]]). Everything else delegates; a
  * session with no engine gets the spellings and plain Spark. */
private[graft] final class GraftParser(session: SparkSession,
    delegate: ParserInterface) extends ParserInterface {

  private def spell(q: String, engine: Option[Engine]): String = {
    var s = DuckSyntax.rewriteCasts(q)
    if (engine.exists(_.typeOrigins.values.exists(_ == "INTERVAL")))
      s = DuckSyntax.rewriteIntervals(s)
    if (s.toUpperCase(Locale.ROOT).contains("ASOF"))
      s = DuckSyntax.rewriteAsofJoin(s)
    s
  }

  private def plan(q: String)(parse: String => LogicalPlan): LogicalPlan = {
    val engine = GraftExtensions.engineFor(session)
    val s = spell(q, engine)
    engine.fold(parse(s))(SqlRouter.plan(_, q, s, parse))
  }

  override def parsePlan(s: String): LogicalPlan = plan(s)(delegate.parsePlan)
  // the entry point `spark.sql` calls
  override def parsePlanWithParameters(s: String,
      ctx: ParameterContext): LogicalPlan =
    plan(s)(delegate.parsePlanWithParameters(_, ctx))

  override def parseExpression(s: String): Expression =
    delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String): LogicalPlan = delegate.parseQuery(s)
  override def parseRoutineParam(s: String): StructType =
    delegate.parseRoutineParam(s)
  override def parseTableSchema(s: String): StructType =
    delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType = delegate.parseDataType(s)
}
