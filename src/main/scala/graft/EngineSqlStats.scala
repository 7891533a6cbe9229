package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.PlanClassifier

/** `sql()` with per-execution stats capture (≈
  * duckherder_get_query_execution_stats / get_query_history), the
  * listener that attributes action durations back to engine queries,
  * and `explain` classification. Split from Engine.scala along its
  * section seam; state and semantics unchanged. */
private[graft] trait EngineSqlStats { self: Engine =>

  // ---- SQL with stats capture -----------------------------------------

  private case class StatRow(sql: String, mode: String, merge: String,
      durationMs: Long, workers: Long, tasks: Long, start: Timestamp)
  private val stats = new ConcurrentLinkedQueue[StatRow]()
  private val history = new ConcurrentLinkedQueue[(String, Long)]()
  // engine.sql() parks (query text, its own QueryExecution) here; the
  // listener matches when an action executes the plan (stats are
  // per-execution, like the reference's RecordQueryExecution). Actions
  // like count() wrap the query in their own plan, so matching is by
  // semantic hash over the action plan's subtrees — and classification
  // uses the original query's plan, not the action wrapper.
  private val pending = TrieMap.empty[Long, (String, QueryExecution)]

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val subtreeHashes = qe.analyzed.collect {
        case p => p.semanticHash().toLong
      }.toSet
      // remove on match: un-evicted entries accumulate over a long
      // session and a colliding 32-bit hash could mis-attribute stats
      subtreeHashes.iterator
        .flatMap(h => pending.remove(h).iterator).take(1).foreach {
        case (sqlText, origQe) =>
          record(sqlText, origQe, durationNs)
          history.add((sqlText, durationNs / 1000L))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }
  spark.listenerManager.register(listener)

  private def record(sqlText: String, qe: QueryExecution, durNs: Long): Unit = {
    val (mode, merge, tasks) = classify(qe)
    stats.add(StatRow(sqlText, mode, merge, durNs / 1000000L,
      math.min(workerCount.toLong, tasks), tasks,
      new Timestamp(System.currentTimeMillis() - durNs / 1000000L)))
  }

  /** (execution mode, merge strategy, tasks): recorded and explained. */
  private def classify(qe: QueryExecution): (String, String, Long) = {
    val rows = scanRows(qe)
    val mode = PlanClassifier.executionMode(qe, rows, workerCount)
    (mode, PlanClassifier.mergeStrategy(qe),
      PlanClassifier.numTasks(mode, rows, workerCount))
  }

  /** Largest registered-table cardinality referenced by the plan — the
    * analog of the reference's table-scan cardinality estimate
    * (query_plan_analyzer.cpp:58-71). */
  private def scanRows(qe: QueryExecution): Long = {
    // registered tables are temp views; after analysis each appears as a
    // SubqueryAlias carrying its identifier — exact-match those instead
    // of substring-scanning the plan text (a table named `t` would match
    // every plan containing the letter)
    val names = qe.analyzed.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        a.identifier.name.toLowerCase(java.util.Locale.ROOT)
    }.toSet
    val hit = registry.filter { case (n, _) =>
      names.contains(n.toLowerCase(java.util.Locale.ROOT))
    }
    if (hit.isEmpty) 0L else hit.values.map(_.rows).max
  }

  /** Run SQL against the engine catalog, recording execution stats when an
    * action executes the plan: `spark.sql` with graft's semantics from
    * [[GraftExtensions]] acting for this engine. DDL/DML statements parse
    * to [[GraftCommand]]s (the reference drives its whole surface through
    * SQL — duckherder_schema_catalog_entry.cpp intercepts the same verbs),
    * which Spark runs eagerly and which record themselves. */
  def sql(q: String): DataFrame = GraftExtensions.actingFor(this) {
    val df = spark.sql(q)
    val qe = castToImpl(df).queryExecution
    if (!qe.analyzed.isInstanceOf[GraftCommand])
      pending.put(qe.analyzed.semanticHash().toLong, (q, qe))
    df
  }

  /** Runs a [[GraftCommand]]'s verb and records it: DDL/DML execute
    * eagerly on the driver — recorded as LOCAL, like the reference's
    * HandleExecuteSQL path (distributed_flight_server.cpp:281-340 →
    * RecordQueryExecution). */
  private[graft] def recordCommand[A](q: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val out = body
    val durNs = System.nanoTime() - t0
    stats.add(StatRow(q, "LOCAL", "CONCATENATE", durNs / 1000000L,
      1L, 1L, new Timestamp(System.currentTimeMillis() - durNs / 1000000L)))
    history.add((q, durNs / 1000L))
    out
  }

  /** ≈ duckherder_get_query_execution_stats() — identical 7-col schema. */
  def executionStats: DataFrame = {
    // listener callbacks arrive on the async bus; drain before reading
    org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
    val rows = stats.asScala.toSeq.map(s =>
      (s.sql, s.mode, s.merge, s.durationMs, s.workers, s.tasks, s.start))
    import spark.implicits._
    rows.toDF("sql", "execution_mode", "merge_strategy", "query_duration_ms",
      "num_workers_used", "num_tasks_generated", "execution_start_time")
  }

  /** ≈ duckherder_get_query_history(): (query, latencies), sorted by
    * query like the reference (query_history_query_function.cpp:45-47).
    * The reference stores latencies as TIME[]; under this engine's §1.2
    * TIME mapping (TIME ↦ microseconds-since-midnight LONG) `latencies`
    * is µs LONG[], and `latencies_time` renders the reference's display
    * form (HH:MM:SS[.ffffff]) for output parity. */
  def queryHistory: DataFrame = {
    org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
    import spark.implicits._
    history.asScala.toSeq.groupBy(_._1).view
      .mapValues(_.map(_._2)).toSeq.sortBy(_._1)
      .toDF("query", "latencies")
      .withColumn("latencies_time", transform(col("latencies"),
        u => graft.operators.TypeOps.timeString(u)))
  }

  /** ≈ duckherder_clear_query_recorder_stats(). Drains in-flight
    * listener events first so a query finishing *before* the clear can't
    * resurface *after* it. */
  def clearStats(): Unit = {
    org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
    stats.clear(); history.clear()
  }

  /** Classify a query WITHOUT executing it: execution mode + merge
    * strategy (the reference's QueryPlanAnalyzer surface, exposed
    * up-front instead of only in post-hoc stats). A statement that parses
    * to a [[GraftCommand]] is classified from its parse: the command runs
    * only when executed. */
  def explain(q: String): DataFrame = GraftExtensions.actingFor(this) {
    import spark.implicits._
    val row = spark.sessionState.sqlParser.parsePlan(q) match {
      case _: GraftCommand => (q, "LOCAL", "CONCATENATE", 1L, "routed DDL/DML")
      case parsed =>
        val qe = castToImpl(spark).sessionState.executePlan(parsed)
        val (mode, merge, tasks) = classify(qe)
        (q, mode, merge, tasks, qe.optimizedPlan.toString)
    }
    Seq(row).toDF("sql", "execution_mode", "merge_strategy", "num_tasks",
      "plan")
  }
}
