package graft

import java.lang.ref.WeakReference
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.PlanClassifier

/** `sql()` with per-execution stats capture (≈
  * duckherder_get_query_execution_stats / get_query_history), the
  * listener that attributes action durations back to engine queries,
  * and `explain` classification. */
private[graft] trait EngineSqlStats { self: Engine =>

  // ---- SQL with stats capture -----------------------------------------

  private case class StatRow(sql: String, mode: String, merge: String,
      durationMs: Long, workers: Long, tasks: Long, start: Timestamp)
  private val stats = new ConcurrentLinkedQueue[StatRow]()
  private val history = new ConcurrentLinkedQueue[(String, Long)]()

  /** Records an action's execution of a query this engine's [[sql]]
    * returned ([[EngineSqlStats.park]]); `rows` is its [[scanRows]],
    * counted when it was parked. Runs on the listener bus, so it starts
    * no job. */
  private[graft] def recordExecution(sqlText: String, qe: QueryExecution,
      rows: Long, durNs: Long): Unit = {
    val (mode, merge, tasks) = classify(qe, rows)
    stats.add(StatRow(sqlText, mode, merge, durNs / 1000000L,
      math.min(workerCount.toLong, tasks), tasks,
      new Timestamp(System.currentTimeMillis() - durNs / 1000000L)))
    history.add((sqlText, durNs / 1000L))
  }

  /** (execution mode, merge strategy, tasks): recorded and explained. */
  private def classify(qe: QueryExecution,
      rows: Long): (String, String, Long) = {
    val mode = PlanClassifier.executionMode(qe, rows, workerCount)
    (mode, PlanClassifier.mergeStrategy(qe),
      PlanClassifier.numTasks(mode, rows, workerCount))
  }

  /** Largest registered-table cardinality referenced by the plan — the
    * analog of the reference's table-scan cardinality estimate
    * (query_plan_analyzer.cpp:58-71): the entries the tagged aliases of
    * its engine tables read ([[Engine.relation]]). An entry no write
    * could count counts here, once, on the caller's thread. */
  private[graft] def scanRows(qe: QueryExecution): Long =
    qe.analyzed.collect {
      case a: SubqueryAlias => a.getTagValue(Engine.TableTag)
    }.flatten.map(_.rows).maxOption.getOrElse(0L)

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
      EngineSqlStats.park(this, q, qe)
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
        val (mode, merge, tasks) = classify(qe, scanRows(qe))
        (q, mode, merge, tasks, qe.optimizedPlan.toString)
    }
    Seq(row).toDF("sql", "execution_mode", "merge_strategy", "num_tasks",
      "plan")
  }
}

private[graft] object EngineSqlStats {

  private final class Parked(val engine: WeakReference[Engine],
      val sql: String, val qe: QueryExecution, val rows: Long)

  /** One per session: attributes action durations back to the queries
    * engines' `sql` returned. Stats are per-execution, like the
    * reference's RecordQueryExecution. Actions like count() wrap the
    * query in their own plan, so matching is by semantic hash over the
    * action plan's subtrees — and classification uses the original
    * query's plan, not the action wrapper. An entry holds its engine
    * weakly: an engine nothing else reaches is collected. */
  private final class Listener extends QueryExecutionListener {
    val pending = TrieMap.empty[Long, List[Parked]]
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      if (pending.nonEmpty) {
        val subtreeHashes = qe.analyzed.collect {
          case p => p.semanticHash().toLong
        }.toSet
        // remove on match: un-evicted entries accumulate over a long
        // session and a colliding 32-bit hash could mis-attribute stats
        subtreeHashes.iterator
          .flatMap(h => pending.remove(h).iterator).take(1).flatten
          .foreach(p => Option(p.engine.get)
            .foreach(_.recordExecution(p.sql, p.qe, p.rows, durationNs)))
      }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val listeners = TrieMap.empty[SparkSession, Listener]

  /** Parks `e`'s query `q` until an action executes it; one entry per
    * engine and plan. The row counts the classifier needs are taken
    * here, on the caller's thread: a count on the listener bus would
    * race the caller's next statement (and fail once the session
    * stops). */
  private[graft] def park(e: Engine, q: String, qe: QueryExecution): Unit = {
    val l = listeners.synchronized {
      listeners.getOrElseUpdate(e.spark, {
        val l = new Listener
        e.spark.listenerManager.register(l)
        l
      })
    }
    val p = new Parked(new WeakReference(e), q, qe, e.scanRows(qe))
    l.pending.updateWith(qe.analyzed.semanticHash().toLong) { ps =>
      Some(p :: ps.getOrElse(Nil).filterNot(_.engine.get eq e))
    }
    ()
  }
}
