package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Read-only plan inspection that re-derives the reference's observability
  * surface — execution mode and merge strategy — from Catalyst plans.
  *
  * The reference computes these to *drive* its hand-built distribution
  * (ref: /root/reference/src/server/driver/query_plan_analyzer.cpp:189-245
  * picks a MergeStrategy; task_partitioner.cpp:35-160 picks a partition
  * strategy). Spark's scheduler makes both decisions natively, so here they
  * are pure classification for the stats table — mirroring the reference's
  * thresholds (122,880-row row groups, small-table delegation,
  * ≥100 rows/worker for range partitioning).
  */
object PlanClassifier {

  final val RowGroupSize = 122880L // DuckDB DEFAULT_ROW_GROUP_SIZE
  final val MinRowsPerWorker = 100L

  /** LOCAL / DELEGATED / NATURAL_PARTITION / ROW_GROUP_PARTITION / MODULO_PARTITION */
  def executionMode(qe: QueryExecution, scanRows: Long, workers: Int): String = {
    val plan = qe.analyzed
    // Reference gate: ORDER BY / OFFSET / no FROM force local execution
    // (distributed_executor.cpp:214-241). Spark distributes these fine; we
    // keep the *label* for stats parity.
    val hasSort = plan.exists { case _: Sort => true; case _ => false }
    val hasOffset = plan.exists { case _: Offset => true; case _ => false }
    // an engine table reads as a scan whatever its plan (a `range` or
    // VALUES table too), as does a view
    val hasScan = plan.exists {
      case _: LogicalRelation => true
      case _: View => true
      case a: SubqueryAlias => a.getTagValue(graft.Engine.TableTag).isDefined
      case _ => false
    }
    if (!hasScan || hasSort || hasOffset) "LOCAL"
    else if (scanRows < RowGroupSize) "DELEGATED"
    else {
      val rowGroups = (scanRows + RowGroupSize - 1) / RowGroupSize
      if (rowGroups >= workers) "ROW_GROUP_PARTITION"
      else if (scanRows >= MinRowsPerWorker * workers) "NATURAL_PARTITION"
      else "MODULO_PARTITION"
    }
  }

  /** CONCATENATE / AGGREGATE_MERGE / GROUP_BY_MERGE / DISTINCT_MERGE,
    * mirroring query_plan_analyzer.cpp:189-245. Unlike the reference's
    * column-name-substring heuristics (result_merger.cpp:63-86, with its
    * acknowledged AVG-of-AVGs bug), Spark's partial+final HashAggregate is
    * always correct — this label only reports which shape applied. */
  def mergeStrategy(qe: QueryExecution): String = {
    val plan = qe.analyzed
    val distinct = plan.exists {
      case _: Distinct => true
      case _: Deduplicate => true
      case _ => false
    }
    val aggs = plan.collect { case a: Aggregate => a }
    if (distinct) "DISTINCT_MERGE"
    else if (aggs.exists(_.groupingExpressions.nonEmpty)) "GROUP_BY_MERGE"
    else if (aggs.nonEmpty) "AGGREGATE_MERGE"
    else "CONCATENATE"
  }

  /** Task count the reference would have generated:
    * clamp(row-groups, workers, 4*workers); 1 for small/local tables
    * (task_partitioner.cpp:14-21,48-57). */
  def numTasks(mode: String, scanRows: Long, workers: Int): Long = mode match {
    case "LOCAL" | "DELEGATED" => 1L
    case _ =>
      val rowGroups = (scanRows + RowGroupSize - 1) / RowGroupSize
      math.min(math.max(rowGroups, workers.toLong), 4L * workers)
  }
}
