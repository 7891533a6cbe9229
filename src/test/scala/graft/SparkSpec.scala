package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per suite, sf0.001 data. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Parquet scan nodes of `df`'s plan (descending through AQE). */
  protected def scansOf(df: DataFrame): Seq[FileSourceScanExec] =
    castToImpl(df).queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
    }.flatten

  /** Rows SURFACED by `df`'s parquet scans, post row-group pruning —
    * the direct measurement of data skipping, robust to AQE and
    * independent of timing. Grabs the scan nodes from the INITIAL
    * plan, then executes: AQE wraps executed subtrees in leaf
    * QueryStage nodes `collect` cannot descend into, but it reuses
    * the same scan node instances, so their metrics populate on
    * execution (the q137 partition-prune law established the order).
    * Asserts a scan exists — a plan shape that loses its parquet scan
    * (e.g. a cache) must fail the law loudly, not return 0 and pass
    * a `read <= bound` assertion vacuously. */
  protected def scanRows(df: DataFrame): Long = {
    val ss = scansOf(df)
    assert(ss.nonEmpty, "no parquet scan in plan")
    df.collect()
    ss.map(_.metrics("numOutputRows").value).sum
  }

  /** Rows of `q` on a `newSession()` clone that sees each of `tables`
    * as a plain view of `e`'s current data: the clone carries graft's
    * extensions but no engine, so no rewrite applies — the direct
    * computation an engine rewrite must match. */
  protected def direct(e: Engine, q: String,
      tables: String*): Set[org.apache.spark.sql.Row] = {
    val plain = spark.newSession()
    tables.foreach { t =>
      val df = e.table(t)
      plain.createDataFrame(df.rdd, df.schema).createOrReplaceTempView(t)
    }
    plain.sql(q).collect().toSet
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // GRAFT_TEST_MASTER=local-cluster[2,16,4096] runs the same suites
    // against REAL executor JVMs (closure serialization, task-size and
    // broadcast classes that local[n] silently skips). Executor JVMs
    // need the compiled test/main classes on their classpath —
    // GRAFT_TEST_CLASSPATH carries `sbt "export Test/fullClasspath"`.
    val master = sys.env.getOrElse("GRAFT_TEST_MASTER", "local[4]")
    val b0 = GraftSession.builder(master, 4).appName("graft-test")
    val b =
      if (master.startsWith("local-cluster"))
        b0.config("spark.executor.memory", "3g")
          .config("spark.executor.extraClassPath",
            sys.env.getOrElse("GRAFT_TEST_CLASSPATH", ""))
      else b0
    val s = GraftSession.open(b)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
