package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.{SparkEntry, Tables}

/** The operator pipeline on the scaled tier: the shared stages are built
  * first, then passes of five `SparkEntry.queries` run as callers get
  * them (no bench-only formulations, no per-query session profiles), each
  * collected to the driver. Answers are checked against DuckDB digests of
  * `SparkEntry.oracleSql` recorded at tier preparation; the one query with
  * no oracle (q42, engine-defined hashes) must repeat its own digest on
  * every pass. */
final class Pipeline(conf: Conf) extends Workload {
  private var session: SparkSession = _
  def spark: SparkSession = session
  private val tier = conf.tier

  private val tierBytes: Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(tier))
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def setup(): SetupTimes = {
    val cpus = Conf.cores
    // configured like graft.Bench: tier-sized shuffle partitions, 32 MB
    // scan splits, lz4 shuffle codec below 4 GB of tier
    val (s, start) = Clock.time(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        math.max(cpus, math.min(2048L, tierBytes / (128L << 20) + 1).toInt).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    session = s
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.DuckAliases.register(s)
    val (_, register) = Clock.time(Tables.registerViews(s, tier))
    val (_, warm) = Clock.time(
      SparkEntry.queries("q57_events_sessions")(s, conf.warm).collect())
    SetupTimes(start, register, warm)
  }

  private def stage(key: String): (SparkSession, String) => Unit =
    SparkEntry.benchSharedStages(key)._2

  private var warmPassS = 0.0

  def build(): Seq[(String, Double)] = {
    val built = Pipeline.Stages.map { case (metric, owner) =>
      metric -> Clock.time(stage(owner)(spark, tier))._2 }
    // one untimed pass over the sf0.01 tables: a long-lived session has
    // generated and compiled these queries' code before, so timed passes
    // do not pay first use (reported as warm_pass_s)
    warmPassS = Clock.time {
      Pipeline.Queries.foreach(q => SparkEntry.queries(q)(spark, conf.warm).collect())
      spark.catalog.clearCache()
    }._2
    built
  }

  override def tracedBuild(): Seq[(String, Double)] =
    Pipeline.TracedStages.map { case (metric, owner) =>
      metric -> Clock.time(stage(owner)(spark, tier))._2 }

  private val expected: Map[String, (Long, String)] =
    scala.io.Source.fromFile(conf.expected, "UTF-8").getLines()
      .map(_.split("\t")).collect { case Array(n, r, d) => n -> (r.toLong, d) }
      .toMap
  private val seen = mutable.HashMap.empty[String, (Long, String)]
  private val perQuery = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  def block(rec: Recorder, blockNo: Int): Unit = {
    val rng = Rng(conf.seed, blockNo)
    rng.shuffle(Pipeline.Queries).foreach { q =>
      // a shared stage is re-warmed (untimed) after the previous query's
      // cache clear, so the timed query reads the stage's artifact
      SparkEntry.benchSharedStages.get(q).foreach(s => s._2(spark, tier))
      rec.run(q, "read") {
        val df = rec.tracer.span("plan.call")(SparkEntry.queries(q)(spark, tier))
        (df, rec.tracer.span("exec.action")(df.collect().toSeq))
      }.foreach { case (r, (df, rows)) =>
        r.phases = Layers.phases(df)
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += r.seconds
        rec.verdict(r, check(q, Canon.digest(df, rows)))
      }
      spark.catalog.clearCache()
    }
  }

  private def check(q: String, got: (Long, String)): Option[String] =
    expected.get(q) match {
      case Some(exp) =>
        if (got == exp) None else Some(s"$q digest $got, DuckDB oracle $exp")
      case None =>
        val first = seen.getOrElseUpdate(q, got)
        if (got._1 == 0) Some(s"$q returned no rows")
        else if (got != first) Some(s"$q digest $got differs from first pass $first")
        else None
    }

  def detail(rec: Recorder, traced: Boolean): Seq[Metric] =
    Metric("warm_pass_s", warmPassS, "s") +:
      Pipeline.Queries.flatMap(q => perQuery.get(q).map(ts =>
        Metric(s"op.${q}_s", Stats.median(ts.toSeq), "s")))

  override def provenance: Seq[(String, String)] =
    Seq("tier_bytes" -> tierBytes.toString)
}

object Pipeline {
  val Queries: Seq[String] = Seq("q12_join_agg", "q69_tpch_q5",
    "q57_events_sessions", "q42_dedup_minhash_lsh", "q138_tfidf")
  /** The shared stage the queries read, built before every loop. */
  val Stages: Seq[(String, String)] = Seq(
    "stage.corpus_s" -> "q42_dedup_minhash_lsh")
  /** The other three shared stages, built and timed in the traced run. */
  val TracedStages: Seq[(String, String)] = Seq(
    "stage.bucket_s" -> "q156_tpch_q5_bucketed",
    "stage.events_layouts_s" -> "q164_events_hourly_rollup",
    "stage.serving_index_s" -> "q196_bm25_served")
}
