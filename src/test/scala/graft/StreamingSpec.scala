package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventsStream

/** Structured Streaming parity: the streaming hourly aggregation must
  * agree with its batch formulation (q30_events_hourly). */
class StreamingSpec extends SparkSpec {

  test("streamed hourly counts equal the batch result") {
    val streamed = EventsStream.hourlyCounts(spark, sf)
      .select(col("h"), col("event_type"), col("n"), col("sum_v"))
    val batch = SparkEntry.queries("q30_events_hourly")(spark, sf)
      .select(col("h"), col("event_type"), col("n"), col("sum_v"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("directory-shaped feed (Spark-written events.parquet/part-*) " +
      "streams identically to the single-file shape") {
    // the bench tiers and any Spark-written feed have events.parquet as
    // a DIRECTORY with part files + _SUCCESS; the stream readers must
    // resolve both layouts (r13 sweep caught the glob matching nothing)
    val dir = java.nio.file.Files.createTempDirectory("graft_feed_dir")
      .toString
    Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val streamed = EventsStream.hourlyCounts(spark, dir,
        queryName = s"graft_dirfeed_${System.nanoTime()}")
      .select(col("h"), col("event_type"), col("n"), col("sum_v"))
    val batch = SparkEntry.queries("q30_events_hourly")(spark, sf)
      .select(col("h"), col("event_type"), col("n"), col("sum_v"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("q109 keyed-state dedup runs on the RocksDB state store and " +
      "restores the session default after") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    // per-event_id state is input-sized: the on-heap default OOMs an
    // 8 GB heap at sf10, so the dedup stream must pin the RocksDB
    // provider (observable as rocksdb* custom metrics on the state
    // operator) — and must not leak the conf into the session
    @volatile var sawRocks = false
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.stateOperators.exists(
            _.customMetrics.keySet().asScala.exists(_.startsWith("rocksdb"))))
          sawRocks = true
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val streamed = EventsStream.dedupCounts(spark, sf,
        queryName = s"rocks_q109_${System.nanoTime()}")
      // correctness is provider-independent: agree with the batch dedup
      // (class-bounded frames — compare collected row sets)
      val batch = Tables.t(spark, sf, "events")
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique"),
          round(sum("value"), 2).as("sum_v"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("event_type"), col("n_unique"), col("sum_v"))
          .collect().map(r =>
            (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows(streamed) == rows(batch))
      // listener delivery is async — flush the bus before asserting
      org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
      assert(sawRocks,
        "q109's state operator reported no rocksdb* custom metrics")
      assert(spark.conf.getOption(key) == before,
        "state-store provider conf leaked into the session")
    } finally spark.streams.removeListener(listener)
  }

  test("streamed median sketch is bit-identical to the batch sketch") {
    // the sketch buffer is a count histogram — merge order cannot change
    // it, so streaming micro-batches must reproduce the batch result
    // EXACTLY, not approximately
    val streamed = EventsStream.medianSketch(spark, sf)
      .select(col("event_type"), col("n"), col("med"))
    val batch = Tables.t(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.LogHistogramQuantile
          .logHistQuantile(col("value"), Seq(0.5)).as("med"))
      .select(col("event_type"), col("n"), col("med"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streamed HLL distinct-users is bit-identical to batch and bounded") {
    // HLL union is bucket-wise register max — commutative, associative,
    // idempotent — so micro-batch boundaries cannot change the result
    val streamed = EventsStream.distinctUsers(spark, sf)
      .select(col("event_type"), col("approx_users"), col("n"))
    val batch = Tables.t(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("approx_users"), col("n"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // and the sketch answers within its error envelope vs exact
    val exact = Tables.t(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    val viol = streamed.join(exact, "event_type")
      .filter(abs(col("approx_users") - col("exact_users")) >
        col("exact_users") * 0.06) // 3 × rsd(0.02)
      .count()
    assert(viol == 0, "HLL estimate outside 3×rsd of the exact count")
  }

  test("streamed NB verdicts equal batch scoring row-for-row " +
      "(frozen model, stateless scorer)") {
    import graft.operators.{CurationOps, NbModel}
    val docs = Tables.t(spark, sf, "documents")
    val (model, prior, release) = CurationOps.nbModelFrames(docs, "lang",
      CurationOps.NbVocabCap)
    val m = NbModel.collect(model, prior)
    release()
    val drained = graft.streaming.ClassifierStream.drained(
      Tables.docsStream(spark, sf), m,
      queryName = s"clf_stream_${System.nanoTime()}")
    // LAW: the per-document drain is a FILES read-back, not a
    // driver-memory table — the verdict corpus never sits on the driver
    assert(drained.queryExecution.sparkPlan.toString.contains("FileScan"),
      "drained verdicts must come back from a file sink, not a memory sink")
    val streamed = drained.select("doc_id", "pred_cls", "score_q")
    val batch = CurationOps.nbScore(docs, m)
      .select("doc_id", "pred_cls", "score_q")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("in-stream verdict monitor holds only class-bounded rows on the " +
      "driver (no unbounded memory sink in any queries-path stream)") {
    import graft.operators.{CurationOps, NbModel}
    val docs = Tables.t(spark, sf, "documents")
    val (model, prior, release) = CurationOps.nbModelFrames(docs, "lang",
      CurationOps.NbVocabCap)
    val m = NbModel.collect(model, prior)
    release()
    val qn = s"clf_monitor_${System.nanoTime()}"
    val monitor = graft.streaming.ClassifierStream.verdictCounts(
      Tables.docsStream(spark, sf), m, queryName = qn)
    // LAW: the memory sink table behind the monitor holds one row per
    // PREDICTED class — bounded by the label space, independent of the
    // corpus size (the complete-mode aggregate reduced in-stream)
    val classes = m.classes.length.toLong
    assert(spark.table(qn).count() <= classes,
      s"monitor sink must hold <= $classes rows, one per class")
    // and the monitored aggregate equals the batch aggregate exactly
    val batch = CurationOps.nbScore(docs, m)
      .groupBy(col("pred_cls"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred_cls") === col("lang"), 1L).otherwise(0L))
          .as("n_hit"),
        min("score_q").as("min_q"), max("score_q").as("max_q"))
    assert(monitor.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(monitor).count() == 0)
  }

  test("stream drains honor the configured sink base and reset stale " +
      "dirs on queryName reuse (no silent replay of a previous run)") {
    import graft.operators.{CurationOps, NbModel}
    val docs = Tables.t(spark, sf, "documents")
    val (model, prior, release) = CurationOps.nbModelFrames(docs, "lang",
      CurationOps.NbVocabCap)
    val m = NbModel.collect(model, prior)
    release()
    val base = java.nio.file.Files.createTempDirectory("graft_sink14")
      .toString
    spark.conf.set("spark.graft.stream.sinkDir", base)
    try {
      val qn = "clf_sink_cfg" // deliberately REUSED below
      val first = graft.streaming.ClassifierStream.drained(
        Tables.docsStream(spark, sf), m, queryName = qn)
      assert(first.count() == docs.count())
      assert(first.queryExecution.sparkPlan.toString.contains("FileScan"),
        "a drain must come back from a file sink, not a memory sink")
      // LAW: the sink landed under the CONFIGURED base (shared storage
      // on a real cluster), not a driver-relative literal
      assert(new java.io.File(s"$base/$qn/out").exists(),
        "drain ignored spark.graft.stream.sinkDir")
      // LAW: reusing a queryName on DIFFERENT input must serve the new
      // run — a stale checkpoint would mark the source processed, write
      // nothing, and the read-back would silently replay the first
      // run's (larger) verdict set
      val evens = Tables.docsStream(spark, sf)
        .filter(col("doc_id") % 2 === 0)
      val second = graft.streaming.ClassifierStream.drained(
        evens, m, queryName = qn)
      val expect = docs.filter(col("doc_id") % 2 === 0).count()
      assert(expect > 0 && expect < docs.count())
      assert(second.count() == expect,
        "stale sink dir replayed the previous run's files")
    } finally spark.conf.unset("spark.graft.stream.sinkDir")
  }
}
