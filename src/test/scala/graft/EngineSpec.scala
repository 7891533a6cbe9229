package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Engine surface parity with the reference's catalog/DDL/DML/stats tests
  * (table_operations.test, alter_table.test, index_operations.test,
  * query_stats.test, enum_type_support.test). */
class EngineSpec extends SparkSpec {

  private lazy val engine: Engine = Engine(spark)

  private def freshTable(prefix: String): String = {
    val name = s"${prefix}_${System.nanoTime()}"
    engine.createTable(name, "id INT, name STRING")
    name
  }

  test("registerTable + sql + executionStats records the query") {
    engine.clearStats()
    engine.registerTable("stats_li", s"$sf/lineitem.parquet")
    engine.sql("SELECT l_returnflag, count(*) AS n FROM stats_li GROUP BY 1")
      .count()
    val stats = engine.executionStats.collect()
    assert(stats.length == 1)
    val r = stats.head
    assert(r.getAs[String]("sql").contains("stats_li"))
    // 6k rows < 122,880 → DELEGATED (task_partitioner.cpp:14-21 rule)
    assert(r.getAs[String]("execution_mode") == "DELEGATED")
    assert(r.getAs[String]("merge_strategy") == "GROUP_BY_MERGE")
    assert(r.getAs[Long]("num_tasks_generated") == 1L)
    engine.unregisterTable("stats_li")
  }

  test("merge strategy classification: aggregate / distinct / concat") {
    engine.clearStats()
    engine.registerTable("ms_li", s"$sf/lineitem.parquet")
    // sum, not count(*): a bare count folds to its footer-metadata
    // answer (FooterCountRewrite) and correctly classifies as a
    // local/concatenate plan — the aggregate-classification law needs
    // an aggregate that actually executes
    engine.sql("SELECT sum(l_quantity) AS n FROM ms_li").count()
    engine.sql("SELECT DISTINCT l_returnflag FROM ms_li").count()
    engine.sql("SELECT l_orderkey FROM ms_li WHERE l_orderkey < 10").count()
    val byMerge = engine.executionStats.collect()
      .map(r => r.getAs[String]("merge_strategy")).sorted
    assert(byMerge.sameElements(
      Array("AGGREGATE_MERGE", "CONCATENATE", "DISTINCT_MERGE")))
    engine.unregisterTable("ms_li")
  }

  test("query history accumulates latencies per query") {
    engine.clearStats()
    engine.registerTable("qh_li", s"$sf/region.parquet")
    val q = "SELECT count(*) AS n FROM qh_li"
    engine.sql(q).count()
    engine.sql(q).count()
    val h = engine.queryHistory.collect()
    assert(h.length == 1)
    assert(h.head.getSeq[Long](h.head.fieldIndex("latencies")).size == 2)
    // rendered TIME display forms parse as HH:MM:SS[.ffffff]
    val times = h.head.getSeq[String](h.head.fieldIndex("latencies_time"))
    assert(times.size == 2 &&
      times.forall(_.matches("\\d{2}:\\d{2}:\\d{2}(\\.\\d{1,6})?")))
    engine.unregisterTable("qh_li")
  }

  test("create table: duplicate errors, drop, if-exists semantics") {
    val t = freshTable("ops_test")
    val e = intercept[IllegalArgumentException](engine.createTable(t, "id INT"))
    assert(e.getMessage.contains("already exists"))
    engine.dropTable(t)
    intercept[IllegalArgumentException](engine.dropTable(t))
    engine.dropTable(t, ifExists = true) // no error
  }

  test("insert + delete roundtrip (query_stats.test lifecycle)") {
    val t = freshTable("test_query_table")
    engine.insertValues(t, Seq(Row(1, "alice"), Row(2, "bob"), Row(3, "eve")))
    assert(engine.table(t).count() == 3)
    val deleted = engine.deleteFrom(t, col("id") === 2 || col("id") === 3)
    assert(deleted == 2)
    assert(engine.table(t).collect().map(_.getInt(0)).sameElements(Array(1)))
    engine.dropTable(t)
  }

  test("time travel: prior versions stay queryable after DML") {
    val t = freshTable("tt_test")
    engine.insertValues(t, Seq(Row(1, "a"), Row(2, "b")))
    engine.deleteFrom(t, col("id") === 1)
    assert(engine.table(t).count() == 1)
    assert(engine.versionCount(t) == 2) // post-create insert + delete
    assert(engine.tableAt(t, 0).count() == 1) // current
    assert(engine.tableAt(t, 1).count() == 2) // before the delete
    assert(engine.tableAt(t, 2).count() == 0) // before the insert
    intercept[IllegalArgumentException](engine.tableAt(t, 99))
    engine.dropTable(t)
  }

  test("time travel SQL: VERSION AS OF addresses absolute snapshots") {
    val t = freshTable("tt_sql")
    assert(engine.currentVersion(t) == 0)
    engine.insertValues(t, Seq(Row(1, "a"), Row(2, "b"))) // → v1
    engine.deleteFrom(t, col("id") === 1) // → v2
    assert(engine.currentVersion(t) == 2)
    def n(v: Int): Long = engine.sql(
      s"SELECT count(*) AS n FROM $t VERSION AS OF $v")
      .collect().head.getLong(0)
    assert(n(0) == 0 && n(1) == 2 && n(2) == 1)
    // two snapshots of the SAME table joined in one statement: the
    // rows the delete removed
    val gone = engine.sql(
      s"""SELECT a.id FROM $t VERSION AS OF 1 a
         |LEFT ANTI JOIN $t VERSION AS OF 2 b ON a.id = b.id""".stripMargin)
      .collect().map(_.getInt(0)).toSeq
    assert(gone == Seq(1))
    // plain reads still see the current state
    assert(engine.sql(s"SELECT count(*) AS n FROM $t")
      .collect().head.getLong(0) == 1)
    // the version catalog lists every addressable snapshot
    assert(engine.tableHistory(t).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet ==
      Set((2L, 0, true), (1L, 1, false), (0L, 2, false)))
    // the snapshot is a relation to nested SELECTs too
    SqlRouterSpec.nestedSelectLaw(engine,
      s"SELECT id, name FROM $t VERSION AS OF 1")
    // future / non-integer versions and TIMESTAMP AS OF raise
    intercept[IllegalArgumentException](
      engine.sql(s"SELECT * FROM $t VERSION AS OF 9"))
    intercept[IllegalArgumentException](
      engine.sql(s"SELECT * FROM $t VERSION AS OF 'abc'"))
    intercept[IllegalArgumentException](
      engine.sql(s"SELECT * FROM $t TIMESTAMP AS OF '2026-01-01'"))
    engine.dropTable(t)
  }

  test("curationReport: per-source per-rule kill rates over a managed table") {
    val t = s"cur_docs_${System.nanoTime()}"
    engine.createTable(t, "doc_id INT, text STRING, source STRING")
    engine.insertValues(t, Seq(
      Row(1, "a fine sentence with many words.", "s1"),
      Row(2, "{code}", "s1"),
      Row(3, "lorem ipsum dolor sit amet forever.", "s2")))
    val r = engine.curationReport(t).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(3)).toMap
    assert(r.size == 8) // 2 sources × 4 rules
    assert(r(("s1", "r_brace")) == 1)    // the {code} doc
    assert(r(("s1", "r_minwords")) == 1) // same doc, under 5 words
    assert(r(("s2", "r_lorem")) == 1)
    assert(r(("s2", "r_brace")) == 0)
    engine.dropTable(t)
  }

  test("merge (upsert): updates matched keys, inserts the rest") {
    val t = freshTable("merge_test")
    engine.insertValues(t, Seq(Row(1, "alice"), Row(2, "bob"), Row(3, "eve")))
    val src = spark.createDataFrame(
      java.util.Arrays.asList(Row(2, "bob2"), Row(4, "dan")),
      engine.table(t).schema)
    val (updated, inserted) = engine.mergeInto(t, src, Seq("id"))
    assert(updated == 1 && inserted == 1)
    val got = engine.table(t).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "alice", 2 -> "bob2", 3 -> "eve", 4 -> "dan"))
    // a source updating the same target row twice must raise
    val dup = spark.createDataFrame(
      java.util.Arrays.asList(Row(1, "a"), Row(1, "b")),
      engine.table(t).schema)
    val err = intercept[IllegalArgumentException](
      engine.mergeInto(t, dup, Seq("id")))
    assert(err.getMessage.contains("more than once"))
    // and the failed merge left the table untouched
    assert(engine.table(t).count() == 4)
    engine.dropTable(t)
  }

  test("column-wise merge: unassigned columns keep target values, " +
      "inserts fill defaults, constraints roll back") {
    val t = s"merge_cols_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING, score INT, status STRING")
    engine.setDefault(t, "status", "'active'")
    engine.insertValues(t,
      Seq(Row(1, "alice", 10, "x"), Row(2, "bob", 20, "y")))
    val src = spark.createDataFrame(
      java.util.Arrays.asList(Row(2, 99), Row(3, 42)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.IntegerType))))
    val (u, i) = engine.mergeIntoColumns(t, src, Seq("id"), "t", "s",
      updateSet = Some(Seq("score" -> "s.score")),
      insertSpec = Some((Seq("id", "score"), Seq("s.id", "s.score"))))
    assert(u == 1 && i == 1)
    val got = engine.table(t).collect().map(r =>
      r.getInt(0) -> ((r.getString(1), r.get(2), r.getString(3)))).toMap
    // bob keeps name and status; the insert fills name NULL and the
    // registered status default
    assert(got == Map(
      1 -> (("alice", 10, "x")),
      2 -> (("bob", 99, "y")),
      3 -> ((null, 42, "active"))))
    // a NOT NULL constraint violated by the delta rolls the MERGE back
    engine.setNotNull(t, "score")
    val bad = spark.createDataFrame(
      java.util.Arrays.asList(Row(java.lang.Integer.valueOf(9),
        null.asInstanceOf[java.lang.Integer])),
      src.schema)
    val err = intercept[IllegalArgumentException](
      engine.mergeIntoColumns(t, bad, Seq("id"), "t", "s",
        updateSet = None,
        insertSpec = Some((Seq("id", "score"), Seq("s.id", "s.score")))))
    assert(err.getMessage.contains("NOT NULL"))
    assert(engine.table(t).count() == 3)
    engine.dropTable(t)
  }

  test("time travel across the full DML verb matrix (INSERT/DELETE/MERGE)") {
    val t = freshTable("ttm_test")
    engine.insertValues(t, Seq(Row(1, "a"), Row(2, "b"), Row(3, "c"))) // v: 3 rows
    engine.deleteFrom(t, col("id") === 3)                              // v: 2 rows
    val src = spark.createDataFrame(
      java.util.Arrays.asList(Row(2, "b2"), Row(4, "d")),
      engine.table(t).schema)
    engine.mergeInto(t, src, Seq("id"))                                // v: 3 rows
    // lineage: every DML verb snapshots; each depth is the exact state
    assert(engine.versionCount(t) == 3)
    def ids(back: Int) = engine.tableAt(t, back).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(ids(0) == Map(1 -> "a", 2 -> "b2", 4 -> "d")) // after MERGE
    assert(ids(1) == Map(1 -> "a", 2 -> "b"))            // after DELETE
    assert(ids(2) == Map(1 -> "a", 2 -> "b", 3 -> "c"))  // after INSERT
    assert(ids(3) == Map.empty)                          // at CREATE
    // a travel plan stays queryable (it is a live logical plan, not a
    // snapshot label): DML on top of the current state doesn't mutate it
    val frozen = engine.tableAt(t, 1)
    engine.deleteFrom(t, col("id") === 1)
    assert(frozen.count() == 2)
    engine.dropTable(t)
  }

  test("concurrent same-table inserts: no lost updates, no lost snapshots") {
    val t = freshTable("conc_dml")
    engine.insertValues(t, Seq(Row(0, "seed")))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        try engine.insertValues(t, Seq(Row(i, s"v$i")))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent insert failed: ${errs.peek()}")
    // writer serialization: every insert lands (no read-modify-write
    // lost update) and every DML snapshots exactly its predecessor —
    // the retained history is the full consecutive chain
    assert(engine.table(t).count() == 9)
    assert(engine.versionCount(t) == 9)
    val counts = (1 to 9).map(engine.tableAt(t, _).count())
    assert(counts == (1 to 9).map(j => 9L - j), s"history gap: $counts")
    engine.dropTable(t)
  }

  test("time travel retention: history is capped at MaxVersions") {
    val t = freshTable("ttr_test")
    engine.insertValues(t, Seq(Row(0, "seed")))
    (1 to Engine.MaxVersions + 3).foreach { i =>
      engine.insertValues(t, Seq(Row(i, s"v$i")))
    }
    // the cap bounds plan-graph growth per table: oldest dropped first,
    // deeper asks raise instead of resurrecting evicted state
    assert(engine.versionCount(t) == Engine.MaxVersions)
    intercept[IllegalArgumentException](
      engine.tableAt(t, Engine.MaxVersions + 1))
    // the deepest retained version has (total inserts - cap) + 1 rows
    assert(engine.tableAt(t, Engine.MaxVersions).count() == 4)
    engine.dropTable(t)
  }

  test("durable shingle index: registry round-trip reads cold from storage") {
    engine.registerTable("shidx_docs", s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_shidx").toString
    engine.buildShingleIndex("shidx", "shidx_docs", s"$dir/index")
    assert(engine.tableExists("shidx"))
    val idx = engine.table("shidx")
    assert(idx.columns.toSeq == Seq("doc_id", "s"))
    assert(idx.count() > 0)
    // the registered plan must scan the PERSISTED files (cold storage
    // round-trip), not a session cache over the documents table
    assert(idx.inputFiles.nonEmpty &&
      idx.inputFiles.forall(_.contains("index")),
      s"index table reads ${idx.inputFiles.take(1).mkString} — not storage")
    assert(engine.indexes.collect().exists(_.getString(0) == "shidx"))
    engine.unregisterTable("shidx_docs"); engine.unregisterTable("shidx")
  }

  test("shingle index refresh: incremental append matches a from-scratch " +
      "build, including a df-cap sweep") {
    val t = s"shref_docs_${System.nanoTime()}"
    engine.createTable(t, "doc_id INT, text STRING")
    // 'common words here' appears in 2 docs at build (under the maxDf=2
    // cap), and crosses the cap only when the batch adds a third copy
    engine.insertValues(t, Seq(
      Row(1, "common words here alpha beta gamma delta"),
      Row(2, "common words here epsilon zeta eta theta"),
      Row(3, "wholly unrelated text about iota kappa lambda")))
    val dir = java.nio.file.Files.createTempDirectory("graft_shref").toString
    engine.buildShingleIndex("shref", t, s"$dir/index", maxDf = 2)
    val before = engine.table("shref").count()
    // daily batch: one doc re-using the shared phrase, one fresh doc
    engine.insertValues(t, Seq(
      Row(4, "common words here mu nu xi omicron"),
      Row(5, "fresh pi rho sigma tau upsilon phi")))
    val added = engine.refreshShingleIndex("shref", t, s"$dir/index",
      maxDf = 2)
    assert(added == 2)
    // the hot-delta rewrite swapped the artifact in whole
    assert(EngineSpec.swapLeftovers(s"$dir/index").isEmpty)
    // the refreshed artifact must be row-identical to building from
    // scratch over the grown corpus — same new-doc rows, and the
    // now-hot 'common words here' shingle swept from docs 1 and 2 too
    engine.buildShingleIndex("shref_full", t, s"$dir/index_full", maxDf = 2)
    val got = engine.table("shref").collect()
      .map(r => (r.get(0).toString.toLong, r.getLong(1))).sorted.toSeq
    val want = engine.table("shref_full").collect()
      .map(r => (r.get(0).toString.toLong, r.getLong(1))).sorted.toSeq
    assert(got == want)
    assert(got.nonEmpty && before > 0)
    // second refresh with no new docs is a no-op
    assert(engine.refreshShingleIndex("shref", t, s"$dir/index",
      maxDf = 2) == 0)
    engine.dropTable(t)
    engine.unregisterTable("shref"); engine.unregisterTable("shref_full")
  }

  /** The impacts partials under a text-index artifact, folded to one row
    * per (w, qi) — the reference for the fold the probe does on the
    * driver. */
  private def foldedImpacts(path: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"$path/impacts").groupBy("w", "qi")
      .agg(sum("cnt").as("cnt"))

  /** Sorted string rendering of a frame's rows — bit-level equality of
    * doubles and longs without a tolerance. */
  private def rowStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** Parquet files an execution reads: its file relations, and those of
    * any cached frame it scans. */
  private def inputFilesOf(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
    p.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Nil
        }
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        inputFilesOf(m.cacheBuilder.logicalPlan)
    }.flatten

  /** Runs `body` and returns (its input files, the jobs it started that
    * infer a parquet schema, all jobs it started), listener buses
    * drained. A schema-inference job is the one `spark.read.parquet`
    * starts without a user schema: its stages' call site is the
    * reader's `parquet` method. */
  private def watched(body: => Unit): (Seq[String], Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val files = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val inference = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        inputFilesOf(qe.optimizedPlan).foreach(files.add)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (js.stageInfos.exists(_.details.contains("DataFrameReader.parquet")))
          inference.incrementAndGet()
      }
    }
    org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(sl)
    try {
      body
      org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(sl)
      spark.listenerManager.unregister(ql)
    }
    import scala.jdk.CollectionConverters._
    (files.asScala.toSeq, inference.get, jobs.get)
  }

  /** The parquet files now under `dirs`, as paths without a scheme. */
  private def filesUnder(dirs: String*): Set[String] =
    dirs.flatMap { d =>
      Option(new java.io.File(d).listFiles).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    }.toSet

  private def pathOnly(f: String): String =
    new org.apache.hadoop.fs.Path(f).toUri.getPath

  test("text index: three refreshes with no OPTIMIZE ≡ a rebuild — " +
      "postings, doclens, folded metadata, probe inputs and probes " +
      "bit-equal; OPTIMIZE compacts each metadata key to one row") {
    val t = s"threeref_docs_${System.nanoTime()}"
    engine.registerTable(t, Tables.t(spark, sf, "documents")
      .select("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_threeref")
      .toString
    engine.buildTextIndex("threeref", t, s"$dir/index")
    (1 to 3).foreach { i =>
      // copies of existing documents (their terms' partials overlap the
      // build's) plus one document with a term the corpus lacks
      val copies = engine.table(t).orderBy("doc_id").limit(2 * i)
        .select((col("doc_id") + i * 10000000L).as("doc_id"), col("text"))
      val fresh = spark.range(1).select(lit(i * 10000000L - 1).as("doc_id"),
        lit(s"zzfresh$i join vector").as("text"))
      engine.insertInto(t, copies.unionByName(fresh))
      assert(engine.refreshTextIndex("threeref", t, s"$dir/index") ==
        2L * i + 1)
    }
    // the refreshes left partials: more metadata rows than keys
    def raw(part: String) = spark.read.parquet(s"$dir/index/$part")
    assert(raw("termstats").count() >
      raw("termstats").select("w").distinct().count())
    assert(raw("stats").count() == 4L)
    engine.buildTextIndex("threeref_full", t, s"$dir/index_full")
    def sameAsRebuild(): Unit = {
      Seq("postings", "doclens", "stats", "termstats").foreach { p =>
        assert(rowStrings(engine.table(s"threeref_$p")) ==
          rowStrings(engine.table(s"threeref_full_$p")), s"$p diverged")
      }
      assert(rowStrings(foldedImpacts(s"$dir/index")) ==
        rowStrings(foldedImpacts(s"$dir/index_full")))
      assert(rowStrings(engine.foldedStats(s"$dir/index")) ==
        rowStrings(engine.foldedStats(s"$dir/index_full")))
      assert(engine.statsOf("threeref").isDefined &&
        engine.statsOf("threeref") == engine.statsOf("threeref_full"))
      val vocab = engine.table("threeref_full_termstats")
        .orderBy(col("df").desc, col("w")).limit(25).collect()
        .map(_.getString(0)).toSeq :+ "zzfresh2" :+ "absentterm"
      def metas(ix: String, p: String) = (engine.termStatsOf(ix, p, vocab),
        engine.termHistsOf(ix, p, vocab).map { case (w, h) => w -> h.toSeq })
      assert(metas("threeref", s"$dir/index") ==
        metas("threeref_full", s"$dir/index_full"))
      val terms = Seq("join", "vector", "stream")
      def top(o: Option[org.apache.spark.sql.DataFrame]) = o.map(
        _.orderBy(col("bm25").desc, col("doc_id")).limit(10).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      spark.conf.set("graft.bm25.fastPathMinRows", "0")
      try {
        val fast = top(engine.fastBm25("threeref", terms, 10))
        assert(fast.isDefined, "fast probe declined on the refreshed index")
        assert(fast == top(engine.fastBm25("threeref_full", terms, 10)))
        assert(top(engine.litMatched("threeref", terms)) ==
          top(engine.litMatched("threeref_full", terms)))
      } finally spark.conf.unset("graft.bm25.fastPathMinRows")
    }
    sameAsRebuild()
    engine.optimizeTextIndex("threeref")
    assert(raw("termstats").count() ==
      raw("termstats").select("w").distinct().count())
    assert(raw("impacts").count() ==
      raw("impacts").select("w", "qi").distinct().count())
    assert(raw("stats").count() == 1L)
    sameAsRebuild()
    Seq("threeref", "threeref_full").foreach { ix =>
      engine.dropIndex(ix)
      Seq("postings", "doclens", "stats", "termstats").foreach(s =>
        engine.unregisterTable(s"${ix}_$s"))
    }
    engine.unregisterTable(t)
  }

  test("REFRESH TEXT INDEX and REFRESH MATERIALIZED VIEW read no existing " +
      "postings, metadata or MV file; they and the next probe start no " +
      "parquet schema-inference job") {
    val e = Engine.scratch(spark)
    val u = System.nanoTime()
    val (docs, ix, ords, mv) = (s"nr_docs_$u", s"nr_tix_$u", s"nr_o_$u",
      s"nr_mv_$u")
    e.registerTable(s"nr_src_$u", s"$sf/documents.parquet")
    e.registerTable(s"nr_orders_$u", s"$sf/orders.parquet")
    Seq(s"CREATE TABLE $docs AS SELECT doc_id, text FROM nr_src_$u " +
        "WHERE doc_id < 200",
      s"CREATE TEXT INDEX $ix ON $docs (text)",
      s"CREATE TABLE $ords AS SELECT o_orderkey, o_orderpriority, " +
        s"o_totalprice FROM nr_orders_$u",
      s"CREATE MATERIALIZED VIEW $mv AS SELECT o_orderpriority, " +
        s"sum(o_totalprice) AS s, count(*) AS n FROM $ords " +
        "GROUP BY o_orderpriority",
      s"INSERT INTO $docs VALUES (900001, 'zqmark join vector'), " +
        "(900002, 'zqmark value value')",
      s"INSERT INTO $ords VALUES (900001, '1-URGENT', 1.5), " +
        "(900002, '5-LOW', 2.25)").foreach(q => e.sql(q).collect())
    val ixPath = e.textIndexMeta(ix)._1
    val mvPath = e.matViews(mv)._1.path
    val existing = filesUnder(Seq("postings", "termstats", "impacts",
      "stats").map(p => s"$ixPath/$p") :+ mvPath: _*)
    assert(existing.nonEmpty)
    // the detector sees an inferring read
    assert(watched { spark.read.parquet(s"$ixPath/stats"); () }._2 >= 1)
    val (textFiles, textInf, _) = watched {
      assert(e.sql(s"REFRESH TEXT INDEX $ix").head().getLong(0) == 2L)
    }
    val (_, probeInf, _) = watched {
      assert(e.bm25Search(ix, Seq("zqmark"), 2).collect()
        .map(_.getLong(0)).toSet == Set(900001L, 900002L))
    }
    val (mvFiles, mvInf, _) = watched {
      assert(e.refreshMaterializedAggregate(mv) == "incremental")
    }
    val read = (textFiles ++ mvFiles).map(pathOnly).toSet
    assert(read.intersect(existing).isEmpty,
      s"refresh read existing artifact files: ${read.intersect(existing)}")
    assert((textInf, probeInf, mvInf) == ((0, 0, 0)),
      "parquet schema-inference jobs (refresh, probe, MV refresh)")
    // the appended partials serve: the covered read equals the direct one
    val q = s"SELECT o_orderpriority, count(*) AS n FROM $ords " +
      "GROUP BY o_orderpriority"
    assert(e.sql(q).collect().toSet == direct(e, q, ords))
    Seq(mv, ords, docs).foreach(t => e.sql(s"DROP TABLE $t"))
  }

  test("writes carry exact row counts: a SELECT after INSERT, UPDATE, " +
      "DELETE and both MERGE forms counts nothing and starts no listener " +
      "job") {
    val e = Engine.scratch(spark)
    val t = s"wcnt_${System.nanoTime()}"
    // key 1 twice: the whole-row MERGE below replaces both rows by one
    Seq(s"CREATE TABLE $t (k INT, v STRING)",
      s"INSERT INTO $t VALUES (1, 'a'), (1, 'b'), (2, 'c'), (3, 'd')")
      .foreach(q => e.sql(q).collect())
    def exact(after: String): Unit = {
      val known = e.registry(t).rowsIfKnown
      assert(known >= 0L, s"no count carried after $after")
      assert(known == e.table(t).count(), s"inexact count after $after")
    }
    exact("INSERT")
    Seq(s"INSERT INTO $t VALUES (4, 'e'), (5, 'f')",
      s"UPDATE $t SET v = 'u' WHERE k = 2",
      s"DELETE FROM $t WHERE k = 3",
      s"MERGE INTO $t AS t USING (SELECT * FROM (VALUES (1, 'm'), " +
        "(9, 'n')) AS v(k, v)) AS s ON t.k = s.k WHEN MATCHED THEN " +
        "UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      s"MERGE INTO $t AS t USING (SELECT * FROM (VALUES (4, 'x'), " +
        "(10, 'y')) AS v(k, v)) AS s ON t.k = s.k WHEN MATCHED THEN " +
        "UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)")
      .foreach { q => e.sql(q).collect(); exact(q) }
    assert(e.registry(t).rowsIfKnown == 6L)
    e.clearStats()
    val q = s"SELECT k, count(*) AS n FROM $t GROUP BY k"
    // the same query as a plain frame: the jobs the SELECT itself needs
    val (_, _, own) = watched(e.table(t).groupBy("k")
      .agg(count(lit(1)).as("n")).collect())
    var df: org.apache.spark.sql.DataFrame = null
    val (_, _, parked) = watched { df = e.sql(q) }
    assert(parked == 0, s"sql() started $parked jobs before any action")
    // watched() drains the listener buses: the stats listener's record
    // of this action runs inside the window
    val (_, _, ran) = watched(df.collect())
    assert(ran == own, s"the SELECT ran $ran jobs, its own plan $own")
    val stats = e.executionStats.collect()
    assert(stats.length == 1)
    val ex = e.explain(q).head()
    assert(stats.head.getAs[String]("execution_mode") ==
      ex.getAs[String]("execution_mode"))
    assert(stats.head.getAs[Long]("num_tasks_generated") ==
      ex.getAs[Long]("num_tasks"))
    e.sql(s"DROP TABLE $t")
  }

  test("EXPORT → IMPORT carries unfolded refresh partials: probes, folded " +
      "metadata and the MV read equal the source engine's, and a third " +
      "refresh on the restored engine stays ≡ a rebuild") {
    val base = java.nio.file.Files.createTempDirectory("graft_unfolded")
      .toString
    val u = System.nanoTime()
    val (docs, ix, ords, mv) = (s"uf_docs_$u", s"uf_tix_$u", s"uf_o_$u",
      s"uf_mv_$u")
    val e1 = Engine.scratch(spark)
    Seq(s"CREATE TABLE $docs (doc_id BIGINT, text STRING)",
      s"INSERT INTO $docs VALUES (1, 'alpha beta gamma'), " +
        "(2, 'beta beta delta'), (3, 'gamma alpha alpha')",
      s"CREATE TEXT INDEX $ix ON $docs (text)",
      s"CREATE TABLE $ords (g STRING, x BIGINT)",
      s"INSERT INTO $ords VALUES ('a', 1), ('b', 2)",
      s"CREATE MATERIALIZED VIEW $mv AS SELECT g, sum(x) AS s, " +
        s"count(*) AS n, min(x) AS lo, max(x) AS hi FROM $ords GROUP BY g")
      .foreach(q => e1.sql(q).collect())
    Seq(("(4, 'alpha delta epsilon')", "('a', 5), ('c', 7)"),
      ("(5, 'epsilon epsilon beta'), (6, 'zeta')", "('b', -3)"))
      .foreach { case (d, o) =>
        e1.sql(s"INSERT INTO $docs VALUES $d").collect()
        e1.sql(s"REFRESH TEXT INDEX $ix").collect()
        e1.sql(s"INSERT INTO $ords VALUES $o").collect()
        assert(e1.refreshMaterializedAggregate(mv) == "incremental")
      }
    // no OPTIMIZE: both artifacts still hold their refresh partials
    val ixPath = e1.textIndexMeta(ix)._1
    assert(spark.read.parquet(s"$ixPath/stats").count() == 3L)
    assert(spark.read.parquet(e1.matViews(mv)._1.path).count() == 5L)
    def probe(e: Engine) = e.bm25Search(ix, Seq("alpha", "epsilon"), 3)
      .collect().map(_.toString).toSeq
    def state(e: Engine) = (probe(e),
      rowStrings(e.table(s"${ix}_stats")),
      rowStrings(e.table(s"${ix}_termstats")),
      rowStrings(e.sql(s"SELECT * FROM $mv")))
    val source = state(e1)
    e1.sql(s"EXPORT DATABASE '$base/db'").collect()
    val e2 = Engine.scratch(spark)
    e2.sql(s"IMPORT DATABASE '$base/db'").collect()
    assert(state(e2) == source)
    // a third refresh on the restored engine: ≡ a rebuild over the
    // grown corpus
    e2.sql(s"INSERT INTO $docs VALUES (7, 'alpha eta eta')").collect()
    assert(e2.sql(s"REFRESH TEXT INDEX $ix").head().getLong(0) == 1L)
    e2.buildTextIndex(s"${ix}_full", docs, s"$base/full")
    Seq("postings", "doclens", "stats", "termstats").foreach { p =>
      assert(rowStrings(e2.table(s"${ix}_$p")) ==
        rowStrings(e2.table(s"${ix}_full_$p")), s"$p diverged")
    }
    val restored = e2.textIndexMeta(ix)._1
    assert(rowStrings(foldedImpacts(restored)) ==
      rowStrings(foldedImpacts(s"$base/full")))
    assert(e2.bm25Search(ix, Seq("alpha", "eta"), 3).collect().toSeq ==
      e2.bm25Search(s"${ix}_full", Seq("alpha", "eta"), 3).collect().toSeq)
  }

  test("text index crash repair: a refresh that died between the " +
      "postings and doclens appends reconciles fully under OPTIMIZE — " +
      "the next refresh re-appends NOTHING (no duplicate postings)") {
    val t = s"crashix_docs_${System.nanoTime()}"
    engine.createTable(t, "doc_id BIGINT, text STRING")
    engine.insertValues(t, Seq(
      Row(1L, "alpha beta alpha gamma"),
      Row(2L, "beta beta delta"),
      Row(3L, "epsilon zeta alpha")))
    val dir = java.nio.file.Files.createTempDirectory("graft_crashix")
      .toString
    engine.buildTextIndex("crashix", t, s"$dir/index")
    // snapshot the pre-refresh doclens, then run a CLEAN refresh
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$dir/index/doclens"),
      fs, p(s"$dir/doclens_save"), false, true,
      spark.sparkContext.hadoopConfiguration)
    engine.insertValues(t, Seq(Row(4L, "alpha alpha omega")))
    assert(engine.refreshTextIndex("crashix", t, s"$dir/index") == 1)
    // reconstruct the crash state the ADVICE names: postings carry the
    // batch, doclens do NOT, the dirty marker is up
    fs.delete(p(s"$dir/index/doclens"), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$dir/doclens_save"),
      fs, p(s"$dir/index/doclens"), false, true,
      spark.sparkContext.hadoopConfiguration)
    assert(new java.io.File(s"$dir/index/REFRESH_DIRTY").createNewFile())
    engine.registerTextIndex("crashix", s"$dir/index")
    intercept[IllegalStateException](
      engine.refreshTextIndex("crashix", t, s"$dir/index"))
    engine.optimizeTextIndex("crashix")
    // the repaired doclens knows the batch doc, so the SAME batch does
    // not re-append (the pre-fix behavior duplicated every (w, doc_id)
    // posting of doc 4 here, double-counting tf and df)
    assert(engine.refreshTextIndex("crashix", t, s"$dir/index") == 0,
      "repaired artifact re-appended the already-indexed batch")
    // the whole artifact equals a from-scratch build over the grown
    // corpus, and the probe agrees
    engine.buildTextIndex("crashix_full", t, s"$dir/index_full")
    def rows(n: String) = engine.table(n).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows("crashix_postings") == rows("crashix_full_postings"))
    assert(rows("crashix_doclens") == rows("crashix_full_doclens"))
    assert(rows("crashix_stats") == rows("crashix_full_stats"))
    assert(engine.bm25Search("crashix", Seq("alpha"), 2).collect()
      .map(_.toString).toSeq ==
      engine.bm25Search("crashix_full", Seq("alpha"), 2).collect()
        .map(_.toString).toSeq)
    engine.dropTable(t)
    Seq("crashix", "crashix_full").foreach { ix =>
      engine.dropIndex(ix, ifExists = true)
      Seq("postings", "doclens", "stats", "termstats").foreach(s =>
        engine.unregisterTable(s"${ix}_$s"))
    }
  }

  test("probe stats are a bounded ring: only the newest ProbeStatsCap " +
      "probes are retained (a long-running serving process cannot leak)") {
    engine.clearProbeStats()
    val cap = engine.ProbeStatsCap
    (1 to cap + 50).foreach(i =>
      engine.recordProbe("capix", "bm25_search", s"i=$i", "cut", 1L, 1L))
    val args = engine.probeStats.collect()
      .map(_.getAs[String]("arg")).toSet
    assert(args.size == cap)
    assert(!args.contains("i=1") && !args.contains("i=50"),
      "ring kept the oldest entries past the cap")
    assert(args.contains(s"i=${cap + 50}"), "ring dropped the newest")
    engine.clearProbeStats()
    assert(engine.probeStats.count() == 0L)
  }

  test("text index: persisted artifact, term-probe equals the full " +
      "BM25 pass, refresh ≡ rebuild, stats stay exact") {
    val t = s"txtidx_docs_${System.nanoTime()}"
    engine.createTable(t, "doc_id BIGINT, text STRING")
    engine.insertValues(t, Seq(
      Row(1L, "join stream join vector filter scan"),
      Row(2L, "vector vector stream merge sort"),
      Row(3L, "unrelated words entirely about nothing"),
      Row(4L, "join filter join join scan scan stream")))
    val dir = java.nio.file.Files.createTempDirectory("graft_txtidx")
      .toString
    engine.buildTextIndex("txtidx", t, s"$dir/index")
    // artifact reads from STORAGE (cold round-trip), not a cache
    val post = engine.table("txtidx_postings")
    assert(post.columns.toSeq == Seq("w", "doc_id", "tf", "dl", "qi"))
    assert(post.inputFiles.nonEmpty &&
      post.inputFiles.forall(_.contains("index")))
    // the probe reproduces the full-pass BM25 exactly (same fixed-order
    // float arithmetic — one posting per (term, doc))
    // k=3: exactly the docs matching >=1 term (a zero-score doc can
    // pad the FULL pass's tail but never enter the index probe --
    // the documented >=k-matching equality condition)
    def viaIndex = engine.bm25Search("txtidx", Seq("join", "vector"), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = {
      // reference full pass: per-doc tf over the docs table, same formula
      val docs = engine.table(t)
      val withTf = docs.select(col("doc_id"),
        graft.functions.TokenCount.tokenCount(col("text")).as("dl"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.filter(
            split(col("text"), " "), w => w === lit("join"))).as("tf0"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.filter(
            split(col("text"), " "), w => w === lit("vector"))).as("tf1"))
      val stats = withTf.agg(count(lit(1)).as("n"), avg("dl").as("avgdl"),
        sum(when(col("tf0") > 0, 1L).otherwise(0L)).as("df0"),
        sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"))
      val score = Seq(0, 1).map { i =>
        org.apache.spark.sql.functions.log(lit(1) +
          (col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5)) *
          col(s"tf$i") * 2.2 /
          (col(s"tf$i") + (lit(0.25) + lit(0.75) * col("dl") /
            col("avgdl")) * 1.2)
      }.reduce(_ + _)
      withTf.crossJoin(broadcast(stats))
        .select(col("doc_id"),
          org.apache.spark.sql.functions.round(score, 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(viaIndex == full, s"index probe $viaIndex != full pass $full")
    // refresh: only the new docs index (O(batch)); artifact equals a
    // from-scratch rebuild row-for-row, stats recompute exactly
    engine.insertValues(t, Seq(
      Row(5L, "join vector newdoc stream stream")))
    assert(engine.refreshTextIndex("txtidx", t, s"$dir/index") == 1)
    engine.buildTextIndex("txtidx_full", t, s"$dir/index_full")
    def rows(n: String) = engine.table(n).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows("txtidx_postings") == rows("txtidx_full_postings"))
    assert(rows("txtidx_doclens") == rows("txtidx_full_doclens"))
    assert(rows("txtidx_stats") == rows("txtidx_full_stats"))
    // the refreshed probe serves the new doc
    assert(viaIndex == engine.bm25Search("txtidx_full",
      Seq("join", "vector"), 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // refresh-appended probe metadata, folded, ≡ a rebuild's
    // from-scratch compute (exact-integer sum/max/min are associative)
    def folded(d: String) = Seq(engine.foldedTermstats(d),
      foldedImpacts(d), engine.foldedStats(d))
    folded(s"$dir/index").zip(folded(s"$dir/index_full")).foreach {
      case (got, want) =>
        def art(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        assert(art(got) == art(want),
          s"refreshed ${got.columns.mkString(",")} diverged from rebuild")
    }
    // no-op refresh
    assert(engine.refreshTextIndex("txtidx", t, s"$dir/index") == 0)
    engine.dropTable(t)
    Seq("txtidx", "txtidx_full").foreach { ix =>
      Seq("postings", "doclens", "stats", "termstats").foreach(s =>
        engine.unregisterTable(s"${ix}_$s"))
    }
  }

  test("bm25 fast probe: early-terminating path certifies on the real " +
      "corpus and returns EXACTLY the classic probe's top-k; k<=0 is " +
      "LIMIT-0; dirty marker falls back, refuses refresh, OPTIMIZE " +
      "repairs; tail introspection tracks the maintenance cadence") {
    val t = s"fastbm_docs_${System.nanoTime()}"
    engine.registerTable(t, Tables.t(spark, sf, "documents")
      .select("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_fastbm")
      .toString
    engine.buildTextIndex("fastbm", t, s"$dir/index")
    val terms = Seq("join", "vector", "stream") // deliberately COMMON
    def classic = {
      val m = engine.bm25Matched("fastbm", terms)
      m.orderBy(col("bm25").desc, col("doc_id")).limit(10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    // with the cost gate floored, the early-terminating path must
    // ENGAGE (certify) on this corpus and agree with the classic probe
    spark.conf.set("graft.bm25.fastPathMinRows", "0")
    val fast = engine.fastBm25("fastbm", terms, 10)
    assert(fast.isDefined, "fast probe declined on the documents corpus")
    assert(fast.get.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq == classic, "fast probe diverged from the classic probe")
    // the one-job literal plan agrees bit-for-bit too
    assert(engine.litMatched("fastbm", terms).get
      .orderBy(col("bm25").desc, col("doc_id")).limit(10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == classic,
      "literal-metadata plan diverged from the classic probe")
    // public verb agrees (and serves a stable local snapshot)
    assert(engine.bm25Search("fastbm", terms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == classic)
    // a rare term whose df < k: fast path declines, classic pads with
    // zero-score docs — the public verb stays exact either way
    val rare = engine.table("fastbm_postings").groupBy("w")
      .agg(count(lit(1)).as("df")).filter(col("df") < 5)
      .orderBy("w").limit(1).collect()
    rare.foreach { r =>
      val got = engine.bm25Search("fastbm", Seq(r.getString(0)), 10)
        .collect()
      assert(got.length == 10)
      assert(got.count(_.getDouble(1) > 0.0) == r.getLong(1))
    }
    // k <= 0 is LIMIT 0, not a crash
    assert(engine.bm25Search("fastbm", terms, 0).collect().isEmpty)
    // duplicate probe terms: the bound model declines; the classic
    // pivot (which double-counts duplicates, like the SQL form) serves
    assert(engine.fastBm25("fastbm", Seq("join", "join"), 5).isEmpty)
    assert(engine.bm25Search("fastbm", Seq("join", "join"), 5)
      .collect().length == 5)
    // tail introspection: fresh build has no tail; refresh grows it;
    // OPTIMIZE folds it back to zero
    def tailRow = engine.indexes.filter(col("index_name") === "fastbm")
      .select("kind", "tail_rows", "tail_frac").head()
    assert(tailRow.getString(0) == "text" && tailRow.getLong(1) == 0L)
    engine.insertInto(t, engine.table(t).limit(3)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
    assert(engine.refreshTextIndex("fastbm", t, s"$dir/index") == 3)
    assert(tailRow.getLong(1) == 3L && tailRow.getDouble(2) > 0.0)
    // refreshed artifact still serves fast and exact (vs the classic
    // probe over the grown corpus)
    val fast2 = engine.fastBm25("fastbm", terms, 10)
    assert(fast2.isDefined)
    assert(fast2.get.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq == classic)
    // a crashed refresh (dirty marker): fast path declines, the classic
    // probe recomputes stats LIVE, refresh refuses loudly, OPTIMIZE
    // repairs the metadata and clears the marker
    val marker = new java.io.File(s"$dir/index/REFRESH_DIRTY")
    assert(marker.createNewFile())
    assert(engine.fastBm25("fastbm", terms, 10).isEmpty,
      "fast probe served from a dirty artifact")
    assert(engine.bm25Search("fastbm", terms, 10).collect().length == 10)
    val ex = intercept[IllegalStateException](
      engine.refreshTextIndex("fastbm", t, s"$dir/index"))
    assert(ex.getMessage.contains("OPTIMIZE TEXT INDEX"))
    engine.optimizeTextIndex("fastbm")
    assert(!marker.exists, "OPTIMIZE left the dirty marker up")
    assert(engine.fastBm25("fastbm", terms, 10).isDefined)
    assert(tailRow.getLong(1) == 0L && tailRow.getDouble(2) == 0.0)
    // probe observability: every bm25Search above was recorded with
    // the plan path that served it — the serving-stats surface an
    // operator reads (the reference's probes-are-the-recorded-common-
    // case contract)
    val ps = engine.probeStats.filter(col("index_name") === "fastbm")
      .collect()
    assert(ps.nonEmpty, "no probe stats recorded")
    val paths = ps.map(_.getAs[String]("plan_path")).toSet
    assert(paths.contains("cut"), s"no cut-path probe recorded: $paths")
    assert(paths.contains("empty"), s"k<=0 probe not recorded: $paths")
    assert(ps.forall(_.getAs[Long]("duration_ms") >= 0L))
    assert(ps.filter(_.getAs[String]("plan_path") == "cut")
      .forall(_.getAs[Long]("rows") == 10L))
    engine.clearProbeStats()
    assert(engine.probeStats.count() == 0L)
    spark.conf.unset("graft.bm25.fastPathMinRows")
    engine.dropIndex("fastbm")
    engine.unregisterTable(t)
    Seq("postings", "doclens", "stats", "termstats").foreach(s =>
      engine.unregisterTable(s"fastbm_$s"))
  }

  test("merge: NULL keys always insert and are never duplicates") {
    val t = freshTable("merge_null")
    engine.insertValues(t, Seq(Row(1, "alice")))
    // two NULL-key source rows: NULL never equals anything (SQL join
    // semantics), so neither matches the target NOR each other — both
    // insert, and the duplicate probe must NOT fire on them
    val src = spark.createDataFrame(
      java.util.Arrays.asList(Row(null, "x"), Row(null, "y"), Row(1, "a2")),
      engine.table(t).schema)
    val (updated, inserted) = engine.mergeInto(t, src, Seq("id"))
    assert(updated == 1 && inserted == 2)
    assert(engine.table(t).count() == 3)
    engine.dropTable(t)
  }

  test("merge: duplicate target keys collapse N-to-1, counters stay sane") {
    val t = freshTable("merge_dupt")
    // target key uniqueness is not enforced; two rows share id=7
    engine.insertValues(t, Seq(Row(7, "a"), Row(7, "b"), Row(9, "c")))
    val src = spark.createDataFrame(
      java.util.Arrays.asList(Row(7, "z"), Row(8, "new")),
      engine.table(t).schema)
    val (updated, inserted) = engine.mergeInto(t, src, Seq("id"))
    // updated counts MATCHED SOURCE rows (1), not collapsed target rows;
    // inserted counts unmatched source rows — never negative
    assert(updated == 1 && inserted == 1)
    val got = engine.table(t).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(7 -> "z", 8 -> "new", 9 -> "c"))
    assert(engine.table(t).count() == 3) // both id=7 rows collapsed to one
    engine.dropTable(t)
  }

  test("alter table matrix: add/drop/rename column, rename table") {
    val t = freshTable("test_alter_table")
    engine.insertValues(t, Seq(Row(1, "x")))
    engine.addColumn(t, "status", "STRING", Some("active"))
    assert(engine.table(t).columns.contains("status"))
    assert(engine.table(t).head().getAs[String]("status") == "active")
    intercept[IllegalArgumentException](engine.addColumn(t, "status", "STRING"))
    engine.addColumn(t, "status", "STRING", None, ifNotExists = true)
    engine.renameColumn(t, "status", "state")
    assert(!engine.table(t).columns.contains("status"))
    engine.dropColumn(t, "state")
    intercept[IllegalArgumentException](engine.dropColumn(t, "state"))
    engine.dropColumn(t, "state", ifExists = true)
    val t2 = t + "_renamed"
    engine.renameTable(t, t2)
    intercept[IllegalArgumentException](engine.table(t))
    engine.dropTable(t2)
  }

  test("alter column type / default / not-null matrix (catalog_utils)") {
    val t = freshTable("alter_matrix")
    engine.insertValues(t, Seq(Row(1, "x"), Row(2, "y")))
    // ALTER COLUMN TYPE: in-place cast, position preserved
    engine.alterColumnType(t, "id", "STRING")
    assert(engine.table(t).schema.fieldNames.head == "id")
    assert(engine.table(t).schema("id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(engine.table(t).orderBy("id").head().getString(0) == "1")
    intercept[IllegalArgumentException](
      engine.alterColumnType(t, "nope", "INT"))
    // SET / DROP DEFAULT round trip
    engine.setDefault(t, "name", "'dflt'")
    assert(engine.columnDefault(t, "name").contains("'dflt'"))
    engine.dropDefault(t, "name")
    assert(engine.columnDefault(t, "name").isEmpty)
    // SET NOT NULL validates existing rows, then rejects bad inserts
    engine.setNotNull(t, "name")
    assert(engine.isNotNull(t, "name"))
    val bad = intercept[IllegalArgumentException](
      engine.insertValues(t, Seq(Row("3", null))))
    assert(bad.getMessage.contains("NOT NULL"))
    assert(engine.table(t).count() == 2) // rejected insert left no trace
    engine.dropNotNull(t, "name")
    engine.insertValues(t, Seq(Row("3", null)))
    assert(engine.table(t).count() == 3)
    // SET NOT NULL on a column that now has NULLs errors
    intercept[IllegalArgumentException](engine.setNotNull(t, "name"))
    engine.dropTable(t)
  }

  test("alter on missing table raises catalog error") {
    val e = intercept[IllegalArgumentException](
      engine.addColumn("no_such_table", "c", "INT"))
    assert(e.getMessage.contains("does not exist"))
  }

  test("index registry: create/drop/introspect (index_operations.test)") {
    val t = freshTable("idx_test")
    engine.createIndex("idx_test_id", t, Seq("id"))
    engine.createIndex("idx_test_name", t, Seq("name"))
    intercept[IllegalArgumentException](
      engine.createIndex("idx_test_id", t, Seq("id")))
    engine.createIndex("idx_test_id", t, Seq("id"), ifNotExists = true)
    assert(engine.indexes.filter(col("table_name") === t).count() == 2)
    engine.dropIndex("idx_test_name")
    intercept[IllegalArgumentException](engine.dropIndex("idx_test_name"))
    engine.dropIndex("idx_test_name", ifExists = true)
    // dropping the table drops its indexes from the registry
    engine.dropTable(t)
    assert(engine.indexes.filter(col("table_name") === t).count() == 0)
  }

  test("enum declaration-order MIN/MAX/ORDER BY (enum_type_support.test)") {
    import spark.implicits._
    val name = s"mood_${System.nanoTime()}"
    engine.createEnum(name, Seq("happy", "sad", "neutral"))
    intercept[IllegalArgumentException](engine.createEnum(name, Seq("x")))
    val df = Seq((1, "sad"), (2, "happy"), (3, "neutral"), (4, "happy"))
      .toDF("id", "person_mood")
    val ord = engine.enumOrd(name, col("person_mood"))
    // min/max by declaration order: happy < sad < neutral
    val r = df.agg(
      min_by(col("person_mood"), ord).as("mn"),
      max_by(col("person_mood"), ord).as("mx")).head()
    assert(r.getString(0) == "happy" && r.getString(1) == "neutral")
    val sorted = df.orderBy(ord, col("id")).collect().map(_.getString(1))
    assert(sorted.sameElements(Array("happy", "happy", "sad", "neutral")))
  }

  test("explain classifies without executing; compact rebalances") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    engine.registerTable("exp_li", s"$sf/lineitem.parquet")
    engine.tables.collect() // materialize the lazy registry row counts
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = engine.explain(
        "SELECT l_returnflag, count(*) AS n FROM exp_li GROUP BY 1").head()
      assert(r.getAs[String]("execution_mode") == "DELEGATED")
      assert(r.getAs[String]("merge_strategy") == "GROUP_BY_MERGE")
      assert(r.getAs[String]("plan").contains("Aggregate"))
      org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
      assert(jobs.get() == 0, "explain must not execute the query")
    } finally spark.sparkContext.removeSparkListener(l)
    // explain of DDL classifies without creating anything
    val ddlName = s"explain_ddl_${System.nanoTime()}"
    val ddl = engine.explain(s"CREATE TABLE $ddlName (id INT)").head()
    assert(ddl.getAs[String]("execution_mode") == "LOCAL")
    assert(!engine.tableExists(ddlName), "explain executed the DDL!")
    engine.compact("exp_li", 2)
    assert(engine.table("exp_li").rdd.getNumPartitions == 2)
    assert(engine.table("exp_li").count() > 0)
    engine.unregisterTable("exp_li")
  }

  test("explain classifies the plan execution records: footer fold and " +
      "MV rewrite apply to both") {
    // law: explain(q).execution_mode == the mode executionStats records
    // after sql(q) executes, for queries an engine rewrite changes
    val engine = Engine(spark)
    def recorded(q: String): String = {
      engine.clearStats()
      engine.sql(q).collect()
      val rows = engine.executionStats.collect()
      assert(rows.length == 1, s"expected one stats row for: $q")
      rows.head.getAs[String]("execution_mode")
    }
    def law(q: String): org.apache.spark.sql.Row = {
      val e = engine.explain(q).head()
      val rec = recorded(q)
      assert(e.getAs[String]("execution_mode") == rec,
        s"explain said ${e.getAs[String]("execution_mode")}, execution " +
          s"recorded $rec for: $q")
      e
    }
    // bare COUNT(*) over a path-registered parquet table folds to the
    // footer count: no scan left, so LOCAL on both sides
    val li = s"exl_li_${System.nanoTime()}"
    engine.registerTable(li, s"$sf/lineitem.parquet")
    assert(law(s"SELECT count(*) FROM $li")
      .getAs[String]("execution_mode") == "LOCAL")
    engine.unregisterTable(li)
    // a covered aggregate re-targets the MV partials: the base is large
    // enough (2 row groups) that classifying it unrewritten would
    // report a partitioned mode
    val t = s"exl_mv_base_${System.nanoTime()}"
    val mv = s"exl_mv_${System.nanoTime()}"
    engine.registerTable(t, spark.range(0L, 200000L)
      .select((col("id") % 7).as("g"), col("id").cast("double").as("x")))
    engine.createMaterializedAggregate(mv, t, dims = Seq("g"),
      measures = Seq("x"), path =
        s"${sys.props("java.io.tmpdir")}/graft_test_mv_${System.nanoTime()}")
    val covered = law(s"SELECT g, sum(x) AS s FROM $t GROUP BY g")
    assert(covered.getAs[String]("plan").contains("sum_x"),
      "explain did not see the MV rewrite")
    engine.dropTable(mv); engine.dropTable(t)
  }

  test("persisted ANN index: build once, probe with bounded scans") {
    import spark.implicits._
    engine.registerTable("ann_emb", s"$sf/embeddings.parquet")
    engine.buildAnnIndex("ann_idx", "ann_emb")
    assert(engine.tableExists("ann_idx_centroids"))
    assert(engine.tableExists("ann_idx_cells"))
    assert(engine.indexes.filter(col("index_name") === "ann_idx").count() == 1)
    val q0 = engine.table("ann_emb").filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    val res = engine.annSearch("ann_idx", q0, k = 10).collect()
    assert(res.length == 10)
    // the query vector's own cell is always probed → self is rank 1
    assert(res.head.getLong(0) == 0L)
    assert(math.abs(res.head.getDouble(1) - 1.0) < 1e-6)
    // results ordered by similarity
    val sims = res.map(_.getDouble(1))
    assert(sims.sameElements(sims.sortBy(-(_: Double))))
    Seq("ann_emb", "ann_idx_centroids", "ann_idx_cells")
      .foreach(engine.unregisterTable)
    engine.dropIndex("ann_idx")
  }

  test("ANN index incremental refresh: new vectors assign against the " +
    "frozen quantizer — refresh ≡ rebuild-on-same-centroids, O(batch) " +
    "marginal, idempotent, and the probe path finds the new vectors") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val t = s"ann_inc_${System.nanoTime()}"
    val idx = s"annx_${System.nanoTime()}"
    engine.registerTable(t, emb.filter(col("vec_id") % 5 =!= 0))
    engine.buildAnnIndex(idx, t)
    val cellsBefore = engine.table(s"${idx}_cells").count()
    engine.insertInto(t, emb.filter(col("vec_id") % 5 === 0)) // day-2 batch
    val deltaN = emb.filter(col("vec_id") % 5 === 0).count()
    val added = engine.refreshAnnIndex(idx, t)
    assert(added == deltaN && deltaN > 0)
    // idempotent — the anti-join sees them indexed now
    assert(engine.refreshAnnIndex(idx, t) == 0L)
    assert(engine.table(s"${idx}_cells").count() == cellsBefore + deltaN)
    // the LAW: cell-identical to assigning the grown corpus against
    // the same frozen centroids in one shot
    val full = graft.operators.SimilarityOps.ivfAssign(
      engine.table(t).select(col("vec_id"), col("embedding")),
      engine.table(s"${idx}_centroids"))
    def canon(df: DataFrame) = df.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(canon(engine.table(s"${idx}_cells")).sameElements(canon(full)))
    // probe finds a refreshed vector: its own cell is probed, self is
    // rank 1 at cos 1.0
    val q = emb.filter(col("vec_id") === 5)
      .select("embedding").as[Array[Float]].head()
    val res = engine.annSearch(idx, q, k = 5).collect()
    assert(res.head.getLong(0) == 5L &&
      math.abs(res.head.getDouble(1) - 1.0) < 1e-6)
    intercept[IllegalArgumentException](engine.refreshAnnIndex("nope", t))
    // refreshing against a table other than the one the index was
    // built over fails loudly instead of merging foreign vectors
    val mm = intercept[IllegalArgumentException](
      engine.refreshAnnIndex(idx, "some_other_table"))
    assert(mm.getMessage.contains("was built over"))
    Seq(t, s"${idx}_centroids", s"${idx}_cells")
      .foreach(engine.unregisterTable)
    engine.dropIndex(idx)
  }

  test("IVF-PQ index: cells carry codes not floats (memory law), " +
    "search rescores exactly, refresh encodes against the frozen " +
    "quantizer — refresh ≡ rebuild-on-same-codebooks") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val t = s"pq_base_${System.nanoTime()}"
    val idx = s"pqx_${System.nanoTime()}"
    engine.registerTable(t, emb.filter(col("vec_id") % 5 =!= 0))
    engine.buildAnnIndex(idx, t, pq = true)
    // memory law: the cells table has NO raw embedding column, and
    // its payload (codes + norm + 2-byte cell) is ≤ 1/8 of raw floats
    val cells = engine.table(s"${idx}_cells")
    assert(!cells.columns.contains("embedding"))
    val idxBytes = cells
      .agg(sum(octet_length(col("codes")) + lit(6L))).head().getLong(0)
    val rawBytes = engine.table(t)
      .agg(sum(size(col("embedding")) * 4L)).head().getLong(0)
    assert(idxBytes * 8 <= rawBytes,
      s"index $idxBytes bytes vs raw $rawBytes")
    // search: self is rank 1 at EXACT cos 1.0 (rescored on raw floats)
    val q = emb.filter(col("vec_id") === 1)
      .select("embedding").as[Array[Float]].head()
    val res = engine.annSearch(idx, q, k = 5).collect()
    assert(res.length == 5)
    assert(res.head.getLong(0) == 1L &&
      math.abs(res.head.getDouble(1) - 1.0) < 1e-6)
    val sims = res.map(_.getDouble(1))
    assert(sims.sameElements(sims.sortBy(-(_: Double))))
    // refresh law: day-2 vectors encode against the FROZEN centroids
    // AND codebooks; the refreshed cells are row-identical to encoding
    // the grown corpus in one shot against the same quantizer
    engine.insertInto(t, emb.filter(col("vec_id") % 5 === 0))
    val added = engine.refreshAnnIndex(idx, t)
    assert(added == emb.filter(col("vec_id") % 5 === 0).count())
    assert(engine.refreshAnnIndex(idx, t) == 0L) // idempotent
    val full = graft.operators.SimilarityOps.pqEncode(
      graft.operators.SimilarityOps.ivfAssign(
        engine.table(t).select(col("vec_id"), col("embedding")),
        engine.table(s"${idx}_centroids")),
      engine.table(s"${idx}_centroids"),
      {
        import spark.implicits._
        engine.table(s"${idx}_codebooks").as[(Int, Int, Array[Float])]
          .collect().groupBy(_._1).toArray.sortBy(_._1)
          .map(_._2.sortBy(_._2).map(_._3))
      })
    def canon(df: DataFrame) = df
      .select("vec_id", "cell", "norm", "codes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getFloat(2),
        r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1)
    assert(canon(engine.table(s"${idx}_cells")).sameElements(canon(full)))
    // a refreshed vector is findable, self at exact 1.0
    val q0 = emb.filter(col("vec_id") === 5)
      .select("embedding").as[Array[Float]].head()
    val r5 = engine.annSearch(idx, q0, k = 3).collect()
    assert(r5.head.getLong(0) == 5L &&
      math.abs(r5.head.getDouble(1) - 1.0) < 1e-6)
    Seq(t, s"${idx}_centroids", s"${idx}_cells", s"${idx}_codebooks")
      .foreach(engine.unregisterTable)
    engine.dropIndex(idx)
  }

  test("engine stays consistent under concurrent DDL/DML/query load") {
    import scala.concurrent._
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = (1 to 8).map { i =>
        Future {
          val t = s"conc_${i}_${System.nanoTime()}"
          engine.sql(s"CREATE TABLE $t (id INT, v STRING)")
          engine.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
          assert(engine.sql(s"SELECT count(*) AS n FROM $t")
            .head().getLong(0) == 2)
          engine.sql(s"ALTER TABLE $t ADD COLUMN w INT DEFAULT 7")
          assert(engine.table(t).columns.contains("w"))
          engine.sql(s"DROP TABLE $t")
        }
      }
      Await.result(Future.sequence(futs), 120.seconds)
    } finally pool.shutdown()
  }

  test("workerCount reflects local parallelism") {
    // holds under local[4] AND local-cluster[2,16,*] (the scale-truth
    // smoke): the pool is whatever parallelism the master provides
    assert(engine.workerCount == spark.sparkContext.defaultParallelism)
  }

  test("DELETE keeps rows where the predicate evaluates to NULL") {
    val t = freshTable("del_null")
    engine.insertValues(t, Seq(Row(1, "a"), Row(2, null), Row(3, "b")))
    // name = 'a' is NULL for row 2 → SQL DELETE must keep it
    val deleted = engine.deleteFrom(t, col("name") === "a")
    assert(deleted == 1)
    val kept = engine.table(t).collect().map(_.getInt(0)).sorted
    assert(kept.sameElements(Array(2, 3)))
    engine.dropTable(t)
  }

  test("DDL/DML verbs are metadata-only: zero Spark jobs launched") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val t = s"lazy_cnt_${System.nanoTime()}"
      engine.registerTable(t, spark.range(100).toDF("id"))
      engine.addColumn(t, "c", "INT", Some(7))
      engine.renameColumn(t, "c", "d")
      engine.insertInto(t, spark.range(5).toDF("id")
        .withColumn("d", lit(1)))
      org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
      assert(jobs.get() == 0,
        s"expected metadata-only DDL/DML, saw ${jobs.get()} Spark jobs")
      // the count still materializes (lazily) for the classifier
      assert(engine.tables.filter(col("table_name") === t)
        .head().getAs[Long]("row_count") == 105L)
      engine.dropTable(t)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("dedupTable removes exact duplicates") {
    val t = freshTable("dedup_tbl")
    engine.insertValues(t, Seq(Row(1, "a"), Row(1, "a"), Row(2, "b"),
      Row(2, "c"), Row(2, "c")))
    // full-row dedup
    assert(engine.dedupTable(t) == 2)
    assert(engine.table(t).count() == 3)
    // key dedup keeps one row per id
    assert(engine.dedupTable(t, Seq("id")) == 1)
    assert(engine.table(t).count() == 2)
    engine.dropTable(t)
  }

  test("execution modes at reference thresholds (BASELINE.md tiers)") {
    import spark.implicits._
    // BASELINE.md publishes these tiers for a 4-worker pool; under the
    // local-cluster smoke (32 cores) the same row counts land in
    // different tiers by design (rowGroups < workers → NATURAL), so the
    // fixture-exact assertions only apply at the published pool size
    assume(spark.sparkContext.defaultParallelism == 4,
      "BASELINE tier assertions are pinned to the 4-worker fixture")
    engine.clearStats()
    // 200,000 rows: 2 row groups < 4 workers → NATURAL_PARTITION
    // (range_partitioning.test:63-69); 500,000: ~5 row groups → ROW_GROUP
    // (row_group_partitioning.test:27-31); ORDER BY → LOCAL
    // (local_execution.test:30-46); 1,000 → DELEGATED (small_table rule).
    engine.registerTable("mode_medium",
      spark.range(200000).select(col("id"), (col("id") % 5).as("cat")))
    engine.registerTable("mode_large",
      spark.range(500000).select(col("id"), (col("id") % 5).as("cat")))
    engine.registerTable("mode_small", spark.range(1000).toDF("id"))
    engine.sql("SELECT cat, count(*) AS n FROM mode_medium GROUP BY cat").count()
    engine.sql("SELECT cat, count(*) AS n FROM mode_large GROUP BY cat").count()
    engine.sql("SELECT count(*) AS n FROM mode_small").count()
    engine.sql("SELECT id FROM mode_small ORDER BY id").count()
    val modes = engine.executionStats.collect()
      .map(r => r.getAs[String]("sql") -> r.getAs[String]("execution_mode"))
      .toMap
    assert(modes.find(_._1.contains("mode_medium")).get._2 == "NATURAL_PARTITION")
    assert(modes.find(_._1.contains("mode_large")).get._2 == "ROW_GROUP_PARTITION")
    assert(modes.find(kv => kv._1.contains("mode_small") && kv._1.contains("count"))
      .get._2 == "DELEGATED")
    assert(modes.find(_._1.contains("ORDER BY")).get._2 == "LOCAL")
    val tasks = engine.executionStats.collect()
      .map(r => r.getAs[String]("sql") -> r.getAs[Long]("num_tasks_generated"))
      .toMap
    // task clamp: max(rowGroups, workers)=4 for medium, min(...,16)
    assert(tasks.find(_._1.contains("mode_medium")).get._2 == 4L)
    assert(tasks.find(_._1.contains("mode_large")).get._2 == 5L)
    Seq("mode_medium", "mode_large", "mode_small").foreach(engine.unregisterTable)
  }

  test("materialized aggregate: covered SQL re-aggregates the MV and " +
      "matches the direct computation") {
    val engine = Engine(spark)
    val t = s"mv_base_${System.nanoTime()}"
    val mv = s"mv_agg_${System.nanoTime()}"
    engine.registerTable(t, graft.Tables.t(spark, sf, "lineitem"))
    val path =
      s"${sys.props("java.io.tmpdir")}/graft_test_mv_${System.nanoTime()}"
    engine.createMaterializedAggregate(mv, t,
      dims = Seq("l_returnflag", "l_linestatus"),
      measures = Seq("l_quantity", "l_extendedprice"), path = path)
    // full dims + every rewritable call
    val q1 = s"""SELECT l_returnflag, l_linestatus,
                |round(sum(l_quantity), 2) AS s,
                |round(avg(l_extendedprice), 4) AS a,
                |round(min(l_quantity), 2) AS mn,
                |round(max(l_quantity), 2) AS mx,
                |count(*) AS n, count(l_extendedprice) AS nv
                |FROM $t GROUP BY l_returnflag, l_linestatus""".stripMargin
    // subset grouping + dim filter
    val q2 = s"""SELECT l_returnflag, round(sum(l_quantity), 2) AS s,
                |count(*) AS n FROM $t WHERE l_linestatus = 'F'
                |GROUP BY l_returnflag""".stripMargin
    // NOT covered: filter on a non-dim column — must not rewrite
    val q3 = s"""SELECT l_returnflag, count(*) AS n FROM $t
                |WHERE l_quantity > 25 GROUP BY l_returnflag""".stripMargin
    Seq(q1, q2, q3).foreach { q =>
      val viaEngine = engine.sql(q).collect().toSet
      assert(viaEngine == direct(engine, q, t), s"mismatch for: $q")
    }
    // the covered query re-aggregates the MV partials (path-level scan
    // assertion lives in PlanQualitySpec's q159 law)
    val planStr = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(engine.sql(q1)).queryExecution.optimizedPlan.toString()
    assert(planStr.contains("sum_l_quantity"),
      s"covered aggregate not rewritten to the MV:\n$planStr")
    // ...and the non-covered query must NOT touch the MV partials
    val plan3 = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(engine.sql(q3)).queryExecution.optimizedPlan.toString()
    assert(!plan3.contains("sum_l_quantity"))
    engine.dropTable(mv); engine.dropTable(t)
  }

  test("materialized aggregate: DML on the base disables the rewrite " +
      "until refresh") {
    val engine = Engine(spark)
    val t = s"mv_stale_${System.nanoTime()}"
    val mv = s"mv_stale_agg_${System.nanoTime()}"
    engine.createTableAs(t, graft.Tables.t(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity")
      .filter(col("l_returnflag") === "A"))
    val path =
      s"${sys.props("java.io.tmpdir")}/graft_test_mv_${System.nanoTime()}"
    engine.createMaterializedAggregate(mv, t, dims = Seq("l_returnflag"),
      measures = Seq("l_quantity"), path = path)
    val q = s"SELECT l_returnflag, count(*) AS n FROM $t GROUP BY 1"
    val before = engine.sql(q).collect().map(r => r.getLong(1)).head
    engine.insertInto(t, engine.table(t).limit(5))
    // stale MV must NOT serve the query — the count reflects the insert
    val after = engine.sql(q).collect().map(r => r.getLong(1)).head
    assert(after == before + 5,
      s"stale MV served a rewritten aggregate: $before → $after")
    val planStale = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(engine.sql(q)).queryExecution.optimizedPlan.toString()
    assert(!planStale.contains("sum(n_rows"))
    // refresh re-arms the rewrite with the new state
    engine.refreshMaterializedAggregate(mv)
    val refreshed = engine.sql(q).collect().map(r => r.getLong(1)).head
    assert(refreshed == after)
    val planFresh = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(engine.sql(q)).queryExecution.optimizedPlan.toString()
    assert(planFresh.contains("sum(n_rows"),
      s"refresh did not re-arm the rewrite:\n$planFresh")
    engine.dropTable(mv); engine.dropTable(t)
  }

  test("materialized aggregate incremental refresh: append-only deltas " +
      "merge into the artifact; row rewrites fall back to rebuild") {
    val engine = Engine(spark)
    val t = s"mv_incr_${System.nanoTime()}"
    val mv = s"mv_incr_agg_${System.nanoTime()}"
    val mvRef = s"${mv}_ref"
    // binary-exact doubles: partial-sum merge order cannot introduce ulp
    // drift, so artifact equality below is exact
    engine.createTable(t, "grp STRING, x DOUBLE, y INT")
    engine.sql(s"INSERT INTO $t VALUES ('a', 1.25, 3), ('a', 2.5, NULL), " +
      "('b', 4.0, 1)")
    val path =
      s"${sys.props("java.io.tmpdir")}/graft_test_mv_${System.nanoTime()}"
    engine.createMaterializedAggregate(mv, t, dims = Seq("grp"),
      measures = Seq("x", "y"), path = path)
    assert(engine.refreshMaterializedAggregate(mv) == "noop")
    // two separate inserts (chain length 2), one introducing a NEW group
    // and a NULL measure
    engine.sql(s"INSERT INTO $t VALUES ('c', 0.75, NULL), ('a', -2.0, 8)")
    engine.sql(s"INSERT INTO $t VALUES ('b', 3.25, 6)")
    assert(engine.refreshMaterializedAggregate(mv) == "incremental")
    assert(EngineSpec.swapLeftovers(path).isEmpty)
    // merged artifact is identical to a from-scratch build over the
    // current base — schema (post-cast) and rows
    engine.createMaterializedAggregate(mvRef, t, dims = Seq("grp"),
      measures = Seq("x", "y"),
      path = s"${path}_ref")
    assert(engine.table(mv).schema == engine.table(mvRef).schema)
    assert(engine.table(mv).collect().toSet ==
      engine.table(mvRef).collect().toSet)
    // the refreshed MV serves covered queries, matching the direct plan
    val q = s"SELECT grp, sum(x) AS s, round(avg(x), 6) AS a, " +
      s"min(x) AS mn, max(x) AS mx, count(*) AS n, count(y) AS nv " +
      s"FROM $t GROUP BY grp"
    assert(engine.sql(q).collect().toSet == direct(engine, q, t))
    val planStr = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(engine.sql(q)).queryExecution.optimizedPlan.toString()
    assert(planStr.contains("sum_x"), s"not served by the MV:\n$planStr")
    // DELETE rewrites rows → the append chain breaks → full rebuild,
    // still correct
    engine.sql(s"DELETE FROM $t WHERE grp = 'a'")
    assert(engine.refreshMaterializedAggregate(mv) == "rebuild")
    assert(engine.sql(q).collect().toSet == direct(engine, q, t))
    // ...and an insert AFTER the rebuild is incremental again
    engine.sql(s"INSERT INTO $t VALUES ('d', 9.5, 2)")
    assert(engine.refreshMaterializedAggregate(mv) == "incremental")
    assert(engine.sql(q).collect().toSet == direct(engine, q, t))
    // MERGE rewrites rows too — it must also break the chain
    import spark.implicits._
    engine.mergeInto(t, Seq(("b", 100.0, 1)).toDF("grp", "x", "y"),
      keys = Seq("grp"))
    assert(engine.refreshMaterializedAggregate(mv) == "rebuild")
    assert(engine.sql(q).collect().toSet == direct(engine, q, t))
    engine.dropTable(mvRef); engine.dropTable(mv); engine.dropTable(t)
  }

  test("incremental refresh property law: random insert/delete/refresh " +
      "sequences keep the artifact identical to a from-scratch build") {
    val engine = Engine(spark)
    val t = s"mv_iprop_${System.nanoTime()}"
    val mv = s"mv_iprop_agg_${System.nanoTime()}"
    val path =
      s"${sys.props("java.io.tmpdir")}/graft_test_mv_${System.nanoTime()}"
    engine.createTable(t, "g STRING, h INT, x DOUBLE, y INT")
    val rnd = new scala.util.Random(8160)
    // exact quarters: double addition over them is associative-exact,
    // so artifact equality below is bitwise
    def values(n: Int): String = (1 to n).map { _ =>
      val g = "abcd".charAt(rnd.nextInt(4))
      val h = rnd.nextInt(5)
      val x = (rnd.nextInt(1000) - 500) / 4.0
      val y = if (rnd.nextInt(4) == 0) "NULL" else rnd.nextInt(100).toString
      s"('$g', $h, $x, $y)"
    }.mkString(", ")
    engine.sql(s"INSERT INTO $t VALUES ${values(8)}")
    engine.createMaterializedAggregate(mv, t, dims = Seq("g", "h"),
      measures = Seq("x", "y"), path = path)
    var mutated = false // any DML since the last refresh/build
    var chainBroken = false // a row-rewrite since the last refresh/build
    def checkRefresh(): Unit = {
      val mode = engine.refreshMaterializedAggregate(mv)
      val expected =
        if (!mutated) "noop"
        else if (chainBroken) "rebuild"
        else "incremental"
      assert(mode == expected, s"refresh took $mode, expected $expected")
      mutated = false; chainBroken = false
      val ref = s"${mv}_ref"
      engine.createMaterializedAggregate(ref, t, dims = Seq("g", "h"),
        measures = Seq("x", "y"), path = s"${path}_ref")
      assert(engine.table(mv).schema == engine.table(ref).schema,
        s"schema drift after $mode refresh")
      assert(engine.table(mv).collect().toSet ==
        engine.table(ref).collect().toSet, s"rows drift after $mode refresh")
      engine.dropTable(ref)
    }
    (1 to 14).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 | 1 =>
          engine.sql(s"INSERT INTO $t VALUES ${values(1 + rnd.nextInt(4))}")
          mutated = true
        case 2 =>
          // may match zero rows — the copy-on-write rewrite still breaks
          // the append chain, and the law pins that conservatism
          engine.sql(s"DELETE FROM $t WHERE h = ${rnd.nextInt(5)} " +
            s"AND g = '${"abcd".charAt(rnd.nextInt(4))}'")
          mutated = true; chainBroken = true
        case 3 => checkRefresh()
      }
    }
    checkRefresh()
    engine.dropTable(mv); engine.dropTable(t)
  }

  test("materialized aggregate property law: random covered and " +
      "uncovered shapes match the unrewritten computation") {
    val engine = Engine(spark)
    val t = s"mv_prop_${System.nanoTime()}"
    val mv = s"mv_prop_agg_${System.nanoTime()}"
    engine.registerTable(t, graft.Tables.t(spark, sf, "lineitem"))
    val path =
      s"${sys.props("java.io.tmpdir")}/graft_test_mv_${System.nanoTime()}"
    val dims = Seq("l_returnflag", "l_linestatus", "l_linenumber")
    val measures = Seq("l_quantity", "l_extendedprice", "l_discount")
    engine.createMaterializedAggregate(mv, t, dims, measures, path)
    val rnd = new scala.util.Random(8158)
    val tpl = Seq[String => String](
      mc => s"round(sum($mc), 2)", mc => s"round(min($mc), 2)",
      mc => s"round(max($mc), 2)", mc => s"count($mc)",
      mc => s"round(avg($mc), 4)", _ => "count(*)")
    (1 to 30).foreach { i =>
      // random grouping (possibly empty → global aggregate), random
      // agg calls, and a filter drawn from: none / dim-IN / a dim
      // value matching NOTHING (the empty-global count edge) / a
      // NON-dim predicate (must not rewrite — still must match)
      val gdims = rnd.shuffle(dims).take(rnd.nextInt(dims.size + 1))
      val calls = (1 to 1 + rnd.nextInt(3)).map { j =>
        s"${tpl(rnd.nextInt(tpl.size))(measures(rnd.nextInt(measures.size)))} AS c$j"
      }
      val filter = rnd.nextInt(4) match {
        case 0 => ""
        case 1 => " WHERE l_returnflag IN ('A', 'N')"
        case 2 => " WHERE l_returnflag = 'Z'"
        case _ => " WHERE l_tax > 0.03"
      }
      val group =
        if (gdims.isEmpty) "" else s" GROUP BY ${gdims.mkString(", ")}"
      val q = s"SELECT ${(gdims ++ calls).mkString(", ")} FROM $t" +
        filter + group
      val viaEngine = engine.sql(q).collect().toSet
      assert(viaEngine == direct(engine, q, t), s"law violated (i=$i): $q")
    }
    // deterministic pin of the empty-global edge: a no-match dim filter
    // with no GROUP BY must count 0, not NULL (sum-over-empty)
    val edge = s"SELECT count(*) AS n, count(l_quantity) AS nv, " +
      s"round(avg(l_discount), 4) AS a FROM $t WHERE l_returnflag = 'Z'"
    assert(engine.sql(edge).collect().toSet == direct(engine, edge, t))
    engine.dropTable(mv); engine.dropTable(t)
  }

  // ---- tableChanges (CDC feed over retained snapshots) ----------------

  test("tableChanges: insert-only range rides the append lineage") {
    val t = s"cdc_app_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING")
    engine.insertValues(t, Seq(Row(1, "a"), Row(2, "b"))) // v1
    engine.insertValues(t, Seq(Row(3, "c")))              // v2
    val feed = engine.tableChanges(t, 0)
    val got = feed.collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(got == Set((1, "insert", 1L), (2, "insert", 1L),
      (3, "insert", 2L)))
    // the O(delta) law: an append step's feed must come from the
    // recorded delta, not a snapshot diff — no Except in the plan
    assert(!engine.tableChanges(t, 1).queryExecution.optimizedPlan
      .toString.contains("Except"))
    engine.dropTable(t)
  }

  test("tableChanges: DELETE step emits delete rows; empty range is empty") {
    val t = s"cdc_del_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING")
    engine.insertValues(t, Seq(Row(1, "a"), Row(2, "b"), Row(3, "c")))
    engine.deleteFrom(t, col("id") === 2) // v2, row-rewriting
    val feed = engine.tableChanges(t, 1, 2)
    val got = feed.collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("_change_type")))
      .toSet
    assert(got == Set((2, "delete")))
    assert(engine.tableChanges(t, 2, 2).count() == 0) // from == to
    engine.dropTable(t)
  }

  test("tableChanges: invalid and out-of-retention ranges raise") {
    val t = s"cdc_err_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING")
    engine.insertValues(t, Seq(Row(1, "a")))
    intercept[IllegalArgumentException](engine.tableChanges(t, 2, 1))
    intercept[IllegalArgumentException](engine.tableChanges(t, -1))
    intercept[IllegalArgumentException](engine.tableChanges(t, 0, 99))
    engine.dropTable(t)
  }

  test("tableChanges: range spanning ALTER ADD/DROP COLUMN aligns by name") {
    val t = s"cdc_alter_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING")
    engine.insertValues(t, Seq(Row(1, "a")))        // v1 append
    engine.addColumn(t, "score", "INT")             // v2 schema drift
    engine.insertValues(t, Seq(Row(2, "b", 7)))     // v3 append
    engine.dropColumn(t, "name")                    // v4 schema drift
    // the multi-step union spans both drifts: columns absent at a given
    // version read NULL instead of the range throwing AnalysisException
    val feed = engine.tableChanges(t, 0)
    assert(feed.columns.toSet ==
      Set("id", "name", "score", "_change_type", "_commit_version"))
    val byVersion = feed.collect()
      .groupBy(_.getAs[Long]("_commit_version"))
    assert(byVersion(1L).map(_.getAs[String]("_change_type")).toSeq ==
      Seq("insert"))
    // the ADD COLUMN step rewrites no row content: old rows gain a NULL
    // column, which the aligned diff reads as delete+insert of row 1
    assert(byVersion(3L).exists(r => r.getAs[Int]("id") == 2 &&
      r.getAs[String]("_change_type") == "insert"))
    assert(byVersion.keySet.contains(4L)) // DROP step resolves too
    engine.dropTable(t)
  }

  test("tableChanges with idColumns: UPDATE-shaped MERGE emits O(delta) " +
      "pre/postimage rows off one key join") {
    val t = s"cdc_id_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING")
    engine.insertValues(t, Seq(Row(1, "a"), Row(2, "b"), Row(3, "c")))
    // UPDATE-shaped MERGE: touch row 2 only, insert row 4
    import scala.jdk.CollectionConverters._
    engine.mergeInto(t,
      spark.createDataFrame(
        Seq(Row(2, "B"), Row(4, "d")).asJava, engine.table(t).schema),
      Seq("id"))
    val feed = engine.tableChanges(t, 1, 2, idColumns = Seq("id"))
    val got = feed.collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("name"),
        r.getAs[String]("_change_type"))).toSet
    // only the changed rows surface — the untouched 1/3 never appear
    assert(got == Set(
      (2, "b", "update_preimage"), (2, "B", "update_postimage"),
      (4, "d", "insert")))
    // plan law: the id-join path must not full-row-hash diff (Except);
    // its one join shuffles on the identity key alone
    assert(!feed.queryExecution.optimizedPlan.toString.contains("Except"))
    intercept[IllegalArgumentException](
      engine.tableChanges(t, 1, 2, idColumns = Seq("id", "nope")))
    engine.dropTable(t)
  }

  test("compact materializes the COW chain: plan depth resets, values " +
      "and history survive") {
    val t = s"cmp_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING")
    (1 to 8).foreach(i => engine.insertValues(t, Seq(Row(i, s"r$i"))))
    val before = engine.table(t).queryExecution.analyzed
    assert(before.collect { case u: org.apache.spark.sql.catalyst
        .plans.logical.Union => u }.nonEmpty,
      "pre-compaction plan should carry the append chain")
    val preRows = engine.table(t).collect().map(_.toString).toSet
    engine.compact(t, 2)
    val after = engine.table(t).queryExecution.analyzed
    // the live plan is now a plain scan: no Union layer survives
    assert(after.collect { case u: org.apache.spark.sql.catalyst
        .plans.logical.Union => u }.isEmpty,
      s"compaction did not collapse the plan:\n$after")
    assert(engine.table(t).collect().map(_.toString).toSet == preRows)
    assert(engine.table(t).rdd.getNumPartitions == 2)
    // retained history still addresses the pre-compaction snapshot
    assert(engine.tableAt(t, 1).count() == 8)
    engine.dropTable(t)
  }

  test("CDC replay law: folding the feed over ANY base snapshot " +
      "reconstructs the target snapshot exactly") {
    import scala.jdk.CollectionConverters._
    val t = s"cdc_law_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING")
    def schema = engine.table(t).schema
    // a deterministic mixed DML history: appends, a delete, an
    // update-shaped merge, a COMPACTION (OPTIMIZE — rewrites every file
    // but changes no row: its feed step must be empty), another append
    engine.insertValues(t, Seq(Row(1, "a"), Row(2, "b"), Row(3, "c"))) // v1
    engine.deleteFrom(t, col("id") === 2)                              // v2
    engine.mergeInto(t, spark.createDataFrame(
      Seq(Row(3, "C"), Row(4, "d")).asJava, schema), Seq("id"))        // v3
    engine.compact(t, 2)                                               // v4
    engine.insertValues(t, Seq(Row(5, "e"), Row(5, "e")))              // v5
    val cur = engine.currentVersion(t)
    val compactV = cur - 1
    assert(engine.tableChanges(t, compactV - 1, compactV).count() == 0,
      "a compaction commit must contribute ZERO change rows")
    def multiset(rows: Seq[String]): Map[String, Int] =
      rows.groupBy(identity).view.mapValues(_.size).toMap
    def snap(v: Long): Map[String, Int] = multiset(
      engine.tableAtVersion(t, v).collect()
        .map(r => s"${r.get(0)}|${r.get(1)}").toSeq)
    for (from <- 0L to cur; to <- from to cur) {
      val feed = engine.tableChanges(t, from, to).collect()
      var state = snap(from)
      feed.sortBy(_.getAs[Long]("_commit_version")).foreach { r =>
        val key = s"${r.get(0)}|${r.get(1)}"
        r.getAs[String]("_change_type") match {
          case "insert" => state = state.updated(key,
            state.getOrElse(key, 0) + 1)
          case "delete" =>
            val n = state.getOrElse(key, 0) - 1
            state = if (n <= 0) state - key else state.updated(key, n)
        }
      }
      assert(state == snap(to),
        s"replay [$from -> $to] diverged: got $state, want ${snap(to)}")
    }
    engine.dropTable(t)
  }

  test("tableChanges with a COMPOSITE identity key (lineitem-class " +
      "tables) classifies on the full key") {
    import scala.jdk.CollectionConverters._
    val t = s"cdc_comp_${System.nanoTime()}"
    engine.createTable(t, "k1 INT, k2 INT, v STRING")
    engine.insertValues(t, Seq(Row(1, 1, "a"), Row(1, 2, "b"), Row(2, 1, "c")))
    // update (1,2) only — rows sharing k1 must NOT collide
    engine.mergeInto(t,
      spark.createDataFrame(Seq(Row(1, 2, "B")).asJava, engine.table(t).schema),
      Seq("k1", "k2"))
    val v = engine.currentVersion(t)
    val got = engine.tableChanges(t, v - 1, v,
      idColumns = Seq("k1", "k2")).collect()
      .map(r => (r.getAs[Int]("k1"), r.getAs[Int]("k2"),
        r.getAs[String]("v"), r.getAs[String]("_change_type"))).toSet
    assert(got == Set((1, 2, "b", "update_preimage"),
      (1, 2, "B", "update_postimage")))
    // single-column identity on a composite-key table would misclassify:
    // the guard is the caller declaring the right key, not magic — but a
    // missing column still raises
    intercept[IllegalArgumentException](
      engine.tableChanges(t, v - 1, v, idColumns = Seq("k1", "nope")))
    engine.dropTable(t)
  }

  test("table_changes SQL TVF (Delta-convention inclusive start) " +
      "composes with WHERE and maps to the API feed") {
    val t = s"cdc_sql_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING")
    engine.insertValues(t, Seq(Row(1, "a"), Row(2, "b"))) // v1
    engine.deleteFrom(t, col("id") === 1)                 // v2
    // Delta convention: start is INCLUSIVE → start=1 covers v1..current
    val all = engine.sql(s"SELECT * FROM table_changes('$t', 1)")
      .collect().map(r => (r.getAs[Int]("id"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
      .toSet
    assert(all == Set((1, "insert", 1L), (2, "insert", 1L),
      (1, "delete", 2L)))
    // composes like a relation: WHERE + aggregate over the feed
    val n = engine.sql(s"SELECT count(*) AS n FROM " +
      s"table_changes('$t', 1, 2) WHERE _change_type = 'delete'")
      .head().getLong(0)
    assert(n == 1L)
    // idColumn variant routes through the key-join path
    val upd = engine.sql(
      s"SELECT * FROM table_changes('$t', 2, 2, 'id')")
      .collect().map(_.getAs[String]("_change_type")).toSet
    assert(upd == Set("delete"))
    // ... and to nested SELECTs
    SqlRouterSpec.nestedSelectLaw(engine,
      s"SELECT id, _change_type, _commit_version FROM table_changes('$t', 1)")
    intercept[IllegalArgumentException](
      engine.sql("SELECT * FROM table_changes('no_such_table', 1)"))
    intercept[IllegalArgumentException](
      engine.sql(s"SELECT * FROM table_changes('$t')"))
    // Delta's inclusive start=0 reaches the CREATION commit: a
    // CTAS-style table's initial rows surface as _commit_version 0
    // inserts (the round-9 gap: start=0 used to throw)
    val t0 = s"cdc_sql0_${System.nanoTime()}"
    import spark.implicits._
    engine.createTableAs(t0, Seq((10, "x"), (11, "y")).toDF("id", "name"))
    engine.insertValues(t0, Seq(Row(12, "z"))) // v1
    val fromZero = engine.sql(s"SELECT * FROM table_changes('$t0', 0)")
      .collect().map(r => (r.getAs[Int]("id"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
      .toSet
    assert(fromZero == Set((10, "insert", 0L), (11, "insert", 0L),
      (12, "insert", 1L)))
    // explain sees the TVF through the same rewrite sql() uses
    val expRow = engine.explain(
      s"SELECT count(*) AS n FROM table_changes('$t0', 0)").head()
    assert(expRow.getAs[String]("merge_strategy") != null)
    engine.dropTable(t0)
    engine.dropTable(t)
  }

  test("tableChanges idColumns guard: a duplicate identity key raises " +
      "at execution instead of emitting a corrupt fanned-out feed") {
    val t = s"cdc_dup_${System.nanoTime()}"
    engine.createTable(t, "id INT, v STRING")
    engine.insertValues(t, Seq(Row(1, "a"), Row(1, "b"), Row(2, "c"))) // v1
    engine.deleteFrom(t, col("v") === "a")                             // v2
    val ex = intercept[Exception](
      engine.tableChanges(t, 1, 2, idColumns = Seq("id")).collect())
    assert(Option(ex.getMessage).exists(_.contains("not unique")),
      s"wrong failure: $ex")
    // the default multiset path handles duplicate keys correctly
    val feed = engine.tableChanges(t, 1, 2).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))).toSet
    assert(feed == Set((1, "a", "delete")))
    engine.dropTable(t)
  }

  test("compact artifact lifecycle: ONE static exit hook; prior " +
      "artifacts reclaimed once no retained snapshot reads them") {
    val t = s"cmp_rec_${System.nanoTime()}"
    engine.createTable(t, "id INT")
    engine.insertValues(t, Seq(Row(0)))
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def artifacts = Option(tmp.listFiles).getOrElse(Array.empty)
      .filter(_.getName.startsWith(
        s"graft_compact_${ProcessHandle.current.pid}_${t}_"))
    engine.compact(t, 1)
    assert(artifacts.length == 1)
    val first = artifacts.head
    // every retained snapshot still layers over the first artifact's
    // scan → a second compaction must NOT delete it yet
    (1 to Engine.MaxVersions + 1).foreach(i =>
      engine.insertValues(t, Seq(Row(i))))
    engine.compact(t, 1)
    assert(artifacts.length == 2, "live artifact was reclaimed early")
    assert(first.exists())
    // push the first artifact's readers out of the retention window:
    // now every retained plan roots at the second artifact
    (1 to Engine.MaxVersions + 1).foreach(i =>
      engine.insertValues(t, Seq(Row(100 + i))))
    engine.compact(t, 1)
    assert(!first.exists(),
      "unreferenced compaction artifact was not reclaimed")
    assert(engine.table(t).count() == 1 + 2 * (Engine.MaxVersions + 1))
    // DROP restarts history → everything reclaimable
    engine.dropTable(t)
    assert(artifacts.isEmpty,
      "dropTable left compaction artifacts on disk")
  }

  test("ASOF JOIN SQL spelling (DuckDB syntax) matches the composed as-of") {
    val engine = Engine(spark)
    engine.registerTable("ev_asof", graft.Tables.t(spark, sf, "events"))
    val viaSql = engine.sql(
      """SELECT e.event_id, s.ts AS signup_ts
        |FROM (SELECT * FROM ev_asof WHERE event_type = 'error') e
        |ASOF JOIN (SELECT * FROM ev_asof WHERE event_type = 'signup') s
        |ON e.user_id = s.user_id AND e.ts >= s.ts""".stripMargin)
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    val composed = SparkEntry.queries("q58_asof_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    assert(viaSql.nonEmpty && viaSql == composed)
    engine.unregisterTable("ev_asof")
  }

  test("persisted BPE tokenizer: train once, encode many, merges frozen") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val t = s"bpe_docs_${System.nanoTime()}"
    val idx = s"bpe_tok_${System.nanoTime()}"
    engine.registerTable(t, s"$sf/documents.parquet")
    val learned = engine.trainTokenizer(idx, t, numMerges = 64)
    assert(learned > 0 && learned <= 64)
    assert(engine.tableExists(s"${idx}_merges"))
    assert(engine.indexes.filter(col("index_name") === idx).count() == 1)
    // stored merges reproduce the direct in-memory training exactly
    val direct = graft.operators.BpeOps.train(
      engine.table(t).select("text"), numMerges = 64)
    val stored = engine.table(s"${idx}_merges").collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap
    assert(stored == direct.ranks)
    // one-pass encode under the frozen merges: conservation law holds
    val enc = engine.tokenize(idx, t)
    val agg = enc.agg(
      fsum(col("token_chars")).as("tc"),
      fsum(col("word_chars")).as("wc"),
      fsum(col("n_tokens")).as("nt"),
      fsum(col("n_words")).as("nw")).head()
    assert(agg.getLong(0) == agg.getLong(1), "tokens dropped characters")
    assert(agg.getLong(2) >= agg.getLong(3) && agg.getLong(2) <= agg.getLong(0))
    // day-2 rows are encoded by the SAME merges — no silent retrain:
    // token accounting for old rows is unchanged after an insert
    val before = enc.agg(fsum(col("n_tokens"))).head().getLong(0)
    engine.insertInto(t, engine.table(t).limit(7))
    val after = engine.tokenize(idx, t)
      .agg(fsum(col("n_tokens"))).head().getLong(0)
    assert(after > before)
    assert(stored == engine.table(s"${idx}_merges").collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap)
    // missing tokenizer raises like any other index
    val ex = intercept[IllegalArgumentException](
      engine.tokenize("no_such_tok", t))
    assert(ex.getMessage.contains("does not exist"))
    engine.dropIndex(idx)
    Seq(t, s"${idx}_merges").foreach(engine.unregisterTable)
  }

  test("NB classifier lifecycle: persisted model; classify ≡ q181's " +
      "join-path verdicts; FROZEN under DML; missing model raises") {
    val t = s"clf_docs_${System.nanoTime()}"
    val clf = s"clf_${System.nanoTime()}"
    engine.registerTable(t, s"$sf/documents.parquet")
    val vocab = engine.trainClassifier(clf, t)
    assert(vocab > 0)
    // two independent scoring paths over the same model math: the
    // codegen'd NbScoreExpr (engine.classify and q181 both serve it)
    // vs the retired explode → broadcast-join → integer-argmax
    // formulation (nbClassifyJoin, kept exactly for this audit) —
    // verdicts and scores must agree row-for-row
    val viaEngine = engine.classify(clf, t).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val viaQ181 = SparkEntry.queries("q181_nb_classifier")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(viaEngine == viaQ181, "classify diverged from q181's path")
    val viaJoin = graft.operators.CurationOps.nbClassifyJoin(
        graft.Tables.t(spark, sf, "documents")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(viaEngine == viaJoin,
      "expression path diverged from the explode-join audit twin")
    // frozen: inserting day-2 docs must not move the persisted model,
    // and classify must score the NEW rows under the OLD model
    val modelBefore = engine.table(s"${clf}_model").collect().toSet
    engine.insertInto(t, engine.table(t).limit(3)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    assert(engine.table(s"${clf}_model").collect().toSet == modelBefore)
    val after = engine.classify(clf, t)
    assert(after.count() == viaEngine.size + 3)
    // the day-2 copies carry day-1 texts → identical verdicts
    val shifted = after.filter(col("doc_id") >= 1000000L).collect()
      .map(r => (r.getLong(0) - 1000000L) -> ((r.getString(1), r.getLong(2))))
    shifted.foreach { case (id, v) => assert(viaEngine(id) == v) }
    val ex = intercept[IllegalArgumentException](
      engine.classify("no_such_clf", t))
    assert(ex.getMessage.contains("does not exist"))
    Seq(t, s"${clf}_model").foreach(engine.unregisterTable)
  }

  test("COUNT(*) fast path: footer fold, filter bypass, DML invalidation") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val tn = s"fc_li_${System.nanoTime()}"
    engine.registerTable(tn, s"$sf/lineitem.parquet")
    val real = spark.read.parquet(s"$sf/lineitem.parquet").count()
    // bare count folds to a LocalRelation — metadata, no scan
    val fast = engine.sql(s"SELECT count(*) FROM $tn")
    assert(castToImpl(fast).queryExecution.analyzed.isInstanceOf[LocalRelation],
      "bare COUNT(*) did not fold to the footer count")
    assert(fast.head().getLong(0) == real)
    // an alias keeps the fold and the user's column name
    val aliased = engine.sql(s"SELECT count(*) AS n FROM $tn")
    assert(aliased.columns.sameElements(Array("n")))
    assert(aliased.head().getLong(0) == real)
    // integer MIN/MAX (and mixes with count) fold too, exactly
    val mm = engine.sql(s"SELECT min(l_orderkey) AS lo, " +
      s"max(l_orderkey) AS hi, count(*) AS n FROM $tn")
    assert(castToImpl(mm).queryExecution.analyzed.isInstanceOf[LocalRelation],
      "min/max/count mix did not fold to footer statistics")
    val exp = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(min("l_orderkey"), max("l_orderkey")).head()
    assert(mm.head().getLong(0) == exp.getLong(0))
    assert(mm.head().getLong(1) == exp.getLong(1))
    assert(mm.head().getLong(2) == real)
    // a string column's min never folds (parquet may truncate stats)
    assert(!castToImpl(engine.sql(
      s"SELECT min(l_returnflag) FROM $tn")).queryExecution.analyzed
      .isInstanceOf[LocalRelation])
    // a WHERE clause disqualifies the fold and still answers exactly
    val filtered = engine.sql(
      s"SELECT count(*) FROM $tn WHERE l_quantity > 25")
    assert(!castToImpl(filtered).queryExecution.analyzed
      .isInstanceOf[LocalRelation])
    assert(filtered.head().getLong(0) ==
      spark.read.parquet(s"$sf/lineitem.parquet")
        .filter("l_quantity > 25").count())
    // DML re-registers the lineage without the footer counter: the
    // count must follow the mutation, not the stale file metadata
    engine.insertInto(tn, engine.table(tn).limit(5))
    val after = engine.sql(s"SELECT count(*) FROM $tn")
    assert(after.head().getLong(0) == real + 5)
    engine.unregisterTable(tn)
  }

  test("footer statistics survive partitioned and empty layouts") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // 1) Hive-partitioned (partitionBy) tree — the repo's own sink
    // shape: the recursive lister must find the nested part files, so
    // the footer count is the REAL count, never a silent 0
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_part")
      .toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.write.mode("overwrite").partitionBy("lang").parquet(s"$dir/docs")
    val tn = s"fs_part_${System.nanoTime()}"
    engine.registerTable(tn, s"$dir/docs")
    val real = docs.count()
    val cnt = engine.sql(s"SELECT count(*) FROM $tn")
    assert(castToImpl(cnt).queryExecution.analyzed.isInstanceOf[LocalRelation],
      "partitioned layout did not fold COUNT(*) to footer metadata")
    assert(cnt.head().getLong(0) == real)
    // data-column min/max still folds exactly across partition dirs
    val mm = engine.sql(
      s"SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM $tn")
    assert(castToImpl(mm).queryExecution.analyzed.isInstanceOf[LocalRelation])
    val exp = docs.agg(min("doc_id"), max("doc_id")).head()
    assert(mm.head().getLong(0) == exp.getLong(0))
    assert(mm.head().getLong(1) == exp.getLong(1))
    // a PARTITION column's min/max lives in directory names, not
    // footers — must fall back to the scan, not fold garbage
    assert(!castToImpl(engine.sql(s"SELECT min(lang) FROM $tn"))
      .queryExecution.analyzed.isInstanceOf[LocalRelation])
    engine.unregisterTable(tn)
    // 2) empty table (a zero-row part file): min/max must answer NULL
    // through the scan fallback instead of crashing the fold
    docs.select(col("doc_id")).limit(0)
      .write.mode("overwrite").parquet(s"$dir/empty")
    val te = s"fs_empty_${System.nanoTime()}"
    engine.registerTable(te, s"$dir/empty")
    val r = engine.sql(
      s"SELECT min(doc_id) AS lo, max(doc_id) AS hi, count(*) AS n " +
        s"FROM $te").head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 0L)
    engine.unregisterTable(te)
  }

  test("footer lister stops the hidden walk AT the table root: a " +
      "dot-dir ancestor of the root never hides the data") {
    import graft.operators.FooterStats
    val tmp = java.nio.file.Files.createTempDirectory("graft_fs14")
      .toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the table itself lives under a '.'-prefixed ancestor (~/.cache
    // shape); only segments STRICTLY BELOW the root are writer metadata
    val hiddenRoot = s"$tmp/.cache/tbl"
    docs.write.mode("overwrite").parquet(hiddenRoot)
    assert(FooterStats.parquetFiles(spark, hiddenRoot).nonEmpty,
      "dot-dir ancestor of the table root hid every data file")
    assert(FooterStats.rowCount(spark, hiddenRoot).contains(docs.count()))
    // …while a metadata dir BELOW the root still skips
    docs.limit(7).write.mode("overwrite")
      .parquet(s"$hiddenRoot/_temporary_copy")
    assert(FooterStats.rowCount(spark, hiddenRoot).contains(docs.count()),
      "'_'-prefixed subdir below the root leaked into the count")
  }

  test("distributed footer reads carry the SESSION Hadoop conf to the " +
      "executors (object-store shape: fs bindings live in that conf)") {
    import graft.operators.FooterStats
    val tmp = java.nio.file.Files.createTempDirectory("graft_fs14d")
      .toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/plain")
    // address the single part FILE directly: RawLocalFileSystem cannot
    // serve directory listings under a foreign scheme, and the point
    // here is the footer OPEN on the executors, not the listing
    val part = new java.io.File(s"$tmp/plain").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.head
    // a filesystem scheme registered ONLY in the session conf: the
    // DISTRIBUTED branch (forced via distributeAbove = 0) can only
    // resolve it if the session conf actually ships into the executor
    // closure — a bare `new Configuration()` there fails with
    // "No FileSystem for scheme: probe"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.probe.impl", classOf[ProbeFileSystem].getName)
    hc.set("fs.probe.impl.disable.cache", "true")
    try {
      val viaProbe = s"probe://$tmp/plain/$part"
      val n = FooterStats.rowCount(spark, viaProbe, distributeAbove = 0)
      assert(n.contains(docs.count()),
        "distributed footer count lost the session Hadoop conf")
      val ts = FooterStats.tableStats(spark, viaProbe, Seq("doc_id"),
        distributeAbove = 0)
      val exp = docs.agg(min("doc_id"), max("doc_id")).head()
      assert(ts.exists { case (rows, mm) =>
        rows == docs.count() &&
          mm("doc_id") == ((exp.getLong(0), exp.getLong(1)))
      }, "distributed tableStats lost the session Hadoop conf")
    } finally {
      hc.unset("fs.probe.impl")
      hc.unset("fs.probe.impl.disable.cache")
    }
  }

  // ---- one query path: GraftExtensions owns graft's SQL surface --------

  test("one-path law: engine.sql(q) and plain spark.sql(q) on the " +
      "engine's session give the same optimized plan and rows for every " +
      "non-routed SELECT graft changes") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val engine = Engine(spark) // the session's serving engine
    val id = System.nanoTime()
    val li = s"op_li_$id"
    engine.registerTable(li, s"$sf/lineitem.parquet")
    val base = s"op_mv_base_$id"
    val mv = s"op_mv_$id"
    engine.registerTable(base, spark.range(0L, 2000L)
      .select((col("id") % 7).as("g"), col("id").cast("double").as("x")))
    engine.createMaterializedAggregate(mv, base, dims = Seq("g"),
      measures = Seq("x"),
      path = s"${sys.props("java.io.tmpdir")}/graft_test_mv_$id")
    val ty = s"op_mood_$id"
    val et = s"op_enum_$id"
    engine.sql(s"CREATE TYPE $ty AS ENUM ('happy', 'sad', 'neutral')")
    engine.sql(s"CREATE TABLE $et (id INTEGER, m $ty)")
    engine.sql(s"INSERT INTO $et VALUES (1, 'sad'), (2, 'happy'), " +
      "(3, 'neutral')")                                   // v1
    engine.sql(s"DELETE FROM $et WHERE id = 3")           // v2
    val ev = s"op_ev_$id"
    engine.registerTable(ev, graft.Tables.t(spark, sf, "events"))
    val cu = s"op_cu_$id"
    val na = s"op_na_$id"
    engine.registerTable(cu, s"$sf/customer.parquet")
    engine.registerTable(na, s"$sf/nation.parquet")
    val corpus = Seq(
      s"SELECT count(*) AS n, max(l_orderkey) AS hi FROM $li",
      s"SELECT g, sum(x) AS s, count(*) AS n FROM $base GROUP BY g",
      s"SELECT m FROM $et ORDER BY m",
      s"SELECT min(m) AS lo, max(m) AS hi FROM $et",
      s"SELECT id, m FROM $et VERSION AS OF 1",
      s"SELECT id, _change_type, _commit_version " +
        s"FROM table_changes('$et', 1)",
      "SELECT count(*) AS n FROM graft_probe_stats()",
      "SELECT hex('\\xAA\\xBB'::BLOB) AS h",
      s"""SELECT e.event_id, s.ts AS signup_ts
         |FROM (SELECT * FROM $ev WHERE event_type = 'error') e
         |ASOF JOIN (SELECT * FROM $ev WHERE event_type = 'signup') s
         |ON e.user_id = s.user_id AND e.ts >= s.ts""".stripMargin,
      // the reference's attached-database spelling (`dh.t`)
      s"SELECT id, m FROM dh.$et ORDER BY m",
      s"SELECT id, m FROM dh.$et VERSION AS OF 1",
      s"SELECT id, _change_type, _commit_version " +
        s"FROM table_changes('dh.$et', 1)",
      s"SELECT count(*) AS n FROM dh.$li",
      s"SELECT l_orderkey, l_quantity FROM dh.$li " +
        "WHERE l_quantity BETWEEN 10 AND 12",
      s"SELECT n_name, count(*) AS n FROM dh.$cu " +
        s"JOIN dh.$na ON c_nationkey = n_nationkey GROUP BY n_name")
    corpus.foreach { q =>
      val viaEngine = engine.sql(q)
      val viaSpark = engine.spark.sql(q)
      val pe = castToImpl(viaEngine).queryExecution.optimizedPlan
      val ps = castToImpl(viaSpark).queryExecution.optimizedPlan
      assert(pe.sameResult(ps),
        s"plans differ for: $q\nengine.sql:\n$pe\nspark.sql:\n$ps")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(viaEngine) == rows(viaSpark), s"rows differ for: $q")
    }
    // the corpus exercises the rewrites, not just agreement: the
    // footer fold, the MV partials and declaration order all show
    val fold = castToImpl(spark.sql(corpus.head)).queryExecution.analyzed
    assert(fold.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(castToImpl(spark.sql(corpus(1))).queryExecution.optimizedPlan
      .toString.contains("sum_x"))
    assert(spark.sql(corpus(2)).collect().map(_.getString(0)).toSeq ==
      Seq("happy", "sad"))
    engine.dropTable(mv); engine.dropTable(base); engine.dropTable(et)
    Seq(li, ev, cu, na).foreach(engine.unregisterTable)
  }

  /** The write one-path script on table names prefixed `p`: every
    * routed verb family. SELECTs check contents mid-script, and callers
    * compare the tables at the end (the copy-on-write lineage makes
    * per-statement reads slow). */
  private def writeScript(p: String, dir: String): Seq[String] = Seq(
    s"CREATE TYPE ${p}_mood AS ENUM ('sad', 'ok')",
    s"CREATE TABLE ${p}_t (id INT, v INT, tag STRING)",
    s"CREATE TABLE ${p}_s (id INT, v INT)",
    s"INSERT INTO ${p}_t VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, NULL)",
    s"INSERT INTO ${p}_s VALUES (1, 100), (4, 400)",
    s"INSERT INTO ${p}_t (id, v) VALUES (5, 50) RETURNING id, tag",
    s"UPDATE ${p}_t SET v = v + 1 WHERE id <= 2",
    s"UPDATE ${p}_t SET v = s.v FROM ${p}_s s WHERE ${p}_t.id = s.id " +
      "RETURNING id, v",
    s"DELETE FROM ${p}_t WHERE id = 5",
    s"MERGE INTO ${p}_t AS t USING ${p}_s AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v + 1 " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)",
    s"MERGE INTO ${p}_s AS t USING (SELECT id, v * 2 AS v FROM ${p}_s) " +
      "AS s ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *",
    s"CREATE INDEX ${p}_ix ON ${p}_t (id)",
    s"INSERT INTO ${p}_t VALUES (1, 7, 'c'), (6, 60, 'f') " +
      "ON CONFLICT (id) DO UPDATE SET v = excluded.v",
    s"INSERT OR IGNORE INTO ${p}_t VALUES (2, 0, 'x'), (7, 70, 'g')",
    s"INSERT OR REPLACE INTO ${p}_t VALUES (2, 22, 'r')",
    s"DELETE FROM ${p}_t USING ${p}_s s WHERE ${p}_t.id = s.id " +
      "AND s.v > 700",
    // the reference's attached-database spelling (`dh.t`)
    s"INSERT INTO dh.${p}_t VALUES (9, 90, 'd')",
    s"UPDATE dh.${p}_t SET v = v + 1 WHERE id = 9",
    s"MERGE INTO dh.${p}_t AS t USING ${p}_s AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET tag = 'm'",
    s"DELETE FROM dh.${p}_t WHERE id = 9",
    s"SELECT * FROM ${p}_t",
    s"OPTIMIZE ${p}_t INTO 1 FILES",
    s"ALTER TABLE ${p}_t ADD COLUMN w INT DEFAULT 7",
    s"ALTER TABLE ${p}_t ALTER COLUMN w SET DEFAULT 8",
    s"INSERT INTO ${p}_t (id) VALUES (8)",
    s"ALTER TABLE ${p}_t ALTER COLUMN w TYPE BIGINT",
    s"ALTER TABLE ${p}_t RENAME COLUMN w TO w2",
    s"SELECT * FROM ${p}_t",
    s"ALTER TABLE ${p}_t DROP COLUMN w2",
    s"CREATE MATERIALIZED VIEW ${p}_mv AS SELECT tag, sum(v) AS sv " +
      s"FROM ${p}_t GROUP BY tag",
    s"REFRESH MATERIALIZED VIEW ${p}_mv",
    s"SELECT * FROM ${p}_mv",
    s"DROP MATERIALIZED VIEW ${p}_mv",
    s"CREATE TABLE ${p}_c AS SELECT id, v FROM ${p}_t WHERE id < 4",
    s"ALTER TABLE ${p}_c RENAME TO ${p}_c2",
    s"SELECT * FROM ${p}_c2",
    s"TRUNCATE TABLE ${p}_c2",
    s"SELECT * FROM ${p}_c2",
    s"DROP TABLE ${p}_c2",
    s"COPY ${p}_t TO '$dir/${p}_t.parquet'",
    s"CREATE TABLE ${p}_back (id INT, v INT, tag STRING)",
    s"COPY ${p}_back FROM '$dir/${p}_t.parquet'",
    s"COPY (SELECT id FROM ${p}_t WHERE id > 1) TO '$dir/${p}_q.parquet'",
    s"CREATE TABLE ${p}_docs (doc_id BIGINT, text STRING)",
    s"INSERT INTO ${p}_docs VALUES (1, 'alpha beta'), (2, 'beta gamma')",
    s"CREATE TEXT INDEX ${p}_tix ON ${p}_docs (text)",
    s"INSERT INTO ${p}_docs VALUES (3, 'gamma gamma')",
    s"REFRESH TEXT INDEX ${p}_tix",
    s"OPTIMIZE TEXT INDEX ${p}_tix",
    s"DROP INDEX ${p}_ix",
    s"EXPORT DATABASE '$dir/${p}_db'",
    s"DROP TYPE ${p}_mood")

  test("write one-path law: every routed verb family through plain " +
      "spark.sql on the serving engine's session ≡ engine.sql on a " +
      "scratch engine's identical copy") {
    val serving = Engine(spark)
    val scratch = Engine.scratch(spark)
    val id = System.nanoTime()
    val dir = java.nio.file.Files.createTempDirectory("graft_w1p").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val a = s"w1p_a_$id"
    val b = s"w1p_b_$id"
    writeScript(a, dir).zip(writeScript(b, dir)).foreach { case (qa, qb) =>
      // plain Spark on the session acts for its serving engine …
      val viaSpark = rows(spark.sql(qa))
      // … and engine.sql for the engine it is called on
      assert(viaSpark == rows(scratch.sql(qb)), s"result rows differ for: $qa")
    }
    Seq("t", "s", "back", "docs", "tix_postings").foreach { x =>
      assert(rows(serving.table(s"${a}_$x")) == rows(scratch.table(s"${b}_$x")),
        s"table ${a}_$x differs")
    }
    // each statement acted on its own engine's registry only
    assert(serving.tableNames.forall(!_.startsWith(b)))
    assert(scratch.tableNames.forall(!_.startsWith(a)))
    assert(serving.tableExists(s"${a}_t") && scratch.tableExists(s"${b}_t"))
    Seq(serving -> a, scratch -> b).foreach { case (e, p) =>
      e.tableNames.filter(_.startsWith(p)).foreach(e.unregisterTable)
    }
  }

  test("catalog law: the write script's verb families, q159 and q197 " +
      "leave no session temp view named like an engine table") {
    val serving = Engine(spark)
    val id = System.nanoTime()
    val dir = java.nio.file.Files.createTempDirectory("graft_ntv").toString
    val p = s"ntv_$id"
    writeScript(p, dir).foreach(q => spark.sql(q).collect())
    // the DmlOps queries build their tables on scratch engines
    Seq("q159_matview_agg", "q197_export_import").foreach(q =>
      SparkEntry.queries(q)(spark, sf).collect())
    val engineTables = (serving.tableNames ++ Seq("graft_mv_lineitem",
      "graft_mv_li_agg", "graft_exp_nation", "graft_exp_meta"))
      .map(_.toLowerCase).toSet
    val leaked = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && engineTables(t.name.toLowerCase))
    assert(leaked.isEmpty, leaked.map(_.name).mkString(", "))
    serving.tableNames.filter(_.startsWith(p)).foreach(serving.unregisterTable)
  }

  test("precedence law: an engine table beats a same-named warehouse " +
      "table for reads, as it does for writes; a CTE beats the engine " +
      "table") {
    val engine = Engine(spark)
    val t = s"prec_${System.nanoTime()}"
    spark.range(100).selectExpr("id").write.saveAsTable(t)
    try {
      engine.registerTable(t, spark.range(10).selectExpr("id"))
      def n(df: org.apache.spark.sql.DataFrame) = df.head().getLong(0)
      Seq[String => org.apache.spark.sql.DataFrame](spark.sql, engine.sql)
        .foreach { run =>
          assert(n(run(s"SELECT count(*) FROM $t")) == 10L)
          assert(n(run(s"WITH $t AS (SELECT 1 AS id) " +
            s"SELECT count(*) FROM $t")) == 1L)
        }
      assert(spark.table(t).count() == 10L)
      spark.sql(s"INSERT INTO $t VALUES (10)")
      assert(engine.table(t).count() == 11L)
      // a qualified warehouse name stays Spark's
      assert(spark.table(s"spark_catalog.default.$t").count() == 100L)
    } finally {
      engine.unregisterTable(t)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("DESCRIBE law: an engine table describes as its columns, " +
      "spelled t or dh.t") {
    val engine = Engine(spark)
    val t = s"desc_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, name STRING, amount DOUBLE)")
    val want = Seq("[id,int,null]", "[name,string,null]",
      "[amount,double,null]")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(spark.sql(s"DESCRIBE $t").columns.toSeq ==
      Seq("col_name", "data_type", "comment"))
    Seq(s"DESCRIBE $t", s"DESCRIBE TABLE $t", s"DESCRIBE dh.$t").foreach { q =>
      assert(rows(spark.sql(q)) == want, q)
      assert(rows(engine.sql(q)) == want, q)
    }
    engine.dropTable(t)
  }

  test("lifetime law: a scratch engine that ran CREATE, INSERT and " +
      "SELECT is collected once nothing reaches it") {
    def run(): java.lang.ref.WeakReference[Engine] = {
      val e = Engine.scratch(spark)
      val t = s"life_${System.nanoTime()}"
      e.sql(s"CREATE TABLE $t (id INT)")
      e.sql(s"INSERT INTO $t VALUES (1), (2)")
      assert(e.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2L)
      new java.lang.ref.WeakReference(e)
    }
    val ref = run()
    org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
    var tries = 0
    while (ref.get != null && tries < 20) {
      System.gc(); Thread.sleep(100); tries += 1
    }
    assert(ref.get == null, "an unreachable scratch engine stayed reachable")
  }

  test("Spark catalog DDL stays Spark's: warehouse tables drop and " +
      "rename through spark.sql on the engine's session; a newSession() " +
      "clone gets plain Spark for every verb") {
    val engine = Engine(spark)
    val id = System.nanoTime()
    val wh = s"wh_tbl_$id"
    val et = s"wh_eng_$id"
    spark.range(3).selectExpr("id", "id * 2 AS v").write.saveAsTable(wh)
    engine.registerTable(et, spark.range(3).selectExpr("id", "id * 2 AS v"))
    spark.sql(s"ALTER TABLE $wh RENAME TO ${wh}_r")
    assert(spark.catalog.tableExists(s"${wh}_r"))
    assert(!engine.tableExists(s"${wh}_r"))
    spark.sql(s"ALTER TABLE ${wh}_r SET TBLPROPERTIES ('k' = 'v')")
    spark.sql(s"DROP TABLE IF EXISTS ${wh}_r")
    assert(!spark.catalog.tableExists(s"${wh}_r"))
    assert(engine.table(et).count() == 3, "engine table touched")
    // a name neither side knows keeps the engine's catalog error
    assert(intercept[IllegalArgumentException](
      spark.sql(s"TRUNCATE TABLE no_such_$id")).getMessage
      .contains("Catalog Error"))
    // a clone has no engine: its DML is Spark's own, even on a name the
    // serving engine owns (Spark cannot update a temp view)
    val clone = spark.newSession()
    clone.range(3).selectExpr("id", "id * 2 AS v")
      .createOrReplaceTempView("clone_view")
    Seq(s"DELETE FROM clone_view WHERE id = 1",
      s"UPDATE clone_view SET v = 0",
      s"TRUNCATE TABLE clone_view").foreach { q =>
      val err = intercept[Exception](clone.sql(q))
      assert(!err.isInstanceOf[IllegalArgumentException], q)
    }
    Seq(s"CREATE TYPE clone_mood AS ENUM ('a')", s"OPTIMIZE $et",
      s"COPY $et TO '/nonexistent/x.parquet'").foreach { q =>
      intercept[org.apache.spark.sql.catalyst.parser.ParseException](
        clone.sql(q))
    }
    assert(engine.table(et).count() == 3)
    engine.unregisterTable(et)
  }

  test("engine binding: a scratch engine's SQL rewrites against its own " +
      "catalog while another engine serves the session; a newSession() " +
      "clone gets no rewrite") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val serving = Engine(spark)
    val scratch = Engine.scratch(spark)
    assert(Engine.forSession(spark).contains(serving))
    val id = System.nanoTime()
    val ty = s"bind_mood_$id"
    val t = s"bind_enum_$id"
    scratch.sql(s"CREATE TYPE $ty AS ENUM ('happy', 'sad', 'neutral')")
    scratch.sql(s"CREATE TABLE $t (id INTEGER, m $ty)")
    scratch.sql(s"INSERT INTO $t VALUES (1, 'neutral'), (2, 'sad'), " +
      "(3, 'happy')")
    assert(!serving.tableExists(t))
    // declaration order, not lexical (happy, neutral, sad)
    assert(scratch.sql(s"SELECT m FROM $t ORDER BY m").collect()
      .map(_.getString(0)).toSeq == Seq("happy", "sad", "neutral"))
    assert(scratch.sql(s"SELECT count(*) AS n FROM table_changes('$t', 1)")
      .head().getLong(0) == 3L)
    // the serving engine does not know the scratch table
    intercept[IllegalArgumentException](
      serving.sql(s"SELECT * FROM table_changes('$t', 1)"))
    assert(Engine.forSession(spark).contains(serving))
    scratch.dropTable(t)

    // a clone inherits the extensions but no engine: plain Spark plans
    val li = s"bind_li_$id"
    val base = s"bind_mv_base_$id"
    val mv = s"bind_mv_$id"
    serving.registerTable(li, s"$sf/lineitem.parquet")
    val baseDf = spark.range(0L, 2000L)
      .select((col("id") % 7).as("g"), col("id").cast("double").as("x"))
    serving.registerTable(base, baseDf)
    serving.createMaterializedAggregate(mv, base, dims = Seq("g"),
      measures = Seq("x"),
      path = s"${sys.props("java.io.tmpdir")}/graft_test_mv_$id")
    val countQ = s"SELECT count(*) AS n FROM $li"
    val mvQ = s"SELECT g, sum(x) AS s FROM $base GROUP BY g"
    assert(castToImpl(spark.sql(countQ)).queryExecution.analyzed
      .isInstanceOf[LocalRelation])
    val clone = spark.newSession()
    assert(clone.sessionState.sqlParser.isInstanceOf[GraftParser])
    clone.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView(li)
    clone.range(0L, 2000L)
      .select((col("id") % 7).as("g"), col("id").cast("double").as("x"))
      .createOrReplaceTempView(base)
    val cCount = clone.sql(countQ)
    assert(!castToImpl(cCount).queryExecution.analyzed
      .isInstanceOf[LocalRelation], "footer fold leaked into a clone")
    assert(cCount.head().getLong(0) == serving.table(li).count())
    assert(!castToImpl(clone.sql(mvQ)).queryExecution.optimizedPlan
      .toString.contains("sum_x"), "MV rewrite leaked into a clone")
    serving.dropTable(mv); serving.dropTable(base)
    serving.unregisterTable(li)
  }

  test("post-hoc rule laws: each graft rule is idempotent on its own " +
      "output, and DataFrame-API re-analysis re-runs the rules") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import graft.plans.{EnumOrderRewrite, FooterAggRewrite, MatViewRewrite}
    val engine = Engine(spark)
    val id = System.nanoTime()
    val li = s"idem_li_$id"
    val base = s"idem_mv_base_$id"
    val mv = s"idem_mv_$id"
    val ty = s"idem_mood_$id"
    val t = s"idem_enum_$id"
    engine.registerTable(li, s"$sf/lineitem.parquet")
    engine.registerTable(base, spark.range(0L, 2000L)
      .select((col("id") % 7).as("g"), col("id").cast("double").as("x")))
    engine.createMaterializedAggregate(mv, base, dims = Seq("g"),
      measures = Seq("x"),
      path = s"${sys.props("java.io.tmpdir")}/graft_test_mv_$id")
    engine.sql(s"CREATE TYPE $ty AS ENUM ('happy', 'sad', 'neutral')")
    engine.sql(s"CREATE TABLE $t (id INTEGER, m $ty)")
    engine.sql(s"INSERT INTO $t VALUES (1, 'neutral'), (2, 'sad'), " +
      "(3, 'happy')")
    val rules = Seq("FooterAggRewrite" -> FooterAggRewrite.rewrite _,
      "MatViewRewrite" -> MatViewRewrite.rewrite _,
      "EnumOrderRewrite" -> EnumOrderRewrite.rewrite _)
    Seq(s"SELECT count(*) AS n FROM $li",
      s"SELECT g, sum(x) AS s FROM $base WHERE g < 5 GROUP BY g",
      s"SELECT m FROM $t WHERE m > 'happy' ORDER BY m",
      s"SELECT min(m) AS lo, max(m) AS hi FROM $t")
      .foreach { q =>
        val once = castToImpl(engine.sql(q)).queryExecution.analyzed
        rules.foreach { case (name, rewrite) =>
          assert(rewrite(once, engine) eq once,
            s"$name changed its own output for: $q")
        }
      }
    // DataFrame operators over an engine.sql result are re-analyzed with
    // the rules: a new Sort on the enum column is ranked, the MV rewrite
    // survives a filter, and neither applies twice
    val sorted = engine.sql(s"SELECT id, m FROM $t").orderBy(col("m"))
    assert(sorted.collect().map(_.getString(1)).toSeq ==
      Seq("happy", "sad", "neutral"))
    val filtered = engine.sql(s"SELECT g, sum(x) AS s FROM $base GROUP BY g")
      .filter(col("g") > 3)
    assert(castToImpl(filtered).queryExecution.optimizedPlan.toString
      .contains("sum_x"))
    assert(filtered.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      (0L until 2000L).groupBy(_ % 7).filter(_._1 > 3)
        .map { case (g, xs) => g -> xs.map(_.toDouble).sum })
    assert(castToImpl(engine.sql(s"SELECT count(*) AS n FROM $li")
      .filter(col("n") > 0)).queryExecution.analyzed.collectFirst {
        case l: LocalRelation => l }.isDefined)
    engine.dropTable(t); engine.dropTable(mv); engine.dropTable(base)
    engine.unregisterTable(li)
  }
  test("plan-shape law: a write reads the prior version once (an insert " +
      "clause adds one key-only probe) over 14 mixed writes, and each " +
      "step's rows equal the same statement on a copy materialized from " +
      "parquet") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val dir = java.nio.file.Files.createTempDirectory("graft_shape").toString
    val t = s"shape_${System.nanoTime()}"
    spark.range(1, 21).select(col("id").cast("int").as("id"),
        (col("id") * 10).cast("int").as("v"), lit("b").as("s"))
      .write.parquet(s"$dir/base")
    engine.registerTable(t, s"$dir/base")
    engine.createIndex(s"${t}_ix", t, Seq("id"))
    // merge and join sources are engine tables over one VALUES list
    // each (literal rows) or, for s3, over a range (not literal), so
    // every file scan in the target's plan is a read of its prior
    // version (a source that is itself a union would repeat the source
    // anti-join's target read once per branch)
    val Seq(s1, s2, s3) = Seq(1, 2, 3).map(i => s"${t}_src$i")
    Seq(s1 -> "(1, 100, 'x'), (2, 200, 'y'), (30, 300, 'z')",
        s2 -> "(3, 7, 'p'), (40, 400, 'p')")
      .foreach { case (n, values) => engine.registerTable(n, spark.sql(
        s"SELECT CAST(id AS INT) id, CAST(v AS INT) v, s FROM VALUES $values AS r(id, v, s)")) }
    // (8, 1, 'd'), (80, 2, 'd'), (80, 3, 'd'), (NULL, 4, 'd')
    engine.registerTable(s3, spark.sql("SELECT CAST(CASE id WHEN 0 THEN 8 " +
      "WHEN 3 THEN NULL ELSE 80 END AS INT) id, CAST(id + 1 AS INT) v, " +
      "'d' s FROM range(4)"))
    // (statement, reads of the prior version in the stored plan): one
    // whole-row read each; a column-wise MERGE insert clause over a
    // source that is not literal rows adds the source anti-join's
    // key-only probe, while a literal source's unmatched rows come from
    // its key probe at statement time (ON CONFLICT and INSERT OR
    // REPLACE included) — see EngineDml.mergeIntoColumns
    val script: Seq[(String => String, Int)] = Seq(
      (n => s"INSERT INTO $n VALUES (21, 210, 'i'), (22, 220, 'i')", 1),
      (n => s"UPDATE $n SET v = v + 1, s = 'u' WHERE id % 3 = 0", 1),
      (n => s"UPDATE $n SET v = src.v * 10 FROM $s1 src WHERE $n.id = src.id", 1),
      (n => s"DELETE FROM $n WHERE id = 5", 1),
      (n => s"DELETE FROM $n USING $s1 d WHERE $n.id = d.id AND d.v > 150", 1),
      (n => s"MERGE INTO $n AS t USING $s1 AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *", 1),
      (n => s"MERGE INTO $n AS t USING $s2 AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.v " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)", 1),
      (n => s"MERGE INTO $n AS t USING $s2 AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET s = 'm'", 1),
      (n => s"INSERT INTO $n VALUES (4, 44, 'q'), (50, 500, 'q') " +
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v, s = 'c'", 1),
      (n => s"INSERT INTO $n VALUES (6, 66, 'n'), (60, 600, 'n'), " +
        "(60, 601, 'n2') ON CONFLICT (id) DO NOTHING", 1),
      (n => s"INSERT OR REPLACE INTO $n VALUES (7, 77, 'r'), (70, 700, 'r')", 1),
      // insert-only: repeated and NULL source keys all insert when unmatched
      (n => s"MERGE INTO $n AS t USING $s3 AS s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (s.id, s.v, 'ins')", 2),
      (n => s"UPDATE $n SET s = 'z' WHERE v > 100", 1),
      (n => s"DELETE FROM $n WHERE id = 80 OR id IS NULL", 1))
    def roots(n: String) = castToImpl(engine.table(n)).queryExecution
      .optimizedPlan.collectLeaves().collect { case l: LogicalRelation =>
        l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case other => Seq(other.toString)
        }
      }
    def rows(n: String) = engine.table(n).collect().map(_.toString).sorted.toSeq
    // the one path the table's current version was materialized at
    var root = Seq(s"$dir/base")
    script.zipWithIndex.foreach { case ((stmt, reads), i) =>
      // the copy: the previous step's rows, materialized as a fresh base
      val copy = s"${t}_copy$i"
      engine.table(t).write.parquet(s"$dir/step$i")
      engine.registerTable(copy, s"$dir/step$i")
      engine.createIndex(s"${copy}_ix", copy, Seq("id"))
      val got = engine.sql(stmt(t)).collect().toSeq
      val want = engine.sql(stmt(copy)).collect().toSeq
      assert(got == want, s"step $i result diverges: ${stmt(t)}")
      val leaves = roots(t)
      val wholeRows = scansOf(engine.table(t))
        .count(_.requiredSchema.fieldNames.exists(_ != "id"))
      assert(wholeRows == 1, s"step $i reads whole rows $wholeRows times")
      assert(leaves.size == reads && leaves.forall(_.map(_.stripPrefix(
          "file:")) == root), s"step $i reads ${root.mkString} " +
        s"${leaves.size} times, want $reads: ${stmt(t)} ($leaves)\n" +
        castToImpl(engine.table(t)).queryExecution.optimizedPlan)
      assert(rows(t) == rows(copy), s"step $i rows diverge: ${stmt(t)}")
      engine.dropTable(copy)
      // a probed step is materialized, so the next starts from one read
      if (reads > 1) {
        engine.compact(t)
        root = roots(t).flatten.map(_.stripPrefix("file:"))
        assert(roots(t).size == 1 && root.size == 1, roots(t))
      }
    }
    assert(rows(t).size == 26)
    Seq(t, s1, s2, s3).foreach(engine.dropTable(_))
  }

  test("UPDATE of degraded-carry and constrained columns: the canonical " +
      "values of an INSERT, and rejected writes leave table and version") {
    val p = s"upd_carry_${System.nanoTime()}"
    engine.sql(s"CREATE TYPE ${p}_mood AS ENUM ('sad', 'ok', 'happy')")
    engine.sql(s"CREATE TABLE $p (id INT, tm TIME, tsn TIMESTAMP_NS, " +
      s"h HUGEINT, iv INTERVAL, m ${p}_mood)")
    val values = "'10:20:30.500', '2024-01-02 03:04:05.120000000', " +
      "'00042', INTERVAL '3' DAY, 'ok'"
    engine.sql(s"INSERT INTO $p VALUES (1, $values), (2, '00:00:00', " +
      "'2000-01-01 00:00:00', '7', INTERVAL '1' DAY, 'sad')")
    val cols = Seq("tm", "tsn", "h", "iv", "m")
    val n = engine.sql(s"UPDATE $p SET " + cols.zip(values.split(", "))
      .map { case (c, v) => s"$c = $v" }.mkString(", ") + " WHERE id = 2")
    assert(n.head().getLong(0) == 1L)
    def row(id: Int) = engine.table(p).filter(col("id") === id)
      .select(cols.map(col): _*).head().toSeq
    assert(row(2) == row(1), s"UPDATE wrote ${row(2)}, INSERT wrote ${row(1)}")
    assert(row(1).take(3) == Seq("10:20:30.5", "2024-01-02 03:04:05.12", "42"))
    engine.sql(s"ALTER TABLE $p ALTER COLUMN h SET NOT NULL")
    val before = engine.table(p).collect().map(_.toString).sorted.toSeq
    val version = engine.currentVersion(p)
    val rejected = Seq(
      s"UPDATE $p SET m = 'angry' WHERE id = 1" ->
        s"Could not convert string 'angry' to enum type ${p}_mood",
      s"UPDATE $p SET h = NULL WHERE id = 2" ->
        s"NOT NULL constraint failed: $p(h)")
    rejected.foreach { case (q, msg) =>
      val err = intercept[IllegalArgumentException](engine.sql(q))
      assert(err.getMessage.contains(msg), err.getMessage)
      assert(engine.table(p).collect().map(_.toString).sorted.toSeq == before)
      assert(engine.currentVersion(p) == version)
    }
    engine.dropTable(p)
  }

  test("DmlOps queries unregister their scratch tables: q159 twice in one " +
      "JVM gives one digest and leaves no graft_* temp view") {
    def graftViews = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_")).map(_.name).toSet
    def digest = java.security.MessageDigest.getInstance("MD5").digest(
        SparkEntry.queries("q159_matview_agg")(spark, sf).collect()
          .map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val views = graftViews
    val first = digest
    assert(graftViews == views, s"first run left ${graftViews -- views}")
    assert(digest == first)
    assert(graftViews == views, s"second run left ${graftViews -- views}")
    assert(!views.exists(_.startsWith("graft_mv_")), views)
  }

  test("bm25 decline sentinel: a term set no cut depth certifies stops " +
      "paying the phase-1 job until a refresh; results stay exact") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val t = s"tiedbm_docs_${System.nanoTime()}"
    // one term at tf 1 in docs of 20-26 tokens: the best unseen doc's
    // bound ties the k-th seen score at every prefix depth below the
    // whole posting list, so the cut never certifies
    engine.registerTable(t, spark.range(6000).select(col("id").as("doc_id"),
      when(col("id") < 3000, concat(lit("tied"),
        expr("repeat(' fill', 19 + cast(id % 7 AS INT))")))
        .otherwise(expr("trim(repeat('fill ', 20))")).as("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft_tiedbm").toString
    engine.buildTextIndex("tiedbm", t, s"$dir/index")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def classic = engine.bm25Matched("tiedbm", Seq("tied"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(10).collect().toSeq
    // (rows, jobs, plan path) of one probe
    def probe(fast: Boolean) = {
      spark.conf.set("graft.bm25.fastPathMinRows",
        if (fast) "0" else Long.MaxValue.toString)
      engine.clearProbeStats()
      org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
      jobs.set(0)
      val rows = engine.bm25Search("tiedbm", Seq("tied"), 10).collect().toSeq
      org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext)
      (rows, jobs.get(), engine.probeStats.head().getAs[String]("plan_path"))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val cold = probe(fast = true) // fails at 0.25, records 0.5
      val warm = probe(fast = true) // fails at 0.5 too
      val third = probe(fast = true)
      val gated = probe(fast = false) // never enters the cut path
      val want = classic
      Seq(cold, warm, third, gated).foreach(p => assert(p._1 == want))
      assert(Seq(cold, warm, third).forall(_._3 == gated._3) &&
        gated._3 != "cut", s"plan paths ${Seq(cold, warm, third, gated)}")
      assert(warm._2 > gated._2, s"warm probe ran no phase-1 job: $warm")
      assert(third._2 == gated._2,
        s"third probe ran ${third._2} jobs, the classic plan ${gated._2}")
      // a refresh clears the sentinel: the cut path is tried again
      engine.insertInto(t, spark.range(1).select(lit(9000L).as("doc_id"),
        lit("tied fill").as("text")))
      engine.refreshTextIndex("tiedbm", t, s"$dir/index")
      val fresh = probe(fast = true)
      val freshGated = probe(fast = false)
      assert(fresh._1 == freshGated._1 && fresh._1 == classic)
      assert(fresh._2 > freshGated._2, s"refreshed probe skipped phase 1: $fresh")
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.conf.unset("graft.bm25.fastPathMinRows")
      engine.clearProbeStats()
    }
    engine.dropIndex("tiedbm")
    engine.unregisterTable(t)
    Seq("postings", "doclens", "stats", "termstats").foreach(s =>
      engine.unregisterTable(s"tiedbm_$s"))
  }

  test("literal-delta MERGE: a VALUES-sourced whole-row MERGE runs at most " +
      "2 jobs, and after 3 rounds of INSERT, UPDATE, DELETE and literal " +
      "MERGE the table's plan has no join and its read runs as many jobs " +
      "as after round 1") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val dir = java.nio.file.Files.createTempDirectory("graft_litmerge").toString
    val t = s"litm_${System.nanoTime()}"
    spark.range(1, 2001).select(col("id"),
        (col("id") % 7).cast("string").as("s"), (col("id") * 1.5).as("p"))
      .write.parquet(s"$dir/base")
    engine.registerTable(s"${t}_base", s"$dir/base")
    engine.sql(s"CREATE TABLE $t AS SELECT * FROM ${t}_base").collect()
    def merge(r: Int) = s"MERGE INTO $t AS t USING (SELECT * FROM (VALUES " +
      s"(${r}0L, 'm', 1.0D), (${r}1L, 'm', 2.0D), (${5000 + r}L, 'n', 3.0D)) " +
      "AS v(id, s, p)) AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    val readJobs = (1 to 3).map { r =>
      engine.sql(s"INSERT INTO $t VALUES (${9000 + r}L, 'i', 0.5D)").collect()
      engine.sql(s"UPDATE $t SET p = p + 1 WHERE id IN (${r}2, ${r}3)").collect()
      engine.sql(s"DELETE FROM $t WHERE id IN (${r}4, ${r}5)").collect()
      var counts = Seq.empty[Any]
      val (_, _, jobs) = watched {
        counts = engine.sql(merge(r)).head().toSeq
      }
      assert(counts == Seq(2L, 1L), s"round $r MERGE counts $counts")
      assert(jobs <= 2, s"round $r: the literal MERGE ran $jobs jobs")
      val plan = castToImpl(engine.table(t)).queryExecution.optimizedPlan
      assert(plan.collectFirst { case j: Join => j }.isEmpty,
        s"round $r: the stored plan joins\n$plan")
      var got = Seq.empty[Any]
      val (_, _, read) = watched {
        got = engine.sql(s"SELECT count(*) AS n, count_if(s = 'm') AS m " +
          s"FROM $t").head().toSeq
      }
      assert(got == Seq(2000L, 2L * r), s"round $r read $got")
      read
    }
    assert(readJobs.forall(_ == readJobs.head), s"read jobs per round $readJobs")
    Seq(t, s"${t}_base").foreach(engine.dropTable(_))
  }

  test("literal-delta MERGE law: literal and non-literal sources give the " +
      "same rows, counts and errors — NULL keys, duplicate target keys, " +
      "duplicate source keys, a widened key type and a two-column key") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val dir = java.nio.file.Files.createTempDirectory("graft_litlaw").toString
    val p = s"litlaw_${System.nanoTime()}"
    // target: duplicate key (2, 'x'), a NULL in each key column
    spark.sql("SELECT CAST(a AS BIGINT) a, b, CAST(v AS INT) v FROM VALUES " +
        "(1, 'x', 10), (2, 'x', 20), (2, 'x', 21), (3, 'y', 30), " +
        "(NULL, 'x', 40), (5, NULL, 50) AS r(a, b, v)")
      .coalesce(1).write.parquet(s"$dir/target")
    // each source both as literal rows (an engine table over VALUES) and
    // as a parquet table; `a` is INT in the source, BIGINT in the target
    def source(n: String, values: String): Unit = {
      val df = spark.sql("SELECT CAST(a AS INT) a, b, CAST(v AS INT) v " +
        s"FROM VALUES $values AS r(a, b, v)")
      engine.registerTable(s"${p}_${n}_lit", df)
      // one file, so the parquet source reads in statement order
      df.coalesce(1).write.parquet(s"$dir/$n")
      engine.registerTable(s"${p}_${n}_pq", s"$dir/$n")
    }
    source("keys", "(1, 'x', 100), (2, 'x', 200), (NULL, 'x', 300), " +
      "(NULL, 'z', 301), (7, 'y', 700), (5, NULL, 500), (3, 'z', 302)")
    source("dup", "(1, 'x', 1), (1, 'y', 2), (8, 'y', 3)")
    source("dup2", "(2, 'x', 1), (2, 'x', 2)")
    source("batch", "(3, 'q', 31), (9, 'q', 90), (9, 'r', 91), " +
      "(NULL, 'q', 92), (NULL, 'q', 93)")
    val whole = "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    // (case, statement over a target and a source stem → table name)
    val statements: Seq[(String, (String, String => String) => String)] = Seq(
      "whole-row" -> ((t, s) => s"MERGE INTO $t AS t USING ${s("keys")} " +
        s"AS s ON t.a = s.a $whole"),
      "whole-row two keys" -> ((t, s) => s"MERGE INTO $t AS t USING " +
        s"${s("keys")} AS s ON t.a = s.a AND t.b = s.b $whole"),
      "duplicate source" -> ((t, s) => s"MERGE INTO $t AS t USING " +
        s"${s("dup")} AS s ON t.a = s.a $whole"),
      "duplicate source, two keys" -> ((t, s) => s"MERGE INTO $t AS t USING " +
        s"${s("dup2")} AS s ON t.a = s.a AND t.b = s.b $whole"),
      "column-wise" -> ((t, s) => s"MERGE INTO $t AS t USING " +
        s"${s("keys")} AS s ON t.a = s.a " +
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.v " +
        "WHEN NOT MATCHED THEN INSERT (a, v) VALUES (s.a, s.v)"),
      "column-wise two keys" -> ((t, s) => s"MERGE INTO $t AS t USING " +
        s"${s("keys")} AS s ON t.a = s.a AND t.b = s.b " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (a, b, v) VALUES (s.a, s.b, s.v)"),
      "insert-only" -> ((t, s) => s"MERGE INTO $t AS t USING " +
        s"${s("batch")} AS s ON t.a = s.a " +
        "WHEN NOT MATCHED THEN INSERT (a, b, v) VALUES (s.a, s.b, s.v)"),
      "ON CONFLICT DO UPDATE" -> ((t, s) => s"INSERT INTO $t SELECT * FROM " +
        s"${s("keys")} ON CONFLICT (a) DO UPDATE SET v = excluded.v + 1"),
      "ON CONFLICT DO NOTHING" -> ((t, s) => s"INSERT INTO $t SELECT * FROM " +
        s"${s("batch")} ON CONFLICT (a) DO NOTHING"),
      "ON CONFLICT DO UPDATE, duplicate source" -> ((t, s) =>
        s"INSERT INTO $t SELECT * FROM ${s("dup")} " +
          "ON CONFLICT (a) DO UPDATE SET v = excluded.v"))
    def rows(n: String) = engine.table(n).collect().map(_.toString).sorted.toSeq
    def joins(n: String) = castToImpl(engine.table(n)).queryExecution
      .optimizedPlan.collect { case j: Join => j }.size
    statements.zipWithIndex.foreach { case ((what, stmt), i) =>
      val out = Seq("lit", "pq").map { kind =>
        val t = s"${p}_t${i}_$kind"
        engine.registerTable(t, s"$dir/target")
        val res = scala.util.Try(engine.sql(stmt(t, n => s"${p}_${n}_$kind"))
          .collect().toSeq)
        val r = (res.map(_.map(_.toString)).toEither.left.map(_.getMessage),
          rows(t), joins(t))
        engine.dropTable(t)
        r
      }
      val Seq((litRes, litRows, litJoins), (pqRes, pqRows, pqJoins)) = out
      assert(litRes == pqRes, s"$what: results differ")
      assert(litRows == pqRows, s"$what: rows differ")
      if (what.startsWith("whole-row") && litRes.isRight)
        assert(litJoins == 0 && pqJoins == 1,
          s"$what: joins literal $litJoins, parquet $pqJoins")
      if (what.contains("duplicate"))
        assert(litRes.left.exists(_.contains("more than once (key ")),
          s"$what: $litRes")
    }
    Seq("keys", "dup", "dup2", "batch").foreach { n =>
      engine.dropTable(s"${p}_${n}_lit"); engine.dropTable(s"${p}_${n}_pq")
    }
  }

  test("text index refresh after UPDATE and DELETE of indexed documents " +
      "≡ a rebuild: same postings and top-k, bit-equal stats") {
    val t = s"stale_docs_${System.nanoTime()}"
    engine.createTable(t, "doc_id BIGINT, text STRING")
    engine.insertValues(t, Seq(Row(1L, "alpha beta alpha"),
      Row(2L, "alpha gamma"), Row(3L, "beta delta alpha")))
    val dir = java.nio.file.Files.createTempDirectory("graft_stale").toString
    engine.buildTextIndex("staleix", t, s"$dir/index")
    engine.sql(s"UPDATE $t SET text = 'omega omega' WHERE doc_id = 1")
    engine.sql(s"DELETE FROM $t WHERE doc_id = 2")
    engine.insertValues(t, Seq(Row(4L, "alpha omega")))
    assert(engine.refreshTextIndex("staleix", t, s"$dir/index") == 3L)
    engine.buildTextIndex("staleix_full", t, s"$dir/index_full")
    Seq("postings", "doclens", "stats", "termstats").foreach { part =>
      assert(rowStrings(engine.table(s"staleix_$part")) ==
        rowStrings(engine.table(s"staleix_full_$part")), s"$part diverged")
    }
    assert(engine.statsOf("staleix").contains((3L, 7L)) &&
      engine.statsOf("staleix") == engine.statsOf("staleix_full"))
    def top(ix: String, terms: String*) = engine.bm25Search(ix, terms, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Seq(Seq("alpha"), Seq("omega"), Seq("alpha", "beta")).foreach { q =>
      assert(top("staleix", q: _*) == top("staleix_full", q: _*), q)
    }
    // the changed and the deleted document no longer match alpha
    assert(top("staleix", "alpha").filter(_._2 > 0).map(_._1).toSet ==
      Set(3L, 4L))
    // an append after the rebuild takes the incremental path again
    engine.insertValues(t, Seq(Row(5L, "omega beta")))
    assert(engine.refreshTextIndex("staleix", t, s"$dir/index") == 1L)
    engine.dropIndex("staleix"); engine.dropIndex("staleix_full")
    engine.dropTable(t)
    Seq("staleix", "staleix_full").foreach(ix =>
      Seq("postings", "doclens", "stats", "termstats").foreach(s =>
        engine.unregisterTable(s"${ix}_$s")))
  }

  test("a BM25 probe right after REFRESH TEXT INDEX runs at most 3 jobs, " +
      "and its scores equal a rebuilt index's") {
    val e = Engine.scratch(spark)
    val u = System.nanoTime()
    val (docs, ix, full) = (s"pj_docs_$u", s"pj_tix_$u", s"pj_full_$u")
    e.registerTable(s"pj_src_$u", s"$sf/documents.parquet")
    Seq(s"CREATE TABLE $docs AS SELECT doc_id, text FROM pj_src_$u " +
        "WHERE doc_id < 200",
      s"CREATE TEXT INDEX $ix ON $docs (text)",
      s"INSERT INTO $docs VALUES (900001, 'zqmark join vector'), " +
        "(900002, 'zqmark value value'), (900003, 'scan zqmark zqmark')",
      s"REFRESH TEXT INDEX $ix").foreach(q => e.sql(q).collect())
    var got = Seq.empty[(Long, Double)]
    val (_, _, jobs) = watched {
      got = e.bm25Search(ix, Seq("zqmark"), 3).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(jobs <= 3, s"the probe ran $jobs jobs")
    e.sql(s"CREATE TEXT INDEX $full ON $docs (text)").collect()
    assert(got == e.bm25Search(full, Seq("zqmark"), 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(got.map(_._1).toSet == Set(900001L, 900002L, 900003L))
    e.sql(s"DROP TABLE $docs").collect()
  }

}

object EngineSpec {
  /** Tmp and aside directories an artifact rewrite left beside `path`. */
  def swapLeftovers(path: String): Seq[String] =
    Seq("_refresh_tmp", "_opt_tmp", "_opt_old").map(path + _)
      .filter(new java.io.File(_).exists)
}

/** A local filesystem under a custom scheme, registered only through
  * `fs.probe.impl` in the SESSION Hadoop configuration — the minimal
  * stand-in for an object-store binding that exists in the session conf
  * but not in a bare `new Configuration()`. */
class ProbeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "probe"
  override def getUri: java.net.URI = java.net.URI.create("probe:///")
}
