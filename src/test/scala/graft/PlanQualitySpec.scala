package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan-quality regressions: the properties that matter at 100 TB —
  * filter pushdown to parquet, column pruning, broadcast of dimensions,
  * partial+final aggregation, bounded shuffle count — asserted on the
  * physical plans so a future refactor can't silently lose them. */
class PlanQualitySpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    val qe = castToImpl(df).queryExecution
    qe.executedPlan.toString() + "\n" + qe.optimizedPlan.toString()
  }

  /** Every node of `df`'s executed plan, descending through AQE's
    * query stages. */
  private def executedNodes(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    def deep(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        deep(q.plan)
      case other => Seq(other)
    }.flatten
    deep(castToImpl(df).queryExecution.executedPlan)
  }

  private def scans(df: DataFrame) =
    castToImpl(df).queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
    }.flatMap {
      case s: FileSourceScanExec => Seq(s)
      case ss: Seq[_] => ss.asInstanceOf[Seq[FileSourceScanExec]]
    }

  test("shingle refresh cap sweep aggregates only batch-touched " +
      "shingles: a semi-join sits below the aggregate (O(touched) " +
      "state, never a corpus-wide groupBy)") {
    val e = Engine.scratch(spark)
    import spark.implicits._
    val corpus = Seq((1L, 11L), (2L, 22L)).toDF("doc_id", "s")
    val batch = Seq((3L, 22L)).toDF("doc_id", "s")
    val hot = e.shingleHotDelta(corpus.unionByName(batch), batch, 1)
    val plan = castToImpl(hot).queryExecution.optimizedPlan
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggs.nonEmpty, "no aggregate in the cap-sweep plan")
    assert(aggs.forall(a => a.child.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }.nonEmpty),
      s"cap sweep aggregates without the batch semi-join:\n$plan")
    // and the sweep is exact: only the batch-touched shingle 22 has
    // combined df > 1
    assert(hot.collect().map(_.getLong(0)).toSeq == Seq(22L))
  }

  test("q03 filter is pushed to the parquet scan") {
    val df = SparkEntry.queries("q03_filter")(spark, sf)
    val scan = scans(df)
    assert(scan.nonEmpty)
    val pushed = scan.head.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed != "[]", s"no pushed filters: $pushed")
  }

  test("bm25Search pushes the term filter into the postings scan") {
    // the sublinearity contract: a probe must read only the queried
    // terms' row groups, so the In(w, …) predicate has to reach the
    // parquet scan of the postings artifact (which is range-sorted on
    // w — min/max stats then prune untouched groups)
    val eng = Engine(spark)
    val t = s"pq_tix_docs_${System.nanoTime()}"
    eng.registerTable(t, Tables.t(spark, sf, "documents")
      .select("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_pqtix")
      .toString
    eng.buildTextIndex("pq_tix", t, s"$dir/index")
    // bm25Matched is the lazy scoring plan bm25Search executes (the
    // public verb returns the already-executed top-k as a local frame
    // in the common case, so the law pins the plan one level down)
    val probe = eng.bm25Matched("pq_tix", Seq("join", "vector"))
    val postScan = scans(probe).filter(
      _.metadata.getOrElse("Location", "").contains("index"))
    assert(postScan.nonEmpty, "no scan over the postings artifact")
    val pushed = postScan.head.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed.contains("In(w") || pushed.contains("EqualTo(w"),
      s"term filter not pushed to the postings scan: $pushed")
    eng.unregisterTable(t)
    Seq("postings", "doclens", "stats", "termstats").foreach(s =>
      eng.unregisterTable(s"pq_tix_$s"))
  }

  test("annSearch pushes the probed-cell filter into the cells scan") {
    // the persisted-cells contract: a probe must read only the probed
    // cells' row groups, so the In(cell, …) predicate has to reach the
    // parquet scan of the artifact (range-sorted on cell — min/max
    // stats then prune unprobed groups)
    val eng = Engine(spark)
    val t = s"pq_ann_vecs_${System.nanoTime()}"
    eng.registerTable(t, Tables.t(spark, sf, "embeddings")
      .select("vec_id", "embedding"))
    eng.buildAnnIndex(s"pq_ann_$t", t)
    val qv = eng.table(t).select("embedding").head()
      .getSeq[Float](0).toArray
    val probe = eng.annSearch(s"pq_ann_$t", qv, k = 5)
    val cellScan = scans(probe).filter(
      _.metadata.getOrElse("Location", "").contains("cells"))
    assert(cellScan.nonEmpty, "no scan over the cells artifact")
    val pushed = cellScan.head.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed.contains("In(cell") || pushed.contains("EqualTo(cell"),
      s"cell filter not pushed to the cells scan: $pushed")
    eng.unregisterTable(t)
    Seq("cells", "centroids").foreach(s =>
      eng.unregisterTable(s"pq_ann_${t}_$s"))
  }

  test("q02 projection prunes the read schema") {
    val df = SparkEntry.queries("q02_projection")(spark, sf)
    val schema = scans(df).head.requiredSchema.fieldNames.toSet
    assert(schema == Set("l_orderkey", "l_partkey", "l_quantity"),
      s"read schema not pruned: $schema")
  }

  test("q173 reads only (doc_id, text) — the span pass must never drag " +
    "the full documents schema through the explode") {
    val df = SparkEntry.queries("q173_substring_spans")(spark, sf)
    val schemas = scans(df).map(_.requiredSchema.fieldNames.toSet)
    assert(schemas.nonEmpty)
    schemas.foreach(s => assert(s.subsetOf(Set("doc_id", "text")),
      s"q173 scan reads extra columns: $s"))
  }

  test("q12 joins broadcast (no fact-table shuffle for the dimension join)") {
    val df = SparkEntry.queries("q12_join_agg")(spark, sf)
    df.collect() // let AQE finalize
    assert(planString(df).contains("BroadcastHashJoin"))
  }

  test("q06 aggregates partially before the shuffle") {
    val df = SparkEntry.queries("q06_tpch_q1")(spark, sf)
    val s = planString(df)
    // partial+final pairs appear as two HashAggregate levels
    assert("HashAggregate".r.findAllIn(s).size >= 2)
  }

  test("q12 pre-aggregates below the join: no expand, bounded shuffles") {
    val df = SparkEntry.queries("q12_join_agg")(spark, sf)
    df.collect()
    val s = planString(df)
    // count(DISTINCT) would plan an Expand node; the per-order pre-agg
    // makes it count(*) — assert the expand never comes back
    assert(!s.contains("Expand"), "q12 regressed to expand-based distinct")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "partial agg missing")
  }

  test("q69 runs with a single shuffle join; dimensions broadcast") {
    val df = SparkEntry.queries("q69_tpch_q5")(spark, sf)
    df.collect()
    val s = planString(df)
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 3,
      "pruned dimensions must broadcast")
    assert(!s.contains("SortMergeJoin"),
      "q69 fact join should be hash-based with broadcast dims")
  }

  test("q97 window partitions by language (no single-partition sort)") {
    val df = SparkEntry.queries("q97_shard_packing")(spark, sf)
    val s = planString(df)
    // a global (unpartitioned) window would plan Exchange SinglePartition
    // before the Window — per-language windows must not
    val windowIdx = s.indexOf("Window")
    assert(windowIdx >= 0)
    assert(!s.substring(0, windowIdx).contains("SinglePartition")
      || !s.contains("Exchange SinglePartition"),
      "shard packing serialized into one partition")
  }

  test("q97/q123 windows over corpus-scaling inputs carry a de-skew key") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, LogicalPlan, Window => LWindow}
    // a window partitioned ONLY on a key of O(languages) cardinality
    // serializes one language (half a real corpus) into one task; such a
    // window is legal only over a frame already collapsed by aggregation
    // (per-bucket totals — corpus/8192 rows). Detect: any leaf reachable
    // without crossing an Aggregate means the input scales with the corpus.
    def rawLeafUnder(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case _: LeafNode => true
      case other => other.children.exists(rawLeafUnder)
    }
    for (name <- Seq("q97_shard_packing", "q123_curation_pipeline")) {
      val plan = castToImpl(SparkEntry.queries(name)(spark, sf))
        .queryExecution.optimizedPlan
      val wins = plan.collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$name lost its running-sum windows")
      wins.foreach { w =>
        assert(w.partitionSpec.size >= 2 || !rawLeafUnder(w.child),
          s"$name has a window over a corpus-scaling input partitioned " +
            s"only on ${w.partitionSpec} — single-task skew at scale")
      }
    }
  }

  test("q137 lang filter prunes partitions at listing time") {
    // the filter on the Hive partition column must land in the scan's
    // PartitionFilters (directory-level prune — filtered-out languages'
    // files are never opened), not run as a post-scan data filter
    val df = SparkEntry.queries("q137_partitioned_sink")(spark, sf)
    val scan = scans(df)
    assert(scan.nonEmpty)
    val pf = scan.head.partitionFilters.mkString(";")
    assert(pf.contains("lang"),
      s"lang filter did not reach PartitionFilters: $pf")
    // pruned listing: the scan's numFiles metric must equal the file
    // count of exactly the two selected language partitions on disk —
    // strictly fewer than the full table
    df.collect()
    val read = scan.head.metrics("numFiles").value
    val root = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_roundtrip_part_documents")
    def parquetCount(dir: java.io.File): Int =
      Option(dir.listFiles).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    val selected = Seq("lang=en", "lang=de")
      .map(l => parquetCount(new java.io.File(root, l))).sum
    val total = Option(root.listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("lang="))
      .map(parquetCount).sum
    assert(selected > 0 && selected < total, s"bad fixture: $selected/$total")
    assert(read == selected,
      s"scan read $read files; pruned partitions hold $selected of $total")
  }

  test("q140 range join is bucketed (no nested-loop join in the plan)") {
    // the θ-join formulation plans BroadcastNestedLoopJoin — O(P×C)
    // comparisons; the slot-bucketed rewrite must keep it an equi-join
    val df = SparkEntry.queries("q140_range_join")(spark, sf)
    df.collect()
    val s = planString(df)
    assert(!s.contains("BroadcastNestedLoopJoin") &&
      !s.contains("CartesianProduct"),
      "range join regressed to a nested-loop plan")
  }

  test("q130 first-occurrence rule is window-free (skew-splittable)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // a row_number window PARTITION BY chunk serializes a corpus-hot
    // chunk into one task; the min-struct groupBy + equi-join keeps the
    // hot key combinable map-side and AQE-splittable at the join
    val plan = castToImpl(SparkEntry.queries("q130_passage_dedup")(spark, sf))
      .queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.isEmpty,
      s"q130 regressed to a window over per-chunk occurrences: $wins")
  }

  test("q185 repetition gate is one narrow pass: zero exchanges, " +
      "zero explodes (per-document state never crosses the cluster)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate => LGen}
    val df = SparkEntry.queries("q185_gopher_repetition")(spark, sf)
    val qe = castToImpl(df).queryExecution
    assert(qe.optimizedPlan.collect { case g: LGen => g }.isEmpty,
      "q185 regressed to an explode over per-doc grams")
    df.collect()
    val exchanges = qe.executedPlan.collect {
      case e: ShuffleExchangeExec => Seq(e)
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
    }.flatten
    assert(exchanges.isEmpty,
      s"q185 shuffled per-document gram state: ${exchanges.size} exchanges")
  }

  test("runtime bloom filter prunes the big side of a shuffle join") {
    // at 100 TB the fact side of a selective join should be pre-filtered
    // by a runtime bloom filter built from the small side — Spark's
    // runtime row-level filtering does this when broadcast is off; prove
    // the mechanism engages on this session's plans
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.{col, count, lit}
      val li = Tables.t(spark, sf, "lineitem")
      val o = Tables.t(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)))
      val s = castToImpl(j).queryExecution.optimizedPlan.toString()
      assert(s.contains("bloom_filter") || s.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n${s.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no query plan reads driver-materialized data (collect-free law)") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // q67's memory sink is the stream test harness's sink (production
    // writeStream targets files/kafka), not an operator collecting data
    val exempt = Set("q67_stream_hourly")
    SparkEntry.queries.filterNot(q => exempt(q._1)).foreach {
      case (name, fn) =>
        val rows = castToImpl(fn(spark, sf)).queryExecution.optimizedPlan
          .collect { case l: LocalRelation => l.data.size }.sum
        // literal VALUES clauses (a handful of rows) are fine; a collected
        // table is not
        assert(rows <= 100,
          s"$name materializes $rows driver-side rows (LocalRelation)")
    }
  }

  test("maybeBroadcast drops the hint above the size threshold") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import graft.operators.NamedQuery
    def hints(df: DataFrame) =
      castToImpl(df).queryExecution.analyzed.collect { case h: ResolvedHint => h }
    val small = spark.range(10).toDF("id")
    assert(hints(NamedQuery.maybeBroadcast(small)).nonEmpty,
      "small input must keep its broadcast hint")
    // range stats are 8 bytes/row → 200M rows ≈ 1.6 GB estimated (never executed)
    val big = spark.range(200000000L).toDF("id")
    assert(hints(NamedQuery.maybeBroadcast(big)).isEmpty,
      "oversized input must NOT be force-broadcast")
  }

  test("no ResolvedHint wraps an input estimated above the broadcast threshold") {
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, ResolvedHint}
    // a hinted side built by pruning/joining base tables is bounded above
    // by its leaf scan footprints — if those exceed the threshold, the
    // hint would force a broadcast that cannot be guaranteed to fit
    val threshold = BigInt(200L << 20)
    for (name <- Seq("q12_join_agg", "q69_tpch_q5", "q42_dedup_minhash_lsh",
        "q68_tpch_q3", "q44_embedding_neardup")) {
      val qe = castToImpl(SparkEntry.queries(name)(spark, sf)).queryExecution
      qe.analyzed.foreach {
        case h: ResolvedHint =>
          val leafBytes = h.child.collect { case l: LeafNode =>
            l.stats.sizeInBytes }.sum
          assert(leafBytes <= threshold,
            s"$name force-broadcasts an input whose leaf scans total " +
              s"$leafBytes bytes")
        case _ =>
      }
    }
  }

  test("q149 reservoir sample plans as WindowGroupLimit, never a full sort") {
    val df = SparkEntry.queries("q149_reservoir_sample")(spark, sf)
    df.collect()
    val s = planString(df)
    // the rank-≤-k filter must run as the per-group top-k operator
    // (k-bounded heap per task, k·strata rows into the final merge);
    // losing it means every stratum is fully sorted — the formulation
    // that dies when one language is half a 100 TB corpus
    assert(s.contains("WindowGroupLimit"),
      "q149 lost the per-group top-k (WindowGroupLimit) optimization")
    assert(!s.contains("Exchange SinglePartition"),
      "q149 serialized into one partition")
  }

  test("bucketed fact join and order-key aggregation run with ZERO " +
      "shuffle exchanges") {
    // the layout law behind q154–q156: both fact tables are bucketed on
    // the order key, so the join AND any aggregation keyed on it consume
    // the scan's partitioning — no exchange anywhere. Broadcast is
    // disabled so the law pins bucket co-location, not a small-SF
    // broadcast plan.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (tli, to) = operators.BucketedOps.factPair(spark, sf)
      val joined = spark.table(tli)
        .join(spark.table(to),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("qty"))
      joined.collect()
      val exchanges = castToImpl(joined).queryExecution.executedPlan
        .collect {
          case e: ShuffleExchangeExec => Seq(e)
          case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
            case e: ShuffleExchangeExec => e
          }
        }.flatten
      assert(exchanges.isEmpty,
        s"bucketed fact join shuffled: ${exchanges.size} exchanges")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("q156 fact join stays co-partitioned on the order key: only the " +
      "n_name rollup exchanges") {
    // the nation match is a residual condition of the l_orderkey join;
    // were it a second equi-key, (orderkey, nationkey) would not be
    // satisfied by the l_orderkey bucketing under Spark's default
    // co-partition rule and both fact sides would re-shuffle. Broadcast
    // is disabled as in the zero-exchange law above (the query's own
    // broadcast hints still apply), so the law pins bucket co-location.
    operators.NamedQuery.withConf(spark,
        Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val df = SparkEntry.queries("q156_tpch_q5_bucketed")(spark, sf)
      df.collect()
      val keys = executedNodes(df).collect {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.flatMap(_.references.map(_.name)).toSet
          case other => Set(other.toString)
        }
      }
      assert(keys.nonEmpty && keys.forall(_ == Set("n_name")),
        s"q156 exchanged on more than the n_name rollup: $keys")
    }
  }

  test("user-bucketed sessionization runs with ZERO exchanges and ZERO " +
      "sorts, and matches q57") {
    // the events-layout law behind q161: events are bucketed on user_id
    // and sorted within each bucket on (user_id, ts) with one file per
    // bucket, so the sessionization window's clustering AND ordering are
    // both satisfied by the scan — no exchange, no sort operator. The
    // per-user rollup consumes the same distribution. q57's stage
    // accounting put the user-key shuffle+sort at 94% of the query;
    // this law pins that the layout formulation never re-pays it.
    def lawFor(bucketed: String, baseline: String): Unit = {
      val df = SparkEntry.queries(bucketed)(spark, sf)
      df.collect()
      val nodes = executedNodes(df)
      assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"$bucketed shuffled: the bucketed events scan must satisfy the " +
          "window's user_id clustering")
      assert(!nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
        s"$bucketed sorted: the single-file-per-bucket (user_id, ts) sort " +
          "metadata must satisfy the window's ordering")
      // semantics law: identical result to the shuffle formulation
      val base = SparkEntry.queries(baseline)(spark, sf)
      assert(df.exceptAll(base).count() == 0 &&
        base.exceptAll(df).count() == 0,
        s"$bucketed diverged from $baseline on the same data")
    }
    lawFor("q161_events_sessions_bucketed", "q57_events_sessions")
    // q162: the RANGE frame must reproduce q58's tie-inclusive as-of
    // semantics without the secondary sort key
    lawFor("q162_asof_join_bucketed", "q58_asof_join")
  }

  test("token-manifest shard packing never moves or sorts the corpus") {
    // q163's layout law: the (lang, b)-bucketed, (lang, b, doc_id)-
    // sorted token manifest must feed both prefix-sum windows straight
    // from the scan. The final 15-row ORDER BY and the 310-row offsets
    // window may sort/shuffle; the corpus may not — so the law is
    // shape-precise: no repartition-by-column exchange (q97's corpus
    // movement) and no sort ordered on doc_id (the corpus sort).
    val q163 = SparkEntry.queries("q163_shard_packing_bucketed")(spark, sf)
    q163.collect()
    val nodes = executedNodes(q163)
    assert(!nodes.exists {
      case e: ShuffleExchangeExec => e.shuffleOrigin.toString.contains(
        "REPARTITION_BY_COL")
      case _ => false
    }, "q163 repartitioned the corpus: the bucketed manifest scan must " +
      "satisfy the window clustering")
    assert(!nodes.exists {
      case s: org.apache.spark.sql.execution.SortExec =>
        s.sortOrder.exists(_.child.references.exists(
          _.name == "doc_id"))
      case _ => false
    }, "q163 sorted the corpus: the manifest's (lang, b, doc_id) sort " +
      "metadata must satisfy the window ordering")
    // the manifest write lands one file per bucket
    val files = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths
            .exists(_.toString.contains("bk_dt_")) =>
        f.relation.location.inputFiles.toSeq
    }.flatten.distinct.length
    assert(files > 0 && files <= graft.operators.BucketedOps.BucketCount,
      s"manifest holds $files files for " +
        s"${graft.operators.BucketedOps.BucketCount} buckets")
    val q97 = SparkEntry.queries("q97_shard_packing")(spark, sf)
    assert(q163.exceptAll(q97).count() == 0 &&
      q97.exceptAll(q163).count() == 0,
      "q163 diverged from q97 on the same data")
  }

  test("rollup fold reads ONLY the minute rollup with zero exchanges, " +
      "and matches q30") {
    // q164's layout law: the hour-grain dashboard fold must consume the
    // minute rollup's event_type bucket clustering (group keys include
    // the bucket key → no exchange) and must never touch the raw events
    // table — the Q30Probe scan floor is paid in the rollup write, not
    // per query.
    val q164 = SparkEntry.queries("q164_events_hourly_rollup")(spark, sf)
    q164.collect()
    val nodes = executedNodes(q164)
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "q164 shuffled: the rollup's event_type bucketing must satisfy " +
        "the (event_type, hour) aggregation clustering")
    val scanned = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",")
    }
    assert(scanned.nonEmpty && scanned.forall(_.contains("bk_evr_")),
      s"q164 read outside the rollup artifact: $scanned")
    // the rollup write lands one file per bucket
    val files = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq
    }.flatten.distinct.length
    assert(files > 0 && files <= graft.operators.BucketedOps.RollupBuckets,
      s"rollup holds $files files for " +
        s"${graft.operators.BucketedOps.RollupBuckets} buckets")
    val q30 = SparkEntry.queries("q30_events_hourly")(spark, sf)
    assert(q164.exceptAll(q30).count() == 0 &&
      q30.exceptAll(q164).count() == 0,
      "q164 diverged from q30 on the same data")
  }

  test("q156 orders scan prunes year partitions at listing time") {
    // the r9 layout law: orders is partitionBy(o_year) + bucketed, and
    // the date-range queries carry the implied o_year bounds — the scan
    // must read ONLY the in-range year directories (sf0.001 orders span
    // 1992-1998; q156's range keeps 1996-1998)
    val df = SparkEntry.queries("q156_tpch_q5_bucketed")(spark, sf)
    df.collect()
    // AQE materializes joins behind QueryStageExec LEAF nodes — a plain
    // collect never reaches their subtrees, so recurse through them
    def deepScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => deepScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        deepScans(q.plan)
    }.flatten
    val orderScans =
      deepScans(castToImpl(df).queryExecution.executedPlan)
        .filter(_.requiredSchema.fieldNames.contains("o_custkey"))
    assert(orderScans.nonEmpty, "no orders scan found")
    val parts = orderScans.head.relation.location
      .listFiles(orderScans.head.partitionFilters, Nil)
      .flatMap(_.values match {
        case r if r.numFields > 0 => Some(r.getInt(0))
        case _ => None
      }).toSet
    assert(parts.nonEmpty && parts.forall(y => y >= 1996 && y <= 1998),
      s"orders scan read out-of-range year partitions: $parts")
  }

  test("bucketed q154/q155/q156 match their unbucketed formulations") {
    for ((b, u) <- Seq(
        "q154_join_agg_bucketed" -> "q12_join_agg",
        "q155_tpch_q3_bucketed" -> "q68_tpch_q3",
        "q156_tpch_q5_bucketed" -> "q69_tpch_q5")) {
      val bd = SparkEntry.queries(b)(spark, sf)
      val ud = SparkEntry.queries(u)(spark, sf)
      assert(bd.exceptAll(ud).isEmpty && ud.exceptAll(bd).isEmpty,
        s"$b diverges from $u")
    }
  }

  test("q159 covered aggregate scans ONLY the MV artifact (never the " +
      "base fact files)") {
    val df = SparkEntry.queries("q159_matview_agg")(spark, sf)
    val scanned = scans(df).flatMap(
      _.relation.location.rootPaths.map(_.toString))
    assert(scanned.nonEmpty)
    assert(scanned.forall(_.contains("graft_mv_")),
      s"rewritten aggregate reads non-MV files: $scanned")
    // row-identity against the unrewritten formulation over the same
    // lineitem rows q159's base table copies (q159 unregisters its
    // tables on return; plain spark.sql acts for the session's serving
    // engine, which owns no MV over this view)
    Tables.t(spark, sf, "lineitem").createOrReplaceTempView("q159_direct_li")
    val direct = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |round(sum(l_quantity), 2) AS sum_qty,
        |round(avg(l_extendedprice), 4) AS avg_price,
        |round(min(l_discount), 2) AS min_disc,
        |round(max(l_tax), 2) AS max_tax,
        |count(*) AS n
        |FROM q159_direct_li WHERE l_returnflag IN ('A', 'R')
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    try assert(df.exceptAll(direct).isEmpty && direct.exceptAll(df).isEmpty,
      "MV re-aggregation diverges from the direct aggregate")
    finally spark.catalog.dropTempView("q159_direct_li")
  }

  test("upserts keep a key-filtered read pushed to the base scan and " +
      "shuffle only the target's keys: ON CONFLICT DO UPDATE, then an " +
      "insert-only MERGE, on a target above the broadcast threshold") {
    import org.apache.spark.sql.functions.{col, sha2}
    val eng = Engine(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqups").toString
    val t = s"pq_ups_${System.nanoTime()}"
    // ~1.4 MB of parquet: above the 256 KB threshold set below, whole
    // rows and key column alike; the VALUES sources stay below it, so
    // the target streams past broadcast sources and only its keys may
    // move (the source anti-join's build side)
    spark.range(20000).select(col("id").cast("int").as("id"),
        (col("id") * 3).cast("int").as("v"),
        sha2(col("id").cast("string"), 256).as("s"))
      .write.parquet(s"$dir/base")
    eng.registerTable(t, s"$dir/base")
    eng.sql(s"CREATE TABLE ${t}_src (id INT, v INT, s STRING)")
    eng.sql(s"INSERT INTO ${t}_src VALUES (7, 70, 'm'), (30001, 1, 'm'), " +
      "(30001, 2, 'm')")
    def baseScan(p: org.apache.spark.sql.execution.SparkPlan) =
      p.exists {
        case f: FileSourceScanExec =>
          f.metadata.getOrElse("Location", "").contains(s"$dir/base")
        case _ => false
      }
    def check(step: String, want: Seq[String]): Unit = {
      val read = eng.table(t).filter(col("id") === 7)
      // the scans that read whole rows; a key-only probe nested under a
      // VALUES source can miss the inferred filter (Spark folds the
      // filtered VALUES into a new LocalRelation, which carries no
      // constraint to infer from)
      val rowScans = scans(read).filter(f => f.metadata.getOrElse(
        "Location", "").contains(s"$dir/base") &&
        f.requiredSchema.fieldNames.exists(_ != "id"))
      assert(rowScans.nonEmpty, s"$step: no base scan")
      rowScans.foreach { f =>
        val pushed = f.metadata.getOrElse("PushedFilters", "[]")
        assert(pushed.contains("EqualTo(id,7)"),
          s"$step: key filter not pushed to a base scan: $pushed\n" +
            castToImpl(read).queryExecution.optimizedPlan)
      }
      assert(read.collect().map(_.toString).toSeq == want, step)
      val moved = executedNodes(eng.table(t)).collect {
        case e: ShuffleExchangeExec if baseScan(e.child) =>
          e.output.map(_.name).toSet
      }
      assert(moved.forall(_ == Set("id")),
        s"$step: a target shuffle carries non-key columns: $moved")
    }
    operators.NamedQuery.withConf(spark, Map(
        "spark.sql.autoBroadcastJoinThreshold" -> "262144",
        "spark.sql.adaptive.enabled" -> "false")) {
      eng.sql(s"INSERT INTO $t VALUES (7, 70, 'c'), (30000, 1, 'c') " +
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v")
      val s7 = eng.table(t).filter(col("id") === 7).select("s").head().getString(0)
      check("ON CONFLICT DO UPDATE", Seq(s"[7,70,$s7]"))
      eng.sql(s"MERGE INTO $t AS t USING ${t}_src AS s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (s.id, s.v, s.s)")
      check("insert-only MERGE", Seq(s"[7,70,$s7]"))
      assert(eng.table(t).count() == 20003L)
    }
    Seq(t, s"${t}_src").foreach(eng.dropTable(_))
  }

  test("literal upserts read the prior version once: four VALUES ON " +
      "CONFLICT DO UPDATE leave one base scan, not 16, and a key-filtered " +
      "read still reaches it pushed") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val eng = Engine(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqlitups").toString
    val t = s"pq_litups_${System.nanoTime()}"
    spark.range(1000).select(col("id").cast("int").as("id"),
        (col("id") * 3).cast("int").as("v"))
      .write.parquet(s"$dir/base")
    eng.registerTable(t, s"$dir/base")
    (1 to 4).foreach { r =>
      val got = eng.sql(s"INSERT INTO $t VALUES ($r, ${r * 100}), " +
        s"(${1000 + r}, $r) ON CONFLICT (id) DO UPDATE SET v = excluded.v")
        .head().toSeq
      assert(got == Seq(1L, 1L), s"upsert $r counts $got")
    }
    val plan = castToImpl(eng.table(t)).queryExecution.optimizedPlan
    val leaves = plan.collectLeaves().count(_.isInstanceOf[LogicalRelation])
    assert(leaves == 1, s"$leaves base scans after four upserts\n$plan")
    assert(scans(eng.table(t)).size == 1)
    val read = eng.table(t).filter(col("id") === 3)
    scans(read).foreach(f => assert(f.metadata.getOrElse("PushedFilters", "")
      .contains("EqualTo(id,3)"), f.metadata))
    assert(read.collect().map(_.toString).toSeq == Seq("[3,300]"))
    assert(eng.table(t).count() == 1004L)
    eng.dropTable(t)
  }

  test("q1_agg runs with exactly one shuffle") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect()
    val qe = castToImpl(df).queryExecution
    val exchanges = qe.executedPlan.collect {
      case e: ShuffleExchangeExec => e
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
    }
    assert(exchanges.size <= 2, s"unexpected shuffles: ${exchanges.size}")
  }
}
