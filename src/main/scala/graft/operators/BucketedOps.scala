package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Bucketed co-located fact layout — the storage decision a 100 TB
  * deployment makes for its hottest join: lineitem and orders are
  * written ONCE as Spark bucketed tables, hash-bucketed and sorted on
  * the order key with the same bucket count, so every subsequent
  * lineitem⋈orders join (and any aggregation keyed on the order key)
  * plans WITHOUT a shuffle exchange — the scan itself reports the
  * required hash partitioning. This trades one layout write for an
  * exchange-free plan on every query that follows; at a daily-refresh
  * cadence the write amortizes across the whole day's workload. The
  * reference's analog is row-group-aligned partitioning
  * (task_partitioner.cpp:59-96) — co-location by key takes that one
  * step further, aligning the PARTITIONING of two tables instead of
  * the split boundaries of one.
  *
  * The q154–q156 variants below are the q12/q68/q69 plans re-read from
  * this layout: identical semantics (same oracle SQL), minus the
  * l_orderkey exchange that dominated their sf10 cost. The
  * shuffle_hash hints of the unbucketed variants are dropped — the
  * bucketed scan's sort order feeds a zero-exchange sort-merge join
  * directly.
  */
object BucketedOps {

  /** Buckets per table. Matches the bench session's core count; a
    * production cluster sizes this to (table size / target file size)
    * and both tables of a co-located pair MUST agree on it. */
  val BucketCount = 32

  /** Buckets for the minute rollup — far fewer distinct rows than the
    * fact layouts (minutes × types). */
  val RollupBuckets = 8

  private val memo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, String)]

  /** Bucketed (lineitem, orders) catalog-table names for a dataset dir,
    * created on first use per (session, dir). Table names carry the JVM
    * pid — two concurrent processes sharing ./spark-warehouse must
    * never overwrite each other's layout mid-scan (same rule as the
    * persisted shingle index). Orphan layouts from dead JVMs are reaped
    * lazily here, and a shutdown hook drops this JVM's own. */
  def factPair(s: SparkSession, d: String): (String, String) =
    memo.getOrElseUpdate((s, d), {
      reapDeadLayouts()
      val suf = s"${ProcessHandle.current.pid}_" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      val (tli, to) = (s"bk_li_$suf", s"bk_o_$suf")
      // the two fact layouts are independent (different inputs,
      // different catalog tables) — overlap their writes (guide §2.6)
      // so orders' shuffle back-fills lineitem's write tail. sf0.1:
      // 2.03 + 1.39 s sequential → ~2.1 s overlapped (StagesProbe A/B).
      // orders additionally partition by o_year: the order-date range
      // filter is the table's hottest predicate (TPC-H Q3/Q5 shape and
      // every dashboard's date window), so the layout prunes whole year
      // directories at listing time while the bucket columns keep the
      // fact join exchange-free. Q156Probe (sf10): 1.84 → 1.58 s with
      // the same zero-exchange fact path; layout write +4 s once.
      NamedQuery.inParallel(
        () => writeBucketed(t(s, d, "lineitem"), tli, Seq("l_orderkey")),
        () => writeBucketed(t(s, d, "orders")
            .withColumn("o_year", year(col("o_orderdate"))),
          to, Seq("o_orderkey"), partitionCol = Some("o_year")))
      sys.addShutdownHook {
        try {
          s.sql(s"DROP TABLE IF EXISTS $tli")
          s.sql(s"DROP TABLE IF EXISTS $to")
        } catch { case _: Throwable => () } // session may already be down
      }
      (tli, to)
    })

  /** One file per bucket: repartitioning on the bucket key with
    * `BucketCount` partitions uses the SAME murmur3 `pmod` assignment
    * as the bucket-id computation, so each write task holds exactly
    * one bucket's rows — without it, every task writes a file into
    * every bucket (tasks × buckets files). */
  private[graft] def writeBucketed(df: DataFrame, name: String,
      keys: Seq[String], buckets: Int = BucketCount,
      partitionCol: Option[String] = None,
      sortCols: Seq[String] = Nil): Unit = {
    val sorts = if (sortCols.isEmpty) keys else sortCols
    val w = df.repartition(buckets, keys.map(col): _*)
      .write.mode("overwrite")
    partitionCol.fold(w)(w.partitionBy(_))
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(sorts.head, sorts.tail: _*)
      .saveAsTable(name)
  }

  private val memoEvents = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Bucketed event-log layout: hash-bucketed on `user_id` AND sorted
    * within each bucket on (`user_id`, `ts`) — the layout a production
    * event store lands its compacted log in (one file per bucket, so
    * the scan REPORTS the sort order; Spark only trusts bucket sort
    * metadata when a bucket is a single file). Every per-user
    * time-ordered computation — sessionization, funnels, as-of lookups
    * — then plans with ZERO exchange and ZERO sort: the scan itself
    * satisfies both the window's clustering and its ordering. This is
    * the events analog of [[factPair]]: q57's stage accounting put 94%
    * of the query in the user-key shuffle+sort; the layout pays that
    * movement once per snapshot instead of once per query. */
  def eventsByUser(s: SparkSession, d: String): String =
    memoEvents.getOrElseUpdate((s, d), {
      reapDeadLayouts()
      val suf = s"${ProcessHandle.current.pid}_" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      val tev = s"bk_ev_$suf"
      writeBucketed(t(s, d, "events"), tev, Seq("user_id"),
        sortCols = Seq("user_id", "ts"))
      sys.addShutdownHook {
        try s.sql(s"DROP TABLE IF EXISTS $tev")
        catch { case _: Throwable => () }
      }
      tev
    })

  /** Minute-grain partials of an events-shaped frame: the rows of the
    * [[eventsMinuteRollup]] layout. */
  private def minutePartials(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))

  private val memoEvRollup = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Minute-grain rollup of the event log: (event_type, minute) →
    * (count, unrounded value sum), bucketed on `event_type` and sorted
    * (event_type, m). This is the streaming-ingest rollup a metrics
    * pipeline materializes continuously (the MV-partials idea of
    * q159/q160 applied to the time dimension): count and sum COMPOSE,
    * so any coarser time grain — hour, day, week — re-aggregates from
    * the minute partials without touching the raw events. q30's Q30Probe
    * floor proof showed the bare 3-column events scan costs 6× DuckDB's
    * whole query at sf10; the rollup shrinks that scan ~50× (minutes ×
    * types vs raw events) and the hour fold consumes the bucket
    * clustering, so the production path pays neither the corpus scan
    * nor an exchange. Grain choice is deliberate: minute ≠ the query's
    * hour grain, so q164 is a REAL re-aggregation (60× fold), not a
    * precomputed answer — the same honesty rule as the token manifest
    * (materialize the reusable statistic, not the query result). */
  def eventsMinuteRollup(s: SparkSession, d: String): String =
    memoEvRollup.getOrElseUpdate((s, d), {
      reapDeadLayouts()
      val suf = s"${ProcessHandle.current.pid}_" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      val tevr = s"bk_evr_$suf"
      writeBucketed(minutePartials(t(s, d, "events")),
        tevr, Seq("event_type"), buckets = RollupBuckets,
        sortCols = Seq("event_type", "m"))
      sys.addShutdownHook {
        try s.sql(s"DROP TABLE IF EXISTS $tevr")
        catch { case _: Throwable => () }
      }
      tevr
    })

  /** Token-manifest rows of a documents-shaped frame: the rows of the
    * [[docsTokens]] layout. */
  private def manifestRows(docs: DataFrame): DataFrame =
    docs
      .filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"),
        graft.functions.TokenCount.tokenCount(col("text")).as("tok"))
      .withColumn("b", floor(col("doc_id") / 8192L))

  private val memoDocsTok = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Token-count manifest layout for the documents corpus: a NARROW
    * table (doc_id, lang, tok, b) with `TokenCount` materialized at
    * write time — the statistic every packing/budgeting/mixing query
    * recomputes from the full text otherwise — bucketed on
    * (lang, b) and sorted on (lang, b, doc_id), one file per bucket.
    * `b` is the intra-language doc_id range bucket the de-skewed
    * prefix-sum queries partition on (doc_id DIV 8192, matching
    * [[CurationOps.packShards]]). Shard packing then reads ~2% of the
    * corpus bytes with its window clustering AND ordering satisfied by
    * the scan: no corpus shuffle, no corpus sort, no text re-scan.
    * This is the ingest-time manifest a production training-data
    * pipeline writes next to the corpus. */
  def docsTokens(s: SparkSession, d: String): String =
    memoDocsTok.getOrElseUpdate((s, d), {
      reapDeadLayouts()
      val suf = s"${ProcessHandle.current.pid}_" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      val tdoc = s"bk_dt_$suf"
      writeBucketed(manifestRows(t(s, d, "documents")),
        tdoc, Seq("lang", "b"), sortCols = Seq("lang", "b", "doc_id"))
      sys.addShutdownHook {
        try s.sql(s"DROP TABLE IF EXISTS $tdoc")
        catch { case _: Throwable => () }
      }
      tdoc
    })

  /** Delete warehouse dirs of `bk_*` layouts whose owning JVM is dead
    * (kill -9 skips shutdown hooks; without this, each killed bench
    * run would leak a full fact-table copy). */
  private def reapDeadLayouts(): Unit = {
    val wh = new java.io.File("spark-warehouse")
    Option(wh.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("bk_"))
      .foreach { f =>
        val alive = f.getName.split("_").lift(2)
          .flatMap(p => scala.util.Try(p.toLong).toOption)
          .exists(p => ProcessHandle.of(p)
            .map[java.lang.Boolean](_.isAlive).orElse(false))
        if (!alive) {
          def rm(x: java.io.File): Unit = {
            Option(x.listFiles).getOrElse(Array.empty[java.io.File])
              .foreach(rm)
            x.delete(); ()
          }
          rm(f)
        }
      }
  }

  /** Warm hook for Bench: materialize the layout outside query timing
    * (the write is the amortized once-per-snapshot cost, reported as
    * its own stage entry like the shingle stage). */
  private[graft] def warmLayout(s: SparkSession, d: String): Unit = {
    factPair(s, d); ()
  }

  /** q12 on the bucketed layout. The per-order pre-aggregation groups
    * on the bucket key, so even the PARTIAL aggregate consumes the
    * scan's partitioning — the only shuffle left in the whole plan is
    * the final 5-row segment rollup. */
  val joinAggBucketed: NamedQuery = NamedQuery("q154_join_agg_bucketed",
    Some("""SELECT c_mktsegment,
           |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           |count(DISTINCT o_orderkey) AS n_orders
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_mktsegment""".stripMargin),
    (s, d) => {
      val (tli, to) = factPair(s, d)
      val li = s.table(tli); val o = s.table(to)
      val c = t(s, d, "customer")
      val perOrder = li.groupBy("l_orderkey")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("rev"))
      perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(NamedQuery.maybeBroadcastByFootprint(c, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(round(sum(col("rev")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    })

  /** q68 (TPC-H Q3 shape) on the bucketed layout: the customer join
    * broadcasts and PRESERVES orders' bucket partitioning, the fact
    * join consumes it, and the group keys include the bucket key — a
    * zero-shuffle-exchange plan end to end (top-10 runs as
    * TakeOrdered, no range exchange). */
  val tpchQ3Bucketed: NamedQuery = NamedQuery("q155_tpch_q3_bucketed",
    Some("""SELECT l_orderkey,
           |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           |CAST(o_orderdate AS DATE) AS odate, o_orderpriority
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
           |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
           |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    (s, d) => {
      val (tli, to) = factPair(s, d)
      val c = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      // o_year bound implied by the date predicate → partition pruning
      val o = s.table(to)
        .filter(col("o_year") <= 1997 &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = s.table(tli)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      // shuffle_hash on the pruned orders side: both scans already
      // satisfy the join's hash distribution, so the SHJ ALSO runs with
      // zero exchanges but skips the merge-stream — it builds a
      // per-bucket hash of the filtered orders (|orders ∩ filter| /
      // buckets rows, bounded by the layout's bucket sizing) and probes
      // the lineitem bucket through it. Q156Probe sf10: 1.28 → 1.06 s.
      val oc = o.join(
          NamedQuery.maybeBroadcastByFootprint(c, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .hint("shuffle_hash")
      li.join(oc, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          col("o_orderdate").cast("date").as("odate"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select("l_orderkey", "revenue", "odate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    })

  /** q69 (TPC-H Q5 shape) on the bucketed layout: the broadcast
    * supplier prune preserves lineitem's bucket partitioning into the
    * fact join; only the 5-row nation rollup exchanges. */
  val tpchQ5Bucketed: NamedQuery = NamedQuery("q156_tpch_q5_bucketed",
    Some("""SELECT n_name,
           |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
           |FROM region
           |JOIN nation ON n_regionkey = r_regionkey
           |JOIN customer ON c_nationkey = n_nationkey
           |JOIN orders ON o_custkey = c_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |  AND s_nationkey = c_nationkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
           |GROUP BY n_name""".stripMargin),
    (s, d) => {
      val (tli, to) = factPair(s, d)
      val r = t(s, d, "region").filter(col("r_name") === "ASIA")
      val asiaN = t(s, d, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val suBase = t(s, d, "supplier")
      val suA = suBase
        .join(broadcast(asiaN), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey")
      val cBase = t(s, d, "customer")
      val cA = cBase
        .join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
      // o_year bounds implied by the date range → partition pruning.
      // Customer is pre-joined into the SHJ BUILD side (the q155 shape):
      // the build shrinks to ASIA-only orders and the fact probe's
      // output is final rows, instead of probing customer AFTER the
      // fact join — which the r10 stage accounting measured at 46% of
      // the query (StageAccount: p4−p3 = 0.65 s of 1.3 at sf10).
      val o = s.table(to)
        .filter(col("o_year").between(1996, 1998)
          && col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val oc = o.join(NamedQuery.maybeBroadcastByFootprint(cA, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
        .hint("shuffle_hash")
      val li = s.table(tli)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      li.join(NamedQuery.maybeBroadcastByFootprint(suA, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
          col("s_nationkey"))
        // the nation match is a RESIDUAL condition of the fact join:
        // spelled as an equality the optimizer extracts it as a second
        // equi-key, (l_orderkey, s_nationkey) ↔ (o_orderkey, c_nationkey),
        // which the l_orderkey bucketing does not satisfy, and both fact
        // sides re-shuffle. As a difference (nation keys are small
        // non-null ints, so `a - b = 0` ≡ `a = b`) it stays a condition
        // evaluated during the probe of the co-partitioned l_orderkey
        // join: zero fact exchange, one left (the 5-row n_name rollup)
        .join(oc, col("l_orderkey") === col("o_orderkey") &&
          (col("s_nationkey") - col("c_nationkey")) === 0)
        .join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    })

  /** q57 (sessionization) on the user-bucketed event log. Identical
    * semantics and oracle SQL; the window's PARTITION BY user_id ORDER
    * BY ts is satisfied by the scan itself (bucket hash distribution +
    * single-file-per-bucket sort metadata), and the per-user rollup
    * consumes the same distribution — the whole plan runs without one
    * exchange or sort operator. q57's Q30Probe stage accounting showed
    * the user-key shuffle+sort at 94% of the query; this is that 94%
    * moved into the amortized layout write. */
  val sessionsBucketed: NamedQuery = NamedQuery(
    "q161_events_sessions_bucketed",
    Some("""WITH g AS (
           |  SELECT user_id,
           |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
           |            - lag(CAST(floor(epoch(ts)) AS BIGINT))
           |              OVER (PARTITION BY user_id ORDER BY ts) > 1800
           |         THEN 1 ELSE 0 END AS brk
           |  FROM events)
           |SELECT user_id, CAST(sum(brk) + 1 AS BIGINT) AS n_sessions
           |FROM g GROUP BY user_id""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      // the window MUST order by the raw sorted column (ts), not a
      // derived expression, or the scan's sort metadata can't satisfy
      // it; the gap test converts to epoch seconds AFTER the lag
      s.table(eventsByUser(s, d))
        .select("user_id", "ts")
        .withColumn("brk",
          when(unix_timestamp(col("ts"))
            - unix_timestamp(lag("ts", 1).over(w)) > 1800, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg((sum("brk") + 1).as("n_sessions"))
      // the scan reports the (user_id, ts) order because query sessions
      // trust single-file bucket sort metadata ([[graft.GraftSession]]);
      // [[writeBucketed]] writes every bucket as EXACTLY one file, and
      // the law in PlanQualitySpec pins the sort-free plan
    })

  /** q58 (as-of join) on the user-bucketed event log. q58's window
    * orders by (ts, is_signup DESC) so that at equal timestamps the
    * signup precedes the error inside a ROWS frame; a secondary order
    * key would invalidate the layout's (user_id, ts) sort metadata and
    * force a sort back in. A RANGE frame removes the need for the tie
    * key: at an error row with time T it spans ALL rows with ts ≤ T —
    * equal-timestamp signups included regardless of intra-tie order —
    * which is exactly the inclusive `e.ts >= s.ts` as-of bound. With
    * the window ordered by the raw sorted column, the whole as-of runs
    * from the scan: zero exchange, zero sort. */
  val asofBucketed: NamedQuery = NamedQuery("q162_asof_join_bucketed",
    Some("""SELECT e.event_id, s.ts AS signup_ts
           |FROM (SELECT * FROM events WHERE event_type = 'error') e
           |ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
           |ON e.user_id = s.user_id AND e.ts >= s.ts""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      s.table(eventsByUser(s, d))
        .filter(col("event_type").isin("signup", "error"))
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_type") === "signup").as("is_signup"))
        .withColumn("signup_ts",
          max(when(col("is_signup"), col("ts"))).over(w))
        .filter(!col("is_signup") && col("signup_ts").isNotNull)
        .select("event_id", "signup_ts")
    })

  /** q30 (hourly events dashboard) on the minute-grain rollup.
    * Identical semantics and oracle SQL: hour-grain count and sum fold
    * from the minute partials (count/sum compose — the ResultMerger
    * re-aggregation law, applied to the time dimension). The group
    * keys (event_type, hour(m)) include the bucket key, so the scan's
    * hash distribution satisfies the aggregation's clustering and the
    * whole plan is scan → agg → project with ZERO exchanges. The
    * Q30Probe floor (the raw 3-column events scan alone costs 6× the
    * oracle's whole query) is paid once per snapshot in the rollup
    * write, not once per dashboard refresh. */
  val eventsHourlyRollup: NamedQuery = NamedQuery(
    "q164_events_hourly_rollup",
    Some("""SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n,
           |round(sum(value), 2) AS sum_v
           |FROM events GROUP BY 1, 2""".stripMargin),
    (s, d) => s.table(eventsMinuteRollup(s, d))
      .groupBy(col("event_type"), date_trunc("hour", col("m")).as("h"))
      .agg(sum("n").as("n"), round(sum("sv"), 2).as("sum_v")))

  /** Warm hook for Bench: ALL event-log layouts (user-bucketed,
    * minute rollup, Z-order, time-sorted) in ONE maintenance pass with
    * the four independent writes overlapped (guide §2.6) — the shape a
    * production event store actually runs: one compaction job lands
    * every derived layout of a snapshot, so the wall-clock cost is the
    * slowest write, not the sum. Each builder stays individually
    * memoized, so direct query calls outside the bench still build
    * lazily. sf0.1: 0.52 + 0.81 + 2.51 + 1.49 s as four sequential
    * stages → ~2.8 s as one overlapped stage. */
  private[graft] def warmEventsLayouts(s: SparkSession, d: String): Unit = {
    // one events scan feeds all four builders: the cache is plan-keyed,
    // so each builder's own t(s, d, "events") (and the range samplers'
    // re-reads) resolve to it; dropped before return so the TIMED
    // queries afterwards compute from the written layouts/parquet, not
    // a warm cache (the stage itself is a timed bench entry)
    val ev = t(s, d, "events").cache()
    // hoist the TIMESTAMP_MICROS conf around the fan-out: two
    // concurrent writeSorted builders (Z-order, time-sorted) would
    // otherwise race on the session-wide set/restore — one thread's
    // finally-restore landing between the other's set and its write
    // planning, silently losing the micros row-group stats the layouts
    // exist for (ADVICE r18). Inside the hoisted window each builder's
    // own scope is a no-op (the value is already MICROS).
    try NamedQuery.withConf(s, MicrosTimestamps) {
      NamedQuery.inParallel(
        () => { eventsByUser(s, d); () },
        () => { eventsMinuteRollup(s, d); () },
        () => { eventsZOrder(s, d); () },
        () => { eventsByTime(s, d); () })
    } finally { ev.unpersist(); () }
  }

  /** Warm hook for Bench (documents token manifest). */
  private[graft] def warmDocsTokens(s: SparkSession, d: String): Unit = {
    docsTokens(s, d); ()
  }

  // ---------------------------------------------------------------------
  // Sort-clustered layouts: data skipping by physical row order.
  // The bucketed layouts above remove EXCHANGES; these remove READS —
  // parquet min/max stats prune row groups the predicate cannot match,
  // but only if the layout clusters the predicate columns. At 100 TB
  // a point-in-time, point-in-user box query must not scan the table.
  // ---------------------------------------------------------------------

  /** File count for the sort-clustered layouts — a constant, because
    * the FILE grid only needs to be fine enough to seed pruning; the
    * ROW GROUP is the real pruning unit and [[writeSorted]] caps its
    * size, so granularity keeps improving inside files as data grows.
    * 256 files makes the Z-grid 16×16 (at F=64 a 12%×10% box read
    * MORE than the time-sorted layout, 14% vs 11%; at F=256 it wins
    * 2-4×), and growing the count past that only buys footer/listing
    * overhead: the sf100 A/B (ZOrderProbe, 100M rows) measured
    * 1024 files × 8 MB groups vs 256 × 4 MB at identical rows-read
    * (±20%) but 0.52→0.30 s (box), 0.39→0.17 s (drill-down),
    * 1.45→1.30 s (week), and write 38→34 s. At cluster scale the
    * same holds: object stores want ~10²-10³ large files, parallelism
    * comes from maxPartitionBytes splits (task count is independent
    * of file count), and row-group stats carry the skipping. */
  private[graft] val clusterFiles: Int = 256

  /** The sort-clustered layouts' timestamp encoding (see [[writeSorted]]). */
  private val MicrosTimestamps =
    Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  /** Range-partition on `sortCol` and sort within partitions, so each
    * written file covers a disjoint `sortCol` range. Timestamps go out
    * as TIMESTAMP_MICROS — INT96 (a Spark default elsewhere) carries no
    * parquet min/max stats and would silently disable the pruning this
    * layout exists for. */
  private[graft] def writeSorted(df: DataFrame, name: String,
      sortCol: org.apache.spark.sql.Column, files: Int): Unit = {
    // rows within a file are sorted, so each ROW GROUP covers a
    // contiguous sort-key range too — 4 MB groups keep the pruning
    // unit fine-grained even when decade-tier files grow past it
    // (the sf100 A/B at [[clusterFiles]] fixed this size)
    NamedQuery.withConf(df.sparkSession, MicrosTimestamps) {
      df.repartitionByRange(files, sortCol)
        .sortWithinPartitions(sortCol)
        .write.mode("overwrite")
        .option("parquet.block.size", (4L << 20).toString)
        .saveAsTable(name)
    }
  }

  /** Collision-free DIRECTED repartition: routes each row to exactly
    * the partition named by `cell` ∈ [0, cells). Replaces
    * `repartitionByRange` for the fixed-grid Z layout, removing the
    * range sampler's extra job (the sampler re-executes the child
    * lineage to draw boundaries that a fixed grid already knows), and
    * replaces a plain hash repartition on the cell id, whose murmur3
    * collisions would merge ~1/e of the grid cells into shared files
    * and degrade the 2-D skipping the layout exists for (the r18 probe
    * that measured 1.41 → 1.24 s but was refused on collision risk).
    *
    * Mechanism: for every target partition p a salt long s_p is
    * chosen on the driver so that the shuffle's own partition-id
    * expression (`HashPartitioning.partitionIdExpression`, the one
    * `repartition(cells, …)` evaluates per row) maps s_p to p, and the
    * plan repartitions on the salt looked up by cell id: every row of
    * cell p lands in partition p, bijectively, no sampler, no
    * collisions. The search evaluates that expression, not a copy of
    * its hash, so a change of Spark's hash function or seed moves the
    * salts with it. For 256 cells it takes ~1.5k evaluations and no job.
    *
    * A null `cell` looks up a null salt, and HashPartitioning sends a
    * null key to the partition of the hash seed alone (pmod(42, cells)
    * in Spark 4.1), which it shares with a real cell. The Z layout's
    * cells are never null: [[graft.functions.Morton.rank16]] maps a
    * null coordinate to rank 0, because `greatest` skips nulls. */
  private[graft] def repartitionDirected(df: DataFrame, cells: Int,
      cell: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.LongType
    val partitionId = HashPartitioning(
      Seq(BoundReference(0, LongType, nullable = false)), cells)
      .partitionIdExpression
    val salts = new Array[Long](cells)
    val found = new Array[Boolean](cells)
    var remaining = cells
    var v = 0L
    while (remaining > 0) {
      val p = partitionId.eval(InternalRow(v)).asInstanceOf[Int]
      if (!found(p)) { found(p) = true; salts(p) = v; remaining -= 1 }
      v += 1
    }
    df.repartition(cells,
      element_at(typedlit(salts.toSeq), cell.cast("int") + lit(1)))
  }

  /** [[writeSorted]] for a layout whose file grid is KNOWN up front
    * (the Z-order curve): same timestamp encoding and row-group
    * sizing, but files come from [[repartitionDirected]] on the given
    * cell id instead of a sampled range partitioning — one fewer job
    * per layout build, identical disjoint-range invariant (cell p
    * covers exactly the z range [p·2²⁴, (p+1)·2²⁴)). */
  private[graft] def writeSortedDirected(df: DataFrame, name: String,
      sortCol: org.apache.spark.sql.Column,
      cell: org.apache.spark.sql.Column, cells: Int): Unit = {
    NamedQuery.withConf(df.sparkSession, MicrosTimestamps) {
      repartitionDirected(df, cells, cell)
        .sortWithinPartitions(sortCol)
        .write.mode("overwrite")
        .option("parquet.block.size", (4L << 20).toString)
        .saveAsTable(name)
    }
  }

  /** The rank grid of a Z-ordered layout: the (user_id, ts) ranges its
    * 16-bit ranks scale over. */
  private[graft] case class ZBounds(minU: Long, maxU: Long,
      minT: Long, maxT: Long)

  private[graft] def zOf(b: ZBounds): org.apache.spark.sql.Column =
    graft.functions.Morton.zValue(
      graft.functions.Morton.rank16(col("user_id"), b.minU, b.maxU),
      graft.functions.Morton.rank16(expr("unix_micros(ts)"), b.minT, b.maxT))

  /** Write an events projection as the Z-ordered layout `name`. The
    * rank grid comes from one 1-row stats aggregate over `ev`. Returns
    * the grid used. */
  private[graft] def writeZOrder(ev: DataFrame, name: String): ZBounds = {
    val r = ev.agg(min("user_id"), max("user_id"),
      expr("unix_micros(min(ts))"), expr("unix_micros(max(ts))")).head
    // null aggregates (empty input) degrade to the degenerate grid
    // rather than NPE — rank16 maps everything to 0 and the layout
    // is a valid empty/constant-cell table
    def l(i: Int) = Option(r.get(i))
      .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    val b = ZBounds(l(0), l(1), l(2), l(3))
    // fixed Morton grid: the file id is the top 8 bits of the 32-bit
    // z-value (a 16×16 rectangle of the rank plane per file), so the
    // write needs no range sampler — [[writeSortedDirected]]. Ranks
    // are near-uniform by construction (rank16 spreads min..max), so
    // the fixed grid is also near-balanced wherever the sampled grid
    // was.
    writeSortedDirected(ev.withColumn("z", zOf(b)), name, col("z"),
      zCell(col("z"), clusterFiles), clusterFiles)
    b
  }

  /** The file of 32-bit z-value `z` among `cells` files: its top
    * log2(cells) bits. Only a power of two splits the z range into
    * `cells` equal cells — any other count would leave ids past the
    * last file or files no id names, so it is refused. */
  private[graft] def zCell(z: org.apache.spark.sql.Column,
      cells: Int): org.apache.spark.sql.Column = {
    require(Integer.bitCount(cells) == 1,
      s"Z-order cell count must be a power of two, got $cells")
    shiftright(z, 32 - Integer.numberOfTrailingZeros(cells))
  }

  private val memoZ = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, Long)]

  /** Z-ordered event layout: rows sorted by the Morton interleave of
    * (user_id, ts) ranks ([[graft.functions.Morton]]), so every file /
    * row group covers a small RECTANGLE of the (user, time) plane and
    * a 2-D box predicate prunes to the few row groups intersecting it.
    * A single-column sort prunes only its own column — the other
    * dimension spreads over every file and its stats are useless
    * (measured in ZOrderSpec). The rank scaling needs the two column
    * ranges: one 1-row stats aggregate at layout-write time (the same
    * sanctioned once-per-snapshot driver fetch as the IVF centroids).
    * Returns (table name, max user_id) — the stats the box queries
    * derive their tier-relative bounds from. */
  def eventsZOrder(s: SparkSession, d: String): (String, Long) =
    memoZ.getOrElseUpdate((s, d), {
      reapDeadLayouts()
      val suf = s"${ProcessHandle.current.pid}_" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      val tz = s"bk_z_$suf"
      val ev = t(s, d, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val b = writeZOrder(ev, tz)
      sys.addShutdownHook {
        try s.sql(s"DROP TABLE IF EXISTS $tz")
        catch { case _: Throwable => () }
      }
      (tz, b.maxU)
    })

  private val memoTl = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Time-sorted event layout (the standard single-dimension event-log
    * clustering): files cover disjoint ts ranges, so time-window scans
    * prune to the window's files. This is both a production layout in
    * its own right (q175) and the honest comparison baseline for the
    * Z-order skipping law — Z-order trades a little time-pruning
    * granularity for pruning on BOTH dimensions. */
  def eventsByTime(s: SparkSession, d: String): String =
    memoTl.getOrElseUpdate((s, d), {
      reapDeadLayouts()
      val suf = s"${ProcessHandle.current.pid}_" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      val tl = s"bk_tl_$suf"
      val ev = t(s, d, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      writeSorted(ev, tl, col("ts"), clusterFiles)
      sys.addShutdownHook {
        try s.sql(s"DROP TABLE IF EXISTS $tl")
        catch { case _: Throwable => () }
      }
      tl
    })

  /** 2-D box query on the Z-ordered layout: one user-range octile ×
    * one 3-day window. Bounds are tier-relative (derived from the
    * layout's max user_id on the Spark side, a scalar subquery on the
    * DuckDB side) so the box stays a constant FRACTION of the table at
    * every tier; both predicates reach the scan as pushed literal
    * filters and parquet stats prune the non-intersecting row groups
    * (ZOrderSpec pins rows-read under half the time-sorted twin's).
    * Plan: pruned scan → partial agg → one ≤5-row exchange. */
  val zorderBox: NamedQuery = NamedQuery("q174_zorder_box",
    Some("""WITH b AS (SELECT (max(user_id)+1)//8 AS w FROM events)
           |SELECT event_type, count(*) AS n,
           |round(sum(value), 2) AS sum_v
           |FROM events, b
           |WHERE user_id >= 2*w AND user_id < 3*w
           |AND ts >= TIMESTAMP '2024-01-10 00:00:00'
           |AND ts < TIMESTAMP '2024-01-13 00:00:00'
           |GROUP BY event_type ORDER BY event_type""".stripMargin),
    (s, d) => {
      val (tz, maxU) = eventsZOrder(s, d)
      val w = (maxU + 1L) / 8L
      s.table(tz)
        .filter(col("user_id") >= lit(2L * w) &&
          col("user_id") < lit(3L * w) &&
          col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
        .orderBy("event_type")
    })

  /** Week-window daily rollup on the time-sorted layout — the
    * dashboard query an event store answers all day. The window
    * predicate prunes the scan to the week's files/row groups
    * (ZOrderSpec law); DISTINCT user_id keeps the fold honest (it
    * cannot be answered from partials, so this genuinely re-reads the
    * pruned window). */
  val timeRangeDaily: NamedQuery = NamedQuery("q175_time_range_daily",
    Some("""SELECT CAST(ts AS DATE) AS day, count(*) AS n,
           |count(DISTINCT user_id) AS dau,
           |round(sum(value), 2) AS sum_v
           |FROM events
           |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
           |AND ts < TIMESTAMP '2024-01-15 00:00:00'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => s.table(eventsByTime(s, d))
      .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("dau"),
        round(sum("value"), 2).as("sum_v"))
      .orderBy("day"))

  def defs: Seq[NamedQuery] =
    Seq(joinAggBucketed, tpchQ3Bucketed, tpchQ5Bucketed, sessionsBucketed,
      asofBucketed, eventsHourlyRollup, zorderBox, timeRangeDaily)
}
