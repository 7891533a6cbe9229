package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** A query exposed through SparkEntry: Spark implementation + (optionally)
  * the equivalent DuckDB SQL used as a correctness oracle. Column names are
  * aligned on both sides (the driver's comparator sorts columns by name).
  * A named query has one plan, whoever runs it: its execution shape lives
  * in the plan itself or in the query session ([[graft.GraftSession]]),
  * never in confs a runner sets around it. */
case class NamedQuery(name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

object NamedQuery {
  /** Run `body` with the session confs `conf` applied, restoring the
    * prior values after (exception-safe). For scopes inside an operator
    * (a loop's shuffle width, a layout write's timestamp encoding), so
    * every caller of the operator gets the same plan. */
  def withConf[T](s: SparkSession, conf: Map[String, String])(body: => T): T =
    if (conf.isEmpty) body
    else {
      val prior = conf.keys.map(k => k -> s.conf.getOption(k)).toSeq
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      try body
      finally prior.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }

  /** Row-count estimate from Catalyst plan statistics (file footprint ÷
    * bytes per row) — lets operators size blocks/buckets to the corpus
    * without running a count job at query-construction time. */
  def estimatedRows(df: DataFrame, bytesPerRow: Long): Long = {
    val sz = org.apache.spark.sql.classic.ClassicConversions.castToImpl(df)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    (sz / bytesPerRow).toLong.max(1L)
  }

  /** Broadcast hint gated on Catalyst's size estimate. A hard `broadcast()`
    * on an input that scales with the fact table (customer, supplier) OOMs
    * or hits the 8 GB broadcast limit at 100 TB — and the hint FORCES it,
    * where AQE would have degraded gracefully to a shuffle join. Under the
    * threshold the hint applies; over it the hint silently disappears and
    * AQE picks the strategy at runtime. */
  def maybeBroadcast(df: DataFrame, maxBytes: Long = 100L << 20): DataFrame =
    maybeBroadcast(df, df, maxBytes)

  /** Variant for a pruned/derived side whose own Catalyst estimate is
    * unusable (join stats multiply child sizes): gate on `upperBound` —
    * typically the base table scan, whose footprint bounds the derived
    * side's true size from above. */
  def maybeBroadcast(df: DataFrame, upperBound: DataFrame,
      maxBytes: Long): DataFrame = {
    val sz = org.apache.spark.sql.classic.ClassicConversions.castToImpl(upperBound)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    if (sz <= maxBytes) broadcast(df) else df
  }

  /** Run independent once-per-snapshot build/write actions CONCURRENTLY
    * (guide §2.6: Spark's scheduler happily runs several jobs at once —
    * actions are only sequential because driver code calls them
    * sequentially; a later job's tasks back-fill executors freed by an
    * earlier job's straggler tail). Only for tasks with independent
    * inputs and disjoint output paths, and only where a partial failure
    * has no recovery contract tied to ordering: fresh builds, and a
    * text-index refresh's metadata-partial appends (the dirty marker
    * covers a crash in any of them, and OPTIMIZE recomputes the
    * metadata from the postings) — but never its doclens append, which
    * must land after the postings because the crash recovery assumes
    * the postings doc set is a superset of the doclens'. The pool is task-sized, every task runs to
    * completion before return, first failure propagates. */
  def inParallel(tasks: (() => Unit)*): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    val done = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
    val fs = tasks.map(t =>
      done.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = t()
      }))
    try {
      // await in COMPLETION order, not submission order: a sibling that
      // failed instantly must surface even while an earlier task is
      // still running (ADVICE r18 — the old fs.foreach(_.get()) blocked
      // on task 1 for up to an hour while task 2's real error sat
      // unobserved), and take() wakes the moment any task ends
      fs.foreach(_ => done.take().get())
    } catch {
      case e: java.util.concurrent.ExecutionException =>
        // fail FAST: cancel the surviving siblings (their partial
        // builds are discarded by the caller's failure path anyway)
        fs.foreach(_.cancel(true))
        pool.shutdownNow()
        throw Option(e.getCause).getOrElse(e)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
      ()
    }
  }

  private val footprints =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Footprint gate straight from FILESYSTEM metadata (memoized): the
    * Catalyst-stats gates above run analyzer+optimizer over the bound
    * plan at every query CONSTRUCTION — measured 0.15 s of driver time
    * per q155 invocation at sf10 (AqeProbe r10), pure overhead for a
    * dimension whose on-disk size bounds the derived side from above.
    * Same scale-safety as the stats gate (file bytes >= in-plan bytes
    * for a pruned/projected side), none of the per-call plan work. */
  def maybeBroadcastByFootprint(df: DataFrame, dir: String, table: String,
      maxBytes: Long = 100L << 20): DataFrame =
    if (footprintOf(dir, table) <= maxBytes) broadcast(df) else df

  /** On-disk byte footprint of `dir/table.parquet` (memoized filesystem
    * metadata — no plan work, no job). */
  def footprintOf(dir: String, table: String): Long =
    footprints.getOrElseUpdate(s"$dir/$table", {
      val root = new java.io.File(s"$dir/$table.parquet")
      def size(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles).getOrElse(Array.empty[java.io.File])
            .map(size).sum
        else f.length
      size(root)
    })
}

/** The reference's delegated SQL surface (SURVEY.md §2.2), re-expressed as
  * declarative DataFrame programs so Catalyst plans the distribution:
  * filters/projections reach the parquet scan, aggregates run
  * partial→final, small join sides broadcast, sorts range-partition.
  *
  * Every float-producing aggregate is rounded on BOTH sides (Spark and
  * oracle) so hash comparison is stable across summation orders.
  */
object Relational {

  def defs: Seq[NamedQuery] = Seq(

    // -- scan / projection / filter (distributed_basic.test:37-58) --------
    NamedQuery("q01_scan",
      Some("SELECT r_regionkey, r_name FROM region"),
      (s, d) => t(s, d, "region").select("r_regionkey", "r_name")),

    NamedQuery("q02_projection",
      Some("SELECT l_orderkey, l_partkey, l_quantity FROM lineitem"),
      (s, d) => t(s, d, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")),

    NamedQuery("q03_filter",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
             |FROM lineitem
             |WHERE l_quantity BETWEEN 10 AND 20
             |  AND l_returnflag IN ('A','R')
             |  AND (l_discount > 0.05 OR l_tax <= 0.03)""".stripMargin),
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity").between(10, 20)
          && col("l_returnflag").isin("A", "R")
          && (col("l_discount") > 0.05 || col("l_tax") <= 0.03))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")),

    NamedQuery("q04_count_null",
      Some("""SELECT count(*) AS cnt_all,
             |       count(CASE WHEN l_discount > 0.05 THEN 1 END) AS cnt_cond
             |FROM lineitem""".stripMargin),
      (s, d) => t(s, d, "lineitem").agg(
        count(lit(1)).as("cnt_all"),
        count(when(col("l_discount") > 0.05, 1)).as("cnt_cond"))),

    // -- global aggregation (parallel_aggregation.test) -------------------
    NamedQuery("q05_agg_global",
      Some("""SELECT count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
             |round(avg(l_extendedprice), 4) AS avg_price,
             |round(min(l_discount), 2) AS min_disc, round(max(l_tax), 2) AS max_tax
             |FROM lineitem""".stripMargin),
      (s, d) => t(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(min("l_discount"), 2).as("min_disc"),
        round(max("l_tax"), 2).as("max_tax"))),

    // -- the driver-contract example ---------------------------------------
    NamedQuery("q1_agg",
      Some("SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem GROUP BY 1"),
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))),

    // -- TPC-H Q1 shape: partial+final agg over the fact table -------------
    NamedQuery("q06_tpch_q1",
      Some("""SELECT l_returnflag, l_linestatus,
             |round(sum(l_quantity), 2) AS sum_qty,
             |round(sum(l_extendedprice), 2) AS sum_base_price,
             |round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             |round(avg(l_quantity), 4) AS avg_qty,
             |round(avg(l_extendedprice), 4) AS avg_price,
             |round(avg(l_discount), 4) AS avg_disc,
             |count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin),
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    NamedQuery("q07_groupby_having",
      Some("""SELECT l_partkey, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY l_partkey HAVING count(*) > 35""".stripMargin),
      (s, d) => t(s, d, "lineitem").groupBy("l_partkey")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .filter(col("cnt") > 35)),

    // -- DISTINCT (row_group_partitioning.test:124-128) --------------------
    NamedQuery("q08_distinct",
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),
      (s, d) => t(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()),

    NamedQuery("q09_count_distinct",
      Some("SELECT count(DISTINCT l_suppkey) AS d_supp, " +
        "count(DISTINCT l_partkey) AS d_part FROM lineitem"),
      (s, d) => t(s, d, "lineitem").agg(
        countDistinct(col("l_suppkey")).as("d_supp"),
        countDistinct(col("l_partkey")).as("d_part"))),

    // -- ORDER BY / LIMIT / OFFSET (local_execution.test:30-46) ------------
    NamedQuery("q10_orderby_limit",
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      (s, d) => t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))),

    NamedQuery("q11_offset",
      Some("SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 100"),
      (s, d) => t(s, d, "orders").select("o_orderkey")
        .orderBy("o_orderkey").offset(100).limit(20)),

    // -- joins: the reference recognizes but never distributes these
    //    (query_plan_analyzer.cpp:122-131); Spark distributes them natively.
    NamedQuery("q12_join_agg",
      Some("""SELECT c_mktsegment,
             |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |count(DISTINCT o_orderkey) AS n_orders
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment""".stripMargin),
      (s, d) => {
        val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        // pre-aggregate lineitem to one row per order BEFORE the join:
        // shrinks the fact side of the join ~4x, and o_orderkey is unique
        // afterwards so count(DISTINCT) collapses to count(*) — no expand
        // pass. The pre-agg output is already hash-partitioned on the
        // join key, so the orders join reuses that partitioning.
        // REPARTITION the raw 16-byte (key, rev) rows before aggregating:
        // each order's ~4 rows scatter across every input partition, so
        // the pre-shuffle partial aggregate builds a ~2M-entry hash map
        // per partition and reduces nothing (partial agg pays only when
        // rows-per-key ≥ partition count — never true for this key shape
        // at any scale); exchanging raw rows first moves the same bytes
        // and aggregates clustered keys in one pass. Same law as the q42
        // sf100 signature fix. Measured sf10: 6.4 → 4.0 s (JoinProbe3).
        // customer scales with the facts — broadcast only while small.
        // shuffle_hash on the orders side: both sides are ~|orders| rows,
        // and SMJ's two 15M-row sorts cost more than building a
        // per-partition hash map (|orders|/numPartitions rows, a few MB —
        // the footprint FALLS as partitions grow, so the hint is
        // scale-safe; AQE still skew-splits SHJ). Measured sf10: 11.1 s
        // SMJ → see BENCH_NOTES round-7 table.
        val perOrder = li
          .select(col("l_orderkey"),
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("r0"))
          .repartition(col("l_orderkey"))
          .groupBy("l_orderkey")
          .agg(sum(col("r0")).as("rev"))
        perOrder.join(o.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .join(NamedQuery.maybeBroadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            round(sum(col("rev")), 2).as("revenue"),
            count(lit(1)).as("n_orders"))
      }),

    NamedQuery("q13_join_left",
      Some("""SELECT n_name, count(c_custkey) AS n_cust
             |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin),
      (s, d) => t(s, d, "nation")
        .join(t(s, d, "customer"),
          col("c_nationkey") === col("n_nationkey"), "left")
        .groupBy("n_name").agg(count(col("c_custkey")).as("n_cust"))),

    NamedQuery("q14_join_semi",
      Some("""SELECT c_custkey, c_name FROM customer WHERE EXISTS
             |(SELECT 1 FROM orders WHERE o_custkey = c_custkey
             | AND o_totalprice > 400000)""".stripMargin),
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),

    NamedQuery("q15_join_anti",
      Some("""SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS
             |(SELECT 1 FROM orders WHERE o_custkey = c_custkey
             | AND o_totalprice > 400000)""".stripMargin),
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    NamedQuery("q16_cross_join",
      Some("SELECT r_name, n_name FROM region CROSS JOIN nation"),
      (s, d) => t(s, d, "region").select("r_name")
        .crossJoin(t(s, d, "nation").select("n_name"))),

    // -- window functions (refused by the reference, native here) ----------
    NamedQuery("q17_window_rank",
      Some("""SELECT o_custkey, o_orderkey, rn FROM (
             |  SELECT o_custkey, o_orderkey,
             |         row_number() OVER (PARTITION BY o_custkey
             |             ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) sub WHERE rn <= 3""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "rn")
      }),

    NamedQuery("q18_window_running",
      // RANGE frame: (l_orderkey, l_linenumber) has duplicates in the
      // synthetic data, so a ROWS frame would be order-nondeterministic.
      Some("""SELECT l_orderkey, l_linenumber,
             |round(sum(l_quantity) OVER (PARTITION BY l_orderkey
             |  ORDER BY l_linenumber RANGE BETWEEN UNBOUNDED PRECEDING
             |  AND CURRENT ROW), 2) AS run_qty
             |FROM lineitem WHERE l_orderkey <= 1000""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "lineitem").filter(col("l_orderkey") <= 1000)
          .select(col("l_orderkey"), col("l_linenumber"),
            round(sum("l_quantity").over(w), 2).as("run_qty"))
      }),

    // -- CTE / subqueries (via spark.sql over the engine views) ------------
    NamedQuery("q19_cte", Some(
      """WITH high AS (
        |  SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 400000)
        |SELECT c_mktsegment, count(*) AS n
        |FROM high JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),
      sqlQuery("""WITH high AS (
        |  SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 400000)
        |SELECT c_mktsegment, count(*) AS n
        |FROM high JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin, "orders", "customer")),

    // -- set operations ----------------------------------------------------
    NamedQuery("q20_union",
      Some("""SELECT l_returnflag AS flag FROM lineitem
             |UNION SELECT o_orderstatus AS flag FROM orders""".stripMargin),
      (s, d) => t(s, d, "lineitem").select(col("l_returnflag").as("flag"))
        .union(t(s, d, "orders").select(col("o_orderstatus").as("flag")))
        .distinct()),

    NamedQuery("q21_intersect",
      Some("""SELECT l_partkey AS pk FROM lineitem
             |INTERSECT SELECT p_partkey AS pk FROM part""".stripMargin),
      (s, d) => t(s, d, "lineitem").select(col("l_partkey").as("pk"))
        .intersect(t(s, d, "part").select(col("p_partkey").as("pk")))),

    NamedQuery("q22_except",
      Some("""SELECT o_orderkey AS ok FROM orders
             |EXCEPT SELECT l_orderkey AS ok FROM lineitem""".stripMargin),
      (s, d) => t(s, d, "orders").select(col("o_orderkey").as("ok"))
        .except(t(s, d, "lineitem").select(col("l_orderkey").as("ok")))),

    // -- CASE / cast / concat (group_by_distributed.test:33-39) ------------
    NamedQuery("q23_case_cast",
      // floor() before the BIGINT cast: DuckDB rounds double→int casts,
      // Spark truncates — floor makes both identical.
      Some("""SELECT o_orderkey,
             |CASE WHEN o_totalprice > 300000 THEN 'big'
             |     WHEN o_totalprice > 100000 THEN 'mid'
             |     ELSE 'small' END AS bucket,
             |CAST(floor(o_totalprice) AS BIGINT) AS price_int,
             |o_orderstatus || '-' || o_orderpriority AS tag
             |FROM orders""".stripMargin),
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"),
        floor(col("o_totalprice")).cast("bigint").as("price_int"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"))),

    NamedQuery("q24_string_funcs",
      Some("""SELECT p_partkey, upper(p_brand) AS brand_u,
             |substr(p_name, 1, 8) AS name8, length(p_name) AS name_len,
             |octet_length(CAST(p_name AS BLOB)) AS name_bytes
             |FROM part WHERE p_name LIKE '%a%'""".stripMargin),
      (s, d) => t(s, d, "part").filter(col("p_name").like("%a%")).select(
        col("p_partkey"), upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 8).as("name8"),
        length(col("p_name")).cast("bigint").as("name_len"),
        octet_length(col("p_name")).cast("bigint").as("name_bytes"))),

    // -- list operations (list_type_support.test) --------------------------
    NamedQuery("q25_list_funcs",
      Some("""SELECT vec_id, len(embedding) AS n_dims,
             |round(CAST(embedding[1] AS DOUBLE), 4) AS first_elem, label
             |FROM embeddings""".stripMargin),
      (s, d) => t(s, d, "embeddings").select(
        col("vec_id"), size(col("embedding")).cast("bigint").as("n_dims"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("first_elem"),
        col("label"))),

    NamedQuery("q26_unnest",
      Some("""SELECT vec_id, round(CAST(unnest(embedding) AS DOUBLE), 3) AS elem
             |FROM embeddings WHERE vec_id < 3""".stripMargin),
      (s, d) => t(s, d, "embeddings").filter(col("vec_id") < 3)
        .select(col("vec_id"), explode(col("embedding")).as("e"))
        .select(col("vec_id"), round(col("e").cast("double"), 3).as("elem"))),

    // -- scalar subquery ---------------------------------------------------
    NamedQuery("q27_subquery_scalar", Some(
      """SELECT count(*) AS n_above FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin),
      sqlQuery("""SELECT count(*) AS n_above FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin,
        "orders")),

    NamedQuery("q28_nested_subquery", Some(
      """SELECT c_mktsegment, round(avg(cnt), 4) AS avg_orders FROM (
        |  SELECT c_mktsegment, c_custkey, count(o_orderkey) AS cnt
        |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, c_custkey) sub
        |GROUP BY c_mktsegment""".stripMargin),
      sqlQuery("""SELECT c_mktsegment, round(avg(cnt), 4) AS avg_orders FROM (
        |  SELECT c_mktsegment, c_custkey, count(o_orderkey) AS cnt
        |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, c_custkey) sub
        |GROUP BY c_mktsegment""".stripMargin, "customer", "orders")),

    // -- table generator (range(n) t(i), group_by_distributed.test:41) -----
    NamedQuery("q29_range",
      Some("""SELECT i % 7 AS g, CAST(sum(i) AS BIGINT) AS s, count(*) AS c
             |FROM range(100000) t(i) GROUP BY 1""".stripMargin),
      (s, d) => s.range(100000)
        .select((col("id") % 7).as("g"), col("id"))
        .groupBy("g").agg(sum("id").as("s"), count(lit(1)).as("c"))),

    // -- events: time-bucketed aggregation ---------------------------------
    NamedQuery("q30_events_hourly",
      Some("""SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n,
             |round(sum(value), 2) AS sum_v
             |FROM events GROUP BY 1, 2""".stripMargin),
      (s, d) => t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))),

    NamedQuery("q31_events_user_stats",
      Some("""SELECT user_id, count(*) AS n_events,
             |count(DISTINCT event_type) AS n_types,
             |CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS span_s
             |FROM events WHERE user_id < 50 GROUP BY user_id""".stripMargin),
      (s, d) => t(s, d, "events").filter(col("user_id") < 50)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("span_s")))
  )

  /** Build a fn that registers the referenced tables as temp views and runs
    * the same SQL text Spark-side that DuckDB runs oracle-side. */
  private def sqlQuery(q: String, tables: String*): (SparkSession, String) => DataFrame =
    (s, d) => {
      tables.foreach(n => t(s, d, n).createOrReplaceTempView(n))
      s.sql(q)
    }
}
