package graft.operators

import org.apache.spark.sql.functions._

import graft.{Engine, Tables}

/** DML surface exercised end-to-end through the [[graft.Engine]] catalog:
  * CREATE TABLE AS → INSERT (from SELECT) → DELETE (predicate rewrite) →
  * read back. The oracle expresses the same final state as pure SQL over
  * the base table, so the engine's copy-on-write DML is hash-checked
  * against DuckDB (ref semantics: distributed_insert.cpp:26-100,
  * distributed_delete.cpp:27-126). Each query builds its tables on its
  * own [[graft.Engine.scratch]] engine: only that engine's `sql` sees
  * them, so a second run in one JVM starts from an empty catalog. */
object DmlOps {

  val dmlRoundtrip: NamedQuery = NamedQuery("q32_dml_roundtrip",
    Some("""SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
           |FROM lineitem WHERE l_orderkey <= 200 AND NOT (round(l_quantity, 2) < 5)
           |UNION ALL
           |SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
           |FROM lineitem WHERE l_orderkey <= 50""".stripMargin),
    (s, d) => {
      val engine = Engine.scratch(s)
      val name = "graft_dml_roundtrip"
      val base = Tables.t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 2).as("qty"))
      engine.createTableAs(name, base.filter(col("l_orderkey") <= 200))
      engine.deleteFrom(name, col("qty") < 5)
      engine.insertInto(name, base.filter(col("l_orderkey") <= 50))
      engine.table(name)
    })

  /** Plain SQL `UPDATE … SET … WHERE …` end-to-end through the router
    * (the week-one verb the reference's INSERT/DELETE set omits): build
    * a managed table, UPDATE a slice — an expression assignment reading
    * the old value plus a constant assignment — and read back. The
    * oracle recomputes the final state as a pure CASE projection over
    * the base table, so the copy-on-write update (hit slice rewritten,
    * miss slice untouched, row count preserved) is hash-checked against
    * DuckDB. */
  val updateRoundtrip: NamedQuery = NamedQuery("q187_update_roundtrip",
    Some("""SELECT l_orderkey, l_linenumber,
           |CASE WHEN l_orderkey <= 100 THEN round(l_quantity, 2) + 1
           |     ELSE round(l_quantity, 2) END AS qty,
           |CASE WHEN l_orderkey <= 100 THEN 'bumped'
           |     ELSE l_returnflag END AS f
           |FROM lineitem WHERE l_orderkey <= 300""".stripMargin),
    (s, d) => {
      val engine = Engine.scratch(s)
      val name = "graft_update_roundtrip"
      engine.createTableAs(name, Tables.t(s, d, "lineitem")
        .filter(col("l_orderkey") <= 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 2).as("qty"),
          col("l_returnflag").as("f")))
      engine.sql(
        s"UPDATE $name SET qty = qty + 1, f = 'bumped' " +
          "WHERE l_orderkey <= 100")
      engine.table(name)
    })

  /** Join-form UPDATE end-to-end ([[graft.EngineDml.updateFromCore]]):
    * register a lineitem slice and a high-price orders slice as managed
    * tables, run `UPDATE … SET … FROM src WHERE …` where one SET
    * expression reads a SOURCE column, and return the target. The
    * oracle replays the semantics as a LEFT JOIN CASE rewrite in
    * DuckDB — matched rows take the assignments (including the
    * source-column one), unmatched rows pass through — so the
    * hash-check proves both slices and the source-expression binding.
    * o_orderkey is unique, so the multi-match guard stays quiet. */
  val updateFromRoundtrip: NamedQuery = NamedQuery("q191_update_from",
    Some("""SELECT l.l_orderkey, l.l_linenumber,
           |CASE WHEN o.o_orderkey IS NOT NULL
           |     THEN round(l.l_quantity, 2) + 10
           |     ELSE round(l.l_quantity, 2) END AS qty,
           |CASE WHEN o.o_orderkey IS NOT NULL
           |     THEN substr(o.o_orderpriority, 1, 1)
           |     ELSE l.l_returnflag END AS f
           |FROM lineitem l LEFT JOIN
           |  (SELECT * FROM orders WHERE o_totalprice > 150000) o
           |  ON l.l_orderkey = o.o_orderkey
           |WHERE l.l_orderkey <= 300""".stripMargin),
    (s, d) => {
      val engine = Engine.scratch(s)
      val name = "graft_updfrom_tgt"
      val src = "graft_updfrom_src"
      engine.createTableAs(name, Tables.t(s, d, "lineitem")
        .filter(col("l_orderkey") <= 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 2).as("qty"),
          col("l_returnflag").as("f")))
      engine.createTableAs(src, Tables.t(s, d, "orders")
        .filter(col("o_totalprice") > 150000)
        .select(col("o_orderkey"), col("o_orderpriority")))
      engine.sql(
        s"""UPDATE $name SET qty = qty + 10,
           |f = substring($src.o_orderpriority, 1, 1)
           |FROM $src WHERE $name.l_orderkey = $src.o_orderkey"""
          .stripMargin)
      engine.table(name)
    })

  /** Join-form DELETE end-to-end ([[graft.EngineDml.deleteUsingCore]]):
    * `DELETE FROM t USING src WHERE …` removes target rows with a TRUE
    * join match — one anti-join, copy-on-write. The oracle expresses
    * the final state as a NOT-EXISTS filter over the base tables, so
    * the hash-check proves both the deleted and the kept slice
    * (including rows whose predicate evaluates NULL — kept). */
  val deleteUsingRoundtrip: NamedQuery = NamedQuery("q192_delete_using",
    Some("""SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
           |FROM lineitem l WHERE l_orderkey <= 300 AND NOT EXISTS (
           |  SELECT 1 FROM orders o
           |  WHERE o.o_orderkey = l.l_orderkey
           |    AND o.o_totalprice > 150000)""".stripMargin),
    (s, d) => {
      val engine = Engine.scratch(s)
      val name = "graft_delu_tgt"
      val src = "graft_delu_src"
      engine.createTableAs(name, Tables.t(s, d, "lineitem")
        .filter(col("l_orderkey") <= 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 2).as("qty")))
      engine.createTableAs(src, Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice")))
      engine.sql(s"DELETE FROM $name USING $src " +
        s"WHERE $name.l_orderkey = $src.o_orderkey " +
        s"AND $src.o_totalprice > 150000")
      engine.table(name)
    })

  /** Upsert end-to-end ([[graft.EngineDml.insertOnConflictCore]]):
    * `INSERT … ON CONFLICT (key) DO UPDATE SET … ` over a managed
    * orders slice, with one SET expression reading the incoming row
    * through the standard `excluded` alias. The source holds existing
    * keys (conflict → update) and new keys (insert); the oracle
    * reconstructs the final state as existing-rows-with-CASE plus the
    * unmatched source rows, so the hash-check proves both halves and
    * the excluded binding. */
  val insertConflictRoundtrip: NamedQuery = NamedQuery("q193_insert_conflict",
    Some("""WITH src AS (
           |  SELECT o_orderkey + CASE WHEN o_orderkey % 2 = 0
           |           THEN 0 ELSE 1000000 END AS o_orderkey,
           |         o_custkey, round(o_totalprice, 2) AS price,
           |         'upsert' AS tag
           |  FROM orders WHERE o_orderkey <= 200)
           |SELECT t.o_orderkey, t.o_custkey,
           |  CASE WHEN s.o_orderkey IS NOT NULL
           |       THEN round(s.price + 1, 2) ELSE t.price END AS price,
           |  CASE WHEN s.o_orderkey IS NOT NULL
           |       THEN concat(t.tag, '+', s.tag) ELSE t.tag END AS tag
           |FROM (SELECT o_orderkey, o_custkey,
           |        round(o_totalprice, 2) AS price, 'base' AS tag
           |      FROM orders WHERE o_orderkey <= 400) t
           |LEFT JOIN src s ON s.o_orderkey = t.o_orderkey
           |UNION ALL
           |SELECT s.o_orderkey, s.o_custkey, s.price, s.tag
           |FROM src s WHERE NOT EXISTS (
           |  SELECT 1 FROM orders t2 WHERE t2.o_orderkey <= 400
           |    AND t2.o_orderkey = s.o_orderkey)""".stripMargin),
    (s, d) => {
      val engine = Engine.scratch(s)
      val name = "graft_conf_tgt"
      engine.createTableAs(name, Tables.t(s, d, "orders")
        .filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"),
          lit("base").as("tag")))
      // half the source keys collide with the target (even keys ≤ 200),
      // half are fresh (odd keys shifted out of range)
      val src = Tables.t(s, d, "orders")
        .filter(col("o_orderkey") <= 200)
        .select((col("o_orderkey") + when(col("o_orderkey") % 2 === 0, 0)
            .otherwise(1000000)).as("o_orderkey"),
          col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"),
          lit("upsert").as("tag"))
      engine.registerTable("graft_conf_src", src)
      engine.sql(s"INSERT INTO $name SELECT * FROM graft_conf_src " +
        "ON CONFLICT (o_orderkey) DO UPDATE SET " +
        s"price = round(excluded.price + 1, 2), " +
        s"tag = concat($name.tag, '+', excluded.tag)")
      engine.table(name)
    })

  /** Materialized-aggregate rewrite end-to-end: register lineitem as a
    * managed table, materialize (returnflag, linestatus)-grouped
    * partials for four measures, and run a covered SQL aggregate — the
    * engine rewrites it to re-aggregate the MV
    * ([[graft.plans.MatViewRewrite]]; PlanQualitySpec pins the plan:
    * the rewritten query scans the MV artifact, not the base). The
    * oracle computes the same aggregate from the raw table, so the
    * hash-check proves the partial re-aggregation (sum-of-sums,
    * min-of-mins, avg = Σsum/Σcnt, count(*) = Σn_rows) is exact. */
  val matviewAgg: NamedQuery = NamedQuery("q159_matview_agg",
    Some("""SELECT l_returnflag, l_linestatus,
           |round(sum(l_quantity), 2) AS sum_qty,
           |round(avg(l_extendedprice), 4) AS avg_price,
           |round(min(l_discount), 2) AS min_disc,
           |round(max(l_tax), 2) AS max_tax,
           |count(*) AS n
           |FROM lineitem WHERE l_returnflag IN ('A', 'R')
           |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    (s, d) => {
      val engine = Engine.scratch(s)
      val base = "graft_mv_lineitem"
      val mv = "graft_mv_li_agg"
      engine.createTableAs(base, Tables.t(s, d, "lineitem"))
      // the SQL spelling (routed to createMaterializedAggregate), so
      // the oracle gate exercises the CREATE MATERIALIZED VIEW path
      engine.sql(
        s"""CREATE MATERIALIZED VIEW $mv AS SELECT
           |l_returnflag, l_linestatus,
           |sum(l_quantity) AS s1, sum(l_extendedprice) AS s2,
           |sum(l_discount) AS s3, sum(l_tax) AS s4, count(*) AS n
           |FROM $base GROUP BY l_returnflag, l_linestatus""".stripMargin)
      engine.sql(
        """SELECT l_returnflag, l_linestatus,
          |round(sum(l_quantity), 2) AS sum_qty,
          |round(avg(l_extendedprice), 4) AS avg_price,
          |round(min(l_discount), 2) AS min_disc,
          |round(max(l_tax), 2) AS max_tax,
          |count(*) AS n
          |FROM graft_mv_lineitem WHERE l_returnflag IN ('A', 'R')
          |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    })

  /** Incremental MV refresh end-to-end: materialize the partials, append
    * a delta to the base (so the MV goes stale), REFRESH — which must
    * take the INCREMENTAL path (delta partials merged into the stored
    * artifact, corpus never rescanned) — and run a covered aggregate
    * that the refreshed MV serves. The oracle computes the same
    * aggregate over base ∪ delta in DuckDB, so the hash-check proves
    * the delta merge (sum+sum, min-of-mins, Σcnt, Σn_rows) is exact. */
  val matviewRefresh: NamedQuery = NamedQuery("q160_matview_refresh",
    Some("""SELECT l_returnflag, l_linestatus,
           |round(sum(l_quantity), 2) AS sum_qty,
           |round(avg(l_extendedprice), 4) AS avg_price,
           |round(min(l_discount), 2) AS min_disc,
           |round(max(l_tax), 2) AS max_tax,
           |count(*) AS n
           |FROM (SELECT * FROM lineitem UNION ALL
           |      SELECT * FROM lineitem WHERE l_orderkey <= 100) u
           |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    (s, d) => {
      val engine = Engine.scratch(s)
      val base = "graft_mvr_lineitem"
      val mv = "graft_mvr_li_agg"
      val li = Tables.t(s, d, "lineitem")
      engine.createTableAs(base, li)
      engine.sql(
        s"""CREATE MATERIALIZED VIEW $mv AS SELECT
           |l_returnflag, l_linestatus,
           |sum(l_quantity) AS s1, sum(l_extendedprice) AS s2,
           |sum(l_discount) AS s3, sum(l_tax) AS s4, count(*) AS n
           |FROM $base GROUP BY l_returnflag, l_linestatus""".stripMargin)
      engine.insertInto(base, li.filter(col("l_orderkey") <= 100))
      val mode = engine.refreshMaterializedAggregate(mv)
      require(mode == "incremental",
        s"expected the incremental refresh path, got $mode")
      val out = engine.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |round(sum(l_quantity), 2) AS sum_qty,
           |round(avg(l_extendedprice), 4) AS avg_price,
           |round(min(l_discount), 2) AS min_disc,
           |round(max(l_tax), 2) AS max_tax,
           |count(*) AS n
           |FROM $base GROUP BY l_returnflag, l_linestatus""".stripMargin)
      val plan = org.apache.spark.sql.classic.ClassicConversions
        .castToImpl(out).queryExecution.optimizedPlan.toString()
      require(plan.contains("sum_l_quantity"),
        "covered aggregate not served by the refreshed MV")
      out
    })

  /** `COPY TO` / `COPY FROM` end-to-end through the router — the first
    * verb a user migrating DuckDB scripts types after SELECT (the
    * reference enables exactly these file connectors via its extension
    * loading, test_extension_loading.test). A managed customer slice is
    * COPY'd TO a CSV directory (distributed part-file write), COPY'd
    * FROM into an empty clone (schema-bound read through the INSERT
    * ingress), and the clone is aggregated with a null-safe mismatch
    * count against the original — the oracle pins n_mismatch = 0, so a
    * single value mangled by either direction fails the hash. The
    * formats themselves are proven across q132 (CSV) / q133 (JSON) /
    * q136 (ORC) / q137 (partitioned parquet); this row proves the SQL
    * spelling and the counts the verb returns. */
  val copyRoundtrip: NamedQuery = NamedQuery("q194_copy_roundtrip",
    Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           |  round(sum(round(c_acctbal, 2)), 2) AS total,
           |  CAST(0 AS BIGINT) AS n_mismatch
           |FROM customer GROUP BY c_mktsegment""".stripMargin),
    (s, d) => {
      val engine = Engine.scratch(s)
      val name = "graft_copy_src"
      val back = "graft_copy_back"
      engine.createTableAs(name, Tables.t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("bal")))
      val dir = s"${sys.props("java.io.tmpdir")}/graft_copy_rt"
      val exported = engine.sql(s"COPY $name TO '$dir/c.csv' " +
        "(FORMAT CSV, HEADER)").head().getLong(0)
      engine.createTableAs(back, engine.table(name).limit(0))
      val imported = engine.sql(s"COPY $back FROM '$dir/c.csv' " +
        "(FORMAT CSV, HEADER)").head().getLong(0)
      require(exported == imported,
        s"COPY counts diverged: out $exported, in $imported")
      val orig = engine.table(name).select(col("c_custkey"),
        col("c_mktsegment").as("x_seg"), col("bal").as("x_bal"))
      engine.table(back).join(orig, Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum("bal"), 2).as("total"),
          count_if(!(col("c_mktsegment") <=> col("x_seg")) ||
            !(col("bal") <=> col("x_bal"))).as("n_mismatch"))
    })

  /** `INSERT/UPDATE/DELETE … RETURNING` end-to-end (DuckDB/Postgres
    * affected-rows projection): three statements against one managed
    * orders slice, each projecting its affected rows — INSERT returns
    * the inserted rows, UPDATE the post-assignment rows, DELETE the
    * removed rows — unioned under a verb tag. The oracle reconstructs
    * each projection as a pure SELECT over the base table (the insert
    * slice halved, the update slice post-bump, the delete slice as
    * inserted), so the hash-check proves the returned frames are
    * exactly the affected snapshots, not the post-statement table. */
  val returningRoundtrip: NamedQuery = NamedQuery("q195_returning",
    Some("""SELECT o_orderkey + 10000 AS k,
           |  round(round(o_totalprice, 2) * 2, 2) AS val, 'ins' AS verb
           |FROM orders WHERE o_orderkey <= 50
           |UNION ALL
           |SELECT o_orderkey, round(round(o_totalprice, 2) + 5, 2), 'upd'
           |FROM orders WHERE o_orderkey <= 100
           |UNION ALL
           |SELECT o_orderkey + 10000, round(o_totalprice, 2), 'del'
           |FROM orders WHERE o_orderkey <= 50""".stripMargin),
    (s, d) => {
      val engine = Engine.scratch(s)
      val name = "graft_ret_tgt"
      engine.createTableAs(name, Tables.t(s, d, "orders")
        .filter(col("o_orderkey") <= 300)
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice"), 2).as("price")))
      engine.registerTable("graft_ret_orders", Tables.t(s, d, "orders"))
      val ins = engine.sql(s"INSERT INTO $name SELECT o_orderkey + 10000, " +
        "round(o_totalprice, 2) FROM graft_ret_orders " +
        "WHERE o_orderkey <= 50 " +
        "RETURNING k, round(price * 2, 2) AS val, 'ins' AS verb")
      val upd = engine.sql(s"UPDATE $name SET price = round(price + 5, 2) " +
        "WHERE k <= 100 RETURNING k, price AS val, 'upd' AS verb")
      // >= : the smallest shifted key is o_orderkey 0 → exactly 10000
      val del = engine.sql(s"DELETE FROM $name WHERE k >= 10000 " +
        "RETURNING k, price AS val, 'del' AS verb")
      ins.unionAll(upd).unionAll(del)
    })

  /** `EXPORT DATABASE` / `IMPORT DATABASE` end-to-end: two managed
    * tables (a nation clone plus a constraint-bearing table with a
    * NOT NULL column and a SET DEFAULT) export to a directory, import
    * into a FRESH engine (the restore scenario), and the engine-side
    * require()s pin what parquet alone cannot carry — the NOT NULL
    * still rejects, the default still fills. The returned frame
    * aggregates the restored nation clone, so the oracle hash proves
    * the data round-trip; the verb counts pin the catalog scope. */
  val exportImport: NamedQuery = NamedQuery("q197_export_import",
    Some("""SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           |  CAST(2 AS BIGINT) AS n_tables
           |FROM nation GROUP BY n_regionkey""".stripMargin),
    (s, d) => {
      val engine = Engine.scratch(s)
      val dir = s"${sys.props("java.io.tmpdir")}/graft_export_rt"
      engine.createTableAs("graft_exp_nation", Tables.t(s, d, "nation"))
      engine.sql("CREATE TABLE graft_exp_meta (id INT, tag STRING)")
      engine.sql(
        "ALTER TABLE graft_exp_meta ALTER COLUMN id SET NOT NULL")
      engine.sql(
        "ALTER TABLE graft_exp_meta ALTER COLUMN tag SET DEFAULT 'dft'")
      engine.sql("INSERT INTO graft_exp_meta VALUES (1, 'a')")
      val exported =
        engine.sql(s"EXPORT DATABASE '$dir'").head().getLong(0)
      // restore into a FRESH engine — nothing session-side may leak
      val e2 = Engine.scratch(s)
      val imported = e2.sql(s"IMPORT DATABASE '$dir'").head().getLong(0)
      require(exported == 2 && imported == 2,
        s"catalog scope drifted: exported $exported, imported $imported")
      // constraint metadata survived the manifest round-trip
      val nnHeld =
        try { e2.sql("INSERT INTO graft_exp_meta VALUES (NULL, 'x')")
          false }
        catch { case _: IllegalArgumentException => true }
      require(nnHeld, "NOT NULL did not survive IMPORT DATABASE")
      e2.sql("INSERT INTO graft_exp_meta (id) VALUES (2)")
      require(e2.table("graft_exp_meta").filter(col("id") === 2)
        .head().getString(1) == "dft",
        "SET DEFAULT did not survive IMPORT DATABASE")
      e2.table("graft_exp_nation")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"),
          sum("n_nationkey").cast("long").as("key_sum"),
          lit(2L).as("n_tables"))
    })

  def defs: Seq[NamedQuery] =
    Seq(dmlRoundtrip, updateRoundtrip, updateFromRoundtrip,
      deleteUsingRoundtrip, insertConflictRoundtrip, matviewAgg,
      matviewRefresh, copyRoundtrip, returningRoundtrip, exportImport)
}
