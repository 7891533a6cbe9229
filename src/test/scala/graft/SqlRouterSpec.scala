package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

/** SQL-driven DDL/DML routing (the reference's whole surface is SQL) and
  * the skew utilities. */
class SqlRouterSpec extends SparkSpec {

  private lazy val engine: Engine = Engine(spark)

  test("full SQL lifecycle: create, insert, delete, alter, index, drop") {
    val t = s"sql_life_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, name STRING, age INT)")
    intercept[IllegalArgumentException](engine.sql(s"CREATE TABLE $t (id INT)"))
    engine.sql(s"CREATE TABLE IF NOT EXISTS $t (id INT)") // no-op
    engine.sql(s"INSERT INTO $t VALUES (1, 'alice', 30), (2, 'bob', 41), (3, 'eve', 22)")
    assert(engine.table(t).count() == 3)
    engine.sql(s"INSERT INTO $t SELECT 4, 'mallory', 99")
    assert(engine.table(t).count() == 4)
    val del = engine.sql(s"DELETE FROM $t WHERE id = 2 OR id = 3")
    assert(del.head().getLong(0) == 2)
    assert(engine.table(t).count() == 2)
    engine.sql(s"ALTER TABLE $t ADD COLUMN status STRING DEFAULT 'active'")
    assert(engine.table(t).select("status").distinct().head().getString(0) == "active")
    engine.sql(s"ALTER TABLE $t RENAME COLUMN status TO state")
    engine.sql(s"ALTER TABLE $t DROP COLUMN state")
    assert(!engine.table(t).columns.contains("state"))
    engine.sql(s"CREATE INDEX idx_$t ON $t (id, name)")
    assert(engine.indexes.filter(col("index_name") === s"idx_$t").count() == 1)
    engine.sql(s"DROP INDEX idx_$t")
    engine.sql(s"ALTER TABLE $t RENAME TO ${t}_2")
    engine.sql(s"DROP TABLE ${t}_2")
    engine.sql(s"DROP TABLE IF EXISTS ${t}_2")
  }

  test("routed DDL/DML lands in executionStats as LOCAL") {
    engine.clearStats()
    val t = s"stats_ddl_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT)")
    engine.sql(s"INSERT INTO $t VALUES (1), (2)")
    engine.sql(s"DELETE FROM $t WHERE id = 1")
    val stats = engine.executionStats.collect()
    assert(stats.length == 3)
    assert(stats.forall(_.getAs[String]("execution_mode") == "LOCAL"))
    engine.dropTable(t)
  }

  test("INSERT with explicit column list fills remaining columns with NULL") {
    val t = s"ins_cols_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, name STRING, age INT)")
    engine.sql(s"INSERT INTO $t (id, name) VALUES (1, 'a'), (2, 'b')")
    val rows = engine.table(t).orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.isNullAt(2)))
    assert(rows.map(_.getString(1)).sameElements(Array("a", "b")))
    // DELETE without WHERE empties the table
    assert(engine.sql(s"DELETE FROM $t").head().getLong(0) == 2)
    assert(engine.table(t).count() == 0)
    engine.dropTable(t)
  }

  test("INSERT column list resolves case-insensitively") {
    val t = s"ins_case_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, name STRING)")
    engine.sql(s"INSERT INTO $t (ID, NAME) VALUES (1, 'a')")
    val r = engine.table(t).head()
    assert(r.getInt(0) == 1 && r.getString(1) == "a")
    engine.dropTable(t)
  }

  test("ALTER COLUMN TYPE / DEFAULT / NOT NULL route through SQL") {
    val t = s"alter_sql_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, name STRING, score INT)")
    engine.sql(s"ALTER TABLE $t ALTER COLUMN score TYPE DOUBLE")
    assert(engine.table(t).schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    engine.sql(s"ALTER TABLE $t ALTER COLUMN score SET DEFAULT 1.5")
    engine.sql(s"INSERT INTO $t (id, name) VALUES (1, 'a')")
    assert(engine.table(t).head().getDouble(2) == 1.5)
    engine.sql(s"ALTER TABLE $t ALTER COLUMN score DROP DEFAULT")
    engine.sql(s"INSERT INTO $t (id, name) VALUES (2, 'b')")
    assert(engine.table(t).filter(col("id") === 2).head().isNullAt(2))
    engine.sql(s"ALTER TABLE $t ALTER COLUMN name SET NOT NULL")
    val bad = intercept[IllegalArgumentException](
      engine.sql(s"INSERT INTO $t VALUES (3, NULL, 2.0)"))
    assert(bad.getMessage.contains("NOT NULL"))
    engine.sql(s"ALTER TABLE $t ALTER COLUMN name DROP NOT NULL")
    engine.sql(s"INSERT INTO $t VALUES (3, NULL, 2.0)")
    assert(engine.table(t).count() == 3)
    engine.dropTable(t)
  }

  test("enum lifecycle in pure SQL (enum_type_support.test)") {
    val ty = s"mood_${System.nanoTime()}"
    val t = s"enum_tbl_${System.nanoTime()}"
    engine.sql(s"CREATE TYPE $ty AS ENUM ('happy', 'sad', 'neutral')")
    engine.sql(s"CREATE TABLE $t (id INTEGER, person_mood $ty, description STRING)")
    assert(engine.enumTypeOf(t, "person_mood").contains(ty))
    engine.sql(s"INSERT INTO $t VALUES " +
      "(1, 'happy', 'a'), (2, 'sad', 'b'), (3, 'neutral', 'c')")
    assert(engine.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 3)
    assert(engine.sql(
      s"SELECT count(*) AS n FROM $t WHERE person_mood = 'neutral'")
      .head().getLong(0) == 1)
    // declaration-order ORDER BY / MIN / MAX via enum_ord
    val ordered = engine.sql(
      s"SELECT person_mood FROM $t ORDER BY enum_ord('$ty', person_mood)")
      .collect().map(_.getString(0))
    assert(ordered.sameElements(Array("happy", "sad", "neutral")))
    // ... and via PLAIN ORDER BY on the enum column: GraftExtensions'
    // EnumOrderRewrite post-hoc resolution rule substitutes the
    // declaration rank (lexical order would be happy, neutral, sad)
    val plain = engine.sql(
      s"SELECT person_mood FROM $t ORDER BY person_mood")
      .collect().map(_.getString(0))
    assert(plain.sameElements(Array("happy", "sad", "neutral")),
      s"plain ORDER BY not rewritten: ${plain.mkString(",")}")
    val mm = engine.sql(
      s"""SELECT min_by(person_mood, enum_ord('$ty', person_mood)) AS mn,
         |max_by(person_mood, enum_ord('$ty', person_mood)) AS mx
         |FROM $t""".stripMargin).head()
    assert(mm.getString(0) == "happy" && mm.getString(1) == "neutral")
    // PLAIN MIN/MAX follow declaration order (lexical MAX would be 'sad')
    val mm2 = engine.sql(
      s"SELECT min(person_mood) AS mn, max(person_mood) AS mx FROM $t")
      .head()
    assert(mm2.getString(0) == "happy" && mm2.getString(1) == "neutral",
      s"plain MIN/MAX not declaration-ordered: $mm2")
    // PLAIN comparison follows declaration order: mood < 'neutral' keeps
    // happy AND sad (lexically 'sad' < 'neutral' is false)
    val lt = engine.sql(
      s"SELECT person_mood FROM $t WHERE person_mood < 'neutral' " +
        s"ORDER BY id").collect().map(_.getString(0))
    assert(lt.sameElements(Array("happy", "sad")),
      s"comparison not declaration-ordered: ${lt.mkString(",")}")
    // a value outside the enum domain is rejected (conversion error)
    val conv = intercept[IllegalArgumentException](
      engine.sql(s"INSERT INTO $t VALUES (9, 'angry', 'nope')"))
    assert(conv.getMessage.contains("enum type"))
    assert(engine.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 3)
    // NULL handling
    engine.sql(s"INSERT INTO $t VALUES (4, NULL, 'no mood')")
    assert(engine.sql(
      s"SELECT count(*) AS n FROM $t WHERE person_mood IS NULL")
      .head().getLong(0) == 1)
    engine.sql(s"DROP TABLE $t")
    engine.sql(s"DROP TYPE $ty")
    intercept[IllegalArgumentException](engine.sql(s"DROP TYPE $ty"))
    engine.sql(s"DROP TYPE IF EXISTS $ty")
  }

  test("CREATE TABLE AS SELECT routes through the catalog") {
    val t = s"ctas_${System.nanoTime()}"
    engine.registerTable("ctas_src", s"$sf/region.parquet")
    engine.sql(s"CREATE TABLE $t AS SELECT r_regionkey FROM ctas_src")
    assert(engine.table(t).count() == 5)
    engine.sql(s"DROP TABLE $t")
    engine.unregisterTable("ctas_src")
  }

  test("dh.-qualified names route like the reference's attached alias") {
    val t = s"dh_qual_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE dh.$t (id INT, name STRING)")
    assert(engine.tableExists(t))
    engine.sql(s"INSERT INTO dh.$t VALUES (1, 'x'), (2, 'y')")
    assert(engine.table(t).count() == 2)
    assert(engine.sql(s"DELETE FROM dh.$t WHERE id = 1")
      .head().getLong(0) == 1)
    engine.sql(s"ALTER TABLE dh.$t ADD COLUMN c INT")
    assert(engine.table(t).columns.contains("c"))
    engine.sql(s"DROP TABLE dh.$t")
    assert(!engine.tableExists(t))
  }

  test("VALUES payloads containing keywords do not misroute") {
    val t = s"kw_vals_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, note STRING)")
    engine.sql(s"INSERT INTO $t VALUES " +
      "(1, 'use SELECT wisely'), (2, 'DROP TABLE is dangerous')")
    val rows = engine.table(t).orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "use SELECT wisely")
    assert(rows(1).getString(1) == "DROP TABLE is dangerous")
    // DELETE predicate containing a keyword-looking literal
    assert(engine.sql(
      s"DELETE FROM $t WHERE note = 'use SELECT wisely'")
      .head().getLong(0) == 1)
    assert(engine.table(t).count() == 1)
    engine.dropTable(t)
  }

  test("SELECT statements fall through to Spark SQL") {
    assert(engine.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
  }

  test("parser-first: Spark-parseable queries are never routed") {
    // a query whose string literals carry full routed-verb statements
    // must come back verbatim — the parser classifies it as a query
    // before any verb regex sees it
    val r = engine.sql(
      """SELECT 'DELETE FROM lineitem WHERE true' AS a,
        |'CREATE TABLE bomb (x INT)' AS b,
        |'INSERT INTO t VALUES (1)' AS c""".stripMargin).head()
    assert(r.getString(0).startsWith("DELETE FROM"))
    assert(r.getString(1).startsWith("CREATE TABLE"))
    assert(!engine.tableExists("bomb"))
    // commands the engine does not own (UPDATE parses but is unrouted)
    // also skip the router and surface Spark's own error
    intercept[Exception](
      engine.sql("UPDATE lineitem SET l_quantity = 0 WHERE false"))
  }

  test("parser-first: Duck-only spellings still reach the regex routes") {
    val t = "router_duck_only"
    // unsigned DDL types do not parse in Spark — regex route must own it
    engine.sql(s"CREATE TABLE $t (id UINTEGER, v HUGEINT)")
    assert(engine.tableExists(t))
    engine.sql(s"CREATE TYPE router_mood AS ENUM ('sad', 'ok', 'happy')")
    engine.sql(s"DROP TYPE router_mood")
    engine.sql(s"DROP TABLE $t")
  }

  test("DML/DDL on missing tables raises catalog errors") {
    assert(!engine.tableExists("router_missing"))
    val e1 = intercept[IllegalArgumentException](
      engine.sql("DELETE FROM router_missing WHERE id = 1"))
    assert(e1.getMessage.contains("does not exist"))
    val e2 = intercept[IllegalArgumentException](
      engine.sql("ALTER TABLE router_missing ADD COLUMN c INT"))
    assert(e2.getMessage.contains("does not exist"))
    intercept[IllegalArgumentException](
      engine.sql("CREATE INDEX ix ON router_missing (id)"))
    intercept[IllegalArgumentException](
      engine.sql("DROP TABLE router_missing"))
  }

  test("plain UPDATE SQL routes to copy-on-write: expressions, WHERE, " +
      "tri-state predicate, rollback") {
    val t = s"upd_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, qty INT, tag STRING)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10, 'a'), (2, 20, 'b'), " +
      "(3, 30, NULL), (4, NULL, 'd')")
    // expression assignment reads the OLD value; WHERE hits a slice
    val r = engine.sql(s"UPDATE $t SET qty = qty * 2 + 1, tag = 'hit' " +
      "WHERE id <= 2")
    assert(r.columns.sameElements(Array("updated_rows")))
    assert(r.head().getLong(0) == 2)
    val rows = engine.table(t).orderBy("id").collect()
    assert(rows(0).getInt(1) == 21 && rows(0).getString(2) == "hit")
    assert(rows(1).getInt(1) == 41 && rows(1).getString(2) == "hit")
    assert(rows(2).getInt(1) == 30 && rows(2).isNullAt(2)) // untouched
    // a NULL predicate keeps the row unchanged (SQL tri-state), same
    // rule as DELETE
    val r2 = engine.sql(s"UPDATE $t SET tag = 'q' WHERE qty < 25")
    assert(r2.head().getLong(0) == 1) // only id=1 (21); NULL qty not hit
    assert(engine.table(t).filter(col("id") === 4).head().getString(2)
      == "d")
    // no WHERE → every row updates; row count is preserved
    val r3 = engine.sql(s"UPDATE $t SET tag = 'all'")
    assert(r3.head().getLong(0) == 4)
    assert(engine.table(t).count() == 4)
    assert(engine.table(t).filter(col("tag") === "all").count() == 4)
    // a WHERE inside a string literal cannot truncate the SET list
    engine.sql(s"UPDATE $t SET tag = 'where it hurts' WHERE id = 1")
    assert(engine.table(t).filter(col("id") === 1).head().getString(2)
      == "where it hurts")
    // unknown column and missing table raise binder/catalog errors
    assert(intercept[IllegalArgumentException](
      engine.sql(s"UPDATE $t SET nope = 1")).getMessage
      .contains("Binder Error"))
    assert(intercept[IllegalArgumentException](
      engine.sql("UPDATE no_such_table SET x = 1")).getMessage
      .contains("Catalog Error"))
    // rollback law: a NOT NULL violation leaves the table untouched
    engine.sql(s"ALTER TABLE $t ALTER COLUMN id SET NOT NULL")
    val before = engine.table(t).orderBy("id").collect().toSeq
    intercept[IllegalArgumentException](
      engine.sql(s"UPDATE $t SET id = NULL WHERE id = 2"))
    assert(engine.table(t).orderBy("id").collect().toSeq == before)
    engine.sql(s"DROP TABLE $t")
  }

  test("join-form UPDATE ... FROM: source-column SET, untouched slice, " +
      "subquery source, multi-match guard, determinism") {
    val t = s"updf_${System.nanoTime()}"
    val src = s"updf_src_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, qty INT, tag STRING)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10, 'a'), (2, 20, 'b'), " +
      "(3, 30, 'c')")
    engine.sql(s"CREATE TABLE $src (id INT, bonus INT)")
    engine.sql(s"INSERT INTO $src VALUES (1, 100), (3, 300), (9, 900)")
    // matched rows take SET expressions (one reads a SOURCE column);
    // unmatched target rows pass through; unmatched source rows ignored
    val r = engine.sql(s"UPDATE $t SET qty = qty + $src.bonus, " +
      s"tag = 'joined' FROM $src WHERE $t.id = $src.id")
    assert(r.head().getLong(0) == 2)
    val rows = engine.table(t).orderBy("id").collect()
    assert(rows(0).getInt(1) == 110 && rows(0).getString(2) == "joined")
    assert(rows(1).getInt(1) == 20 && rows(1).getString(2) == "b")
    assert(rows(2).getInt(1) == 330 && rows(2).getString(2) == "joined")
    // subquery source with alias + extra WHERE residual predicate
    engine.sql(s"UPDATE $t SET tag = 'big' FROM " +
      s"(SELECT id AS sid, bonus FROM $src) s " +
      s"WHERE $t.id = s.sid AND s.bonus >= 300")
    val rows2 = engine.table(t).orderBy("id").collect()
    assert(rows2(0).getString(2) == "joined") // bonus 100 misses
    assert(rows2(2).getString(2) == "big")
    // a target row matching two source rows is a Constraint Error
    // (deterministic stance, like MERGE), and the table is untouched
    engine.sql(s"INSERT INTO $src VALUES (1, 101)")
    val before = engine.table(t).orderBy("id").collect().toSeq
    val dup = intercept[IllegalArgumentException](
      engine.sql(s"UPDATE $t SET qty = $src.bonus FROM $src " +
        s"WHERE $t.id = $src.id"))
    assert(dup.getMessage.contains("more than once"))
    assert(engine.table(t).orderBy("id").collect().toSeq == before)
    // non-deterministic SET/WHERE rejected, same as plain UPDATE
    assert(intercept[IllegalArgumentException](
      engine.sql(s"UPDATE $t SET qty = CAST(rand() * 10 AS INT) " +
        s"FROM $src WHERE $t.id = $src.id AND $src.bonus = 900"))
      .getMessage.contains("non-deterministic"))
    // a FROM inside a SET string literal or function call never splits
    engine.sql(s"UPDATE $t SET tag = 'from the FROM trap' WHERE id = 2")
    assert(engine.table(t).filter(col("id") === 2).head().getString(2)
      == "from the FROM trap")
    engine.sql(s"DROP TABLE $t")
    engine.sql(s"DROP TABLE $src")
  }

  test("DELETE ... USING: join delete, tri-state WHERE, subquery source") {
    val t = s"delu_${System.nanoTime()}"
    val src = s"delu_src_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, v INT)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    engine.sql(s"CREATE TABLE $src (id INT, cut INT)")
    engine.sql(s"INSERT INTO $src VALUES (1, 1), (3, NULL), (9, 1)")
    // id=1 matches TRUE; id=3's predicate is NULL (kept — tri-state);
    // id=9 has no target row; duplicates in the source delete once
    val r = engine.sql(s"DELETE FROM $t USING $src " +
      s"WHERE $t.id = $src.id AND $src.cut = 1")
    assert(r.columns.sameElements(Array("deleted_rows")))
    assert(r.head().getLong(0) == 1)
    assert(engine.table(t).orderBy("id").collect().map(_.getInt(0)).toSeq
      == Seq(2, 3, 4))
    // subquery source; multiple matches still delete the row once
    engine.sql(s"INSERT INTO $src VALUES (2, 1), (2, 1)")
    val r2 = engine.sql(s"DELETE FROM $t USING " +
      s"(SELECT id AS sid FROM $src WHERE cut = 1) s WHERE $t.id = s.sid")
    assert(r2.head().getLong(0) == 1)
    assert(engine.table(t).count() == 2)
    engine.sql(s"DROP TABLE $t"); engine.sql(s"DROP TABLE $src")
  }

  test("INSERT ... ON CONFLICT: DO NOTHING skips matches, DO UPDATE " +
      "upserts with the excluded alias, dup-key sources error") {
    val t = s"conf_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, v INT, tag STRING)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10, 'a'), (2, 20, 'b')")
    // DO NOTHING: conflicting key 1 skipped, new key 3 inserted
    val r = engine.sql(s"INSERT INTO $t VALUES (1, 99, 'x'), " +
      "(3, 30, 'c') ON CONFLICT (id) DO NOTHING")
    assert(r.columns.sameElements(Array("updated_rows", "inserted_rows")))
    assert(r.head().getLong(1) == 1)
    val afterNothing = engine.table(t).orderBy("id").collect()
    assert(afterNothing.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(afterNothing(0).getInt(1) == 10) // untouched
    // DO UPDATE: matched row takes assignments; excluded = incoming row;
    // unmatched inserts; unnamed columns keep target values
    val r2 = engine.sql(s"INSERT INTO $t VALUES (2, 200, 'B2'), " +
      s"(4, 40, 'd') ON CONFLICT (id) DO UPDATE SET v = excluded.v, " +
      s"tag = concat($t.tag, '+', excluded.tag)")
    assert(r2.head().getLong(0) == 1 && r2.head().getLong(1) == 1)
    val rows = engine.table(t).orderBy("id").collect()
    assert(rows(1).getInt(1) == 200 && rows(1).getString(2) == "b+B2")
    assert(rows(3).getInt(1) == 40 && rows(3).getString(2) == "d")
    // explicit column list composes: omitted columns fill NULL/default
    engine.sql(s"INSERT INTO $t (id, v) VALUES (5, 50), (2, 2000) " +
      "ON CONFLICT (id) DO UPDATE SET v = excluded.v")
    val rows2 = engine.table(t).orderBy("id").collect()
    assert(rows2(1).getInt(1) == 2000 && rows2(1).getString(2) == "b+B2")
    assert(rows2(4).getInt(1) == 50 && rows2(4).isNullAt(2))
    // DO UPDATE with duplicate conflict keys in one statement errors
    // (one target row would be updated twice), same stance as MERGE
    assert(intercept[IllegalArgumentException](
      engine.sql(s"INSERT INTO $t VALUES (1, 1, 'p'), (1, 2, 'q') " +
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v")).getMessage
      .contains("more than once"))
    engine.sql(s"DROP TABLE $t")
  }

  test("INSERT OR REPLACE / OR IGNORE infer the conflict target from " +
      "the table's single index") {
    val t = s"ior_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, v INT)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    // no index yet: the shorthand cannot infer its conflict target
    assert(intercept[IllegalArgumentException](
      engine.sql(s"INSERT OR REPLACE INTO $t VALUES (1, 11)")).getMessage
      .contains("infer the conflict target"))
    engine.sql(s"CREATE INDEX ior_ix_$t ON $t (id)")
    // OR REPLACE: whole-row replace on the indexed key; new key inserts
    val r = engine.sql(s"INSERT OR REPLACE INTO $t VALUES (1, 11), (3, 30)")
    assert(r.head().getLong(0) == 1 && r.head().getLong(1) == 1)
    val rows = engine.table(t).orderBy("id").collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq
      == Seq((1, 11), (2, 20), (3, 30)))
    // OR IGNORE: conflicting row skipped, fresh row inserted
    val r2 = engine.sql(s"INSERT OR IGNORE INTO $t VALUES (2, 999), (4, 40)")
    assert(r2.head().getLong(1) == 1)
    val rows2 = engine.table(t).orderBy("id").collect()
    assert(rows2(1).getInt(1) == 20 && rows2(3).getInt(1) == 40)
    // two distinct indexed column-sets → ambiguous again
    engine.sql(s"CREATE INDEX ior_ix2_$t ON $t (v)")
    assert(intercept[IllegalArgumentException](
      engine.sql(s"INSERT OR IGNORE INTO $t VALUES (5, 50)")).getMessage
      .contains("infer the conflict target"))
    engine.sql(s"DROP TABLE $t")
  }

  test("TRUNCATE empties the table but keeps schema, constraints, and " +
      "insertability") {
    val t = s"trunc_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, tag STRING)")
    engine.sql(s"ALTER TABLE $t ALTER COLUMN id SET NOT NULL")
    engine.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    val r = engine.sql(s"TRUNCATE TABLE $t")
    assert(r.columns.sameElements(Array("deleted_rows")))
    assert(r.head().getLong(0) == 2)
    assert(engine.table(t).count() == 0)
    assert(engine.table(t).columns.sameElements(Array("id", "tag")))
    // constraints survive the truncate
    intercept[IllegalArgumentException](
      engine.sql(s"INSERT INTO $t VALUES (NULL, 'x')"))
    // the bare spelling (no TABLE keyword) routes too
    engine.sql(s"INSERT INTO $t VALUES (3, 'c')")
    assert(engine.sql(s"TRUNCATE $t").head().getLong(0) == 1)
    assert(engine.table(t).count() == 0)
    engine.sql(s"DROP TABLE $t")
  }

  test("explain classifies the round-14 DML verbs as routed without " +
      "executing them (wouldRoute ≡ route)") {
    val t = s"expl_dml_${System.nanoTime()}"
    val src = s"expl_src_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, v INT)")
    engine.sql(s"CREATE TABLE $src (id INT, v INT)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    engine.sql(s"CREATE INDEX expl_ix_$t ON $t (id)")
    // each verb classifies as routed DDL/DML and leaves the table alone
    Seq(
      s"TRUNCATE TABLE $t",
      s"TRUNCATE $t",
      s"DELETE FROM $t USING $src WHERE $t.id = $src.id",
      s"INSERT OR REPLACE INTO $t VALUES (1, 11)",
      s"INSERT OR IGNORE INTO $t VALUES (9, 90)",
      s"INSERT INTO $t VALUES (9, 90) ON CONFLICT (id) DO NOTHING"
    ).foreach { q =>
      val exp = engine.explain(q).head()
      assert(exp.getAs[String]("plan") == "routed DDL/DML", q)
      assert(engine.table(t).count() == 2, s"explain executed: $q")
    }
    // TRUNCATE routes even when the table is missing (wouldRoute must
    // match route) — the route raises the catalog error, not Spark
    assert(engine.explain("TRUNCATE TABLE no_such_tbl").head()
      .getAs[String]("plan") == "routed DDL/DML")
    intercept[IllegalArgumentException](
      engine.sql("TRUNCATE TABLE no_such_tbl"))
    engine.sql(s"DROP TABLE $t"); engine.sql(s"DROP TABLE $src")
  }

  test("explain is side-effect-free for every command family: LOCAL / " +
      "routed DDL/DML, and tables, indexes and files are unchanged") {
    val id = System.nanoTime()
    val t = s"expl_all_$id"
    val src = s"expl_all_src_$id"
    val docs = s"expl_all_docs_$id"
    val mv = s"expl_all_mv_$id"
    val dir = java.nio.file.Files.createTempDirectory("graft_expl").toString
    engine.sql(s"CREATE TABLE $t (id INT, v INT)")
    engine.sql(s"CREATE TABLE $src (id INT, v INT)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    engine.sql(s"INSERT INTO $src VALUES (2, 200), (3, 300)")
    engine.sql(s"CREATE TABLE $docs (doc_id BIGINT, text STRING)")
    engine.sql(s"INSERT INTO $docs VALUES (1, 'alpha beta')")
    engine.sql(s"CREATE TEXT INDEX ${docs}_tix ON $docs (text)")
    engine.sql(s"CREATE MATERIALIZED VIEW $mv AS SELECT id, sum(v) AS sv " +
      s"FROM $t GROUP BY id")
    engine.sql(s"INSERT INTO $docs VALUES (2, 'gamma')")
    def state = (engine.tableNames, engine.tableNames.filter(_.contains(s"$id"))
      .map(n => engine.table(n).collect().map(_.toString).sorted.toSeq),
      engine.indexes.collect().map(_.toString).sorted.toSeq,
      new java.io.File(dir).list().toSeq)
    val before = state
    Seq(
      s"MERGE INTO $t AS t USING $src AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      s"MERGE INTO $t AS t USING $src AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v + 1",
      s"UPDATE $t SET v = 0 WHERE id = 1",
      s"UPDATE $t SET v = s.v FROM $src s WHERE $t.id = s.id",
      s"DELETE FROM $t WHERE id = 1",
      s"INSERT INTO $t VALUES (9, 90) RETURNING *",
      s"CREATE TABLE ${t}_ctas AS SELECT * FROM $t",
      s"ALTER TABLE $t ADD COLUMN w INT",
      s"ALTER TABLE $t RENAME TO ${t}_renamed",
      s"COPY $t TO '$dir/t.parquet'",
      s"EXPORT DATABASE '$dir/db'",
      s"CREATE TEXT INDEX ${docs}_tix2 ON $docs (text)",
      s"REFRESH TEXT INDEX ${docs}_tix",
      s"REFRESH MATERIALIZED VIEW $mv"
    ).foreach { q =>
      val exp = engine.explain(q).head()
      assert(exp.getAs[String]("execution_mode") == "LOCAL", q)
      assert(exp.getAs[String]("plan") == "routed DDL/DML", q)
      assert(state == before, s"explain changed state: $q")
    }
    engine.sql(s"DROP MATERIALIZED VIEW $mv")
    Seq(t, src, docs).foreach(x => engine.sql(s"DROP TABLE $x"))
    Seq("postings", "doclens", "stats").foreach(x =>
      engine.unregisterTable(s"${docs}_tix_$x"))
  }

  test("DuckDB spellings leave string literals alone, backslash-escaped " +
      "quotes included") {
    // Spark's lexer reads \' as an escaped quote: the ::uuid and the
    // 39-digit run stay inside the literal
    assert(engine.sql("SELECT 'a\\'::uuid' AS s").head().getString(0) ==
      "a'::uuid")
    val huge = "1" * 40
    assert(engine.sql(s"SELECT 'x\\' $huge::uuid' AS s").head()
      .getString(0) == s"x' $huge::uuid")
    assert(DuckSyntax.rewriteCasts(s"SELECT 'a\\'::uuid $huge', v::UUID") ==
      s"SELECT 'a\\'::uuid $huge', v::STRING")
  }

  test("ON CONFLICT keyword matching: any whitespace between ON and " +
      "CONFLICT; a join column named `conflict` never trips the route") {
    val t = s"confws_${System.nanoTime()}"
    val u = s"confws_u_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, v INT)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10)")
    // newline + double-space spellings both route
    val r = engine.sql(s"INSERT INTO $t VALUES (1, 99), (2, 20) ON\n" +
      "CONFLICT (id) DO NOTHING")
    assert(r.head().getLong(1) == 1)
    engine.sql(s"INSERT INTO $t VALUES (3, 30) ON  CONFLICT  (id) " +
      "DO UPDATE SET v = excluded.v")
    assert(engine.table(t).count() == 3)
    // a valid INSERT…SELECT joining ON a column literally named
    // `conflict` takes the plain INSERT route (no parse error)
    engine.sql(s"CREATE TABLE $u (conflict INT, w INT)")
    engine.sql(s"INSERT INTO $u VALUES (4, 40)")
    engine.sql(s"CREATE TABLE ${u}_k (k INT, w2 INT)")
    engine.sql(s"INSERT INTO ${u}_k VALUES (4, 44)")
    engine.sql(s"INSERT INTO $t SELECT $u.conflict, ${u}_k.w2 FROM $u " +
      s"JOIN ${u}_k ON conflict = ${u}_k.k")
    assert(engine.table(t).count() == 4)
    engine.sql(s"DROP TABLE $t"); engine.sql(s"DROP TABLE $u")
    engine.sql(s"DROP TABLE ${u}_k")
  }

  test("bare ON CONFLICT (no target) infers keys from the sole index, " +
      "like INSERT OR …") {
    val t = s"confbare_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, v INT)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10)")
    // no index → the target-less form cannot infer its conflict columns
    assert(intercept[IllegalArgumentException](
      engine.sql(s"INSERT INTO $t VALUES (1, 99) ON CONFLICT DO NOTHING"))
      .getMessage.contains("infer the conflict columns"))
    engine.sql(s"CREATE INDEX confbare_ix ON $t (id)")
    val r = engine.sql(
      s"INSERT INTO $t VALUES (1, 99), (2, 20) ON CONFLICT DO NOTHING")
    assert(r.head().getLong(1) == 1)
    assert(engine.table(t).filter(col("id") === 1).head().getInt(1) == 10)
    engine.sql(s"INSERT INTO $t VALUES (2, 200) " +
      "ON CONFLICT DO UPDATE SET v = excluded.v")
    assert(engine.table(t).filter(col("id") === 2).head().getInt(1) == 200)
    engine.sql(s"DROP TABLE $t")
  }

  test("DO NOTHING with a self-conflicting batch inserts the first row " +
      "per key and ignores the rest (DuckDB semantics)") {
    val t = s"confdup_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, v INT)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10)")
    // key 2 appears three times: first (v=21) wins; key 1 conflicts
    // with the table and is skipped entirely
    val r = engine.sql(s"INSERT INTO $t VALUES (2, 21), (1, 99), " +
      "(2, 22), (3, 30), (2, 23) ON CONFLICT (id) DO NOTHING")
    assert(r.head().getLong(1) == 2)
    val rows = engine.table(t).orderBy("id").collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq
      == Seq((1, 10), (2, 21), (3, 30)))
    // NULL keys never conflict — all NULL-key rows insert
    val r2 = engine.sql(s"INSERT INTO $t VALUES (NULL, 1), (NULL, 2) " +
      "ON CONFLICT (id) DO NOTHING")
    assert(r2.head().getLong(1) == 2)
    assert(engine.table(t).count() == 5)
    // OR IGNORE rides the same path
    engine.sql(s"CREATE INDEX confdup_ix ON $t (id)")
    val r3 = engine.sql(s"INSERT OR IGNORE INTO $t VALUES (4, 41), (4, 42)")
    assert(r3.head().getLong(1) == 1)
    assert(engine.table(t).filter(col("id") === 4).head().getInt(1) == 41)
    engine.sql(s"DROP TABLE $t")
  }

  test("INSERT OR REPLACE refuses a duplicate-key conflict target " +
      "instead of collapsing N target rows into one") {
    val t = s"iordup_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, v INT)")
    // the registry index is advisory: duplicates CAN exist on id
    engine.sql(s"INSERT INTO $t VALUES (1, 10), (1, 11), (2, 20)")
    engine.sql(s"CREATE INDEX iordup_ix ON $t (id)")
    val msg = intercept[IllegalArgumentException](
      engine.sql(s"INSERT OR REPLACE INTO $t VALUES (1, 99)")).getMessage
    assert(msg.contains("Constraint Error") && msg.contains("unique"))
    assert(engine.table(t).count() == 3, "failed REPLACE must not write")
    // on a clean key set the verb still works
    engine.sql(s"DELETE FROM $t WHERE v = 11")
    val r = engine.sql(s"INSERT OR REPLACE INTO $t VALUES (1, 99)")
    assert(r.head().getLong(0) == 1)
    assert(engine.table(t).filter(col("id") === 1).head().getInt(1) == 99)
    engine.sql(s"DROP TABLE $t")
  }

  test("COPY TO / COPY FROM route to the file connectors: parquet, " +
      "csv (options), json, the (query) form, and format errors") {
    val t = s"copy_${System.nanoTime()}"
    val base = java.nio.file.Files.createTempDirectory("graft_copy").toString
    engine.sql(s"CREATE TABLE $t (id INT, tag STRING, v DOUBLE)")
    engine.sql(s"INSERT INTO $t VALUES (1, 'a', 1.5), (2, 'b,c', 2.5), " +
      "(3, NULL, 3.5)")
    // explain classifies COPY as routed without writing anything
    val exp = engine.explain(s"COPY $t TO '$base/never.parquet'").head()
    assert(exp.getAs[String]("plan") == "routed DDL/DML")
    assert(!new java.io.File(s"$base/never.parquet").exists())
    // parquet by extension; count returned; read back equals the table
    val n = engine.sql(s"COPY $t TO '$base/t.parquet'").head().getLong(0)
    assert(n == 3)
    assert(spark.read.parquet(s"$base/t.parquet").count() == 3)
    // csv with explicit FORMAT + HEADER + DELIMITER survives a value
    // containing the default delimiter; FROM appends through the
    // INSERT ingress into an empty clone
    engine.sql(s"COPY $t TO '$base/t_pipe' (FORMAT CSV, HEADER, " +
      "DELIMITER '|')")
    val t2 = s"${t}_back"
    engine.sql(s"CREATE TABLE $t2 (id INT, tag STRING, v DOUBLE)")
    val m = engine.sql(s"COPY $t2 FROM '$base/t_pipe' (FORMAT CSV, " +
      "HEADER, DELIMITER '|')").head().getLong(0)
    assert(m == 3)
    assert(engine.table(t2).orderBy("id").collect().toSeq
      == engine.table(t).orderBy("id").collect().toSeq)
    // json round-trip via extension inference
    engine.sql(s"COPY $t TO '$base/t.json'")
    val t3 = s"${t}_j"
    engine.sql(s"CREATE TABLE $t3 (id INT, tag STRING, v DOUBLE)")
    assert(engine.sql(s"COPY $t3 FROM '$base/t.json'")
      .head().getLong(0) == 3)
    assert(engine.table(t3).count() == 3)
    // the (query) form writes a projection — parens/commas inside the
    // query body must not confuse the tail scan
    val q = engine.sql(s"COPY (SELECT id, concat(tag, '(x,y)') AS tg " +
      s"FROM $t WHERE id <= 2) TO '$base/q.parquet'")
    assert(q.head().getLong(0) == 2)
    assert(spark.read.parquet(s"$base/q.parquet").columns
      .sameElements(Array("id", "tg")))
    // PARTITION_BY writes the Hive layout (one dir per key value) and
    // the read-back sees every row with the partition column intact
    engine.sql(s"COPY $t TO '$base/part' (FORMAT PARQUET, " +
      "PARTITION_BY (tag))")
    // three key values: 'a', 'b,c', and NULL (the Hive default dir)
    val partDirs = new java.io.File(s"$base/part").listFiles()
      .filter(_.getName.startsWith("tag=")).map(_.getName).sorted
    assert(partDirs.length == 3, partDirs.mkString(","))
    val back = spark.read.parquet(s"$base/part")
    assert(back.count() == 3 &&
      back.columns.toSet == Set("id", "tag", "v"))
    // AUTO_DETECT: schema inferred from the file, aligned by name —
    // a JSON payload (alphabetical inference order) lands correctly
    val t4 = s"${t}_auto"
    engine.sql(s"CREATE TABLE $t4 (id INT, tag STRING, v DOUBLE)")
    assert(engine.sql(s"COPY $t4 FROM '$base/t.json' (AUTO_DETECT)")
      .head().getLong(0) == 3)
    assert(engine.table(t4).orderBy("id").collect().toSeq
      == engine.table(t).orderBy("id").collect().toSeq)
    engine.sql(s"DROP TABLE $t4")
    // unknown format → catalog error; missing extension → binder error
    assert(intercept[IllegalArgumentException](
      engine.sql(s"COPY $t TO '$base/x.avro' (FORMAT AVRO)")).getMessage
      .contains("Copy Function"))
    assert(intercept[IllegalArgumentException](
      engine.sql(s"COPY $t TO '$base/noext'")).getMessage
      .contains("FORMAT"))
    assert(intercept[IllegalArgumentException](
      engine.sql(s"COPY (SELECT (1 FROM $t TO '$base/x.parquet'")).getMessage
      .contains("unbalanced parentheses in COPY"))
    Seq(t, t2, t3).foreach(x => engine.sql(s"DROP TABLE $x"))
  }

  test("RETURNING projects the affected rows: inserted (defaults " +
      "filled), post-update, deleted; join forms refuse clearly") {
    val t = s"ret_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, v INT, tag STRING)")
    engine.sql(s"ALTER TABLE $t ALTER COLUMN tag SET DEFAULT 'dft'")
    // explain stays side-effect-free and classifies as routed
    assert(engine.explain(s"DELETE FROM $t RETURNING *").head()
      .getAs[String]("plan") == "routed DDL/DML")
    assert(engine.table(t).count() == 0)
    // INSERT … RETURNING *: the inserted rows, defaults filled
    val ins = engine.sql(s"INSERT INTO $t (id, v) VALUES (1, 10), (2, 20) " +
      "RETURNING *").orderBy("id").collect()
    assert(ins.map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
      == Seq((1, 10, "dft"), (2, 20, "dft")))
    // UPDATE … RETURNING: post-assignment values, expressions + aliases
    val upd = engine.sql(s"UPDATE $t SET v = v + 1 WHERE id = 1 " +
      "RETURNING id, v * 10 AS v10").collect()
    assert(upd.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 110)))
    // DELETE … RETURNING: the removed rows (and they ARE removed)
    val del = engine.sql(s"DELETE FROM $t WHERE id = 2 " +
      "RETURNING id, tag").collect()
    assert(del.map(r => (r.getInt(0), r.getString(1))).toSeq
      == Seq((2, "dft")))
    assert(engine.table(t).count() == 1)
    // a RETURNING inside a string literal never splits the statement
    engine.sql(s"INSERT INTO $t VALUES (3, 30, 'not RETURNING x')")
    assert(engine.table(t).filter(col("id") === 3).head().getString(2)
      == "not RETURNING x")
    engine.sql(s"DROP TABLE $t")
  }

  test("RETURNING on the join-form verbs: UPDATE FROM, DELETE USING, " +
      "ON CONFLICT, INSERT OR REPLACE/IGNORE") {
    val t = s"retj_${System.nanoTime()}"
    val src = s"retj_src_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, v INT)")
    engine.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20), (3, 30)")
    engine.sql(s"CREATE TABLE $src (id INT, bump INT)")
    engine.sql(s"INSERT INTO $src VALUES (1, 100), (3, 300)")
    // UPDATE … FROM … RETURNING: post-assignment target rows
    val uf = engine.sql(s"UPDATE $t SET v = s.bump FROM $src s " +
      s"WHERE $t.id = s.id RETURNING id, v").orderBy("id").collect()
    assert(uf.map(r => (r.getInt(0), r.getInt(1))).toSeq
      == Seq((1, 100), (3, 300)))
    // DELETE … USING … RETURNING: the removed target rows
    val du = engine.sql(s"DELETE FROM $t USING $src s " +
      s"WHERE $t.id = s.id AND s.bump = 300 RETURNING *").collect()
    assert(du.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((3, 300)))
    assert(engine.table(t).count() == 2)
    // ON CONFLICT RETURNING: written rows only (updated post-assignment
    // + inserted; the skipped row of DO NOTHING is absent)
    val oc = engine.sql(s"INSERT INTO $t VALUES (2, 999), (4, 40) " +
      "ON CONFLICT (id) DO UPDATE SET v = excluded.v " +
      "RETURNING id, v").orderBy("id").collect()
    assert(oc.map(r => (r.getInt(0), r.getInt(1))).toSeq
      == Seq((2, 999), (4, 40)))
    val ocn = engine.sql(s"INSERT INTO $t VALUES (2, 7), (5, 50) " +
      "ON CONFLICT (id) DO NOTHING RETURNING id").collect()
    assert(ocn.map(_.getInt(0)).toSeq == Seq(5))
    // INSERT OR REPLACE/IGNORE RETURNING via the sole-index inference
    engine.sql(s"CREATE INDEX retj_ix ON $t (id)")
    val ior = engine.sql(s"INSERT OR REPLACE INTO $t VALUES (1, 111), " +
      "(6, 60) RETURNING id, v").orderBy("id").collect()
    assert(ior.map(r => (r.getInt(0), r.getInt(1))).toSeq
      == Seq((1, 111), (6, 60)))
    assert(engine.table(t).filter(col("id") === 1).head().getInt(1) == 111)
    val ii = engine.sql(s"INSERT OR IGNORE INTO $t VALUES (6, 999), " +
      "(7, 70) RETURNING id").collect()
    assert(ii.map(_.getInt(0)).toSeq == Seq(7))
    engine.sql(s"DROP TABLE $t"); engine.sql(s"DROP TABLE $src")
  }

  test("CREATE/REFRESH TEXT INDEX and ANN INDEX route to the serving-" +
      "index lifecycle; explain stays side-effect-free") {
    val t = s"sidx_docs_${System.nanoTime()}"
    val v = s"sidx_vecs_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (doc_id BIGINT, text STRING)")
    engine.sql(s"INSERT INTO $t VALUES (1, 'join stream join vector'), " +
      "(2, 'vector vector merge'), (3, 'other words only')")
    // explain classifies without building anything
    assert(engine.explain(s"CREATE TEXT INDEX tix_$t ON $t (text)")
      .head().getAs[String]("plan") == "routed DDL/DML")
    assert(!engine.tableExists(s"tix_${t}_postings"))
    engine.sql(s"CREATE TEXT INDEX tix_$t ON $t (text)")
    assert(engine.tableExists(s"tix_${t}_postings"))
    val top = engine.bm25Search(s"tix_$t", Seq("vector"), 2).collect()
    assert(top.length == 2 && top.head.getLong(0) == 2L)
    // refresh via SQL: only the new doc indexes; count returned
    engine.sql(s"INSERT INTO $t VALUES (4, 'vector vector vector zzz')")
    val r = engine.sql(s"REFRESH TEXT INDEX tix_$t")
    assert(r.columns.sameElements(Array("indexed_docs")))
    assert(r.head().getLong(0) == 1)
    assert(engine.bm25Search(s"tix_$t", Seq("vector"), 1).head()
      .getLong(0) == 4L)
    // ANN lifecycle: PQ build + refresh over an embeddings-shaped table
    engine.registerTable(v, graft.Tables.t(spark, sf, "embeddings")
      .limit(300).select(col("vec_id"), col("embedding")))
    engine.sql(s"CREATE ANN INDEX aix_$t ON $v (embedding) PQ")
    assert(engine.tableExists(s"aix_${t}_cells") &&
      engine.tableExists(s"aix_${t}_codebooks"))
    val qv = engine.table(v).select("embedding").head()
      .getSeq[Float](0).toArray
    assert(engine.annSearch(s"aix_$t", qv, k = 5).count() == 5)
    engine.insertInto(v, engine.table(v).limit(7)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val ra = engine.sql(s"REFRESH ANN INDEX aix_$t")
    assert(ra.head().getLong(0) == 7)
    // refresh of a missing index raises the catalog error
    assert(intercept[IllegalArgumentException](
      engine.sql("REFRESH TEXT INDEX no_such_ix")).getMessage
      .contains("does not exist"))
    engine.sql(s"DROP TABLE $t")
    Seq(s"tix_${t}_postings", s"tix_${t}_doclens", s"tix_${t}_stats",
      s"aix_${t}_cells", s"aix_${t}_codebooks", s"aix_${t}_centroids", v)
      .foreach(engine.unregisterTable)
  }

  test("OPTIMIZE TEXT/ANN INDEX re-sorts the refresh-appended tail " +
      "back into pruning order; results unchanged") {
    def fileSorted(dir: String, colName: String): Boolean = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      files.forall { f =>
        val vs = spark.read.parquet(f).select(colName).collect()
        val s = vs.map(_.get(0).toString)
        // string compare suffices: both artifacts sort on the native
        // type; equal-key runs keep any order
        (1 until s.length).forall(i => s(i - 1) <= s(i)) || {
          // numeric columns need numeric order
          val n = vs.map(_.get(0).asInstanceOf[Number].longValue())
          (1 until n.length).forall(i => n(i - 1) <= n(i))
        }
      }
    }
    val t = s"optidx_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (doc_id BIGINT, text STRING)")
    engine.sql(s"INSERT INTO $t VALUES (1, 'zulu alpha'), " +
      "(2, 'alpha mike'), (3, 'kilo zulu')")
    val dir = java.nio.file.Files.createTempDirectory("graft_optidx")
      .toString
    engine.buildTextIndex(s"ot_$t", t, s"$dir/tix")
    engine.sql(s"INSERT INTO $t VALUES (4, 'bravo alpha alpha')")
    engine.sql(s"REFRESH TEXT INDEX ot_$t") // appends a batch-local tail
    val before = engine.bm25Search(s"ot_$t", Seq("alpha"), 4).collect()
      .map(_.toString).toSeq
    engine.sql(s"OPTIMIZE TEXT INDEX ot_$t")
    assert(fileSorted(s"$dir/tix/postings", "w"),
      "postings not term-sorted after OPTIMIZE")
    assert(engine.bm25Search(s"ot_$t", Seq("alpha"), 4).collect()
      .map(_.toString).toSeq == before)
    // ANN: build, refresh-append, optimize; probe unchanged, cells
    // cell-sorted per file again
    val v = s"optvec_${System.nanoTime()}"
    engine.registerTable(v, graft.Tables.t(spark, sf, "embeddings")
      .limit(400).select(col("vec_id"), col("embedding")))
    engine.buildAnnIndex(s"oa_$t", v, path = s"$dir/aix")
    engine.insertInto(v, engine.table(v).limit(9)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding")))
    assert(engine.refreshAnnIndex(s"oa_$t", v) == 9)
    val qv = engine.table(v).select("embedding").head()
      .getSeq[Float](0).toArray
    val abefore = engine.annSearch(s"oa_$t", qv, k = 5).collect()
      .map(_.toString).toSeq
    engine.sql(s"OPTIMIZE ANN INDEX oa_$t")
    assert(fileSorted(s"$dir/aix/cells", "cell"),
      "cells not cell-sorted after OPTIMIZE")
    assert(engine.annSearch(s"oa_$t", qv, k = 5).collect()
      .map(_.toString).toSeq == abefore)
    // a plain index has neither artifact
    engine.sql(s"CREATE INDEX plainopt_$t ON $t (doc_id)")
    assert(intercept[IllegalArgumentException](
      engine.sql(s"OPTIMIZE ANN INDEX plainopt_$t")).getMessage
      .contains("not a persisted ANN index"))
    engine.sql(s"DROP TABLE $t")
    Seq("postings", "doclens", "stats").foreach(s =>
      engine.unregisterTable(s"ot_${t}_$s"))
    Seq("cells", "centroids").foreach(s =>
      engine.unregisterTable(s"oa_${t}_$s"))
    engine.unregisterTable(v)
  }

  test("EXPORT DATABASE / IMPORT DATABASE round-trip data, enums, " +
      "constraints, defaults, and index registry entries") {
    val base = java.nio.file.Files.createTempDirectory("graft_expdb")
      .toString
    val eng1 = graft.Engine(spark)
    eng1.sql("CREATE TYPE exp_mood AS ENUM ('sad', 'ok', 'happy')")
    eng1.sql("CREATE TABLE exp_t (id INT, m exp_mood, v DOUBLE)")
    eng1.sql("ALTER TABLE exp_t ALTER COLUMN id SET NOT NULL")
    eng1.sql("ALTER TABLE exp_t ALTER COLUMN v SET DEFAULT 1.5")
    eng1.sql("INSERT INTO exp_t VALUES (1, 'happy', 2.0), (2, 'sad', 3.0)")
    eng1.sql("CREATE INDEX exp_ix ON exp_t (id)")
    // explain stays side-effect-free
    assert(eng1.explain(s"EXPORT DATABASE '$base/db'").head()
      .getAs[String]("plan") == "routed DDL/DML")
    assert(!new java.io.File(s"$base/db").exists())
    assert(eng1.sql(s"EXPORT DATABASE '$base/db'").head().getLong(0) == 1)
    // restore into a fresh engine
    val eng2 = graft.Engine(spark)
    assert(eng2.sql(s"IMPORT DATABASE '$base/db'").head().getLong(0) == 1)
    assert(eng2.table("exp_t").count() == 2)
    // enum ORDER survives (declaration-order MIN, the q71 law)
    assert(eng2.sql("SELECT min(m) FROM exp_t").head().getString(0)
      == "sad")
    intercept[IllegalArgumentException](
      eng2.sql("INSERT INTO exp_t VALUES (NULL, 'ok', 0.0)"))
    intercept[IllegalArgumentException](
      eng2.sql("INSERT INTO exp_t VALUES (3, 'angry', 0.0)"))
    eng2.sql("INSERT INTO exp_t (id, m) VALUES (3, 'ok')")
    assert(eng2.table("exp_t").filter(col("id") === 3).head()
      .getDouble(2) == 1.5)
    assert(eng2.indexes.collect().exists(_.getString(0) == "exp_ix"))
    // importing over an existing table raises the catalog error
    assert(intercept[IllegalArgumentException](
      eng2.sql(s"IMPORT DATABASE '$base/db'")).getMessage
      .contains("already exists"))
    // non-parquet export format refuses
    assert(intercept[IllegalArgumentException](
      eng1.sql(s"EXPORT DATABASE '$base/db2' (FORMAT CSV)")).getMessage
      .contains("PARQUET"))
    eng1.dropTable("exp_t"); eng2.dropTable("exp_t")
  }

  test("REFRESH TEXT INDEX resolves the column and path the index was " +
      "built with; wrong-args refresh and non-text refresh refuse") {
    val t = s"tmeta_docs_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (doc_id BIGINT, body STRING)")
    engine.sql(s"INSERT INTO $t VALUES (1, 'alpha beta alpha'), " +
      "(2, 'beta gamma gamma')")
    // SQL build on a NON-default column records (path, idCol, textCol)
    engine.sql(s"CREATE TEXT INDEX tm_$t ON $t (body)")
    engine.sql(s"INSERT INTO $t VALUES (3, 'alpha alpha alpha zz')")
    // refresh must tokenize `body` (there is no `text` column at all —
    // the pre-fix default would have thrown or indexed nothing)
    assert(engine.sql(s"REFRESH TEXT INDEX tm_$t").head().getLong(0) == 1)
    assert(engine.bm25Search(s"tm_$t", Seq("alpha"), 1).head()
      .getLong(0) == 3L)
    // programmatic build at a CUSTOM path: SQL refresh resolves it
    val dir = java.nio.file.Files.createTempDirectory("graft_tmeta")
      .toString
    engine.buildTextIndex(s"tm2_$t", t, s"$dir/custom", textCol = "body")
    engine.sql(s"INSERT INTO $t VALUES (4, 'gamma gamma gamma gamma')")
    assert(engine.sql(s"REFRESH TEXT INDEX tm2_$t").head().getLong(0) == 1)
    assert(engine.bm25Search(s"tm2_$t", Seq("gamma"), 1).head()
      .getLong(0) == 4L)
    // refreshing with args that differ from the build refuses loudly
    assert(intercept[IllegalArgumentException](
      engine.refreshTextIndex(s"tm2_$t", t, s"$dir/other",
        textCol = "body")).getMessage.contains("same path"))
    // a plain metadata index has no postings — not a TEXT index
    engine.sql(s"CREATE INDEX plain_$t ON $t (doc_id)")
    assert(intercept[IllegalArgumentException](
      engine.sql(s"REFRESH TEXT INDEX plain_$t")).getMessage
      .contains("not a TEXT index"))
    engine.sql(s"DROP TABLE $t")
    Seq(s"tm_$t", s"tm2_$t").foreach { ix =>
      Seq("postings", "doclens", "stats").foreach(s =>
        engine.unregisterTable(s"${ix}_$s"))
    }
  }

  test("serving indexes stay out of INSERT OR REPLACE conflict-target " +
      "inference") {
    val t = s"sinf_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (doc_id INT, text STRING)")
    engine.sql(s"INSERT INTO $t VALUES (1, 'alpha beta'), (2, 'beta beta')")
    engine.sql(s"CREATE INDEX key_$t ON $t (doc_id)")
    // a text index over a REAL column must not break the sole-index
    // inference (pre-fix: two candidate column-sets -> refusal)
    engine.sql(s"CREATE TEXT INDEX six_$t ON $t (text)")
    engine.sql(s"INSERT OR REPLACE INTO $t VALUES (1, 'replaced')")
    assert(engine.table(t).filter(col("doc_id") === 1).head()
      .getString(1) == "replaced")
    // ...and a text index as the ONLY index must not become the key
    engine.sql(s"DROP INDEX key_$t")
    assert(intercept[IllegalArgumentException](
      engine.sql(s"INSERT OR REPLACE INTO $t VALUES (1, 'again')"))
      .getMessage.contains("exactly one index"))
    engine.sql(s"DROP TABLE $t")
    Seq("postings", "doclens", "stats").foreach(s =>
      engine.unregisterTable(s"six_${t}_$s"))
  }

  test("IMPORT DATABASE validates the whole manifest before creating " +
      "anything and restores serving-index metadata") {
    val base = java.nio.file.Files.createTempDirectory("graft_impdb")
      .toString
    val eng1 = Engine(spark)
    eng1.sql("CREATE TABLE imp_docs (doc_id BIGINT, body STRING)")
    eng1.sql("INSERT INTO imp_docs VALUES (1, 'alpha beta'), " +
      "(2, 'beta gamma')")
    eng1.sql("CREATE TEXT INDEX imp_tix ON imp_docs (body)")
    // 5 = docs + postings/doclens/stats/termstats artifact read-backs
    assert(eng1.sql(s"EXPORT DATABASE '$base/db'").head().getLong(0) == 5)
    // restore: text-index metadata (path, idCol, textCol) travels, so
    // REFRESH resolves the built column on the restored engine
    val eng2 = Engine(spark)
    eng2.sql(s"IMPORT DATABASE '$base/db'")
    eng2.sql("INSERT INTO imp_docs VALUES (3, 'gamma gamma gamma')")
    assert(eng2.sql("REFRESH TEXT INDEX imp_tix").head().getLong(0) == 1)
    assert(eng2.bm25Search("imp_tix", Seq("gamma"), 1).head()
      .getLong(0) == 3L)
    // serving tag travels too: the text index alone must not infer an
    // upsert key on the restored engine
    assert(intercept[IllegalArgumentException](
      eng2.sql("INSERT OR REPLACE INTO imp_docs VALUES (1, 'x')"))
      .getMessage.contains("exactly one index"))
    // an index-name collision with a LIVE index refuses up front —
    // silently skipping would attach the manifest's serving metadata
    // to an unrelated index
    val engC = Engine.scratch(spark)
    engC.sql("CREATE TABLE other_t (k INT)")
    engC.createIndex("imp_tix", "other_t", Seq("k"))
    val collide = intercept[IllegalArgumentException](
      engC.sql(s"IMPORT DATABASE '$base/db'")).getMessage
    assert(collide.contains("imp_tix") && collide.contains("already"))
    assert(engC.tableNames.toSet == Set("other_t"),
      "index collision must refuse before creating anything")
    // refresh against an unreachable artifact path refuses instead of
    // re-registering a batch-only index (the restore-then-refresh trap)
    val eng4 = Engine.scratch(spark)
    eng4.sql("CREATE TABLE ur_docs (doc_id BIGINT, text STRING)")
    eng4.sql("INSERT INTO ur_docs VALUES (1, 'alpha beta')")
    val gone = java.nio.file.Files
      .createTempDirectory("graft_gone").toString + "/idx"
    eng4.buildTextIndex("ur_tix", "ur_docs", gone)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(gone), true)
    eng4.sql("INSERT INTO ur_docs VALUES (2, 'beta gamma')")
    assert(intercept[IllegalArgumentException](
      eng4.sql("REFRESH TEXT INDEX ur_tix")).getMessage
      .contains("unreachable"))
    // corrupt the manifest: a column row referencing an unknown table
    // must raise BEFORE anything is created (atomic validation)
    import spark.implicits._
    Seq(("ghost_table", "c", false, null.asInstanceOf[String],
      null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("table_name", "column_name", "not_null", "default_expr",
        "enum_type", "type_origin")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/db/catalog/columns.parquet")
    val eng3 = Engine(spark)
    assert(intercept[IllegalArgumentException](
      eng3.sql(s"IMPORT DATABASE '$base/db'")).getMessage
      .contains("unknown table"))
    assert(eng3.tableNames.isEmpty, "half-imported catalog after a " +
      "manifest validation failure")
  }

  test("EXPORT DATABASE is self-contained for serving indexes: the " +
      "artifacts travel under <dir>/artifacts, so an import whose " +
      "ORIGINALS are gone still probes and refreshes without rebuild") {
    val base = java.nio.file.Files.createTempDirectory("graft_selfexp")
      .toString
    val eng1 = Engine.scratch(spark)
    eng1.sql("CREATE TABLE se_docs (doc_id BIGINT, text STRING)")
    eng1.sql("INSERT INTO se_docs VALUES (1, 'alpha beta'), " +
      "(2, 'beta gamma'), (3, 'alpha alpha')")
    val tixPath = java.nio.file.Files
      .createTempDirectory("graft_setix").toString + "/idx"
    eng1.buildTextIndex("se_tix", "se_docs", tixPath)
    eng1.registerTable("se_vecs", graft.Tables.t(spark, sf, "embeddings")
      .limit(200).select(col("vec_id"), col("embedding")))
    val annDir = java.nio.file.Files
      .createTempDirectory("graft_seann").toString + "/ann"
    eng1.buildAnnIndex("se_ann", "se_vecs", path = annDir)
    val before = eng1.bm25Search("se_tix", Seq("alpha"), 2).collect()
      .map(_.toString).toSeq
    val qv = eng1.table("se_vecs").select("embedding").head()
      .getSeq[Float](0).toArray
    val abefore = eng1.annSearch("se_ann", qv, 3).collect()
      .map(_.toString).toSeq
    eng1.sql(s"EXPORT DATABASE '$base/db'")
    // destroy the originals — the restore must not depend on them
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tixPath), true)
    fs.delete(new org.apache.hadoop.fs.Path(annDir), true)
    val eng2 = Engine.scratch(spark)
    eng2.sql(s"IMPORT DATABASE '$base/db'")
    assert(eng2.bm25Search("se_tix", Seq("alpha"), 2).collect()
      .map(_.toString).toSeq == before,
      "text probe diverged after a self-contained restore")
    assert(eng2.annSearch("se_ann", qv, 3).collect()
      .map(_.toString).toSeq == abefore,
      "ANN probe diverged after a self-contained restore")
    // refresh appends to the artifact COPY (the whole point of the verb)
    eng2.sql("INSERT INTO se_docs VALUES (4, 'alpha alpha alpha')")
    assert(eng2.sql("REFRESH TEXT INDEX se_tix").head().getLong(0) == 1)
    assert(eng2.bm25Search("se_tix", Seq("alpha"), 1).head()
      .getLong(0) == 4L)
    // IMPORT seeded the maintenance base (ADVICE r17): one refreshed
    // doc over a 3-doc restored corpus reads tail_frac 1/4, not the
    // tail/(tail+0)=1.0 a missing base would corrupt the OPTIMIZE
    // cadence signal with
    val tixTail = eng2.indexes
      .filter(col("index_name") === "se_tix")
      .select("tail_rows", "tail_frac").head()
    assert(tixTail.getLong(0) == 1L && tixTail.getDouble(1) == 0.25,
      s"text tail after import+refresh: $tixTail")
    eng2.sql("INSERT INTO se_vecs SELECT vec_id + 1000000, embedding " +
      "FROM se_vecs LIMIT 3")
    assert(eng2.sql("REFRESH ANN INDEX se_ann").head().getLong(0) == 3)
    val annTail = eng2.indexes
      .filter(col("index_name") === "se_ann")
      .select("tail_rows", "tail_frac").head()
    assert(annTail.getLong(0) == 3L && annTail.getDouble(1) < 0.1,
      s"ANN tail after import+refresh: $annTail")
    // RE-export to the SAME dir after a further refresh: the artifact
    // copy must be REPLACED, not nested under the stale one (Hadoop's
    // FileUtil.copy nests into an existing destination) — an import of
    // the re-export must serve the newest doc, not the first export's
    // corpus
    eng2.sql(s"EXPORT DATABASE '$base/db2'")
    eng2.sql("INSERT INTO se_docs VALUES (5, 'alpha alpha alpha alpha')")
    assert(eng2.sql("REFRESH TEXT INDEX se_tix").head().getLong(0) == 1)
    eng2.sql(s"EXPORT DATABASE '$base/db3'")
    // db3 is fresh; the REPLACE path is exercised by re-exporting db2
    eng2.sql(s"EXPORT DATABASE '$base/db2'")
    val eng3 = Engine.scratch(spark)
    eng3.sql(s"IMPORT DATABASE '$base/db2'")
    assert(eng3.bm25Search("se_tix", Seq("alpha"), 1).head()
      .getLong(0) == 5L,
      "re-export served a stale serving-index artifact copy")
  }

  test("shingle index gets the serving-index treatment: meta + " +
      "artifact travel with EXPORT DATABASE, the restored engine " +
      "refreshes the COPY, and a wrong-parameter refresh refuses") {
    val base = java.nio.file.Files.createTempDirectory("graft_shexp")
      .toString
    val eng1 = Engine.scratch(spark)
    eng1.sql("CREATE TABLE sh_docs (doc_id BIGINT, text STRING)")
    eng1.sql("INSERT INTO sh_docs VALUES " +
      "(1, 'common words here alpha beta gamma delta'), " +
      "(2, 'common words here epsilon zeta eta theta'), " +
      "(3, 'wholly unrelated text about iota kappa lambda')")
    val shPath = java.nio.file.Files
      .createTempDirectory("graft_shart").toString + "/shidx"
    eng1.buildShingleIndex("sh_ix", "sh_docs", shPath, maxDf = 2)
    assert(eng1.indexes.filter(col("index_name") === "sh_ix")
      .head().getAs[String]("kind") == "shingle")
    eng1.sql(s"EXPORT DATABASE '$base/db'")
    // destroy the original artifact — the restore must not depend on it
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(shPath), true)
    // refreshing the destroyed original refuses with the serving-index
    // error, not a raw Spark PATH_NOT_FOUND (r17 verdict wrong #3)
    val gone = intercept[IllegalArgumentException](
      eng1.refreshShingleIndex("sh_ix"))
    assert(gone.getMessage.contains("unreachable"), gone.getMessage)
    val eng2 = Engine.scratch(spark)
    eng2.sql(s"IMPORT DATABASE '$base/db'")
    assert(eng2.indexes.filter(col("index_name") === "sh_ix")
      .head().getAs[String]("kind") == "shingle")
    // the recorded meta points at the artifact COPY now — a refresh
    // spelled with the ORIGINAL path refuses loudly instead of
    // corrupting the copy
    val wrong = intercept[IllegalArgumentException](
      eng2.refreshShingleIndex("sh_ix", "sh_docs", shPath, 2))
    assert(wrong.getMessage.contains("Binder Error"), wrong.getMessage)
    // the no-arg spelling resolves build parameters from the meta and
    // refreshes the copy — including the df-cap sweep ('common words
    // here' crosses maxDf=2 with the batch's third copy)
    eng2.sql("INSERT INTO sh_docs VALUES " +
      "(4, 'common words here mu nu xi omicron')")
    assert(eng2.refreshShingleIndex("sh_ix") == 1)
    val full = java.nio.file.Files
      .createTempDirectory("graft_shfull").toString + "/full"
    eng2.buildShingleIndex("sh_full", "sh_docs", full, maxDf = 2)
    def rows(e: Engine, n: String) = e.table(n).collect()
      .map(r => (r.get(0).toString.toLong, r.getLong(1))).sorted.toSeq
    assert(rows(eng2, "sh_ix") == rows(eng2, "sh_full"),
      "post-restore refresh diverged from a from-scratch build")
    // a non-shingle name refuses the no-arg refresh with a catalog hint
    val notSh = intercept[IllegalArgumentException](
      eng2.refreshShingleIndex("sh_docs"))
    assert(notSh.getMessage.contains("does not exist"))
  }

  test("graft_probe_stats() is reachable from SQL: the serving-probe " +
      "surface rides the table-function spelling like the reference's " +
      "stats tables") {
    val eng = Engine.scratch(spark)
    eng.sql("CREATE TABLE ps_docs (doc_id BIGINT, text STRING)")
    eng.sql("INSERT INTO ps_docs VALUES (1, 'alpha beta'), " +
      "(2, 'beta gamma'), (3, 'alpha alpha gamma')")
    val dir = java.nio.file.Files.createTempDirectory("graft_pssql")
      .toString
    eng.buildTextIndex("ps_tix", "ps_docs", s"$dir/idx")
    eng.clearProbeStats()
    eng.bm25Search("ps_tix", Seq("alpha"), 2).collect()
    val got = eng.sql("SELECT index_name, verb, plan_path, rows " +
      "FROM graft_probe_stats() WHERE index_name = 'ps_tix'").collect()
    assert(got.length == 1, s"probe rows: ${got.length}")
    assert(got.head.getString(1) == "bm25_search")
    assert(got.head.getString(2).nonEmpty)
    assert(got.head.getLong(3) == 2L)
    // aggregation over the function composes like any relation
    assert(eng.sql("SELECT count(*) AS n FROM graft_probe_stats()")
      .head().getLong(0) >= 1L)
    // a table function, not a text substitution: any spelling resolves,
    // a string literal that mentions it stays data, nested SELECTs see
    // it, and no helper view is left in the session catalog
    assert(eng.sql("SELECT count(*) AS n FROM GRAFT_PROBE_STATS( )")
      .head().getLong(0) >= 1L)
    assert(eng.sql("SELECT 'graft_probe_stats()' AS s").head().getString(0) ==
      "graft_probe_stats()")
    SqlRouterSpec.nestedSelectLaw(eng,
      "SELECT index_name, verb, rows FROM graft_probe_stats()")
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.contains("graft_probe_stats")))
  }

  test("DuckDB literal spellings reach nested SELECTs: CTAS and " +
      "INSERT … SELECT over a ::BLOB literal") {
    SqlRouterSpec.nestedSelectLaw(engine,
      "SELECT '\\xAA\\xBB'::BLOB AS b, 'x'::UUID AS u")
  }

  test("bm25Search pads zero-score docs in doc_id order when fewer " +
      "than k docs match, like the full pass") {
    val t = s"bmpad_${System.nanoTime()}"
    engine.createTable(t, "doc_id BIGINT, text STRING")
    engine.insertValues(t, Seq(
      org.apache.spark.sql.Row(1L, "alpha beta alpha"),
      org.apache.spark.sql.Row(2L, "beta beta gamma"),
      org.apache.spark.sql.Row(3L, "unrelated words"),
      org.apache.spark.sql.Row(4L, "nothing shared here")))
    val dir = java.nio.file.Files.createTempDirectory("graft_bmpad")
      .toString
    engine.buildTextIndex(s"bp_$t", t, s"$dir/index")
    // 'alpha' matches only doc 1; k=3 pads docs 3 then 4? no — pads the
    // LOWEST unmatched doc_ids: 2, 3 (doc 2 doesn't contain alpha)
    val got = engine.bm25Search(s"bp_$t", Seq("alpha"), 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.length == 3)
    assert(got.head._1 == 1L && got.head._2 > 0.0)
    assert(got.drop(1) == Seq((2L, 0.0), (3L, 0.0)))
    engine.dropTable(t)
    Seq("postings", "doclens", "stats").foreach(s =>
      engine.unregisterTable(s"bp_${t}_$s"))
  }

  test("routed DML honors backslash escapes inside string literals and " +
      "rejects non-deterministic expressions") {
    val t = s"upd_esc_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, tag STRING)")
    engine.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    // Spark's lexer honors \' by default: the WHERE inside the escaped
    // literal must not split the SET list (the scanner has to skip the
    // escaped quote, or it re-enters "outside string" at the wrong spot)
    engine.sql(
      s"UPDATE $t SET tag = 'don\\'t WHERE id > 0 trap' WHERE id = 1")
    val rows = engine.table(t).orderBy("id").collect()
    assert(rows(0).getString(1) == "don't WHERE id > 0 trap",
      s"backslash-escaped literal mis-split: got '${rows(0).getString(1)}'")
    assert(rows(1).getString(1) == "b")
    // copy-on-write DML evaluates predicates/assignments more than
    // once — rand()/uuid() could lose or duplicate rows, so they bind-
    // error instead
    assert(intercept[IllegalArgumentException](
      engine.sql(s"UPDATE $t SET tag = uuid() WHERE id = 1")).getMessage
      .contains("non-deterministic"))
    assert(intercept[IllegalArgumentException](
      engine.sql(s"UPDATE $t SET tag = 'x' WHERE rand() < 0.5"))
      .getMessage.contains("non-deterministic"))
    assert(intercept[IllegalArgumentException](
      engine.sql(s"DELETE FROM $t WHERE rand() < 0.5")).getMessage
      .contains("non-deterministic"))
    // table untouched by the rejected statements
    assert(engine.table(t).count() == 2)
    engine.sql(s"DROP TABLE $t")
  }

  test("MERGE INTO statement SQL routes to the engine verb") {
    val t = s"router_merge_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING")
    engine.sql(s"INSERT INTO $t VALUES (1, 'alice'), (2, 'bob')").collect()
    // canonical whole-row upsert spelling, subquery source
    val r = engine.sql(
      s"""MERGE INTO $t AS t USING (
         |  SELECT * FROM (VALUES (2, 'bob2'), (3, 'carl')) AS v(id, name)
         |) AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(r.getLong(0) == 1 && r.getLong(1) == 1) // (updated, inserted)
    val got = engine.table(t).collect()
      .map(x => x.getInt(0) -> x.getString(1)).toMap
    assert(got == Map(1 -> "alice", 2 -> "bob2", 3 -> "carl"))
    // table source form
    val srcT = s"${t}_src"
    engine.createTable(srcT, "id INT, name STRING")
    engine.sql(s"INSERT INTO $srcT VALUES (3, 'carl3'), (4, 'dana')").collect()
    val r2 = engine.sql(
      s"MERGE INTO $t AS t USING $srcT AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").head()
    assert(r2.getLong(0) == 1 && r2.getLong(1) == 1)
    assert(engine.table(t).count() == 4)
    // mismatched key names in ON must raise, not silently mis-merge
    val err = intercept[IllegalArgumentException](engine.sql(
      s"MERGE INTO $t AS t USING $srcT AS s ON t.id = s.name " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"))
    assert(err.getMessage.contains("same-named"))
    engine.dropTable(t); engine.dropTable(srcT)
  }

  test("column-form MERGE: unassigned columns keep target values") {
    val t = s"router_merge_cols_${System.nanoTime()}"
    engine.createTable(t, "id INT, name STRING, score INT")
    engine.sql(s"INSERT INTO $t VALUES (1, 'alice', 10), (2, 'bob', 20)")
    val srcT = s"${t}_src"
    engine.createTable(srcT, "id INT, score INT")
    engine.sql(s"INSERT INTO $srcT VALUES (2, 99), (3, 42)")
    val r = engine.sql(
      s"MERGE INTO $t AS t USING $srcT AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET score = s.score + 1 " +
        "WHEN NOT MATCHED THEN INSERT (id, score) VALUES (s.id, s.score)")
      .head()
    assert(r.getLong(0) == 1 && r.getLong(1) == 1)
    val got = engine.table(t).collect().map(x =>
      x.getInt(0) -> ((x.getString(1), x.get(2)))).toMap
    // bob keeps his name (unassigned), score becomes 99+1; the inserted
    // row has no name assignment → NULL
    assert(got == Map(1 -> (("alice", 10)), 2 -> (("bob", 100)),
      3 -> ((null, 42))))
    engine.dropTable(t); engine.dropTable(srcT)
  }

  test("single-clause MERGE: matched-only and insert-only forms") {
    val t = s"router_merge_one_${System.nanoTime()}"
    engine.createTable(t, "id INT, v INT")
    engine.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    val srcT = s"${t}_src"
    engine.createTable(srcT, "id INT, v INT")
    engine.sql(s"INSERT INTO $srcT VALUES (2, 99), (3, 42)")
    // matched-only: the unmatched source row (3) is dropped
    val r1 = engine.sql(
      s"MERGE INTO $t AS t USING $srcT AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v").head()
    assert(r1.getLong(0) == 1 && r1.getLong(1) == 0)
    assert(engine.table(t).count() == 2)
    assert(engine.table(t).filter(col("id") === 2).head().getInt(1) == 99)
    // insert-only: the matched source row (2) leaves the target alone;
    // positional INSERT VALUES (no column list) also exercises that form
    val r2 = engine.sql(
      s"MERGE INTO $t AS t USING $srcT AS s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v * 2)").head()
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 1)
    assert(engine.table(t).filter(col("id") === 3).head().getInt(1) == 84)
    engine.dropTable(t); engine.dropTable(srcT)
  }

  test("MERGE ON residue and non-conjunctive forms raise parse errors") {
    val t = s"router_merge_on_${System.nanoTime()}"
    engine.createTable(t, "id INT, ts INT, v INT")
    engine.sql(s"INSERT INTO $t VALUES (1, 5, 10)")
    val srcT = s"${t}_src"
    engine.createTable(srcT, "id INT, ts INT, v INT")
    engine.sql(s"INSERT INTO $srcT VALUES (1, 9, 11)")
    // a range predicate alongside the key equality must raise — never
    // silently merge on the equality alone
    val e1 = intercept[IllegalArgumentException](engine.sql(
      s"MERGE INTO $t AS t USING $srcT AS s ON t.id = s.id AND t.ts < s.ts " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    assert(e1.getMessage.contains("unsupported predicate"))
    // OR-connected equalities are not a key conjunction
    val e2 = intercept[IllegalArgumentException](engine.sql(
      s"MERGE INTO $t AS t USING $srcT AS s ON t.id = s.id OR t.v = s.v " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    assert(e2.getMessage.contains("unsupported predicate"))
    // a qualifier that is neither alias must raise
    val e3 = intercept[IllegalArgumentException](engine.sql(
      s"MERGE INTO $t AS t USING $srcT AS s ON t.id = x.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    assert(e3.getMessage.contains("aliases"))
    // state unchanged by the failures
    assert(engine.table(t).head().getInt(2) == 10)
    engine.dropTable(t); engine.dropTable(srcT)
  }

  test("MERGE USING subquery with an interior join parses (balanced parens)") {
    val t = s"router_merge_sub_${System.nanoTime()}"
    engine.createTable(t, "id INT, v INT")
    engine.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    // the interior `) b ON` sequence would truncate a lazy-regex capture
    val r = engine.sql(
      s"""MERGE INTO $t AS t USING (
         |  SELECT a.id, a.v + b.v AS v
         |  FROM (VALUES (2, 1), (3, 2)) AS a(id, v)
         |  JOIN (VALUES (2, 100), (3, 200)) b(id, v) ON a.id = b.id
         |) AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(r.getLong(0) == 1 && r.getLong(1) == 1)
    val got = engine.table(t).collect()
      .map(x => x.getInt(0) -> x.getInt(1)).toMap
    assert(got == Map(1 -> 10, 2 -> 101, 3 -> 202))
    engine.dropTable(t)
  }

  test("materialized view SQL lifecycle: CREATE / covered rewrite / " +
      "REFRESH / DROP") {
    val t = s"router_mv_${System.nanoTime()}"
    val mv = s"router_mv_agg_${System.nanoTime()}"
    engine.createTable(t, "grp STRING, sub INT, x DOUBLE, y DOUBLE")
    engine.sql(s"INSERT INTO $t VALUES ('a', 1, 1.5, 10.0), " +
      "('a', 2, 2.5, 20.0), ('b', 1, 4.0, 40.0)")
    engine.sql(s"CREATE MATERIALIZED VIEW $mv AS SELECT grp, sub, " +
      s"sum(x) AS sx, avg(y) AS ay, count(*) AS n FROM $t " +
      "GROUP BY grp, sub")
    // IF NOT EXISTS no-op; bare re-create raises
    engine.sql(s"CREATE MATERIALIZED VIEW IF NOT EXISTS $mv AS " +
      s"SELECT grp, sum(x) AS sx FROM $t GROUP BY grp")
    intercept[IllegalArgumentException](engine.sql(
      s"CREATE MATERIALIZED VIEW $mv AS SELECT grp, sum(x) AS sx " +
        s"FROM $t GROUP BY grp"))
    // covered query rewrites to the MV partials and matches direct
    val q = s"SELECT grp, round(sum(x), 2) AS sx, round(avg(y), 4) " +
      s"AS ay, count(*) AS n FROM $t GROUP BY grp"
    assert(engine.sql(q).collect().toSet == direct(engine, q, t))
    val planStr = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(engine.sql(q)).queryExecution.optimizedPlan.toString()
    assert(planStr.contains("sum_x"), s"not rewritten:\n$planStr")
    // DML → stale (served from base), REFRESH re-arms
    engine.sql(s"INSERT INTO $t VALUES ('b', 2, 6.0, 60.0)")
    assert(engine.sql(q).collect().toSet == direct(engine, q, t))
    engine.sql(s"REFRESH MATERIALIZED VIEW $mv")
    assert(engine.sql(q).collect().toSet == direct(engine, q, t))
    val planFresh = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(engine.sql(q)).queryExecution.optimizedPlan.toString()
    assert(planFresh.contains("sum_x"), s"refresh did not re-arm")
    // GROUP BY ordinal spelling binds to the output column
    val mv2 = s"${mv}_ord"
    engine.sql(s"CREATE MATERIALIZED VIEW $mv2 AS SELECT grp, " +
      s"sum(x) AS sx FROM $t GROUP BY 1")
    assert(engine.tableExists(mv2))
    engine.sql(s"DROP MATERIALIZED VIEW $mv2")
    // definitions the rewrite could never serve raise parse errors
    Seq(
      s"CREATE MATERIALIZED VIEW bad1 AS SELECT grp, sum(x) AS sx " +
        s"FROM $t WHERE sub = 1 GROUP BY grp",
      s"CREATE MATERIALIZED VIEW bad2 AS SELECT grp, sum(x * y) AS s " +
        s"FROM $t GROUP BY grp",
      s"CREATE MATERIALIZED VIEW bad3 AS SELECT grp, " +
        s"count(DISTINCT sub) AS n FROM $t GROUP BY grp",
      s"CREATE MATERIALIZED VIEW bad4 AS SELECT grp, y FROM $t " +
        s"GROUP BY grp"
    ).foreach { bad =>
      val ex = intercept[IllegalArgumentException](engine.sql(bad))
      assert(ex.getMessage.contains("Error"), bad)
    }
    // DROP: plain raises on missing, IF EXISTS is a no-op; a plain
    // table is NOT droppable via the MV verb
    intercept[IllegalArgumentException](
      engine.sql(s"DROP MATERIALIZED VIEW $t"))
    engine.sql(s"DROP MATERIALIZED VIEW $mv")
    assert(!engine.tableExists(mv))
    engine.sql(s"DROP MATERIALIZED VIEW IF EXISTS $mv")
    intercept[IllegalArgumentException](
      engine.sql(s"DROP MATERIALIZED VIEW $mv"))
    engine.dropTable(t)
  }

  test("OPTIMIZE SQL routes to compaction: plan collapses, data intact") {
    import org.apache.spark.sql.Row
    val t = s"opt_sql_${System.nanoTime()}"
    engine.sql(s"CREATE TABLE $t (id INT, name STRING)")
    (1 to 5).foreach(i =>
      engine.sql(s"INSERT INTO $t VALUES ($i, 'r$i')"))
    // explain classifies OPTIMIZE as routed DDL without executing it:
    // wouldRoute must match route's interception (the documented
    // contract), so the append chain is still intact afterwards
    val exp = engine.explain(s"OPTIMIZE $t INTO 2 FILES").head()
    assert(exp.getAs[String]("execution_mode") == "LOCAL")
    assert(exp.getAs[String]("plan") == "routed DDL/DML")
    assert(engine.table(t).queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.nonEmpty, "explain('OPTIMIZE …') must not compact")
    engine.sql(s"OPTIMIZE $t INTO 2 FILES")
    assert(engine.table(t).queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "OPTIMIZE did not collapse the append chain")
    assert(engine.table(t).rdd.getNumPartitions == 2)
    assert(engine.table(t).collect().map(_.getInt(0)).toSet == (1 to 5).toSet)
    intercept[IllegalArgumentException](engine.sql("OPTIMIZE no_such_tbl"))
    engine.dropTable(t)
  }

  test("OPTIMIZE … ZORDER BY SQL: the rewrite clusters the (user, time) " +
    "plane so a 2-D box prunes row groups; schema/content unchanged") {
    val t = s"opt_z_${System.nanoTime()}"
    // sf0.01 (10k events) for the same quantization reasons as ZOrderSpec
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val ev = graft.Tables.t(spark, "/root/testdata/sf0.01", "events")
      .select(cols.map(col): _*)
    engine.registerTable(t, ev)
    // explain stays side-effect-free on the extended spelling too
    val exp = engine.explain(s"OPTIMIZE $t ZORDER BY (user_id, ts)").head()
    assert(exp.getAs[String]("plan") == "routed DDL/DML")
    engine.sql(s"OPTIMIZE $t INTO 256 FILES ZORDER BY (user_id, ts)")
    // the scratch z key must not leak into the table schema
    assert(engine.table(t).columns.toSeq == cols)
    assert(engine.table(t).collect().map(_.getLong(0)).sorted
      .sameElements(ev.collect().map(_.getLong(0)).sorted))
    // skipping law (scanRows from SparkSpec — rows surfaced by the
    // parquet scan): a ~1.2% box reads under a quarter of the table
    val maxU = ev.agg(max("user_id")).head.getLong(0)
    val w = (maxU + 1L) / 8L
    val total = ev.count()
    val read = scanRows(engine.table(t)
      .filter(col("user_id") >= lit(2L * w) && col("user_id") < lit(3L * w)
        && col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp")
        && col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
      .groupBy("event_type").agg(count(lit(1))))
    assert(read * 4 <= total,
      s"ZORDER BY rewrite read $read of $total rows for a ~1.2% box")
    // identifiers resolve case-insensitively, like the rest of the
    // engine surface
    engine.sql(s"OPTIMIZE $t INTO 256 FILES ZORDER BY (USER_ID, TS)")
    // single-column Delta spelling = plain range-sort clustering
    engine.sql(s"OPTIMIZE $t INTO 256 FILES ZORDER BY (ts)")
    assert(engine.table(t).columns.toSeq == cols)
    assert(engine.table(t).count() == total)
    // k > 2 columns: the general zValueN interleave (16-bit grids
    // through k=3) — content identity, and the SAME 2-D box still
    // prunes (a third dimension coarsens clustering, never disables
    // skipping on the first two)
    engine.sql(s"OPTIMIZE $t INTO 256 FILES ZORDER BY (user_id, ts, value)")
    assert(engine.table(t).columns.toSeq == cols)
    assert(engine.table(t).collect().map(_.getLong(0)).sorted
      .sameElements(ev.collect().map(_.getLong(0)).sorted))
    val read3 = scanRows(engine.table(t)
      .filter(col("user_id") >= lit(2L * w) && col("user_id") < lit(3L * w)
        && col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp")
        && col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
      .groupBy("event_type").agg(count(lit(1))))
    assert(read3 * 2 <= total,
      s"3-D ZORDER read $read3 of $total rows for the 2-D box")
    // bad column / unsupported type / arity fail loudly with the
    // engine's own errors (never a parser fallthrough), nothing
    // half-rewritten
    intercept[IllegalArgumentException](
      engine.sql(s"OPTIMIZE $t ZORDER BY (no_such, ts)"))
    intercept[IllegalArgumentException](
      engine.sql(s"OPTIMIZE $t ZORDER BY (event_type, ts)"))
    val arity = intercept[IllegalArgumentException](engine.sql(
      s"OPTIMIZE $t ZORDER BY (${Seq.fill(9)("user_id").mkString(",")})"))
    assert(arity.getMessage.contains("1 to 8 columns"))
    assert(engine.table(t).count() == total)
    engine.dropTable(t)
  }

  test("literal-spelling rewrites never touch string-literal bodies") {
    // ::UUID / ::BLOB / huge integers INSIDE a string are data, not syntax
    assert(DuckSyntax.rewriteCasts("SELECT 'cast me ::UUID or ::BLOB'") ==
      "SELECT 'cast me ::UUID or ::BLOB'")
    assert(DuckSyntax.rewriteCasts(
      "SELECT '170141183460469231731687303715884105727 wide' AS s") ==
      "SELECT '170141183460469231731687303715884105727 wide' AS s")
    // outside literals the rewrites still fire, including after one
    assert(DuckSyntax.rewriteCasts("SELECT 'x'::UUID, col::BLOB") ==
      "SELECT 'x'::STRING, col::BINARY")
    // escaped quotes keep the literal scan aligned
    assert(DuckSyntax.rewriteCasts("SELECT 'it''s ::UUID', v::UUID") ==
      "SELECT 'it''s ::UUID', v::STRING")
    // VALUES coercion: digits inside string values stay unquoted
    assert(DuckSyntax.quoteNumerics("('abc 123', 42)") ==
      "('abc 123', '42')")
  }

  test("salted join equals plain join on a skewed key") {
    import spark.implicits._
    // 90% of left rows share one key — the shape AQE skew-split targets,
    // pre-split here via salting
    val left = spark.range(10000)
      .select(when(col("id") % 10 =!= 0, 7L).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val right = Seq((7L, "hot"), (20L, "cold"), (30L, "cold")).toDF("k", "w")
    val plain = left.join(right, Seq("k")).agg(
      count(lit(1)), sum("v")).head()
    val salted = Skew.saltedJoin(left, right, "k", salt = 8).agg(
      count(lit(1)), sum("v")).head()
    assert(plain == salted)
    assert(Skew.keySkew(left, "k").head().getLong(1) == 9000)
  }

  test("classifier SQL lifecycle: CREATE CLASSIFIER / CLASSIFY / DROP") {
    val t = s"clf_sql_${System.nanoTime()}"
    val clf = s"clfx_${System.nanoTime()}"
    engine.registerTable(t, s"$sf/documents.parquet")
    engine.sql(s"CREATE CLASSIFIER $clf ON $t LABEL lang VOCAB 500")
    // the frozen model table exists and carries prior rows (w NULL)
    assert(engine.tableExists(s"${clf}_model"))
    assert(engine.table(s"${clf}_model")
      .filter(col("w").isNull).count() > 0)
    val out = engine.sql(s"CLASSIFY $clf ON $t")
    assert(out.columns.sameElements(Array("doc_id", "pred_cls", "score_q")))
    assert(out.count() ==
      spark.read.parquet(s"$sf/documents.parquet").count())
    // API and SQL scoring agree (same frozen model)
    assert(out.exceptAll(engine.classify(clf, t)).count() == 0)
    engine.sql(s"DROP CLASSIFIER $clf")
    assert(!engine.tableExists(s"${clf}_model"))
    intercept[IllegalArgumentException](
      engine.sql(s"DROP CLASSIFIER $clf"))
    engine.sql(s"DROP CLASSIFIER IF EXISTS $clf") // no-op
    engine.unregisterTable(t)
  }

  test("tableStats: footer-backed column statistics, derived tables raise") {
    val t = s"ts_li_${System.nanoTime()}"
    engine.registerTable(t, s"$sf/lineitem.parquet")
    val st = engine.tableStats(t).collect()
      .map(r => r.getString(0) -> r).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    assert(st.keySet == li.columns.toSet)
    val ok = st("l_orderkey")
    assert(ok.getLong(1) == li.count())
    assert(ok.getLong(2) == 0L) // null count
    val mm = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    assert(ok.getLong(3) == mm.getLong(0) && ok.getLong(4) == mm.getLong(1))
    // string column: counts yes, min/max NULL (truncatable stats)
    assert(st("l_returnflag").isNullAt(3) && st("l_returnflag").isNullAt(4))
    // a derived (managed) table has no storage statistics
    engine.createTableAs(s"${t}_d", engine.table(t).limit(5))
    intercept[IllegalArgumentException](engine.tableStats(s"${t}_d"))
    Seq(t, s"${t}_d").foreach(engine.unregisterTable)
  }
}

object SqlRouterSpec {
  private def render(r: org.apache.spark.sql.Row): String =
    r.toSeq.map {
      case b: Array[Byte] => b.map("%02X".format(_)).mkString("X'", "", "'")
      case v => String.valueOf(v)
    }.mkString("|")

  /** `q` answers the same rows as a top-level SELECT, as the SELECT of
    * a CTAS, and as the SELECT of an INSERT into an empty table of its
    * schema: the router hands nested SELECTs to `spark.sql`, which
    * carries the whole graft SQL surface. */
  def nestedSelectLaw(e: Engine, q: String): Unit = {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(render).sorted.toSeq
    val want = rows(e.sql(q))
    val ctas = s"nested_ctas_${System.nanoTime()}"
    e.sql(s"CREATE TABLE $ctas AS $q")
    assert(rows(e.table(ctas)) == want, s"CREATE TABLE … AS over: $q")
    val ins = s"nested_ins_${System.nanoTime()}"
    e.createTableAs(ins, e.table(ctas).limit(0))
    e.sql(s"INSERT INTO $ins $q")
    assert(rows(e.table(ins)) == want, s"INSERT INTO … SELECT over: $q")
    e.dropTable(ctas)
    e.dropTable(ins)
  }
}
