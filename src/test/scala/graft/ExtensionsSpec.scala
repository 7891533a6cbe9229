package graft

import org.apache.spark.sql.SparkSessionExtensions

/** [[GraftExtensions]] is graft's SQL surface: it injects without
  * error, its functions work from plain SQL on a graft session, its
  * rules fire on a session built with only `withExtensions` (the
  * `spark.sql.extensions` deployment path), and an [[Engine]] refuses a
  * session built without it. */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects all engine functions") {
    new GraftExtensions().apply(new SparkSessionExtensions) // must not throw
    assert(GraftExtensions.functions.map(_._1).toSet == Set(
      "cosine_similarity", "shingle_array", "shingle_hash_array",
      "rolling_fingerprint", "word_chunks", "term_counts",
      "len", "unnest", "list_contains", "list_extract"))
  }

  test("word_chunks + term_counts callable from SQL") {
    val r = spark.sql(
      """SELECT word_chunks('a b c d e', 2) AS wc,
        |term_counts('x y x') AS tc""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("a b", "c d", "e"))
    val tc = r.getSeq[org.apache.spark.sql.Row](1)
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(tc == Map("x" -> 2L, "y" -> 1L))
  }

  test("extension-injected session rewrites covered aggregates to the MV " +
      "via plain spark.sql; staleness disables it") {
    import org.apache.spark.sql.SparkSession
    // build a session WITH the extensions on the shared context (the
    // spark-submit --conf spark.sql.extensions deployment path)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      assert(ext ne spark, "extension session must be a fresh session")
      val engine = Engine(ext)
      val t = s"mv_ext_base_${System.nanoTime()}"
      val mv = s"mv_ext_${System.nanoTime()}"
      val mvPath = java.nio.file.Files
        .createTempDirectory("graft_ext_mv").toString + "/artifact"
      engine.createTableAs(t, Tables.t(ext, sf, "lineitem")
        .select("l_returnflag", "l_quantity"))
      engine.createMaterializedAggregate(mv, t,
        dims = Seq("l_returnflag"), measures = Seq("l_quantity"),
        path = mvPath)
      val q = s"SELECT l_returnflag, round(sum(l_quantity), 2) AS s " +
        s"FROM $t GROUP BY 1"
      // PLAIN ext.sql — not engine.sql: the injected post-hoc rule must
      // fire on its own, and the plan must scan the MV artifact
      val viaExt = ext.sql(q)
      assert(viaExt.queryExecution.optimizedPlan.toString
        .contains("sum_l_quantity"),
        "extension session did not rewrite to the MV partials:\n" +
          viaExt.queryExecution.optimizedPlan)
      val expected = spark.sql(
        s"""SELECT l_returnflag, round(sum(l_quantity), 2) AS s
           |FROM parquet.`$sf/lineitem.parquet` GROUP BY 1""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(viaExt.collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap == expected)
      // staleness law: DML on the base silently disarms the rewrite
      engine.insertValues(t, Seq(org.apache.spark.sql.Row("Z", 1.0)))
      val stale = ext.sql(q)
      assert(!stale.queryExecution.optimizedPlan.toString
        .contains("sum_l_quantity"),
        "stale MV must not serve the rewrite")
      assert(stale.filter("l_returnflag = 'Z'").count() == 1)
    } finally {
      // never ext.stop(): it would kill the shared SparkContext
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("Engine refuses a session built without GraftExtensions, naming " +
      "both ways to deploy them") {
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    try {
      assert(plain ne spark, "plain session must be a fresh session")
      assert(!plain.sessionState.sqlParser.isInstanceOf[GraftParser])
      Seq(() => Engine(plain), () => Engine.scratch(plain)).foreach { mk =>
        val e = intercept[IllegalArgumentException](mk())
        assert(e.getMessage.contains("GraftSession") &&
          e.getMessage.contains("spark.sql.extensions=graft.GraftExtensions"),
          e.getMessage)
      }
      assert(Engine.forSession(plain).isEmpty)
    } finally {
      // never plain.stop(): it would kill the shared SparkContext
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("shingle_array + rolling_fingerprint callable from SQL") {
    val r = spark.sql(
      """SELECT shingle_array('a b c d', 3) AS sh,
        |rolling_fingerprint('hello world rolling hash', 8) AS fp""".stripMargin)
      .head()
    assert(r.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(r.getLong(1) != 0L)
  }
}
