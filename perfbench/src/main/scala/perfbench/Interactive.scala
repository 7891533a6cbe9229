package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

import graft.{Engine, Tables}

/** Interactive SQL and retrieval on sf0.1 through the engine's public
  * calls: `Engine.sql` SELECT templates with seeded literals,
  * `bm25Search` / `annSearch` probes and an `executionStats` read. Every
  * SELECT is re-run on a plain session (no engine rewrites) after the
  * loop and compared; probes are checked against full-pass formulations
  * the benchmark computes itself. */
final class Interactive(conf: Conf) extends Workload {
  private var engine: Engine = _
  def spark: SparkSession = engine.spark
  private val dir = conf.data
  private var sqlCalls = 0

  private val pathTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  private def sql(q: String, tracer: Option[Tracer] = None): DataFrame = {
    sqlCalls += 1
    tracer.fold(engine.sql(q))(_.span("plan.call")(engine.sql(q)))
  }

  def setup(): SetupTimes = {
    val (e, start) = Clock.time(Engine.start(s"local[${Conf.cores}]"))
    engine = e; sqlCalls = 0
    e.spark.sparkContext.setLogLevel("ERROR")
    val (_, register) = Clock.time {
      pathTables.foreach(t => e.registerTable(t, s"$dir/$t.parquet"))
      e.registerTable("events", Tables.t(e.spark, dir, "events"))
    }
    val (_, warm) = Clock.time {
      Templates.warmup.foreach(q => sql(q).collect())
    }
    SetupTimes(start, register, warm)
  }

  // ---- artifacts and the benchmark's own answers --------------------

  private var bm25: Bm25Oracle = _
  private var ann: AnnOracle = _
  private var vocabByFreq: IndexedSeq[String] = IndexedSeq.empty

  def build(): Seq[(String, Double)] = {
    // the oracles read the raw files on the driver; not part of build_s
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    bm25 = new Bm25Oracle(docs.toSeq)
    vocabByFreq = bm25.vocabularyByFrequency
    ann = AnnOracle.load(spark, dir)
    val (_, text) = Clock.time(sql("CREATE TEXT INDEX docs_tix ON documents (text)").collect())
    val (_, annBuild) = Clock.time(sql("CREATE ANN INDEX emb_aix ON embeddings (embedding)").collect())
    Seq("index.text_build_s" -> text, "index.ann_build_s" -> annBuild)
  }

  // ---- the loop ------------------------------------------------------

  private val Mix = Seq("point", "point", "point", "fold", "fold", "window",
    "q1", "q3", "hourly", "bm25", "bm25", "bm25", "ann", "ann", "stats")
  private val selects = mutable.ArrayBuffer.empty[(OpRecord, String, Seq[Row])]
  private val termSets = mutable.ArrayBuffer.empty[Set[String]]
  private val foldPlans = mutable.ArrayBuffer.empty[Boolean]
  private var statsSeen = 0

  def block(rec: Recorder, blockNo: Int): Unit = {
    val rng = Rng(conf.seed, blockNo)
    val tr = Some(rec.tracer)
    rng.shuffle(Mix).foreach {
      case "bm25" =>
        val terms = zipfTerms(rng)
        termSets += terms.toSet
        rec.run("bm25", "retrieval") {
          val df = rec.tracer.span("index.bm25_call")(
            engine.bm25Search("docs_tix", terms, 10))
          rec.tracer.span("index.bm25_exec")(df.collect().toSeq)
        }.foreach { case (r, rows) =>
          rec.deferred += (() => rec.verdict(r, bm25.check(terms, 10, rows)))
        }
      case "ann" =>
        val id = ann.pick(rng)
        rec.run("ann", "retrieval") {
          val df = rec.tracer.span("index.ann_call")(
            engine.annSearch("emb_aix", ann.vector(id), 10))
          rec.tracer.span("index.ann_exec")(df.collect().toSeq)
        }.foreach { case (r, rows) =>
          rec.deferred += (() => rec.verdict(r, ann.check(id, rows)))
        }
      case "stats" =>
        rec.run("stats", "read") {
          rec.tracer.span("stats.read")(engine.executionStats.collect().length)
        }.foreach { case (r, n) =>
          rec.verdict(r, if (n >= statsSeen) None
            else Some(s"executionStats shrank $statsSeen -> $n"))
          statsSeen = n
        }
      case kind =>
        val q = Templates.render(kind, rng)
        rec.run(kind, "read") {
          val df = sql(q, tr)
          (df, rec.tracer.span("exec.action")(df.collect().toSeq))
        }.foreach { case (r, (df, rows)) =>
          r.phases = Layers.phases(df)
          if (kind == "fold") foldPlans += !castToImpl(df).queryExecution
            .executedPlan.toString.contains("FileScan")
          selects += ((r, q, rows))
        }
    }
  }

  /** 1-3 distinct terms, each drawn from a Zipf(1.1) over the corpus
    * vocabulary ranked by document frequency. */
  private def zipfTerms(rng: scala.util.Random): Seq[String] = {
    val w = vocabByFreq.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    val total = w.sum
    def draw(): String = {
      var u = rng.nextDouble() * total; var i = 0
      while (i < w.size - 1 && u >= w(i)) { u -= w(i); i += 1 }
      vocabByFreq(i)
    }
    val n = 1 + rng.nextInt(3)
    Iterator.continually(draw()).distinct.take(n).toSeq
  }

  override def verify(rec: Recorder): Unit = {
    // the plain-session oracle: same SQL, same files, no engine rewrites
    val ref = spark.newSession()
    pathTables.foreach(t =>
      ref.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
    Tables.t(ref, dir, "events").createOrReplaceTempView("events")
    val expected = mutable.HashMap.empty[String, Seq[Row]]
    selects.foreach { case (r, q, rows) =>
      val exp = expected.getOrElseUpdate(q, ref.sql(q).collect().toSeq)
      rec.verdict(r, Compare.rows(rows, exp))
    }
    super.verify(rec)
  }

  def detail(rec: Recorder, traced: Boolean): Seq[Metric] = {
    val repeats = termSets.zipWithIndex.count { case (s, i) =>
      termSets.take(i).contains(s) }
    val base = Seq(
      Metric("index.bm25_repeat_share",
        repeats.toDouble / math.max(1, termSets.size), "ratio"),
      Metric("plans.footer_fold_ratio",
        foldPlans.count(identity).toDouble / math.max(1, foldPlans.size), "ratio"))
    if (!traced) base
    else {
      val spans = rec.tracer.allSpans
      def med(layer: String) = Stats.median(spans.filter(_.layer == layer).map(_.seconds))
      val selectOps = rec.ops.filter(o => o.cls == "read" && o.kind != "stats")
      val tracedIds = spans.map(_.op).toSet
      val callShare = {
        val calls = spans.filter(_.layer == "plan.call").map(_.seconds).sum
        val wall = selectOps.filter(o => tracedIds(o.id)).map(_.seconds).sum
        if (wall > 0) calls / wall else Double.NaN
      }
      val probes = engine.probeStats.collect()
        .filter(_.getAs[String]("verb") == "bm25_search")
      val oneJob = probes.count { r =>
        val p = r.getAs[String]("plan_path")
        p.startsWith("cut") || p.startsWith("one_job")
      }
      val explainS = Stats.median(Templates.all.map(q =>
        Clock.time(engine.explain(q).collect())._2))
      val statsRows = engine.executionStats.count()
      base ++ Seq(
        Metric("sql.call_s", med("plan.call"), "s"),
        Metric("sql.call_share", callShare, "ratio"),
        Metric("plans.explain_s", explainS, "s"),
        Metric("index.bm25_call_s", med("index.bm25_call"), "s"),
        Metric("index.bm25_exec_s", med("index.bm25_exec"), "s"),
        Metric("index.ann_call_s", med("index.ann_call"), "s"),
        Metric("index.ann_exec_s", med("index.ann_exec"), "s"),
        Metric("index.bm25_one_job_ratio",
          oneJob.toDouble / math.max(1, probes.length), "ratio"),
        Metric("stats.read_s", med("stats.read"), "s"),
        Metric("stats.recorded_ratio",
          statsRows.toDouble / math.max(1, sqlCalls), "ratio"))
    }
  }
}

/** SELECT templates; literals come from the block's seeded generator. */
object Templates {
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private def month(rng: scala.util.Random): String =
    f"${1996 + rng.nextInt(4)}%d-${1 + rng.nextInt(12)}%02d-01"

  def q1(date: String): String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
       |round(sum(l_quantity), 2) AS qty,
       |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       |round(avg(l_discount), 6) AS disc
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '$date 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def q3(seg: String, date: String): String =
    s"""SELECT l_orderkey, o_orderdate,
       |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = '$seg'
       |AND o_orderdate < TIMESTAMP '$date 00:00:00'
       |AND l_shipdate > TIMESTAMP '$date 00:00:00'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  def point(key: Long): String =
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
       |FROM orders WHERE o_orderkey = $key""".stripMargin

  private val FoldTargets = Seq("lineitem" -> "l_orderkey",
    "orders" -> "o_orderkey", "customer" -> "c_custkey",
    "supplier" -> "s_suppkey", "part" -> "p_partkey")
  def fold(table: String, column: String): String =
    s"SELECT count(*) AS n, min($column) AS lo, max($column) AS hi FROM $table"

  def window(lo: Long): String =
    s"""SELECT o_custkey, o_orderkey, o_totalprice FROM (
       |  SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
       |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
       |  FROM orders WHERE o_custkey BETWEEN $lo AND ${lo + 300})
       |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin

  def hourly(day: Int): String =
    f"""SELECT date_trunc('HOUR', ts) AS hour, event_type, count(*) AS n,
       |round(sum(value), 2) AS total
       |FROM events WHERE ts >= TIMESTAMP '2024-01-$day%02d 00:00:00'
       |AND ts < TIMESTAMP '2024-01-$day%02d 00:00:00' + INTERVAL 1 DAY
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def render(kind: String, rng: scala.util.Random): String = kind match {
    case "q1" => q1(month(rng))
    case "q3" => q3(Segments(rng.nextInt(Segments.size)), month(rng))
    case "point" => point(rng.nextInt(150000).toLong)
    case "fold" =>
      val (t, c) = FoldTargets(rng.nextInt(FoldTargets.size)); fold(t, c)
    case "window" => window(rng.nextInt(14700).toLong)
    case "hourly" => hourly(1 + rng.nextInt(29))
  }

  /** Fixed-literal instances of every template, for `explain` timing. */
  val all: Seq[String] = Seq(q1("1998-06-01"), q3("BUILDING", "1998-03-01"),
    point(42L), fold("lineitem", "l_orderkey"), window(100L), hourly(7))
  /** The set-up's warm-up: a lookup and a footer fold. */
  val warmup: Seq[String] = Seq(point(42L), fold("lineitem", "l_orderkey"))
}

