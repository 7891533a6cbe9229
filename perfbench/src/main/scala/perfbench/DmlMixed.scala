package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.Engine

/** Writes beside reads on sf0.1, all through `Engine.sql`. One block is
  * one session on fresh CTAS copies: `DmlMixed.Rounds` rounds of INSERT
  * VALUES, UPDATE by key, DELETE by key, MERGE from a small source and a
  * read-after-write count/sum on a copy of `orders`; then, once, an
  * INSERT on an append-only copy, REFRESH MATERIALIZED VIEW, a covered
  * read and a `table_changes` read of that INSERT; then document
  * INSERTs, REFRESH TEXT INDEX and a probe for the new term. Every answer
  * is checked against a shadow model the benchmark keeps. */
final class DmlMixed(conf: Conf) extends Workload {
  private var engine: Engine = _
  def spark: SparkSession = engine.spark
  private val dir = conf.data

  private var sqlCalls = 0
  private def esql(q: String): DataFrame = { sqlCalls += 1; engine.sql(q) }
  private def sql(q: String, tr: Tracer): DataFrame = tr.span("plan.call")(esql(q))

  def setup(): SetupTimes = {
    val (e, start) = Clock.time(Engine.start(s"local[${Conf.cores}]"))
    engine = e; sqlCalls = 0
    e.spark.sparkContext.setLogLevel("ERROR")
    val (_, register) = Clock.time {
      Seq("orders", "documents", "embeddings").foreach(t =>
        e.registerTable(t, s"$dir/$t.parquet"))
    }
    // one miniature session warms the DML and read paths
    val (_, warm) = Clock.time {
      Seq("CREATE TABLE warm_t AS SELECT o_orderkey, o_orderpriority, " +
          "o_totalprice FROM orders WHERE o_orderkey < 1000",
        "INSERT INTO warm_t VALUES (5000000L, '1-URGENT', 1.5D)",
        "UPDATE warm_t SET o_totalprice = o_totalprice + 1.25D WHERE o_orderkey IN (1, 2)",
        "DELETE FROM warm_t WHERE o_orderkey IN (3, 4)",
        "MERGE INTO warm_t AS t USING (SELECT * FROM (VALUES (5L, '2-HIGH', 2.5D), " +
          "(6000000L, '5-LOW', 3.5D)) AS v(o_orderkey, o_orderpriority, o_totalprice)) " +
          "AS s ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "SELECT count(*) AS n FROM warm_t", "DROP TABLE warm_t")
        .foreach(q => esql(q).collect())
    }
    SetupTimes(start, register, warm)
  }

  // ---- shadow model --------------------------------------------------

  /** orders row state the benchmark tracks: status and price in cents. */
  private final case class Ord(status: String, cents: Long, priority: String)
  private var baseOrders: Map[Long, Ord] = Map.empty
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private val prepTimes = mutable.ArrayBuffer.empty[Double]
  private def prepare(n: Int): Double = Clock.time {
    Seq(s"CREATE TABLE ow_$n AS SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "o_totalprice, o_orderpriority FROM orders",
      s"CREATE TABLE oa_$n AS SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders",
      s"CREATE MATERIALIZED VIEW oa_${n}_mv AS SELECT o_orderpriority, " +
        s"sum(o_totalprice) AS s, count(*) AS n FROM oa_$n GROUP BY o_orderpriority",
      s"CREATE TABLE dw_$n AS SELECT doc_id, text FROM documents WHERE doc_id < 1000",
      s"CREATE TEXT INDEX dw_${n}_tix ON dw_$n (text)")
      .foreach(q => esql(q).collect())
  }._2

  def build(): Seq[(String, Double)] = {
    baseOrders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .collect().map(r => r.getLong(0) ->
        Ord(r.getString(1), math.round(r.getDouble(2) * 100), r.getString(3))).toMap
    ann = AnnOracle.load(spark, dir)
    val t = prepare(0)
    prepTimes += t
    val (_, annBuild) = Clock.time(
      esql("CREATE ANN INDEX emb_aix ON embeddings (embedding)").collect())
    Seq("dml.session_build_s" -> t, "index.ann_build_s" -> annBuild)
  }

  private var ann: AnnOracle = _
  private val foldPlans = mutable.ArrayBuffer.empty[Boolean]
  private var statsSeen = 0

  // ---- one session ---------------------------------------------------

  private val lineage = mutable.ArrayBuffer.empty[(Int, Int, Int)] // session, write no, scans
  private val growth = mutable.ArrayBuffer.empty[(String, Double)]
  private var mvReads = 0; private var mvRewritten = 0

  private val MainTableWrites = Set("insert", "update", "delete", "merge")

  private def fileScans(table: String): Int =
    castToImpl(engine.table(table)).queryExecution.optimizedPlan
      .collectLeaves().count(_.isInstanceOf[LogicalRelation])

  def block(rec: Recorder, blockNo: Int): Unit = {
    val n = blockNo
    if (n > 0) prepTimes += prepare(n)
    val tr = rec.tracer
    val ow = mutable.HashMap.empty[Long, Ord] ++= baseOrders
    val oa = mutable.HashMap.empty[String, (Long, Long)] ++=
      baseOrders.values.groupBy(_.priority).map { case (p, os) =>
        p -> (os.size.toLong, os.map(_.cents).sum) }
    var writes = 0
    val firstLast = mutable.HashMap.empty[String, (Double, Double)]
    def noteWrite(kind: String, secs: Double): Unit = {
      firstLast.updateWith(kind) {
        case None => Some((secs, secs))
        case Some((f, _)) => Some((f, secs))
      }
      writes += 1
      if (tr.enabled) lineage += ((n, writes, fileScans(s"ow_$n")))
    }
    def write(kind: String, q: String)(check: DataFrame => Option[String]): Unit =
      rec.run(kind, "write") {
        val df = sql(q, tr)
        (df, tr.span("exec.action")(df.collect()))
      }.foreach { case (r, (df, _)) =>
        if (MainTableWrites(kind)) noteWrite(kind, r.seconds)
        rec.verdict(r, check(df))
      }
    def read(kind: String, q: String)(check: Seq[org.apache.spark.sql.Row] => Option[String]): Unit =
      rec.run(kind, "read") {
        val df = sql(q, tr)
        (df, tr.span("exec.action")(df.collect().toSeq))
      }.foreach { case (r, (df, rows)) =>
        r.phases = Layers.phases(df)
        if (kind == "mv_read") {
          mvReads += 1
          if (castToImpl(df).queryExecution.optimizedPlan.toString.contains("sum_o_totalprice"))
            mvRewritten += 1
        }
        rec.verdict(r, check(rows))
      }
    def lit(k: Long, o: Ord, cust: Long): String =
      s"(${k}L, ${cust}L, '${o.status}', ${o.cents / 100}.${f"${o.cents % 100}%02d"}D, '${o.priority}')"

    for (round <- 1 to DmlMixed.Rounds) {
      val rng = Rng(conf.seed, n, round)
      val live = ow.keys.toIndexedSeq
      def pick(k: Int, avoid: Set[Long]): Seq[Long] =
        Iterator.continually(live(rng.nextInt(live.size))).filterNot(avoid)
          .distinct.take(k).toSeq
      def newOrd(): Ord = Ord("N", 100000L + rng.nextInt(40000000),
        Priorities(rng.nextInt(Priorities.size)))
      val keyBase = 100000000L + n * 100000L + round * 1000L

      // INSERT VALUES
      val ins = (0 until 10).map(i => (keyBase + i) -> newOrd())
      write("insert", s"INSERT INTO ow_$n VALUES " +
        ins.map { case (k, o) => lit(k, o, rng.nextInt(15000)) }.mkString(", ")) { _ =>
        ow ++= ins; None }
      // UPDATE by key
      val upd = pick(10, Set.empty)
      write("update", s"UPDATE ow_$n SET o_totalprice = o_totalprice + 1.25D, " +
        s"o_orderstatus = 'U' WHERE o_orderkey IN (${upd.mkString(", ")})") { df =>
        upd.foreach(k => ow(k) = ow(k).copy(status = "U", cents = ow(k).cents + 125))
        val got = df.head().getLong(0)
        if (got == upd.size) None else Some(s"updated $got rows, expected ${upd.size}")
      }
      // DELETE by key
      val del = pick(10, upd.toSet)
      write("delete", s"DELETE FROM ow_$n WHERE o_orderkey IN (${del.mkString(", ")})") { df =>
        ow --= del
        val got = df.head().getLong(0)
        if (got == del.size) None else Some(s"deleted $got rows, expected ${del.size}")
      }
      // MERGE from a small source: five matched keys, five new ones
      val mOld = pick(5, (upd ++ del).toSet).map(k => k -> newOrd().copy(status = "M"))
      val mNew = (0 until 5).map(i => (keyBase + 500 + i) -> newOrd())
      val src = (mOld ++ mNew).map { case (k, o) => lit(k, o, rng.nextInt(15000)) }
      write("merge", s"MERGE INTO ow_$n AS t USING (SELECT * FROM (VALUES " +
        src.mkString(", ") + ") AS v(o_orderkey, o_custkey, o_orderstatus, " +
        "o_totalprice, o_orderpriority)) AS s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *") { df =>
        ow ++= mOld ++= mNew
        val r = df.head()
        if (r.getLong(0) == mOld.size && r.getLong(1) == mNew.size) None
        else Some(s"merge counts $r, expected (${mOld.size}, ${mNew.size})")
      }
      // read-after-write
      read("read", s"SELECT count(*) AS n, sum(CAST(round(o_totalprice * 100) AS BIGINT)) " +
        s"AS cents, count_if(o_orderstatus = 'U') AS u FROM ow_$n") { rows =>
        val r = rows.head
        val exp = (ow.size.toLong, ow.values.map(_.cents).sum,
          ow.values.count(_.status == "U").toLong)
        val got = (r.getLong(0), r.getLong(1), r.getLong(2))
        if (got == exp) None else Some(s"read $got, shadow $exp")
      }
      // beside the writes: a footer-foldable read of the unmodified
      // source table and an ANN probe with a stored vector
      rec.run("fold", "read") {
        val df = sql("SELECT count(*) AS n, min(o_orderkey) AS lo, " +
          "max(o_orderkey) AS hi FROM orders", tr)
        (df, tr.span("exec.action")(df.collect().toSeq))
      }.foreach { case (r, (df, rows)) =>
        r.phases = Layers.phases(df)
        foldPlans += !castToImpl(df).queryExecution.executedPlan.toString
          .contains("FileScan")
        val exp = (baseOrders.size.toLong, baseOrders.keys.min, baseOrders.keys.max)
        val got = (rows.head.getLong(0), rows.head.getLong(1), rows.head.getLong(2))
        rec.verdict(r, if (got == exp) None else Some(s"fold $got, expected $exp"))
      }
      val probe = ann.pick(rng)
      rec.run("ann", "retrieval") {
        val df = tr.span("index.ann_call")(engine.annSearch("emb_aix", ann.vector(probe), 10))
        tr.span("index.ann_exec")(df.collect().toSeq)
      }.foreach { case (r, rows) => rec.verdict(r, ann.check(probe, rows)) }
    }
    val rng = Rng(conf.seed, n)
    def newOrd(): Ord = Ord("N", 100000L + rng.nextInt(40000000),
      Priorities(rng.nextInt(Priorities.size)))
    // append-only copy: INSERT, REFRESH MATERIALIZED VIEW, covered read,
    // and the change feed of that INSERT
    val cdcFrom = engine.currentVersion(s"oa_$n") + 1
    val aIns = (0 until 10).map(i => (200000000L + n * 1000L + i) -> newOrd())
    write("insert_ao", s"INSERT INTO oa_$n VALUES " + aIns.map { case (k, o) =>
      s"(${k}L, '${o.priority}', ${o.cents / 100}.${f"${o.cents % 100}%02d"}D)" }
      .mkString(", ")) { _ =>
      aIns.foreach { case (_, o) =>
        val (c, s) = oa(o.priority); oa(o.priority) = (c + 1, s + o.cents) }
      None
    }
    write("mv_refresh", s"REFRESH MATERIALIZED VIEW oa_${n}_mv")(_ => None)
    read("mv_read", s"SELECT o_orderpriority, sum(o_totalprice) AS s, count(*) AS n " +
      s"FROM oa_$n GROUP BY o_orderpriority ORDER BY o_orderpriority") { rows =>
      val got = rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      val exp = oa.toSeq.sortBy(_._1)
      if (got.size != exp.size) Some(s"mv read ${got.size} groups, shadow ${exp.size}")
      else got.zip(exp).collectFirst {
        case ((p, s, c), (ep, (ec, es))) if p != ep || c != ec ||
            math.abs(s * 100 - es) > 1.0 + 1e-9 * es =>
          s"mv read ($p, $s, $c), shadow ($ep, ${es / 100.0}, $ec)"
      }
    }
    read("cdc_read", s"SELECT _change_type, count(*) AS c FROM " +
      s"table_changes('oa_$n', $cdcFrom) GROUP BY _change_type") { rows =>
      val m = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      if (m == Map("insert" -> aIns.size.toLong)) None
      else Some(s"table_changes $m, expected ${aIns.size} inserts")
    }
    // documents: INSERT, REFRESH TEXT INDEX, probe the new term
    val marker = s"zq${n}x${conf.seed.abs % 100000}"
    val dIns = (0 until 3).map(i => 1000000L + n * 10L + i)
    write("insert_doc", s"INSERT INTO dw_$n VALUES " + dIns.map(d =>
      s"(${d}L, 'scan $marker join vector ${"value " * (rng.nextInt(5) + d.toInt % 3)}')")
      .mkString(", "))(_ => None)
    write("text_refresh", s"REFRESH TEXT INDEX dw_${n}_tix") { df =>
      val got = df.head().getLong(0)
      if (got == dIns.size) None else Some(s"refresh indexed $got docs, expected ${dIns.size}")
    }
    rec.run("probe", "retrieval") {
      tr.span("index.bm25_call")(engine.bm25Search(s"dw_${n}_tix", Seq(marker), 3))
        .collect().map(_.getLong(0)).toSet
    }.foreach { case (r, got) =>
      rec.verdict(r, if (got == dIns.toSet) None
        else Some(s"probe for $marker found $got, expected ${dIns.toSet}"))
    }
    rec.run("stats", "read") {
      tr.span("stats.read")(engine.executionStats.collect().length)
    }.foreach { case (r, k) =>
      rec.verdict(r, if (k >= statsSeen) None
        else Some(s"executionStats shrank $statsSeen -> $k"))
      statsSeen = k
    }
    firstLast.foreach { case (k, (f, l)) => growth += ((k, l / f)) }
    Seq(s"DROP MATERIALIZED VIEW oa_${n}_mv", s"DROP TABLE oa_$n",
      s"DROP TABLE ow_$n", s"DROP TABLE dw_$n").foreach(q => esql(q).collect())
  }

  def detail(rec: Recorder, traced: Boolean): Seq[Metric] = {
    def medKind(k: String) = Stats.median(rec.ops.filter(_.kind == k).map(_.seconds).toSeq)
    def growthOf(k: String) = Stats.median(growth.filter(_._1 == k).map(_._2).toSeq)
    val base = Seq(
      Metric("dml.insert_s", medKind("insert"), "s"),
      Metric("dml.update_s", medKind("update"), "s"),
      Metric("dml.delete_s", medKind("delete"), "s"),
      Metric("dml.merge_s", medKind("merge"), "s"),
      Metric("dml.update_growth_x", growthOf("update"), "ratio"),
      Metric("dml.delete_growth_x", growthOf("delete"), "ratio"),
      Metric("mv.refresh_s", medKind("mv_refresh"), "s"),
      Metric("mv.covered_read_s", medKind("mv_read"), "s"),
      Metric("cdc.table_changes_s", medKind("cdc_read"), "s"),
      Metric("index.text_refresh_s", medKind("text_refresh"), "s"),
      Metric("plans.mv_rewrite_ratio", mvRewritten.toDouble / math.max(1, mvReads), "ratio"),
      Metric("plans.footer_fold_ratio",
        foldPlans.count(identity).toDouble / math.max(1, foldPlans.size), "ratio"),
      Metric("index.ann_probe_s", medKind("ann"), "s"),
      Metric("stats.read_s", medKind("stats"), "s"),
      Metric("stats.recorded_ratio", engine.executionStats.count().toDouble /
        math.max(1, sqlCalls), "ratio"),
      Metric("dml.session_build_median_s", Stats.median(prepTimes.toSeq), "s"))
    if (!traced) base
    else {
      val exec = rec.tracer.execByOp()
      val writeOps = rec.ops.filter(o => o.cls == "write" &&
        rec.tracer.allSpans.exists(_.op == o.id))
      val bySession = lineage.groupBy(_._1).values.toSeq
      val spans = rec.tracer.allSpans
      def med(layer: String) = Stats.median(spans.filter(_.layer == layer).map(_.seconds))
      val readOps = rec.ops.filter(o => o.cls == "read" && spans.exists(_.op == o.id))
      val calls = spans.filter(s => s.layer == "plan.call" &&
        readOps.exists(_.id == s.op)).map(_.seconds).sum
      base ++ Seq(
        Metric("sql.call_s", med("plan.call"), "s"),
        Metric("sql.call_share_of_reads", calls / readOps.map(_.seconds).sum, "ratio"),
        Metric("index.ann_call_s", med("index.ann_call"), "s"),
        Metric("index.ann_exec_s", med("index.ann_exec"), "s"),
        Metric("index.bm25_call_s", med("index.bm25_call"), "s"),
        Metric("dml.jobs_per_write", Stats.mean(writeOps.map(o =>
          exec.get(o.id).map(_.jobs.toDouble).getOrElse(0.0)).toSeq), "count"),
        Metric("dml.lineage_scans", Stats.median(bySession.map(_.map(_._3).max.toDouble)), "count"),
        Metric("dml.lineage_scans_first", Stats.median(bySession.map(
          _.minBy(_._2)._3.toDouble)), "count"))
    }
  }
}

object DmlMixed {
  /** Rounds per session: deep enough that the last DELETE costs four
    * times the first on the copy-on-write lineage of the seed engine. */
  val Rounds = 3
}
