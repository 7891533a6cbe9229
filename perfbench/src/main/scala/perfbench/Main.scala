package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command line of one run (see README.md). */
final case class Conf(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, warm: String, tier: String,
    expected: String, out: String)

object Conf {
  /** The session runs `local[n]` on every core of the host. */
  val cores: Int = Runtime.getRuntime.availableProcessors
}

/** Set-up time split into its steps, seconds. */
final case class SetupTimes(start: Double, register: Double, warmup: Double) {
  def total: Double = start + register + warmup
}

/** A closed-loop, single-client workload. The runner calls `setup`
  * three times (stopping the session between), then `build` once, then
  * `block` until the measuring window is spent, then `verify`. */
trait Workload {
  /** Start a session, register tables and warm up; returns step times. */
  def setup(): SetupTimes
  def spark: SparkSession
  /** Build the artifacts the loop reads; returns per-artifact seconds. */
  def build(): Seq[(String, Double)]
  /** One block of operations: a fixed mix in seed-derived order. */
  def block(rec: Recorder, blockNo: Int): Unit
  /** Checks that need work after the loop (oracle sessions, models). */
  def verify(rec: Recorder): Unit = rec.deferred.foreach(_.apply())
  /** Workload-specific figures for the detail line and trace metrics. */
  def detail(rec: Recorder, traced: Boolean): Seq[Metric]
  /** Extra artifact builds timed only in the traced run. */
  def tracedBuild(): Seq[(String, Double)] = Nil
  def provenance: Seq[(String, String)] = Nil
}

object Main {
  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("data"), need("warm"), need("tier"),
      need("expected"), need("out"))
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val wl: Workload = conf.workload match {
      case "interactive" => new Interactive(conf)
      case "pipeline" => new Pipeline(conf)
      case "dml_mixed" => new DmlMixed(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up three times; every session but the last is stopped again
    val t0 = System.nanoTime()
    def mark(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
    val setups = (1 to 3).map { i =>
      val s = wl.setup()
      mark(s"setup $i")
      if (i < 3) Clock.stopSession(wl.spark)
      s
    }
    val tracer = new Tracer(wl.spark.sparkContext)
    val rec = new Recorder(tracer)
    val builds = wl.build()
    val extraBuilds = if (conf.trace) wl.tracedBuild() else Nil
    mark("build")
    // closed loop: whole blocks until the window is spent. The traced run
    // alternates untraced and traced blocks, starting untraced, at least
    // three blocks: the first traced block sits between untraced ones, so
    // a warm-up drift falls on both sides of the overhead comparison
    val loop0 = System.nanoTime()
    var blockNo = 0
    val tracedOps = ArrayBuffer.empty[Int]
    val untracedOps = ArrayBuffer.empty[Int]
    def spent = (System.nanoTime() - loop0) / 1e9 >= conf.seconds
    while (blockNo < (if (conf.trace) 3 else 1) || !spent) {
      val traced = conf.trace && blockNo % 2 == 1
      if (traced) tracer.start()
      val first = rec.ops.size
      wl.block(rec, blockNo)
      val ids = rec.ops.drop(first).map(_.id)
      if (traced) { tracer.stop(); tracedOps ++= ids }
      else untracedOps ++= ids
      blockNo += 1
    }
    mark("loop")
    val heapMb = Clock.heapLiveMb()
    wl.verify(rec)
    mark("verify")

    val ops = rec.ops.toSeq
    val lat = ops.map(_.seconds)
    val reads = ops.filter(_.cls != "write").map(_.seconds)
    // geometric mean over operation kinds of each kind's median latency:
    // every template or verb weighs the same whatever its count in a run
    def kindGeomean(os: Seq[OpRecord]): Double = {
      val meds = os.groupBy(_.kind).values.map(k => Stats.median(k.map(_.seconds)))
      math.exp(meds.map(math.log).sum / meds.size)
    }
    val writes = ops.filter(_.cls == "write").map(_.seconds)
    val retr = ops.filter(_.cls == "retrieval").map(_.seconds)
    val setupS = Stats.median(setups.map(_.total))
    val buildS = builds.map(_._2).sum
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("build_s", buildS, "s"),
      Metric("latency_geomean_s", kindGeomean(ops), "s"),
      Metric("throughput_ops_s", ops.size / lat.sum, "ops/s"))
    val extra = Seq(
      Metric("latency_p50_s", Stats.percentile(lat, 0.5), "s"),
      Metric("read_geomean_s", kindGeomean(ops.filter(_.cls != "write")), "s"),
      Metric("read_p50_s", Stats.median(reads), "s"),
      Metric("latency_p90_s", Stats.percentile(lat, 0.9), "s"),
      Metric("heap_live_mb", heapMb, "MB"),
      Metric("failed_frac", rec.failed.toDouble / math.max(1, rec.attempted), "ratio"),
      Metric("write_p50_s", Stats.percentile(writes, 0.5), "s"),
      Metric("write_p90_s", Stats.percentile(writes, 0.9), "s"),
      Metric("retrieval_p50_s", Stats.median(retr), "s"),
      Metric("ops", ops.size.toDouble, "count"),
      Metric("session.start_s", Stats.median(setups.map(_.start)), "s"),
      Metric("catalog.register_s", Stats.median(setups.map(_.register)), "s"),
      Metric("warmup_s", Stats.median(setups.map(_.warmup)), "s")) ++
      (builds ++ extraBuilds).map { case (n, s) => Metric(n, s, "s") }
    val layers =
      if (conf.trace) Layers.metrics(tracer, ops, tracedOps.toSet, untracedOps.toSet)
      else Nil
    val detail = extra ++ wl.detail(rec, conf.trace) ++ layers
    val reported = if (conf.trace) Layers.contract(detail) else e2e

    val prov = Seq(
      "workload" -> Json.str(conf.workload), "seed" -> conf.seed.toString,
      "trace" -> conf.trace.toString, "nproc" -> Conf.cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark" -> Json.str(wl.spark.version),
      "jdk" -> Json.str(System.getProperty("java.version"))) ++ wl.provenance
    val failures = ops.filterNot(_.ok).take(5)
      .map(o => Json.str(s"${o.kind}: ${o.error}"))
    val full = Json.obj(Seq(
      "provenance" -> Json.obj(prov),
      "end_to_end" -> Json.metrics(e2e),
      "detail" -> Json.metrics(detail),
      "failures" -> failures.mkString("[", ",", "]")))
    if (conf.trace) Layers.writeSpans(conf.out + ".spans.jsonl", tracer, ops)
    java.nio.file.Files.write(java.nio.file.Paths.get(conf.out),
      (full + "\n").getBytes("UTF-8"))
    Clock.stopSession(wl.spark)
    println("PERFBENCH " + Json.obj(Seq(
      "correct" -> (rec.failed == 0).toString,
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "metrics" -> Json.metrics(reported))))
  }
}
