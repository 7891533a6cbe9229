package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 1]; NaN when empty. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

final case class Metric(name: String, value: Double, unit: String)

/** The generator for one part of a run (a block, a round), derived from
  * the workload seed. The parts are hashed together first: generators
  * seeded with neighbouring values start out correlated. */
object Rng {
  def apply(seed: Long, parts: Long*): scala.util.Random =
    new scala.util.Random(scala.util.hashing.MurmurHash3.seqHash(seed +: parts).toLong)
}

/** One timed operation of a workload's loop. `cls` is read, write or
  * retrieval; `kind` names the template or verb. A failed operation
  * threw or returned a wrong answer. */
final case class OpRecord(id: Int, kind: String, cls: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    var ok: Boolean, var error: String = "",
    var phases: Map[String, Double] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Runs and records a workload's operations. The timed region is only
  * the operation itself; answer checks run outside it, either at once
  * (`verdict`) or after the loop (`deferred`). */
final class Recorder(val tracer: Tracer) {
  val ops = ArrayBuffer.empty[OpRecord]
  val deferred = ArrayBuffer.empty[() => Unit]
  private var nextId = 0

  def run[A](kind: String, cls: String)(body: => A): Option[(OpRecord, A)] = {
    val id = nextId; nextId += 1
    val t0ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    val res = try Right(tracer.op(id, "op")(body))
      catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime(); val t1ms = System.currentTimeMillis()
    val rec = OpRecord(id, kind, cls, t0, t1, t0ms, t1ms, ok = res.isRight)
    ops += rec
    System.err.println(f"[perfbench] op $id%d $kind%s ${rec.seconds}%.3f s")
    res match {
      case Right(a) => Some(rec -> a)
      case Left(e) =>
        rec.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        System.err.println(s"[perfbench] op $id $kind failed: ${rec.error}")
        None
    }
  }

  /** Mark `rec` failed when `problem` is non-empty. */
  def verdict(rec: OpRecord, problem: Option[String]): Unit =
    problem.foreach { p =>
      rec.ok = false; rec.error = p.take(300)
      System.err.println(s"[perfbench] op ${rec.id} ${rec.kind} wrong: $p")
    }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
}

/** Canonical, order-insensitive digest of a result: each row renders its
  * columns in name order (integral numbers as integers, other floats by
  * their IEEE-754 bits, timestamps as UTC epoch microseconds), and the
  * digest is the row count plus the wrapping sum of the first 8 bytes of
  * each row's SHA-256. `oracle.py` computes the same digest from DuckDB. */
object Canon {
  def cell(v: Any): String = v match {
    case null => "N"
    case b: java.lang.Boolean => b.toString
    case x: java.lang.Byte => x.toString
    case x: java.lang.Short => x.toString
    case x: java.lang.Integer => x.toString
    case x: java.lang.Long => x.toString
    case x: java.lang.Float => dbl(x.toDouble)
    case x: java.lang.Double => dbl(x)
    case d: java.math.BigDecimal => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case other => other.toString
  }

  private def dbl(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 9.007199254740992e15)
      d.toLong.toString
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def decimal(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  def row(r: Row, order: Seq[Int]): String =
    order.map(i => cell(r.get(i))).mkString("\u0001")

  /** (rows, digest hex) of collected rows under `columns`. */
  def digest(columns: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    var acc = 0L
    rows.foreach { r =>
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(row(r, order).getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.size.toLong, java.lang.Long.toHexString(acc))
  }

  def digest(df: DataFrame, rows: Seq[Row]): (Long, String) =
    digest(df.columns.toSeq, rows)
}

/** Numeric-tolerant comparison of ordered results from two sessions. */
object Compare {
  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Double, y: java.lang.Double) =>
      x.equals(y) || math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y))
    case (x: Row, y: Row) => rows(Seq(x), Seq(y)).isEmpty
    case _ => Canon.cell(a) == Canon.cell(b)
  }

  /** None when equal, else the first difference. */
  def rows(got: Seq[Row], exp: Seq[Row]): Option[String] =
    if (got.size != exp.size) Some(s"rows ${got.size} vs ${exp.size}")
    else got.zip(exp).zipWithIndex.collectFirst {
      case ((g, e), i) if g.size != e.size ||
          g.toSeq.zip(e.toSeq).exists { case (a, b) => !close(a, b) } =>
        s"row $i: $g vs $e"
    }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value),
      "unit" -> str(m.unit)))))
}

/** Timing helper for set-up and build steps. */
object Clock {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }
  /** Heap in use after a full collection, MB. */
  def heapLiveMb(): Double = {
    System.gc(); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
