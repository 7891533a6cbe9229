package graft.tools

import graft.{GraftSession, SparkEntry}

/** Whole-inventory timed sweep (r11 verdict item 7): every
  * SparkEntry.queries key, timed at one tier (default benchdata/sf1),
  * so regressions OUTSIDE the 33-row bench basket are caught once per
  * round. One warmup at sf0.001 per query, then SPARK_GRAFT_REPEATS
  * timed repeats (default 2, median kept). Each row carries a load
  * stamp — the louder of its two bracketing q05-sentinel readings, same
  * protocol as Bench — so a drift vs the prior round's sweep is
  * attributable to load vs code. Output: SWEEP.json (one JSON object:
  * per-query median + stamp + the run's sentinel floor).
  *
  * Usage: runMain graft.tools.InventorySweep [sfDir] [outFile]
  */
object InventorySweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("benchdata/sf1")
    val outFile = args.drop(1).headOption.getOrElse("SWEEP.json")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "2").toInt
    val wanted = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    // session shape identical to Bench so sweep rows are comparable to
    // basket rows at the same tier
    val spark = GraftSession.tierSized(GraftSession.cpus(), sfDir)
    def runQuery(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries("q05_agg_global")(spark, "/root/testdata/sf0.001")
        .write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // codegen warmup — the sentinel must not time itself
    val keys = SparkEntry.queries.keys.toVector.sorted
      .filter(k => wanted.forall(_.contains(k)))
    val meds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val stamps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val cals = scala.collection.mutable.ArrayBuffer.empty[Double]
    var prevCal = calibrate(); cals += prevCal
    keys.grouped(8).foreach { group =>
      group.foreach { name =>
        SparkEntry.benchSharedStages.get(name).foreach { case (_, warm) =>
          try warm(spark, sfDir) catch { case _: Throwable => () }
        }
        try runQuery(name, "/root/testdata/sf0.001")
        catch { case _: Throwable => () }
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val ok =
            try { runQuery(name, sfDir); true }
            catch { case e: Throwable =>
              System.err.println(s"[sweep] $name failed: ${e.getMessage}")
              false
            }
            finally spark.catalog.clearCache()
          if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
        }.toVector.sorted
        if (ts.exists(_.isNaN)) failed += name
        else meds(name) = ts(ts.size / 2)
        System.gc()
      }
      val nextCal = calibrate(); cals += nextCal
      group.foreach { n =>
        if (meds.contains(n)) stamps(n) = math.max(prevCal, nextCal)
      }
      prevCal = nextCal
      System.err.println(s"[sweep] ${meds.size}/${keys.size} done " +
        f"(sentinel $nextCal%.3f)")
    }
    def r3(v: Double) = math.round(v * 1000) / 1000.0
    val qs = meds.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val st = stamps.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val fl = cals.min
    val line =
      s"""{"sf":"$sfDir","reps":$reps,"floor":${r3(fl)},""" +
        s""""total":${r3(meds.values.sum)},"queries":$qs,"stamps":$st,""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    spark.stop()
  }
}
