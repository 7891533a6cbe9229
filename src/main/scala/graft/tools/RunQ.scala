package graft.tools

/** Timed standalone runner on Bench's session
  * ([[graft.GraftSession.tierSized]] on `local[$SPARK_GRAFT_CPUS]`,
  * default 32) and Bench's timed run ([[graft.Bench.runQuery]]):
  * `runMain graft.tools.RunQ <sfDir> <query>...` with
  * SPARK_GRAFT_REPEATS repeats (default 3), medians printed.
  * A query's shared stage (shingle index, layouts, serving indexes)
  * warms untimed before every repeat, like Bench. */
object RunQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    val spark = graft.GraftSession.tierSized(graft.GraftSession.cpus(), sfDir)
    def once(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      graft.Bench.runQuery(spark, name, dir)
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      graft.SparkEntry.benchSharedStages.get(name).foreach {
        case (stage, warm) =>
          val t0 = System.nanoTime()
          warm(spark, sfDir)
          println(f"[runq] $stage%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
      once(name, "/root/testdata/sf0.001") // codegen warmup
      val ts = (1 to reps).map { _ =>
        // warm the stage (untimed) BEFORE each repeat: the codegen
        // warmup re-points a serving artifact, which remembers one
        // corpus dir, to sf0.001, and clearCache drops what a repeat
        // cached
        graft.SparkEntry.benchSharedStages.get(name)
          .foreach { case (_, warm) => warm(spark, sfDir) }
        val t = once(name, sfDir)
        spark.catalog.clearCache()
        t
      }.sorted
      println(f"[runq] $name%-28s med ${ts(ts.size / 2)}%8.2f " +
        f"min ${ts.head}%8.2f max ${ts.last}%8.2f")
    }
    spark.stop()
  }
}
