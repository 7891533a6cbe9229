package graft.tools

/** Ad-hoc plan dump for a named query: prints the formatted executed
  * plan so layout/ordering laws can be diagnosed outside the test
  * harness. Usage: runMain graft.tools.PlanDump <queryName> [sfDir] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession("local[8]", 8)
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    // collect() (not a noop write) so THIS df's AdaptiveSparkPlan is
    // the one that finalizes — the printed plan then shows runtime
    // decisions (ReusedExchange/stage reuse, AQEShuffleRead) instead
    // of the static initial plan
    df.collect()
    df.explain("formatted")
    spark.stop()
  }
}
