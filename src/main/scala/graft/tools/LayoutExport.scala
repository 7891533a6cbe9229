package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.Tables.t
import graft.operators.LayoutMaintenance

/** Exports the minute-rollup and token-manifest layout CONTENT as plain
  * parquet for the two-engine fairness pairing (VERDICT r10 item 3):
  * the q163/q164 DuckDB denominators used to recompute from raw
  * text/events while graft read its materialized layouts; this tool
  * gives DuckDB the same artifacts so the per-query ratio compares
  * equal work. Output: <outDir>/rollup and <outDir>/manifest.
  * Usage: runMain graft.tools.LayoutExport <sfDir> <outDir> */
object LayoutExport {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession.files(s"local[${GraftSession.cpus()}]", 32)
    LayoutMaintenance.minutePartials(t(spark, sfDir, "events"))
      .repartition(graft.operators.BucketedOps.RollupBuckets,
        col("event_type"))
      .sortWithinPartitions("event_type", "m")
      .write.mode("overwrite").parquet(s"$outDir/rollup")
    LayoutMaintenance.manifestRows(t(spark, sfDir, "documents"))
      .repartition(graft.operators.BucketedOps.BucketCount,
        col("lang"), col("b"))
      .sortWithinPartitions("lang", "b", "doc_id")
      .write.mode("overwrite").parquet(s"$outDir/manifest")
    println(s"[layoutexport] wrote $outDir/rollup and $outDir/manifest")
    spark.stop()
  }
}
