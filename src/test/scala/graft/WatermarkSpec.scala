package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Watermark semantics: append-mode windowed aggregation emits a window
  * only once the watermark passes it, and drops events later than the
  * watermark — the property that bounds state at 100 TB/day. */
class WatermarkSpec extends SparkSpec {

  test("late events beyond the watermark are dropped") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
        .sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("h"), col("n"))
    val name = s"graft_wm_${System.nanoTime()}"
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name).start()

    def t(s: String) = Timestamp.valueOf(s)
    // batch 1: two events in hour 10
    input.addData((t("2024-01-01 10:05:00"), 1.0), (t("2024-01-01 10:20:00"), 1.0))
    q.processAllAvailable()
    // batch 2: event at 12:30 advances the watermark to 12:20 → hour-10
    // window closes and emits; a straggler at 10:40 arrives AFTER that
    input.addData((t("2024-01-01 12:30:00"), 1.0))
    q.processAllAvailable()
    input.addData((t("2024-01-01 10:40:00"), 1.0)) // late: < watermark
    q.processAllAvailable()
    input.addData((t("2024-01-01 15:00:00"), 1.0)) // close hour-12 too
    q.processAllAvailable()
    q.stop()

    val rows = spark.table(name).collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // hour-10 window emitted with the 2 on-time events only — the
    // straggler was dropped, not merged and not re-emitted
    assert(rows("2024-01-01 10:00:00.0") == 2L, rows.toString)
    assert(rows("2024-01-01 12:00:00.0") == 1L)
  }

  test("streaming dedup drops re-delivered events across batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
        .sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val deduped = input.toDF().toDF("event_id", "ts", "value")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy()
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"))
    val name = s"graft_dedup_${System.nanoTime()}"
    val q = deduped.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name).start()

    def t(s: String) = Timestamp.valueOf(s)
    input.addData((1L, t("2024-01-01 10:00:00"), 5.0),
      (2L, t("2024-01-01 10:01:00"), 7.0))
    q.processAllAvailable()
    // at-least-once delivery: id 1 re-arrives in a later batch with a
    // different payload — the first win is kept, the retry dropped
    input.addData((1L, t("2024-01-01 10:02:00"), 99.0),
      (3L, t("2024-01-01 10:03:00"), 11.0))
    q.processAllAvailable()
    q.stop()

    val r = spark.table(name).head()
    assert(r.getLong(0) == 3L, s"expected 3 unique events, got $r")
    assert(r.getDouble(1) == 23.0, s"retry payload leaked into sum: $r")
  }
}
