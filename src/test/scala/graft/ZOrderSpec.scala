package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.BucketedOps

/** Data-skipping laws for the sort-clustered event layouts.
  *
  * The claim under test is physical, not semantic: a Z-ordered layout
  * makes a 2-D box predicate cheap because every file/row group covers
  * a small rectangle of the (user, time) plane, while a single-column
  * sort only prunes its own column. `numOutputRows` on the parquet
  * scan node counts rows actually surfaced by the reader — i.e. rows
  * in row groups that survived min/max pruning — so it is the direct
  * measurement of skipping, robust to AQE and independent of timing.
  *
  * sf0.01 (10k rows) rather than the suite default sf0.001: with 64
  * files, the 1k-row tier puts ~16 rows per file and file-boundary
  * quantization would dominate the ratios the laws pin.
  */
class ZOrderSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  // scansOf / scanRows (the skipping measurement) come from SparkSpec

  private def boxPredicate(maxU: Long): Column = {
    val w = (maxU + 1L) / 8L
    col("user_id") >= lit(2L * w) && col("user_id") < lit(3L * w) &&
      col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-13 00:00:00").cast("timestamp")
  }

  test("Morton zValueN/rank generalize zValue/rank16: bit-identical " +
    "curve at k=2, in-bounds interleave and clamped ranks at k=3") {
    import graft.functions.Morton
    // pseudo-random 2-D points (hash-derived, deterministic)
    val pts = spark.range(4096).select(
      pmod(xxhash64(col("id")), lit(100000L)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(100000L)).as("y"),
      pmod(xxhash64(col("id"), lit(2)), lit(100000L)).as("z3"))
    assert(Morton.bitsFor(2) == 16 && Morton.bitsFor(3) == 16 &&
      Morton.bitsFor(4) == 15 && Morton.bitsFor(8) == 7)
    val mismatch2 = pts.select(
      Morton.zValue(Morton.rank16(col("x"), 0L, 99999L),
        Morton.rank16(col("y"), 0L, 99999L)).as("a"),
      Morton.zValueN(Seq(Morton.rank(col("x"), 0L, 99999L, 16),
        Morton.rank(col("y"), 0L, 99999L, 16)), 16).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatch2 == 0L, "k=2 zValueN diverged from the 2-D fast path")
    // k=3 at 16 bits: z fits 48 bits, non-negative; clamp law — values
    // outside the recorded grid land at the edge, never wrap
    val r3 = pts.select(Morton.zValueN(Seq(
      Morton.rank(col("x"), 0L, 99999L, 16),
      Morton.rank(col("y"), 0L, 99999L, 16),
      Morton.rank(col("z3"), 0L, 99999L, 16)), 16).as("z"))
      .agg(min("z"), max("z")).head
    assert(r3.getLong(0) >= 0L && r3.getLong(1) < (1L << 48))
    val clamped = spark.range(1).select(
      Morton.rank(lit(-5L), 0L, 99L, 8).as("lo"),
      Morton.rank(lit(1000L), 0L, 99L, 8).as("hi")).head
    assert(clamped.getLong(0) == 0L && clamped.getLong(1) == 255L)
    // rank16 clamps the same way: values past the grid on BOTH axes
    // land in the single top Z-cell 0xFFFFFFFF instead of wrapping to
    // low z, and values below it in cell 0
    val edge = spark.range(1).select(
      Morton.zValue(Morton.rank16(lit(5000L), 0L, 99L),
        Morton.rank16(lit(1000000L), 0L, 99L)).as("hi"),
      Morton.zValue(Morton.rank16(lit(-5L), 0L, 99L),
        Morton.rank16(lit(-1000L), 0L, 99L)).as("lo")).head
    assert(edge.getLong(0) == 0xFFFFFFFFL && edge.getLong(1) == 0L,
      s"out-of-grid z values: $edge")
  }

  test("q174 on the Z-order layout ≡ the same box on the raw events") {
    val viaLayout = SparkEntry.queries("q174_zorder_box")(spark, dir)
      .collect().map(_.toSeq).toSet
    val (_, maxU) = BucketedOps.eventsZOrder(spark, dir)
    val raw = graft.Tables.t(spark, dir, "events")
      .filter(boxPredicate(maxU))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
      .collect().map(_.toSeq).toSet
    assert(viaLayout == raw)
  }

  test("Z-order box scan prunes BOTH dimensions: reads under half the " +
    "time-sorted layout's rows and under a quarter of the table") {
    val (tz, maxU) = BucketedOps.eventsZOrder(spark, dir)
    val tl = BucketedOps.eventsByTime(spark, dir)
    val total = spark.table(tz).count()
    val zRows = scanRows(
      spark.table(tz).filter(boxPredicate(maxU))
        .groupBy("event_type").agg(count(lit(1))))
    val tlRows = scanRows(
      spark.table(tl).filter(boxPredicate(maxU))
        .groupBy("event_type").agg(count(lit(1))))
    info(s"total=$total zRows=$zRows tlRows=$tlRows")
    // measured at 256-file granularity: z 585 vs tl 1055 of 10000 —
    // a COARSE box (12% × 10%) is Z-order's worst case (the √F-grid
    // cell overhead is largest relative to the box), so the margin
    // here is 1.5×; the drill-down law below is where the asymmetry
    // gets large
    assert(zRows * 3 <= tlRows * 2,
      s"Z layout read $zRows rows vs time layout $tlRows — " +
        "no 2-D pruning advantage")
    assert(zRows * 4 <= total,
      s"Z layout read $zRows of $total rows for a ~1.2% box")
  }

  test("single-user drill-down over 2/3 of history: the time-sorted " +
    "layout cannot prune the user dimension at all, Z-order can") {
    val (tz, maxU) = BucketedOps.eventsZOrder(spark, dir)
    val tl = BucketedOps.eventsByTime(spark, dir)
    val one = (maxU + 1L) / 8L * 2L // a single mid-range user
    val pred = col("user_id") === lit(one) &&
      col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-25 00:00:00").cast("timestamp")
    val zRows = scanRows(spark.table(tz).filter(pred)
      .groupBy("event_type").agg(count(lit(1))))
    val tlRows = scanRows(spark.table(tl).filter(pred)
      .groupBy("event_type").agg(count(lit(1))))
    info(s"zRows=$zRows tlRows=$tlRows")
    assert(zRows * 4 <= tlRows,
      s"Z layout read $zRows vs time layout $tlRows for one user — " +
        "expected ≥4× skipping asymmetry")
  }

  test("time-sorted layout prunes the q175 week window to ~the window") {
    val tl = BucketedOps.eventsByTime(spark, dir)
    val total = spark.table(tl).count()
    val read = scanRows(
      spark.table(tl)
        .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy(col("ts").cast("date")).agg(count(lit(1))))
    info(s"total=$total weekRows=$read")
    // the window is 7 of ~30 days ≈ 23%; allow boundary row groups
    assert(read * 5 <= total * 2,
      s"time layout read $read of $total rows for a 7/30-day window")
  }

  test("both box predicates are PUSHED to the Z-layout parquet scan " +
    "(timestamps written as TIMESTAMP_MICROS, not stat-less INT96)") {
    val df = SparkEntry.queries("q174_zorder_box")(spark, dir)
    val pushed = scansOf(df).head.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed.contains("user_id") && pushed.contains("ts"),
      s"box filters not pushed: $pushed")
  }

  test("q174 scan reads only the box/agg columns from the layout " +
    "(the z sort key itself is pruned away)") {
    val df = SparkEntry.queries("q174_zorder_box")(spark, dir)
    val schema = scansOf(df).head.requiredSchema.fieldNames.toSet
    assert(schema == Set("user_id", "ts", "event_type", "value"),
      s"layout scan reads extra columns: $schema")
  }

  test("repartitionDirected routes every row to the partition named by " +
    "its cell, for the Z layout's clusterFiles cells") {
    val cells = BucketedOps.clusterFiles
    assert(cells == 256)
    val df = spark.range(20000)
      .select(pmod(xxhash64(col("id")), lit(cells.toLong)).as("cell"))
    val routed = BucketedOps.repartitionDirected(df, cells, col("cell"))
      .select(col("cell"), spark_partition_id().as("pid"))
    assert(routed.rdd.getNumPartitions == cells)
    val stray = routed.filter(col("cell") =!= col("pid")).count()
    assert(stray == 0L, s"$stray rows landed outside their cell's partition")
    assert(routed.select("pid").distinct().count() == cells)
  }

  test("the Z cell shift splits a power-of-two cell count into equal " +
    "z ranges and refuses any other count") {
    val z = spark.range(1).select(
      lit(0L).as("lo"), lit((1L << 32) - 1).as("hi"), lit(1L << 24).as("p1"))
    val r = z.select(Seq("lo", "hi", "p1").map(c =>
      BucketedOps.zCell(col(c), 256)): _*).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((0L, 255L, 1L)))
    Seq(0, 3, 100, 255, 257).foreach { n =>
      intercept[IllegalArgumentException](BucketedOps.zCell(col("lo"), n))
    }
  }
}
