package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * The `events` table's `ts` column arrives in whatever physical encoding
  * the upstream writer chose — int64 nanoseconds, parquet `timestamp[us]`
  * without timezone (reads as `TIMESTAMP_NTZ`), or an instant-semantics
  * timestamp — so the loader is SCHEMA-ADAPTIVE: it branches on the actual
  * on-disk `DataType` and normalizes every encoding to one canonical shape
  * (`ts`: µs `TimestampType`; `ts_ns`: int64 nanos side-channel carrying
  * full precision, per the §1.2 type matrix). The reference handles the
  * same precision×tz matrix by hand when converting Arrow batches
  * (ref: /root/reference/src/arrow_utils.cpp:561-583); here the matrix
  * lives in one function shared by the batch loader AND all streaming
  * readers, so a new encoding can never silently diverge between them.
  *
  * Nanos note: int64-nanos sources are read raw
  * (`spark.sql.legacy.parquet.nanosAsLong`) and converted with integer
  * arithmetic (`DIV`, not `/`, because nanos-since-epoch exceeds the 2^53
  * exact-double range). NTZ note: the engine pins
  * `spark.sql.session.timeZone=UTC` everywhere, so `CAST(ntz AS
  * TIMESTAMP)` is an exact relabeling, not a wall-clock shift.
  *
  * Scale note: these are plain `spark.read.parquet` scans — at 100 TB the
  * same call distributes across executors with row-group-aligned splits
  * (ref: /root/reference/src/server/driver/task_partitioner.cpp:59-96 does
  * this by hand; Spark's FileSourceScanExec does it natively).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Normalize a raw events frame (batch or streaming, any physical `ts`
    * encoding) to the canonical shape: `ts` µs `TimestampType`, `ts_ns`
    * int64 nanos. Unknown encodings fail loudly at analysis rather than
    * producing silently-shifted timestamps. */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => // int64 nanos, read via nanosAsLong
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns DIV 1000)"))
      case TimestampNTZType => // parquet timestamp[us]/[ms], no tz
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
      case TimestampType => // instant-semantics timestamp
        raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
      case other: DataType =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported physical type $other " +
            "(expected int64 nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }

  /** A feed file `name` under `dir` that is a DIRECTORY (the layout
    * Spark itself writes: `events.parquet/part-*.parquet` + _SUCCESS)
    * resolves to that directory with a part-file glob, so the stream
    * readers accept both the single-file testdata shape and the
    * directory shape every Spark-written feed has. Storage-agnostic
    * (Hadoop FileSystem), so the same resolution runs on HDFS/S3. */
  private def resolveFeed(spark: SparkSession, dir: String,
      name: String): (String, String) = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      (p.toString, "*.parquet")
    else (dir, name)
  }

  /** Schema-adaptive streaming reader over the events feed at `dir`:
    * the single entry point every streaming module uses, returning the
    * canonical (`ts` µs timestamp, `ts_ns` nanos) shape regardless of
    * the feed's physical encoding. Streaming sources require an
    * explicit schema; it comes from a footer-only read of the files
    * themselves, which keeps the stream readers in the same encoding
    * matrix as the batch loader. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val (path, g) = resolveFeed(spark, dir, "events.parquet")
    val disk = spark.read.option("pathGlobFilter", g).parquet(path).schema
    normalizeEvents(
      spark.readStream
        .schema(disk)
        .option("pathGlobFilter", g)
        .parquet(path))
  }

  /** Streaming reader over the documents feed at `dir` — same feed
    * resolution as [[eventsStream]] (single file or Spark-written
    * directory), schema from a footer-only read. */
  def docsStream(spark: SparkSession, dir: String): DataFrame = {
    val (path, g) = resolveFeed(spark, dir, "documents.parquet")
    val disk = spark.read.option("pathGlobFilter", g).parquet(path).schema
    spark.readStream
      .schema(disk)
      .option("pathGlobFilter", g)
      .parquet(path)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEvents(spark.read.parquet(s"$dir/events.parquet"))
    case other =>
      spark.read.parquet(s"$dir/$other.parquet")
  }

  /** Register every table as a temp view so `spark.sql` queries can use the
    * same table names as the DuckDB oracle SQL. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
