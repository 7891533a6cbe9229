package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is shaped. Every runner (`Bench`,
  * `Verify`, `Engine.start`, the `graft.tools` mains) and the test
  * fixture open their session here; the only values a caller chooses
  * are the master (core count) and the shuffle partition count, or the
  * tier directory the [[tierSized]] policy derives them from.
  *
  * Base confs, set on every session:
  *  - `spark.sql.session.timeZone=UTC`: DuckDB-oracle parity for
  *    timestamp rendering and date arithmetic
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: `events.parquet`
  *    carries nanosecond timestamps Spark otherwise refuses to read
  *  - `spark.ui.enabled=false`: no UI server per runner
  * Query sessions ([[builder]], [[open]], [[apply]], [[tierSized]])
  * also carry [[GraftExtensions]] (graft's SQL surface, which [[Engine]]
  * requires; a builder property, not a conf key) and set:
  *  - `spark.sql.adaptive.enabled=true`
  *  - `spark.sql.legacy.bucketedTableScan.outputOrdering=true`: a
  *    bucketed scan reports its bucket sort order, so the layouts
  *    written one file per bucket ([[operators.BucketedOps]]) feed
  *    windows and joins without a sort. Spark reports the order only
  *    when every bucket holds exactly one file; a multi-file bucket is
  *    sorted per file only, and its plan gets its `SortExec` back
  *    (EngineSpec's layout-maintenance law). Not set on [[files]]
  *    sessions, whose written bytes must not move with query shape.
  * A named query therefore gets one plan whoever runs it: no runner
  * sets confs around it. */
object GraftSession {

  /** Cores for a runner: `$SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int = 32): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** The base confs, set on every session. */
  private[graft] val baseConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** The confs query sessions set on top of [[baseConfs]]. */
  private[graft] val querySessionConfs: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")

  private def base(master: String, shufflePartitions: Int)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config(baseConfs)

  /** A query-session builder: base confs, [[querySessionConfs]] and
    * [[GraftExtensions]]; callers add more (app name, executor sizing)
    * before [[open]]. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    base(master, shufflePartitions)
      .config(querySessionConfs)
      .withExtensions(new GraftExtensions)

  /** Opens `b`'s session, or joins the running one. */
  def open(b: SparkSession.Builder): SparkSession = b.getOrCreate()

  /** A runner's query session, logging at WARN. */
  def apply(master: String, shufflePartitions: Int): SparkSession =
    quiet(open(builder(master, shufflePartitions)))

  /** A session for tools that only rewrite parquet files (tier
    * generation, layout export): base confs only, Spark's own AQE
    * default and no graft extensions, so the files they write do not
    * move with the query-session shape. */
  def files(master: String, shufflePartitions: Int): SparkSession =
    quiet(base(master, shufflePartitions).getOrCreate())

  /** Total bytes of the regular files under `sfDir` (0 when absent). */
  def tierBytes(sfDir: String): Long = {
    val dir = Paths.get(sfDir)
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** The bench session for the tier at `sfDir` on `local[cpus]`.
    *
    * Shuffle partitions SCALE WITH DATA, not cores: at sf100 a
    * 32-partition shuffle packs ~10× the per-task data of sf10 and
    * spills (q41 sf100 diagnosis — 89.6 → 47.0 s best repeat at 256).
    * Sized the way a cluster sizes it: tier bytes ÷ 128 MB target
    * partition, capped at 2048 and floored at the core count (sf0.1–sf10
    * land exactly on the core count). */
  def tierSized(cpus: Int, sfDir: String): SparkSession = {
    val bytes = tierBytes(sfDir)
    val partitions =
      math.max(cpus, math.min(2048L, bytes / (128L << 20) + 1).toInt)
    quiet(open(builder(s"local[$cpus]", partitions)
      // bench tiers write fact tables as 32×~44 MB files; the 128 MB
      // default packs ~3 files per scan task (1/3 parallelism on 32
      // cores). ≤44 MB keeps one file per task — q06 sf10 2.2× → ~1.3×
      // (Sweep06). Production rule: maxPartitionBytes ≤ file size so a
      // scan fans out to ≥ the core count.
      .config("spark.sql.files.maxPartitionBytes", "32m")
      // shuffle files are only reclaimed when the driver GCs the stage
      // objects (ContextCleaner); with a 24g heap and a multi-query
      // session, full GCs are rare enough that a decade-tier basket
      // accumulated 37 GB of dead shuffle files and ENOSPC'd q42 at
      // sf100 (r11). The default periodicGC is 30min — longer than the
      // whole basket; 2min bounds dead-shuffle residency at tier scale.
      .config("spark.cleaner.periodicGC.interval", "2min")
      // Tier-adaptive shuffle codec. zstd blocks are ~35% smaller than
      // lz4 for the dedup queries' hash-key streams — at the decade
      // tier q42's verification spill is disk-bound, so the smaller
      // blocks are the difference between finishing and ENOSPC. But at
      // the committed small tiers nothing spills and zstd's extra CPU
      // is a pure tax on every shuffle block (r11 A/B at sf0.1: +4-10%
      // on the shuffle-heavy rows). The codec is context-level (not
      // settable per-query via SQLConf), so pick by tier size: disk
      // pressure only exists when the tier is within ~2 decades of
      // free disk.
      .config("spark.io.compression.codec",
        if (bytes >= (4L << 30)) "zstd" else "lz4")))
  }

  private def quiet(s: SparkSession): SparkSession = {
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
