package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Shared sink/checkpoint placement for the drain-to-files stream
  * helper ([[ClassifierStream.drained]]).
  *
  * On a real cluster the EXECUTORS write the parquet sink and the driver
  * plans the read-back, so the base path must be shared storage — a
  * literal driver-relative `target/streams` only works in local mode.
  * The base therefore resolves from configuration:
  * `spark.graft.stream.sinkDir` when set, else
  * `<spark.sql.warehouse.dir>/graft-streams` (the warehouse is the
  * session's shared-storage root by definition). */
private[graft] object StreamSinks {

  /** Resolve, RESET, and return the qualified per-query sink base.
    *
    * A leftover directory for the same queryName is a stale run: its
    * checkpoint would mark the new source already processed, the run
    * would write nothing, and the read-back would silently serve the
    * PREVIOUS run's files. Deleting up front makes reuse of a queryName
    * safe; callers that want isolation still pass unique names. The
    * fresh dir is registered with the engine's exit sweep so local runs
    * do not accumulate sink dirs across JVM lifetimes. */
  def freshBase(spark: SparkSession, queryName: String): String = {
    require(queryName.nonEmpty && !queryName.contains("/") &&
      !queryName.contains(".."),
      s"stream query name must be a plain identifier: $queryName")
    val root = spark.conf.getOption("spark.graft.stream.sinkDir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/graft-streams")
    val p = new Path(root, queryName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val q = fs.makeQualified(p)
    // exit-sweep reclaim is a local-disk courtesy; remote schemes are
    // the caller's storage lifecycle
    if (q.toUri.getScheme == null || q.toUri.getScheme == "file")
      graft.Engine.trackTmpArtifact(q.toUri.getPath)
    q.toString
  }

  /** State-store provider for the keyed-per-entity streams (q109 dedup:
    * one state row per event_id inside the watermark; LSH buckets: one
    * per (band, hash)). The default HDFS-backed provider keeps every
    * key ON-HEAP in the executor JVM —
    * measured at sf10 (≈60 M live event_ids inside the 2 h watermark)
    * q109 OOMs the default 8 GB local heap and needs 24 GB. RocksDB
    * (`spark.sql.streaming.stateStore.providerClass`, public Spark
    * ≥3.2) keeps state off-heap with a bounded block cache and spills
    * to local disk, so the same stream fits any heap — and it is what
    * production stateful jobs run on a cluster. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  // write-path tuning for write-dominated keyed state (dedup):
  //  - trackTotalNumberOfRows=false: every put on a tracked store pays
  //    a get to maintain the row-count metric (numRowsTotal reads -1 in
  //    progress metrics — a metrics trade, not a semantics one;
  //    measured −34% on the q109 sf10 drain);
  //  - changelogCheckpointing: commit uploads the batch's changelog
  //    instead of a full RocksDB snapshot — per-batch commit cost
  //    O(batch), not O(state) (snapshots still happen, async, every
  //    minDeltasForSnapshot batches);
  //  - 64 MB write buffers: fewer memtable flushes + fewer L0 files to
  //    compact under a pure-insert load than the 16 MB default.
  private val RocksTuning = Seq(
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
      -> "false",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      -> "true",
    "spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB" -> "64",
    "spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber" -> "4")

  /** Run `f` (which must START its streaming query inside — the conf is
    * read at query initialization) under the RocksDB state store,
    * restoring the previous provider after. Scoped per-query on purpose:
    * window-agg streams (q67 hourly, monitors) carry output-sized state
    * where the on-heap default is both fine and faster. */
  def withRocksDbState[A](spark: SparkSession)(f: => A): A = {
    val keys = ProviderKey +: RocksTuning.map(_._1)
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(ProviderKey, RocksDbProvider)
    RocksTuning.foreach { case (k, v) => spark.conf.set(k, v) }
    def restore(key: String, v: Option[String]): Unit = v match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
    try f finally prev.foreach { case (k, v) => restore(k, v) }
  }
}
