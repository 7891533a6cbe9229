package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

/** Physical layout maintenance on managed tables: compaction
  * (lakehouse OPTIMIZE), `OPTIMIZE … ZORDER BY` Morton re-clustering,
  * and the reachability-checked reclaim of superseded compaction
  * artifacts. Split from Engine.scala along its section seam; state
  * and semantics unchanged. */
private[graft] trait EngineLayout { self: Engine =>

  /** Compaction: PHYSICALLY rewrite a managed table into `numFiles`
    * balanced parquet files and re-root the live snapshot at the
    * rewritten data — the 100 TB maintenance verb (lakehouse OPTIMIZE).
    * Beyond file sizing, this is the copy-on-write chain's safety
    * valve: every DML verb layers one union/filter/projection/join over
    * the previous snapshot (reading it once; column-wise MERGE once per
    * branch), so a long-lived table's
    * analysis cost grows one layer per commit; compaction collapses the
    * live plan to a plain scan. Retained history still addresses the
    * pre-compaction plans (the artifact path carries the version so a
    * later compaction can never clobber data an older retained
    * snapshot reads). Like any row-rewriting verb it breaks the append
    * lineage chain — an MV incremental refresh falls back to one
    * rebuild, then resumes incrementally. */
  def compact(name: String, numFiles: Int = 0): Unit =
    compactImpl(name, numFiles, None)

  /** `OPTIMIZE t ZORDER BY (c1[, …, ck])`: compaction that additionally
    * REORDERS the rewritten rows — k ≥ 2 columns along the Morton
    * interleave of their ranks ([[graft.functions.Morton.zValueN]]),
    * so every rewritten file/row group covers a small box of the
    * k-dimensional space and later multi-column predicates prune on
    * parquet min/max stats; one column as a plain range-sort (the
    * degenerate but common Delta spelling — single-dimension
    * clustering, the [[graft.operators.BucketedOps.eventsByTime]]
    * shape). Per-dimension rank width narrows with arity
    * ([[graft.functions.Morton.bitsFor]]: 16 bits through k=3, 7 at
    * k=8) — coarser CLUSTERING, never wrong pruning, because skipping
    * reads the raw column stats; the 8-column cap is where the grid
    * stops earning its sort. The engine-surface spelling of the
    * [[graft.operators.BucketedOps.eventsZOrder]] layout, with the
    * same snapshot semantics as plain [[compact]] (history retained,
    * plan chain reset, append lineage broken). The z key is
    * scratch — computed, sorted on, dropped — so the table schema is
    * unchanged. */
  def compactZOrder(name: String, cols: Seq[String],
      numFiles: Int = 0): Unit = {
    if (cols.isEmpty || cols.length > 8)
      throw new IllegalArgumentException(
        "Constraint Error: ZORDER BY takes 1 to 8 columns " +
          s"(got ${cols.length}) — beyond 8 the per-dimension rank " +
          "grid (<7 bits) no longer clusters anything")
    compactImpl(name, numFiles, Some(cols))
  }

  private def zRank(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}
    // resolve case-insensitively, like every other identifier on this
    // engine's surface (Spark's own default resolution)
    val f = df.schema.find(_.name.equalsIgnoreCase(c)).getOrElse(
      throw new IllegalArgumentException(
        s"""Binder Error: ZORDER BY column "$c" does not exist"""))
    f.dataType match {
      case TimestampType => expr(s"unix_micros(`${f.name}`)")
      case DateType =>
        expr(s"datediff(`${f.name}`, DATE '1970-01-01')").cast("long")
      case _: NumericType => col(f.name).cast("long")
      case other => throw new IllegalArgumentException(
        s"Constraint Error: ZORDER BY supports numeric, date, and " +
          s"timestamp columns; $c is $other")
    }
  }

  private def compactImpl(name: String, numFiles: Int,
      zOrderBy: Option[Seq[String]]): Unit = withTableLock(name) {
    val e = registry.getOrElse(name, missing(name))
    val target =
      if (numFiles > 0) numFiles else spark.sparkContext.defaultParallelism
    val path = s"${sys.props("java.io.tmpdir")}/graft_compact_" +
      s"${ProcessHandle.current.pid}_${name}_v${currentVersion(name)}"
    zOrderBy match {
      case None =>
        e.df.repartition(target).write.mode("overwrite").parquet(path)
      case Some(cs) =>
        val z = cs match {
          case Seq(c1) => zRank(e.df, c1)
          case _ =>
            // one 1-row stats fetch fixes the k rank grids (the
            // sanctioned once-per-snapshot driver aggregate, like the
            // layout writes); at k=2 zValueN/rank reproduce the
            // zValue/rank16 curve bit for bit (ZOrderSpec law)
            import graft.functions.Morton
            val xs = cs.map(zRank(e.df, _))
            val aggs = xs.flatMap(x => Seq(min(x), max(x)))
            val r = e.df.agg(aggs.head, aggs.tail: _*).head
            def l(i: Int) = Option(r.get(i))
              .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
            val bits = Morton.bitsFor(xs.length)
            Morton.zValueN(
              xs.zipWithIndex.map { case (x, j) =>
                Morton.rank(x, l(2 * j), l(2 * j + 1), bits) },
              bits)
        }
        // TIMESTAMP_MICROS: INT96 carries no min/max stats, and stats
        // are the entire point of a Z-ordered rewrite
        val key = "spark.sql.parquet.outputTimestampType"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try e.df.withColumn("__z", z)
          .repartitionByRange(target, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode("overwrite")
          .option("parquet.block.size", (4L << 20).toString)
          .parquet(path)
        finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    // in-session artifacts: one STATIC exit hook over a growing path set
    // (not one hook per compaction), plus eager reclaim below so a
    // long-lived session doesn't hold one fact-table copy per compaction
    Engine.trackTmpArtifact(path)
    put(name, spark.read.parquet(path), e.rowsIfKnown)
    compactPaths.put(name,
      compactPaths.getOrElse(name, Vector.empty) :+ path)
    reclaimCompactArtifacts(name)
  }

  // per-table compaction artifact paths, newest last
  private val compactPaths = TrieMap.empty[String, Vector[String]]

  /** Every parquet root path any REACHABLE plan in this engine still
    * reads: registry entries, retained time-travel versions, MV stamps,
    * and the append-lineage chains hanging off all of those (their
    * parents and delta plans — an MV refresh replays deltas, and a
    * delta built by `INSERT … SELECT` over a managed table can scan a
    * compaction artifact). The reclaim pass deletes an old artifact
    * only when it appears in none of these. */
  private def referencedRootPaths(): Set[String] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val seen = new java.util.IdentityHashMap[TableEntry, Unit]()
    val dfs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def addEntry(en: TableEntry): Unit =
      if (!seen.containsKey(en)) {
        seen.put(en, ())
        dfs += en.df
        en.appendOf.foreach { case (parent, delta) =>
          dfs += delta; addEntry(parent)
        }
      }
    registry.values.foreach(addEntry)
    versions.values.foreach(_.foreach(addEntry))
    matViews.values.foreach { case (_, stamp) => addEntry(stamp) }
    dfs.iterator.flatMap { df =>
      castToImpl(df).queryExecution.analyzed.collectWithSubqueries {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString).toSeq
          case _ => Nil
        }
      }.flatten
    }.toSet
  }

  /** Delete compaction artifacts no retained snapshot (or MV lineage)
    * reads anymore. `keepLast=false` (table dropped → history gone)
    * makes even the newest artifact a candidate; reachability is still
    * plan-checked, so an artifact another table's plan somehow reads
    * survives. */
  private[graft] def reclaimCompactArtifacts(name: String,
      keepLast: Boolean = true): Unit = {
    val paths = compactPaths.getOrElse(name, Vector.empty)
    val candidates = if (keepLast) paths.dropRight(1) else paths
    if (candidates.isEmpty) return
    // exact normalized comparison: `_v1` is a substring of `_v13`, so
    // anything looser than path equality would pin old artifacts forever
    def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val live = referencedRootPaths().map(norm)
    val (kept, dead) = candidates.partition(p => live.contains(norm(p)))
    dead.foreach(Engine.untrackAndDeleteTmpArtifact)
    val rest = if (keepLast) kept ++ paths.takeRight(1) else kept
    if (rest.isEmpty) compactPaths.remove(name)
    else compactPaths.put(name, rest)
  }
}
