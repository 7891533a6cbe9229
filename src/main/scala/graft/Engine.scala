package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.{AliasIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.ResolvedInlineTable
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan,
  Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A registered materialized aggregate: partials of `measures` grouped
  * by `dims` over managed table `base`, persisted at `path` with the
  * artifact `schema` recorded at create (see
  * [[Engine.createMaterializedAggregate]] /
  * [[graft.plans.MatViewRewrite]]). */
case class MatViewDef(name: String, base: String, dims: Seq[String],
    measures: Seq[String], path: String,
    schema: org.apache.spark.sql.types.StructType)

/** Registry entry. The row count is lazy: DDL verbs (register/alter/
  * insert) must not scan the table — at 100 TB an ALTER TABLE ADD COLUMN
  * must stay metadata-only. Writes pass an exact count forward whenever
  * they know one (literal inserts, MERGE and DELETE counters, UPDATE);
  * an entry none could count materializes on first classifier or
  * introspection use, on the caller's thread ([[Engine.sql]] counts
  * the entries a query reads when it parks it). */
private[graft] final class TableEntry(val df: DataFrame, known: Long = -1L,
    val appendOf: Option[(TableEntry, DataFrame)] = None,
    val sourcePath: Option[String] = None) {
  @volatile private var cached = known
  /** The count if it has materialized; -1 otherwise (lets verbs that
    * rewrite the table carry a known count forward without forcing
    * one that was never needed). */
  def rowsIfKnown: Long = cached
  lazy val rows: Long = {
    // path-registered parquet tables (sourcePath set) count from
    // FOOTERS — metadata-only, the reference's parquet_metadata idiom;
    // everything else scans
    if (cached < 0L) cached = sourcePath match {
      case Some(p) =>
        // None = the lister found no parquet files (a layout it does
        // not understand) — fall back to a scan count rather than
        // fabricating 0 rows for a table Spark can read
        graft.operators.FooterStats.rowCount(df.sparkSession, p)
          .getOrElse(df.count())
      case None => df.count()
    }
    cached
  }
}

/** The engine facade — the Spark-native analog of the reference's
  * client + driver + worker topology collapsed into one in-process API.
  *
  * The reference is a DuckDB extension that forwards SQL for registered
  * "remote" tables over Arrow Flight to a driver that partitions work
  * across workers (ref: /root/reference/src/server/driver/
  * distributed_flight_server.cpp:131-718). Spark's driver/executor split
  * *is* that topology, so `Engine` keeps only the observable surface:
  *
  *  - a table registry (≈ `duckherder_register_remote_table`,
  *    duckherder_pragmas.cpp:16-60), which SQL reads as `t` or `dh.t`
  *    through [[GraftExtensions.EngineRelations]] — one catalog, no
  *    session temp views
  *  - `sql()` with per-query execution stats (≈
  *    `duckherder_get_query_execution_stats()`,
  *    query_execution_stats_query_function.cpp:22-60)
  *  - query history (≈ `duckherder_get_query_history()`,
  *    query_history_query_function.cpp:20-35)
  *  - DDL/DML verbs: create/drop/alter table, insert, delete, and a
  *    metadata index registry (≈ duckherder_schema_catalog_entry.cpp)
  *  - ENUM types with declaration-order comparison semantics
  *    (≈ enum_type_support.test:62-81)
  *
  * Managed tables are copy-on-write DataFrames: DELETE rewrites via an
  * inverted predicate rather than row collection — the reference's
  * collect-then-`DELETE WHERE col IN (...)` (distributed_delete.cpp:27-126)
  * would materialize matched rows on the driver, which is exactly the
  * anti-pattern to avoid at 100 TB. INSERT, UPDATE, UPDATE … FROM,
  * DELETE, DELETE … USING and whole-row MERGE store a plan that reads
  * the prior version exactly once (UPDATE is one projection, the join
  * forms one join), so their base scans do not multiply with the
  * write history; column-wise MERGE and the upserts on it read it once
  * per branch (see [[mergeIntoColumns]]). A plan still deepens by one
  * layer per write until [[compact]] re-roots it.
  */
class Engine private[graft] (val spark: SparkSession)
    extends EngineVersioning with EngineSqlStats with EngineLayout
    with EngineDdl with EngineDml with EngineIndexes with EngineViews
    with EngineExport {
  private[graft] val registry = TrieMap.empty[String, TableEntry]
  // ENUM type catalog — per-engine, like one DuckDB database instance's
  // type catalog (a second Engine on the same JVM gets a fresh catalog;
  // the extension's rules resolve through GraftExtensions.engineFor)
  private[graft] val enums = TrieMap.empty[String, Seq[String]]
  private[graft] val indexRegistry = TrieMap.empty[String, (String, Seq[String])]
  // column-level constraint metadata (ref ALTER matrix,
  // catalog_utils.cpp:59-78): (table, column) → default SQL expression /
  // NOT NULL flag. Enforced lazily inside insert plans — never an eager
  // table scan.
  private[graft] val defaults = TrieMap.empty[(String, String), String]
  private[graft] val notNullCols = TrieMap.empty[(String, String), Unit]
  // columns declared with a registered ENUM type (CREATE TABLE t (c mood))
  // — per-engine; the EnumOrderRewrite rule resolves attributes to these
  // through the table they bind to in the analyzed plan
  private[graft] val enumCols = TrieMap.empty[(String, String), String]

  /** (table, column) → original DuckDB type, for types Spark has no
    * native equivalent of and that are carried degraded (SURVEY §1.2):
    * TIME / TIMESTAMP_NS (canonical text), HUGEINT / UHUGEINT (canonical
    * decimal text + order-key rewrite), INTERVAL (comparable struct). */
  private[graft] val typeOrigins = TrieMap.empty[(String, String), String]

  /** ≈ PRAGMA duckherder_register_remote_table(local, remote): register a
    * file-backed table. Row count (parquet footer metadata only — no
    * scan) feeds the execution-mode classifier. Formats mirror the
    * reference's source surface (SURVEY §2.3: parquet primary, CSV/JSON
    * via `duckherder_load_extension`). */
  def registerTable(name: String, path: String, format: String = "parquet"): Unit = {
    val df = format match {
      case "parquet" => spark.read.parquet(path)
      case "csv" => spark.read.option("header", "true")
        .option("inferSchema", "true").csv(path)
      case "json" => spark.read.json(path)
      case other => throw new IllegalArgumentException(
        s"unsupported format: $other")
    }
    // parquet: the (lazy) row count comes from footers, and bare
    // COUNT(*)/MIN/MAX through Engine.sql fold to footer statistics
    // (FooterAggRewrite) — metadata instead of a corpus scan. DML
    // re-registers the table without the source path, so mutated
    // lineages always recompute from the real lineage.
    put(name, df,
      sourcePath = if (format == "parquet") Some(path) else None)
  }

  /** Sink: write a managed table out (the reference's only sink is its
    * INSERT path; Spark's DataFrameWriter adds the file formats).
    * `partitionBy` lays the files out hive-style — the 100 TB idiom:
    * later scans that filter on a partition column prune whole
    * directories instead of reading footers. */
  def writeTable(name: String, path: String,
      format: String = "parquet", partitionBy: Seq[String] = Seq.empty): Unit = {
    val df = table(name)
    val w0 = df.write.mode("overwrite")
    val w = if (partitionBy.isEmpty) w0 else w0.partitionBy(partitionBy: _*)
    format match {
      case "parquet" => w.parquet(path)
      case "csv" => w.option("header", "true").csv(path)
      case "json" => w.json(path)
      case other => throw new IllegalArgumentException(
        s"unsupported format: $other")
    }
  }

  def registerTable(name: String, df: DataFrame): Unit = put(name, df)

  def unregisterTable(name: String): Unit = {
    registry.remove(name)
    versions.remove(name)
    versionSeq.remove(name)
  }

  // serializes registry+versions mutation: snapshot-then-replace is a
  // read-modify-write across two maps, so two concurrent DML statements
  // on the same table could otherwise lose a snapshot or record history
  // out of order (tableAt(n) skipping a state). Plans are lazy objects —
  // the critical section is metadata-only, never data movement.
  private val putLock = new Object

  /** `appendDelta`, when set, declares the new state as
    * `previous ∪ delta` — the lineage link incremental MV refresh walks
    * ([[refreshMaterializedAggregate]]). Verbs that rewrite rows
    * (DELETE/MERGE/ALTER) leave it unset, which breaks the chain and
    * forces those refreshes back to a full rebuild. */
  private[graft] def put(name: String, df: DataFrame, knownRows: Long = -1L,
      appendDelta: Option[DataFrame] = None,
      sourcePath: Option[String] = None): Unit =
    putLock.synchronized {
      // snapshot the outgoing version (lazy plans — a version is a plan
      // object over the copy-on-write lineage, no data is retained);
      // bounded history, oldest dropped first
      val prevEntry = registry.get(name)
      prevEntry.foreach { prev =>
        val vs = versions.getOrElse(name, Vector.empty) :+ prev
        versions.put(name, vs.takeRight(Engine.MaxVersions))
      }
      registry.put(name, new TableEntry(df, knownRows,
        appendOf = appendDelta.flatMap(d => prevEntry.map((_, d))),
        sourcePath = sourcePath))
      versionSeq.put(name, versionSeq.getOrElse(name, -1L) + 1L)
    }

  /** The deltas appended to a table since its version `stamp`, oldest
    * first, found by walking the [[put]] append-lineage chain back from
    * `current`: Some(Nil) when nothing was written since, None when a
    * row-rewriting write broke the chain. Incremental refreshes (MV,
    * text index) read only these deltas. */
  private[graft] def appendedSince(stamp: TableEntry,
      current: TableEntry): Option[List[DataFrame]] = {
    @annotation.tailrec
    def walk(e: TableEntry, acc: List[DataFrame]): Option[List[DataFrame]] =
      if (e eq stamp) Some(acc)
      else e.appendOf match {
        case Some((parent, delta)) => walk(parent, delta :: acc)
        case None => None
      }
    walk(current, Nil)
  }

  /** Rows of `df` when its plan states them without a scan: literal rows
    * (VALUES, local rows), or a row-preserving projection of an
    * engine table version whose count is known or in its parquet
    * footers. -1 otherwise. */
  private[graft] def rowsWithoutJob(df: DataFrame): Long = {
    @annotation.tailrec
    def of(p: LogicalPlan): Long = p match {
      case l: LocalRelation => l.data.size.toLong
      case t: ResolvedInlineTable => t.rows.size.toLong
      case a: SubqueryAlias => a.getTagValue(Engine.TableTag) match {
        case Some(e) if e.rowsIfKnown >= 0L => e.rowsIfKnown
        case Some(e) => e.sourcePath
          .flatMap(graft.operators.FooterStats.rowCount(spark, _))
          .getOrElse(-1L)
        case None => of(a.child)
      }
      case Project(_, child) => of(child)
      case _ => -1L
    }
    of(castToImpl(df).queryExecution.analyzed)
  }

  /** The optimized plan of `df` when it is literal rows — VALUES, an
    * INSERT … VALUES batch, local rows, or a projection or filter of
    * them, which the optimizer folds — so reading it starts no job. DML
    * and the incremental refreshes share this one test for "literal". */
  private[graft] def literalPlan(df: DataFrame): Option[LocalRelation] =
    castToImpl(df).queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l)
      case _ => None
    }

  /** `dfs` (same schema, e.g. the deltas of an append chain) as ONE frame
    * over one literal plan when every one of them is literal rows: their
    * union would not fold and reading it would start a job. */
  private[graft] def literalRows(dfs: Seq[DataFrame]): Option[DataFrame] = {
    val plans = dfs.flatMap(literalPlan)
    val types = plans.headOption.map(_.output.map(_.dataType))
    if (dfs.isEmpty || plans.size < dfs.size ||
        plans.exists(p => !types.contains(p.output.map(_.dataType))))
      None
    else Some(GraftSqlBridge.ofRows(spark, LocalRelation(
      // a column is nullable when it is in any part: one delta's rows
      // may hold a NULL where another's never do
      plans.head.output.zipWithIndex.map { case (a, i) =>
        a.newInstance().withNullability(plans.exists(_.output(i).nullable))
      }, plans.flatMap(_.data))))
  }

  /** Key types whose collected values the driver compares exactly as
    * Spark's equi-join does (`==` on the values): integral, decimal,
    * boolean, date, timestamp and UTF8_BINARY text. Floating keys (NaN,
    * -0.0), binary, nested and collated keys keep the plan-side path. */
  private[graft] def driverComparable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType | StringType |
         _: DecimalType => true
    case _ => false
  }

  /** Append `rows` (Catalyst rows of `rowSchema`) to the parquet directory
    * `dir` as ONE file, written on the driver through Spark's own
    * parquet writer (`ParquetFileFormat.prepareWrite`, the session's
    * codec and conf, `blockSize`-byte row groups): no Spark job, where a
    * `write.mode("append")` of a few rows costs a job and ~0.1 s of SQL
    * command overhead. The file is written under a hidden name that
    * readers skip and committed by one rename to `part-…`, so a reader
    * or a crash sees the whole file or none of it. Every column is
    * stored nullable, as Spark's own file writes store them. */
  private[graft] def appendParquetFile(dir: String, rowSchema: StructType,
      rows: Iterator[InternalRow], blockSize: Long = 128L << 20): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val schema = StructType(rowSchema.fields.map(_.copy(nullable = true)))
    val conf = spark.sessionState.newHadoopConf()
    conf.setLong("parquet.block.size", blockSize)
    val job = Job.getInstance(conf)
    val factory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val uuid = java.util.UUID.randomUUID()
    val tmp = new Path(dir, s".graft-tmp-$uuid")
    val fs = tmp.getFileSystem(job.getConfiguration)
    val w = factory.newInstance(tmp.toString, schema, ctx)
    try { rows.foreach(w.write); w.close() }
    catch { case e: Throwable =>
      try w.close() catch { case _: Throwable => () }
      fs.delete(tmp, false)
      throw e
    }
    val part = new Path(dir,
      s"part-00000-$uuid-c000${factory.getFileExtension(ctx)}")
    if (!fs.rename(tmp, part)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not commit $part")
    }
  }

  def table(name: String): DataFrame =
    registry.getOrElse(name, missing(name)).df

  /** Footer statistics (row count + exact integer min/max for `cols`)
    * of `e`, a path-registered parquet table read as its bare scan. None
    * for a table with no source path, or when any requested column lacks
    * exact chunk statistics. Backs [[graft.plans.FooterAggRewrite]]. */
  private[graft] def metadataAgg(e: TableEntry,
      cols: Seq[String]): Option[(Long, Map[String, (Long, Long)])] =
    e.sourcePath.flatMap { path =>
      val r = graft.operators.FooterStats.tableStats(spark, path, cols)
      r.foreach { case (rows, _) =>
        if (e.rowsIfKnown < 0L) () // rows caches lazily via its own path
        else require(e.rowsIfKnown == rows,
          s"footer count $rows diverged from known ${e.rowsIfKnown}")
      }
      r
    }

  /** The one name rule: `t` or `dh.t` (the reference's attached-database
    * alias, `ATTACH 'dh' (TYPE duckherder)`) names registry key `t`,
    * matched with the session resolver, so case-insensitively by
    * default, as Spark matches its own names. A name with any other
    * qualifier is Spark's (None); an unregistered `t` keeps its
    * spelling. Relation resolution, write ownership, `table_changes`
    * and time travel all name tables through it. */
  private[graft] def keyOf(parts: Seq[String]): Option[String] = {
    val same = spark.sessionState.conf.resolver
    val name = parts match {
      case Seq(n) => Some(n)
      case Seq(db, n) if same(db, Engine.Database) => Some(n)
      case _ => None
    }
    name.map(n => if (registry.contains(n)) n
      else registry.keys.find(same(_, n)).getOrElse(n))
  }

  /** `entry`, a version of table `key` written as `parts`, as a query
    * relation: its analyzed plan under an alias tagged with the entry
    * ([[Engine.TableTag]]), which the plan rewrites and the classifier
    * read instead of matching names or plans. */
  private[graft] def relation(parts: Seq[String], key: String,
      entry: TableEntry): LogicalPlan = {
    val alias = SubqueryAlias(AliasIdentifier(key, parts.init),
      castToImpl(entry.df).queryExecution.analyzed)
    alias.setTagValue(Engine.TableTag, entry)
    alias
  }

  def tableNames: Seq[String] = registry.keys.toSeq.sorted

  /** ≈ the Flight server's TableExists action. */
  def tableExists(name: String): Boolean = registry.contains(name)

  /** ≈ duckdb_tables() introspection (extension.test:50-59). */
  def tables: DataFrame = {
    import spark.implicits._
    registry.toSeq.sortBy(_._1)
      .map { case (n, e) => (n, e.rows, e.df.columns.length) }
      .toDF("table_name", "row_count", "column_count")
  }

  /** ≈ DuckDB's parquet_metadata(): per-column storage statistics of a
    * path-registered parquet table, straight from the FOOTERS — value
    * and null counts, and exact integer min/max where parquet
    * guarantees exactness (INT32/INT64 chunks with stats); everything
    * else surfaces as NULL, never a guess. Raises on derived/managed
    * tables — their lineage has no single storage footprint. */
  def tableStats(name: String): DataFrame = {
    import spark.implicits._
    val e = registry.getOrElse(name, missing(name))
    val path = e.sourcePath.getOrElse(throw new IllegalArgumentException(
      s"Catalog Error: $name is not a path-registered parquet table"))
    graft.operators.FooterStats.columnReport(spark, path)
      .toDF("column_name", "value_count", "null_count", "min_i64", "max_i64")
  }

  private[graft] def missing(name: String): Nothing =
    throw new IllegalArgumentException(
      s"Catalog Error: Table with name $name does not exist!")


  /** Train-once/probe-many memo for serving-index helpers
    * (TextRetrieval): index name → corpus dir its artifacts were built
    * over IN THIS ENGINE. Lives on the engine because the artifacts
    * live in this engine's registry — a fresh Engine starts empty and
    * must rebuild. */
  private[graft] val servedIndexDir = TrieMap.empty[String, String]

  // Per-table WRITER lock: every DML verb is a read-modify-write of the
  // table's plan (read current df → build new df → put); without
  // serialization two concurrent writers on one table both read state S
  // and the later put() silently discards the earlier rows (lost
  // update). Locking is per table — writers to different tables never
  // contend — and the guarded region includes the verb's bounded
  // validation probes: single-table writer serialization, the semantics
  // Delta/Iceberg provide via optimistic commit-retry. Readers are
  // never blocked (they hold a plan reference).
  private val tableLocks = TrieMap.empty[String, Object]
  private[graft] def withTableLock[A](name: String)(f: => A): A =
    tableLocks.getOrElseUpdate(name, new Object).synchronized(f)
}

object Engine {
  /** Retained prior versions per table for time travel ([[Engine.tableAt]]);
    * versions are lazy plan objects over their predecessors, so the cap
    * bounds how many plans are retained, not data. */
  val MaxVersions = 10

  /** The database alias engine tables may be qualified with (`dh.t`). */
  private[graft] val Database = "dh"

  /** Marks the alias an engine table resolves under in a query
    * ([[Engine.relation]]): the registry entry (version) it reads. */
  private[graft] val TableTag = TreeNodeTag[TableEntry]("graft.table")

  // ---- tmpdir artifact lifecycle ------------------------------------
  // ONE JVM-wide shutdown hook over a growing set of paths (compaction
  // copies, etc.); engines also reclaim eagerly once nothing reads a
  // path, removing it from the set so the exit sweep stays small.
  private val tmpArtifacts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rmTree)
    f.delete(); ()
  }
  private lazy val exitSweepInstalled: Boolean = {
    sys.addShutdownHook {
      tmpArtifacts.forEach { p =>
        try rmTree(new java.io.File(p)) catch { case _: Throwable => () }
      }
    }
    true
  }
  private[graft] def trackTmpArtifact(path: String): Unit = {
    exitSweepInstalled
    tmpArtifacts.add(path); ()
  }
  private[graft] def untrackAndDeleteTmpArtifact(path: String): Unit = {
    tmpArtifacts.remove(path)
    try rmTree(new java.io.File(path)) catch { case _: Throwable => () }
  }

  /** The session's serving engine, the latest [[apply]] on it (one
    * server per session, like the reference): the extension acts for it
    * outside an engine's own `sql`/`explain` call. */
  private val bySession = TrieMap.empty[SparkSession, Engine]
  private[graft] def forSession(s: SparkSession): Option[Engine] =
    bySession.get(s)

  /** The struct carrying a DuckDB INTERVAL: `icmp` (the 30-day-month
    * normalized total µs DuckDB compares by) leads so Spark's native
    * struct ordering IS DuckDB's interval ordering. */
  private[graft] val IntervalStructDdl =
    "STRUCT<icmp: BIGINT, months: INT, days: INT, micros: BIGINT>"

  /** DuckDB type spellings Spark's DDL parser rejects, mapped per SURVEY
    * §1.2: unsigned ints widen; parameterless VARCHAR/TEXT are unbounded
    * strings; `T[]` is ARRAY<T>; TIME / TIMESTAMP_NS / HUGEINT / UHUGEINT
    * carry as canonical text (beyond Spark's numeric/temporal range);
    * INTERVAL carries as a comparable struct. */
  private[graft] def normalizeType(ddl: String): String = {
    var s = ddl
    s = s.replaceAll("(?i)\\bVARCHAR\\b(?!\\s*\\()", "STRING")
    s = s.replaceAll("(?i)\\bTEXT\\b(?!\\s*\\()", "STRING")
    s = s.replaceAll("(?i)\\bUTINYINT\\b", "SMALLINT")
    s = s.replaceAll("(?i)\\bUSMALLINT\\b", "INT")
    s = s.replaceAll("(?i)\\bUINTEGER\\b", "BIGINT")
    s = s.replaceAll("(?i)\\bUBIGINT\\b", "DECIMAL(20,0)")
    s = s.replaceAll("(?i)\\bU?HUGEINT\\b", "STRING")
    s = s.replaceAll("(?i)\\bTIMESTAMP_NS\\b", "STRING")
    s = s.replaceAll("(?i)\\bTIMESTAMP_M?S\\b", "TIMESTAMP")
    s = s.replaceAll("(?i)\\bTIME\\b", "STRING")
    s = s.replaceAll("(?i)\\bUUID\\b", "STRING")
    s = s.replaceAll("(?i)\\b(?:BLOB|BYTEA)\\b", "BINARY")
    s = s.replaceAll("(?i)\\bINTERVAL\\b", IntervalStructDdl)
    s = s.replaceAll("(\\w+(?:\\([\\d\\s,]*\\))?)\\s*\\[\\]", "ARRAY<$1>")
    s
  }

  /** Original DuckDB type when `normalizeType` degrades it (drives the
    * order-rewrite and insert canonicalization). */
  private[graft] def detectOrigin(typeDdl: String): Option[String] =
    "(?i)\\b(TIMESTAMP_NS|UHUGEINT|HUGEINT|INTERVAL|TIME)\\b".r
      .findFirstMatchIn(typeDdl).map(_.group(1).toUpperCase)

  /** Normalize a CREATE TABLE column list by `name type` pairs — ONLY the
    * type token position is rewritten, so a column merely named like a
    * type keyword (`docs(text VARCHAR)`) keeps its name. Returns the
    * normalized list plus (column → origin) for degraded carries. */
  private[graft] def normalizeColumns(colList: String)
      : (String, Seq[(String, String)]) = {
    // split on top-level commas (nested (), <> stay intact)
    val parts = Vector.newBuilder[String]
    var depth = 0; var start = 0
    colList.zipWithIndex.foreach { case (ch, i) =>
      ch match {
        case '(' | '<' => depth += 1
        case ')' | '>' => depth -= 1
        case ',' if depth == 0 =>
          parts += colList.substring(start, i); start = i + 1
        case _ =>
      }
    }
    parts += colList.substring(start)
    val origins = Seq.newBuilder[(String, String)]
    val norm = parts.result().map(_.trim).filter(_.nonEmpty).map { p =>
      val sp = p.indexWhere(_.isWhitespace)
      if (sp < 0) p
      else {
        val colName = p.substring(0, sp)
        val typ = p.substring(sp + 1).trim
        detectOrigin(typ).foreach(o => origins += colName -> o)
        colName + " " + normalizeType(typ)
      }
    }
    (norm.mkString(", "), origins.result())
  }

  /** Trim trailing fraction zeros (then a dangling dot) — DuckDB's
    * canonical text rendering for TIME / timestamp values. */
  private[graft] def canonTemporalText(c: Column): Column =
    regexp_replace(regexp_replace(c, "(\\.\\d*?)0+$", "$1"), "\\.$", "")

  /** Strip leading zeros from an integer string (keeping sign and one
    * digit) — canonical HUGEINT/UHUGEINT text. */
  private[graft] def canonIntegerText(c: Column): Column =
    regexp_replace(c, "^(-?)0+(?=\\d)", "$1")

  /** ANSI interval column → the comparable interval struct. The input
    * widens to the full YEAR TO MONTH / DAY TO SECOND range first, so a
    * single-field interval (`INTERVAL '3' DAY`) has every field to
    * extract. */
  private[graft] def intervalToStruct(c0: Column, yearMonth: Boolean): Column = {
    val c = c0.cast(if (yearMonth) YearMonthIntervalType() else DayTimeIntervalType())
    val m = if (yearMonth)
      (date_part(lit("YEAR"), c) * 12 + date_part(lit("MONTH"), c)).cast("int")
    else lit(0)
    val d = if (yearMonth) lit(0) else date_part(lit("DAY"), c).cast("int")
    val us = if (yearMonth) lit(0L)
    else (date_part(lit("HOUR"), c).cast("long") * 3600000000L
      + date_part(lit("MINUTE"), c).cast("long") * 60000000L
      + (date_part(lit("SECOND"), c).cast("double") * 1e6).cast("long"))
    when(c.isNull, lit(null).cast(IntervalStructDdl)).otherwise(struct(
      (m.cast("long") * 2592000000000L + d.cast("long") * 86400000000L
        + us).as("icmp"),
      m.as("months"), d.as("days"), us.as("micros")))
  }

  /** ≈ duckherder_start_local_server(port, n_workers): `local[n]` session.
    * On a real cluster the same engine runs with any master URL — nothing
    * here is local-mode-specific. */
  def start(master: String = "local[4]", appName: String = "graft",
      shufflePartitions: Int = 32): Engine =
    apply(GraftSession.open(
      GraftSession.builder(master, shufflePartitions).appName(appName)))

  def apply(spark: SparkSession): Engine = serving(requireExtensions(spark))

  /** An engine that does NOT become the session's serving engine
    * ([[forSession]] keeps resolving to the previous one): for
    * query-local catalogs (the DmlOps queries, q198 index maintenance)
    * whose construction must not hijack the memoized hyb_* serving
    * artifacts out from under q188/q189/q196. Its tables are visible
    * only to its own `sql`/`explain`. */
  def scratch(spark: SparkSession): Engine =
    new Engine(requireExtensions(spark))

  /** [[apply]] without the extension check, for the retrieval stages'
    * index registry (TextRetrieval): no SQL, any session. */
  private[graft] def serving(spark: SparkSession): Engine = {
    val e = new Engine(spark)
    bySession.put(spark, e)
    e
  }

  // without the extensions `sql` would silently lose graft's semantics
  private def requireExtensions(spark: SparkSession): SparkSession = {
    require(spark.sessionState.sqlParser.isInstanceOf[GraftParser],
      "graft.Engine needs a session with graft's SQL extensions: open it " +
        "through GraftSession, or set spark.sql.extensions=" +
        "graft.GraftExtensions (withExtensions(new GraftExtensions))")
    spark
  }
}
