package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DML verbs on managed tables — INSERT (distributed append, ≈
  * distributed_insert.cpp), whole-row and column-wise MERGE,
  * DELETE-as-predicate-inversion (≈ distributed_delete.cpp, minus the
  * driver collect), and exact dedup. All copy-on-write under the
  * per-table writer lock. Split from Engine.scala along its section
  * seam; state and semantics unchanged. */
private[graft] trait EngineDml { self: Engine =>

  /** Reject rand()/uuid()-class expressions in copy-on-write DML: a
    * verb evaluates the predicate and the SET expressions once in the
    * stored plan and again in the statement-time actions (the affected
    * count, the constraint probes, the RETURNING delta), so a
    * non-deterministic expression could make the returned count and
    * rows disagree with the persisted state. Resolution against the
    * table runs first — an UNRESOLVED function node does not yet expose
    * its determinism. Returns the type `c` resolves to. */
  private def requireDeterministic(df: DataFrame, c: Column,
      ctx: String): DataType = {
    val analyzed = df.select(c).queryExecution.analyzed
    if (analyzed.expressions.exists(e => !e.deterministic))
      throw new IllegalArgumentException(
        s"Binder Error: non-deterministic expression in $ctx is not " +
          "supported (copy-on-write DML evaluates it more than once)")
    analyzed.schema.head.dataType
  }

  /** INSERT: the reference buffers all rows driver-side then replays one
    * giant VALUES statement (distributed_insert.cpp:26-100); here appended
    * data stays distributed (unionByName of DataFrames). */
  def insertInto(name: String, df: DataFrame): Unit = {
    insertIntoReturning(name, df); ()
  }

  /** INSERT returning the validated delta frame (defaults filled,
    * coercions applied) — the rows `INSERT … RETURNING` projects. The
    * frame is a lazy plan over the PRE-swap lineage, so it stays a
    * correct snapshot of exactly what was appended even after later
    * DML replaces the table. A known count stays known when the delta
    * states its rows (literal VALUES). */
  private[graft] def insertIntoReturning(name: String,
      df: DataFrame): DataFrame = withTableLock(name) {
    val e = registry.getOrElse(name, missing(name))
    val delta = coerceAndValidate(name, e, df)
    val added = rowsWithoutJob(delta)
    put(name, e.df.unionByName(delta),
      if (e.rowsIfKnown >= 0L && added >= 0L) e.rowsIfKnown + added else -1L,
      appendDelta = Some(delta))
    delta
  }

  /** One column's ingress — the expression shared by every row a verb
    * writes (INSERT rows, UPDATE and MERGE assignments, MERGE inserts):
    * an ANSI interval into a degraded INTERVAL carry becomes the
    * comparable struct (cast cannot), anything else casts to the column
    * type (DuckDB casts VALUES to the column type: '2023-01-01' into
    * DATE[], [] into a typed empty list, …), and degraded text carries
    * canonicalize so rendering and string ordering match DuckDB:
    * temporal text drops trailing fraction zeros, hugeint text drops
    * leading zeros. `from` is the type `c` resolves to. */
  private def ingress(name: String, f: StructField, c: Column,
      from: DataType): Column = {
    val origin = typeOrigins.get((name, f.name))
    val typed = (origin, from) match {
      case (Some("INTERVAL"), _: YearMonthIntervalType) =>
        Engine.intervalToStruct(c, yearMonth = true).cast(f.dataType)
      case (Some("INTERVAL"), _: DayTimeIntervalType) =>
        Engine.intervalToStruct(c, yearMonth = false).cast(f.dataType)
      case _ => if (from == f.dataType) c else c.cast(f.dataType)
    }
    origin match {
      case Some("TIME") | Some("TIMESTAMP_NS") => Engine.canonTemporalText(typed)
      case Some("HUGEINT") | Some("UHUGEINT") => Engine.canonIntegerText(typed)
      case _ => typed
    }
  }

  /** Shared INSERT/MERGE ingress path: positional column alignment,
    * [[ingress]] per column, and the delta-bounded NOT NULL + ENUM
    * constraint probes. Throws (table untouched) on violation. */
  private def coerceAndValidate(name: String, e: TableEntry,
      df: DataFrame): DataFrame = {
    val aligned = df.toDF(e.df.columns.toIndexedSeq: _*)
    val delta = aligned.select(e.df.schema.fields.map(f =>
      ingress(name, f, aligned.col(f.name), aligned.schema(f.name).dataType)
        .as(f.name)).toIndexedSeq: _*)
    validate(name, e, delta)
    delta
  }

  /** The NOT NULL and ENUM constraint probes over the rows a verb writes
    * (already through [[ingress]]). Both probe only that delta (bounded
    * by the write, early-terminating), so a rejected write leaves the
    * table untouched — atomic like the reference's per-row check. */
  private def validate(name: String, e: TableEntry, delta: DataFrame): Unit = {
    val nn = e.df.columns.filter(c => notNullCols.contains((name, c)))
    if (nn.nonEmpty) {
      val anyNull = nn.map(delta.col(_).isNull).reduce(_ || _)
      if (delta.filter(anyNull).head(1).nonEmpty)
        throw new IllegalArgumentException(
          s"Constraint Error: NOT NULL constraint failed: " +
            s"$name(${nn.mkString(",")})")
    }
    // ENUM domain check (DuckDB raises a Conversion Error for a value
    // outside the type)
    e.df.columns.foreach { c =>
      enumCols.get((name, c)).foreach { en =>
        val values = enums.getOrElse(en, Seq.empty)
        val bad = delta.filter(delta.col(c).isNotNull &&
          !delta.col(c).isin(values: _*)).select(c).head(1)
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"Conversion Error: Could not convert string '${bad.head.get(0)}'" +
              s" to enum type $en")
      }
    }
  }

  /** MERGE (upsert) as copy-on-write — beyond the reference's DML verb
    * set (INSERT/DELETE only): source rows matching the target on `keys`
    * REPLACE the matched rows whole-row; unmatched source rows append.
    * Standard MERGE forbids updating one target row twice, so a source
    * with duplicate NON-NULL keys raises (NULL key values never equal
    * anything under SQL join semantics — such source rows always
    * insert, and two NULL-key source rows are NOT duplicates of each
    * other). If the TARGET contains duplicate key values (key
    * uniqueness is not enforced on managed tables), all N matched target
    * rows are replaced by the single matching source row — an explicit
    * N-to-1 whole-row collapse, counted as ONE updated source row.
    * Returns (updated = matched source rows, inserted = unmatched source
    * rows).
    *
    * Two paths, same results, counts and errors (EngineSpec law). Jobs
    * below are per statement, measured on a CTAS copy of sf0.1 `orders`
    * (4 cores, AQE on) over three rounds of INSERT, UPDATE, DELETE,
    * MERGE of 3 rows, a read and an `ON CONFLICT DO UPDATE` upsert:
    *  - a LITERAL source (VALUES, local rows — the reference's INSERT
    *    replays its buffered rows as exactly such a statement,
    *    distributed_insert.cpp:26-100) is worked out on the driver plus
    *    one key probe of the target ([[literalMerge]]), and the stored
    *    plan is `target WHERE NOT key IN <set>` ∪ the source: no join,
    *    so later reads start no broadcast job. 2 jobs in every round
    *    (the probe's aggregate under AQE).
    *  - any other source takes [[mergeStats]]' one aggregation action
    *    (group source by key, left-join the per-key counts of the target
    *    rows that semi-join into the source's, fold to a single row) and
    *    stores the target left-anti-joined to the source ∪ the source.
    *    With a parquet source: 9, 16 and 23 jobs in rounds 1–3, because
    *    every stored join (this anti-join, the upsert's left-outer
    *    join) adds its broadcast to each later action. */
  def mergeInto(name: String, source: DataFrame,
      keys: Seq[String]): (Long, Long) = withTableLock(name) {
    require(keys.nonEmpty, "MERGE requires at least one key column")
    val e = registry.getOrElse(name, missing(name))
    keys.foreach { k =>
      if (!e.df.columns.contains(k))
        throw new IllegalArgumentException(
          s"Binder Error: key column $k not in table $name")
    }
    val src = coerceAndValidate(name, e, source)
    val ((updated, inserted, replaced), untouched) =
      literalMerge(e, src, keys, forbidDupMatches = true) match {
        case Some(lm) => (lm.counts, lm.hit.fold(e.df)(h => e.df.filter(!h)))
        case None => (mergeStats(e, src, keys),
          e.df.join(src, keys, "left_anti"))
      }
    // every source row lands; the matched target rows are replaced
    put(name, untouched.unionByName(src),
      if (e.rowsIfKnown >= 0L) e.rowsIfKnown - replaced + updated + inserted
      else -1L)
    (updated, inserted)
  }

  /** A literal MERGE source as the driver worked it out: its rows,
    * whether each matched a target row, the key-set predicate over the
    * target (None when no source row has a complete key) and the
    * number of target rows it matches. */
  private final class LiteralMerge(rows: LocalRelation,
      matched: Array[Boolean], val hit: Option[Column], replaced: Long) {
    /** (matched source rows, unmatched source rows, matched target
      * rows), as [[mergeStats]] returns them. */
    def counts: (Long, Long, Long) = {
      val upd = matched.count(identity).toLong
      (upd, matched.length - upd, replaced)
    }
    /** The source rows no target row matched — literal rows again. */
    def unmatched: DataFrame = literalFrame(rows, i => !matched(i))
  }

  /** The rows of literal plan `l` whose position passes `keep`, as a
    * frame over a new literal plan (fresh attribute ids, same names and
    * types); the values are the plan's own, so nothing converts. */
  private def literalFrame(l: LocalRelation, keep: Int => Boolean): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      LocalRelation(l.output.map(_.newInstance()),
        l.data.zipWithIndex.collect { case (r, i) if keep(i) => r },
        l.isStreaming))

  /** Each literal row's values of `keys` (collected from a projection
    * of the literal plan, so no job), None where one is NULL — a NULL
    * key never equals anything. */
  private def keyTuples(df: DataFrame, keys: Seq[Column]): Array[Option[Seq[Any]]] =
    df.select(keys: _*).collect().map(r => Option.when(!r.anyNull)(r.toSeq))

  /** A MERGE whose source is literal rows, worked out on the driver:
    * the duplicate-key probe runs over the collected keys (same error
    * text as [[mergeStats]]), and ONE job over the target — `coalesce(
    * keys IN <the source's key set>, false)` grouped by key — returns
    * the matched keys with their target row counts, which give both
    * counters and the replaced target rows exactly, duplicate target
    * keys included. A single key reaches the parquet scan as a pushed
    * `In`; a composite key filters each column by its own value set
    * (pushed) and the tuple by a struct IN-list. `keys` name target
    * columns; the source's are matched case-insensitively. None when
    * the source is not literal rows, a key type is not
    * [[driverComparable]], or a source key type is neither the
    * target's nor a lossless numeric widening of it (the join would
    * compare in a type the driver does not reproduce). */
  private def literalMerge(e: TableEntry, source: DataFrame,
      keys: Seq[String], forbidDupMatches: Boolean): Option[LiteralMerge] = {
    val srcKeys = keys.map(k => source.columns.find(_.equalsIgnoreCase(k)).get)
    val types = keys.map(e.df.schema(_).dataType)
    val comparable = keys.indices.forall { i =>
      val (s, t) = (source.schema(srcKeys(i)).dataType, types(i))
      driverComparable(t) && (s == t || (s.isInstanceOf[NumericType] &&
        t.isInstanceOf[NumericType] && Cast.canUpCast(s, t)))
    }
    if (!comparable) return None
    literalPlan(source).map { rows =>
      // the key values as the source states them (the error text) and
      // in the target's types (the comparison)
      val raw = keyTuples(source, srcKeys.map(source.col))
      val tuples =
        if (keys.indices.forall(i => source.schema(srcKeys(i)).dataType == types(i))) raw
        else keyTuples(source, keys.indices.map(i => source.col(srcKeys(i)).cast(types(i))))
      if (forbidDupMatches) {
        val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
        tuples.indices.find(i => tuples(i).exists(!seen.add(_))).foreach { i =>
          throw new IllegalArgumentException(
            "Constraint Error: MERGE source matches the same target row " +
              s"more than once (key ${raw(i).get.mkString(",")})")
        }
      }
      val set = tuples.flatten.distinct
      if (set.isEmpty) new LiteralMerge(rows, tuples.map(_ => false), None, 0L)
      else {
        def lit1(i: Int, v: Any) = lit(v).cast(types(i))
        val perCol = keys.indices.map(i => e.df.col(keys(i))
          .isin(set.map(_(i)).distinct.map(lit1(i, _)): _*))
        val inSet =
          if (keys.size == 1) perCol.head
          else perCol.reduce(_ && _) && struct(keys.map(e.df.col): _*)
            .isin(set.map(t => struct(keys.indices.map(i =>
              lit1(i, t(i)).as(keys(i))): _*)): _*)
        val hit = coalesce(inSet, lit(false))
        val probe = e.df.filter(hit).groupBy(keys.map(e.df.col): _*)
          .agg(count(lit(1))).collect()
          .map(r => r.toSeq.init -> r.getLong(keys.size)).toMap
        new LiteralMerge(rows, tuples.map(_.exists(probe.contains)), Some(hit),
          probe.valuesIterator.sum)
      }
    }
  }

  /** Shared MERGE statistics: (matched source rows, unmatched source
    * rows, matched target rows) from ONE aggregation action. When
    * `forbidDupMatches`, a source with duplicate non-NULL keys raises —
    * one target row would otherwise be updated twice
    * (nondeterministically). */
  private def mergeStats(e: TableEntry, src: DataFrame, keys: Seq[String],
      forbidDupMatches: Boolean = true): (Long, Long, Long) = {
    // keysNonNull evaluated AFTER the groupBy: all rows in a group share
    // the key values, so the group-level predicate is well-defined
    val keysNonNull = keys.map(col(_).isNotNull).reduce(_ && _)
    val perKey = src.groupBy(keys.map(src.col): _*)
      .agg(count(lit(1)).as("__n"))
    // matched keys with their target row counts: the target's keys
    // semi-joined against the source's, so the target is scanned and
    // filtered, never shuffled whole; the grouping runs over at most
    // the source's key count, and a duplicate target key counts every
    // row it replaces
    val tgtKeys = e.df.select(keys.map(e.df.col): _*)
      .join(perKey.select(keys.map(col): _*), keys, "left_semi")
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__m"))
    val stats = perKey.join(tgtKeys, keys, "left_outer").agg(
      // duplicate probe: only non-NULL-key groups can collide on a target
      max(when(keysNonNull && col("__n") > 1, col("__n"))).as("__dup"),
      coalesce(sum(when(col("__m").isNotNull, col("__n"))), lit(0L))
        .as("__upd"),
      coalesce(sum(when(col("__m").isNull, col("__n"))), lit(0L))
        .as("__ins"),
      coalesce(sum(col("__m")), lit(0L)).as("__tgt")).head()
    if (forbidDupMatches && !stats.isNullAt(0)) {
      // failure path only: re-probe for the offending key value so the
      // error is actionable (mirrors the reference's constraint message)
      val bad = perKey.filter(keysNonNull && col("__n") > 1).head()
      throw new IllegalArgumentException(
        "Constraint Error: MERGE source matches the same target row " +
          s"more than once (key ${bad.toSeq.init.mkString(",")})")
    }
    (stats.getLong(1), stats.getLong(2), stats.getLong(3))
  }

  /** Column-wise MERGE — the `UPDATE SET c = expr, …` / `INSERT (cols)
    * VALUES (…)` SQL form. Matched target rows keep every column NOT
    * named in `updateSet` and take the assignment expressions (evaluated
    * over the joined row; target columns resolve under alias `ta`,
    * source columns under `sa`) for those that are. Unmatched source
    * rows insert via `insertSpec` (column list + value expressions over
    * the source row); unnamed columns fill from their SET DEFAULT
    * expression, NULL otherwise. Either clause may be absent: no
    * MATCHED clause leaves matched target rows untouched, no NOT
    * MATCHED clause drops unmatched source rows. The stored plan reads
    * the target's rows once: with a MATCHED clause one left-outer join
    * to the source (whose keys are then unique) assigns the matched rows
    * and keeps the rest, as in [[updateFromCore]]. Unmatched source rows:
    * for a literal source, the literal rows its statement-time key probe
    * did not match ([[literalMerge]]), so the stored plan reads the
    * target once however many upserts came before; for any other
    * source, the source anti-joined to the target, which adds a read of
    * the target's keys (N such writes leave 2^N reads until `compact`).
    * Both joins stream the target past a broadcast source, so no whole
    * target row moves, and a later key filter still reaches the base
    * scan. (A full-outer join or key window would read the target once
    * without the key probe, but shuffles whole target rows on every
    * later read and hides the key from pushdown.) The counters come
    * from the key probe or the aggregation action of [[mergeInto]].
    * Unlike the whole-row form, N target rows sharing a key are EACH
    * updated (standard per-target-row MERGE semantics) rather than
    * collapsed. NOT NULL / ENUM constraint probes run on the changed
    * delta only, before the table is swapped — a rejected MERGE leaves
    * the table untouched. */
  def mergeIntoColumns(name: String, source: DataFrame, keys: Seq[String],
      ta: String, sa: String,
      updateSet: Option[Seq[(String, String)]],
      insertSpec: Option[(Seq[String], Seq[String])]): (Long, Long) = {
    insertSpec.foreach { case (cols, vals) =>
      if (cols.size != vals.size)
        throw new IllegalArgumentException(
          "Parser Error: MERGE INSERT column list and VALUES arity differ")
    }
    mergeIntoColumnsCore(name, source, keys, ta, sa, updateSet.map(exprs),
      insertSpec.map { case (cols, vals) => cols.zip(vals.map(expr)) })._1
  }

  private def exprs(sets: Seq[(String, String)]): Seq[(String, Column)] =
    sets.map { case (c, ex) => c -> expr(ex) }

  /** [[mergeIntoColumns]] over parsed assignments, returning the counts
    * and the changed delta (the rows an upsert's RETURNING projects). */
  private[graft] def mergeIntoColumnsCore(name: String, source: DataFrame,
      keys: Seq[String], ta: String, sa: String,
      updateSet: Option[Seq[(String, Column)]],
      insertSpec: Option[Seq[(String, Column)]])
      : ((Long, Long), DataFrame) = withTableLock(name) {
    require(keys.nonEmpty, "MERGE requires at least one key column")
    require(updateSet.isDefined || insertSpec.isDefined,
      "MERGE requires at least one WHEN clause")
    val e = registry.getOrElse(name, missing(name))
    // resolve user-written column names against the target schema
    // case-insensitively, like Spark's own identifier resolution
    def canon(c: String): String =
      e.df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"Binder Error: column $c not in table $name"))
    keys.foreach { k =>
      canon(k)
      if (!source.columns.exists(_.equalsIgnoreCase(k)))
        throw new IllegalArgumentException(
          s"Binder Error: key column $k not in MERGE source")
    }
    val updMap = updateSet.getOrElse(Nil)
      .map { case (c, ex) => canon(c) -> ex }.toMap
    val insMap = insertSpec.getOrElse(Nil)
      .map { case (c, ex) => canon(c) -> ex }.toMap
    // dup-source probe only matters when matched rows are rewritten;
    // an insert-only MERGE legitimately inserts duplicate-key sources
    val lm = literalMerge(e, source, keys.map(canon),
      forbidDupMatches = updateSet.isDefined)
    val (updated, inserted, _) = lm.fold(mergeStats(e, source, keys,
      forbidDupMatches = updateSet.isDefined))(_.counts)
    val fields = e.df.schema.fields.toIndexedSeq
    val t = e.df.alias(ta)
    val s = source.alias(sa)
    val joinCond = keys.map(k => col(s"$ta.$k") === col(s"$sa.$k"))
      .reduce(_ && _)
    def cur(c: String): Column = col(s"$ta.$c")
    // every target row, matched ones assigned: one left-outer join that
    // repeats no target row, because a MATCHED clause makes the source
    // keys unique (mergeStats raises otherwise); NULL-key rows of either
    // side never match, same as the whole-row path
    val (kept, updatedRows) = updateSet match {
      case Some(_) =>
        val joined = t.join(source.withColumn("__graft_hit", lit(true))
          .alias(sa), joinCond, "left_outer")
        val assigned = updMap.map { case (c, ex) => c -> ingress(name,
          e.df.schema(c), ex, joined.select(ex).schema.head.dataType) }
        val (all, hits) = assignWhere(e, joined, assigned,
          col("__graft_hit").isNotNull, cur)
        (all, Some(hits))
      case None => (e.df, None)
    }
    // unmatched source rows: a literal source's are the literal rows
    // the key probe did not match, any other source is anti-joined to
    // the target's keys; omitted columns fill like an explicit-column
    // INSERT: SET DEFAULT expression when registered, NULL otherwise
    val insertedRows = insertSpec.map { _ =>
      val rows = lm.fold(s.join(t, joinCond, "left_anti"))(_.unmatched.alias(sa))
      rows.select(fields.map { f =>
        val ex = insMap.getOrElse(f.name, columnDefault(name, f.name)
          .map(expr).getOrElse(lit(null)))
        ingress(name, f, ex, rows.select(ex).schema.head.dataType).as(f.name)
      }: _*)
    }
    // constraint probes on the changed delta only (the untouched rows
    // were valid already)
    val delta = (updatedRows.toSeq ++ insertedRows).reduce(_ unionByName _)
    validate(name, e, delta)
    // matched rows are assigned in place: only the inserts add rows
    put(name, insertedRows.fold(kept)(kept.unionByName(_)),
      if (e.rowsIfKnown < 0L) -1L
      else e.rowsIfKnown + (if (insertSpec.isDefined) inserted else 0L))
    ((if (updateSet.isDefined) updated else 0L,
      if (insertSpec.isDefined) inserted else 0L), delta)
  }

  def insertValues(name: String, rows: Seq[org.apache.spark.sql.Row]): Unit = {
    val e = registry.getOrElse(name, missing(name))
    insertInto(name, spark.createDataFrame(rows.asJava, e.df.schema))
  }

  /** Exact dedup of a managed table (beyond-reference pipeline verb):
    * keeps one row per key set — hash groupBy underneath (dropDuplicates),
    * one shuffle on the key columns. Returns rows removed. */
  def dedupTable(name: String, keys: Seq[String] = Seq.empty): Long =
      withTableLock(name) {
    val e = registry.getOrElse(name, missing(name))
    val deduped =
      if (keys.isEmpty) e.df.dropDuplicates() else e.df.dropDuplicates(keys)
    val kept = deduped.count()
    val before = e.rows
    put(name, deduped, kept)
    before - kept
  }

  /** SET assignments resolved to target column names, in statement
    * order (case-insensitive, like Spark's identifier resolution); a
    * column named twice is a Parser Error. */
  private def resolveSets(name: String, e: TableEntry,
      sets: Seq[(String, Column)]): Seq[(String, Column)] = {
    def canon(c: String): String =
      e.df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"Binder Error: column $c not in table $name"))
    val resolved = sets.map { case (c, ex) => canon(c) -> ex }
    if (resolved.map(_._1).distinct.size != sets.size)
      throw new IllegalArgumentException(
        "Parser Error: duplicate column in UPDATE SET list")
    resolved
  }

  /** The UPDATE projection over `rows` (the table, or the table
    * left-joined to a source): each assigned column takes its ingressed
    * expression where `hit` holds and keeps `cur(c)` elsewhere. Returns
    * (every row, the hit rows), both projected to the table's columns. */
  private def assignWhere(e: TableEntry, rows: DataFrame,
      assigned: Map[String, Column], hit: Column,
      cur: String => Column): (DataFrame, DataFrame) = {
    val fields = e.df.schema.fields.toIndexedSeq
    (rows.select(fields.map(f => assigned.get(f.name)
      .fold(cur(f.name))(when(hit, _).otherwise(cur(f.name))).as(f.name)): _*),
      rows.filter(hit).select(fields.map(f =>
        assigned.getOrElse(f.name, cur(f.name)).as(f.name)): _*))
  }

  /** The UPDATE shape shared by the plain and join forms: the
    * [[assignWhere]] projection stored, its hit rows validated and
    * counted. Returns the affected count and the hit rows. */
  private def updateRows(name: String, e: TableEntry, rows: DataFrame,
      assigned: Map[String, Column], hit: Column,
      cur: String => Column): (Long, DataFrame) = {
    val before = e.rowsIfKnown
    val (all, delta) = assignWhere(e, rows, assigned, hit, cur)
    validate(name, e, delta)
    val n = delta.count()
    put(name, all, before)
    (n, delta)
  }

  /** Plain `UPDATE t SET c = expr, … [WHERE cond]` as copy-on-write —
    * the week-one DML verb the reference stops short of (its verb set
    * ends at INSERT/DELETE; column assignment exists only inside its
    * MERGE form). The stored plan is ONE projection over the prior
    * version: each assigned column becomes `when(hit, ingress(expr))
    * .otherwise(col)`, where `hit` is the predicate being TRUE (rows
    * where it is FALSE or NULL keep their values — the SQL tri-state
    * rule) and the expression is evaluated over the row (`SET price =
    * price * 1.1` reads the old value). The hit rows, projected the
    * same way, are the delta the NOT NULL / ENUM probes check and the
    * affected count comes from, so a rejected UPDATE leaves the table
    * untouched. Nothing ever collects to the driver; the row count is
    * unchanged by construction. Returns the count and the
    * post-assignment rows (what `UPDATE … RETURNING` projects). */
  private[graft] def updateWhereCore(name: String,
      sets: Seq[(String, Column)],
      cond: Option[Column]): (Long, DataFrame) = withTableLock(name) {
    require(sets.nonEmpty,
      "Parser Error: UPDATE requires at least one SET assignment")
    val e = registry.getOrElse(name, missing(name))
    val assigned = resolveSets(name, e, sets).map { case (c, ex) =>
      c -> ingress(name, e.df.schema(c), ex,
        requireDeterministic(e.df, ex, s"UPDATE SET $c"))
    }.toMap
    cond.foreach(requireDeterministic(e.df, _, "UPDATE WHERE"))
    val hit = cond.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
    updateRows(name, e, e.df, assigned, hit, col)
  }

  /** Join-form UPDATE — `UPDATE t SET c = expr, … FROM src WHERE cond`
    * (the DuckDB/Postgres spelling users migrating SQL hit right after
    * plain UPDATE). Target rows with a join match take the SET
    * expressions, which may reference source columns (target resolves
    * under the table name, source under `sourceAlias`); unmatched rows
    * pass through untouched. The stored plan is one left-outer join on
    * the condition (shuffling on its extracted equi-keys, or
    * broadcasting the source; AQE handles skew) plus the projection of
    * [[updateWhereCore]], keyed on whether the row found a match; no driver
    * materialization beyond the counters.
    *
    * Deliberate divergence from DuckDB: a target row matching MORE THAN
    * ONE source row raises a Constraint Error instead of updating with
    * an arbitrary match (DuckDB/Postgres document the pick as
    * unpredictable) — same determinism stance as [[mergeIntoColumns]],
    * and what keeps the left-outer join from duplicating a target row.
    * The probe is a statement-time action over a row-id'd target frame;
    * the id never enters the stored lineage. Returns the count and the
    * post-assignment target rows — what `UPDATE … FROM … RETURNING`
    * projects (target columns; standard target-row RETURNING scope). */
  private[graft] def updateFromCore(name: String,
      sets: Seq[(String, Column)], source: DataFrame, sourceAlias: String,
      cond: Option[Column]): (Long, DataFrame) = withTableLock(name) {
    require(sets.nonEmpty,
      "Parser Error: UPDATE requires at least one SET assignment")
    val e = registry.getOrElse(name, missing(name))
    val setList = resolveSets(name, e, sets)
    if (sourceAlias.equalsIgnoreCase(name))
      throw new IllegalArgumentException(
        s"Binder Error: UPDATE FROM source alias '$sourceAlias' " +
          "collides with the target table name")
    val t = e.df.alias(name)
    val s = source.alias(sourceAlias)
    val on = cond.getOrElse(lit(true))
    // determinism check resolves over the joined shape (SET/WHERE may
    // reference both sides); crossJoin here is analysis-only, lazy
    val probe = t.crossJoin(s)
    cond.foreach(requireDeterministic(probe, _, "UPDATE WHERE"))
    val assigned = setList.map { case (c, ex) =>
      c -> ingress(name, e.df.schema(c), ex,
        requireDeterministic(probe, ex, s"UPDATE SET $c"))
    }.toMap
    // multi-match probe: eager, aggregate-only; the row id is discarded
    // with this action (monotonically_increasing_id is stable within
    // the single evaluation, which is all the probe needs)
    val multi = e.df.withColumn("__graft_rid",
        monotonically_increasing_id())
      .alias(name).join(s, on, "inner")
      .groupBy(col("__graft_rid")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
    if (!multi.isEmpty)
      throw new IllegalArgumentException(
        "Constraint Error: UPDATE FROM source matches the same target " +
          "row more than once")
    val joined = t.join(
      source.withColumn("__graft_hit", lit(true)).alias(sourceAlias),
      on, "left_outer")
    updateRows(name, e, joined, assigned, col("__graft_hit").isNotNull,
      c => col(s"$name.$c"))
  }

  /** DELETE as predicate inversion — a full-scan copy-on-write rewrite
    * (what Delta/Iceberg do per-file), never a driver-side row collect. */
  def deleteFrom(name: String, cond: Column): Long =
    deleteFromCore(name, cond)._1

  /** [[deleteFrom]] returning the count and the removed rows (the
    * predicate's TRUE slice over the pre-swap lineage) — what `DELETE …
    * RETURNING` projects. */
  private[graft] def deleteFromCore(name: String,
      cond: Column): (Long, DataFrame) = withTableLock(name) {
    val e = registry.getOrElse(name, missing(name))
    // same double-evaluation hazard as updateWhereCore
    requireDeterministic(e.df, cond, "DELETE WHERE")
    // SQL DELETE removes only rows where the predicate is TRUE; a row
    // where it evaluates NULL must be KEPT (plain `!cond` would drop it)
    val hit = coalesce(cond, lit(false))
    // the rows removed: with the count before known, a filtered count,
    // whose predicate reaches the base scan as a pushed filter; else
    // both counts from ONE aggregate
    val (before, removed) =
      if (e.rowsIfKnown >= 0L) (e.rowsIfKnown, e.df.filter(hit).count())
      else {
        val c = e.df.agg(count(lit(1)), count_if(hit)).head()
        (c.getLong(0), c.getLong(1))
      }
    put(name, e.df.filter(!hit), before - removed)
    (removed, e.df.filter(hit))
  }

  /** Join-form DELETE — `DELETE FROM t USING src WHERE cond` (the
    * DuckDB/Postgres spelling): target rows with at least one TRUE
    * join match are removed; NULL/false matches keep their rows (SQL
    * tri-state, same as the plain form). Unlike UPDATE FROM there is
    * no multi-match hazard — any number of matches deletes the row
    * once — so the shape is a single anti-join on the condition
    * (shuffling on the extracted equi-keys), copy-on-write swap,
    * nothing driver-side but the counters. Returns the count and the
    * removed target rows (the semi-join complement of the kept anti-join
    * slice, over the pre-swap lineage) — what `DELETE … USING …
    * RETURNING` projects. */
  private[graft] def deleteUsingCore(name: String, source: DataFrame,
      sourceAlias: String,
      cond: Option[Column]): (Long, DataFrame) = withTableLock(name) {
    val e = registry.getOrElse(name, missing(name))
    if (sourceAlias.equalsIgnoreCase(name))
      throw new IllegalArgumentException(
        s"Binder Error: DELETE USING source alias '$sourceAlias' " +
          "collides with the target table name")
    val t = e.df.alias(name)
    val s = source.alias(sourceAlias)
    val on = cond.getOrElse(lit(true))
    cond.foreach(requireDeterministic(t.crossJoin(s), _, "DELETE WHERE"))
    val remaining = t.join(s, on, "left_anti")
      .select(e.df.columns.map(c => col(s"$name.$c").as(c))
        .toIndexedSeq: _*)
    val deleted = t.join(s, on, "left_semi")
      .select(e.df.columns.map(c => col(s"$name.$c").as(c))
        .toIndexedSeq: _*)
    // the rows before and the rows kept from ONE job: the known count
    // plus the kept slice's, else one aggregate over the kept and removed
    // slices (a left-outer join would repeat a row per source match)
    val (before, kept) =
      if (e.rowsIfKnown >= 0L) (e.rowsIfKnown, remaining.count())
      else {
        val c = remaining.select(lit(true).as("__graft_kept"))
          .union(deleted.select(lit(false).as("__graft_kept")))
          .agg(count(lit(1)), count_if(col("__graft_kept"))).head()
        (c.getLong(0), c.getLong(1))
      }
    put(name, remaining, kept)
    (before - kept, deleted)
  }

  /** INSERT … ON CONFLICT — the DuckDB upsert spelling, riding the
    * MERGE machinery: `conflictCols` are the merge keys; DO NOTHING
    * inserts only unmatched source rows; DO UPDATE applies the SET
    * list to matched target rows with the incoming row visible under
    * the standard `excluded` alias. Engine-defined divergence,
    * documented: DuckDB requires a UNIQUE constraint on the conflict
    * target; managed tables here carry no uniqueness, so the conflict
    * columns act directly as merge keys (a source row "conflicts" iff
    * a target row matches on them) — same keys, same answer, no
    * constraint catalog required. Returns (updated, inserted) and the
    * affected rows — DO UPDATE's post-assignment matched rows plus the
    * inserted rows (DuckDB's `ON CONFLICT … RETURNING` scope: rows the
    * statement wrote, not rows it skipped). A VALUES batch stays literal
    * rows through DO NOTHING's self-conflict rule ([[firstPerKey]]), so
    * both forms take the literal MERGE path. */
  private[graft] def insertOnConflictCore(name: String, source: DataFrame,
      conflictCols: Seq[String],
      updateSet: Option[Seq[(String, Column)]])
      : ((Long, Long), DataFrame) = withTableLock(name) {
    // the whole verb runs under the (reentrant) table lock — the arity
    // check and positional alignment below read the schema, and a
    // concurrent ALTER TABLE between them and the merge would misalign
    // the frame (updateFromCore/deleteUsingCore take the same lock)
    val e = registry.getOrElse(name, missing(name))
    val insertAll = e.df.columns.toSeq
    if (source.columns.length != e.df.columns.length)
      throw new IllegalArgumentException(
        s"Binder Error: INSERT arity ${source.columns.length} does not " +
          s"match table $name (${e.df.columns.length} columns)")
    // positional alignment, like plain INSERT: a VALUES source arrives
    // with synthetic column names, and the merge keys must resolve
    val aligned0 = source.toDF(insertAll: _*)
    // DO NOTHING: a batch may conflict with ITSELF — DuckDB inserts the
    // first row per conflict key and ignores the rest; NULL-key rows
    // never conflict and all pass through. A literal batch is filtered
    // on the driver and stays literal; any other source keeps one row
    // per non-NULL key set in statement order by a window
    // (monotonically_increasing_id is monotone in partition-then-row
    // order, which is the source order within the single evaluation
    // this window needs). DO UPDATE keeps the full batch: the MERGE's
    // duplicate probe raises there, matching DuckDB's
    // can-not-update-the-same-row-twice rule.
    val aligned = if (updateSet.isDefined) aligned0 else {
      val keyCols = conflictCols.map(k =>
        aligned0.columns.find(_.equalsIgnoreCase(k)).getOrElse(k))
      firstPerKey(aligned0, keyCols).getOrElse {
        val anyNull = keyCols.map(aligned0.col(_).isNull).reduce(_ || _)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col("__graft_ord"))
        aligned0.withColumn("__graft_ord", monotonically_increasing_id())
          .withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1 || anyNull)
          .drop("__graft_ord", "__graft_rn")
      }
    }
    mergeIntoColumnsCore(name, aligned, conflictCols,
      ta = name, sa = "excluded",
      updateSet = updateSet,
      insertSpec = Some(insertAll.map(c => c -> col(s"excluded.$c"))))
  }

  /** DO NOTHING's self-conflict rule over a literal source, on the
    * driver: the first row per non-NULL key in statement order, and
    * every NULL-key row, as literal rows again (so the MERGE after it
    * stays on the literal path). None for any other source, or a key
    * that is missing or not [[driverComparable]]. */
  private def firstPerKey(df: DataFrame, keys: Seq[String]): Option[DataFrame] =
    if (!keys.forall(k => df.schema.find(_.name == k)
        .exists(f => driverComparable(f.dataType)))) None
    else literalPlan(df).map { rows =>
      val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
      val keep = keyTuples(df, keys.map(df.col)).map(_.forall(seen.add))
      literalFrame(rows, keep)
    }

  // ---- COPY TO / FROM — the DuckDB file-connector verbs ----------------

  /** File formats the COPY verbs accept — DuckDB's core copy functions
    * that map 1:1 onto Spark's built-in writers/readers (the reference
    * loads exactly these via its extension mechanism,
    * test_extension_loading.test). */
  private val CopyFormats = Set("parquet", "csv", "json", "orc")

  /** Resolve the format: explicit FORMAT option wins, else the path
    * extension (DuckDB's inference rule). Unknown names raise the
    * catalog error a DuckDB user expects. */
  private def copyFormat(path: String, opts: Map[String, String]): String = {
    val fmt = opts.get("format").orElse {
      val name = path.substring(path.lastIndexOf('/') + 1)
      val dot = name.lastIndexOf('.')
      if (dot > 0) Some(name.substring(dot + 1).toLowerCase) else None
    }.getOrElse(throw new IllegalArgumentException(
      "Binder Error: COPY needs a FORMAT option or a recognizable " +
        s"file extension on '$path'"))
    if (!CopyFormats(fmt))
      throw new IllegalArgumentException(
        s"""Catalog Error: Copy Function with name "$fmt" does not exist!""")
    fmt
  }

  private def copyOptioned[A](rw: A, fmt: String,
      opts: Map[String, String],
      set: (A, String, String) => A): A = {
    var out = rw
    if (fmt == "csv") {
      // header defaults ON both directions so COPY TO → COPY FROM
      // round-trips without options (documented divergence: DuckDB
      // historically defaulted headerless CSV)
      out = set(out, "header", opts.getOrElse("header", "true"))
      opts.get("delimiter").foreach(d => out = set(out, "sep", d))
    }
    out
  }

  /** `COPY <table|(query)> TO '<path>' (opts)`: a DISTRIBUTED Spark
    * write — every executor writes its partitions as part files under
    * `path` (the lakehouse layout; DuckDB's single-file output does not
    * survive 100 TB, and Spark's readers — and [[copyFrom]] — consume
    * the directory transparently). Returns rows copied, counted by a
    * plan observation on the same single pass, not a second scan. */
  def copyTo(df: DataFrame, path: String,
      opts: Map[String, String]): Long = {
    val fmt = copyFormat(path, opts)
    val obs = org.apache.spark.sql.Observation()
    val w0 = copyOptioned(
      df.observe(obs, count(lit(1)).as("n")).write.mode("overwrite"),
      fmt, opts,
      (w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
        k: String, v: String) => w.option(k, v))
    // PARTITION_BY → the Hive directory layout (q137's partitioned
    // sink): one subdirectory per key value, readable with partition
    // pruning by Spark AND DuckDB's hive_partitioning reader
    val w = opts.get("partition_by") match {
      case Some(cols) => w0.partitionBy(cols.split(",").toIndexedSeq: _*)
      case None => w0
    }
    w.format(fmt).save(path)
    obs.get("n").asInstanceOf[Long]
  }

  /** `COPY <table> FROM '<path>' (opts)`: a distributed read of the
    * file/directory under the TARGET's schema (DuckDB also binds the
    * payload to the table's columns), appended through the same
    * [[insertInto]] ingress as any INSERT — coercions and NOT NULL /
    * ENUM probes included, so a bad file rejects atomically. Returns
    * rows appended. */
  def copyFrom(name: String, path: String,
      opts: Map[String, String]): Long = withTableLock(name) {
    val e = registry.getOrElse(name, missing(name))
    val fmt = copyFormat(path, opts)
    val auto = opts.get("auto_detect").contains("true")
    val base =
      if (auto) {
        // AUTO_DETECT (DuckDB's sniffing): let the reader infer the
        // schema instead of binding the target's — the INSERT ingress
        // coerces types afterwards
        if (fmt == "csv") spark.read.option("inferSchema", "true")
        else spark.read
      } else spark.read.schema(e.df.schema)
    val r = copyOptioned(base, fmt, opts,
      (r: org.apache.spark.sql.DataFrameReader, k: String, v: String) =>
        r.option(k, v))
    val df0 = r.format(fmt).load(path)
    // detected columns align BY NAME when they cover the target
    // (JSON inference returns fields alphabetically — positional
    // alignment would scramble them); headerless/renamed payloads fall
    // back to positional, where the ingress arity check guards
    val df = if (auto) {
      val tcols = e.df.columns
      if (tcols.forall(c => df0.columns.exists(_.equalsIgnoreCase(c))))
        df0.select(tcols.map(c =>
          df0.col(df0.columns.find(_.equalsIgnoreCase(c)).get))
          .toIndexedSeq: _*)
      else df0
    } else df0
    val n = df.count()
    insertInto(name, df)
    n
  }

  /** INSERT OR REPLACE rides the whole-row MERGE, whose documented
    * N-to-1 collapse on duplicate TARGET key values would silently
    * shrink the table; DuckDB refuses the shorthand absent a UNIQUE
    * constraint. The index registry is advisory (no uniqueness is
    * enforced on managed tables), so the route probes the target for
    * duplicate key values first and raises a Constraint Error instead
    * of collapsing. One aggregate-only action on the conflict columns;
    * NULL keys never conflict and are exempt. */
  private[graft] def requireUniqueKeys(name: String, keys: Seq[String],
      ctx: String): Unit = {
    val e = registry.getOrElse(name, missing(name))
    val keysNonNull = keys.map(e.df.col(_).isNotNull).reduce(_ && _)
    val dup = e.df.filter(keysNonNull).groupBy(keys.map(e.df.col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).head(1)
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"Constraint Error: $ctx needs unique values on its inferred " +
          s"conflict target $name(${keys.mkString(",")}); found " +
          s"duplicate key (${dup.head.toSeq.init.mkString(",")}) — " +
          "the whole-row replace would collapse those rows into one")
  }
}
