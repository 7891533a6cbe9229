package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

/** Time travel, bounded snapshot retention, and the change-data feed
  * over the copy-on-write DML lineage — the lakehouse verbs
  * (`VERSION AS OF`, `table_changes`, `DESCRIBE HISTORY`) layered on
  * [[Engine]]'s registry. Split from Engine.scala along its section
  * seam; state and semantics unchanged. */
private[graft] trait EngineVersioning { self: Engine =>

  /** Retained prior versions per table (time travel over the
    * copy-on-write DML path — what Delta/Iceberg snapshots give a
    * lakehouse table, scoped to the bounded in-session history).
    * Entries (not bare plans) are retained so the append lineage each
    * snapshot carries stays addressable — [[tableChanges]] walks it. */
  private[graft] val versions = TrieMap.empty[String, Vector[TableEntry]]

  /** Monotone per-table version number: 0 at registration, +1 per
    * mutation (the absolute numbering `VERSION AS OF` addresses —
    * what a lakehouse snapshot id is). Follows the same lifecycle as
    * [[versions]]: DROP/rename restarts history. */
  private[graft] val versionSeq = TrieMap.empty[String, Long]

  /** The table's current absolute version number. */
  def currentVersion(name: String): Long = {
    registry.getOrElse(name, missing(name))
    versionSeq.getOrElse(name, 0L)
  }

  /** Absolute-version time travel — the `FROM t VERSION AS OF v` verb,
    * layered on [[tableAt]]'s relative back-steps. Raises on a future
    * version or one beyond the bounded retention. */
  def tableAtVersion(name: String, v: Long): DataFrame = {
    checkVersion(name, v)
    entryAtVersion(name, v).df
  }

  private def checkVersion(name: String, v: Long): Unit = {
    val cur = currentVersion(name)
    if (v < 0 || v > cur)
      throw new IllegalArgumentException(
        s"Catalog Error: table $name is at version $cur, " +
          s"asked for version $v")
  }

  /** Version catalog for a managed table: one row per addressable
    * snapshot within the bounded retention (what a lakehouse `DESCRIBE
    * HISTORY` lists). Metadata-only — never scans the table. */
  def tableHistory(name: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(name)
    (0 to versionCount(name)).map(back =>
      (cur - back, back, back == 0))
      .toDF("version", "versions_back", "is_current")
  }

  /** Entry (plan + lineage) at an absolute version within retention. */
  private def entryAtVersion(name: String, v: Long): TableEntry = {
    val cur = currentVersion(name)
    if (v == cur) registry.getOrElse(name, missing(name))
    else {
      val vs = versions.getOrElse(name, Vector.empty)
      val back = (cur - v).toInt
      if (back < 0 || back > vs.size)
        throw new IllegalArgumentException(
          s"Catalog Error: table $name is at version $cur with " +
            s"${vs.size} retained versions, asked for version $v")
      vs(vs.size - back)
    }
  }

  /** Change-data feed between two retained snapshots (what
    * `table_changes` reads on a lakehouse table): the table's columns
    * plus `_change_type` and `_commit_version` (the version the change
    * landed in).
    *
    * CONVENTION — `fromVersion` is the EXCLUSIVE base snapshot: the
    * feed carries the commits `fromVersion+1 .. toVersion`, i.e. "the
    * changes that took the table FROM version `fromVersion` TO
    * `toVersion`". Note this differs from Delta's `table_changes`,
    * whose starting version is inclusive — a caller porting Delta
    * semantics passes `deltaStart - 1` here.
    *
    * Each version step is resolved independently:
    *
    *  - a step whose snapshot declared itself `previous ∪ delta` (the
    *    INSERT append lineage) contributes its delta directly — the
    *    production cadence reads O(delta), the corpus is never scanned;
    *  - a row-rewriting step (DELETE/MERGE/ALTER leave lineage unset)
    *    is reconstructed from the two adjacent snapshots. With no
    *    `idColumns` that is a multiset diff (`exceptAll` both ways,
    *    full-row hash) emitting 'insert'/'delete' pairs; with
    *    `idColumns` declared (single or composite key — e.g. lineitem's
    *    (l_orderkey, l_linenumber)) it is ONE equi-join on the identity
    *    key emitting 'insert' / 'delete' /
    *    'update_preimage' / 'update_postimage' (the Delta CDF tags) —
    *    only rows whose content actually changed are emitted, so an
    *    UPDATE-shaped MERGE yields O(delta) change rows off a single
    *    key-partitioned shuffle instead of two full-row hash diffs.
    *
    * Schema drift inside the range (ALTER ADD/DROP/RENAME COLUMN) is
    * aligned by name over the union of the two step schemas: columns
    * absent at a given version read NULL, shared columns take the
    * newer version's type. A RENAME therefore reads as a full
    * rewrite (old column deleted, new column inserted) — the honest
    * answer when no column lineage is recorded. */
  def tableChanges(name: String, fromVersion: Long,
      toVersion: Long = -1L, idColumns: Seq[String] = Nil): DataFrame = {
    val cur = currentVersion(name)
    val toV = if (toVersion < 0) cur else toVersion
    if (fromVersion < 0 || fromVersion > toV || toV > cur)
      throw new IllegalArgumentException(
        s"Catalog Error: invalid change range [$fromVersion, $toV] " +
          s"for table $name at version $cur")
    // resolves retention too: entryAtVersion raises past the window
    val steps = (fromVersion until toV).map { v =>
      val prev = entryAtVersion(name, v)
      val next = entryAtVersion(name, v + 1)
      val tagged = next.appendOf match {
        case Some((parent, delta)) if parent eq prev =>
          delta.withColumn("_change_type", lit("insert"))
        case _ =>
          // by-name union of the step's two schemas (newer type wins)
          val merged = next.df.schema.fields.toSeq ++
            prev.df.schema.fields.filterNot(f =>
              next.df.columns.contains(f.name))
          def align(df: DataFrame): DataFrame =
            df.select(merged.map { f =>
              if (df.columns.contains(f.name))
                col(f.name).cast(f.dataType).as(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }: _*)
          val p = align(prev.df)
          val n = align(next.df)
          idColumns match {
            case ids if ids.nonEmpty =>
              ids.filterNot(id => merged.exists(_.name == id)) match {
                case Nil => ()
                case bad => throw new IllegalArgumentException(
                  s"Catalog Error: identity column(s) ${bad.mkString(", ")}" +
                    s" not in table $name's schema at versions $v/${v + 1}")
              }
              // one full-outer equi-join on the (possibly composite)
              // identity key classifies every row in a single
              // key-shuffle; unchanged rows are dropped, so the emitted
              // feed is O(changed rows).
              // PRECONDITION: the identity key is unique per snapshot —
              // duplicates would make the join fan out and the feed
              // would be corrupt. Guarded lazily: a per-key count rides
              // the same key partitioning the join needs and
              // raise_error()s at execution instead of emitting a wrong
              // feed (callers with genuinely duplicate keys omit
              // idColumns for multiset exceptAll semantics).
              val keyW = org.apache.spark.sql.expressions.Window
                .partitionBy(ids.map(col): _*)
              val pm = p.withColumn("_kdup", count(lit(1)).over(keyW) > 1)
                .withColumn("_p_present", lit(true)).alias("p")
              val nm = n.withColumn("_kdup", count(lit(1)).over(keyW) > 1)
                .withColumn("_n_present", lit(true)).alias("n")
              val joined = nm.join(pm,
                ids.map(id => col(s"n.$id") <=> col(s"p.$id"))
                  .reduce(_ && _), "full_outer")
              def side(pre: String, tag: String) = struct(
                merged.map(f =>
                  col(s"$pre.${f.name}").as(f.name)) :+
                  lit(tag).as("_change_type"): _*)
              val differs = merged.filterNot(f => ids.contains(f.name))
                .map(f => !(col(s"n.${f.name}") <=> col(s"p.${f.name}")))
                .reduceOption(_ || _).getOrElse(lit(false))
              val both = col("_n_present").isNotNull &&
                col("_p_present").isNotNull
              val changes = array(
                when(col("_p_present").isNull, side("n", "insert")),
                when(col("_n_present").isNull, side("p", "delete")),
                when(both && differs, side("p", "update_preimage")),
                when(both && differs, side("n", "update_postimage")))
              val dup = coalesce(col("p._kdup"), lit(false)) ||
                coalesce(col("n._kdup"), lit(false))
              val dupMsg = "Constraint Error: identity key (" +
                ids.mkString(", ") + s") is not unique in table $name " +
                s"at versions $v/${v + 1}; the table_changes " +
                "identity-key path requires a unique key — omit " +
                "idColumns for multiset semantics"
              // the guard lives in the element filter so EVERY joined
              // row of a duplicated key trips it — including fan-out
              // pairs that would otherwise be dropped as "unchanged"
              joined
                .select(explode(filter(changes, c =>
                  when(dup, raise_error(lit(dupMsg)).isNull)
                    .otherwise(c.isNotNull))).as("_c"))
                .select("_c.*")
            case _ =>
              val ins = n.exceptAll(p)
                .withColumn("_change_type", lit("insert"))
              val del = p.exceptAll(n)
                .withColumn("_change_type", lit("delete"))
              ins.unionByName(del)
          }
      }
      tagged.withColumn("_commit_version", lit(v + 1))
    }
    if (steps.isEmpty) {
      val e = registry.getOrElse(name, missing(name))
      e.df.limit(0).withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
    } else steps.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The plan of `table_changes('t', start[, end[, idColumns]])`, the
    * lakehouse CDC table function (Delta's TVF of the same name;
    * [[GraftExtensions]] injects it); `idColumns` is a comma-separated
    * identity key. Delta's INCLUSIVE start: `start` is the first commit
    * whose changes appear, i.e. `tableChanges(t, start - 1, end)`. */
  private[graft] def tableChangesPlan(args: Seq[Expression]): LogicalPlan = {
    def argStr(e: Expression, what: String): String = e match {
      case Literal(v, _) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"Parser Error: table_changes expects a literal $what, got $other")
    }
    def argLong(e: Expression, what: String): Long =
      argStr(e, what).toLongOption.getOrElse(throw new IllegalArgumentException(
        s"Parser Error: table_changes expects an integer $what"))
    if (args.size < 2 || args.size > 4)
      throw new IllegalArgumentException("Parser Error: " +
        "table_changes(table, startVersion[, endVersion[, idColumns]])")
    val written = argStr(args(0), "table name")
    val name = keyOf(written.split('.').toSeq).filter(registry.contains)
      .getOrElse(throw new IllegalArgumentException(
        s"Catalog Error: table $written does not exist"))
    val start = argLong(args(1), "startVersion")
    val end = if (args.size >= 3) argLong(args(2), "endVersion") else -1L
    val idCol =
      if (args.size == 4)
        argStr(args(3), "idColumns").split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
      else Nil
    // Delta's INCLUSIVE start=0 reaches the creation commit: emit the
    // version-0 snapshot as 'insert' rows at _commit_version 0 (the
    // exclusive-base API has no base older than version 0).
    // entryAtVersion raises a targeted error if version 0 has fallen
    // out of the retention window.
    val feed =
      if (start == 0L) {
        val creation = entryAtVersion(name, 0L).df
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(0L))
        creation.unionByName(tableChanges(name, 0L, end, idCol),
          allowMissingColumns = true)
      } else tableChanges(name, start - 1, end, idCol)
    castToImpl(feed).queryExecution.analyzed
  }

  /** The entry `t VERSION AS OF v` reads ([[GraftExtensions]]' relation
    * rule). TIMESTAMP AS OF raises: in-session snapshots are
    * version-numbered. */
  private[graft] def entryAsOf(name: String, ts: Option[Expression],
      ver: Option[String]): TableEntry = {
    if (ts.nonEmpty)
      throw new IllegalArgumentException("Parser Error: TIMESTAMP " +
        s"AS OF is not supported on managed table $name — " +
        "in-session snapshots are version-numbered; use " +
        "VERSION AS OF <n>")
    val v = ver.getOrElse(throw new IllegalArgumentException(
      s"Parser Error: missing version for time travel on $name"))
    val vNum = v.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"Parser Error: VERSION AS OF expects an integer version, got '$v'"))
    checkVersion(name, vNum)
    entryAtVersion(name, vNum)
  }

  /** Number of retained PRIOR versions (current is not counted). */
  def versionCount(name: String): Int = {
    registry.getOrElse(name, missing(name))
    versions.get(name).map(_.size).getOrElse(0)
  }

  /** Time travel: `versionsBack = 0` is the current table, 1 the state
    * before the latest DML, … up to [[versionCount]]. */
  def tableAt(name: String, versionsBack: Int): DataFrame = {
    val cur = registry.getOrElse(name, missing(name)).df
    if (versionsBack == 0) cur
    else {
      val vs = versions.getOrElse(name, Vector.empty)
      if (versionsBack < 0 || versionsBack > vs.size)
        throw new IllegalArgumentException(
          s"Catalog Error: table $name has ${vs.size} retained " +
            s"versions, asked for $versionsBack back")
      vs(vs.size - versionsBack).df
    }
  }
}
