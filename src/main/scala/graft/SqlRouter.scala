package graft

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{FieldName, UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedIdentifier, UnresolvedOrdinal, UnresolvedRelation, UnresolvedStar, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.command.{DescribeQueryCommand, LeafRunnableCommand}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** A routed verb as a Catalyst command: `act` calls the engine's verb
  * when Spark executes the statement, and the engine records the
  * execution as LOCAL, like the reference's HandleExecuteSQL path
  * (distributed_flight_server.cpp:281-340 → RecordQueryExecution). Its
  * rows are collected on the driver: counts, or RETURNING rows. */
private[graft] final case class GraftCommand(sql: String, engine: Engine,
    result: StructType, act: () => Seq[Row]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(result)
  override def run(session: SparkSession): Seq[Row] =
    engine.recordCommand(sql)(act())
  override def simpleString(maxFields: Int): String = s"GraftCommand $sql"
}

/** graft's DDL/DML surface on Spark's SQL front end, mirroring the verb
  * set the reference intercepts at its catalog layer (CREATE/DROP/ALTER
  * TABLE, CREATE/DROP INDEX, INSERT, DELETE — duckherder_catalog.cpp,
  * duckherder_schema_catalog_entry.cpp — plus UPDATE, MERGE and the
  * engine's index, view and file verbs). [[GraftParser]] hands every
  * statement to [[plan]], and each verb has exactly one of two parses:
  *
  *  - DuckDB-only spellings match the small anchored [[grammar]], which
  *    pulls out names only: payloads (predicates, assignments, source
  *    queries) are still Spark's parse of the pieces.
  *  - Everything else is Spark's own parse; [[fromTree]] turns the verbs
  *    the engine owns (INSERT, UPDATE, DELETE, MERGE, DROP, RENAME,
  *    TRUNCATE, CREATE INDEX, CTAS, CREATE MATERIALIZED VIEW, ALTER
  *    COLUMN) into [[GraftCommand]]s, so no keyword inside a literal or
  *    subquery can route a query.
  *
  * A statement becomes a command only when its target is an engine
  * table, or a `t`/`dh.t` name unknown to the session catalog (the
  * engine then raises its catalog error): warehouse tables keep Spark's
  * DDL. `DESCRIBE` of an engine table describes its query schema.
  */
private[graft] object SqlRouter {

  private val Dml = Set("INSERT", "UPDATE", "DELETE")
  private val GrammarHeads = Dml ++ Set("CREATE", "DROP", "ALTER",
    "TRUNCATE", "REFRESH", "OPTIMIZE", "CLASSIFY", "COPY", "EXPORT", "IMPORT")

  /** The plan of statement `q` (already DuckDB-spelled); `sql` is the
    * text as written, `parse` Spark's parse of a statement. */
  def plan(e: Engine, sql: String, q: String, parse: String => LogicalPlan,
      returning: Option[Seq[String]] = None): LogicalPlan = {
    val s = q.trim.stripSuffix(";").trim
    val head = s.takeWhile(_.isLetter).toUpperCase(Locale.ROOT)
    // DuckDB's RETURNING clause: plan the statement before it, then
    // project the rows the verb wrote
    val ret = if (returning.isEmpty && Dml(head))
      DuckSyntax.findTop(s, Returning) else None
    ret match {
      case Some((i, j)) => plan(e, sql, s.substring(0, i), parse,
        Some(DuckSyntax.splitTop(s.substring(j)).map(_.trim)))
      case None =>
        val g = if (GrammarHeads(head)) grammar(e, sql, s, parse, returning)
          else None
        g.getOrElse {
          val p = parse(head match {
            case "INSERT" => DuckSyntax.insertValues(s)
            case "MERGE" => positionalMergeInsert(e, s)
            case _ => s
          })
          fromTree(e, sql, p, returning).getOrElse {
            if (returning.isDefined) parseErr("RETURNING needs an INSERT, " +
              "UPDATE or DELETE on an engine table")
            p
          }
        }
    }
  }

  // ---- the DuckDB-only grammar ----------------------------------------

  private val Returning = "(?i)RETURNING\\b".r
  private val OnConflict = "(?is)ON\\s+CONFLICT\\b(?=\\s*(?:\\(|DO\\b))".r
  private val FromKw = "(?i)FROM\\b".r
  private val WhereKw = "(?i)WHERE\\b".r
  private val InsertValues = "(?is)INSERT\\s+VALUES\\b".r

  // DDL carrying DuckDB types (Spark 4.1 would read TIME as its own type
  // and lose the engine's TIME→text carry)
  private val CreateTable =
    """(?is)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.+)\)""".r
  private val AlterAdd =
    """(?is)ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+(\w+(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)(?:\s+DEFAULT\s+(.+?))?""".r
  private val AlterColType =
    """(?is)ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+(?:TYPE|SET\s+DATA\s+TYPE)\s+(\w+(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)""".r
  private val CreateType = """(?is)CREATE\s+TYPE\s+(\w+)\s+AS\s+ENUM\s*\((.+)\)""".r
  private val DropType = """(?is)DROP\s+TYPE\s+(IF\s+EXISTS\s+)?(\w+)""".r
  // DuckDB's DROP INDEX names no table; TRUNCATE may omit TABLE
  private val DropIndex = """(?is)DROP\s+INDEX\s+(IF\s+EXISTS\s+)?([\w.]+)""".r
  private val Truncate = """(?is)TRUNCATE\s+([\w.]+)""".r
  // the upsert and join-form DML clauses
  private val InsertOr = """(?is)INSERT\s+OR\s+(REPLACE|IGNORE)\s+(INTO\s.+)""".r
  private val ConflictTail =
    """(?is)ON\s+CONFLICT\s*(?:\(([\w\s,]+)\)\s*)?DO\s+(?:NOTHING|UPDATE\s+SET\s+(.+))""".r
  private val UpdateSet = """(?is)UPDATE\s+([\w.]+)\s+SET\s+(.+)""".r
  private val DeleteUsing = """(?is)DELETE\s+FROM\s+([\w.]+)\s+USING\s+(.+)""".r
  // materialized views (CREATE is Spark's parse), lakehouse OPTIMIZE
  // (Delta's spelling, incl. ZORDER BY), classifiers, serving indexes
  private val RefreshMatView = """(?is)REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)""".r
  private val DropMatView =
    """(?is)DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)""".r
  private val OptimizeIndex = """(?is)OPTIMIZE\s+(TEXT|ANN)\s+INDEX\s+([\w.]+)""".r
  private val Optimize =
    """(?is)OPTIMIZE\s+([\w.]+)(?:\s+INTO\s+(\d+)\s+FILES)?(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?""".r
  private val CreateClassifier =
    """(?is)CREATE\s+CLASSIFIER\s+([\w.]+)\s+ON\s+([\w.]+)\s+LABEL\s+(\w+)(?:\s+TEXT\s+(\w+))?(?:\s+VOCAB\s+(\d+))?""".r
  private val DropClassifier = """(?is)DROP\s+CLASSIFIER\s+(IF\s+EXISTS\s+)?([\w.]+)""".r
  private val Classify = """(?is)CLASSIFY\s+([\w.]+)\s+ON\s+([\w.]+)""".r
  private val CreateTextIndex =
    """(?is)CREATE\s+TEXT\s+INDEX\s+([\w.]+)\s+ON\s+([\w.]+)(?:\s*\((\w+)\))?""".r
  private val CreateAnnIndex =
    """(?is)CREATE\s+ANN\s+INDEX\s+([\w.]+)\s+ON\s+([\w.]+)(?:\s*\((\w+)\))?(?:\s+(PQ))?""".r
  private val CreateShingleIndex =
    """(?is)CREATE\s+SHINGLE\s+INDEX\s+([\w.]+)\s+ON\s+([\w.]+)(?:\s+MAXDF\s+(\d+))?""".r
  private val RefreshIndex = """(?is)REFRESH\s+(TEXT|ANN|SHINGLE)\s+INDEX\s+([\w.]+)""".r
  // DuckDB's file-connector and whole-catalog verbs; the `COPY (query)`
  // form is delimited by the paren scanner (a regex can't)
  private val CopyTable =
    """(?is)COPY\s+([\w.]+)\s+(TO|FROM)\s+'([^']+)'\s*(?:\((.*?)\))?""".r
  private val CopyQuery = """(?is)COPY\s*(\(.*)""".r
  private val CopyToTail = """(?is)\s*TO\s+'([^']+)'\s*(?:\((.*?)\))?""".r
  private val ExportDb = """(?is)EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\((.*?)\))?""".r
  private val ImportDb = """(?is)IMPORT\s+DATABASE\s+'([^']+)'""".r

  /** The DuckDB-only statements; None → Spark parses `s`. */
  private def grammar(e: Engine, sql: String, s: String,
      parse: String => LogicalPlan,
      returning: Option[Seq[String]]): Option[LogicalPlan] = {
    def ok(act: => Unit) = Some(done(e, sql)(act))
    def count(c: String)(n: => Long) = Some(command(e, sql, c)(Seq(n)))
    s match {
      case CreateTable(ifNot, n, cols) if owns(e, n) => ok {
        if (ifNot == null || !e.tableExists(unq(e, n))) e.createTable(unq(e, n), cols)
      }
      case AlterAdd(n, ifNot, c, typ, default) if owns(e, n) => ok {
        e.addColumn(unq(e, n), c, typ, Option(default).map(d =>
          e.spark.sql(s"SELECT ($d) AS v").head().get(0)),
          ifNotExists = ifNot != null)
      }
      case AlterColType(n, c, typ) if owns(e, n) =>
        ok(e.alterColumnType(unq(e, n), c, typ))
      case CreateType(n, values) =>
        ok(e.createEnum(n, "'([^']*)'".r.findAllMatchIn(values).map(_.group(1)).toSeq))
      case DropType(ifEx, n) => ok(e.dropEnum(n, ifExists = ifEx != null))
      case DropIndex(ifEx, n) => ok(e.dropIndex(unq(e, n), ifExists = ifEx != null))
      case Truncate(n) => Some(delete(e, sql, unq(e, n), lit(true), None))
      case RefreshMatView(n) => ok(e.refreshMaterializedAggregate(unq(e, n)))
      case DropMatView(ifEx, n) =>
        ok(e.dropMaterializedAggregate(unq(e, n), ifExists = ifEx != null))
      case OptimizeIndex(kind, n) => ok {
        if (kind.equalsIgnoreCase("TEXT")) e.optimizeTextIndex(unq(e, n))
        else e.optimizeAnnIndex(unq(e, n))
      }
      case Optimize(n, files, zcols) => ok {
        val k = Option(files).map(_.toInt).getOrElse(0)
        // arity is validated engine-side (1 or 2 columns) so the user
        // gets a clear constraint error, not a parse fallthrough
        Option(zcols).fold(e.compact(unq(e, n), k))(cs => e.compactZOrder(unq(e, n),
          cs.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty).toSeq, k))
      }
      case CreateClassifier(n, t, label, text, vocab) =>
        ok(e.trainClassifier(unq(e, n), unq(e, t), label, Option(text).getOrElse("text"),
          Option(vocab).map(_.toInt)
            .getOrElse(graft.operators.CurationOps.NbVocabCap)))
      case DropClassifier(ifEx, n) =>
        ok(e.dropClassifier(unq(e, n), ifExists = ifEx != null))
      // scoring writes nothing: the lazy plan, never a driver collect
      case Classify(n, t) =>
        Some(castToImpl(e.classify(unq(e, n), unq(e, t))).queryExecution.analyzed)
      case CreateTextIndex(n, t, textCol) => ok(e.buildTextIndex(unq(e, n), unq(e, t),
        e.defaultIndexPath(unq(e, n)), textCol = Option(textCol).getOrElse("text")))
      case CreateAnnIndex(n, t, embCol, pq) => ok(e.buildAnnIndex(unq(e, n), unq(e, t),
        embCol = Option(embCol).getOrElse("embedding"), pq = pq != null))
      case CreateShingleIndex(n, t, mdf) => ok(e.buildShingleIndex(unq(e, n), unq(e, t),
        e.defaultIndexPath(unq(e, n)), maxDf = Option(mdf).map(_.toInt).getOrElse(1000)))
      case RefreshIndex(kind, n0) =>
        val n = unq(e, n0)
        kind.toUpperCase(Locale.ROOT) match {
          case "TEXT" => count("indexed_docs") {
            // refresh against the path and columns the index was BUILT
            // with (recorded at build time) — defaulting here would
            // re-tokenize the wrong column into an empty default path
            val (path, idCol, textCol) = e.textIndexMeta(n)
            e.refreshTextIndex(n, e.indexTable(n), path, idCol, textCol)
          }
          case "ANN" => count("indexed_vecs") {
            val (idCol, embCol) = e.annIndexCols(n)
            e.refreshAnnIndex(n, e.indexTable(n), idCol, embCol)
          }
          case _ => count("indexed_docs")(e.refreshShingleIndex(n))
        }
      case CopyTable(n, dir, path, opts) => count("copied_rows") {
        if (dir.equalsIgnoreCase("TO")) e.copyTo(e.table(unq(e, n)), path, copyOpts(opts))
        else e.copyFrom(unq(e, n), path, copyOpts(opts))
      }
      case CopyQuery(rest) =>
        val close = DuckSyntax.matchParen(rest, 0)
        if (close < 0) parseErr("unbalanced parentheses in COPY (query)")
        val query = parse(rest.substring(1, close))
        rest.substring(close + 1) match {
          case CopyToTail(path, opts) => count("copied_rows")(
            e.copyTo(frame(e, query), path, copyOpts(opts)))
          case _ => parseErr("malformed COPY (query) — expected TO '<path>' [(opts)]")
        }
      case ExportDb(path, opts) => count("tables_exported") {
        // an explicit FORMAT other than parquet raises rather than
        // silently writing parquet
        copyOpts(opts).get("format").filter(_ != "parquet").foreach(f =>
          parseErr(s"EXPORT DATABASE supports FORMAT PARQUET (got $f)"))
        e.exportDatabase(path)
      }
      case ImportDb(path) => count("tables_imported")(e.importDatabase(path))
      case InsertOr(mode, into) =>
        val h = insertHead(e, s"INSERT $into", parse)
        val replace = mode.equalsIgnoreCase("REPLACE")
        Some(upsert(e, sql, h, returning) {
          val keys = soleKeys(e, h.name, s"INSERT OR ${mode.toUpperCase}",
            "target", "INSERT ... ON CONFLICT (cols)")
          // whole-row replace ≡ DO UPDATE of every column; duplicate
          // TARGET keys would collapse N rows into one — refuse, like
          // DuckDB refuses the shorthand absent a UNIQUE constraint
          if (replace) e.requireUniqueKeys(h.name, keys, "INSERT OR REPLACE")
          (keys, if (replace) Some(e.table(h.name).columns.toSeq
            .map(c => c -> col(s"excluded.$c"))) else None)
        })
      case _ if s.regionMatches(true, 0, "INSERT", 0, 6) =>
        DuckSyntax.findTop(s, OnConflict).map { case (i, _) =>
          val h = insertHead(e, s.substring(0, i), parse)
          val (keys, sets) = s.substring(i) match {
            case ConflictTail(k, st) => (Option(k), Option(st).map(st =>
              assignments(h.name, parse(s"UPDATE ${h.name} SET $st"),
                "ON CONFLICT DO UPDATE SET")))
            case _ => parseErr("malformed ON CONFLICT clause (expected " +
              "[(cols)] DO NOTHING | [(cols)] DO UPDATE SET ...)")
          }
          upsert(e, sql, h, returning) {
            (keys.fold(soleKeys(e, h.name, "ON CONFLICT without a target",
              "columns", "ON CONFLICT (cols)"))(
              _.split(",").map(_.trim).filter(_.nonEmpty).toSeq), sets)
          }
        }
      case UpdateSet(n0, rest) =>
        // the FROM source sits between the SET list and the WHERE
        val (head, where) = splitAt(rest, WhereKw)
        DuckSyntax.findTop(head, FromKw).map { case (i, j) =>
          val n = unq(e, n0)
          val sets = assignments(n, parse(s"UPDATE $n SET ${head.substring(0, i)}"),
            "UPDATE SET")
          val cond = where.map(w => column(e.spark.sessionState.sqlParser
            .parseExpression(w)))
          val (srcPlan, alias) = source(parse(s"SELECT * FROM ${head.substring(j)}"))
          dml(e, sql, n, returning, "updated_rows") {
            val (c, d) = e.updateFromCore(n, sets, frame(e, srcPlan), alias, cond)
            (Seq(c), d)
          }
        }
      case DeleteUsing(n0, rest) =>
        val n = unq(e, n0)
        val (src, where) = splitAt(rest, WhereKw)
        val cond = where.map(w =>
          column(e.spark.sessionState.sqlParser.parseExpression(w)))
        val (srcPlan, alias) = source(parse(s"SELECT * FROM $src"))
        Some(dml(e, sql, n, returning, "deleted_rows") {
          val (c, d) = e.deleteUsingCore(n, frame(e, srcPlan), alias, cond)
          (Seq(c), d)
        })
      case _ => None
    }
  }

  /** DuckDB's positional `WHEN NOT MATCHED THEN INSERT VALUES (…)`:
    * Spark's MERGE grammar needs the column list, so name the target's. */
  private def positionalMergeInsert(e: Engine, s: String): String = {
    val target = """(?is)MERGE\s+INTO\s+([\w.]+).*""".r
    (s, DuckSyntax.findTop(s, InsertValues)) match {
      case (target(n), Some((i, _)))
          if e.keyOf(n.split('.').toSeq).exists(e.tableExists) =>
        val at = i + "INSERT".length
        s.substring(0, at) + e.table(unq(e, n)).columns
          .map(c => s"`$c`").mkString(" (", ", ", ")") + s.substring(at)
      case _ => s
    }
  }

  // ---- Spark's parse: the verbs the engine owns -----------------------

  /** Name parts of a parsed target (alias stripped). */
  private def nameParts(p: LogicalPlan): Option[Seq[String]] = p match {
    case SubqueryAlias(_, c) => nameParts(c)
    case r: UnresolvedRelation => Some(r.multipartIdentifier)
    case t: UnresolvedTable => Some(t.multipartIdentifier)
    case t: UnresolvedTableOrView => Some(t.multipartIdentifier)
    case i: UnresolvedIdentifier => Some(i.nameParts)
    case _ => None
  }

  /** A statement on `parts` is the engine's when it names an engine
    * table, or a `t`/`dh.t` name the session catalog does not know (the
    * engine then creates it or raises its catalog error). */
  private def owns(e: Engine, parts: Seq[String]): Boolean =
    e.keyOf(parts).exists(k => e.tableExists(k) ||
      !e.spark.catalog.tableExists(parts.mkString(".")))
  private def owns(e: Engine, name: String): Boolean = owns(e, name.split('.').toSeq)

  private def fromTree(e: Engine, sql: String, p: LogicalPlan,
      returning: Option[Seq[String]]): Option[LogicalPlan] = {
    val target = p match {
      case i: InsertIntoStatement => Some(i.table)
      case c: Command => c.children.headOption
      case _ => None
    }
    target.flatMap(nameParts).filter(owns(e, _)).flatMap { parts =>
      val n = unq(e, parts)
      def ok(act: => Unit) = Some(done(e, sql)(act))
      def fieldName(f: FieldName) = f.name.last
      p match {
        case i: InsertIntoStatement
            if !i.overwrite && !i.byName && i.partitionSpec.isEmpty =>
          Some(dml(e, sql, n, returning, "ok") {
            (Seq(true), e.insertIntoReturning(n,
              insertFrame(e, n, i.userSpecifiedCols, i.query)))
          })
        case DeleteFromTable(_, cond) => Some(delete(e, sql, n, column(cond), returning))
        case UpdateTable(_, _, cond) =>
          val sets = assignments(n, p, "UPDATE SET")
          Some(dml(e, sql, n, returning, "updated_rows") {
            val (c, d) = e.updateWhereCore(n, sets, cond.map(column))
            (Seq(c), d)
          })
        case m: MergeIntoTable => Some(merge(e, sql, n, m))
        // DELETE-all through the same copy-on-write path: schema, NOT
        // NULL/ENUM metadata, defaults and version history all survive
        case TruncateTable(_) => Some(delete(e, sql, n, lit(true), None))
        case DropTable(_, ifExists, _) => ok(e.dropTable(n, ifExists))
        case RenameTable(_, to, false) => ok(e.renameTable(n, to.last))
        case c: CreateIndex => ok(e.createIndex(c.indexName, n,
          c.columns.map(x => fieldName(x._1)), ifNotExists = c.ignoreIfExists))
        case DropColumns(_, cols, ifExists) =>
          ok(cols.foreach(c => e.dropColumn(n, fieldName(c), ifExists)))
        case RenameColumn(_, c, to) => ok(e.renameColumn(n, fieldName(c), to))
        case AlterColumns(_, Seq(spec)) =>
          val c = fieldName(spec.column)
          (spec.newDataType, spec.newNullability, spec.newDefaultExpression,
              spec.dropDefault) match {
            case (None, Some(false), None, false) => ok(e.setNotNull(n, c))
            case (None, Some(true), None, false) => ok(e.dropNotNull(n, c))
            case (None, None, Some(d), false) =>
              ok(e.setDefault(n, c, d.originalSQL.trim))
            case (None, None, None, true) => ok(e.dropDefault(n, c))
            case _ => parseErr("unsupported ALTER COLUMN form")
          }
        case c: CreateTableAsSelect if (c.tableSpec match {
            case t: UnresolvedTableSpec => t.provider.isEmpty && t.location.isEmpty
            case _ => false }) =>
          ok(if (!(c.ignoreIfExists && e.tableExists(n)))
            e.createTableAs(n, frame(e, c.query)))
        case c: CreateMaterializedViewAsSelect =>
          ok(createMatView(e, n, c.query, c.ifNotExists))
        // the rows DESCRIBE gives a view: the table's query schema
        case d: DescribeRelation
            if d.partitionSpec.isEmpty && e.tableExists(n) =>
          Some(DescribeQueryCommand(sql, UnresolvedRelation(parts)))
        case _ => None
      }
    }
  }

  /** MERGE from Spark's parse (beyond the reference's verb set — see
    * [[Engine.mergeInto]] / [[Engine.mergeIntoColumns]]). The ON clause
    * must REDUCE to a conjunction of same-named, alias-qualified key
    * equalities (`t.k = s.k [AND …]`); any residue (range predicates,
    * OR) is a Parser Error, never a silent wrong-key merge. Both clauses
    * whole-row dispatch to the whole-row verb; any column-wise (or
    * absent) clause to the column-wise verb, where unnamed columns keep
    * target values on UPDATE and fill defaults/NULL on INSERT. */
  private def merge(e: Engine, sql: String, name: String,
      m: MergeIntoTable): GraftCommand = {
    val ta = m.targetTable match { case SubqueryAlias(a, _) => a.name; case _ => name }
    val (src, sa) = source(m.sourceTable)
    def conjuncts(x: Expression): Seq[Expression] = x match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(UnresolvedAttribute(Seq(a1, c1)), UnresolvedAttribute(Seq(a2, c2))) =>
        if (!c1.equalsIgnoreCase(c2))
          parseErr(s"MERGE ON must equate same-named key columns (got $c1 = $c2)")
        if (Set(a1.toLowerCase, a2.toLowerCase) != Set(ta.toLowerCase, sa.toLowerCase))
          parseErr("MERGE ON must equate the target and source aliases " +
            s"($ta, $sa); got $a1.$c1 = $a2.$c2")
        c1
      case other => parseErr("MERGE ON must be a conjunction of alias-" +
        "qualified key equalities (t.k = s.k [AND …]); unsupported " +
        s"predicate: '${other.sql}'")
    }
    if (m.notMatchedBySourceActions.nonEmpty || m.matchedActions.size > 1 ||
        m.notMatchedActions.size > 1)
      parseErr("MERGE supports one WHEN MATCHED and one WHEN NOT MATCHED clause")
    // None = the whole-row `*` form
    val matched = m.matchedActions.headOption.map {
      case UpdateStarAction(None) => None
      case UpdateAction(None, _, _) =>
        Some(assignments(ta, m.matchedActions.head, "MERGE UPDATE SET"))
      case a => parseErr(s"unsupported MERGE WHEN MATCHED clause: ${a.sql}")
    }
    val notMatched = m.notMatchedActions.headOption.map {
      case InsertStarAction(None) => None
      case InsertAction(None, as) => Some(as.map(a => field(a.key) -> column(a.value)))
      case a => parseErr(s"unsupported MERGE WHEN NOT MATCHED clause: ${a.sql}")
    }
    command(e, sql, "updated_rows", "inserted_rows") {
      val (u, i) = (matched, notMatched) match {
        case (Some(None), Some(None)) => e.mergeInto(name, frame(e, src), keys)
        case _ =>
          val whole = e.table(name).columns.toSeq.map(c => c -> col(s"$sa.$c"))
          e.mergeIntoColumnsCore(name, frame(e, src), keys, ta, sa,
            matched.map(_.getOrElse(whole)), notMatched.map(_.getOrElse(whole)))._1
      }
      Seq(u, i)
    }
  }

  // ---- shared pieces --------------------------------------------------

  /** A command with one row of `cols`: counts (LONG), or `ok`. */
  private def command(e: Engine, sql: String, cols: String*)(
      act: => Seq[Any]): GraftCommand =
    GraftCommand(sql, e, StructType(cols.map(c => StructField(c,
      if (c == "ok") BooleanType else LongType, nullable = false))),
      () => Seq(Row.fromSeq(act)))

  /** A command whose one row is `ok`. */
  private def done(e: Engine, sql: String)(act: => Unit): GraftCommand =
    command(e, sql, "ok") { act; Seq(true) }

  /** A DML verb: its counts, or with RETURNING the projection of the
    * rows it wrote — inserted rows with defaults filled, post-assignment
    * updated rows (target columns), deleted rows; an upsert's written
    * rows (skipped DO NOTHING conflicts are not returned, DuckDB's scope). */
  private def dml(e: Engine, sql: String, table: String,
      returning: Option[Seq[String]], cols: String*)(
      act: => (Seq[Any], DataFrame)): GraftCommand = returning match {
    case None => command(e, sql, cols: _*)(act._1)
    case Some(proj) => GraftCommand(sql, e,
      e.table(table).selectExpr(proj: _*).schema,
      () => act._2.selectExpr(proj: _*).collect().toSeq)
  }

  private def delete(e: Engine, sql: String, n: String, cond: Column,
      returning: Option[Seq[String]]): GraftCommand =
    dml(e, sql, n, returning, "deleted_rows") {
      val (c, d) = e.deleteFromCore(n, cond)
      (Seq(c), d)
    }

  private final case class InsertHead(name: String, cols: Seq[String],
      query: LogicalPlan)

  /** The INSERT before an upsert clause, as Spark parses it. */
  private def insertHead(e: Engine, s: String,
      parse: String => LogicalPlan): InsertHead =
    parse(DuckSyntax.insertValues(s)) match {
      case i: InsertIntoStatement if !i.overwrite =>
        InsertHead(unq(e, nameParts(i.table).get), i.userSpecifiedCols, i.query)
      case _ => parseErr("malformed INSERT before ON CONFLICT")
    }

  /** INSERT … ON CONFLICT and INSERT OR REPLACE/IGNORE: the insert frame
    * builds like a plain INSERT's, then upserts through the MERGE
    * machinery with the conflict columns as keys
    * ([[graft.EngineDml.insertOnConflictCore]]). `conflict` resolves the
    * keys and DO UPDATE set under the table lock. */
  private def upsert(e: Engine, sql: String, h: InsertHead,
      returning: Option[Seq[String]])(
      conflict: => (Seq[String], Option[Seq[(String, Column)]])): GraftCommand =
    dml(e, sql, h.name, returning, "updated_rows", "inserted_rows") {
      e.withTableLock(h.name) {
        val (keys, sets) = conflict
        val ((u, i), d) = e.insertOnConflictCore(h.name,
          insertFrame(e, h.name, h.cols, h.query), keys, sets)
        (Seq(u, i), d)
      }
    }

  /** The conflict target inferred from the table's sole registered index
    * (DuckDB resolves it through the UNIQUE constraint). */
  private def soleKeys(e: Engine, name: String, what: String, noun: String,
      spelling: String): Seq[String] =
    e.soleIndexCols(name).getOrElse(throw new IllegalArgumentException(
      s"Binder Error: $what needs exactly one index on $name to infer the " +
        s"conflict $noun — create one, or spell $spelling explicitly"))

  /** The full-width insert frame for `INSERT INTO t [(cols)] query`:
    * listed columns resolve case-insensitively against the target
    * schema (alter_table.test:99-101); omitted ones fill with their SET
    * DEFAULT expression when registered, NULL otherwise. */
  private def insertFrame(e: Engine, name: String, cols: Seq[String],
      query: LogicalPlan): DataFrame = {
    val src = frame(e, query)
    if (cols.isEmpty) src else {
      val target = e.table(name)
      val names = cols.map(c => target.columns.find(_.equalsIgnoreCase(c)).getOrElse(c))
      target.columns.foldLeft(src.toDF(names: _*)) { (df, c) =>
        if (names.contains(c)) df
        else df.withColumn(c, e.columnDefault(name, c).map(expr)
          .getOrElse(lit(null)).cast(target.schema(c).dataType))
      }.select(target.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** A parsed query or table as a frame. */
  private def frame(e: Engine, p: LogicalPlan): DataFrame =
    GraftSqlBridge.ofRows(e.spark, p)

  /** A FROM/USING source and the alias its columns bind under. */
  private def source(p: LogicalPlan): (LogicalPlan, String) = p match {
    case Project(_, rel) => source(rel)
    case SubqueryAlias(a, rel) => (rel, a.name)
    case r: UnresolvedRelation => (r, r.multipartIdentifier.last)
    case _ => parseErr("a join source must be a table or an aliased subquery")
  }

  /** SET assignments of a parsed UPDATE (or MERGE UPDATE action), which
    * must assign columns of `target`. */
  private def assignments(target: String, p: Any, what: String)
      : Seq[(String, Column)] = {
    val as = p match {
      case u: UpdateTable => u.assignments
      case a: UpdateAction => a.assignments
    }
    as.map { a =>
      a.key match {
        case UnresolvedAttribute(Seq(q, _)) if !q.equalsIgnoreCase(target) =>
          parseErr(s"$what must assign columns of the target table (got ${a.key.sql})")
        case UnresolvedAttribute(_) => field(a.key) -> column(a.value)
        case k => parseErr(s"malformed $what assignment: ${k.sql}")
      }
    }
  }

  private def field(x: Expression): String = x match {
    case u: UnresolvedAttribute => u.nameParts.last
    case other => parseErr(s"expected a column, got ${other.sql}")
  }

  private def column(x: Expression): Column = GraftSqlBridge.column(x)

  private def splitAt(s: String, kw: scala.util.matching.Regex)
      : (String, Option[String]) =
    DuckSyntax.findTop(s, kw).fold((s, Option.empty[String])) { case (i, j) =>
      (s.substring(0, i), Some(s.substring(j)))
    }

  /** Parse a COPY option list: `FORMAT x`, `HEADER [bool]`,
    * `DELIMITER 'c'`, `PARTITION_BY (cols)`, `AUTO_DETECT` (DuckDB's core
    * options — the ones with a Spark-side equivalent; PARTITION_BY maps
    * to the Hive-layout partitioned write q137 proves). Unknown options
    * raise a Binder Error rather than silently writing something
    * different. */
  private def copyOpts(raw: String): Map[String, String] = {
    def bool(k: String, v: String) = v.toLowerCase match {
      case "true" | "1" | "on" => "true"
      case "false" | "0" | "off" => "false"
      case other => parseErr(s"bad ${k.toUpperCase} value: $other")
    }
    Option(raw).toSeq.flatMap(DuckSyntax.splitTop).map(_.trim).filter(_.nonEmpty)
      .map { item =>
        val parts = item.split("\\s+", 2)
        val v = if (parts.length > 1)
          parts(1).trim.stripPrefix("'").stripSuffix("'") else "true"
        parts(0).toLowerCase match {
          case "format" => "format" -> v.toLowerCase
          case k @ ("header" | "auto_detect") => k -> bool(k, v)
          case "delimiter" | "delim" | "sep" => "delimiter" -> v
          case "partition_by" =>
            // `(a, b)` or a bare single column
            val cols = v.stripPrefix("(").stripSuffix(")")
              .split(",").map(_.trim).filter(_.nonEmpty)
            if (cols.isEmpty) parseErr("empty PARTITION_BY column list")
            "partition_by" -> cols.mkString(",")
          case other => throw new IllegalArgumentException(
            s"Binder Error: unsupported COPY option: $other")
        }
      }.toMap
  }

  /** Validate and execute a materialized-view definition. The plan must
    * be a grouped aggregate DIRECTLY over one table: bare dimension
    * columns (names or ordinals) in GROUP BY, and plain single-column
    * sum/min/max/avg/count calls (or count(*)) in the output — the
    * shapes [[graft.plans.MatViewRewrite]] can serve from stored
    * partials. WHERE/joins/expressions raise a Parser Error instead of
    * materializing something the rewrite could never use. */
  private def createMatView(e: Engine, name: String, plan: LogicalPlan,
      ifNotExists: Boolean): Unit = {
    if (e.tableExists(name)) {
      if (ifNotExists) return
      throw new IllegalArgumentException(
        s"""Catalog Error: Table with name "$name" already exists!""")
    }
    def strip(ex: Expression): Expression = ex match {
      case a: Alias => a.child
      case ua: UnresolvedAlias => ua.child
      case other => other
    }
    plan match {
      case Aggregate(groupings, aggExprs, rel: UnresolvedRelation, _) =>
        val outputs = aggExprs.map(strip)
        val dims = groupings.map(strip).map {
          case ua: UnresolvedAttribute => ua.nameParts.last
          case UnresolvedOrdinal(i) if i >= 1 && i <= outputs.size =>
            outputs(i - 1) match {
              case ua: UnresolvedAttribute => ua.nameParts.last
              case other => parseErr("materialized view GROUP BY " +
                s"ordinal $i must reference a plain column, got: ${other.sql}")
            }
          case other => parseErr("materialized view GROUP BY must list " +
            s"plain columns: ${other.sql}")
        }.distinct
        val dimSet = dims.map(_.toLowerCase).toSet
        val measures = outputs.flatMap {
          case ua: UnresolvedAttribute =>
            if (!dimSet.contains(ua.nameParts.last.toLowerCase))
              parseErr(s"column ${ua.nameParts.last} must appear in the " +
                "materialized view's GROUP BY or inside an aggregate")
            None
          case f: UnresolvedFunction =>
            val fn = f.nameParts.last.toLowerCase
            if (!Set("sum", "min", "max", "avg", "count").contains(fn))
              parseErr(s"materialized view aggregate $fn is not " +
                "re-aggregable from stored partials (supported: " +
                "sum/min/max/avg/count)")
            if (f.isDistinct || f.filter.isDefined)
              parseErr("DISTINCT/FILTER aggregates cannot be served " +
                "from materialized partials")
            f.arguments match {
              case Seq(ua: UnresolvedAttribute) =>
                if (dimSet.contains(ua.nameParts.last.toLowerCase))
                  parseErr("Binder Error: a column cannot be both " +
                    s"dimension and measure: ${ua.nameParts.last}")
                Some(ua.nameParts.last)
              case Seq(_: Literal) if fn == "count" => None // count(*)
              case Seq(_: UnresolvedStar) if fn == "count" => None
              case _ => parseErr("materialized view aggregates must be " +
                s"plain single-column calls, got: ${f.sql}")
            }
          case other => parseErr("materialized view output must be " +
            s"dimension columns or aggregate calls, got: ${other.sql}")
        }.distinct
        e.createMaterializedAggregate(name, unq(e, rel.multipartIdentifier),
          dims, measures, e.defaultMvPath(name))
      case _ => parseErr("materialized view definition must be a " +
        "grouped aggregate directly over a single table (no " +
        "WHERE/joins/subqueries — they would defeat the rewrite)")
    }
  }

  /** The engine name `name` spells ([[Engine.keyOf]]): the reference
    * qualifies tables with its attached-database alias
    * (`dh.enum_test_table` — enum_type_support.test:22), and this engine
    * IS that database. Any other qualifier is a catalog error. */
  private def unq(e: Engine, name: String): String =
    unq(e, name.split('.').toSeq)
  private def unq(e: Engine, parts: Seq[String]): String =
    e.keyOf(parts).getOrElse(e.missing(parts.mkString(".")))

  private def parseErr(msg: String): Nothing =
    throw new IllegalArgumentException(s"Parser Error: $msg")
}
