package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** Routes DDL/DML statement SQL to the engine catalog, mirroring the verb
  * set the reference intercepts at its catalog layer (CREATE/DROP/ALTER
  * TABLE, CREATE/DROP INDEX, INSERT, DELETE — duckherder_catalog.cpp,
  * duckherder_schema_catalog_entry.cpp — plus MERGE in its canonical
  * whole-row upsert spelling, beyond the reference's verb set).
  * SELECT-shaped statements return None and fall through to Spark SQL.
  *
  * Routing is PARSER-FIRST: the statement is classified with Spark's own
  * SQL parser, and anything that parses as a pure query is returned to
  * the Spark path unconditionally — no keyword inside a string literal,
  * identifier, or subquery can ever trip a route, by construction. Only
  * statements the parser confirms as a DDL/DML command family — or that
  * Spark cannot parse at all (DuckDB-only spellings: CREATE TYPE AS
  * ENUM, unsigned/HUGEINT DDL, hex BLOB literals) — reach the regex verb
  * extractors below, which then only pull out names and payloads (the
  * payloads themselves — column lists, predicates, source queries — are
  * parsed by Spark, not by regexes).
  */
private[graft] object SqlRouter {

  /** Parser-level statement classes that belong to the engine's routed
    * verb set. Everything else that parses is a plain query/command for
    * Spark. Matched by class name: these are parser-output statement
    * nodes whose packages moved across Spark versions, and the name set
    * is the stable surface. */
  private val RoutedFamilies = Set(
    "InsertIntoStatement", "DeleteFromTable", "MergeIntoTable",
    "UpdateTable",
    "CreateTable", "CreateTableAsSelect", "ReplaceTable", "DropTable",
    "AddColumns", "DropColumns", "RenameColumn", "AlterColumn",
    "AlterColumns", "RenameTable", "CreateIndex", "DropIndex",
    "CreateMaterializedViewAsSelect", "TruncateTable")

  /** Some(true) → Spark parses this as a routed command family;
    * Some(false) → Spark parses it as something else (pure query, or a
    * command the engine does not own); None → Spark cannot parse it
    * (DuckDB-only syntax — the regex routes decide). */
  private def parserFamily(e: Engine, q: String): Option[Boolean] =
    try {
      val plan = e.spark.sessionState.sqlParser.parsePlan(q)
      Some(RoutedFamilies.contains(plan.getClass.getSimpleName))
    } catch { case _: Exception => None }

  private val CreateTable =
    """(?is)\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.+)\)\s*""".r
  private val CreateTableAs =
    """(?is)\s*CREATE\s+TABLE\s+([\w.]+)\s+AS\s+(.+)""".r
  private val DropTable =
    """(?is)\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*""".r
  private val AlterAdd =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+(\w+(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)(?:\s+DEFAULT\s+(.+?))?\s*""".r
  private val AlterDrop =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMN\s+(IF\s+EXISTS\s+)?(\w+)\s*""".r
  // ALTER COLUMN matrix (ref catalog_utils.cpp:59-78); NOT NULL / DEFAULT
  // variants are matched before the generic SET DEFAULT expression
  private val AlterColType =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+(?:TYPE|SET\s+DATA\s+TYPE)\s+(\w+(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*""".r
  private val AlterSetNotNull =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+NOT\s+NULL\s*""".r
  private val AlterDropNotNull =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+NOT\s+NULL\s*""".r
  private val AlterDropDefault =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+DEFAULT\s*""".r
  private val AlterSetDefault =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+DEFAULT\s+(.+?)\s*""".r
  private val CreateType =
    """(?is)\s*CREATE\s+TYPE\s+(\w+)\s+AS\s+ENUM\s*\((.+)\)\s*""".r
  private val DropType =
    """(?is)\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val AlterRenameCol =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*""".r
  private val AlterRenameTable =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*""".r
  private val CreateIndex =
    """(?is)\s*CREATE\s+INDEX\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+ON\s+([\w.]+)\s*\(([\w\s,]+)\)\s*""".r
  private val DropIndex =
    """(?is)\s*DROP\s+INDEX\s+(IF\s+EXISTS\s+)?([\w.]+)\s*""".r
  private val InsertSql =
    """(?is)\s*INSERT\s+INTO\s+([\w.]+)\s+(VALUES\s*.+|SELECT\s+.+|FROM\s+.+)""".r
  private val InsertColsSql =
    """(?is)\s*INSERT\s+INTO\s+([\w.]+)\s*\(([\w\s,]+)\)\s+(VALUES\s*.+|SELECT\s+.+|FROM\s+.+)""".r
  private val DeleteSql =
    """(?is)\s*DELETE\s+FROM\s+([\w.]+)\s+WHERE\s+(.+)""".r
  // join-form DELETE (DuckDB/Postgres USING clause); the source and
  // optional WHERE split structurally like the UPDATE FROM form
  private val DeleteUsingSql =
    """(?is)\s*DELETE\s+FROM\s+([\w.]+)\s+USING\s+(.+)""".r
  // TRUNCATE [TABLE] name — empty the table, keep schema/constraints
  private val TruncateSql =
    """(?is)\s*TRUNCATE\s+(?:TABLE\s+)?([\w.]+)\s*;?\s*""".r
  // DuckDB upsert shorthands; the conflict target is inferred from the
  // table's single registered index (Engine.soleIndexCols)
  private val InsertOrSql =
    """(?is)\s*INSERT\s+OR\s+(REPLACE|IGNORE)\s+INTO\s+([\w.]+)(?:\s*\(([\w\s,]+)\))?\s+(VALUES\s*.+?|SELECT\s+.+?|FROM\s+.+?)\s*;?\s*""".r
  // head only — the SET list and optional WHERE split on the top-level
  // WHERE keyword (strings/parens honored), not inside this regex, so
  // a 'WHERE' inside a string literal or subquery cannot truncate the
  // assignment list
  private val UpdateSql =
    """(?is)\s*UPDATE\s+([\w.]+)\s+SET\s+(.+?)\s*;?\s*""".r
  private val DeleteAllSql =
    """(?is)\s*DELETE\s+FROM\s+([\w.]+)\s*""".r
  // MERGE head only — the USING source, ON clause, and WHEN clauses are
  // parsed structurally by routeMerge (balanced-paren subquery scan,
  // strict ON-conjunction validation, whole-row AND column-wise WHEN
  // forms). A statement that matches this head but has malformed
  // clauses raises a Parser Error rather than silently falling through
  // with partial semantics.
  private val MergeHead =
    """(?is)\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+USING\s+(.+?)\s*;?\s*""".r
  // materialized views: CREATE parses in Spark 4 (routed family above);
  // REFRESH/DROP are engine-only spellings that fail Spark's parser and
  // reach the regex routes. The CREATE's SELECT payload is parsed by
  // Spark and validated structurally in routeCreateMatView.
  private val CreateMatViewSql =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(SELECT\s+.+?)\s*;?\s*""".r
  private val RefreshMatViewSql =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*""".r
  private val DropMatViewSql =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*""".r
  // lakehouse maintenance spelling (Delta's OPTIMIZE, incl. its
  // ZORDER BY clause); engine-only — fails Spark's parser and
  // reaches the regex routes
  private val OptimizeSql =
    """(?is)\s*OPTIMIZE\s+([\w.]+)(?:\s+INTO\s+(\d+)\s+FILES)?(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*""".r
  // classifier lifecycle (engine-only spellings — fail Spark's parser
  // and reach the regex routes): train/persist, score, drop
  private val CreateClassifierSql =
    """(?is)\s*CREATE\s+CLASSIFIER\s+([\w.]+)\s+ON\s+([\w.]+)\s+LABEL\s+(\w+)(?:\s+TEXT\s+(\w+))?(?:\s+VOCAB\s+(\d+))?\s*;?\s*""".r
  private val DropClassifierSql =
    """(?is)\s*DROP\s+CLASSIFIER\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*""".r
  private val ClassifySql =
    """(?is)\s*CLASSIFY\s+([\w.]+)\s+ON\s+([\w.]+)\s*;?\s*""".r
  // serving-index lifecycle (engine-only spellings, the classifier
  // convention): inverted text index and IVF[-PQ] ANN index, each with
  // build + incremental refresh. Matched BEFORE the generic
  // CreateIndex/DropIndex regexes in the route order below.
  private val CreateTextIndexSql =
    """(?is)\s*CREATE\s+TEXT\s+INDEX\s+([\w.]+)\s+ON\s+([\w.]+)(?:\s*\((\w+)\))?\s*;?\s*""".r
  private val RefreshTextIndexSql =
    """(?is)\s*REFRESH\s+TEXT\s+INDEX\s+([\w.]+)\s*;?\s*""".r
  private val CreateAnnIndexSql =
    """(?is)\s*CREATE\s+ANN\s+INDEX\s+([\w.]+)\s+ON\s+([\w.]+)(?:\s*\((\w+)\))?(?:\s+(PQ))?\s*;?\s*""".r
  private val RefreshAnnIndexSql =
    """(?is)\s*REFRESH\s+ANN\s+INDEX\s+([\w.]+)\s*;?\s*""".r
  // durable shingle index (incremental dedup serving artifact) — same
  // lifecycle spellings as text/ANN; refresh resolves the build's
  // path/table/cap from the recorded meta
  private val CreateShingleIndexSql =
    """(?is)\s*CREATE\s+SHINGLE\s+INDEX\s+([\w.]+)\s+ON\s+([\w.]+)(?:\s+MAXDF\s+(\d+))?\s*;?\s*""".r
  private val RefreshShingleIndexSql =
    """(?is)\s*REFRESH\s+SHINGLE\s+INDEX\s+([\w.]+)\s*;?\s*""".r
  // serving-index maintenance: re-sort the refresh-appended tail back
  // into pruning order (the table-OPTIMIZE analog). Matched BEFORE the
  // generic OptimizeSql in the route order below.
  private val OptimizeTextIndexSql =
    """(?is)\s*OPTIMIZE\s+TEXT\s+INDEX\s+([\w.]+)\s*;?\s*""".r
  private val OptimizeAnnIndexSql =
    """(?is)\s*OPTIMIZE\s+ANN\s+INDEX\s+([\w.]+)\s*;?\s*""".r
  // DuckDB file-connector verbs (engine-only spellings — Spark has no
  // COPY statement, so these reach the regex routes): table form here;
  // the `COPY (query) TO …` form is scanned structurally in
  // routeCopyQuery (balanced parens — a regex can't delimit the query)
  private val CopyToSql =
    """(?is)\s*COPY\s+([\w.]+)\s+TO\s+'([^']+)'\s*(?:\((.*?)\))?\s*;?\s*""".r
  private val CopyFromSql =
    """(?is)\s*COPY\s+([\w.]+)\s+FROM\s+'([^']+)'\s*(?:\((.*?)\))?\s*;?\s*""".r
  private val CopyQueryHead = """(?is)\s*COPY\s*\(.+""".r
  private val CopyToTail =
    """(?is)\s*TO\s+'([^']+)'\s*(?:\((.*?)\))?\s*;?\s*""".r
  // whole-catalog move/backup (DuckDB verbs; parquet layout + a parquet
  // catalog manifest — EngineExport). An explicit FORMAT other than
  // parquet raises rather than silently writing parquet.
  private val ExportDbSql =
    """(?is)\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\((.*?)\))?\s*;?\s*""".r
  private val ImportDbSql =
    """(?is)\s*IMPORT\s+DATABASE\s+'([^']+)'\s*;?\s*""".r

  /** True iff `route` would intercept this statement — WITHOUT executing
    * anything (explain/plan paths must stay side-effect-free: Spark runs
    * DDL commands eagerly at sql(), and route() executes on match). */
  private[graft] def wouldRoute(e: Engine, q: String): Boolean =
    parserFamily(e, q) match {
      case Some(false) => false // Spark-parsed non-routed statement
      case _ => regexRoutable(q)
    }

  private def regexRoutable(q0: String): Boolean = {
    // a trailing RETURNING clause strips before classification, exactly
    // as route() strips it (DELETE FROM t RETURNING * must classify
    // even though no bare pattern matches the suffixed form)
    val q = returningParts(q0).map(_._1).getOrElse(q0)
    // every verb route() intercepts must appear here (SqlRouterSpec
    // asserts the wouldRoute-must-match-route contract) — the ON
    // CONFLICT form is covered via InsertSql/InsertColsSql, whose
    // source tail swallows the clause
    val patterns = Seq(CreateTable, CreateTableAs, DropTable, AlterColType,
      AlterSetNotNull, AlterDropNotNull, AlterDropDefault, AlterSetDefault,
      CreateType, DropType, AlterAdd, AlterDrop, AlterRenameCol,
      AlterRenameTable, CreateIndex, DropIndex, InsertOrSql, InsertColsSql,
      InsertSql, DeleteUsingSql, DeleteSql, DeleteAllSql, TruncateSql,
      UpdateSql, MergeHead, CreateMatViewSql,
      RefreshMatViewSql, DropMatViewSql, OptimizeSql,
      CreateClassifierSql, DropClassifierSql, ClassifySql,
      CreateTextIndexSql, RefreshTextIndexSql,
      CreateAnnIndexSql, RefreshAnnIndexSql,
      CreateShingleIndexSql, RefreshShingleIndexSql,
      OptimizeTextIndexSql, OptimizeAnnIndexSql,
      CopyToSql, CopyFromSql, CopyQueryHead,
      ExportDbSql, ImportDbSql)
    patterns.exists(_.pattern.matcher(q).matches())
  }

  /** The reference qualifies tables with its attached-database alias
    * (`dh.enum_test_table` — enum_type_support.test:22); this engine IS
    * that database, so a single leading qualifier drops. */
  private def unq(name: String): String =
    name.substring(name.lastIndexOf('.') + 1)

  /** Some(result) when routed; None → plain Spark SQL. */
  def route(e: Engine, q: String): Option[DataFrame] =
    parserFamily(e, q) match {
      case Some(false) => None // parser says pure query / unrouted command
      case _ => routeRegex(e, q)
    }

  private def routeRegex(e: Engine, q: String): Option[DataFrame] =
    returningParts(q) match {
      case Some((head, proj)) => routeReturning(e, head, proj)
      case None => routeRegexBody(e, q)
    }

  /** Split a DML statement at its top-level RETURNING clause (DuckDB's
    * affected-rows projection; Postgres-compatible). Only
    * INSERT/UPDATE/DELETE heads qualify; the scanner honors strings and
    * parens, so a RETURNING inside a literal or subquery never splits. */
  private def returningParts(sql: String): Option[(String, String)] = {
    val t = sql.trim
    val isDml = Seq("INSERT", "UPDATE", "DELETE")
      .exists(v => t.regionMatches(true, 0, v, 0, v.length))
    if (!isDml) None
    else splitTopKeyword(sql, "RETURNING") match {
      case (head, Some(proj)) if proj.trim.nonEmpty =>
        Some((head, proj.trim.stripSuffix(";").trim))
      case _ => None
    }
  }

  /** Shared SET-list parser for UPDATE (plain and RETURNING forms). */
  private def parseUpdateSets(name: String,
      setPart: String): Seq[(String, String)] =
    splitTopComma(setPart).map {
      case AssignSql(qual, c, ex) =>
        if (qual != null && !qual.equalsIgnoreCase(name))
          parseErr("UPDATE SET must assign columns of the target " +
            s"table (got $qual.$c)")
        c -> ex
      case bad => parseErr(s"malformed UPDATE assignment: '${bad.trim}'")
    }

  /** `INSERT/UPDATE/DELETE … RETURNING proj` — project the affected-row
    * frame the copy-on-write verbs already compute: inserted rows with
    * defaults filled; post-assignment updated rows (plain AND join-form
    * UPDATE — target columns, the standard target-row RETURNING scope);
    * deleted rows (plain and USING); upserts return the rows the
    * statement wrote (DO UPDATE's matched rows post-assignment plus the
    * inserted rows — skipped DO NOTHING conflicts are not returned,
    * DuckDB's scope). INSERT OR REPLACE re-expresses as the equivalent
    * all-columns DO UPDATE (target-key uniqueness is enforced first,
    * so the semantics coincide); OR IGNORE is DO NOTHING. */
  private def routeReturning(e: Engine, head: String,
      proj: String): Option[DataFrame] = {
    def projected(df: DataFrame): Option[DataFrame] =
      Some(df.selectExpr(splitTopComma(proj).map(_.trim): _*))
    insertConflictParts(head).foreach { case (ihead, tail) =>
      val (name, full) = insertHeadFrame(e, ihead)
      val (keys, updateSet) = parseConflictTail(e, name, tail)
      return projected(
        e.insertOnConflictReturning(name, full, keys, updateSet))
    }
    head match {
      case InsertOrSql(mode, name0, cols, source) =>
        val name = unq(name0)
        val keys = e.soleIndexCols(name).getOrElse(
          throw new IllegalArgumentException(
            s"Binder Error: INSERT OR ${mode.toUpperCase} needs " +
              s"exactly one index on $name to infer the conflict " +
              "target — create one, or spell INSERT ... ON CONFLICT " +
              "(cols) explicitly"))
        val full = insertFrame(e, name, Option(cols), source)
        // same one-lock scope as the non-RETURNING route: the
        // uniqueness probe and the upsert must see the same table state
        projected(e.withTableLock(name) {
          val updateSet = if (mode.equalsIgnoreCase("REPLACE")) {
            e.requireUniqueKeys(name, keys, "INSERT OR REPLACE")
            Some(e.table(name).columns.toSeq.map(c => c -> s"excluded.$c"))
          } else None
          e.insertOnConflictReturning(name, full, keys, updateSet)
        })
      case InsertColsSql(name0, cols, source) =>
        val name = unq(name0)
        projected(e.insertIntoReturning(name,
          insertFrame(e, name, Some(cols), source)))
      case InsertSql(name0, source) =>
        val name = unq(name0)
        projected(e.insertIntoReturning(name,
          insertFrame(e, name, None, source)))
      case UpdateSql(name0, rest) =>
        val name = unq(name0)
        val (headPart, wherePart) = splitTopWhere(rest)
        val (setPart, fromPart) = splitTopKeyword(headPart, "FROM")
        val sets = parseUpdateSets(name, setPart)
        fromPart match {
          case None =>
            projected(e.updateWhereReturning(name, sets,
              wherePart.map(expr)))
          case Some(src) =>
            val (df, alias) = updateSource(e, src)
            projected(e.updateFromReturning(name, sets, df, alias,
              wherePart))
        }
      case DeleteUsingSql(name0, rest) =>
        val name = unq(name0)
        val (srcPart, wherePart) = splitTopWhere(rest)
        val (df, alias) = updateSource(e, srcPart)
        projected(e.deleteUsingReturning(name, df, alias, wherePart))
      case DeleteSql(name, cond) =>
        projected(e.deleteFromReturning(unq(name), expr(cond)))
      case DeleteAllSql(name) =>
        projected(e.deleteFromReturning(unq(name), expr("true")))
      case _ => parseErr("malformed DML statement before RETURNING")
    }
  }

  private def routeRegexBody(e: Engine, q: String): Option[DataFrame] = q match {
    case CreateTable(ifNot, name0, cols) =>
      val name = unq(name0)
      val exists = e.tableNames.contains(name)
      if (exists && ifNot == null)
        throw new IllegalArgumentException(
          s"""Catalog Error: Table with name "$name" already exists!""")
      if (!exists) e.createTable(name, cols)
      Some(emptyOk(e))
    case CreateTableAs(name, query) =>
      e.createTableAs(unq(name), e.spark.sql(query)); Some(emptyOk(e))
    case CreateMatViewSql(ifNot, name, select) =>
      routeCreateMatView(e, unq(name), select, ifNot != null)
    case RefreshMatViewSql(name) =>
      e.refreshMaterializedAggregate(unq(name)); Some(emptyOk(e))
    case DropMatViewSql(ifEx, name) =>
      e.dropMaterializedAggregate(unq(name), ifExists = ifEx != null)
      Some(emptyOk(e))
    case OptimizeTextIndexSql(name0) =>
      e.optimizeTextIndex(unq(name0)); Some(emptyOk(e))
    case OptimizeAnnIndexSql(name0) =>
      e.optimizeAnnIndex(unq(name0)); Some(emptyOk(e))
    case OptimizeSql(name, files, zcols) =>
      val n = Option(files).map(_.toInt).getOrElse(0)
      Option(zcols) match {
        case Some(cs) =>
          // arity is validated engine-side (1 or 2 columns) so the
          // user gets a clear constraint error, not a parse fallthrough
          e.compactZOrder(unq(name),
            cs.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
              .filter(_.nonEmpty).toSeq, n)
        case None => e.compact(unq(name), n)
      }
      Some(emptyOk(e))
    case CreateClassifierSql(name, table, label, text, vocab) =>
      e.trainClassifier(unq(name), unq(table), label,
        Option(text).getOrElse("text"),
        Option(vocab).map(_.toInt)
          .getOrElse(graft.operators.CurationOps.NbVocabCap))
      Some(emptyOk(e))
    case DropClassifierSql(ifEx, name) =>
      e.dropClassifier(unq(name), ifExists = ifEx != null); Some(emptyOk(e))
    case ClassifySql(name, table) =>
      Some(e.classify(unq(name), unq(table)))
    case CreateTextIndexSql(name0, table, textCol) =>
      val name = unq(name0)
      e.buildTextIndex(name, unq(table), e.defaultIndexPath(name),
        textCol = Option(textCol).getOrElse("text"))
      Some(emptyOk(e))
    case RefreshTextIndexSql(name0) =>
      val name = unq(name0)
      // refresh against the path and columns the index was BUILT with
      // (recorded at build time, the annMeta pattern) — defaulting here
      // would re-tokenize the wrong column into an empty default path
      val (path, idCol, textCol) = e.textIndexMeta(name)
      val n = e.refreshTextIndex(name, e.indexTable(name), path,
        idCol, textCol)
      import e.spark.implicits._
      Some(Seq(n).toDF("indexed_docs"))
    case CreateAnnIndexSql(name0, table, embCol, pq) =>
      e.buildAnnIndex(unq(name0), unq(table),
        embCol = Option(embCol).getOrElse("embedding"), pq = pq != null)
      Some(emptyOk(e))
    case RefreshAnnIndexSql(name0) =>
      val name = unq(name0)
      val (idCol, embCol) = e.annIndexCols(name)
      val n = e.refreshAnnIndex(name, e.indexTable(name), idCol, embCol)
      import e.spark.implicits._
      Some(Seq(n).toDF("indexed_vecs"))
    case CreateShingleIndexSql(name0, table, mdf) =>
      val name = unq(name0)
      e.buildShingleIndex(name, unq(table), e.defaultIndexPath(name),
        maxDf = Option(mdf).map(_.toInt).getOrElse(1000))
      Some(emptyOk(e))
    case RefreshShingleIndexSql(name0) =>
      import e.spark.implicits._
      Some(Seq(e.refreshShingleIndex(unq(name0))).toDF("indexed_docs"))
    case CopyToSql(name, path, opts) =>
      val n = e.copyTo(e.table(unq(name)), path, copyOpts(opts))
      import e.spark.implicits._
      Some(Seq(n).toDF("copied_rows"))
    case CopyFromSql(name, path, opts) =>
      val n = e.copyFrom(unq(name), path, copyOpts(opts))
      import e.spark.implicits._
      Some(Seq(n).toDF("copied_rows"))
    case s if CopyQueryHead.pattern.matcher(s).matches() =>
      routeCopyQuery(e, s)
    case ExportDbSql(path, opts) =>
      copyOpts(opts).get("format").filter(_ != "parquet").foreach(f =>
        parseErr(s"EXPORT DATABASE supports FORMAT PARQUET (got $f)"))
      val n = e.exportDatabase(path)
      import e.spark.implicits._
      Some(Seq(n).toDF("tables_exported"))
    case ImportDbSql(path) =>
      val n = e.importDatabase(path)
      import e.spark.implicits._
      Some(Seq(n).toDF("tables_imported"))
    case DropTable(ifEx, name) =>
      e.dropTable(unq(name), ifExists = ifEx != null); Some(emptyOk(e))
    case AlterAdd(name, ifNot, col, typ, default) =>
      e.addColumn(unq(name), col, typ,
        Option(default).map(d => e.spark.sql(s"SELECT ($d) AS v").head().get(0)),
        ifNotExists = ifNot != null)
      Some(emptyOk(e))
    case AlterDrop(name, ifEx, col) =>
      e.dropColumn(unq(name), col, ifExists = ifEx != null); Some(emptyOk(e))
    case AlterColType(name, colName, typ) =>
      e.alterColumnType(unq(name), colName, typ); Some(emptyOk(e))
    case AlterSetNotNull(name, colName) =>
      e.setNotNull(unq(name), colName); Some(emptyOk(e))
    case AlterDropNotNull(name, colName) =>
      e.dropNotNull(unq(name), colName); Some(emptyOk(e))
    case AlterDropDefault(name, colName) =>
      e.dropDefault(unq(name), colName); Some(emptyOk(e))
    case AlterSetDefault(name, colName, d) =>
      e.setDefault(unq(name), colName, d.trim); Some(emptyOk(e))
    case CreateType(name, values) =>
      e.createEnum(name,
        "'([^']*)'".r.findAllMatchIn(values).map(_.group(1)).toSeq)
      Some(emptyOk(e))
    case DropType(ifEx, name) =>
      e.dropEnum(name, ifExists = ifEx != null); Some(emptyOk(e))
    case AlterRenameCol(name, from, to) =>
      e.renameColumn(unq(name), from, to); Some(emptyOk(e))
    case AlterRenameTable(from, to) =>
      e.renameTable(unq(from), unq(to)); Some(emptyOk(e))
    case CreateIndex(ifNot, idx, table, cols) =>
      e.createIndex(unq(idx), unq(table), cols.split(",").map(_.trim).toSeq,
        ifNotExists = ifNot != null)
      Some(emptyOk(e))
    case DropIndex(ifEx, idx) =>
      e.dropIndex(unq(idx), ifExists = ifEx != null); Some(emptyOk(e))
    case s if insertConflictParts(s).isDefined =>
      val (head, tail) = insertConflictParts(s).get
      routeInsertConflict(e, head, tail)
    case InsertOrSql(mode, name0, cols, source) =>
      val name = unq(name0)
      val keys = e.soleIndexCols(name).getOrElse(
        throw new IllegalArgumentException(
          s"Binder Error: INSERT OR ${mode.toUpperCase} needs exactly " +
            s"one index on $name to infer the conflict target — create " +
            "one, or spell INSERT ... ON CONFLICT (cols) explicitly"))
      val full = insertFrame(e, name, Option(cols), source)
      import e.spark.implicits._
      val (updated, inserted) =
        if (mode.equalsIgnoreCase("REPLACE")) {
          // duplicate TARGET keys would make the whole-row MERGE
          // collapse N rows into one — refuse, like DuckDB refuses the
          // shorthand absent a UNIQUE constraint. Probe and merge run
          // under ONE table lock (reentrant — mergeInto re-takes it):
          // a concurrent insert between them could otherwise introduce
          // the very duplicates the probe is meant to exclude
          e.withTableLock(name) {
            e.requireUniqueKeys(name, keys, "INSERT OR REPLACE")
            // whole-row replace ≡ the whole-row MERGE (dup-key sources
            // error there, matching DuckDB's can-not-update-twice rule)
            e.mergeInto(name,
              full.toDF(e.table(name).columns.toIndexedSeq: _*), keys)
          }
        }
        else e.insertOnConflict(name, full, keys, None)
      Some(Seq((updated, inserted)).toDF("updated_rows", "inserted_rows"))
    case InsertColsSql(name0, cols, source) =>
      val name = unq(name0)
      e.insertInto(name, insertFrame(e, name, Some(cols), source))
      Some(emptyOk(e))
    case InsertSql(name, source) =>
      e.insertInto(unq(name), sourceDf(e, source))
      Some(emptyOk(e))
    case MergeHead(name, tAlias, rest) =>
      routeMerge(e, name, Option(tAlias), rest)
    case UpdateSql(name0, rest) =>
      val name = unq(name0)
      val (head, wherePart) = splitTopWhere(rest)
      val (setPart, fromPart) = splitTopKeyword(head, "FROM")
      val sets = parseUpdateSets(name, setPart)
      val n = fromPart match {
        case None => e.updateWhere(name, sets, wherePart.map(expr))
        case Some(src) =>
          val (df, alias) = updateSource(e, src)
          e.updateFrom(name, sets, df, alias, wherePart)
      }
      import e.spark.implicits._
      Some(Seq(n).toDF("updated_rows"))
    case DeleteUsingSql(name0, rest) =>
      val name = unq(name0)
      val (srcPart, wherePart) = splitTopWhere(rest)
      val (df, alias) = updateSource(e, srcPart)
      val n = e.deleteUsing(name, df, alias, wherePart)
      import e.spark.implicits._
      Some(Seq(n).toDF("deleted_rows"))
    case DeleteSql(name, cond) =>
      val n = e.deleteFrom(unq(name), expr(cond))
      import e.spark.implicits._
      Some(Seq(n).toDF("deleted_rows"))
    case TruncateSql(name) =>
      // DELETE-all through the same copy-on-write path: schema, NOT
      // NULL/ENUM metadata, defaults, and version history all survive.
      // Routed unconditionally (wouldRoute must match route; a missing
      // table raises the catalog error inside deleteFrom) — falling
      // through would hand Spark an eager TruncateTableCommand that
      // dies on the engine temp view anyway
      val n = e.deleteFrom(unq(name), expr("true"))
      import e.spark.implicits._
      Some(Seq(n).toDF("deleted_rows"))
    case DeleteAllSql(name) if e.tableExists(unq(name)) =>
      val n = e.deleteFrom(unq(name), expr("true"))
      import e.spark.implicits._
      Some(Seq(n).toDF("deleted_rows"))
    case _ => None
  }

  // ---- COPY option list + query form -------------------------------------

  /** Parse a COPY option list: `FORMAT x`, `HEADER [bool]`,
    * `DELIMITER 'c'`, `PARTITION_BY (cols)` (DuckDB's core options —
    * the ones with a Spark-side equivalent; PARTITION_BY maps to the
    * Hive-layout partitioned write q137 proves). Unknown options raise
    * a Binder Error rather than silently writing something
    * different. */
  private def copyOpts(raw: String): Map[String, String] =
    Option(raw).map(_.trim).filter(_.nonEmpty).map { o =>
      splitTopComma(o).map(_.trim).filter(_.nonEmpty).map { item =>
        val parts = item.split("\\s+", 2)
        val k = parts(0).toLowerCase
        val v = if (parts.length > 1)
          parts(1).trim.stripPrefix("'").stripSuffix("'") else "true"
        k match {
          case "format" => "format" -> v.toLowerCase
          case "header" => "header" -> (v.toLowerCase match {
            case "true" | "1" | "on" => "true"
            case "false" | "0" | "off" => "false"
            case other => parseErr(s"bad HEADER value: $other")
          })
          case "delimiter" | "delim" | "sep" => "delimiter" -> v
          case "auto_detect" => "auto_detect" -> (v.toLowerCase match {
            case "true" | "1" | "on" => "true"
            case "false" | "0" | "off" => "false"
            case other => parseErr(s"bad AUTO_DETECT value: $other")
          })
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
    }.getOrElse(Map.empty)

  /** `COPY (query) TO '<path>' (opts)` — the query is delimited by a
    * balanced-paren scan (its body may contain parens/strings freely),
    * parsed by Spark, and written through the same engine verb as the
    * table form. */
  private def routeCopyQuery(e: Engine, s: String): Option[DataFrame] = {
    val open = s.indexOf('(')
    val close = matchParen(s, open)
    val inner = s.substring(open + 1, close)
    s.substring(close + 1) match {
      case CopyToTail(path, opts) =>
        val df = e.spark.sql(inner)
        val n = e.copyTo(df, path, copyOpts(opts))
        import e.spark.implicits._
        Some(Seq(n).toDF("copied_rows"))
      case _ =>
        parseErr("malformed COPY (query) — expected TO '<path>' [(opts)]")
    }
  }

  // ---- CREATE MATERIALIZED VIEW structural parser -----------------------

  /** Validate and execute a materialized-view definition. The SELECT is
    * parsed by Spark; the plan must be a grouped aggregate DIRECTLY over
    * one table: bare dimension columns (names or ordinals) in GROUP BY,
    * and plain single-column sum/min/max/avg/count calls (or count(*))
    * in the output — the shapes [[graft.plans.MatViewRewrite]] can serve
    * from stored partials. WHERE/joins/expressions raise a Parser Error
    * instead of materializing something the rewrite could never use. */
  private def routeCreateMatView(e: Engine, name: String, select: String,
      ifNotExists: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedOrdinal, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    if (e.tableExists(name)) {
      if (ifNotExists) return Some(emptyOk(e))
      throw new IllegalArgumentException(
        s"""Catalog Error: Table with name "$name" already exists!""")
    }
    val plan = e.spark.sessionState.sqlParser.parsePlan(select)
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
        e.createMaterializedAggregate(name, unq(rel.multipartIdentifier
          .mkString(".")), dims, measures, e.defaultMvPath(name))
        Some(emptyOk(e))
      case _ => parseErr("materialized view definition must be a " +
        "grouped aggregate directly over a single table (no " +
        "WHERE/joins/subqueries — they would defeat the rewrite)")
    }
  }

  // ---- MERGE statement structural parser --------------------------------

  /** What a WHEN clause asks for: `*` (whole-row) or explicit columns. */
  private sealed trait MergeAction
  private case object WholeRow extends MergeAction
  private final case class UpdateCols(assigns: Seq[(String, String)])
    extends MergeAction
  private final case class InsertCols(cols: Option[Seq[String]],
    vals: Seq[String]) extends MergeAction

  private val AliasOn =
    """(?is)\s*(?:(?:AS\s+)?(?!ON\b)(\w+)\s+)?ON\s+(.+)""".r
  private val OnWhen = """(?is)(.+?)\s+(WHEN\s+.+)""".r
  private val UpdAllClause =
    """(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s*""".r
  private val UpdSetClause =
    """(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+?)\s*""".r
  private val InsAllClause =
    """(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*""".r
  private val InsColsClause =
    """(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*\(([\w\s,]+)\)\s*VALUES\s*\((.+)\)\s*""".r
  private val InsValsClause =
    """(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+VALUES\s*\((.+)\)\s*""".r
  private val AssignSql =
    """(?is)\s*(?:(\w+)\.)?(\w+)\s*=\s*(.+?)\s*""".r
  private val KeyEq =
    """(?is)\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*""".r

  private def parseErr(msg: String): Nothing =
    throw new IllegalArgumentException(s"Parser Error: $msg")

  /** Index of the ')' closing the '(' at `open`, honoring single-quoted
    * SQL string literals (doubled '' escapes fall out naturally — each
    * quote toggles the in-string state). */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0; var i = open; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      // backslash-escaped chars never close the literal (Spark's lexer
      // honors \' by default); doubled '' falls out of quote-toggling
      if (inStr) { if (c == '\\') i += 1 else if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    parseErr("unbalanced parentheses in MERGE USING source")
  }

  /** Split on top-level commas (parentheses and string literals
    * honored) — assignment lists and VALUES payloads may contain commas
    * inside function calls. */
  private def splitTopComma(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; var start = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // backslash-escaped chars never close the literal (Spark's lexer
      // honors \' by default); doubled '' falls out of quote-toggling
      if (inStr) { if (c == '\\') i += 1 else if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  /** Split `rest` of an UPDATE at its top-level WHERE keyword
    * (parentheses / strings honored) — (set list, optional predicate).
    * A WHERE inside a string literal or a parenthesized subquery never
    * splits. */
  private def splitTopWhere(s: String): (String, Option[String]) =
    splitTopKeyword(s, "WHERE")

  /** Split `s` at the first top-level occurrence of keyword `kw`
    * (parentheses / strings honored, word-boundary matched) — a `kw`
    * inside a string literal, a parenthesized subquery, or a function
    * argument list (`extract(year FROM d)`) never splits. */
  private def splitTopKeyword(s: String, kw: String):
      (String, Option[String]) = {
    var depth = 0; var inStr = false; var i = 0
    val k0 = Character.toUpperCase(kw.charAt(0))
    val k1 = Character.toLowerCase(kw.charAt(0))
    def wb(j: Int): Boolean =
      j < 0 || j >= s.length ||
        (!Character.isLetterOrDigit(s.charAt(j)) && s.charAt(j) != '_')
    while (i < s.length) {
      val c = s.charAt(i)
      // backslash-escaped chars never close the literal (Spark's lexer
      // honors \' by default); doubled '' falls out of quote-toggling
      if (inStr) { if (c == '\\') i += 1 else if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case `k0` | `k1` if depth == 0 &&
            s.regionMatches(true, i, kw, 0, kw.length) &&
            wb(i - 1) && wb(i + kw.length) =>
          return (s.substring(0, i), Some(s.substring(i + kw.length)))
        case _ =>
      }
      i += 1
    }
    (s, None)
  }

  // UPDATE ... FROM source forms: a parenthesized subquery with a
  // mandatory alias, or a table name with an optional alias
  private val UpdateSrcSubquery =
    """(?is)\s*\((.+)\)\s*(?:AS\s+)?(\w+)\s*""".r
  private val UpdateSrcTable =
    """(?is)\s*([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s*""".r

  /** Build the full-width insert frame for `INSERT INTO t [(cols)]
    * source`: explicit-list columns resolve case-insensitively against
    * the target schema (alter_table.test:99-101); omitted columns fill
    * with their SET DEFAULT expression when registered, NULL otherwise.
    * Shared by the plain INSERT route and ON CONFLICT. */
  private def insertFrame(e: Engine, name: String, cols: Option[String],
      source: String): DataFrame = {
    val target = e.table(name)
    cols match {
      case None => sourceDf(e, source)
      case Some(list) =>
        val colNames = list.split(",").map(_.trim).map { c =>
          target.columns.find(_.equalsIgnoreCase(c)).getOrElse(c)
        }
        val src = sourceDf(e, source).toDF(colNames.toIndexedSeq: _*)
        target.columns.foldLeft(src) { (df, c) =>
          if (colNames.contains(c)) df
          else {
            val fill = e.columnDefault(name, c).map(expr)
              .getOrElse(org.apache.spark.sql.functions.lit(null))
            df.withColumn(c, fill.cast(target.schema(c).dataType))
          }
        }.select(target.columns.map(org.apache.spark.sql.functions.col)
          .toIndexedSeq: _*)
    }
  }

  // ON CONFLICT tails: conflict target column list, then DO NOTHING or
  // DO UPDATE SET assignments (the incoming row binds under the
  // standard `excluded` alias). The bare (target-less) forms infer the
  // keys from the table's sole registered index, like INSERT OR …
  private val ConflictNothing =
    """(?is)\s*\(([\w\s,]+)\)\s+DO\s+NOTHING\s*;?\s*""".r
  private val ConflictUpdate =
    """(?is)\s*\(([\w\s,]+)\)\s+DO\s+UPDATE\s+SET\s+(.+?)\s*;?\s*""".r
  private val ConflictNothingBare =
    """(?is)\s*DO\s+NOTHING\s*;?\s*""".r
  private val ConflictUpdateBare =
    """(?is)\s*DO\s+UPDATE\s+SET\s+(.+?)\s*;?\s*""".r

  /** Split an INSERT statement at its top-level ON CONFLICT clause;
    * None when the statement has none (or is not an INSERT). The two
    * keywords match as separate whitespace-delimited tokens (any
    * whitespace, including newlines and runs of spaces), and the
    * clause must be followed by a '(' conflict target or the DO
    * keyword — so a join condition on a column literally named
    * `conflict` (`… JOIN u ON conflict = u.k`) never trips the route.
    * The scanner honors strings and parens, so an ON CONFLICT inside a
    * VALUES string literal or a SELECT subquery never splits. */
  private def insertConflictParts(sql: String): Option[(String, String)] = {
    if (!sql.trim.regionMatches(true, 0, "INSERT", 0, 6)) return None
    val s = sql
    var depth = 0; var inStr = false; var i = 0
    def wb(j: Int): Boolean =
      j < 0 || j >= s.length ||
        (!Character.isLetterOrDigit(s.charAt(j)) && s.charAt(j) != '_')
    def skipWs(j0: Int): Int = {
      var j = j0
      while (j < s.length && Character.isWhitespace(s.charAt(j))) j += 1
      j
    }
    while (i < s.length) {
      val c = s.charAt(i)
      // backslash-escaped chars never close the literal; doubled ''
      // falls out of quote-toggling (same scanner as splitTopKeyword)
      if (inStr) { if (c == '\\') i += 1 else if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'O' | 'o' if depth == 0 &&
            s.regionMatches(true, i, "ON", 0, 2) && wb(i - 1) && wb(i + 2) =>
          val j = skipWs(i + 2)
          if (s.regionMatches(true, j, "CONFLICT", 0, 8) && wb(j + 8)) {
            val k = skipWs(j + 8)
            if (k < s.length && (s.charAt(k) == '(' ||
                (s.regionMatches(true, k, "DO", 0, 2) && wb(k + 2))))
              return Some((s.substring(0, i), s.substring(j + 8)))
          }
        case _ =>
      }
      i += 1
    }
    None
  }

  /** Resolve an INSERT head (before ON CONFLICT / RETURNING) to the
    * target name and the full-width insert frame (defaults fill,
    * exactly like a plain INSERT). */
  private def insertHeadFrame(e: Engine,
      head: String): (String, DataFrame) = head match {
    case InsertColsSql(n0, cols, source) =>
      val n = unq(n0); (n, insertFrame(e, n, Some(cols), source))
    case InsertSql(n0, source) =>
      val n = unq(n0); (n, insertFrame(e, n, None, source))
    case _ =>
      parseErr("malformed INSERT before ON CONFLICT")
  }

  /** Parse an ON CONFLICT tail to (conflict keys, DO UPDATE set list /
    * None for DO NOTHING). The target-less forms resolve through the
    * same sole-index inference as INSERT OR REPLACE/IGNORE (DuckDB
    * resolves them through the table's unique constraint; the index
    * registry plays that role). */
  private def parseConflictTail(e: Engine, name: String, tail: String)
      : (Seq[String], Option[Seq[(String, String)]]) = {
    def parseSets(sets: String): Seq[(String, String)] =
      splitTopComma(sets).map {
        case AssignSql(qual, c, ex) =>
          if (qual != null && !qual.equalsIgnoreCase(name))
            parseErr("ON CONFLICT DO UPDATE SET must assign columns " +
              s"of the target table (got $qual.$c)")
          c -> ex
        case bad =>
          parseErr(s"malformed ON CONFLICT assignment: '${bad.trim}'")
      }
    def inferredKeys: String = e.soleIndexCols(name)
      .map(_.mkString(",")).getOrElse(
        throw new IllegalArgumentException(
          "Binder Error: ON CONFLICT without a target needs exactly " +
            s"one index on $name to infer the conflict columns — " +
            "create one, or spell ON CONFLICT (cols) explicitly"))
    val (keysRaw, updateSet) = tail match {
      case ConflictNothing(keys) => (keys, None)
      case ConflictUpdate(keys, sets) => (keys, Some(parseSets(sets)))
      case ConflictNothingBare() => (inferredKeys, None)
      case ConflictUpdateBare(sets) => (inferredKeys, Some(parseSets(sets)))
      case _ =>
        parseErr("malformed ON CONFLICT clause (expected " +
          "[(cols)] DO NOTHING | [(cols)] DO UPDATE SET ...)")
    }
    (keysRaw.split(",").map(_.trim).filter(_.nonEmpty).toSeq, updateSet)
  }

  /** Route `INSERT INTO t [(cols)] source ON CONFLICT (keys) DO …`:
    * the insert frame builds exactly like a plain INSERT (defaults
    * fill), then upserts through the MERGE machinery with the conflict
    * columns as keys ([[graft.EngineDml.insertOnConflict]]). */
  private def routeInsertConflict(e: Engine, head: String,
      tail: String): Option[DataFrame] = {
    val (name, full) = insertHeadFrame(e, head)
    val (keys, updateSet) = parseConflictTail(e, name, tail)
    val (updated, inserted) =
      e.insertOnConflict(name, full, keys, updateSet)
    import e.spark.implicits._
    Some(Seq((updated, inserted)).toDF("updated_rows", "inserted_rows"))
  }

  /** Resolve the FROM clause of a join-form UPDATE to a frame plus the
    * alias its columns bind under in SET/WHERE expressions. */
  private def updateSource(e: Engine, src: String): (DataFrame, String) =
    src match {
      case UpdateSrcSubquery(inner, alias) =>
        (e.spark.sql(inner), alias)
      case UpdateSrcTable(n, alias) =>
        val tn = unq(n)
        val df = if (e.tableExists(tn)) e.table(tn) else e.spark.table(tn)
        (df, Option(alias).getOrElse(tn))
      case other =>
        parseErr(s"malformed UPDATE FROM source: '${other.trim}'")
    }

  /** Split on top-level AND keywords (parentheses / strings honored). */
  private def splitTopAnd(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; var start = 0; var i = 0
    def wordBoundary(j: Int): Boolean =
      j < 0 || j >= s.length ||
        (!Character.isLetterOrDigit(s.charAt(j)) && s.charAt(j) != '_')
    while (i < s.length) {
      val c = s.charAt(i)
      // backslash-escaped chars never close the literal (Spark's lexer
      // honors \' by default); doubled '' falls out of quote-toggling
      if (inStr) { if (c == '\\') i += 1 else if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'A' | 'a' if depth == 0 &&
            s.regionMatches(true, i, "AND", 0, 3) &&
            wordBoundary(i - 1) && wordBoundary(i + 3) =>
          out += s.substring(start, i); start = i + 3; i += 2
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  /** Extract the MERGE key columns from the ON clause. The clause must
    * REDUCE to a conjunction of same-named, alias-qualified key
    * equalities — after splitting on top-level ANDs, every piece must
    * be exactly `a.k = b.k` with {a, b} = {target alias, source alias}.
    * Any residue (extra range predicates, OR, parenthesized disjuncts)
    * is a Parser Error, never a silent wrong-key merge. */
  private def mergeKeys(onCond: String, ta: String, sa: String):
      Seq[String] =
    splitTopAnd(onCond).map {
      case KeyEq(a1, c1, a2, c2) =>
        if (!c1.equalsIgnoreCase(c2))
          parseErr("MERGE ON must equate same-named key columns " +
            s"(got $c1 = $c2)")
        val pair = Set(a1.toLowerCase, a2.toLowerCase)
        if (pair != Set(ta.toLowerCase, sa.toLowerCase))
          parseErr("MERGE ON must equate the target and source aliases " +
            s"($ta, $sa); got $a1.$c1 = $a2.$c2")
        c1
      case other =>
        parseErr("MERGE ON must be a conjunction of alias-qualified " +
          s"key equalities (t.k = s.k [AND …]); unsupported predicate: " +
          s"'${other.trim}'")
    }

  /** MERGE statement body (beyond the reference's verb set — see
    * [[Engine.mergeInto]] / [[Engine.mergeIntoColumns]]). Grammar:
    * {{{
    * MERGE INTO tgt [AS t]
    * USING (subquery)|src_table [AS s]
    * ON t.k = s.k [AND …]
    * [WHEN MATCHED THEN UPDATE SET * | SET c = expr, …]
    * [WHEN NOT MATCHED THEN INSERT * | INSERT [(cols)] VALUES (…)]
    * }}}
    * The USING subquery is delimited by a balanced-paren scan, so
    * nested joins containing interior `) alias ON` sequences parse
    * correctly. Both-whole-row dispatches to the whole-row engine verb;
    * any column-wise clause dispatches to the column-wise verb
    * (unnamed columns keep target values on UPDATE, fill defaults/NULL
    * on INSERT). Missing aliases default to the unqualified table
    * name. */
  private def routeMerge(e: Engine, name0: String, tAlias: Option[String],
      rest0: String): Option[DataFrame] = {
    val rest = rest0.trim
    val (src, srcName, afterSrc) =
      if (rest.startsWith("(")) {
        val close = matchParen(rest, 0)
        (e.spark.sql(rest.substring(1, close)),
          None, rest.substring(close + 1))
      } else """(?s)\s*([\w.]+)(.*)""".r.findFirstMatchIn(rest) match {
        case Some(m) =>
          val t = unq(m.group(1))
          (e.spark.sql(s"SELECT * FROM $t"), Some(t), m.group(2))
        case None => parseErr("malformed MERGE USING source")
      }
    val (sAlias, afterOn) = afterSrc match {
      case AliasOn(a, r) => (Option(a), r)
      case _ => parseErr("expected [AS alias] ON <cond> after MERGE " +
        "USING source")
    }
    val (onCond, whenPart) = afterOn match {
      case OnWhen(c, w) => (c, w)
      case _ => parseErr("MERGE requires at least one WHEN clause")
    }
    val ta = tAlias.getOrElse(unq(name0))
    val sa = sAlias.orElse(srcName).getOrElse(parseErr(
      "a MERGE USING subquery requires an alias"))
    val keys = mergeKeys(onCond, ta, sa)
    // clauses split on the unambiguous WHEN NOT MATCHED boundary (a
    // plain WHEN delimiter would false-trigger on CASE WHEN inside
    // assignment expressions)
    val parts = whenPart.split("""(?i)(?=WHEN\s+NOT\s+MATCHED\b)""")
    if (parts.length > 2)
      parseErr("at most one WHEN NOT MATCHED clause is supported")
    var matched: Option[MergeAction] = None
    var notMatched: Option[MergeAction] = None
    parts.map(_.trim).filter(_.nonEmpty).foreach {
      case UpdAllClause() => matched = Some(WholeRow)
      case UpdSetClause(assigns) =>
        matched = Some(UpdateCols(splitTopComma(assigns).map {
          case AssignSql(qual, c, ex) =>
            if (qual != null && !qual.equalsIgnoreCase(ta))
              parseErr("MERGE UPDATE SET must assign target columns " +
                s"(got $qual.$c)")
            c -> ex
          case bad => parseErr(s"malformed MERGE assignment: '${bad.trim}'")
        }))
      case InsAllClause() => notMatched = Some(WholeRow)
      case InsColsClause(cols, vals) =>
        notMatched = Some(InsertCols(
          Some(cols.split(",").map(_.trim).toSeq), splitTopComma(vals)))
      case InsValsClause(vals) =>
        notMatched = Some(InsertCols(None, splitTopComma(vals)))
      case bad => parseErr(s"unsupported MERGE WHEN clause: '${bad.take(60)}'")
    }
    if (matched.isEmpty && notMatched.isEmpty)
      parseErr("MERGE requires at least one WHEN clause")
    val name = unq(name0)
    val (updated, inserted) = (matched, notMatched) match {
      case (Some(WholeRow), Some(WholeRow)) =>
        e.mergeInto(name, src, keys)
      case _ =>
        // any column-wise (or absent) clause → the column-wise verb;
        // whole-row sides expand to per-column source assignments
        val allCols = e.table(name).columns.toSeq
        val updateSet = matched.map {
          case WholeRow => allCols.map(c => c -> s"$sa.$c")
          case UpdateCols(assigns) => assigns
          case _: InsertCols => parseErr("INSERT form in WHEN MATCHED")
        }
        val insertSpec = notMatched.map {
          case WholeRow => (allCols, allCols.map(c => s"$sa.$c"))
          case InsertCols(cols, vals) =>
            (cols.getOrElse {
              if (vals.size != allCols.size)
                parseErr("MERGE INSERT VALUES arity differs from the " +
                  s"target's ${allCols.size} columns")
              allCols
            }, vals)
          case _: UpdateCols => parseErr("UPDATE form in WHEN NOT MATCHED")
        }
        e.mergeIntoColumns(name, src, keys, ta, sa, updateSet, insertSpec)
    }
    import e.spark.implicits._
    Some(Seq((updated, inserted)).toDF("updated_rows", "inserted_rows"))
  }

  private def sourceDf(e: Engine, source: String): DataFrame =
    if (source.trim.toUpperCase.startsWith("VALUES"))
      e.spark.sql(s"SELECT * FROM (${DuckSyntax.valuesPayload(source)}) AS __v")
    else e.spark.sql(source)

  private def emptyOk(e: Engine): DataFrame = {
    import e.spark.implicits._
    Seq(true).toDF("ok")
  }
}
