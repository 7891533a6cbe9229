package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Worker registration (≈ duckherder_register_worker /
  * register_or_replace_driver) and the remote ALTER TABLE matrix
  * (≈ catalog_utils.cpp:23-84) as DataFrame rewrites under the
  * per-table writer lock. Split from Engine.scala along its section
  * seam; state and semantics unchanged. */
private[graft] trait EngineDdl { self: Engine =>

  // ---- dynamic worker registration ------------------------------------
  // ≈ duckherder_register_worker / duckherder_register_or_replace_driver
  // (reference: src/server/driver/distributed_server_function.cpp:35-281).
  // Two pool views: by default the worker pool IS Spark's executor
  // parallelism (a static cluster); once explicit registration is enabled
  // the pool is what has REGISTERED — the dynamic-allocation view, where
  // workers join after the server is up and the count observably grows.
  private val namedWorkers =
    scala.collection.mutable.LinkedHashMap[String, String]()
  private var explicitRegistration = false
  private var driverNode: Option[(String, String)] = None

  /** Switch `workerCount` to the explicit registry (starts empty — a
    * freshly started server with standalone workers not yet registered
    * reports 0, as the reference does). */
  def enableWorkerRegistry(): Unit = explicitRegistration = true

  /** Register a named worker endpoint; re-registering a name replaces
    * its address (endpoint restart), not a second worker. */
  def registerWorker(name: String, address: String): Unit = {
    explicitRegistration = true
    namedWorkers(name) = address
  }

  /** Idempotent by construction: the driver slot holds one node and
    * each call replaces it — registering the current driver again or a
    * successor both succeed, and the worker pool is untouched. */
  def registerOrReplaceDriver(name: String, address: String): Unit =
    driverNode = Some(name -> address)

  def registeredDriver: Option[(String, String)] = driverNode

  /** ≈ duckherder_get_worker_count(): the explicit registry when
    * registration is live, executor parallelism otherwise. */
  def workerCount: Int =
    if (explicitRegistration) namedWorkers.size
    else spark.sparkContext.defaultParallelism

  /** ≈ duckherder_stop_local_server(). */
  def stop(): Unit = spark.stop()

  // ---- DDL -------------------------------------------------------------

  def createTable(name: String, schemaDdl: String): Unit = {
    if (registry.contains(name))
      throw new IllegalArgumentException(
        s"Catalog Error: Table with name \"$name\" already exists!")
    // normalize only the TYPE position of each `name type` pair — a column
    // merely NAMED like a type keyword (docs(text VARCHAR)) keeps its name;
    // degraded-carry types record their origin for rewrite/canonicalization
    var (ddl, origins) = Engine.normalizeColumns(schemaDdl)
    origins.foreach { case (c, o) => typeOrigins.put((name, c), o) }
    // columns typed with a registered ENUM map to STRING (SURVEY §1.2) and
    // are recorded so enum_ord / introspection can recover the type
    enums.keys.foreach { en =>
      val p = s"(?i)(\\b\\w+\\s+)${java.util.regex.Pattern.quote(en)}\\b".r
      p.findAllMatchIn(ddl).foreach { m =>
        enumCols.put((name, m.group(1).trim), en)
      }
      ddl = p.replaceAllIn(ddl, "$1STRING")
    }
    val schema = StructType.fromDDL(ddl)
    put(name, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), 0L)
  }

  def createTableAs(name: String, df: DataFrame): Unit = {
    if (registry.contains(name))
      throw new IllegalArgumentException(
        s"Catalog Error: Table with name \"$name\" already exists!")
    put(name, df, rowsWithoutJob(df))
  }

  def dropTable(name: String, ifExists: Boolean = false): Unit = {
    if (!registry.contains(name)) {
      if (ifExists) return else missing(name)
    }
    // index metadata (serving tags, text/ANN build params) must not
    // outlive the registry entries it describes
    indexRegistry.toSeq.collect { case (ix, (t, _)) if t == name => ix }
      .foreach { ix =>
        annMeta.remove(ix); annPath.remove(ix); textMeta.remove(ix)
        textSeen.remove(ix)
        tokenizerMeta.remove(ix); classifierMeta.remove(ix)
        servingIndexes.remove(ix)
      }
    indexRegistry.filterInPlace { case (_, (t, _)) => t != name }
    defaults.filterInPlace { case ((t, _), _) => t != name }
    notNullCols.filterInPlace { case ((t, _), _) => t != name }
    enumCols.filterInPlace { case ((t, _), _) => t != name }
    typeOrigins.filterInPlace { case ((t, _), _) => t != name }
    matViews.remove(name)
    unregisterTable(name)
    // drop restarts history: no retained snapshot can reach this
    // table's compaction artifacts anymore — reclaim them all
    reclaimCompactArtifacts(name, keepLast = false)
  }

  // ALTER TABLE matrix (ref: catalog_utils.cpp:23-84 regenerates these as
  // SQL; here they are DataFrame rewrites on the managed table). Each
  // verb is a read-modify-write of the registry entry, so it runs under
  // the same per-table writer lock as the DML verbs — the single-table
  // writer serialization guarantee covers the WHOLE mutation surface,
  // not just INSERT/MERGE/DELETE.
  def addColumn(name: String, col: String, typeDdl: String,
      default: Option[Any] = None, ifNotExists: Boolean = false): Unit =
      withTableLock(name) {
    val e = registry.getOrElse(name, missing(name))
    if (e.df.columns.contains(col)) {
      if (!ifNotExists)
        throw new IllegalArgumentException(
          s"Catalog Error: Column with name $col already exists!")
    } else {
      Engine.detectOrigin(typeDdl).foreach(o =>
        typeOrigins.put((name, col), o))
      val v = default.map(lit).getOrElse(lit(null))
        .cast(Engine.normalizeType(typeDdl))
      put(name, e.df.withColumn(col, v), e.rowsIfKnown)
    }
  }

  def dropColumn(name: String, col: String, ifExists: Boolean = false):
      Unit = withTableLock(name) {
    val e = registry.getOrElse(name, missing(name))
    if (!e.df.columns.contains(col)) {
      if (!ifExists)
        throw new IllegalArgumentException(
          s"Catalog Error: Column with name $col does not exist!")
    } else {
      rekeyColumnMeta(name, col, None)
      put(name, e.df.drop(col), e.rowsIfKnown)
    }
  }

  def renameColumn(name: String, from: String, to: String): Unit =
      withTableLock(name) {
    val e = registry.getOrElse(name, missing(name))
    if (!e.df.columns.contains(from))
      throw new IllegalArgumentException(
        s"Catalog Error: Column with name $from does not exist!")
    rekeyColumnMeta(name, from, Some(to))
    put(name, e.df.withColumnRenamed(from, to), e.rowsIfKnown)
  }

  /** Locks the SOURCE name: a racing DML on `from` serializes with the
    * rename; the destination-exists probe runs inside the critical
    * section. */
  def renameTable(from: String, to: String): Unit = withTableLock(from) {
    val e = registry.getOrElse(from, missing(from))
    if (registry.contains(to))
      throw new IllegalArgumentException(
        s"Catalog Error: Table with name \"$to\" already exists!")
    def rekey[V](m: TrieMap[(String, String), V]): Unit =
      m.keys.filter(_._1 == from).foreach { k =>
        m.remove(k).foreach(v => m.put((to, k._2), v))
      }
    rekey(defaults); rekey(notNullCols); rekey(enumCols); rekey(typeOrigins)
    unregisterTable(from)
    put(to, e.df, e.rowsIfKnown)
  }

  /** ALTER COLUMN c TYPE t (catalog_utils.cpp:59-62): in-place cast
    * preserving column position. */
  def alterColumnType(name: String, colName: String, typeDdl: String):
      Unit = withTableLock(name) {
    val e = registry.getOrElse(name, missing(name))
    if (!e.df.columns.contains(colName))
      throw new IllegalArgumentException(
        s"Catalog Error: Column with name $colName does not exist!")
    Engine.detectOrigin(typeDdl) match {
      case Some(o) => typeOrigins.put((name, colName), o)
      case None => typeOrigins.remove((name, colName))
    }
    put(name, e.df.withColumn(colName,
      e.df.col(colName).cast(Engine.normalizeType(typeDdl))), e.rowsIfKnown)
  }

  /** ALTER COLUMN c SET DEFAULT expr (catalog_utils.cpp:63-68): the
    * default applies to later INSERTs that omit the column. */
  def setDefault(name: String, colName: String, exprSql: String): Unit = {
    requireColumn(name, colName)
    defaults.put((name, colName), exprSql)
  }

  def dropDefault(name: String, colName: String): Unit = {
    requireColumn(name, colName)
    defaults.remove((name, colName))
  }

  /** Default expression for a column, if one was SET. */
  def columnDefault(name: String, colName: String): Option[String] =
    defaults.get((name, colName))

  /** ALTER COLUMN c SET NOT NULL (catalog_utils.cpp:69-73). Existing rows
    * are validated with an early-terminating probe; future inserts carry
    * the check inside the insert plan (distributed, lazy — no extra
    * scan pass). */
  def setNotNull(name: String, colName: String): Unit = {
    val e = registry.getOrElse(name, missing(name))
    requireColumn(name, colName)
    if (e.df.filter(e.df.col(colName).isNull).head(1).nonEmpty)
      throw new IllegalArgumentException(
        s"Constraint Error: column $colName contains NULL values")
    notNullCols.put((name, colName), ())
  }

  def dropNotNull(name: String, colName: String): Unit = {
    requireColumn(name, colName)
    notNullCols.remove((name, colName))
  }

  def isNotNull(name: String, colName: String): Boolean =
    notNullCols.contains((name, colName))

  /** ENUM type declared for a column at CREATE TABLE, if any. */
  def enumTypeOf(name: String, colName: String): Option[String] =
    enumCols.get((name, colName))

  private def requireColumn(name: String, colName: String): Unit = {
    val e = registry.getOrElse(name, missing(name))
    if (!e.df.columns.contains(colName))
      throw new IllegalArgumentException(
        s"Catalog Error: Column with name $colName does not exist!")
  }

  private def rekeyColumnMeta(table: String, from: String,
      to: Option[String]): Unit = {
    def rekey[V](m: TrieMap[(String, String), V]): Unit =
      m.remove((table, from)).foreach { v =>
        to.foreach(t => m.put((table, t), v))
      }
    rekey(defaults); rekey(notNullCols); rekey(enumCols); rekey(typeOrigins)
  }
}
