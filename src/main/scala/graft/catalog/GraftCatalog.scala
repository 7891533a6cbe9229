package graft.catalog

import java.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark V2 TableCatalog over parquet-backed tables — the "proper"
  * catalog form of the engine registry (SURVEY §2.1 #21): registered
  * tables resolve in ANY session as `graft.<table>` with full Catalyst
  * integration (pushdown, pruning, AQE), no temp views required.
  *
  * {{{
  * spark.sql.catalog.graft=graft.catalog.GraftCatalog
  * spark.sql.catalog.graft.dir=/root/testdata/sf0.01   // optional auto-mount
  * spark.sql("SELECT count(*) FROM graft.lineitem")
  * }}}
  *
  * `dir` auto-mounts every `<dir>/<name>.parquet`; `GraftCatalog.mount`
  * adds tables at runtime. Writes go through the engine's DML verbs
  * (the reference routes DML through its own operators too); the
  * catalog is the read/metadata surface.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"
  private val tables = TrieMap.empty[String, String] // name -> parquet path

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    Option(options.get("dir")).foreach { dir =>
      val d = new java.io.File(dir)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => tables.put(
          f.getName.stripSuffix(".parquet"), f.getAbsolutePath))
    }
    GraftCatalog.instances.put(name, this)
  }

  override def name(): String = catalogName

  def mount(table: String, path: String): Unit = tables.put(table, path)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keys.toArray.sorted.map(Identifier.of(namespace, _))

  override def loadTable(ident: Identifier): Table = {
    val path = tables.getOrElse(ident.name(),
      throw new NoSuchTableException(ident))
    GraftSqlBridge.parquetTable(ident.name(), path)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val loc = Option(properties.get(TableCatalog.PROP_LOCATION))
      .getOrElse(throw new UnsupportedOperationException(
        "graft catalog tables need an explicit LOCATION (parquet path)"))
    if (tables.contains(ident.name()))
      throw new TableAlreadyExistsException(ident)
    tables.put(ident.name(), loc)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "ALTER on graft catalog tables routes through Engine.addColumn/…")

  override def dropTable(ident: Identifier): Boolean =
    tables.remove(ident.name()).isDefined

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val path = tables.remove(oldIdent.name())
      .getOrElse(throw new NoSuchTableException(oldIdent))
    tables.put(newIdent.name(), path)
  }

  // -- SupportsNamespaces (single flat namespace) -----------------------
  override def listNamespaces(): Array[Array[String]] = Array(Array.empty)
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty
  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = new util.HashMap()
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("flat namespace")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("flat namespace")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    false
}

object GraftCatalog {
  /** Initialized instances by catalog name (for runtime mounts). */
  val instances: TrieMap[String, GraftCatalog] = TrieMap.empty
}
