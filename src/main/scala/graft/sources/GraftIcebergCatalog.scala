package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.iceberg.{IcebergTable, IcebergWriter}

/** Spark `CatalogPlugin` over the Iceberg REST catalog protocol, so SQL
  * resolves tables through the catalog exactly like the reference's flow
  * (`rest_client.py:84-88` get_table → metadata-location → open table,
  * `test_rest.py:74-79`):
  *
  * {{{
  *   spark.sql.catalog.ice     = graft.sources.GraftIcebergCatalog
  *   spark.sql.catalog.ice.uri = http://catalog:8181
  *   // then:
  *   spark.sql("SELECT * FROM ice.ns.tbl")
  *   spark.sql("SELECT * FROM ice.ns.tbl VERSION AS OF <snapshot-id>")
  *   spark.sql("SELECT * FROM ice.ns.tbl TIMESTAMP AS OF '2026-01-01'")
  * }}}
  *
  * Reads return the DSv2 [[GraftIcebergV2Table]] (columnar batch scan with
  * statistics). DDL (create/drop namespace + table) delegates to the REST
  * endpoints; `renameTable`/`alterTable` are not in the protocol subset the
  * reference covers and raise.
  */
class GraftIcebergCatalog extends TableCatalog with SupportsNamespaces
    with IcebergTransformFunctions
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  /** SQL `CALL cat.system.<proc>(table => 'db.t', ...)` — the shared
    * maintenance registry ([[GraftProcedures]]). Tables resolve through
    * the REST catalog and carry its `RestOps`, so a maintenance commit gets
    * the same catalog atomicity as DML. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, GraftProcedures.ProcContext(
      (tbl: String) => {
        val parts = tbl.split('.')
        rest.loadTable(spark, parts.init.mkString("."), parts.last)
      },
      tablePath = None, // no filesystem layout: snapshot/migrate refuse
      // register_table goes through the REST register endpoint — the
      // server records the existing metadata file, zero bytes move
      register = Some((tbl: String, metaLoc: String) => {
        val parts = tbl.split('.')
        rest.registerTable(parts.init.mkString("."), parts.last, metaLoc)
        ()
      })))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  private var catalogName: String = _
  private var rest: IceRestCatalog = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val uri = Option(options.get("uri")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.uri is required (REST catalog endpoint)"))
    rest = new IceRestCatalog(uri, Option(options.get("prefix")).getOrElse(""))
  }

  override def name(): String = catalogName

  private def ns(namespace: Array[String]): String = namespace.mkString(".")

  private def spark: SparkSession = SparkSession.active

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] =
    rest.listTables(ns(namespace)).map(t => Identifier.of(namespace, t)).toArray

  /** Iceberg-style METADATA tables, same family the path catalog serves:
    * `cat.db.t.snapshots|files|delete_files|manifests|partitions|statistics`
    * resolve when `db.t` is a real REST table and no actual table shadows
    * the name. */
  private val metaTables: Map[String, graft.iceberg.IcebergTable =>
      org.apache.spark.sql.DataFrame] = Map(
    "snapshots" -> (_.snapshotsDf),
    "files" -> (_.filesDf),
    "delete_files" -> (_.deleteFilesDf),
    "manifests" -> (_.manifestsDf),
    "partitions" -> (_.partitionStats()),
    "statistics" -> (_.statisticsDf),
    "refs" -> (_.refsDf),
    "history" -> (_.historyDf),
    "entries" -> (_.entriesDf),
    "all_entries" -> (_.allEntriesDf),
    "all_manifests" -> (_.allManifestsDf),
    "all_files" -> (_.allFilesDf),
    "all_data_files" -> (_.allDataFilesDf),
    "all_delete_files" -> (_.allDeleteFilesDf),
    "metadata_log_entries" -> (_.metadataLogDf),
    "position_deletes" -> (_.positionDeletesDf))

  override def loadTable(ident: Identifier): Table =
    try new GraftIcebergV2Table(rest.loadTable(spark, ns(ident.namespace()), ident.name()))
    catch {
      case e: Exception if ident.namespace().nonEmpty &&
          metaTables.contains(ident.name()) =>
        val nsArr = ident.namespace()
        val (baseNs, baseName) = (ns(nsArr.dropRight(1)), nsArr.last)
        try {
          rest.loadTable(spark, baseNs, baseName) // existence probe
          new GraftMetadataTable(
            () => metaTables(ident.name())(rest.loadTable(spark, baseNs, baseName)),
            (nsArr :+ ident.name()).mkString("."),
            distributed = ident.name() == "position_deletes")
        } catch { case _: Exception => throw e }
    }

  /** `VERSION AS OF v` — v is a snapshot id when it matches one, else a
    * metadata version number, else a named branch/tag ref. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = rest.loadTable(spark, ns(ident.namespace()), ident.name())
    val resolved = version.toLongOption match {
      case Some(v) if t.snapshots.contains(v) => t.atSnapshot(v)
      // refs BEFORE metadata versions: a tag named "2024" must resolve
      case _ if t.refs.contains(version) => t.atRef(version)
      case Some(v) => t.atVersion(v.toInt)
      case None => throw new IllegalArgumentException(s"bad version: $version")
    }
    new GraftIcebergV2Table(resolved)
  }

  /** `TIMESTAMP AS OF ts` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = rest.loadTable(spark, ns(ident.namespace()), ident.name())
    new GraftIcebergV2Table(t.asOfTimestamp(timestamp / 1000L))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "partitioned DDL through the REST catalog is not supported; use IcebergWriter.createTable")
    val iceFields = schema.fields.map(f =>
      f.name -> IcebergWriter.sparkToIcebergType(f.dataType)).toSeq
    val created = rest.createTable(ns(ident.namespace()), ident.name(), iceFields,
      location = Option(properties.get("location")))
    val loc = created.get("metadata-location").asText()
    new GraftIcebergV2Table(IcebergTable.load(spark, loc))
  }

  /** `ALTER TABLE` under CATALOG ATOMICITY: the statement's changes fold
    * into one update list ([[IcebergWriter.alterTable]]) — set-/remove-
    * properties and one add-schema + set-current-schema — posted as ONE
    * REST commit guarded by the catalog's requirements, like DML. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = rest.loadTable(spark, ns(ident.namespace()), ident.name())
    IcebergWriter.alterTable(t.ops, changes)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    try { rest.deleteTable(ns(ident.namespace()), ident.name()); true }
    catch { case _: RuntimeException => false }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("renameTable is not supported")

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] =
    rest.listNamespaces().map(n => n.split('.')).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    try { rest.getNamespace(ns(namespace)); true }
    catch { case _: RuntimeException => false }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val node = rest.getNamespace(ns(namespace))
    val props = Option(node.get("properties")).map(p =>
      p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
    props.asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    rest.createNamespace(ns(namespace))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    try { rest.deleteNamespace(ns(namespace)); true }
    catch { case _: RuntimeException => false }
  }
}
