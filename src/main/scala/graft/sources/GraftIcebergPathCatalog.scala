package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Literal, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.iceberg.{FileSystemOps, IcebergTable, IcebergWriter}

/** Filesystem-warehouse catalog (the HadoopCatalog pattern from the Iceberg
  * spec): a table named `cat.db.t` lives at `<warehouse>/db/t`, resolved by
  * `version-hint.text` — no catalog service at all.
  *
  * {{{
  *   spark.sql.catalog.hdw           = graft.sources.GraftIcebergPathCatalog
  *   spark.sql.catalog.hdw.warehouse = /data/warehouse
  *   // then:
  *   spark.sql("CREATE TABLE hdw.db.t (k BIGINT, cat STRING) PARTITIONED BY (bucket(8, k))")
  *   spark.sql("SELECT * FROM hdw.db.t VERSION AS OF 3")
  * }}}
  *
  * Unlike the REST catalog, DDL here supports hidden-partition transforms
  * (identity / bucket / year / month / day / hour), mapped onto the
  * writer's partition-spec strings. As an [[IcebergTransformFunctions]]
  * catalog it also resolves `bucket` for storage-partitioned joins.
  */
class GraftIcebergPathCatalog extends TableCatalog with IcebergTransformFunctions
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse is required (filesystem root)"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def dir(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name())).mkString("/")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val root = new Path((warehouse +: namespace).mkString("/"))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .filter(st => fs.exists(new Path(st.getPath, "metadata")))
      // views share the warehouse layout; SHOW TABLES must not list them
      .filterNot(st =>
        graft.iceberg.IcebergViews.exists(spark, st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    IcebergTable.versionHint(dir(ident), spark.sessionState.newHadoopConf()) > 0 &&
      !graft.iceberg.IcebergViews.exists(spark, dir(ident))

  // ------------------------------------------------------------ procedures

  /** SQL `CALL cat.system.<proc>(table => 'db.t', ...)` — the shared
    * maintenance registry ([[GraftProcedures]]); the `table` argument
    * resolves through THIS catalog's warehouse layout. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident,
      (tbl: String) => {
        val parts = tbl.split('.')
        IcebergTable.load(spark, dir(Identifier.of(parts.init, parts.last)))
      },
      // the warehouse layout, for table-CREATING procedures
      // (snapshot / migrate / register_table)
      (tbl: String) => {
        val parts = tbl.split('.')
        dir(Identifier.of(parts.init, parts.last))
      })

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  /** Iceberg-style METADATA tables: `cat.db.tbl.snapshots` etc. resolve
    * when `db.tbl` is a real table and no actual table shadows the name. */
  private val metaTables: Map[String, IcebergTable => org.apache.spark.sql.DataFrame] =
    Map(
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

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident) && ident.namespace().nonEmpty &&
        metaTables.contains(ident.name())) {
      val ns = ident.namespace()
      val base = Identifier.of(ns.dropRight(1), ns.last)
      if (tableExists(base)) {
        val fn = metaTables(ident.name())
        return new GraftMetadataTable(
          () => fn(IcebergTable.load(spark, dir(base))),
          (ns :+ ident.name()).mkString("."),
          distributed = ident.name() == "position_deletes")
      }
    }
    // a VIEW is not a table: signal "no such table" so the analyzer leaves
    // the relation unresolved for the view-expansion rule (throwing
    // anything else would abort resolution mid-rule)
    if (graft.iceberg.IcebergViews.exists(spark, dir(ident)))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    new GraftIcebergV2Table(IcebergTable.load(spark, dir(ident)))
  }

  /** `VERSION AS OF v` — snapshot id when it matches one, else a metadata
    * version number (same contract as the REST catalog). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = IcebergTable.load(spark, dir(ident))
    // `VERSION AS OF x`: snapshot id, metadata version, or a named
    // branch/tag ref (Iceberg's SQL surface accepts ref names here)
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
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    new GraftIcebergV2Table(
      IcebergTable.load(spark, dir(ident)).asOfTimestamp(timestamp / 1000L))

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // a view occupies the name: creating a table would CLOBBER its
    // versioned metadata (tableExists alone says false for views)
    if (graft.iceberg.IcebergViews.exists(spark, dir(ident)))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val spec: Seq[(String, String)] = partitions.toSeq.map { t =>
      def srcCol: String = t.references().toList match {
        case one :: Nil => one.fieldNames.mkString(".")
        case other => throw new UnsupportedOperationException(
          s"multi-column transform is not supported: ${other.mkString(",")}")
      }
      t.name() match {
        case "identity" => (srcCol, "identity")
        case "bucket" =>
          val n = t.arguments().collectFirst { case l: Literal[_] => l.value() }
            .map(_.toString.toInt).getOrElse(throw new IllegalArgumentException(
              s"bucket transform needs a literal bucket count: $t"))
          (srcCol, s"bucket[$n]")
        case n @ ("years" | "months" | "days" | "hours") =>
          (srcCol, n.stripSuffix("s")) // years → year, … (Iceberg spec names)
        case n @ ("year" | "month" | "day" | "hour") => (srcCol, n)
        case other =>
          throw new UnsupportedOperationException(s"unsupported transform: $other")
      }
    }
    IcebergWriter.createTable(spark, dir(ident), schema, spec)
    // CREATE ... TBLPROPERTIES: `format-version` picks the table's format
    // at birth (Iceberg's own create-time property) and the remaining user
    // keys persist to metadata `properties`; Spark's engine-internal keys
    // (provider/location/owner/...) are not table state
    val sparkInternal = Set("provider", "location", "owner", "comment",
      "external", "format-version")
    val it = properties.entrySet().iterator()
    Option(properties.get("format-version")).map(_.trim.toInt)
      .filter(_ > 1)
      .foreach(v => IcebergWriter.upgradeFormatVersion(spark, dir(ident), v))
    val user = scala.collection.mutable.LinkedHashMap.empty[String, String]
    while (it.hasNext) {
      val e = it.next()
      if (!sparkInternal(e.getKey)) user(e.getKey) = e.getValue
    }
    if (user.nonEmpty)
      IcebergWriter.setProperties(spark, dir(ident), user.toMap)
    loadTable(ident)
  }

  /** `ALTER TABLE` → ONE metadata-only commit per statement
    * ([[IcebergWriter.alterTable]]): SET/UNSET TBLPROPERTIES and
    * ADD/RENAME/DROP COLUMN publish one version together, or nothing. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    IcebergWriter.alterTable(FileSystemOps(spark, dir(ident)), changes)
    loadTable(ident)
  }

  // ------------------------------------------------------------- views

  /** Warehouse location for a view identifier (the view DDL commands in
    * [[graft.plans.GraftViewRules]] write metadata there directly). */
  def viewLocation(ident: Identifier): String = dir(ident)

  /** Iceberg VIEW SPEC (v1) under the warehouse layout: a view named
    * `cat.db.v` stores versioned view metadata at `<warehouse>/db/v` —
    * CREATE VIEW / CREATE OR REPLACE VIEW / ALTER VIEW / DROP VIEW / SHOW
    * VIEWS all work through Spark's ViewCatalog, with REPLACE appending a
    * new version to the spec's `versions` + `version-log` (prior
    * definitions stay auditable, [[graft.iceberg.ViewMetadata.versionAt]]).
    * Spark round-trip state (query column names / aliases / comments)
    * persists as view properties. */
  override def listViews(namespace: String*): Array[Identifier] = {
    val root = new Path((warehouse +: namespace).mkString("/"))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .filter(st => graft.iceberg.IcebergViews.exists(spark, st.getPath.toString))
      .map(st => Identifier.of(namespace.toArray, st.getPath.getName))
  }

  override def viewExists(ident: Identifier): Boolean =
    graft.iceberg.IcebergViews.exists(spark, dir(ident))

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    new GraftIcebergView(ident.name,
      graft.iceberg.IcebergViews.load(spark, dir(ident)))
  }

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    if (tableExists(info.ident) || viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(info.ident)
    graft.iceberg.IcebergViews.create(spark, dir(info.ident), info.sql,
      info.schema, Option(info.currentCatalog),
      Option(info.currentNamespace).map(_.toSeq).getOrElse(Nil),
      GraftIcebergView.roundTripProps(info))
    loadView(info.ident)
  }

  override def replaceView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean): org.apache.spark.sql.connector.catalog.View = {
    if (viewExists(info.ident))
      graft.iceberg.IcebergViews.replace(spark, dir(info.ident), info.sql,
        info.schema, Option(info.currentCatalog),
        Option(info.currentNamespace).map(_.toSeq).getOrElse(Nil),
        GraftIcebergView.roundTripProps(info))
    else if (orCreate) return createView(info)
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchViewException(info.ident)
    loadView(info.ident)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    import org.apache.spark.sql.connector.catalog.ViewChange
    val sets = changes.collect { case p: ViewChange.SetProperty =>
      p.property -> p.value }.toMap
    val removes = changes.collect { case p: ViewChange.RemoveProperty =>
      p.property }
    graft.iceberg.IcebergViews.updateProperties(spark, dir(ident), sets, removes)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    if (!viewExists(ident)) return false
    val p = new Path(dir(ident))
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (!viewExists(from))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from)
    if (tableExists(to) || viewExists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(to)
    val fs = new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.rename(new Path(dir(from)), new Path(dir(to))),
      s"rename $from -> $to failed")
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(dir(ident))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("renameTable is not supported")
}
