package graft.iceberg

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** Parsed `vN.metadata.json` — the reference's `self._metadata` dict
  * (`ice.py:74-93`) as typed case classes. */
final case class SchemaField(id: Int, name: String, required: Boolean, typeNode: JsonNode,
    /** Iceberg v3 default values (spec "Default values", JSON single-value
      * form): `initial-default` fills reads of files written BEFORE the
      * field existed; `write-default` fills writes that omit the column. */
    initialDefault: Option[JsonNode] = None,
    writeDefault: Option[JsonNode] = None) {
  def icebergTypeString: String = if (typeNode.isTextual) typeNode.asText else typeNode.toString
}

final case class IceSchema(schemaId: Int, fields: Seq[SchemaField]) {
  /** Spark StructType with iceberg field ids carried in column metadata.
    * `parquet.field.id` makes Spark's parquet reader resolve columns BY ID
    * (with `spark.sql.parquet.fieldId.read.enabled`), so Iceberg column
    * renames — legal, id-resolved — read correctly instead of silently
    * nulling out; the writer propagates the same ids into new files.
    *
    * `initial-default` maps onto Spark's own EXISTENCE DEFAULT machinery
    * (`EXISTS_DEFAULT` field metadata, SPARK-38334): the parquet readers
    * fill a requested column that is ABSENT from a file with the folded
    * default instead of null — exactly the v3 rule "applies to files
    * written before the field existed", since id-resolved post-add files
    * always carry the field. Zero per-row cost in new files, constant
    * vector fill in old ones. */
  def toSpark: StructType = StructType(fields.map { f =>
    val mb = new MetadataBuilder()
      .putLong("iceberg.field-id", f.id.toLong)
      .putLong("parquet.field.id", f.id.toLong)
    f.initialDefault.foreach(d =>
      mb.putString("EXISTS_DEFAULT", IcebergTypes.defaultToSqlLiteral(d, f.typeNode)))
    // a REQUIRED field with an initial-default must read as NULLABLE:
    // Spark's vectorized reader refuses a non-nullable column that is
    // absent from a (pre-add) file before consulting the default. The
    // relaxation is sound — the default fill guarantees non-null values —
    // and the Iceberg schema (`iceSchema`) still records required=true.
    StructField(f.name, IcebergTypes.toSparkType(f.typeNode),
      nullable = !f.required || f.initialDefault.isDefined,
      metadata = mb.build())
  })
}

final case class PartitionField(sourceId: Int, fieldId: Int, name: String,
    transform: String,
    /** v3 multi-argument transforms list their sources as `source-ids`;
      * non-empty only when the metadata carried that form. A true
      * multi-source field parses with sourceId = -1: no schema field
      * matches it, so pruning never rewrites predicates through it (sound
      * read tolerance) and writer spec resolution refuses loudly. */
    sourceIds: Seq[Int] = Nil)

final case class PartitionSpec(specId: Int, fields: Seq[PartitionField])

final case class Snapshot(
    snapshotId: Long,
    parentSnapshotId: Option[Long],
    timestampMs: Long,
    summary: Map[String, String],
    manifestList: String,
    schemaId: Option[Int],
    /** Iceberg v2 data sequence number — DURABLE commit ordering that
      * survives snapshot expiration (unlike list position). */
    sequenceNumber: Option[Long] = None)

/** One field of an Iceberg sort order. */
final case class SortField(sourceId: Int, transform: String,
    direction: String, nullOrder: String)

/** An Iceberg sort order: data files are written with rows sorted by these
  * fields (within partitions), which makes per-file column bounds tight and
  * often DISJOINT — a point/range query on the sort key then prunes to a
  * handful of files instead of scanning the partition. */
final case class IceSortOrder(orderId: Int, fields: Seq[SortField])

/** A named snapshot reference (Iceberg `refs`): a BRANCH moves with commits
  * (`main` is one), a TAG pins a snapshot forever — the reproducible-
  * training-set primitive. Retention: expireSnapshots retires a ref past
  * its `maxRefAgeMs`; `minSnapshotsToKeep` and `maxSnapshotAgeMs` are
  * kept through commits but not enforced (expireSnapshots keeps anything a
  * ref points to). */
final case class SnapshotRef(
    name: String,
    snapshotId: Long,
    refType: String, // "branch" | "tag"
    maxRefAgeMs: Option[Long] = None,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None)

/** One blob's registration inside a table-statistics entry. */
final case class StatsBlobMeta(blobType: String, snapshotId: Long,
    sequenceNumber: Long, fields: Seq[Int], properties: Map[String, String])

/** One `statistics` list entry: a puffin statistics file bound to a
  * snapshot (spec "Table statistics"). Engines use the entry whose
  * snapshot-id matches the snapshot they scan. */
final case class StatisticsFile(snapshotId: Long, path: String,
    fileSizeInBytes: Long, blobs: Seq[StatsBlobMeta])

/** One `partition-statistics` list entry (spec "Partition statistics"):
  * a sorted parquet of per-partition counts bound to a snapshot. */
final case class PartitionStatisticsFile(snapshotId: Long, path: String,
    fileSizeInBytes: Long)

/** Table metadata for one version (`vN.metadata.json`).
  * Field selection mirrors what the reference reads (ice.py:100-163). */
final case class TableMetadata(
    formatVersion: Int,
    location: String,
    lastUpdatedMs: Long,
    currentSchemaId: Int,
    schemas: Seq[IceSchema],
    defaultSpecId: Int,
    partitionSpecs: Seq[PartitionSpec],
    currentSnapshotId: Long,
    snapshots: Seq[Snapshot],
    properties: Map[String, String],
    refs: Map[String, SnapshotRef] = Map.empty,
    lastSequenceNumber: Long = 0L,
    sortOrders: Seq[IceSortOrder] = Nil,
    defaultSortOrderId: Int = 0,
    /** Iceberg v3 ROW LINEAGE: the next unallocated row id. Commits that
      * add data rows allocate [next-row-id, next-row-id + added) to their
      * manifests and advance it. None on pre-lineage metadata. */
    nextRowId: Option[Long] = None,
    /** Registered table-statistics files (NDV sketches etc.). */
    statistics: Seq[StatisticsFile] = Nil,
    /** Registered partition-statistics files (per-partition counts). */
    partitionStatistics: Seq[PartitionStatisticsFile] = Nil,
    /** The `snapshot-log`: (timestamp-ms, snapshot-id) entries, one per
      * change of the CURRENT snapshot — main's lineage over time, the
      * source of the `history` metadata table (rollbacks append too, so
      * the log can revisit ids the parent chain no longer reaches). */
    snapshotLog: Seq[(Long, Long)] = Nil,
    /** The `metadata-log`: (timestamp-ms, metadata-file) entries naming the
      * PREVIOUS metadata files this one descends from, oldest first (spec
      * "Table Metadata Fields"). Commits append the file they replaced and
      * trim to `write.metadata.previous-versions-max` — the source of the
      * `metadata_log_entries` metadata table and of metadata-file cleanup. */
    metadataLog: Seq[(Long, String)] = Nil) {

  /** The table's active sort order (empty = unsorted). */
  def defaultSortOrder: Seq[SortField] =
    sortOrders.find(_.orderId == defaultSortOrderId).map(_.fields).getOrElse(Nil)

  def snapshotsById: Map[Long, Snapshot] = snapshots.map(s => s.snapshotId -> s).toMap

  /** Latest snapshot; error parity with the reference on empty tables
    * (ice.py:105-110 raises when current-snapshot-id < 0). */
  def latestSnapshot: Snapshot = {
    if (currentSnapshotId < 0)
      throw new IllegalStateException("No snapshots in the metadata")
    snapshotsById(currentSnapshotId)
  }

  def schemaFor(snapshot: Snapshot): IceSchema = {
    val id = snapshot.schemaId.getOrElse(currentSchemaId)
    schemas.find(_.schemaId == id)
      .getOrElse(throw new IllegalStateException(s"schema-id $id not in metadata"))
  }

  def specById(specId: Int): PartitionSpec =
    partitionSpecs.find(_.specId == specId)
      .getOrElse(throw new IllegalStateException(s"spec-id $specId not in metadata"))
}

object TableMetadata {
  private val mapper = new ObjectMapper()

  def parse(json: String): TableMetadata = fromNode(mapper.readTree(json))

  def fromNode(root: JsonNode): TableMetadata = {
    def optNode(name: String): Option[JsonNode] = Option(root.get(name)).filterNot(_.isNull)

    // refuse format versions beyond what this reader implements INSTEAD of
    // misreading them — a v4 table's metadata may demand semantics (new
    // manifest fields, new delete carriers) that silently parsing as v3
    // would corrupt
    // a VIEW metadata file would otherwise parse as an empty v1 table
    // (same format-version/location fields, no snapshots) — a silent wrong
    // answer for any SELECT that resolved the view through the table path
    require(!root.has("view-uuid"),
      "this metadata file describes an Iceberg VIEW, not a table " +
        "(resolve it through the catalog's view surface)")
    val fv = root.get("format-version").asInt
    require(fv >= 1 && fv <= 3,
      s"unsupported iceberg format-version $fv (this reader implements 1-3)")

    val schemas: Seq[IceSchema] = optNode("schemas") match {
      case Some(arr) => arr.elements().asScala.map(parseSchema).toSeq
      case None => // v1 metadata may carry only a single "schema"
        optNode("schema").map(s => Seq(parseSchema(s))).getOrElse(Seq.empty)
    }
    val currentSchemaId = optNode("current-schema-id").map(_.asInt)
      .orElse(schemas.headOption.map(_.schemaId)).getOrElse(0)

    val specs: Seq[PartitionSpec] = optNode("partition-specs") match {
      case Some(arr) => arr.elements().asScala.map(parseSpec).toSeq
      case None => // fall back to flat v1 "partition-spec"
        val fields = optNode("partition-spec")
          .map(_.elements().asScala.map(parsePartitionField).toSeq)
          .getOrElse(Seq.empty)
        Seq(PartitionSpec(0, fields))
    }

    TableMetadata(
      formatVersion = root.get("format-version").asInt,
      location = root.get("location").asText,
      lastUpdatedMs = optNode("last-updated-ms").map(_.asLong).getOrElse(0L),
      currentSchemaId = currentSchemaId,
      schemas = schemas,
      defaultSpecId = optNode("default-spec-id").map(_.asInt).getOrElse(0),
      partitionSpecs = specs,
      currentSnapshotId = optNode("current-snapshot-id").map(_.asLong).getOrElse(-1L),
      snapshots = optNode("snapshots")
        .map(_.elements().asScala.map(parseSnapshot).toSeq).getOrElse(Seq.empty),
      properties = optNode("properties").map(strMap).getOrElse(Map.empty),
      refs = optNode("refs").map { r =>
        r.properties().asScala.map { e =>
          val n = e.getValue
          e.getKey -> SnapshotRef(
            name = e.getKey,
            snapshotId = n.get("snapshot-id").asLong,
            refType = Option(n.get("type")).map(_.asText).getOrElse("branch"),
            maxRefAgeMs = Option(n.get("max-ref-age-ms")).map(_.asLong),
            minSnapshotsToKeep = Option(n.get("min-snapshots-to-keep")).map(_.asInt),
            maxSnapshotAgeMs = Option(n.get("max-snapshot-age-ms")).map(_.asLong))
        }.toMap
      }.getOrElse(Map.empty),
      lastSequenceNumber = optNode("last-sequence-number").map(_.asLong).getOrElse {
        // tables written before sequence tracking: align with the legacy
        // list-position fallback (i+1), so the NEXT commit's number ranks
        // strictly above every existing snapshot instead of colliding
        optNode("snapshots").map(_.size.toLong).getOrElse(0L)
      },
      sortOrders = optNode("sort-orders").map(_.elements().asScala.map { o =>
        IceSortOrder(
          orderId = Option(o.get("order-id")).map(_.asInt).getOrElse(0),
          fields = Option(o.get("fields")).map(_.elements().asScala.map { f =>
            SortField(
              sourceId = Option(f.get("source-id")).map(_.asInt).getOrElse(-1),
              transform = Option(f.get("transform")).map(_.asText).getOrElse("identity"),
              direction = Option(f.get("direction")).map(_.asText).getOrElse("asc"),
              nullOrder = Option(f.get("null-order")).map(_.asText).getOrElse("nulls-first"))
          }.toSeq).getOrElse(Nil))
      }.toSeq).getOrElse(Nil),
      defaultSortOrderId = optNode("default-sort-order-id").map(_.asInt).getOrElse(0),
      nextRowId = optNode("next-row-id").map(_.asLong),
      statistics = optNode("statistics").map(_.elements().asScala.map { s =>
        StatisticsFile(
          snapshotId = s.get("snapshot-id").asLong,
          path = s.get("statistics-path").asText,
          fileSizeInBytes = Option(s.get("file-size-in-bytes"))
            .map(_.asLong).getOrElse(0L),
          blobs = Option(s.get("blob-metadata"))
            .map(_.elements().asScala.map { b =>
              StatsBlobMeta(
                blobType = b.get("type").asText,
                snapshotId = Option(b.get("snapshot-id")).map(_.asLong).getOrElse(-1L),
                sequenceNumber = Option(b.get("sequence-number")).map(_.asLong).getOrElse(0L),
                fields = Option(b.get("fields"))
                  .map(_.elements().asScala.map(_.asInt).toSeq).getOrElse(Nil),
                properties = Option(b.get("properties")).map(strMap).getOrElse(Map.empty))
            }.toSeq).getOrElse(Nil))
      }.toSeq).getOrElse(Nil),
      partitionStatistics = optNode("partition-statistics")
        .map(_.elements().asScala.map { s =>
          PartitionStatisticsFile(
            snapshotId = s.get("snapshot-id").asLong,
            path = s.get("statistics-path").asText,
            fileSizeInBytes = Option(s.get("file-size-in-bytes"))
              .map(_.asLong).getOrElse(0L))
        }.toSeq).getOrElse(Nil),
      snapshotLog = optNode("snapshot-log")
        .map(_.elements().asScala.map(e =>
          (e.get("timestamp-ms").asLong, e.get("snapshot-id").asLong)).toSeq)
        .getOrElse(Nil),
      metadataLog = optNode("metadata-log")
        .map(_.elements().asScala.map(e =>
          (e.get("timestamp-ms").asLong, e.get("metadata-file").asText)).toSeq)
        .getOrElse(Nil))
  }

  private def parseSchema(node: JsonNode): IceSchema = {
    val fields = node.get("fields").elements().asScala.map { f =>
      SchemaField(f.get("id").asInt, f.get("name").asText,
        f.get("required").asBoolean(false), f.get("type"),
        initialDefault = Option(f.get("initial-default")),
        writeDefault = Option(f.get("write-default")))
    }.toSeq
    IceSchema(Option(node.get("schema-id")).map(_.asInt).getOrElse(0), fields)
  }

  private def parseSpec(node: JsonNode): PartitionSpec =
    PartitionSpec(node.get("spec-id").asInt,
      node.get("fields").elements().asScala.map(parsePartitionField).toSeq)

  private def parsePartitionField(f: JsonNode): PartitionField = {
    val multi = Option(f.get("source-ids"))
      .map(_.elements().asScala.map(_.asInt).toSeq).getOrElse(Nil)
    PartitionField(
      // v3 multi-argument transforms replace `source-id` with `source-ids`;
      // a single-element list degrades to that source, a genuine
      // multi-source field gets -1 (see PartitionField doc)
      sourceId = Option(f.get("source-id")).map(_.asInt).getOrElse(
        if (multi.size == 1) multi.head else -1),
      fieldId = Option(f.get("field-id")).map(_.asInt).getOrElse(-1),
      name = f.get("name").asText,
      transform = f.get("transform").asText,
      sourceIds = multi)
  }

  private def parseSnapshot(node: JsonNode): Snapshot =
    Snapshot(
      snapshotId = node.get("snapshot-id").asLong,
      parentSnapshotId = Option(node.get("parent-snapshot-id")).map(_.asLong),
      timestampMs = node.get("timestamp-ms").asLong,
      summary = Option(node.get("summary")).map(strMap).getOrElse(Map.empty),
      manifestList = node.get("manifest-list").asText,
      schemaId = Option(node.get("schema-id")).map(_.asInt),
      sequenceNumber = Option(node.get("sequence-number")).map(_.asLong))

  private def strMap(node: JsonNode): Map[String, String] =
    node.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
}
