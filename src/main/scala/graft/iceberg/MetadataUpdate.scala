package graft.iceberg

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** One change to a table's metadata: an update action of the Iceberg REST
  * `CommitTableRequest` (iceberg-java `MetadataUpdate`), named by its REST
  * `action`. Every commit is a list of these. Locally
  * [[MetadataUpdate.applyTo]] folds the list into the base metadata JSON;
  * a catalog receives the same list ([[MetadataUpdate.toJson]]) guarded by
  * [[MetadataUpdate.requirements]]. Payloads (snapshot, schema, spec, sort
  * order, statistics entry) are spec JSON objects. */
private[graft] sealed abstract class MetadataUpdate(val action: String)

private[graft] object MetadataUpdate {
  final case class AddSnapshot(snapshot: ObjectNode) extends MetadataUpdate("add-snapshot")
  /** Point a ref at a snapshot, with its type and retention; moving
    * `main` also moves `current-snapshot-id` and appends to the
    * `snapshot-log`. */
  final case class SetSnapshotRef(name: String, snapshotId: Long,
      refType: String = "branch", maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None, maxSnapshotAgeMs: Option[Long] = None)
    extends MetadataUpdate("set-snapshot-ref")

  object SetSnapshotRef {
    /** Move ref `name` of `base` to `snapshotId`, keeping its type and
      * retention (iceberg-java `SnapshotRef.builderFrom(ref, id)`); a ref
      * `base` lacks starts as a plain branch. */
    def moving(base: TableMetadata, name: String, snapshotId: Long): SetSnapshotRef =
      base.refs.get(name).fold(SetSnapshotRef(name, snapshotId))(r => SetSnapshotRef(name,
        snapshotId, r.refType, r.maxRefAgeMs, r.minSnapshotsToKeep, r.maxSnapshotAgeMs))
  }
  final case class RemoveSnapshotRef(name: String) extends MetadataUpdate("remove-snapshot-ref")
  final case class RemoveSnapshots(ids: Set[Long]) extends MetadataUpdate("remove-snapshots")
  final case class SetProperties(updates: Map[String, String])
    extends MetadataUpdate("set-properties")
  final case class RemoveProperties(removals: Seq[String])
    extends MetadataUpdate("remove-properties")
  final case class AddSchema(schema: ObjectNode, lastColumnId: Int)
    extends MetadataUpdate("add-schema")
  final case class SetCurrentSchema(schemaId: Int) extends MetadataUpdate("set-current-schema")
  final case class AddSpec(spec: ObjectNode) extends MetadataUpdate("add-spec")
  final case class SetDefaultSpec(specId: Int) extends MetadataUpdate("set-default-spec")
  final case class AddSortOrder(order: ObjectNode) extends MetadataUpdate("add-sort-order")
  final case class SetDefaultSortOrder(orderId: Int)
    extends MetadataUpdate("set-default-sort-order")
  final case class SetStatistics(snapshotId: Long, statistics: ObjectNode)
    extends MetadataUpdate("set-statistics")
  final case class SetPartitionStatistics(snapshotId: Long, statistics: ObjectNode)
    extends MetadataUpdate("set-partition-statistics")
  final case class UpgradeFormatVersion(version: Int)
    extends MetadataUpdate("upgrade-format-version")

  private val mapper = new ObjectMapper()

  /** `u` as a REST update object, under the spec's field names. */
  def toJson(u: MetadataUpdate): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("action", u.action)
    u match {
      case AddSnapshot(s) => o.set[ObjectNode]("snapshot", s)
      case r: SetSnapshotRef =>
        o.put("ref-name", r.name)
        putRef(o, r)
      case RemoveSnapshotRef(name) => o.put("ref-name", name)
      case RemoveSnapshots(ids) =>
        val a = o.putArray("snapshot-ids")
        ids.toSeq.sorted.foreach(id => a.add(id))
      case SetProperties(p) =>
        val obj = o.putObject("updates")
        p.foreach { case (k, v) => obj.put(k, v) }
      case RemoveProperties(keys) =>
        val a = o.putArray("removals")
        keys.foreach(k => a.add(k))
      case AddSchema(s, lastColumnId) =>
        o.set[ObjectNode]("schema", s)
        o.put("last-column-id", lastColumnId)
      case SetCurrentSchema(id) => o.put("schema-id", id)
      case AddSpec(s) => o.set[ObjectNode]("spec", s)
      case SetDefaultSpec(id) => o.put("spec-id", id)
      case AddSortOrder(so) => o.set[ObjectNode]("sort-order", so)
      case SetDefaultSortOrder(id) => o.put("sort-order-id", id)
      case SetStatistics(sid, e) =>
        o.put("snapshot-id", sid)
        o.set[ObjectNode]("statistics", e)
      case SetPartitionStatistics(sid, e) =>
        o.put("snapshot-id", sid)
        o.set[ObjectNode]("partition-statistics", e)
      case UpgradeFormatVersion(v) => o.put("format-version", v)
    }
    o
  }

  /** What a catalog must still find before it applies `updates` to its
    * copy of `base` (iceberg-java `UpdateRequirements.forUpdateTable`):
    * every ref the list moves sits where `base` had it (null: absent), and
    * a schema or default-spec change starts from `base`'s current one. */
  def requirements(base: TableMetadata, updates: Seq[MetadataUpdate]): Seq[ObjectNode] = {
    def requirement(kind: String): ObjectNode = mapper.createObjectNode().put("type", kind)
    updates.flatMap {
      case SetSnapshotRef(name, _, _, _, _, _) =>
        val r = requirement("assert-ref-snapshot-id").put("ref", name)
        val at = if (name == "main") Some(base.currentSnapshotId).filter(_ >= 0)
          else base.refs.get(name).map(_.snapshotId)
        at.fold(r.putNull("snapshot-id"))(r.put("snapshot-id", _))
        Some(r)
      case _: SetCurrentSchema => Some(requirement("assert-current-schema-id")
        .put("current-schema-id", base.currentSchemaId))
      case _: SetDefaultSpec => Some(requirement("assert-default-spec-id")
        .put("default-spec-id", base.defaultSpecId))
      case _ => None
    }.distinct
  }

  /** The metadata JSON `table` was loaded from: the base every local
    * commit folds its updates into. */
  private def metadataBaseJson(table: IcebergTable): String = table.rawMetadataJson

  /** The ONE place metadata JSON is edited: `updates` folded in order into
    * `table`'s metadata, pretty-printed. Keys no update names survive as
    * they are. Besides each update's own field, the fold keeps what the
    * spec derives from it:
    *  - `add-snapshot` advances `last-sequence-number` and, on v3, moves
    *    `next-row-id` past the snapshot's `added-rows`;
    *  - `set-snapshot-ref` on `main` moves `current-snapshot-id` and logs
    *    the move in `snapshot-log`, at the snapshot's own timestamp when
    *    the same list adds it;
    *  - `remove-snapshots` drops their `snapshot-log` and statistics
    *    entries and the parent links that would dangle;
    *  - `set-current-schema` refreshes the v1 `schema` mirror and resets a
    *    default sort order that names a column the schema no longer has;
    *  - `add-spec` keeps `last-partition-id` at the highest field id, and
    *    `set-default-spec` refreshes the v1 `partition-spec` mirror;
    *  - `upgrade-format-version` to 3 starts `next-row-id`.
    * Then `last-updated-ms` takes the commit time and `metadata-log`
    * records the file this one replaces. */
  private[iceberg] def applyTo(table: IcebergTable, updates: Seq[MetadataUpdate]): String = {
    val root = mapper.readTree(metadataBaseJson(table)).asInstanceOf[ObjectNode]
    val addedAt = updates.collect { case AddSnapshot(s) =>
      s.get("snapshot-id").asLong -> s.get("timestamp-ms").asLong }.toMap
    val now = addedAt.values.headOption.getOrElse(System.currentTimeMillis())
    def objectAt(name: String): Option[ObjectNode] =
      Option(root.get(name)).collect { case o: ObjectNode => o }
    def byId(array: String, idField: String, id: Int): JsonNode =
      elements(root.get(array)).find(_.get(idField).asInt == id).getOrElse(
        throw new IllegalStateException(s"no $array entry with $idField $id"))
    def retain(array: String)(keep: JsonNode => Boolean): Unit =
      if (root.has(array)) {
        val arr = root.withArray[ArrayNode](array)
        val kept = elements(arr).filter(keep)
        arr.removeAll()
        kept.foreach(arr.add)
      }
    updates.foreach {
      case AddSnapshot(s) =>
        root.withArray[ArrayNode]("snapshots").add(s)
        if (s.has("sequence-number"))
          root.put("last-sequence-number", s.get("sequence-number").asLong)
        if (s.has("first-row-id"))
          root.put("next-row-id", s.get("first-row-id").asLong + s.path("added-rows").asLong)
      case r @ SetSnapshotRef(name, id, _, _, _, _) =>
        putRef(root.withObject("/refs").putObject(name), r)
        if (name == "main") {
          root.put("current-snapshot-id", id)
          root.withArray[ArrayNode]("snapshot-log").addObject()
            .put("timestamp-ms", addedAt.getOrElse(id, now)).put("snapshot-id", id)
        }
      case RemoveSnapshotRef(name) => objectAt("refs").foreach(_.remove(name))
      case RemoveSnapshots(ids) =>
        retain("snapshots")(s => !ids(s.get("snapshot-id").asLong))
        val kept = elements(root.get("snapshots")).map(_.get("snapshot-id").asLong).toSet
        // history and statistics entries die with their snapshot, and the
        // oldest survivors become roots
        Seq("snapshot-log", "statistics", "partition-statistics")
          .foreach(array => retain(array)(n => kept(n.get("snapshot-id").asLong)))
        elements(root.get("snapshots")).collect {
          case s: ObjectNode if s.has("parent-snapshot-id") &&
            !kept(s.get("parent-snapshot-id").asLong) => s
        }.foreach(_.remove("parent-snapshot-id"))
      case SetProperties(p) =>
        val props = root.withObject("/properties")
        p.foreach { case (k, v) => props.put(k, v) }
      case RemoveProperties(keys) => objectAt("properties").foreach(p => keys.foreach(p.remove))
      case AddSchema(s, lastColumnId) =>
        root.withArray[ArrayNode]("schemas").add(s)
        root.put("last-column-id", lastColumnId)
      case SetCurrentSchema(id) =>
        root.put("current-schema-id", id)
        val schema = byId("schemas", "schema-id", id)
        // v1 flat form follows the current schema (ice.py reads it)
        root.set[ObjectNode]("schema", schema.deepCopy())
        resetDanglingSortOrder(root, schema)
      case AddSpec(s) =>
        root.withArray[ArrayNode]("partition-specs").add(s)
        val fieldIds = elements(root.get("partition-specs"))
          .flatMap(sp => elements(sp.get("fields"))).map(_.get("field-id").asInt)
        root.put("last-partition-id", (root.path("last-partition-id").asInt(999) +: fieldIds).max)
      case SetDefaultSpec(id) =>
        root.put("default-spec-id", id)
        // keep the flat v1 mirror on the DEFAULT spec (the reference reads it)
        root.set[JsonNode]("partition-spec",
          byId("partition-specs", "spec-id", id).get("fields").deepCopy())
      case AddSortOrder(so) => root.withArray[ArrayNode]("sort-orders").add(so)
      case SetDefaultSortOrder(id) => root.put("default-sort-order-id", id)
      case SetStatistics(sid, e) =>
        retain("statistics")(_.get("snapshot-id").asLong != sid)
        root.withArray[ArrayNode]("statistics").add(e)
      case SetPartitionStatistics(sid, e) =>
        retain("partition-statistics")(_.get("snapshot-id").asLong != sid)
        root.withArray[ArrayNode]("partition-statistics").add(e)
      case UpgradeFormatVersion(v) =>
        root.put("format-version", v)
        // v3 REQUIRES next-row-id from the moment the version is raised —
        // strict external readers reject v3 metadata without it
        if (v >= 3 && !root.has("next-row-id")) root.put("next-row-id", 0L)
    }
    root.put("last-updated-ms", now)
    // spec metadata-log: the new file records the one it replaces, trimmed
    // to the newest `write.metadata.previous-versions-max` (default 100) so
    // the file stays O(1) in commit count. Skipped when the base has no
    // file to point at (a catalog-staged create).
    if (table.loadedFrom.nonEmpty) {
      val log = root.withArray[ArrayNode]("metadata-log")
      log.addObject().put("timestamp-ms", table.metadata.lastUpdatedMs)
        .put("metadata-file", table.loadedFrom)
      val keep = Option(root.path("properties").get("write.metadata.previous-versions-max"))
        .map(_.asText.trim.toInt).getOrElse(100)
      while (log.size > math.max(1, keep)) log.remove(0)
    }
    root.toPrettyString
  }

  /** A ref's spec fields (snapshot, type, retention) into `o`. */
  private def putRef(o: ObjectNode, r: SetSnapshotRef): Unit = {
    o.put("snapshot-id", r.snapshotId)
    o.put("type", r.refType)
    r.maxRefAgeMs.foreach(o.put("max-ref-age-ms", _))
    r.minSnapshotsToKeep.foreach(o.put("min-snapshots-to-keep", _))
    r.maxSnapshotAgeMs.foreach(o.put("max-snapshot-age-ms", _))
  }

  /** Whether a sort order names only columns `schema` has (nested struct
    * fields included). */
  private def fitsSchema(schema: JsonNode): JsonNode => Boolean = {
    val ids = Set.newBuilder[Int]
    def walk(fields: JsonNode): Unit = elements(fields).foreach { f =>
      ids += f.get("id").asInt
      val t = f.get("type")
      if (t != null && t.isObject && t.get("type").asText == "struct") walk(t.get("fields"))
    }
    walk(schema.get("fields"))
    val live = ids.result()
    order => elements(order.get("fields")).forall(f => live(f.path("source-id").asInt(-1)))
  }

  /** Whether `root`'s default sort order names a column `schema` lacks:
    * such an order dangles, and Iceberg implementations reject metadata
    * holding it at load. */
  private[iceberg] def defaultSortOrderDangles(root: JsonNode, schema: JsonNode): Boolean = {
    val defaultId = root.path("default-sort-order-id").asInt(0)
    !elements(root.get("sort-orders")).filter(_.get("order-id").asInt == defaultId)
      .forall(fitsSchema(schema))
  }

  /** A dangling default sort order resets the table to unsorted, and every
    * order naming a missing column leaves the list — readers validate each
    * listed order against the current schema. */
  private def resetDanglingSortOrder(root: ObjectNode, schema: JsonNode): Unit =
    if (defaultSortOrderDangles(root, schema)) {
      root.put("default-sort-order-id", 0)
      val so = root.withArray[ArrayNode]("sort-orders")
      val kept = elements(so).filter(fitsSchema(schema))
      so.removeAll()
      // order 0 must exist to resolve (legacy tables may lack it)
      if (!kept.exists(_.get("order-id").asInt == 0))
        so.addObject().put("order-id", 0).putArray("fields")
      kept.foreach(so.add)
    }

  private def elements(node: JsonNode): Seq[JsonNode] =
    if (node == null) Nil else node.elements().asScala.toSeq
}
