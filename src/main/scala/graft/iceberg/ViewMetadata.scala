package graft.iceberg

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** One version of an Iceberg VIEW (spec "Iceberg View Spec", v1): an
  * immutable SQL representation bound to a schema and a resolution
  * context. Replacing a view APPENDS a version — definitions are
  * versioned history, exactly like table snapshots. */
final case class ViewVersion(
    versionId: Int,
    timestampMs: Long,
    schemaId: Int,
    summary: Map[String, String],
    sql: String,
    dialect: String,
    defaultCatalog: Option[String],
    defaultNamespace: Seq[String])

/** Parsed view metadata file (the view-spec counterpart of
  * [[TableMetadata]]). The reference has no view support at all — this is
  * an extension implementing the PUBLIC Iceberg view spec. */
final case class ViewMetadata(
    viewUuid: String,
    formatVersion: Int,
    location: String,
    schemas: Seq[IceSchema],
    currentVersionId: Int,
    versions: Seq[ViewVersion],
    /** (timestamp-ms, version-id): every change of the current version. */
    versionLog: Seq[(Long, Int)],
    properties: Map[String, String]) {

  def currentVersion: ViewVersion =
    versions.find(_.versionId == currentVersionId).getOrElse(
      throw new IllegalStateException(
        s"current-version-id $currentVersionId not in versions"))

  def versionAt(id: Int): ViewVersion =
    versions.find(_.versionId == id).getOrElse(
      throw new IllegalArgumentException(s"no view version $id"))

  def schemaFor(v: ViewVersion): IceSchema =
    schemas.find(_.schemaId == v.schemaId).getOrElse(
      throw new IllegalStateException(s"schema-id ${v.schemaId} not in metadata"))
}

object ViewMetadata {
  private val mapper = new ObjectMapper()

  def parse(json: String): ViewMetadata = {
    val root = mapper.readTree(json)
    require(root.has("view-uuid"),
      "not an Iceberg VIEW metadata file (no view-uuid)")
    val fv = root.get("format-version").asInt
    require(fv == 1, s"unsupported view format-version $fv (spec defines 1)")
    def opt(n: String): Option[JsonNode] = Option(root.get(n)).filterNot(_.isNull)
    ViewMetadata(
      viewUuid = root.get("view-uuid").asText,
      formatVersion = fv,
      location = root.get("location").asText,
      schemas = opt("schemas").map(_.elements().asScala.map(parseSchema).toSeq)
        .getOrElse(Nil),
      currentVersionId = root.get("current-version-id").asInt,
      versions = opt("versions").map(_.elements().asScala.map { v =>
        // serve the FIRST spark-dialect SQL representation; a view written
        // by another engine with no spark SQL form fails at USE, not parse
        val reps = Option(v.get("representations"))
          .map(_.elements().asScala.toSeq).getOrElse(Nil)
        val sqlRep = reps.find(r => r.get("type").asText == "sql" &&
            Option(r.get("dialect")).forall(_.asText == "spark"))
          .orElse(reps.find(_.get("type").asText == "sql"))
        ViewVersion(
          versionId = v.get("version-id").asInt,
          timestampMs = v.get("timestamp-ms").asLong,
          schemaId = Option(v.get("schema-id")).map(_.asInt).getOrElse(0),
          summary = Option(v.get("summary")).map(_.properties().asScala
            .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty),
          sql = sqlRep.map(_.get("sql").asText).getOrElse(""),
          dialect = sqlRep.flatMap(r => Option(r.get("dialect")).map(_.asText))
            .getOrElse("spark"),
          defaultCatalog = Option(v.get("default-catalog")).map(_.asText),
          defaultNamespace = Option(v.get("default-namespace"))
            .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil))
      }.toSeq).getOrElse(Nil),
      versionLog = opt("version-log").map(_.elements().asScala.map(e =>
        (e.get("timestamp-ms").asLong, e.get("version-id").asInt)).toSeq)
        .getOrElse(Nil),
      properties = opt("properties").map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty))
  }

  private def parseSchema(node: JsonNode): IceSchema = {
    val fields = node.get("fields").elements().asScala.map { f =>
      SchemaField(f.get("id").asInt, f.get("name").asText,
        f.get("required").asBoolean(false), f.get("type"))
    }.toSeq
    IceSchema(Option(node.get("schema-id")).map(_.asInt).getOrElse(0), fields)
  }
}

/** Writer/loader for Iceberg view metadata under the same filesystem
  * layout tables use (`metadata/vN.metadata.json` + `version-hint.text`,
  * exclusive-create + hint swap — the HadoopCatalog pattern applied to the
  * view spec). Definitions are VERSIONED: replace appends to `versions` +
  * `version-log`; prior definitions stay readable ([[ViewMetadata
  * .versionAt]]), the audit property views exist for. */
object IcebergViews {
  private val mapper = new ObjectMapper()

  def exists(spark: SparkSession, url: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    IcebergTable.versionHint(url, conf) > 0 && isViewAt(url, conf)
  }

  /** View-vs-table discrimination on the HOT PATH (every table resolution
    * probes it): Jackson STREAMS the metadata file and stops at the first
    * top-level discriminator field (`view-uuid` vs `table-uuid`/
    * `format-version`-then-uuid), so a table with a multi-MB metadata JSON
    * (thousands of snapshots) costs a few hundred bytes here, never a full
    * read. Values of nested objects/arrays are skipped structurally, so
    * the check cannot false-positive on payload contents. */
  private def isViewAt(url: String, conf: Configuration): Boolean = {
    val hint = IcebergTable.versionHint(url, conf)
    val p = new Path(s"$url/metadata/v$hint.metadata.json")
    try {
      val in = p.getFileSystem(conf).open(p)
      try {
        val parser = new com.fasterxml.jackson.core.JsonFactory()
          .createParser(in: java.io.InputStream)
        try {
          if (parser.nextToken() != com.fasterxml.jackson.core.JsonToken.START_OBJECT)
            return false
          var t = parser.nextToken()
          while (t == com.fasterxml.jackson.core.JsonToken.FIELD_NAME) {
            val name = parser.currentName()
            if (name == "view-uuid") return true
            if (name == "table-uuid") return false
            parser.nextToken()
            parser.skipChildren() // structural skip: arrays/objects as one unit
            t = parser.nextToken()
          }
          false
        } finally parser.close()
      } finally in.close()
    } catch { case _: Exception => false }
  }

  def load(spark: SparkSession, url: String): ViewMetadata = {
    val conf = spark.sessionState.newHadoopConf()
    ViewMetadata.parse(readLatestJson(url, conf)._1)
  }

  /** Create v1 of a view. Refuses if anything (view or table) already
    * lives at `url`. */
  def create(spark: SparkSession, url: String, sql: String,
      schema: StructType, defaultCatalog: Option[String],
      defaultNamespace: Seq[String],
      properties: Map[String, String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    require(IcebergTable.versionHint(url, conf) == 0,
      s"$url already holds a table or view")
    val root = mapper.createObjectNode()
    root.put("view-uuid", java.util.UUID.randomUUID().toString)
    root.put("format-version", 1)
    root.put("location", url)
    val (schemaNode, _) = IcebergWriter.schemaToNode(schema)
    root.set[ArrayNode]("schemas", mapper.createArrayNode().add(schemaNode))
    root.put("current-version-id", 1)
    val now = System.currentTimeMillis()
    root.set[ArrayNode]("versions",
      mapper.createArrayNode().add(versionNode(1, now, 0, sql,
        defaultCatalog, defaultNamespace, "create")))
    val log = mapper.createArrayNode()
    val le = mapper.createObjectNode()
    le.put("timestamp-ms", now); le.put("version-id", 1)
    root.set[ArrayNode]("version-log", log.add(le))
    val props = root.withObject("/properties")
    properties.foreach { case (k, v) => props.put(k, v) }
    FileSystemOps.publish(url, 1, root.toPrettyString, conf)
  }

  /** CREATE OR REPLACE: append a NEW version (+ schema if it changed) and
    * move `current-version-id` — never rewrite history (the spec's
    * versioning model; a drop-and-recreate would lose the audit trail). */
  def replace(spark: SparkSession, url: String, sql: String,
      schema: StructType, defaultCatalog: Option[String],
      defaultNamespace: Seq[String],
      properties: Map[String, String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val hint = IcebergTable.versionHint(url, conf)
    val (json, _) = readLatestJson(url, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    require(root.has("view-uuid"), s"$url is a TABLE, not a view")
    val (schemaNode, _) = IcebergWriter.schemaToNode(schema)
    val schemasArr = root.withArray[ArrayNode]("schemas")
    val existing = (0 until schemasArr.size).map(schemasArr.get)
    // reuse a structurally-identical schema's id; else append with a new id
    val schemaId = existing.find(s => {
      val c = s.deepCopy[ObjectNode](); c.remove("schema-id")
      val n = schemaNode.deepCopy[ObjectNode](); n.remove("schema-id")
      c == n
    }).map(_.get("schema-id").asInt).getOrElse {
      val next = existing.map(_.get("schema-id").asInt).max + 1
      val withId = schemaNode.deepCopy[ObjectNode]()
      withId.put("schema-id", next)
      schemasArr.add(withId)
      next
    }
    val versionsArr = root.withArray[ArrayNode]("versions")
    val nextVer = (0 until versionsArr.size).map(versionsArr.get(_)
      .get("version-id").asInt).max + 1
    val now = System.currentTimeMillis()
    versionsArr.add(versionNode(nextVer, now, schemaId, sql,
      defaultCatalog, defaultNamespace, "replace"))
    root.put("current-version-id", nextVer)
    val le = mapper.createObjectNode()
    le.put("timestamp-ms", now); le.put("version-id", nextVer)
    root.withArray[ArrayNode]("version-log").add(le)
    val props = root.withObject("/properties")
    props.removeAll()
    properties.foreach { case (k, v) => props.put(k, v) }
    FileSystemOps.publish(url, hint + 1, root.toPrettyString, conf)
  }

  /** ALTER VIEW SET/UNSET TBLPROPERTIES: properties-only metadata bump —
    * no new view version (the definition did not change). */
  def updateProperties(spark: SparkSession, url: String,
      set: Map[String, String], unset: Seq[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val hint = IcebergTable.versionHint(url, conf)
    val (json, _) = readLatestJson(url, conf)
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    require(root.has("view-uuid"), s"$url is a TABLE, not a view")
    val props = root.withObject("/properties")
    set.foreach { case (k, v) => props.put(k, v) }
    unset.foreach(props.remove)
    FileSystemOps.publish(url, hint + 1, root.toPrettyString, conf)
  }

  private def versionNode(id: Int, now: Long, schemaId: Int, sql: String,
      defaultCatalog: Option[String], defaultNamespace: Seq[String],
      operation: String): ObjectNode = {
    val v = mapper.createObjectNode()
    v.put("version-id", id)
    v.put("timestamp-ms", now)
    v.put("schema-id", schemaId)
    val sum = v.withObject("/summary")
    sum.put("engine-name", "graft")
    sum.put("operation", operation)
    val rep = mapper.createObjectNode()
    rep.put("type", "sql")
    rep.put("sql", sql)
    rep.put("dialect", "spark")
    v.set[ArrayNode]("representations", mapper.createArrayNode().add(rep))
    defaultCatalog.foreach(v.put("default-catalog", _))
    val ns = mapper.createArrayNode()
    defaultNamespace.foreach(ns.add)
    v.set[ArrayNode]("default-namespace", ns)
    v
  }

  private def readLatestJson(url: String, conf: Configuration): (String, Int) = {
    val hint = IcebergTable.versionHint(url, conf)
    require(hint > 0, s"no view at $url")
    val p = new Path(s"$url/metadata/v$hint.metadata.json")
    val in = p.getFileSystem(conf).open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      (out.toString("UTF-8"), hint)
    } finally in.close()
  }
}
