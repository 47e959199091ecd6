package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.iceberg.{IcebergTable, IcebergWriter, MetadataUpdate, TableOps}

/** Iceberg REST catalog client — namespace/table CRUD against the open REST
  * catalog protocol, mirroring the reference's `rest_client.py:4-95`
  * (unauthenticated, same endpoints) over `java.net.http`.
  *
  * `loadTable` hands the returned `metadata-location` to [[IcebergTable]]
  * exactly as the reference feeds it to `IcebergDataset`
  * (test_rest.py:74-79).
  */
final class IceRestCatalog(endpoint: String, prefix: String = "") {

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()
  private val base = endpoint.stripSuffix("/") + "/v1" +
    (if (prefix.nonEmpty) s"/$prefix" else "")

  private def request(method: String, path: String, body: Option[String] = None): JsonNode = {
    val b = HttpRequest.newBuilder(URI.create(s"$base$path"))
      .header("Content-Type", "application/json")
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body.getOrElse("{}")))
      case "HEAD" => b.method("HEAD", HttpRequest.BodyPublishers.noBody())
    }).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    if (resp.statusCode() >= 400)
      throw new RuntimeException(s"$method $path -> HTTP ${resp.statusCode()}: ${resp.body()}")
    if (resp.body() == null || resp.body().isEmpty) mapper.createObjectNode()
    else mapper.readTree(resp.body())
  }

  // ---------------------------------------------------------- namespaces

  /** rest_client.py:27-31 */
  def listNamespaces(): Seq[String] =
    request("GET", "/namespaces").get("namespaces").elements().asScala
      .map(_.elements().asScala.map(_.asText).mkString(".")).toSeq

  /** rest_client.py:33-36 */
  def getNamespace(name: String): JsonNode =
    request("GET", s"/namespaces/$name")

  /** rest_client.py:38-41 */
  def createNamespace(name: String): JsonNode =
    request("POST", "/namespaces",
      Some(s"""{"namespace": ${levels(name)}, "properties": {}}"""))

  /** rest_client.py:43-44 */
  def deleteNamespace(name: String): Unit =
    request("DELETE", s"/namespaces/$name")

  // -------------------------------------------------------------- tables

  /** rest_client.py:46-49 */
  def listTables(namespace: String): Seq[String] =
    request("GET", s"/namespaces/$namespace/tables").get("identifiers")
      .elements().asScala.map(_.get("name").asText).toSeq

  /** Create a table from a {name -> iceberg type} schema — the reference's
    * simplified creation path (rest_client.py:51-82), incl. stage-create. */
  def createTable(namespace: String, name: String, schema: Seq[(String, String)],
      location: Option[String] = None, stageCreate: Boolean = false): JsonNode = {
    val fields = schema.zipWithIndex.map { case ((n, t), i) =>
      s"""{"id": ${i + 1}, "name": "$n", "required": false, "type": "$t"}"""
    }.mkString(",")
    val loc = location.map(l => s""""location": "$l",""").getOrElse("")
    val body = s"""{
      "name": "$name", $loc
      "schema": {"type": "struct", "schema-id": 0, "fields": [$fields]},
      "partition-spec": {"spec-id": 0, "fields": []},
      "write-order": null,
      "stage-create": $stageCreate,
      "properties": {}
    }"""
    request("POST", s"/namespaces/$namespace/tables", Some(body))
  }

  /** rest_client.py:84-88 */
  def getTable(namespace: String, name: String): JsonNode =
    request("GET", s"/namespaces/$namespace/tables/$name")

  /** REST spec `RegisterTableRequest` (POST …/namespaces/{ns}/register):
    * the catalog records an EXISTING table's metadata file as a new entry —
    * nothing copies; the server owns the entry from then on. */
  def registerTable(namespace: String, name: String,
      metadataLocation: String): JsonNode = {
    // serialized by the mapper, not interpolated — names/locations holding
    // quotes or backslashes must arrive escaped, not as malformed JSON
    val body = mapper.createObjectNode()
    body.put("name", name)
    body.put("metadata-location", metadataLocation)
    request("POST", s"/namespaces/$namespace/register",
      Some(mapper.writeValueAsString(body)))
  }

  /** rest_client.py:90-95 — `purge` asks the server to also drop data
    * files, carried as the REST spec's `purgeRequested` query parameter. */
  def deleteTable(namespace: String, name: String, purge: Boolean = false): Unit = {
    val q = if (purge) "?purgeRequested=true" else ""
    request("DELETE", s"/namespaces/$namespace/tables/$name$q")
  }

  /** Open a catalog table as an [[IcebergTable]] via its metadata-location.
    * The returned handle carries [[RestOps]]: every write committed
    * against it (DataFrame API, SQL DML through the CatalogPlugin,
    * procedures) publishes through the REST commit protocol, never the
    * filesystem version-hint swap. */
  def loadTable(spark: SparkSession, namespace: String, name: String): IcebergTable = {
    val t = IcebergTable.load(spark,
      getTable(namespace, name).get("metadata-location").asText)
    t.withOps(new RestOps(this, namespace, name, spark, t.url))
  }

  // ----------------------------------------------------- commit protocol

  /** The Iceberg REST COMMIT endpoint: POST the table's update list guarded
    * by its requirement list (`CommitTableRequest` in the REST spec). The
    * server applies the updates to ITS copy of the metadata atomically —
    * refusing with 409 when a requirement no longer holds — so commits
    * through a REST catalog get catalog atomicity instead of relying on a
    * filesystem exclusive-create (which object stores cannot provide).
    * `requirements`/`updates` are JSON object strings, e.g.
    * `{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":42}` and
    * `{"action":"add-snapshot","snapshot":{...}}`. */
  def commitTable(namespace: String, name: String,
      requirements: Seq[String], updates: Seq[String]): JsonNode =
    request("POST", s"/namespaces/$namespace/tables/$name", Some(
      s"""{"requirements": [${requirements.mkString(",")}],
           "updates": [${updates.mkString(",")}]}"""))

  /** APPEND through catalog atomicity (see [[RestOps]]). */
  def commitAppend(spark: SparkSession, namespace: String, name: String,
      df: org.apache.spark.sql.DataFrame): Unit =
    IcebergWriter.append(loadTable(spark, namespace, name).ops, df)

  private def levels(name: String): String =
    name.split('.').map(p => s""""$p"""").mkString("[", ",", "]")
}

/** A REST catalog table's operations (iceberg-java's
  * `RESTTableOperations`). [[current]] re-fetches the catalog's
  * `metadata-location`, never the filesystem version hint. A commit posts
  * its updates guarded by the requirements derived from them
  * ([[MetadataUpdate.requirements]]); a concurrent committer breaks one and
  * the server's 409 is a lost commit. Snapshot REMOVAL (expiration) is
  * refused: this client does not send remove-snapshots. */
final class RestOps(catalog: IceRestCatalog, namespace: String, name: String,
    val spark: SparkSession, val url: String) extends TableOps {

  def current(): IcebergTable = catalog.loadTable(spark, namespace, name)

  def commit(base: IcebergTable, updates: Seq[MetadataUpdate]): Boolean = {
    if (updates.exists(_.isInstanceOf[MetadataUpdate.RemoveSnapshots]))
      throw new UnsupportedOperationException(
        "this commit REMOVES snapshots (expiration?); the REST catalog " +
          "client does not send remove-snapshots")
    try {
      catalog.commitTable(namespace, name,
        MetadataUpdate.requirements(base.metadata, updates).map(_.toString),
        updates.map(MetadataUpdate.toJson(_).toString))
      true
    } catch {
      case e: RuntimeException if e.getMessage.contains("HTTP 409") => false
    }
  }
}

/** Dev helpers to examine the published Iceberg REST OpenAPI document —
  * the reference's utility tail (rest_client.py:103-132): parse the spec
  * once, memoize it, and look entity definitions up by their `\$ref`
  * fragment path.
  *
  * The reference downloads
  * `apache/iceberg/open-api/rest-catalog-open-api.yaml` from GitHub at
  * first use; this environment is egress-free, so the document (YAML or
  * JSON — the published spec is YAML) is supplied by the caller as text
  * or a local file. Navigation semantics are identical: strip the `#`,
  * walk each `/`-separated key from the document root.
  */
object IceRestApi {

  private val yaml = new ObjectMapper(
    new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())

  /** Parse an OpenAPI document into the handle [[definition]] resolves
    * against (rest_client.py:103-112's `_get_api`). The parsed node IS the
    * memo — callers hold it; a process-global cell (the reference's
    * `api = [None]`) would let two callers loading different specs race
    * and silently resolve against whichever loaded last. */
  def load(specText: String): JsonNode = yaml.readTree(specText)

  /** [[load]] from a local file path. */
  def loadFile(path: String): JsonNode =
    load(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), StandardCharsets.UTF_8))

  /** Find the definition of a REST API entity by `\$ref` path, e.g.
    * `#/components/schemas/AddSnapshotUpdate` (rest_client.py:119-132's
    * `_get_def`), resolved against the spec handle [[load]] returned. */
  def definition(path: String, spec: JsonNode): JsonNode = {
    val root = Option(spec).getOrElse(
      throw new IllegalStateException("no API spec supplied; pass load()/loadFile()'s result"))
    path.stripPrefix("#").split('/').filter(_.nonEmpty).foldLeft(root) { (node, part) =>
      val next = node.get(part)
      if (next == null)
        throw new NoSuchElementException(s"'$part' not found resolving $path")
      next
    }
  }

  /** All `\$ref` targets reachable under a node — handy for walking a
    * definition's dependencies the way the reference's doctest chains
    * `_get_def` calls. */
  def refsIn(node: JsonNode): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    def walk(n: JsonNode): Unit = {
      if (n.isObject) {
        val r = n.get("$ref")
        if (r != null && r.isTextual) out += r.asText()
        n.properties().asScala.foreach(e => walk(e.getValue))
      } else if (n.isArray) n.elements().asScala.foreach(walk)
    }
    walk(node)
    out.toSeq
  }
}
