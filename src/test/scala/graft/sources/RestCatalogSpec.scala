package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** REST catalog client against an embedded mock of the Iceberg REST protocol
  * (the reference tests need a docker catalog, test_rest.py:23-51; a JDK
  * HttpServer mock keeps this hermetic). */
class RestCatalogSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def withServer(f: (IceRestCatalog, HttpServer) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val namespaces = scala.collection.mutable.LinkedHashSet.empty[String]
    // ns.t -> CURRENT metadata-location: the catalog (not the filesystem
    // version-hint) is the source of truth once commits flow through it
    val tables = scala.collection.mutable.Map.empty[String, String]

    def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }

    server.createContext("/v1/namespaces", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/namespaces")
      (ex.getRequestMethod, path.split("/").filter(_.nonEmpty).toList) match {
        case ("GET", Nil) =>
          reply(ex, 200, namespaces.map(n => s"""["$n"]""")
            .mkString("""{"namespaces": [""", ",", "]}"))
        case ("POST", Nil) =>
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val ns = """"namespace":\s*\[\s*"([^"]+)"""".r.findFirstMatchIn(body)
            .map(_.group(1)).getOrElse("?")
          namespaces += ns
          reply(ex, 200, s"""{"namespace": ["$ns"], "properties": {}}""")
        case ("GET", ns :: Nil) =>
          if (namespaces(ns)) reply(ex, 200, s"""{"namespace": ["$ns"], "properties": {}}""")
          else reply(ex, 404, """{"error": "no such namespace"}""")
        case ("DELETE", ns :: Nil) =>
          namespaces -= ns
          reply(ex, 204, "")
        case ("GET", ns :: "tables" :: Nil) =>
          val ids = tables.keys.filter(_.startsWith(s"$ns.")).map(_.split('.').last)
            .map(t => s"""{"namespace": ["$ns"], "name": "$t"}""").mkString(",")
          reply(ex, 200, s"""{"identifiers": [$ids]}""")
        case ("POST", ns :: "tables" :: Nil) =>
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val name = """"name":\s*"([^"]+)"""".r.findFirstMatchIn(body)
            .map(_.group(1)).getOrElse("?")
          // honor an explicit location (points at a REAL table for E2E
          // tests); adopt the latest on-disk metadata version at
          // registration time — afterwards the catalog tracks its own
          val loc = """"location":\s*"([^"]+)"""".r.findFirstMatchIn(body)
            .map(_.group(1)).getOrElse(s"/tmp/mock/$ns/$name")
          val hint = new java.io.File(s"$loc/metadata/version-hint.text")
          val v = if (hint.exists())
            scala.io.Source.fromFile(hint).mkString.trim else "1"
          tables(s"$ns.$name") = s"$loc/metadata/v$v.metadata.json"
          reply(ex, 200,
            s"""{"metadata-location": "${tables(s"$ns.$name")}",
                 "metadata": {"current-snapshot-id": -1}}""")
        case ("POST", ns :: "register" :: Nil) =>
          // REST spec RegisterTableRequest: adopt an existing metadata file
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val name = """"name":\s*"([^"]+)"""".r.findFirstMatchIn(body)
            .map(_.group(1)).getOrElse("?")
          val metaLoc = """"metadata-location":\s*"([^"]+)"""".r
            .findFirstMatchIn(body).map(_.group(1)).getOrElse("")
          if (metaLoc.isEmpty || tables.contains(s"$ns.$name"))
            reply(ex, 409, """{"error": "invalid or duplicate register"}""")
          else {
            tables(s"$ns.$name") = metaLoc
            reply(ex, 200, s"""{"metadata-location": "$metaLoc"}""")
          }
        case ("GET", ns :: "tables" :: t :: Nil) =>
          tables.get(s"$ns.$t") match {
            case Some(metaLoc) =>
              reply(ex, 200, s"""{"metadata-location": "$metaLoc"}""")
            case None => reply(ex, 404, """{"error": "no such table"}""")
          }
        // the COMMIT endpoint (CommitTableRequest): validate requirements
        // against the server's current metadata, apply updates to it, and
        // atomically advance the tracked metadata-location — a stale
        // assert-ref-snapshot-id refuses with 409 like a real catalog
        case ("POST", ns :: "tables" :: t :: Nil) =>
          tables.get(s"$ns.$t") match {
            case None => reply(ex, 404, """{"error": "no such table"}""")
            case Some(metaLoc) => tables.synchronized {
              val req = mapper.readTree(ex.getRequestBody.readAllBytes())
              val meta = mapper.readTree(new java.io.File(metaLoc))
                .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
              val curId = if (meta.hasNonNull("current-snapshot-id"))
                meta.get("current-snapshot-id").asLong else -1L
              def refAt(name: String): Long =
                if (name == "main") curId
                else Option(meta.get("refs")).flatMap(r => Option(r.get(name)))
                  .map(_.get("snapshot-id").asLong).getOrElse(-1L)
              val failed = Option(req.get("requirements")).toSeq
                .flatMap(_.elements().asScala).flatMap { r =>
                  r.get("type").asText match {
                    case "assert-ref-snapshot-id" =>
                      val ref = r.get("ref").asText
                      val want = if (r.hasNonNull("snapshot-id"))
                        r.get("snapshot-id").asLong else -1L
                      if (want != refAt(ref))
                        Some(s"$ref is at ${refAt(ref)}, not $want")
                      else None
                    case "assert-current-schema-id" =>
                      val want = r.get("current-schema-id").asInt
                      val cur = meta.get("current-schema-id").asInt
                      if (want != cur) Some(s"schema is $cur, not $want") else None
                    case "assert-default-spec-id" =>
                      val want = r.get("default-spec-id").asInt
                      val cur = Option(meta.get("default-spec-id"))
                        .map(_.asInt).getOrElse(0)
                      if (want != cur) Some(s"spec is $cur, not $want") else None
                    case other => Some(s"unsupported requirement $other")
                  }
                }
              if (failed.nonEmpty)
                reply(ex, 409, s"""{"error": "commit conflict: ${failed.mkString("; ")}"}""")
              else {
                req.get("updates").elements().asScala.foreach { u =>
                  u.get("action").asText match {
                    case "add-snapshot" =>
                      val snap = u.get("snapshot")
                      meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
                        "snapshots").add(snap)
                      val seq = if (snap.hasNonNull("sequence-number"))
                        snap.get("sequence-number").asLong else 0L
                      if (!meta.hasNonNull("last-sequence-number") ||
                          meta.get("last-sequence-number").asLong < seq)
                        meta.put("last-sequence-number", seq)
                      // v3 row lineage: the snapshot's rows take the next ids
                      if (snap.hasNonNull("added-rows"))
                        meta.put("next-row-id", meta.path("next-row-id").asLong(0L) +
                          snap.get("added-rows").asLong)
                    case "upgrade-format-version" =>
                      val v = u.get("format-version").asInt
                      meta.put("format-version", v)
                      if (v >= 3 && !meta.has("next-row-id")) meta.put("next-row-id", 0L)
                    case "remove-snapshot-ref" =>
                      Option(meta.get("refs")).collect {
                        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
                      }.foreach(_.remove(u.get("ref-name").asText))
                    case "set-snapshot-ref" =>
                      val refName = u.get("ref-name").asText
                      val id = u.get("snapshot-id").asLong
                      val refType = Option(u.get("type"))
                        .map(_.asText).getOrElse("branch")
                      val ref = mapper.readTree(
                        s"""{"snapshot-id": $id, "type": "$refType"}""")
                        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                      Seq("max-ref-age-ms", "min-snapshots-to-keep", "max-snapshot-age-ms")
                        .foreach(f => Option(u.get(f)).foreach(ref.set[
                          com.fasterxml.jackson.databind.JsonNode](f, _)))
                      meta.withObject("/refs").set(refName, ref)
                      if (refName == "main") {
                        meta.put("current-snapshot-id", id)
                        meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
                          "snapshot-log").add(mapper.readTree(
                            s"""{"timestamp-ms": ${System.currentTimeMillis()},
                                 "snapshot-id": $id}"""))
                      }
                    case "add-schema" =>
                      meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
                        "schemas").add(u.get("schema"))
                      if (u.hasNonNull("last-column-id"))
                        meta.put("last-column-id", u.get("last-column-id").asInt)
                    case "set-current-schema" =>
                      meta.put("current-schema-id", u.get("schema-id").asInt)
                    case "add-spec" =>
                      meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
                        "partition-specs").add(u.get("spec"))
                    case "set-default-spec" =>
                      meta.put("default-spec-id", u.get("spec-id").asInt)
                    case "add-sort-order" =>
                      meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
                        "sort-orders").add(u.get("sort-order"))
                    case "set-default-sort-order" =>
                      meta.put("default-sort-order-id", u.get("sort-order-id").asInt)
                    case a @ ("set-statistics" | "set-partition-statistics") =>
                      val field = if (a == "set-statistics") "statistics"
                        else "partition-statistics"
                      val sid = u.get("snapshot-id").asLong
                      val arr = meta.withArray[
                        com.fasterxml.jackson.databind.node.ArrayNode](field)
                      val kept = (0 until arr.size).map(arr.get)
                        .filterNot(_.get("snapshot-id").asLong == sid)
                      arr.removeAll()
                      kept.foreach(arr.add)
                      arr.add(u.get(field))
                    case "set-properties" =>
                      val obj = meta.withObject("/properties")
                      u.get("updates").properties().asScala.foreach(e =>
                        obj.set[com.fasterxml.jackson.databind.JsonNode](
                          e.getKey, e.getValue))
                    case "remove-properties" =>
                      val obj = meta.withObject("/properties")
                      u.get("removals").elements().asScala.foreach(r =>
                        obj.remove(r.asText))
                    case a @ ("remove-statistics" | "remove-partition-statistics") =>
                      val field = if (a == "remove-statistics") "statistics"
                        else "partition-statistics"
                      val sid = u.get("snapshot-id").asLong
                      val arr = meta.withArray[
                        com.fasterxml.jackson.databind.node.ArrayNode](field)
                      val kept = (0 until arr.size).map(arr.get)
                        .filterNot(_.get("snapshot-id").asLong == sid)
                      arr.removeAll()
                      kept.foreach(arr.add)
                    case other =>
                      throw new IllegalArgumentException(s"unsupported update $other")
                  }
                }
                val V = """.*/v(\d+)\.metadata\.json""".r
                val newLoc = metaLoc match {
                  case V(n) => metaLoc.replaceAll("v\\d+\\.metadata\\.json",
                    s"v${n.toInt + 1}.metadata.json")
                }
                java.nio.file.Files.write(java.nio.file.Paths.get(newLoc),
                  mapper.writeValueAsBytes(meta))
                tables(s"$ns.$t") = newLoc
                reply(ex, 200, s"""{"metadata-location": "$newLoc", "metadata": {}}""")
              }
            }
          }
        case ("DELETE", ns :: "tables" :: t :: Nil) =>
          tables -= s"$ns.$t"
          reply(ex, 204, "")
        case other =>
          reply(ex, 400, s"""{"error": "unhandled $other"}""")
      }
    })
    server.start()
    try f(new IceRestCatalog(s"http://127.0.0.1:${server.getAddress.getPort}"), server)
    finally server.stop(0)
  }

  test("namespace CRUD round-trip (test_rest.py:54-61 parity)") {
    withServer { (cat, _) =>
      assert(cat.listNamespaces().isEmpty)
      cat.createNamespace("myns")
      assert(cat.listNamespaces() == Seq("myns"))
      assert(cat.getNamespace("myns").get("namespace").get(0).asText == "myns")
      cat.deleteNamespace("myns")
      assert(cat.listNamespaces().isEmpty)
    }
  }

  test("table create/list/get/delete (test_rest.py:64-83 parity)") {
    withServer { (cat, _) =>
      cat.createNamespace("ns2")
      val created = cat.createTable("ns2", "prices",
        Seq("date" -> "date", "symbol" -> "string"))
      assert(created.get("metadata-location").asText.endsWith("v1.metadata.json"))
      assert(cat.listTables("ns2") == Seq("prices"))
      val got = cat.getTable("ns2", "prices")
      assert(got.get("metadata-location").asText.contains("prices"))
      cat.deleteTable("ns2", "prices")
      assert(cat.listTables("ns2").isEmpty)
    }
  }

  test("registerTable serializes the request body as JSON — names and " +
      "locations holding quotes/backslashes arrive escaped, not malformed") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var rawBody: String = null
    server.createContext("/v1/namespaces", (ex: HttpExchange) => {
      rawBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val b = """{"metadata-location": "ok"}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val cat = new IceRestCatalog(s"http://127.0.0.1:${server.getAddress.getPort}")
      val trickyName = """we"ird\name"""
      val trickyLoc = """/tmp/pa"th\with/v1.metadata.json"""
      cat.registerTable("db", trickyName, trickyLoc)
      // the body must parse as JSON and round-trip the exact values
      val parsed = mapper.readTree(rawBody)
      assert(parsed.get("name").asText == trickyName)
      assert(parsed.get("metadata-location").asText == trickyLoc)
    } finally server.stop(0)
  }

  test("errors surface as failures with status code") {
    withServer { (cat, _) =>
      val e = intercept[RuntimeException](cat.getNamespace("missing"))
      assert(e.getMessage.contains("404"))
    }
  }

  test("spark.sql resolves tables through the CatalogPlugin end-to-end") {
    withServer { (cat, server) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._

      // a REAL Iceberg table on disk, registered in the catalog by location
      val url = java.nio.file.Files.createTempDirectory("graft_cat").toString + "/events"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))))
      graft.iceberg.IcebergWriter.append(spark, url,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))

      cat.createNamespace("db")
      cat.createTable("db", "events", Seq("id" -> "long", "name" -> "string"),
        location = Some(url))

      // unique catalog name per run: CatalogManager caches resolved catalogs
      val catName = s"icetest${server.getAddress.getPort}"
      spark.conf.set(s"spark.sql.catalog.$catName",
        "graft.sources.GraftIcebergCatalog")
      spark.conf.set(s"spark.sql.catalog.$catName.uri",
        s"http://127.0.0.1:${server.getAddress.getPort}")

      val rows = spark.sql(s"SELECT name FROM $catName.db.events WHERE id > 1 ORDER BY name")
        .as[String].collect()
      assert(rows.toSeq == Seq("b", "c"))
      // catalog surface: SHOW TABLES / table listing flows through REST
      assert(spark.sql(s"SHOW TABLES IN $catName.db").collect()
        .map(_.getString(1)).contains("events"))
      // time travel: snapshot id via VERSION AS OF
      val snapId = graft.iceberg.IcebergTable.load(spark, url).currentSnapshot.snapshotId
      assert(spark.sql(s"SELECT count(*) FROM $catName.db.events VERSION AS OF $snapId")
        .head().getLong(0) == 3L)

      // SQL DML through the CatalogPlugin commits via CATALOG ATOMICITY:
      // the REST commit endpoint advances the metadata, the filesystem
      // version-hint does NOT move — the hint swap is bypassed entirely
      val hintBefore = scala.io.Source
        .fromFile(s"$url/metadata/version-hint.text").mkString.trim
      spark.sql(s"INSERT INTO $catName.db.events VALUES (4, 'd'), (5, 'e')")
      spark.sql(s"DELETE FROM $catName.db.events WHERE id = 2")
      assert(spark.sql(s"SELECT name FROM $catName.db.events ORDER BY name")
        .as[String].collect().toSeq == Seq("a", "c", "d", "e"))
      assert(scala.io.Source.fromFile(s"$url/metadata/version-hint.text")
        .mkString.trim == hintBefore,
        "SQL DML must commit through the catalog, not the version-hint swap")
      // a reader trusting only the filesystem hint sees the pre-DML state
      assert(graft.iceberg.IcebergTable.load(spark, url).read().count() == 3)

      // METADATA tables resolve through the REST CatalogPlugin too — same
      // family as the path catalog, including the statistics table
      assert(spark.sql(s"SELECT * FROM $catName.db.events.snapshots").count() >= 3)
      assert(spark.sql(s"SELECT * FROM $catName.db.events.files").count() >= 1)
      assert(spark.sql(s"SELECT * FROM $catName.db.events.statistics").count() == 0)
      graft.iceberg.TableStatistics.compute(cat.loadTable(spark, "db", "events").ops)
      val ndvRows = spark.sql(
        s"SELECT field_name, ndv FROM $catName.db.events.statistics ORDER BY field_name")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(ndvRows.get("id").contains(4L), s"$ndvRows") // live ids 1,3,4,5

      // SQL CALL procedures through the REST CatalogPlugin: the compaction
      // commit routes through CATALOG ATOMICITY like DML — the filesystem
      // hint still does not move
      val compacted = spark.sql(
        s"CALL $catName.system.compact(table => 'db.events')").collect().head
      assert(compacted.getAs[Int]("live_files") == 1)
      assert(spark.sql(s"SELECT count(*) FROM $catName.db.events")
        .head().getLong(0) == 4L)
      assert(scala.io.Source.fromFile(s"$url/metadata/version-hint.text")
        .mkString.trim == hintBefore,
        "CALL must commit through the catalog, not the version-hint swap")
    }
  }

  test("commit protocol: append via REST updates/requirements; catalog is the source of truth") {
    withServer { (cat, _) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._

      val url = java.nio.file.Files.createTempDirectory("graft_restc").toString + "/t"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))))
      cat.createNamespace("db")
      cat.createTable("db", "t", Seq("id" -> "long", "name" -> "string"),
        location = Some(url))

      // two appends through the REST commit endpoint (stage-create + commit
      // flow, test_rest.py:64-83 parity): add-snapshot + set-snapshot-ref
      // guarded by assert-ref-snapshot-id
      cat.commitAppend(spark, "db", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
      cat.commitAppend(spark, "db", "t", Seq((3L, "c")).toDF("id", "name"))

      val t = cat.loadTable(spark, "db", "t")
      assert(t.read().as[(Long, String)].collect().sortBy(_._1).toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // snapshots CHAIN through the catalog commits
      assert(t.snapshots(t.currentSnapshot.snapshotId).parentSnapshotId
        .exists(p => t.snapshots.contains(p)))
      // the filesystem version-hint NEVER advanced: both commits flowed
      // through catalog atomicity, not the version-hint swap — a reader
      // trusting the hint sees only the pre-catalog state (v1, empty)
      assert(scala.io.Source.fromFile(s"$url/metadata/version-hint.text")
        .mkString.trim == "1")

      // a STALE commit is refused: requirement pins main to a superseded
      // snapshot id → 409, and the table is untouched
      val staleId = t.snapshots(t.currentSnapshot.snapshotId).parentSnapshotId.get
      val e = intercept[RuntimeException] {
        cat.commitTable("db", "t",
          Seq(s"""{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": $staleId}"""),
          Seq("""{"action": "set-snapshot-ref", "ref-name": "main",
                 "type": "branch", "snapshot-id": 999}"""))
      }
      assert(e.getMessage.contains("409"), e.getMessage)
      assert(cat.loadTable(spark, "db", "t").read().count() == 3)

      // an APPEND RACING a direct catalog commit retries and lands: move
      // main out from under commitAppend's first attempt by committing
      // between its build and publish is timing-dependent, so prove the
      // retry path deterministically instead — the first attempt's
      // requirement (built against stale state) gets 409 and the loop
      // rebuilds against the fresh catalog view
      val freshId = cat.loadTable(spark, "db", "t").currentSnapshot.snapshotId
      cat.commitTable("db", "t",
        Seq(s"""{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": $freshId}"""),
        Seq(s"""{"action": "set-snapshot-ref", "ref-name": "main",
               "type": "branch", "snapshot-id": $freshId}"""))
      cat.commitAppend(spark, "db", "t", Seq((4L, "d")).toDF("id", "name"))
      assert(cat.loadTable(spark, "db", "t").read().count() == 4)
    }
  }

  test("concurrent REST committers: both survive via 409-retry, neither snapshot lost") {
    withServer { (cat, _) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._

      val url = java.nio.file.Files.createTempDirectory("graft_restcc").toString + "/t"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))))
      cat.createNamespace("db")
      cat.createTable("db", "t", Seq("id" -> "long", "name" -> "string"),
        location = Some(url))

      // N racing committers: the catalog 409s all but one per round; each
      // loser rebuilds against the fresh metadata-location and lands
      val n = 4
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      try {
        val tasks = (1 to n).map { i =>
          pool.submit(new Runnable {
            override def run(): Unit =
              cat.commitAppend(spark, "db", "t",
                Seq((i.toLong, s"w$i")).toDF("id", "name"))
          })
        }
        tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()

      val t = cat.loadTable(spark, "db", "t")
      assert(t.read().as[(Long, String)].collect().map(_._1).sorted.toSeq ==
        (1L to n.toLong), "every committer's rows must land exactly once")
      // the snapshot chain is a single line holding all n commits
      assert(t.snapshots.size == n)
      var cur = Option(t.currentSnapshot)
      var walked = 0
      while (cur.isDefined) {
        walked += 1
        cur = cur.get.parentSnapshotId.flatMap(t.snapshots.get)
      }
      assert(walked == n, s"chain holds $walked of $n commits")
    }
  }

  test("write-audit-publish through REST: branch commits and fast-forward are catalog-atomic") {
    withServer { (cat, _) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._

      val url = java.nio.file.Files.createTempDirectory("graft_restwap").toString + "/t"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))))
      cat.createNamespace("db")
      cat.createTable("db", "t", Seq("id" -> "long", "name" -> "string"),
        location = Some(url))
      cat.commitAppend(spark, "db", "t", Seq((1L, "base")).toDF("id", "name"))

      // STAGE on a branch through catalog atomicity: the diff carries
      // set-snapshot-ref audit (assert: ref must not exist yet), main stays
      val ops = cat.loadTable(spark, "db", "t").ops
      graft.iceberg.IcebergWriter.appendToBranch(ops,
        Seq((2L, "staged")).toDF("id", "name"), "audit", Map.empty[String, String])
      val staged = cat.loadTable(spark, "db", "t")
      assert(staged.read().count() == 1, "main must not see the staged append")
      assert(staged.atBranch("audit").read().count() == 2, "audit sees base + staged")

      // PUBLISH through catalog atomicity: fast-forward moves main only
      graft.iceberg.IcebergWriter.fastForward(ops, "audit")
      val published = cat.loadTable(spark, "db", "t")
      assert(published.read().as[(Long, String)].collect().sortBy(_._1).toSeq ==
        Seq((1L, "base"), (2L, "staged")))
      // the whole stage+publish flow never touched the filesystem hint
      assert(scala.io.Source.fromFile(s"$url/metadata/version-hint.text")
        .mkString.trim == "1")
    }
  }

  test("statistics commit through REST as set-statistics updates") {
    withServer { (cat, _) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._
      val url = java.nio.file.Files.createTempDirectory("graft_reststats").toString + "/t"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))),
        partitions = Seq(("name", "identity")))
      cat.createNamespace("db")
      cat.createTable("db", "t", Seq("id" -> "long", "name" -> "string"),
        location = Some(url))
      cat.commitAppend(spark, "db", "t",
        (1L to 50L).map(i => (i, s"n${i % 5}")).toDF("id", "name"))

      // NDV + partition statistics publish through the catalog commit
      // protocol (set-statistics / set-partition-statistics updates) — the
      // catalog copy of the metadata, not the filesystem hint, carries them
      val ops = cat.loadTable(spark, "db", "t").ops
      val ndvs = graft.iceberg.TableStatistics.compute(ops)
      graft.iceberg.PartitionStatistics.compute(ops)
      val t = cat.loadTable(spark, "db", "t")
      assert(t.metadata.statistics.size == 1,
        s"stats entry must round-trip through REST: ${t.metadata.statistics}")
      assert(t.metadata.statistics.head.snapshotId == t.currentSnapshot.snapshotId)
      assert(graft.iceberg.TableStatistics.ndvFor(t,
        t.currentSnapshot.snapshotId) == ndvs)
      val idField = t.iceSchema.fields.find(_.name == "id").get.id
      assert(math.abs(ndvs(idField) - 50L) <= 3)
      assert(t.metadata.partitionStatistics.size == 1,
        "partition-stats entry must round-trip through REST")
      // the filesystem hint NEVER advanced — catalog atomicity carried it
      assert(scala.io.Source.fromFile(s"$url/metadata/version-hint.text")
        .mkString.trim == "1")
    }
  }

  test("CALL compute_table_stats through REST: registration is " +
      "catalog-atomic and the result rows report per-column NDVs") {
    withServer { (cat, server) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._
      val url = java.nio.file.Files.createTempDirectory("graft_rest_cts").toString + "/t"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))))
      cat.createNamespace("db")
      cat.createTable("db", "t", Seq("id" -> "long", "name" -> "string"),
        location = Some(url))
      cat.commitAppend(spark, "db", "t",
        (1L to 60L).map(i => (i, s"n${i % 6}")).toDF("id", "name"))
      val catName = s"icecst${server.getAddress.getPort}"
      spark.conf.set(s"spark.sql.catalog.$catName",
        "graft.sources.GraftIcebergCatalog")
      spark.conf.set(s"spark.sql.catalog.$catName.uri",
        s"http://127.0.0.1:${server.getAddress.getPort}")
      val rows = spark.sql(
        s"CALL $catName.system.compute_table_stats(table => 'db.t')")
        .collect().map(r => r.getAs[String]("column_name") ->
          r.getAs[Long]("ndv")).toMap
      assert(math.abs(rows("id") - 60L) <= 3)
      assert(rows("name") == 6L)
      // the CATALOG copy of the metadata carries the registration (the
      // filesystem hint never advanced — the CALL committed through the
      // REST set-statistics update under the 409-retry loop)
      val t = cat.loadTable(spark, "db", "t")
      assert(t.metadata.statistics.size == 1)
      assert(t.metadata.statistics.head.snapshotId ==
        t.currentSnapshot.snapshotId)
      assert(scala.io.Source.fromFile(s"$url/metadata/version-hint.text")
        .mkString.trim == "1")
    }
  }

  test("CALL register_table through REST: the server adopts an existing " +
      "metadata file — zero bytes move, rows serve through the new entry") {
    withServer { (cat, server) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._
      // a real table OUTSIDE the catalog
      val url = java.nio.file.Files.createTempDirectory("graft_rest_reg")
        .toString + "/t"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
      graft.iceberg.IcebergWriter.append(spark, url,
        (1L to 25L).map(Tuple1(_)).toDF("id"))
      val v = graft.iceberg.IcebergTable.load(spark, url).version
      cat.createNamespace("db")

      val catName = s"icereg${server.getAddress.getPort}"
      spark.conf.set(s"spark.sql.catalog.$catName",
        "graft.sources.GraftIcebergCatalog")
      spark.conf.set(s"spark.sql.catalog.$catName.uri",
        s"http://127.0.0.1:${server.getAddress.getPort}")
      val row = spark.sql(s"CALL $catName.system.register_table(" +
        s"table => 'db.adopted', " +
        s"metadata_file => '$url/metadata/v$v.metadata.json')").collect().head
      assert(row.getAs[Long]("total_records") == 25L)
      // the entry serves reads; the metadata file was adopted, not copied
      assert(spark.sql(s"SELECT count(*) FROM $catName.db.adopted")
        .head.getLong(0) == 25L)
      assert(cat.getTable("db", "adopted").get("metadata-location").asText
        == s"$url/metadata/v$v.metadata.json")
      // duplicate registration refuses (server-side 409)
      val e = intercept[Exception] {
        spark.sql(s"CALL $catName.system.register_table(" +
          s"table => 'db.adopted', " +
          s"metadata_file => '$url/metadata/v$v.metadata.json')").collect()
      }
      assert(e.getMessage.contains("409") || e.getMessage.contains("duplicate"))
      // snapshot/migrate stay path-catalog-only: loud refusal here
      val e2 = intercept[Exception] {
        spark.sql(s"CALL $catName.system.snapshot(table => 'db.s2', " +
          s"source_dir => '$url/data')").collect()
      }
      assert(e2.getMessage.contains("path catalog") ||
        Option(e2.getCause).exists(_.getMessage.contains("path catalog")))
    }
  }

  test("CALL rewrite_table_path through REST stages the CATALOG's current " +
      "metadata, not the stale filesystem hint") {
    withServer { (cat, server) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_rest_rtp").toString
      val url = s"$root/site_a/t"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
      cat.createNamespace("db")
      cat.createTable("db", "t", Seq("id" -> "long"), location = Some(url))
      // two REST commits, then FORCE the filesystem hint stale: the
      // catalog's metadata-location stays current while a hint-based
      // re-resolve would land on the empty v1
      cat.commitAppend(spark, "db", "t",
        (1L to 20L).map(Tuple1(_)).toDF("id").coalesce(1))
      cat.commitAppend(spark, "db", "t",
        (21L to 40L).map(Tuple1(_)).toDF("id").coalesce(1))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$url/metadata/version-hint.text"),
        "1".getBytes)

      val catName = s"icertp${server.getAddress.getPort}"
      spark.conf.set(s"spark.sql.catalog.$catName",
        "graft.sources.GraftIcebergCatalog")
      spark.conf.set(s"spark.sql.catalog.$catName.uri",
        s"http://127.0.0.1:${server.getAddress.getPort}")
      val r = spark.sql(s"CALL $catName.system.rewrite_table_path(" +
        s"table => 'db.t', source_prefix => '$root/site_a', " +
        s"target_prefix => '$root/site_b')").collect().head
      assert(r.getAs[Long]("data_files") == 2L)
      // the staged copy reflects the catalog's snapshot-bearing metadata:
      // execute the plan and the target must serve the 40 rows the REST
      // entry serves — a hint-resolved rewrite would stage empty v1
      graft.iceberg.RewriteTablePath.executeCopyPlan(
        r.getAs[String]("file_list_path"), spark.sessionState.newHadoopConf())
      assert(graft.iceberg.IcebergTable.load(spark, s"$root/site_b/t")
        .read().count() == 40)
    }
  }

  test("CALL compute_partition_stats through REST: the stats file " +
      "registers catalog-atomically and the result row carries its path") {
    withServer { (cat, server) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._
      val url = java.nio.file.Files.createTempDirectory("graft_rest_cps").toString + "/t"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))),
        partitions = Seq(("name", "identity")))
      cat.createNamespace("db")
      cat.createTable("db", "t", Seq("id" -> "long", "name" -> "string"),
        location = Some(url))
      cat.commitAppend(spark, "db", "t",
        (1L to 40L).map(i => (i, s"n${i % 4}")).toDF("id", "name"))
      val catName = s"icecps${server.getAddress.getPort}"
      spark.conf.set(s"spark.sql.catalog.$catName",
        "graft.sources.GraftIcebergCatalog")
      spark.conf.set(s"spark.sql.catalog.$catName.uri",
        s"http://127.0.0.1:${server.getAddress.getPort}")
      val path = spark.sql(
        s"CALL $catName.system.compute_partition_stats(table => 'db.t')")
        .head().getAs[String]("statistics_path")
      assert(new java.io.File(path).isFile)
      val t = cat.loadTable(spark, "db", "t")
      assert(t.metadata.partitionStatistics.size == 1,
        "partition-stats entry must live in the CATALOG metadata")
      assert(t.metadata.partitionStatistics.head.snapshotId ==
        t.currentSnapshot.snapshotId)
      assert(scala.io.Source.fromFile(s"$url/metadata/version-hint.text")
        .mkString.trim == "1")
    }
  }

  test("schema and spec evolution commit through REST; expiration refuses the scope") {
    withServer { (cat, _) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import spark.implicits._

      val url = java.nio.file.Files.createTempDirectory("graft_restddl").toString + "/t"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))))
      cat.createNamespace("db")
      cat.createTable("db", "t", Seq("id" -> "long", "name" -> "string"),
        location = Some(url))
      cat.commitAppend(spark, "db", "t", Seq((1L, "a")).toDF("id", "name"))

      // SCHEMA EVOLUTION through the catalog: add-schema + set-current-schema
      val ops = cat.loadTable(spark, "db", "t").ops
      graft.iceberg.IcebergWriter.addColumn(ops, "score", "double", required = false,
        default = None)
      val evolved = cat.loadTable(spark, "db", "t")
      assert(evolved.schema.fieldNames.toSeq == Seq("id", "name", "score"))
      // pre-evolution rows read null for the new column, through the catalog
      assert(evolved.read().select("score").collect().map(_.isNullAt(0)).toSeq == Seq(true))
      // writes against the evolved schema land through the catalog too
      cat.commitAppend(spark, "db", "t",
        Seq((2L, "b", 0.5)).toDF("id", "name", "score"))
      assert(cat.loadTable(spark, "db", "t").read().count() == 2)

      // PARTITION-SPEC EVOLUTION: add-spec + set-default-spec
      graft.iceberg.IcebergWriter.updatePartitionSpec(ops, Seq("name" -> "identity"))
      assert(cat.loadTable(spark, "db", "t").partitionSpec.fields
        .map(_.name).toSeq == Seq("name"))

      // the hint NEVER moved: every DDL/DML above was catalog-committed
      assert(scala.io.Source.fromFile(s"$url/metadata/version-hint.text")
        .mkString.trim == "1")

      // snapshot REMOVAL cannot express as add-snapshot diffs: refuse
      val e = intercept[UnsupportedOperationException] {
        graft.iceberg.Maintenance.expireSnapshots(ops, keepLast = 1, olderThan = None)
      }
      assert(e.getMessage.contains("REMOVES snapshots"))
    }
  }

  // ---- IceRestApi: the reference's OpenAPI examination helpers
  // (rest_client.py:103-132), offline: spec text supplied by the caller.

  // Shaped like apache/iceberg's rest-catalog-open-api.yaml (the reference's
  // doctest target AddSnapshotUpdate included verbatim in structure).
  private val openApiYaml =
    """openapi: 3.0.3
      |info:
      |  title: Apache Iceberg REST Catalog API
      |components:
      |  schemas:
      |    BaseUpdate:
      |      type: object
      |      required: [action]
      |      properties:
      |        action:
      |          type: string
      |    Snapshot:
      |      type: object
      |      properties:
      |        snapshot-id:
      |          type: integer
      |    AddSnapshotUpdate:
      |      allOf:
      |        - $ref: '#/components/schemas/BaseUpdate'
      |        - type: object
      |          required: [snapshot]
      |          properties:
      |            snapshot:
      |              $ref: '#/components/schemas/Snapshot'
      |""".stripMargin

  test("ALTER TABLE properties commit through REST as set-/remove-properties") {
    withServer { (cat, server) =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val url = java.nio.file.Files.createTempDirectory("graft_alter_rest")
        .toString + "/p"
      graft.iceberg.IcebergWriter.createTable(spark, url,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
      cat.createNamespace("db")
      cat.createTable("db", "p", Seq("id" -> "long"), location = Some(url))
      val catName = s"alttest${server.getAddress.getPort}"
      spark.conf.set(s"spark.sql.catalog.$catName",
        "graft.sources.GraftIcebergCatalog")
      spark.conf.set(s"spark.sql.catalog.$catName.uri",
        s"http://127.0.0.1:${server.getAddress.getPort}")

      spark.sql(s"ALTER TABLE $catName.db.p SET TBLPROPERTIES " +
        "('commit.retry.num-retries'='9', 'x'='tmp')")
      // the SERVER's copy (the source of truth) carries both — the commit
      // crossed the wire as a set-properties update, not a silent no-op
      val p1 = cat.loadTable(spark, "db", "p").metadata.properties
      assert(p1.get("commit.retry.num-retries").contains("9") &&
        p1.get("x").contains("tmp"))

      spark.sql(s"ALTER TABLE $catName.db.p UNSET TBLPROPERTIES ('x')")
      val p2 = cat.loadTable(spark, "db", "p").metadata.properties
      assert(!p2.contains("x") &&
        p2.get("commit.retry.num-retries").contains("9"),
        "remove-properties must drop ONLY the unset key")
    }
  }

  private def localSession(): org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** A real (id long, name string) table on disk, registered as `db.t`. */
  private def registeredTable(cat: IceRestCatalog,
      spark: org.apache.spark.sql.SparkSession, prefix: String): String = {
    val url = java.nio.file.Files.createTempDirectory(prefix).toString + "/t"
    graft.iceberg.IcebergWriter.createTable(spark, url,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))))
    cat.createNamespace("db")
    cat.createTable("db", "t", Seq("id" -> "long", "name" -> "string"),
      location = Some(url))
    url
  }

  /** The version of the catalog's current metadata-location. */
  private def catalogVersion(cat: IceRestCatalog, table: String): Int =
    """v(\d+)\.metadata\.json$""".r.findFirstMatchIn(
      cat.getTable("db", table).get("metadata-location").asText).get.group(1).toInt

  test("REST commits keep a branch's and main's retention") {
    withServer { (cat, _) =>
      val spark = localSession()
      import spark.implicits._
      val url = registeredTable(cat, spark, "graft_rest_retention")
      cat.commitAppend(spark, "db", "t", Seq((1L, "a")).toDF("id", "name"))
      val head = cat.loadTable(spark, "db", "t").currentSnapshot.snapshotId
      // main as a table written elsewhere may carry it
      cat.commitTable("db", "t",
        Seq(s"""{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": $head}"""),
        Seq(s"""{"action": "set-snapshot-ref", "ref-name": "main", "type": "branch",
               "snapshot-id": $head, "min-snapshots-to-keep": 3}"""))
      val ops = cat.loadTable(spark, "db", "t").ops
      graft.iceberg.IcebergWriter.branch(ops, "audit", snapshotId = None,
        maxRefAgeMs = Some(86400000L))
      graft.iceberg.IcebergWriter.appendToBranch(ops,
        Seq((2L, "b")).toDF("id", "name"), "audit", Map.empty[String, String])
      cat.commitAppend(spark, "db", "t", Seq((3L, "c")).toDF("id", "name"))
      val t = cat.loadTable(spark, "db", "t")
      assert(t.atBranch("audit").read().count() == 2)
      assert(t.refs("audit").maxRefAgeMs == Some(86400000L),
        "the branch commit must post the branch's max-ref-age-ms")
      assert(t.refs("main").snapshotId == t.currentSnapshot.snapshotId)
      assert(t.refs("main").minSnapshotsToKeep == Some(3),
        "the main commit must post main's min-snapshots-to-keep")
    }
  }

  test("dropRef in a catalog scope removes the ref from the catalog") {
    withServer { (cat, _) =>
      val spark = localSession()
      import spark.implicits._
      val url = registeredTable(cat, spark, "graft_rest_dropref")
      cat.commitAppend(spark, "db", "t", Seq((1L, "a")).toDF("id", "name"))
      val ops = cat.loadTable(spark, "db", "t").ops
      graft.iceberg.IcebergWriter.tag(ops, "audited", snapshotId = None, maxRefAgeMs = None)
      assert(cat.loadTable(spark, "db", "t").refs.contains("audited"))
      graft.iceberg.IcebergWriter.dropRef(ops, "audited")
      assert(!cat.loadTable(spark, "db", "t").refs.contains("audited"))
    }
  }

  test("a REST handle's ops commit through the catalog from another thread") {
    withServer { (cat, _) =>
      val spark = localSession()
      import spark.implicits._
      val url = registeredTable(cat, spark, "graft_rest_thread")
      val ops = cat.loadTable(spark, "db", "t").ops
      val before = catalogVersion(cat, "t")
      val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      import scala.concurrent.ExecutionContext.Implicits.global
      scala.concurrent.Await.result(
        scala.concurrent.Future(graft.iceberg.IcebergWriter.append(ops, rows)),
        scala.concurrent.duration.Duration(2, "min"))
      assert(catalogVersion(cat, "t") == before + 1, "the commit must post to the catalog")
      assert(cat.loadTable(spark, "db", "t").read().count() == 2)
      assert(scala.io.Source.fromFile(s"$url/metadata/version-hint.text")
        .mkString.trim == "1", "a commit on another thread must not swap the hint")
    }
  }

  test("two REST tables commit in one flow on one thread") {
    withServer { (cat, _) =>
      val spark = localSession()
      import spark.implicits._
      val tUrl = registeredTable(cat, spark, "graft_rest_two")
      val uUrl = tUrl.stripSuffix("/t") + "/u"
      graft.iceberg.IcebergWriter.createTable(spark, uUrl,
        cat.loadTable(spark, "db", "t").schema)
      cat.createTable("db", "u", Seq("id" -> "long", "name" -> "string"),
        location = Some(uUrl))
      val t = cat.loadTable(spark, "db", "t").ops
      val u = cat.loadTable(spark, "db", "u").ops
      // append to t, copy t into u, then delete from t: each commit goes
      // through its own table's ops, with no scope to open or nest
      graft.iceberg.IcebergWriter.append(t,
        Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1))
      graft.iceberg.IcebergWriter.append(u, cat.loadTable(spark, "db", "t").read())
      graft.iceberg.IcebergWriter.deleteRows(t, graft.iceberg.Pruning.Eq("id", 1L))
      assert(catalogVersion(cat, "t") == 3 && catalogVersion(cat, "u") == 2)
      assert(cat.loadTable(spark, "db", "t").read().as[(Long, String)].collect().toSeq ==
        Seq((2L, "b")))
      assert(cat.loadTable(spark, "db", "u").read().as[(Long, String)].collect()
        .sortBy(_._1).toSeq == Seq((1L, "a"), (2L, "b")))
      for (url <- Seq(tUrl, uUrl))
        assert(scala.io.Source.fromFile(s"$url/metadata/version-hint.text")
          .mkString.trim == "1", s"$url: the hint must not move")
    }
  }

  test("a row-level delete on a v1 table in a catalog scope raises the " +
      "catalog's metadata to v2") {
    withServer { (cat, _) =>
      val spark = localSession()
      import spark.implicits._
      val url = registeredTable(cat, spark, "graft_rest_v1del")
      cat.commitAppend(spark, "db", "t",
        Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1))
      assert(cat.loadTable(spark, "db", "t").metadata.formatVersion == 1)
      graft.iceberg.IcebergWriter.deleteRows(cat.loadTable(spark, "db", "t").ops,
        graft.iceberg.Pruning.Eq("id", 1L))
      val t = cat.loadTable(spark, "db", "t")
      assert(t.metadata.formatVersion == 2, "delete manifests are a v2 feature")
      assert(t.read().as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    }
  }

  test("upgradeFormatVersion(3) in a catalog scope reaches v3; later appends " +
      "get disjoint row-id ranges") {
    withServer { (cat, _) =>
      val spark = localSession()
      import spark.implicits._
      val url = registeredTable(cat, spark, "graft_rest_v3")
      graft.iceberg.IcebergWriter.upgradeFormatVersion(cat.loadTable(spark, "db", "t").ops, 3)
      val v3 = cat.loadTable(spark, "db", "t").metadata
      assert(v3.formatVersion == 3 && v3.nextRowId.contains(0L))
      cat.commitAppend(spark, "db", "t",
        Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1))
      cat.commitAppend(spark, "db", "t", Seq((3L, "c")).toDF("id", "name").coalesce(1))
      val t = cat.loadTable(spark, "db", "t")
      val ranges = t.liveFiles().map(f =>
        f.firstRowId.map(r => (r, r + f.recordCount))).sortBy(_.map(_._1))
      assert(ranges == Seq(Some((0L, 2L)), Some((2L, 3L))), s"$ranges")
      assert(t.metadata.nextRowId.contains(3L))
    }
  }

  test("dropping a sort-key column in a catalog scope resets the catalog's " +
      "default sort order") {
    withServer { (cat, _) =>
      val spark = localSession()
      val url = registeredTable(cat, spark, "graft_rest_sortdrop")
      val ops = cat.loadTable(spark, "db", "t").ops
      graft.iceberg.IcebergWriter.setSortOrder(ops, Seq("name" -> "asc"))
      assert(cat.loadTable(spark, "db", "t").metadata.defaultSortOrderId != 0)
      graft.iceberg.IcebergWriter.dropColumn(ops, "name")
      val t = cat.loadTable(spark, "db", "t")
      assert(t.schema.fieldNames.toSeq == Seq("id"))
      assert(t.metadata.defaultSortOrderId == 0, "the order on `name` must not dangle")
    }
  }

  test("ALTER TABLE through REST: one statement publishes one version, or nothing") {
    withServer { (cat, server) =>
      val spark = localSession()
      registeredTable(cat, spark, "graft_rest_alter")
      val catName = s"altcols${server.getAddress.getPort}"
      spark.conf.set(s"spark.sql.catalog.$catName", "graft.sources.GraftIcebergCatalog")
      spark.conf.set(s"spark.sql.catalog.$catName.uri",
        s"http://127.0.0.1:${server.getAddress.getPort}")
      val v0 = catalogVersion(cat, "t")
      spark.sql(s"ALTER TABLE $catName.db.t ADD COLUMNS (a INT, b INT)")
      assert(catalogVersion(cat, "t") == v0 + 1)
      assert(cat.loadTable(spark, "db", "t").schema.fieldNames.toSeq ==
        Seq("id", "name", "a", "b"))
      // the second column exists already: the first must not land alone
      val catalog = spark.sessionState.catalogManager.catalog(catName)
        .asInstanceOf[GraftIcebergCatalog]
      intercept[IllegalArgumentException] {
        catalog.alterTable(
          org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "t"),
          org.apache.spark.sql.connector.catalog.TableChange.addColumn(
            Array("c"), org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.connector.catalog.TableChange.addColumn(
            Array("a"), org.apache.spark.sql.types.IntegerType))
      }
      assert(catalogVersion(cat, "t") == v0 + 1)
      assert(!cat.loadTable(spark, "db", "t").schema.fieldNames.contains("c"))
    }
  }

  test("IceRestApi.definition navigates $ref fragment paths (rest_client.py:119-132)") {
    val spec = IceRestApi.load(openApiYaml)
    val d = IceRestApi.definition("#/components/schemas/AddSnapshotUpdate", spec)
    // the reference doctest's shape: allOf = [BaseUpdate ref, inline object]
    val allOf = d.get("allOf")
    assert(allOf != null && allOf.size() == 2)
    assert(allOf.get(0).get("$ref").asText == "#/components/schemas/BaseUpdate")
    assert(allOf.get(1).get("required").get(0).asText == "snapshot")
    // the spec handle is reusable across calls (no process-global state)
    assert(IceRestApi.definition("#/components/schemas/Snapshot", spec)
      .get("properties").has("snapshot-id"))
  }

  test("IceRestApi: refs walkable, spec handles are independent, errors specific") {
    assert(intercept[IllegalStateException](
      IceRestApi.definition("#/components", null)).getMessage.contains("load"))
    val spec = IceRestApi.load(openApiYaml)
    val refs = IceRestApi.refsIn(
      IceRestApi.definition("#/components/schemas/AddSnapshotUpdate", spec))
    assert(refs == Seq("#/components/schemas/BaseUpdate", "#/components/schemas/Snapshot"))
    // chase each ref back through definition() — the doctest's usage pattern
    refs.foreach(r => assert(IceRestApi.definition(r, spec).isObject))
    // two callers with DIFFERENT specs never see each other's definitions
    val other = IceRestApi.load("components:\n  schemas:\n    OnlyHere:\n      type: object\n")
    assert(IceRestApi.definition("#/components/schemas/OnlyHere", other).isObject)
    intercept[NoSuchElementException](
      IceRestApi.definition("#/components/schemas/OnlyHere", spec))
    val e = intercept[NoSuchElementException](
      IceRestApi.definition("#/components/schemas/Nope", spec))
    assert(e.getMessage.contains("Nope"))
  }
}
