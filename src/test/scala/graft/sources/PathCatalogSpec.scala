package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

/** Filesystem-warehouse catalog (HadoopCatalog pattern): tables resolve at
  * `<warehouse>/<ns>/<name>` with no catalog service, DDL supports hidden
  * partition transforms. */
class PathCatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def withCatalog(f: String => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("graft_pathcat").toString
    val cat = s"pc${wh.hashCode.toHexString}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftIcebergPathCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    f(cat)
  }

  test("CREATE TABLE with transforms, read, time travel, DROP") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cat STRING) " +
        "PARTITIONED BY (bucket(4, k), cat)")
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val url = s"$wh/db/t"
      val ice = graft.iceberg.IcebergTable.load(spark, url)
      assert(ice.partitionSpec.fields.map(_.transform).toSet == Set("bucket[4]", "identity"))

      graft.iceberg.IcebergWriter.append(spark, url,
        Seq((1L, "a"), (2L, "b")).toDF("k", "cat"))
      graft.iceberg.IcebergWriter.append(spark, url, Seq((3L, "c")).toDF("k", "cat"))
      assert(spark.table(s"$cat.db.t").count() == 3)
      assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 2").count() == 2)

      val catalog = spark.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[GraftIcebergPathCatalog]
      assert(catalog.listTables(Array("db")).map(_.name()).toSeq == Seq("t"))
      assert(catalog.tableExists(Identifier.of(Array("db"), "t")))

      spark.sql(s"DROP TABLE $cat.db.t")
      assert(!catalog.tableExists(Identifier.of(Array("db"), "t")))
    }
  }

  test("ALTER TABLE publishes one metadata version per statement, or nothing") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT)")
      val url = s"${spark.conf.get(s"spark.sql.catalog.$cat.warehouse")}/db/t"
      val v0 = graft.iceberg.IcebergTable.load(spark, url).version
      spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (a INT, b INT)")
      val t = graft.iceberg.IcebergTable.load(spark, url)
      assert(t.version == v0 + 1)
      assert(t.schema.fieldNames.toSeq == Seq("k", "a", "b"))
      // the second column exists already: the first must not land alone
      val catalog = spark.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[GraftIcebergPathCatalog]
      intercept[IllegalArgumentException] {
        catalog.alterTable(Identifier.of(Array("db"), "t"),
          org.apache.spark.sql.connector.catalog.TableChange.addColumn(
            Array("c"), org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.connector.catalog.TableChange.addColumn(
            Array("a"), org.apache.spark.sql.types.IntegerType))
      }
      val after = graft.iceberg.IcebergTable.load(spark, url)
      assert(after.version == v0 + 1 && !after.schema.fieldNames.contains("c"))
    }
  }

  test("INSERT INTO / INSERT OVERWRITE / writeTo commit through the V2 table") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.w (k BIGINT, cat STRING)")
      spark.sql(s"INSERT INTO $cat.db.w VALUES (1, 'a'), (2, 'b')")
      spark.sql(s"INSERT INTO $cat.db.w VALUES (3, 'c')")
      assert(spark.sql(s"SELECT * FROM $cat.db.w ORDER BY k")
        .as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))

      // snapshots: create has none; two inserts = two appends
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val ice = graft.iceberg.IcebergTable.load(spark, s"$wh/db/w")
      assert(ice.snapshots.size == 2)
      assert(ice.summary("operation") == "append")

      spark.sql(s"INSERT OVERWRITE $cat.db.w VALUES (9, 'z')")
      assert(spark.sql(s"SELECT * FROM $cat.db.w").as[(Long, String)].collect()
        .toSeq == Seq((9L, "z")))
      assert(graft.iceberg.IcebergTable.load(spark, s"$wh/db/w")
        .summary("operation") == "overwrite")

      // DataFrameWriterV2
      Seq((10L, "y")).toDF("k", "cat").writeTo(s"$cat.db.w").append()
      assert(spark.table(s"$cat.db.w").count() == 2)
      // dynamic overwrite on an unpartitioned table = full replace
      Seq((11L, "x")).toDF("k", "cat").writeTo(s"$cat.db.w").overwritePartitions()
      assert(spark.table(s"$cat.db.w").as[(Long, String)].collect().toSeq ==
        Seq((11L, "x")))
    }
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.dyn (k BIGINT, cat STRING) PARTITIONED BY (cat)")
      spark.sql(s"INSERT INTO $cat.db.dyn VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      // batch touches partitions a and b; c must survive untouched
      Seq((10L, "a"), (11L, "b")).toDF("k", "cat")
        .writeTo(s"$cat.db.dyn").overwritePartitions()
      assert(spark.sql(s"SELECT * FROM $cat.db.dyn ORDER BY k")
        .as[(Long, String)].collect().toSeq ==
        Seq((3L, "c"), (10L, "a"), (11L, "b")))
    }
  }

  test("static-partition INSERT OVERWRITE replaces only that partition's files") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.p (k BIGINT, cat STRING) PARTITIONED BY (cat)")
      spark.sql(s"INSERT INTO $cat.db.p VALUES (1, 'a'), (2, 'a'), (3, 'b')")
      // OverwriteByExpression with cat='a' → whole-file predicate overwrite:
      // partition a's files replaced, partition b untouched
      spark.sql(s"INSERT OVERWRITE $cat.db.p PARTITION (cat='a') VALUES (7)")
      assert(spark.sql(s"SELECT * FROM $cat.db.p ORDER BY k").as[(Long, String)]
        .collect().toSeq == Seq((3L, "b"), (7L, "a")))
    }
  }

  test("SQL DELETE FROM: whole files drop, split files delete by position") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.d (k BIGINT, cat STRING)")
      spark.sql(s"INSERT INTO $cat.db.d SELECT id, 'x' FROM range(1, 101)")
      // splits the single data file → position deletes
      spark.sql(s"DELETE FROM $cat.db.d WHERE k >= 40 AND k < 60")
      assert(spark.table(s"$cat.db.d").count() == 80)
      assert(spark.sql(s"SELECT MIN(k) AS lo, MAX(k) AS hi FROM $cat.db.d WHERE k BETWEEN 30 AND 70")
        .as[(Long, Long)].head() == ((30L, 70L)))
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val ice = graft.iceberg.IcebergTable.load(spark, s"$wh/db/d")
      assert(ice.positionDeleteFiles.nonEmpty)
      // whole-table delete drops everything without row scans
      spark.sql(s"DELETE FROM $cat.db.d")
      assert(spark.table(s"$cat.db.d").count() == 0)
    }
  }

  test("SQL UPDATE and MERGE INTO run through the V2 table (default merge-on-read)") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.u (k BIGINT, cat STRING)")
      spark.sql(s"INSERT INTO $cat.db.u SELECT id, 'old' FROM range(1, 11)")
      spark.sql(s"UPDATE $cat.db.u SET cat = 'upd' WHERE k >= 8")
      assert(spark.sql(s"SELECT * FROM $cat.db.u ORDER BY k").as[(Long, String)]
        .collect().toSeq ==
        (1L to 10L).map(i => (i, if (i >= 8) "upd" else "old")))

      spark.sql(s"CREATE TABLE $cat.db.src (k BIGINT, cat STRING)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES (9, 'merged'), (11, 'merged')")
      spark.sql(
        s"""MERGE INTO $cat.db.u t USING $cat.db.src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(spark.sql(s"SELECT * FROM $cat.db.u ORDER BY k").as[(Long, String)]
        .collect().toSeq ==
        ((1L to 10L).map(i => (i,
          if (i == 9) "merged" else if (i >= 8) "upd" else "old")) :+ (11L, "merged")))

      // history: every row-level op is one snapshot
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val ice = graft.iceberg.IcebergTable.load(spark, s"$wh/db/u")
      assert(ice.summary("operation") == "overwrite")
    }
  }

  test("copy-on-write UPDATE composes with live position deletes") {
    withCatalog { cat =>
      // this test pins the COPY-ON-WRITE protocol (merge-on-read is default)
      spark.conf.set("spark.graft.iceberg.dmlMode", "copy-on-write")
      try cowUpdateComposes(cat)
      finally spark.conf.unset("spark.graft.iceberg.dmlMode")
    }
  }

  private def cowUpdateComposes(cat: String): Unit = {
    {
      spark.sql(s"CREATE TABLE $cat.db.m (k BIGINT, cat STRING)")
      // one source partition -> one data file: the UPDATE below must then
      // rewrite the same file the position deletes target
      spark.sql(s"INSERT INTO $cat.db.m SELECT id, 'a' FROM range(1, 21, 1, 1)")
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      // position-delete k in [5,8) first (splits the file)
      graft.iceberg.IcebergWriter.deleteRows(spark, s"$wh/db/m",
        graft.iceberg.Pruning.And(
          graft.iceberg.Pruning.GtEq("k", 5), graft.iceberg.Pruning.Lt("k", 8)))
      // the rewrite must fold the deletes: deleted rows stay gone,
      // updated rows change, everything else survives byte-for-byte
      spark.sql(s"UPDATE $cat.db.m SET cat = 'u' WHERE k >= 15")
      val got = spark.sql(s"SELECT * FROM $cat.db.m ORDER BY k")
        .as[(Long, String)].collect().toSeq
      assert(got == ((1L to 4L) ++ (8L to 20L)).map(i =>
        (i, if (i >= 15) "u" else "a")))
      // the replaced file's position deletes were folded away, stats exact
      val ice = graft.iceberg.IcebergTable.load(spark, s"$wh/db/m")
      assert(ice.positionDeleteFiles.isEmpty,
        "rewriting a file must retire the deletes that targeted it")
      assert(ice.countFromStats().contains(17L))
    }
  }

  test("year-transform DDL maps to the Iceberg spec name") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.ts (ev TIMESTAMP, v BIGINT) " +
        "PARTITIONED BY (years(ev))")
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val ice = graft.iceberg.IcebergTable.load(spark, s"$wh/db/ts")
      assert(ice.partitionSpec.fields.map(_.transform).toSeq == Seq("year"))
    }
  }

  test("SQL metadata tables: snapshots, files, manifests, partitions") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.m (k BIGINT, c STRING) " +
        "PARTITIONED BY (c)")
      spark.sql(s"INSERT INTO $cat.db.m VALUES (1, 'a'), (2, 'a'), (3, 'b')")
      spark.sql(s"INSERT INTO $cat.db.m VALUES (4, 'b')")

      val snaps = spark.sql(
        s"SELECT operation, total_records FROM $cat.db.m.snapshots ORDER BY committed_at")
        .as[(String, Long)].collect().toSeq
      assert(snaps == Seq(("append", 3L), ("append", 4L)))
      assert(spark.sql(s"SELECT * FROM $cat.db.m.files").count() == 3) // a + 2×b
      assert(spark.sql(s"SELECT * FROM $cat.db.m.manifests").count() == 2)
      val parts = spark.sql(
        s"SELECT c, n_files, n_records FROM $cat.db.m.partitions ORDER BY c")
        .as[(String, Long, Long)].collect().toSeq
      assert(parts == Seq(("a", 1L, 2L), ("b", 2L, 2L)))
      // projections and filters work through the LocalScan
      assert(spark.sql(
        s"SELECT record_count FROM $cat.db.m.files WHERE record_count > 1").count() == 1)
      // metadata tables reflect CURRENT state after more commits
      spark.sql(s"INSERT INTO $cat.db.m VALUES (5, 'a')")
      assert(spark.sql(s"SELECT * FROM $cat.db.m.snapshots").count() == 3)

      // the `statistics` metadata table: empty before compute, one row per
      // NDV blob + one per partition-stats file after
      assert(spark.sql(s"SELECT * FROM $cat.db.m.statistics").count() == 0)
      val wh2 = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      graft.iceberg.Maintenance.computeStatistics(spark, s"$wh2/db/m")
      graft.iceberg.Maintenance.computePartitionStatistics(spark, s"$wh2/db/m")
      val statRows = spark.sql(
        s"SELECT blob_type, field_name, ndv FROM $cat.db.m.statistics ORDER BY field_name")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(statRows.count(_._1 == "apache-datasketches-theta-v1") == 2)
      assert(statRows.count(_._1 == "partition-statistics") == 1)
      assert(statRows.find(_._2 == "k").exists(_._3 == 5L), s"$statRows")
      assert(statRows.find(_._2 == "c").exists(_._3 == 2L), s"$statRows")
    }
  }

  test("CTAS and RTAS: CREATE TABLE AS SELECT with hidden partitioning, " +
      "REPLACE TABLE AS SELECT swaps schema and rows") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.src (k BIGINT, grp STRING)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1,'a'),(2,'b'),(3,'a'),(4,'b'),(5,'a')")
      spark.sql(s"CREATE TABLE $cat.db.ct PARTITIONED BY (grp) " +
        s"AS SELECT k, grp FROM $cat.db.src WHERE k > 1")
      assert(spark.table(s"$cat.db.ct").count() == 4)
      // the CTAS table is a REAL partitioned Iceberg table: identity
      // transform recorded, one file per value, partition pruning works
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val t = graft.iceberg.IcebergTable.load(spark, s"$wh/db/ct")
      assert(t.partitionSpec.fields.map(_.transform) == Seq("identity"))
      assert(t.prunedFiles(graft.iceberg.Pruning.Eq("grp", "a")).size <
        t.liveFiles().size)
      // CTAS over an existing table refuses; IF NOT EXISTS is a no-op
      intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.ct AS SELECT 1L AS one")
      }
      spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.db.ct AS SELECT 1L AS one")
      assert(spark.table(s"$cat.db.ct").count() == 4)
      // RTAS: new schema, new rows, same identifier
      spark.sql(s"REPLACE TABLE $cat.db.ct AS " +
        s"SELECT grp, count(*) AS n FROM $cat.db.src GROUP BY grp")
      val got = spark.sql(s"SELECT grp, n FROM $cat.db.ct ORDER BY grp")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("a", 3L), ("b", 2L)))
    }
  }

  test("VARIANT through SQL DDL + DML: create births v3, insert + variant_get") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.db.vt (k BIGINT, v VARIANT)")
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val ice = graft.iceberg.IcebergTable.load(spark, s"$wh/db/vt")
      assert(ice.metadata.formatVersion == 3,
        "SQL DDL with a VARIANT column must birth a v3 table")
      assert(ice.iceSchema.fields.find(_.name == "v").get.icebergTypeString == "variant")
      spark.sql(s"INSERT INTO $cat.db.vt " +
        """SELECT 1L, parse_json('{"a":7,"b":"x"}') """ +
        """UNION ALL SELECT 2L, parse_json('[1,2]')""")
      val got = spark.sql(
        s"SELECT k, to_json(v), variant_get(v, '$$.a', 'long') FROM $cat.db.vt ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      assert(got == Seq((1L, """{"a":7,"b":"x"}""", 7L), (2L, "[1,2]", -1L)), got)
      // row-level SQL DML composes: v3 table -> deletion vectors
      spark.sql(s"DELETE FROM $cat.db.vt WHERE k = 2")
      assert(spark.table(s"$cat.db.vt").count() == 1)
      val after = graft.iceberg.IcebergTable.load(spark, s"$wh/db/vt")
      assert(after.positionDeleteFiles.forall(_.isDv))
    }
  }
}
