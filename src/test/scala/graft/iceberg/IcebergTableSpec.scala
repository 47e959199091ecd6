package graft.iceberg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** E2E parity tests against the golden Iceberg fixture, reconstructed to
  * the documented facts of the reference's test-data table (FIXTURES.md §1)
  * — mirrors the reference's tests/test_basic.py. */
class IcebergTableSpec extends AnyFunSuite {

  val TestDir = graft.IceQueries.FixtureDir
  val OrigDir = graft.IceQueries.FixtureOrig // test_basic.py:7

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val table: IcebergTable = IcebergTable.load(spark, TestDir, Some(OrigDir))

  test("version resolves from version-hint.text") { // test_basic.py:24
    assert(table.version == 5)
  }

  test("full read returns the 5 live rows") { // test_basic.py:10-13
    val rows = table.read().collect()
    assert(rows.length == 5)
    val names = rows.map(_.getAs[String]("name")).toSet
    assert(names == Set("Alex", "Bob", "Roger", "Fiona", "John"))
  }

  test("filter by email finds John") { // test_basic.py:14-18
    val rows = table.read(filters = Seq(Seq(("email", "==", "email@email.email"))))
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("name") == "John")
    assert(r.getAs[Int]("age") == 56)
  }

  test("exactly one non-null email") { // test_basic.py:19
    assert(table.read().where("email is not null").count() == 1)
  }

  test("schema at head has email; snapshot -1 does not") { // test_basic.py:26-35
    assert(table.schema.fieldNames.toSeq == Seq("name", "age", "email"))
    val prev = table.snapshotRelative(-1)
    assert(prev.schema.fieldNames.toSeq == Seq("name", "age"))
    // field ids preserved in column metadata
    assert(table.schema("email").metadata.getLong("iceberg.field-id") == 3L)
  }

  test("time travel by relative snapshot changes the file set") {
    val prev = table.snapshotRelative(-1)
    assert(prev.currentSnapshot.snapshotId == 1311955902847697544L)
    assert(prev.read().count() == 4) // before the final append
  }

  test("time travel by absolute snapshot id") {
    val first = table.atSnapshot(2945427400371479360L)
    assert(first.read().count() == 4)
    assert(first.summary("operation") == "append")
  }

  test("relative snapshot validation matches reference") { // ice.py:131-137
    assertThrows[IllegalArgumentException](table.snapshotRelative(1))
    assertThrows[IllegalArgumentException](table.snapshotRelative(-5))
  }

  test("evolved-away column is null in old files") {
    val emails = table.read().select("email").collect().map(_.getString(0))
    assert(emails.count(_ != null) == 1)
  }

  test("stats pruning skips files on age predicate") {
    // age bounds per file are tight (1 row each); age > 50 must scan fewer files
    val all = table.liveFiles()
    val ctx = Pruning.Context(
      table.iceSchema.fields.map(f =>
        f.name -> Pruning.FieldInfo(f.id, f.name, f.icebergTypeString)).toMap,
      table.partitionSpec)
    val pred = Pruning.Gt("age", 50)
    val kept = all.filter(f => Pruning.fileMightMatch(pred, f, ctx))
    assert(kept.size < all.size)
    // and the pruned read still returns the right rows
    val rows = table.read(filters = Seq(Seq(("age", ">", 50)))).collect()
    assert(rows.map(_.getAs[String]("name")).toSet == Set("John"))
  }

  test("filter pruning everything raises like the reference") { // ice.py:248-249
    assertThrows[IllegalArgumentException] {
      table.read(filters = Seq(Seq(("age", ">", 1000))))
    }
  }

  test("metadata-only: count from stats, zero data I/O") {
    assert(table.countFromStats().contains(5L))
    assert(table.snapshotRelative(-1).countFromStats().contains(4L))
  }

  test("snapshot summary introspection") { // ice.py:153-155
    assert(table.summary("operation") == "append")
    assert(table.summary("total-records") == "5")
  }

  test("metadata tables: snapshots/files/manifests DataFrames") {
    assert(table.snapshotsDf.count() == 3)
    assert(table.filesDf.count() == 5)
    assert(table.manifestsDf.count() >= 1)
    val ops = table.snapshotsDf.select("operation").collect().map(_.getString(0)).toSet
    assert(ops == Set("append", "overwrite"))
  }

  test("load from explicit metadata JSON url") { // ice.py:82-85 branch
    val t = IcebergTable.load(spark, s"$TestDir/metadata/v5.metadata.json", Some(OrigDir))
    assert(t.read().count() == 5)
  }

  test("unpartitioned table has no unique partitions") {
    assert(table.uniquePartitions().isEmpty)
  }

  test("gzip-compressed metadata reads: v{N}.gzip.metadata.json naming " +
      "and magic-sniffed payloads (foreign compression-codec=gzip tables)") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    val url = java.nio.file.Files.createTempDirectory("graft_gzmeta").toString + "/t"
    IcebergWriter.createTable(spark, url,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
    IcebergWriter.append(spark, url,
      (1L to 30L).map(Tuple1(_)).toDF("k").coalesce(1))
    // rewrite the current metadata json the way a gzip-codec writer names
    // and encodes it, dropping the plain file
    val v = IcebergTable.versionHint(url,
      spark.sessionState.newHadoopConf())
    val plain = new java.io.File(s"$url/metadata/v$v.metadata.json")
    val bytes = java.nio.file.Files.readAllBytes(plain.toPath)
    val gz = new java.io.File(s"$url/metadata/v$v.gzip.metadata.json")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gz))
    out.write(bytes); out.close()
    assert(plain.delete())
    val t = IcebergTable.load(spark, url)
    assert(t.read().count() == 30)
    // explicit-path load sniffs the magic too
    assert(IcebergTable.load(spark, gz.getAbsolutePath).read().count() == 30)
  }
}
