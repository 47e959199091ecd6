package graft.iceberg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Parquet import/migration: `addFiles` harvests FULL footer stats (by-name
  * resolution for id-less foreign files), so imported tables prune exactly
  * like natively written ones; `importParquetDir` migrates a plain parquet
  * directory in one metadata commit. */
class ImportSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("imported parquet files carry column bounds and prune") {
    val dir = java.nio.file.Files.createTempDirectory("graft_imp").toString
    val ext = s"$dir/ext"
    // 4 disjoint-range files written by PLAIN Spark (no field ids)
    (0 until 4).foreach(i =>
      ((i * 100L) until (i * 100L + 100)).map(k => (k, s"v$k")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(ext))
    val parts = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq.sorted

    val url = s"$dir/t"
    IcebergWriter.createTable(spark, url, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    IcebergWriter.addFiles(spark, url, parts, "parquet")

    val t = IcebergTable.load(spark, url)
    assert(t.countFromStats().contains(400L))
    assert(t.liveFiles().forall(_.lowerBounds.nonEmpty), "bounds harvested")
    // stats pruning: a point query plans exactly one of the 4 files
    assert(t.prunedFiles(Pruning.Eq("k", 250L)).size == 1)
    assert(t.read(filters = Seq(Seq(("k", "==", 250))))
      .as[(Long, String)].collect().toSeq == Seq((250L, "v250")))
  }

  test("rename after import: name mapping keeps imported files resolving") {
    val dir = java.nio.file.Files.createTempDirectory("graft_impnm").toString
    val ext = s"$dir/ext"
    (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.parquet(ext)
    val parts = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq

    val url = s"$dir/t"
    IcebergWriter.createTable(spark, url, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    IcebergWriter.addFiles(spark, url, parts, "parquet")
    // import recorded the spec's name mapping
    val t0 = IcebergTable.load(spark, url)
    assert(t0.metadata.properties.contains(NameMapping.Prop))
    val mapping = NameMapping.parse(t0.metadata.properties(NameMapping.Prop))
    assert(mapping.values.flatten.toSet == Set("k", "v"))

    // rename: imported files carry "v" but must serve "val2" correctly
    IcebergWriter.renameColumn(spark, url, "v", "val2")
    val t = IcebergTable.load(spark, url)
    assert(t.schema.fieldNames.toSeq == Seq("k", "val2"))
    val rows = t.read().as[(Long, String)].collect().sortBy(_._1)
    assert(rows.length == 100 && rows.head == ((1L, "v1")) &&
      rows.last == ((100L, "v100")),
      s"renamed column must read the imported bytes: ${rows.take(3).toSeq}")

    // a column added after the import reads NULL from imported files even
    // though a same-named column is about to exist — and after drop +
    // re-add of the ORIGINAL name, the old bytes must NOT resurrect
    IcebergWriter.dropColumn(spark, url, "val2")
    IcebergWriter.addColumn(spark, url, "v", "string")
    val t2 = IcebergTable.load(spark, url)
    val resurrect = t2.read().selectExpr("v").collect()
    assert(resurrect.forall(_.isNullAt(0)),
      "re-added same-named column must read null, not the dropped bytes")

    // a SECOND import after a rename cannot be served by one by-name
    // batch: loud refusal, not a misread of either file generation
    IcebergWriter.renameColumn(spark, url, "k", "key")
    val e = intercept[IllegalArgumentException] {
      IcebergWriter.addFiles(spark, url, parts, "parquet")
    }
    assert(e.getMessage.contains("renamed since an earlier import"))
  }

  test("the first import publishes ONE version carrying both the name " +
      "mapping and the snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_imponce").toString
    val ext = s"$dir/ext"
    (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.parquet(ext)
    val parts = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val url = s"$dir/t"
    IcebergWriter.createTable(spark, url, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    val before = IcebergTable.load(spark, url).version
    IcebergWriter.addFiles(spark, url, parts, "parquet")
    val t = IcebergTable.load(spark, url)
    assert(t.version == before + 1, "one import, one metadata version")
    assert(t.metadata.properties.contains(NameMapping.Prop))
    assert(t.metadata.currentSnapshotId >= 0)
    assert(t.read().count() == 10)
  }

  test("legacy import without a mapping: rename refuses loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_implegacy").toString
    val ext = s"$dir/ext"
    (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.parquet(ext)
    val parts = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val url = s"$dir/t"
    IcebergWriter.createTable(spark, url, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    IcebergWriter.addFiles(spark, url, parts, "parquet")
    // simulate a pre-mapping import: strip the recorded property
    IcebergWriter.removeProperties(spark, url, Seq(NameMapping.Prop))
    assert(!IcebergTable.load(spark, url).metadata.properties
      .contains(NameMapping.Prop))
    val e = intercept[UnsupportedOperationException] {
      IcebergWriter.renameColumn(spark, url, "v", "w")
    }
    assert(e.getMessage.contains("name mapping") ||
      e.getMessage.contains("name-mapping"))
    // compaction folds the imported files into native id-carrying ones —
    // after it, the rename proceeds
    Maintenance.compact(spark, url)
    IcebergWriter.renameColumn(spark, url, "v", "w")
    assert(IcebergTable.load(spark, url).schema.fieldNames.contains("w"))
  }

  test("importParquetDir migrates a directory in one metadata commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_imp2").toString
    val ext = s"$dir/ext"
    (1L to 50L).map(k => (k, k * 2.0)).toDF("a", "b")
      .repartition(3).write.parquet(ext)

    val url = s"$dir/t"
    IcebergWriter.importParquetDir(spark, url, ext)
    val t = IcebergTable.load(spark, url)
    assert(t.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(t.read().count() == 50)
    assert(t.countFromStats().contains(50L))
    assert(t.summary("operation") == "append")
    // the import is metadata-only: the data files are the ORIGINAL ones
    // (paths may come back fs-qualified, e.g. file:/…)
    assert(t.liveFiles().forall(f => t.resolvePath(f.filePath).contains(ext)))
  }
}
