package graft.iceberg

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Partition values and column types of written files come from the rows
  * themselves, identically for `IcebergWriter.append` and SQL `INSERT`:
  * no value round-trips through a directory name, and timestamps are
  * written the way the spec requires. */
class WritePathRegressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val stringKeyed = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType)))

  private def frame(schema: StructType, rows: Row*) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)

  /** A fresh warehouse with a path catalog over it: (catalog, warehouse). */
  private def warehouse(): (String, String) = {
    val wh = Files.createTempDirectory("graft_write_regress").toString
    val cat = s"wr${wh.hashCode.toHexString}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftIcebergPathCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("a string partition value with '+' reads back through readWhere and SQL") {
    val (cat, wh) = warehouse()
    val url = s"$wh/db/t"
    IcebergWriter.createTable(spark, url, stringKeyed, Seq("s" -> "identity"))
    IcebergWriter.append(spark, url, frame(stringKeyed, Row(1L, "a+b"), Row(2L, "a b")))
    val t = IcebergTable.load(spark, url)
    assert(t.liveFiles().map(_.partition("s")).toSet == Set("a+b", "a b"))
    assert(t.readWhere(Pruning.Eq("s", "a+b")).count() == 1)
    assert(spark.sql(s"SELECT id FROM $cat.db.t WHERE s = 'a+b'").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("null and the literal '__HIVE_DEFAULT_PARTITION__' stay distinct partitions") {
    val url = Files.createTempDirectory("graft_write_regress").toString + "/t"
    IcebergWriter.createTable(spark, url, stringKeyed, Seq("s" -> "identity"))
    IcebergWriter.append(spark, url,
      frame(stringKeyed, Row(1L, null), Row(2L, "__HIVE_DEFAULT_PARTITION__")))
    val t = IcebergTable.load(spark, url)
    assert(t.liveFiles().map(_.partition.getOrElse("s", null)).toSet ==
      Set(null, "__HIVE_DEFAULT_PARTITION__"))
    assert(t.readWhere(Pruning.IsNull("s")).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(t.readWhere(Pruning.Eq("s", "__HIVE_DEFAULT_PARTITION__"))
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("a timestamp column is written as INT64 TIMESTAMP(MICROS) with bounds") {
    val url = Files.createTempDirectory("graft_write_regress").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType)))
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, frame(schema,
      Row(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      Row(2L, java.sql.Timestamp.valueOf("2024-03-01 12:30:00"))))
    val t = IcebergTable.load(spark, url)
    val tsId = t.iceSchema.fields.find(_.name == "ts").get.id
    val files = t.liveFiles()
    assert(files.size == 1)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(t.resolvePath(files.head.filePath)), spark.sessionState.newHadoopConf()))
    val ts = try reader.getFooter.getFileMetaData.getSchema.getType(1).asPrimitiveType
      finally reader.close()
    assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64)
    ts.getLogicalTypeAnnotation match {
      case a: TimestampLogicalTypeAnnotation => assert(a.getUnit == TimeUnit.MICROS)
      case other => fail(s"ts is annotated $other")
    }
    val micros = (s: String) =>
      IcebergTypes.encodeBound(java.sql.Timestamp.valueOf(s).getTime * 1000L, "timestamptz").toSeq
    assert(files.head.lowerBounds.get(tsId).map(_.toSeq).contains(micros("2024-01-01 00:00:00")))
    assert(files.head.upperBounds.get(tsId).map(_.toSeq).contains(micros("2024-03-01 12:30:00")))
  }

  test("IcebergWriter.append and SQL INSERT write equal partition tuples and stats") {
    val (cat, wh) = warehouse()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType),
      StructField("ts", TimestampType), StructField("v", DoubleType),
      StructField("note", StringType)))
    val rows = (1L to 60L).map(i => Row(i, s"c${i % 3}",
      new java.sql.Timestamp(1704067200000L + i * 3600000L), i * 0.5,
      if (i % 7 == 0) null else s"n$i"))
    val parts = Seq("cat" -> "identity", "id" -> "bucket[4]")
    IcebergWriter.createTable(spark, s"$wh/db/api", schema, parts)
    IcebergWriter.createTable(spark, s"$wh/db/sql", schema, parts)
    IcebergWriter.append(spark, s"$wh/db/api", frame(schema, rows: _*))
    frame(schema, rows: _*).createOrReplaceTempView("write_regress_src")
    spark.sql(s"INSERT INTO $cat.db.sql SELECT * FROM write_regress_src")

    def described(url: String) = IcebergTable.load(spark, url).liveFiles().map { f =>
      (f.partition, f.recordCount, f.valueCounts, f.nullValueCounts, f.nanValueCounts,
        f.lowerBounds.map { case (k, v) => k -> v.toSeq },
        f.upperBounds.map { case (k, v) => k -> v.toSeq })
    }.sortBy(_._1.toSeq.sortBy(_._1).toString)
    val api = described(s"$wh/db/api")
    assert(api.size == api.map(_._1).distinct.size, "one file per partition tuple")
    assert(api.size == 12)
    assert(api.map(_._2).sum == 60L)
    assert(api == described(s"$wh/db/sql"))
  }
}
