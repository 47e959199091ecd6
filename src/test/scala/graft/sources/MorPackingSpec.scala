package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graftbridge.{MorMembers, ScanBridge}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{FileSystemOps, IcebergTable, IcebergWriter, Pruning, WrittenFile}

/** A merge-on-read scan takes the task layout Spark's parquet scan gives
  * the same files without deletes: small files pack into one task and a
  * large file splits across tasks, while every member file keeps its own
  * deletes, metadata-column values and equality-delete scope. */
class MorPackingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("p", IntegerType), StructField("v", StringType)))

  private val kv = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_mor_pack").toString + "/t"

  private def scans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Keys whose rows the packed tables delete: two in file 1, one each in
    * files 5 and 9. */
  private val deletedKeys = Seq(12L, 13L, 55L, 98L)

  /** 12 one-file appends — file i holds k in [10i, 10i+10) in order, in
    * partition p = i % 3 — then one `deleteRows` of [[deletedKeys]]
    * (parquet position deletes on v2, deletion vectors on v3). Returns
    * the url and the live rows. */
  private def packedTable(v3: Boolean): (String, Seq[(Long, Int, String)]) = {
    val url = fresh()
    IcebergWriter.createTable(spark, url, schema, partitions = Seq("p" -> "identity"))
    if (v3) IcebergWriter.upgradeFormatVersion(spark, url, 3)
    for (i <- 0 until 12)
      IcebergWriter.append(spark, url, (10 * i until 10 * i + 10)
        .map(k => (k.toLong, i % 3, s"v$k")).toDF("k", "p", "v").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", deletedKeys))
    (url, (0L until 120L).filterNot(deletedKeys.contains)
      .map(k => (k, (k / 10 % 3).toInt, s"v$k")))
  }

  test("12 small files with position deletes plan the delete-free layout of the same files") {
    val (url, expected) = packedTable(v3 = false)
    val t = IcebergTable.load(spark, url)
    assert(t.positionDeleteFiles.nonEmpty)
    val dataFiles = t.liveFiles().map(f => t.resolvePath(f.filePath))
    assert(dataFiles.size == 12)
    val deleteFree = spark.read.parquet(dataFiles: _*).rdd.getNumPartitions
    assert(deleteFree < 12, s"Spark packs the 12 small files into $deleteFree tasks")
    val df = t.read()
    val Seq(scan) = scans(df)
    assert(scan.inputPartitions.size == deleteFree)
    assert(df.as[(Long, Int, String)].collect().sorted.toSeq == expected)
  }

  test("a packed task mixes files with and without deletes; each member keeps its metadata columns") {
    for (v3 <- Seq(false, true)) {
      val (url, expected) = packedTable(v3)
      val t = IcebergTable.load(spark, url)

      // columnar path: no metadata columns
      val plain = t.read()
      val Seq(scan) = scans(plain)
      assert(scan.supportsColumnar, s"v3=$v3")
      assert(plain.as[(Long, Int, String)].collect().sorted.toSeq == expected, s"v3=$v3")

      // row path: metadata columns, per member
      val withMeta = t.read().select("k", "p", "_file", "_pos", "_partition", "_row_id")
      val Seq(metaScan) = scans(withMeta)
      assert(!metaScan.supportsColumnar, s"v3=$v3")
      assert(metaScan.inputPartitions.size == scan.inputPartitions.size, s"v3=$v3")
      val got = withMeta.as[(Long, Int, String, Long, String, Option[Long])].collect()
      assert(got.map(_._1).sorted.toSeq == expected.map(_._1), s"v3=$v3")
      val firstRowId = t.liveFiles().map(f => t.resolvePath(f.filePath) -> f.firstRowId).toMap
      assert(firstRowId.values.forall(_.isDefined) == v3)
      got.foreach { case (k, p, file, pos, partition, rowId) =>
        assert(pos == k % 10, s"v3=$v3 k=$k")
        assert(partition == s"p=$p", s"v3=$v3 k=$k")
        assert(rowId == firstRowId(file).map(_ + pos), s"v3=$v3 k=$k")
      }
      val fileOf = got.groupBy(_._1 / 10).map { case (i, rows) =>
        val files = rows.map(_._3).distinct
        assert(files.size == 1, s"v3=$v3: keys of file $i read from $files")
        i -> ScanBridge.morKey(files.head)
      }
      assert(fileOf.values.toSet.size == 12, s"v3=$v3")

      val withDeletes = deletedKeys.map(k => fileOf(k / 10)).toSet
      val mixed = scan.inputPartitions.map(MorMembers(_).map(m => ScanBridge.morKey(m.path)))
        .filter(keys => keys.exists(withDeletes) && keys.exists(k => !withDeletes(k)))
      assert(mixed.nonEmpty, s"v3=$v3: no task holds files with and without deletes")
    }
  }

  test("a file split across tasks applies its deletes in every split, row and columnar") {
    val url = fresh()
    IcebergWriter.createTable(spark, url, kv)
    // a placeholder row: the delta commit below needs a current snapshot,
    // and the delete drops the placeholder's file whole
    IcebergWriter.append(spark, url, Seq((-1L, "x")).toDF("k", "v").coalesce(1))
    val t0 = IcebergTable.load(spark, url)
    // one data file of many small row groups: written by Spark's parquet
    // writer under the table's field ids, committed like a task-written file
    val staging = java.nio.file.Files.createTempDirectory("graft_mor_pack_stage").toString
    spark.createDataFrame((0L until 4000L).map(k => Row(k, s"v$k")).asJava, t0.schema)
      .coalesce(1).write.option("parquet.block.size", "4096").parquet(s"$staging/out")
    val part = new java.io.File(s"$staging/out").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val path = s"$url/data/split-0.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$url/data"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path))
    val size = new java.io.File(path).length()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), t0.conf))
    val rowGroups = try reader.getFooter.getBlocks.size finally reader.close()
    assert(rowGroups >= 4, s"$rowGroups row groups")
    val stats = IcebergWriter.collectStats(spark, Seq(path -> size), t0.iceSchema, t0.conf)
    IcebergWriter.commitDelta(FileSystemOps(spark, url), java.util.UUID.randomUUID().toString,
      Seq(WrittenFile(path, size, Nil, stats(path))), Nil, "append",
      Set.empty, Set.empty,
      (t0.liveFiles().map(f => ScanBridge.morKey(t0.resolvePath(f.filePath))).toSet,
        Pruning.AlwaysTrue))
    // one deleted key near each end of the file
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(-1L, 5L, 3990L)))
    val expected = (0L until 4000L).filterNot(Set(5L, 3990L))

    withConfs("spark.sql.files.maxPartitionBytes" -> (size / 2 + 1).toString,
        "spark.sql.files.openCostInBytes" -> "0") {
      val t = IcebergTable.load(spark, url)
      assert(t.liveFiles().size == 1)
      val df = t.read().select("k")
      val Seq(scan) = scans(df)
      assert(scan.supportsColumnar)
      val members = scan.inputPartitions.toSeq.map(MorMembers(_))
      assert(members.forall(_.size == 1) && members.size >= 2,
        s"one split per task: $members")
      assert(members.flatten.map(_.path).distinct.size == 1)
      // every split answers part of the file: the rows arrive from several
      // tasks, with both deleted keys gone
      val perTask = df.rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toVector))
        .collect()
      assert(perTask.count(_.nonEmpty) >= 2, s"rows per task: ${perTask.map(_.size).toSeq}")
      assert(perTask.flatten.sorted.toSeq == expected)

      val withPos = t.read().select("k", "_pos")
      val Seq(posScan) = scans(withPos)
      assert(!posScan.supportsColumnar)
      assert(posScan.inputPartitions.size == scan.inputPartitions.size)
      assert(withPos.as[(Long, Long)].collect().sorted.toSeq == expected.map(k => (k, k)))
    }
  }

  test("equality deletes stay sequence-scoped per member of a packed task") {
    val url = fresh()
    IcebergWriter.createTable(spark, url, kv)
    IcebergWriter.append(spark, url,
      (1L to 10L).map(k => (k, s"a$k")).toDF("k", "v").coalesce(1)) // older
    IcebergWriter.equalityDelete(spark, url,
      Seq(Tuple1(3L), Tuple1(13L)).toDF("k"), Seq("k"))
    IcebergWriter.append(spark, url, // newer: its k=3 and k=13 stay
      ((11L to 20L).map(k => (k, s"b$k")) :+ ((3L, "b3"))).toDF("k", "v").coalesce(1))
    val expected = ((1L to 10L).filterNot(_ == 3L).map(k => (k, s"a$k")) ++
      (11L to 20L).map(k => (k, s"b$k")) :+ ((3L, "b3"))).sorted

    withConfs("spark.sql.files.minPartitionNum" -> "1") {
      val t = IcebergTable.load(spark, url)
      assert(t.equalityDeleteFiles.nonEmpty)
      val df = t.read()
      val Seq(scan) = scans(df)
      assert(scan.supportsColumnar)
      assert(scan.inputPartitions.size == 1 &&
        MorMembers(scan.inputPartitions.head).size == 2,
        "one task holds the file older and the file newer than the delete")
      assert(df.as[(Long, String)].collect().sorted.toSeq == expected)

      val withFile = t.read().select("k", "v", "_file")
      val Seq(rowScan) = scans(withFile)
      assert(!rowScan.supportsColumnar && rowScan.inputPartitions.size == 1)
      val got = withFile.as[(Long, String, String)].collect()
      assert(got.map(r => (r._1, r._2)).sorted.toSeq == expected)
      assert(got.groupBy(_._2.head).values.map(_.map(_._3).distinct.size).toSet == Set(1))
    }
  }
}
