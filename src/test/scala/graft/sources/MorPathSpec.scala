package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{CountingFileSystem, IcebergTable, IcebergWriter, Pruning}

/** The one merge-on-read delete path: scans ship delete-file paths and
  * metadata-only equality specs, and only tasks open delete files. Planning
  * a scan with position deletes, equality deletes and deletion vectors
  * runs no Spark job and reads no delete file on the driver, and the
  * reader factory stays small because its hadoop conf is a broadcast. */
class MorPathSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  /** Runs `body` on a table directory of the `counting` scheme. Manifests
    * record file paths without a scheme, so the scheme is also the
    * session's default filesystem: reads of data and delete files resolve
    * to it too. */
  private def withCountingFs[T](body: String => T): T = {
    val confs = CountingFileSystem.Confs :+ ("fs.defaultFS" -> "counting:///")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body("counting://" + java.nio.file.Files.createTempDirectory("graft_mor_path"))
    finally {
      CountingFileSystem.reset()
      confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  /** A v2 table with position AND equality deletes live. */
  private def v2Table(url: String): Unit = {
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.append(spark, url,
      (41L to 60L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 10L), Pruning.Lt("k", 25L)))
    IcebergWriter.upsert(spark, url,
      Seq((30L, "u30"), (50L, "u50")).toDF("k", "v").coalesce(1), Seq("k"))
  }

  /** A v3 table whose position deletes are deletion vectors. */
  private def v3Table(url: String): Unit = {
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 30L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.upgradeFormatVersion(spark, url, 3)
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(3L, 7L, 11L)))
  }

  private val v2Expected = ((1L to 9L) ++ (25L to 60L)).filterNot(Set(30L, 50L))
    .map(i => (i, if (i <= 40L) s"a$i" else s"b$i")) ++
    Seq((30L, "u30"), (50L, "u50"))

  /** The delete files of `url`'s current snapshot, as the paths the
    * counting filesystem records. */
  private def deletePaths(url: String): Set[String] = {
    val t = IcebergTable.load(spark, url)
    t.liveDeleteFiles.map(d => new Path(t.resolvePath(d.filePath)).toUri.getPath).toSet
  }

  /** Runs `body`; the Spark jobs it started. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** The connector scan nodes of `df`'s physical plan. */
  private def scans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }

  test("planning and reading a MOR scan open delete files only in tasks") {
    withCountingFs { dir =>
      val v2 = s"$dir/v2"
      val v3 = s"$dir/v3"
      v2Table(v2)
      v3Table(v3)
      val deletes = deletePaths(v2) ++ deletePaths(v3)
      assert(deletes.size >= 3, s"position, equality and DV carriers: $deletes")

      CountingFileSystem.reset()
      val got2 = IcebergTable.load(spark, v2).read().as[(Long, String)].collect()
      val got3 = IcebergTable.load(spark, v3).read().select("k").as[Long].collect()
      assert(got2.sortBy(_._1).toSeq == v2Expected.sortBy(_._1))
      assert(got3.sorted.toSeq == (1L to 30L).filterNot(Set(3L, 7L, 11L)))

      val opened = CountingFileSystem.calls.filter(c => c.op == "open" && deletes(c.path))
      assert(opened.filterNot(_.inTask).isEmpty,
        s"delete files opened on the driver: ${opened.filterNot(_.inTask).map(_.path)}")
      assert(opened.map(_.path).toSet == deletes,
        "every live delete file is read, by a task")
    }
  }

  test("a CDC stream opens delete files only in tasks") {
    withCountingFs { dir =>
      val url = s"$dir/t"
      IcebergWriter.createTable(spark, url, schema)
      IcebergWriter.append(spark, url,
        (1L to 20L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
      val from = IcebergTable.load(spark, url).currentSnapshot.snapshotId
      IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 4L))
      IcebergWriter.upsert(spark, url,
        Seq((10L, "u10")).toDF("k", "v").coalesce(1), Seq("k"))
      val deletes = deletePaths(url)

      CountingFileSystem.reset()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_mor_path_ckpt").toString
      val q = spark.readStream.format("graft-iceberg")
        .option("stream-mode", "cdc")
        .option("starting-snapshot-id", from.toString)
        .load(url)
        .writeStream.format("memory").queryName("mor_path_cdc")
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      val changes = spark.table("mor_path_cdc").select("k", "v", "_change_type")
        .as[(Long, String, String)].collect().sorted.toSeq
      assert(changes == Seq((1L, "a1", "delete"), (2L, "a2", "delete"),
        (3L, "a3", "delete"), (10L, "a10", "delete"), (10L, "u10", "insert")))

      val opened = CountingFileSystem.calls.filter(c => c.op == "open" && deletes(c.path))
      assert(opened.nonEmpty, "the stream's tasks read the delete files")
      assert(opened.forall(_.inTask),
        s"delete files opened on the driver: ${opened.filterNot(_.inTask).map(_.path)}")
    }
  }

  test("planning a MOR scan runs no Spark job; its reader factory is small") {
    val url = java.nio.file.Files.createTempDirectory("graft_mor_plan").toString + "/t"
    v2Table(url)
    val t = IcebergTable.load(spark, url)
    val deleteFree = spark.read.parquet(t.liveFiles().map(f => t.resolvePath(f.filePath)): _*)
      .rdd.getNumPartitions
    val df = t.read()
    var factory: AnyRef = null
    val jobs = jobsDuring {
      val Seq(scan) = scans(df)
      assert(scan.inputPartitions.size == deleteFree,
        "equals the delete-free layout of the same files")
      factory = scan.readerFactory
    }
    assert(jobs == 0, s"planning ran $jobs Spark job(s)")
    val bytes = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      .serialize(factory).limit()
    assert(bytes < 8 * 1024, s"reader factory serializes to $bytes bytes")
    assert(df.as[(Long, String)].collect().sortBy(_._1).toSeq == v2Expected.sortBy(_._1))
  }
}
