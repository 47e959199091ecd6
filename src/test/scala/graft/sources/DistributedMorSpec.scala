package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.DeleteLoader
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{IcebergTable, IcebergWriter, Pruning}

/** DISTRIBUTED merge-on-read, the one delete path: the scan never loads
  * delete state on the driver — each task reads the delete files
  * overlapping its own data file (per-JVM cached). These tests prove the
  * scan answers exactly for every delete shape; a 100 TB CDC table whose
  * churn would not fit any driver takes the same path. */
class DistributedMorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def freshTable: String =
    java.nio.file.Files.createTempDirectory("graft_dist_mor").toString + "/tbl"

  val schema = StructType(Seq(
    StructField("k", LongType), StructField("cat", StringType)))

  test("position deletes far above the driver cap: scan answers instead of refusing") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 1000L).map(i => (i, s"c${i % 7}")).toDF("k", "cat").repartition(4))
    // delete 400 rows -> position-delete files with 400 entries total
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 201L), Pruning.Lt("k", 601L)))
    val expected = ((1L to 200L) ++ (601L to 1000L)).toSeq

    val t = IcebergTable.load(spark, url)
    val rows = t.read().select("k").as[Long].collect().sorted.toSeq
    assert(rows == expected)
    // filtered reads route through the same MOR machinery
    assert(t.read(filters = Seq(Seq(("k", "<=", 300L)))).count() == 200)
  }

  test("equality deletes above the cap: task-side key-set loading") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 500L).map(i => (i, s"old$i")).toDF("k", "cat").repartition(3))
    // upsert 250 keys -> one equality-delete file with 250 key rows
    IcebergWriter.upsert(spark, url,
      (101L to 350L).map(i => (i, s"new$i")).toDF("k", "cat").coalesce(1), Seq("k"))

    val expected = ((1L to 100L) ++ (351L to 500L)).map(i => (i, s"old$i")) ++
      (101L to 350L).map(i => (i, s"new$i"))

    val got = IcebergTable.load(spark, url).read()
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == expected.sortBy(_._1))
  }

  test("timestamp equality keys written as INT96 load the same keys as INT64") {
    val dir = java.nio.file.Files.createTempDirectory("graft_int96").toString
    val keys = spark.sql("SELECT * FROM VALUES (TIMESTAMP'2024-01-02 03:04:05.123456'), " +
      "(TIMESTAMP'1969-12-31 23:59:59.999999'), (TIMESTAMP'1970-01-01 00:00:00') AS t(ts)")
    // one parquet file per physical layout: Spark's pre-INT64 default, and micros
    def write(outputType: String): String = {
      val out = s"$dir/$outputType"
      spark.conf.set("spark.sql.parquet.outputTimestampType", outputType)
      try keys.coalesce(1).write.parquet(out)
      finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
      new java.io.File(out).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head
    }
    def keySet(path: String) = DeleteLoader.eqGroupFor(
      DeleteLoader.EqDeleteFileSpec(path, Array("ts"), Array(0), Array(TimestampType), 1L),
      spark.sessionState.newHadoopConf(), 1L << 20).keys
    val int96 = keySet(write("INT96"))
    val int64 = keySet(write("TIMESTAMP_MICROS"))
    assert(int64.size == 3)
    assert(int96 == int64, "an INT96 key must decode to the same micros as INT64")
  }

  test("mixed position + equality deletes above the cap, sequence scoping intact") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 400L).map(i => (i, s"v$i")).toDF("k", "cat").repartition(2))
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 151L)) // positions
    IcebergWriter.upsert(spark, url,
      (301L to 400L).map(i => (i, s"u$i")).toDF("k", "cat").coalesce(1), Seq("k"))
    // a LATER append re-adding deleted keys must survive both delete kinds
    IcebergWriter.append(spark, url,
      Seq((1L, "back1"), (301L, "back301")).toDF("k", "cat").coalesce(1))

    val expected = ((151L to 300L).map(i => (i, s"v$i")) ++
      (301L to 400L).map(i => (i, s"u$i")) ++
      Seq((1L, "back1"), (301L, "back301"))).sortBy(r => (r._1, r._2))

    val got = IcebergTable.load(spark, url).read()
      .as[(Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == expected)
  }

  test("partitioned table: partition-scoped delete files prune per task and stay correct") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema,
      partitions = Seq("cat" -> "identity"))
    IcebergWriter.append(spark, url,
      (1L to 300L).map(i => (i, s"p${i % 3}")).toDF("k", "cat"))
    // deletes land in per-partition position-delete files
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 1L), Pruning.Lt("k", 200L)))
    val expected = (200L to 300L).toSeq

    val t = IcebergTable.load(spark, url)
    val rows = t.read().select("k").as[Long].collect().sorted.toSeq
    assert(rows == expected)
    // partition-pruned read under distributed deletes
    assert(t.read(filters = Seq(Seq(("cat", "==", "p0")))).count() ==
      expected.count(_ % 3 == 0))
  }

  test("delete cache evicts LRU under a byte budget but never the entry in use") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    // three commits -> three separate position-delete files
    IcebergWriter.append(spark, url,
      (1L to 300L).map(i => (i, "x")).toDF("k", "cat").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 51L))
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 51L), Pruning.Lt("k", 101L)))
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 101L), Pruning.Lt("k", 151L)))
    DeleteLoader.clearForTest()
    spark.conf.set("spark.graft.iceberg.deleteCacheBytes", "1") // evict ~everything
    try {
      // scan stays CORRECT while the cache thrashes down to ~one entry
      // (the tautological filter blocks aggregate pushdown — count(*)
      // would otherwise answer from metadata and never run a task)
      assert(IcebergTable.load(spark, url).read().where("k > 0").count() == 150)
      assert(DeleteLoader.residentEntries <= 1,
        s"byte budget must bound the cache, ${DeleteLoader.residentEntries} resident")
    } finally spark.conf.unset("spark.graft.iceberg.deleteCacheBytes")
    DeleteLoader.clearForTest()
  }

  test("tasks asking for one delete file at once decode it once") {
    val confs = graft.iceberg.CountingFileSystem.Confs :+ ("fs.defaultFS" -> "counting:///")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val url = "counting://" + freshTable
      IcebergWriter.createTable(spark, url, schema)
      IcebergWriter.append(spark, url,
        (1L to 4000L).map(i => (i, s"c${i % 7}")).toDF("k", "cat").coalesce(1))
      IcebergWriter.deleteRows(spark, url,
        Pruning.Or(Pruning.Lt("k", 1500L), Pruning.GtEq("k", 2500L)))
      val t = IcebergTable.load(spark, url)
      val Seq(carrier) = t.positionDeleteFiles.map(d => t.resolvePath(d.filePath))
      val Seq(dataKey) = t.liveFiles().map(f =>
        org.apache.spark.sql.graftbridge.ScanBridge.morKey(t.resolvePath(f.filePath)))
      val conf = spark.sessionState.newHadoopConf()
      def opens(body: => Unit): Int = {
        DeleteLoader.clearForTest()
        graft.iceberg.CountingFileSystem.reset()
        body
        graft.iceberg.CountingFileSystem.calls
          .count(c => c.op == "open" && carrier.endsWith(c.path))
      }
      // keys 1..1499 and 2500..4000
      def deleted(): Int =
        DeleteLoader.positionsFor(Array(carrier), dataKey, conf, 1L << 30).length
      val alone = opens(assert(deleted() == 3000))
      assert(alone >= 1)
      val threads = 8
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val together = opens {
          val got = (1 to threads).map(_ => pool.submit(() => { start.await(); deleted() }))
          start.countDown()
          assert(got.map(_.get()).forall(_ == 3000))
        }
        assert(together == alone,
          s"$threads concurrent loads opened the carrier $together times, one load $alone")
      } finally pool.shutdown()
    } finally {
      DeleteLoader.clearForTest()
      graft.iceberg.CountingFileSystem.reset()
      confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("per-JVM delete cache is populated by distributed scans") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 200L).map(i => (i, "x")).toDF("k", "cat").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 101L))
    val before = DeleteLoader.residentEntries
    // filter blocks the metadata-answered count(*): the cache only
    // populates when tasks actually scan and load their own deletes
    assert(IcebergTable.load(spark, url).read().where("k > 0").count() == 100)
    assert(DeleteLoader.residentEntries > before ||
      before > 0, "task-side loads should populate the JVM cache")
  }
}
