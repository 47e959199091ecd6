package graft.iceberg

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A commit's parquet files are written once, by its tasks, at their final
  * paths: no output-committer traffic (renames, `_temporary`, `_SUCCESS`),
  * no listing of the new directory and no driver re-read of a new file;
  * a task that fails mid-write removes what it wrote. */
class CommitWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("grp", IntegerType), StructField("amt", LongType)))

  private def rows(from: Long, n: Int) = spark.createDataFrame(java.util.Arrays.asList(
    (from until from + n).map(i => Row(i, (i % 4).toInt, i * 7 % 1000)): _*), schema)
    .coalesce(1)

  private def withCountingTable[T](body: String => T): T = {
    CountingFileSystem.Confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body("counting://" + Files.createTempDirectory("graft_commit_write") + "/tbl")
    finally {
      CountingFileSystem.reset()
      CountingFileSystem.Confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  /** Runs `body`; the Spark jobs it started and the filesystem calls it made. */
  private def traced(body: => Unit): (Int, Seq[CountingFileSystem.Call]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    CountingFileSystem.reset()
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    (jobs.get, CountingFileSystem.calls)
  }

  /** The committer-free shape of one commit's filesystem calls. */
  private def assertWrittenInPlace(calls: Seq[CountingFileSystem.Call], what: String): Unit = {
    val written = calls.filter(c => c.op == "create" && c.path.endsWith(".parquet"))
    assert(written.nonEmpty, s"$what wrote no parquet file")
    assert(written.forall(_.inTask), s"$what created a parquet file on the driver")
    val renames = calls.filter(_.op == "rename")
    assert(renames.forall(_.path.endsWith("/metadata/version-hint.text")),
      s"$what renamed ${renames.map(_.path)}")
    val committerPaths = calls.filter(c => c.op == "create" &&
      (c.path.contains("_temporary") || c.path.endsWith("_SUCCESS")))
    assert(committerPaths.isEmpty, s"$what created $committerPaths")
    val newDirs = written.map(c => c.path.substring(0, c.path.lastIndexOf('/'))).toSet
    val listed = calls.filter(c => c.op == "list" &&
      newDirs.exists(d => c.path == d || c.path.startsWith(d + "/")))
    assert(listed.isEmpty, s"$what listed its new files: $listed")
    val newFiles = written.map(_.path).toSet
    val reread = calls.filter(c => c.op == "open" && !c.inTask && newFiles(c.path))
    assert(reread.isEmpty, s"$what re-opened a new file on the driver: $reread")
  }

  test("a partitioned append, a deleteRows and an overwrite write their files " +
      "in place, in no more jobs than a committer write") {
    withCountingTable { url =>
      IcebergWriter.createTable(spark, url, schema, Seq("grp" -> "identity"))
      IcebergWriter.append(spark, url, rows(0L, 400))
      val (appendJobs, appendCalls) = traced(IcebergWriter.append(spark, url, rows(400L, 400)))
      assertWrittenInPlace(appendCalls, "append")
      assert(appendCalls.count(c => c.op == "create" && c.path.endsWith(".parquet")) == 4,
        "one data file per partition")
      val (deleteJobs, deleteCalls) = traced(IcebergWriter.deleteRows(spark, url,
        Pruning.And(Pruning.Eq("grp", 1), Pruning.Lt("amt", 300L))))
      assertWrittenInPlace(deleteCalls, "deleteRows")
      assert(deleteCalls.count(c => c.op == "create" && c.path.endsWith(".parquet")) == 1,
        "one position-delete file")
      val (overwriteJobs, overwriteCalls) = traced(IcebergWriter.overwrite(spark, url,
        rows(800L, 300).filter("grp = 2"), Pruning.Eq("grp", 2)))
      assertWrittenInPlace(overwriteCalls, "overwrite")
      // each url-form write loads the table once: one metadata JSON read
      def metadataOpens(calls: Seq[CountingFileSystem.Call]): Int =
        calls.count(c => c.op == "open" && c.path.endsWith(".metadata.json"))
      assert(metadataOpens(appendCalls) == 1, "append")
      assert(metadataOpens(deleteCalls) == 1, "deleteRows")
      assert(metadataOpens(overwriteCalls) == 1, "overwrite")
      // append: the clustering shuffle's map stage and the write (as with a
      // committer, whose footer reads ran on the driver up to 8 files);
      // deleteRows: the position scan's shuffle and the write, with no
      // range-sampling job (a committer write sorted globally: 3 jobs);
      // overwrite: the write, and the count of deletes on removed files,
      // with no schema-inference job for the delete files (committer: 5)
      assert(appendJobs == 2, s"append ran $appendJobs jobs")
      assert(deleteJobs == 2, s"deleteRows ran $deleteJobs jobs")
      assert(overwriteJobs == 4, s"overwrite ran $overwriteJobs jobs")
      val t = IcebergTable.load(spark, url)
      val expected = (0L until 800L).count(i =>
        i % 4 != 2 && !(i % 4 == 1 && i * 7 % 1000 < 300)) +
        (800L until 1100L).count(_ % 4 == 2)
      assert(t.read().count() == expected)
    }
  }

  test("a write task failing mid-write commits nothing and leaves no file; " +
      "the same write then commits") {
    withCountingTable { url =>
      IcebergWriter.createTable(spark, url, schema, Seq("grp" -> "identity"))
      IcebergWriter.append(spark, url, rows(0L, 40))
      val dataDir = Paths.get(url.stripPrefix("counting://"), "data")
      def dataFiles: Set[java.nio.file.Path] = {
        val s = Files.walk(dataDir)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toSet finally s.close()
      }
      val before = IcebergTable.load(spark, url)
      val filesBefore = dataFiles
      val frame = rows(40L, 40) // one task, four partitions: four files
      // the third data-file create inside a task fails: two files are
      // already closed by then
      CountingFileSystem.reset()
      CountingFileSystem.failCreate(new CountingFileSystem.CreateFault(
        p => p.getName.endsWith(".parquet") && TaskContext.get() != null, 3))
      intercept[Exception](IcebergWriter.append(spark, url, frame))
      val attempted = CountingFileSystem.calls
        .filter(c => c.op == "create" && c.path.endsWith(".parquet"))
      assert(attempted.size == 3)
      CountingFileSystem.failCreate(null)

      val after = IcebergTable.load(spark, url)
      assert(after.metadata.snapshots == before.metadata.snapshots, "a snapshot was committed")
      assert(after.version == before.version)
      assert(dataFiles == filesBefore, "the failed attempt left files behind")

      IcebergWriter.append(spark, url, frame)
      val retried = IcebergTable.load(spark, url)
      assert(retried.metadata.snapshots.size == before.metadata.snapshots.size + 1)
      assert(retried.read().count() == 80L)
      assert(retried.liveFiles().size == 8)
    }
  }
}
