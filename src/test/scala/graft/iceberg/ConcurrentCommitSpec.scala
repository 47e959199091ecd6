package graft.iceberg

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Optimistic commit concurrency: concurrent committers race on the
  * exclusive create of `v{N+1}.metadata.json`; losers reload and retry, so
  * every snapshot survives (round 1 was last-writer-wins). */
class ConcurrentCommitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def freshTable: String =
    java.nio.file.Files.createTempDirectory("graft_ice_conc").toString + "/tbl"

  val schema = StructType(Seq(
    StructField("k", LongType), StructField("src", StringType)))

  test("parallel appends all commit; no snapshot is lost") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 4).map { w =>
        Future {
          IcebergWriter.append(spark, url,
            (1L to 10L).map(i => (w * 100L + i, s"w$w")).toDF("k", "src"))
        }
      }
      Await.result(Future.sequence(futures), 120.seconds)
    } finally pool.shutdown()

    val t = IcebergTable.load(spark, url)
    assert(t.snapshots.size == 4, s"lost snapshots: ${t.snapshots.size} of 4")
    assert(t.read().count() == 40)
    assert(t.countFromStats().contains(40L))
    // every writer's rows are present
    val srcs = t.read().select("src").distinct().as[String].collect().toSet
    assert(srcs == Set("w1", "w2", "w3", "w4"))
    // the snapshot chain is a single linked line through all four commits
    var snap = t.latestSnapshot
    var len = 1
    while (snap.parentSnapshotId.isDefined) {
      snap = t.snapshots(snap.parentSnapshotId.get)
      len += 1
    }
    assert(len == 4, s"snapshot chain length $len")
  }

  test("a stale orphan version file does not block the committer") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, Seq((1L, "a")).toDF("k", "src"))
    // simulate a crashed writer that created v3 but never updated the hint:
    // the metadata read follows the hint (v2), and the commit loop walks
    // forward past the orphan
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(url).getFileSystem(conf)
    val orphan = new org.apache.hadoop.fs.Path(s"$url/metadata/v3.metadata.json")
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$url/metadata/v2.metadata.json"))
    val bytes = try in.readAllBytes() finally in.close()
    val out = fs.create(orphan, false)
    try out.write(bytes) finally out.close()

    // commit must fail loudly (orphan detected) rather than silently clobber
    val e = intercept[Exception] {
      IcebergWriter.append(spark, url, Seq((2L, "b")).toDF("k", "src"))
    }
    assert(e.getMessage != null)
  }

  test("an attempt that loses its create leaves no manifest behind") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, Seq((1L, "a")).toDF("k", "src"))
    // a writer pins the table, then a concurrent commit lands first: the
    // writer's first attempt builds against the pin and loses the create
    val pinned = IcebergTable.load(spark, url)
    val files = IcebergWriter.writeDataFiles(spark, url, pinned,
      Seq((2L, "b")).toDF("k", "src"))
    IcebergWriter.append(spark, url, Seq((3L, "c")).toDF("k", "src"))
    var attempts = 0
    IcebergWriter.commitSnapshot(FileSystemOps(spark, url), Some(pinned)) { _ =>
      attempts += 1
      Some(IcebergWriter.SnapshotUpdate("append", added = files))
    }
    assert(attempts == 2, "the pinned attempt must lose and retry")
    val t = IcebergTable.load(spark, url)
    assert(t.read().count() == 3)
    def name(p: String): String = p.split('/').last
    val referenced = t.metadata.snapshots.flatMap { s =>
      name(s.manifestList) +: t.atSnapshot(s.snapshotId).manifestList.map(m => name(m.path))
    }.toSet
    val avro = new java.io.File(s"$url/metadata").listFiles().map(_.getName)
      .filter(_.endsWith(".avro")).toSet
    assert(avro == referenced, s"unreferenced: ${avro -- referenced}")
  }

  test("delta DML refuses a concurrent append matching its condition (serializable)") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 10L).map(i => (i, "a")).toDF("k", "src").coalesce(1))
    // the operation's scan pins table state + its condition (k < 5)
    val frozen = IcebergTable.load(spark, url)
    val keysAtScan = frozen.liveFiles()
      .map(f => IcebergWriter.morKeyOf(frozen.resolvePath(f.filePath))).toSet
    // a concurrent append lands AFTER the scan with a row INSIDE the
    // condition — committing would be write skew (Iceberg's
    // validateAddedDataFiles refuses under serializable isolation)
    IcebergWriter.append(spark, url, Seq((2L, "late")).toDF("k", "src"))
    val ex = intercept[java.util.ConcurrentModificationException] {
      IcebergWriter.commitSnapshot(FileSystemOps(spark, url)) { t =>
        IcebergWriter.requireNoConflictingAdds(t, keysAtScan, Pruning.Lt("k", 5))
        Some(IcebergWriter.SnapshotUpdate("overwrite"))
      }
    }
    assert(ex.getMessage.contains("serializable"))

    // an append whose file statistics PROVE it cannot match the condition
    // does not conflict: the commit goes through
    val frozen2 = IcebergTable.load(spark, url)
    val keys2 = frozen2.liveFiles()
      .map(f => IcebergWriter.morKeyOf(frozen2.resolvePath(f.filePath))).toSet
    IcebergWriter.append(spark, url, Seq((100L, "far")).toDF("k", "src"))
    IcebergWriter.commitSnapshot(FileSystemOps(spark, url)) { t =>
      IcebergWriter.requireNoConflictingAdds(t, keys2, Pruning.Lt("k", 5))
      Some(IcebergWriter.SnapshotUpdate("overwrite"))
    }
    assert(IcebergTable.load(spark, url).read().count() == 12)
  }
}
