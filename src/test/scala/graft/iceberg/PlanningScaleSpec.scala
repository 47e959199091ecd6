package graft.iceberg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Scan-planning at metadata scale (round-8 verdict ask #6): past a
  * threshold the manifest Avro decode shards across executors, planning
  * telemetry reports live-file count and decoded-stats bytes, and a
  * configurable live-file cap fails loudly instead of letting a 100×-grown
  * table OOM the driver. */
class PlanningScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def freshTable: String =
    java.nio.file.Files.createTempDirectory("graft_planscale").toString + "/tbl"

  val schema = StructType(Seq(
    StructField("k", LongType), StructField("cat", StringType)))

  /** A table with one manifest per commit: `n` appends → `n` manifests. */
  private def manyManifestTable(n: Int): String = {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    (1 to n).foreach { i =>
      IcebergWriter.append(spark, url,
        Seq((i.toLong, s"c$i")).toDF("k", "cat").coalesce(1))
    }
    url
  }

  /** Metadata-ONLY synthetic fixture: `n` manifests × `per` entries each,
    * registered in ONE commit through the writer's own manifest machinery.
    * No data rows are ever written — the data paths don't exist, and
    * planning never opens them — so a 100k-file metadata plane costs
    * seconds to build, not a 100k-commit history. */
  private def syntheticManifestTable(n: Int, per: Int): String = {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    val conf = spark.sessionState.newHadoopConf()
    val sid = IcebergWriter.newSnapshotId()
    val infos = (1 to n).map { m =>
      val path = s"$url/metadata/synth-$m.avro"
      val entries = (1 to per).map { i =>
        (s"$url/data/m$m-f$i.parquet", 1024L,
          IcebergWriter.FileStats(1L, Map.empty, Map.empty, Map.empty, Map.empty),
          Seq.empty[Any], Manifests.Status.Added)
      }
      IcebergWriter.writeManifestEntries(path, sid, entries, Nil, conf)
      IcebergWriter.NewManifestInfo(path, Manifests.FileContent.Data,
        per, per.toLong, 0, 0L, Nil)
    }
    IcebergWriter.commitSnapshot(FileSystemOps(spark, url))(_ => Some(IcebergWriter.SnapshotUpdate(
      "append", newManifests = infos, snapshotId = sid)))
    url
  }

  test("100k-entry metadata plane: distributed decode, bounded driver state, " +
      "amortized wall-time") {
    // 1000 manifests x 100 entries — well past the default distributed
    // threshold (64); the 250-manifest sibling calibrates the wall-time
    // check at identical per-manifest shape
    val urlSmall = syntheticManifestTable(250, 100)
    val urlBig = syntheticManifestTable(1000, 100)

    Manifests.clearCache()
    val t0 = System.nanoTime()
    val smallFiles = IcebergTable.load(spark, urlSmall).liveFiles()
    val tSmall = (System.nanoTime() - t0) / 1e9
    assert(smallFiles.length == 25000)

    Manifests.clearCache()
    val before = Manifests.distributedDecodeJobs.get()
    val t1 = System.nanoTime()
    val bigFiles = IcebergTable.load(spark, urlBig).liveFiles()
    val tBig = (System.nanoTime() - t1) / 1e9
    assert(bigFiles.length == 100000, "every synthetic entry must plan")
    assert(Manifests.distributedDecodeJobs.get() > before,
      "100k entries must decode distributed, not in a driver loop")

    // driver retains only the DECODED entries: telemetry reports the
    // 100k files and a stats footprint in the tens of MB, not raw Avro
    assert(IcebergTable.lastPlanningFiles.get() == 100000)
    val statsBytes = IcebergTable.lastPlanningStatsBytes.get()
    assert(statsBytes > 0 && statsBytes < 200L * 1024 * 1024,
      s"decoded-entry footprint out of range: $statsBytes bytes")

    // wall-time stays SUB-linear in manifest count: 4x the manifests must
    // cost less than 4x the calibrated time (job-launch overhead amortizes
    // across the shards; a driver-side per-manifest loop would scale >= 4x)
    assert(tBig < tSmall * 4,
      f"planning did not amortize: 250 manifests $tSmall%.2f s vs 1000 " +
        f"manifests $tBig%.2f s")
    assert(tBig < 30.0, f"100k-entry planning took $tBig%.1f s")

    // decoded entries are cached: a re-plan is metadata-cache-speed and
    // launches no second decode job
    val jobs = Manifests.distributedDecodeJobs.get()
    val t2 = System.nanoTime()
    IcebergTable.load(spark, urlBig).liveFiles()
    val tCached = (System.nanoTime() - t2) / 1e9
    assert(Manifests.distributedDecodeJobs.get() == jobs)
    assert(tCached < tBig, "cached re-plan must not re-decode")
  }

  test("manifest decode shards across executors past the threshold, same plan") {
    val url = manyManifestTable(12)
    val expected = IcebergTable.load(spark, url).liveFiles()
      .map(_.filePath).sorted // driver-side decode (threshold default 64)

    Manifests.clearCache() // force the scaled path to see uncached manifests
    spark.conf.set("spark.graft.iceberg.distributedManifestThreshold", "4")
    try {
      val before = Manifests.distributedDecodeJobs.get()
      val got = IcebergTable.load(spark, url).liveFiles().map(_.filePath).sorted
      assert(got == expected, "distributed decode must yield the same file list")
      assert(Manifests.distributedDecodeJobs.get() > before,
        "expected a distributed manifest-decode job past the threshold")
      // decoded entries are cached: a re-plan launches no second job
      val after = Manifests.distributedDecodeJobs.get()
      IcebergTable.load(spark, url).liveFiles()
      assert(Manifests.distributedDecodeJobs.get() == after)
    } finally spark.conf.unset("spark.graft.iceberg.distributedManifestThreshold")
  }

  test("planning telemetry reports live files and decoded-stats footprint") {
    val url = manyManifestTable(5)
    IcebergTable.load(spark, url).liveFiles()
    assert(IcebergTable.lastPlanningFiles.get() == 5)
    assert(IcebergTable.lastPlanningStatsBytes.get() > 0)
  }

  test("live-file cap refuses loudly instead of letting metadata eat the driver") {
    val url = manyManifestTable(6)
    spark.conf.set("spark.graft.iceberg.maxPlanningFiles", "3")
    try {
      val e = intercept[IllegalArgumentException] {
        IcebergTable.load(spark, url).liveFiles()
      }
      assert(e.getMessage.contains("6 live files") &&
        e.getMessage.contains("compact"), e.getMessage)
      // reads honor the same guard (planning funnels through liveFiles)
      intercept[IllegalArgumentException] {
        IcebergTable.load(spark, url).read().count()
      }
    } finally spark.conf.unset("spark.graft.iceberg.maxPlanningFiles")
    // with the cap lifted the same table scans fine
    assert(IcebergTable.load(spark, url).read().count() == 6)
  }
}
