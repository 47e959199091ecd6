package graft.iceberg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot refs: branches move, tags pin; `refs.main` tracks commits;
  * expiration keeps anything a ref points to. */
class RefsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def freshTable: String =
    java.nio.file.Files.createTempDirectory("graft_refs").toString + "/tbl"

  val schema = StructType(Seq(
    StructField("k", LongType), StructField("cat", StringType)))

  test("the golden fixture's refs.main parses") {
    val t = IcebergTable.load(spark, graft.IceQueries.FixtureDir,
      Some(graft.IceQueries.FixtureOrig))
    assert(t.refs.contains("main"))
    assert(t.refs("main").refType == "branch")
    assert(t.atBranch("main").currentSnapshot.snapshotId == t.refs("main").snapshotId)
  }

  test("expire retains by older_than cutoff; aged refs retire and unpin") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, Seq((1L, "a")).toDF("k", "cat"))
    IcebergWriter.append(spark, url, Seq((2L, "b")).toDF("k", "cat"))
    IcebergWriter.append(spark, url, Seq((3L, "c")).toDF("k", "cat"))

    // cutoff before every snapshot: time-based retention keeps the whole
    // chain even though keep_last alone would trim to 1
    Maintenance.expireSnapshots(spark, url, keepLast = 1,
      olderThan = Some(System.currentTimeMillis() - 3600L * 1000))
    assert(IcebergTable.load(spark, url).metadata.snapshots.size == 3,
      "snapshots newer than the cutoff must be retained beyond keep_last")

    // tag the OLDEST snapshot twice: one tag already past its
    // max-ref-age-ms (its snapshot predates now-by-age), one ageless
    val t0 = IcebergTable.load(spark, url)
    val oldest = t0.metadata.snapshots.head.snapshotId
    IcebergWriter.tag(spark, url, "aged", Some(oldest), maxRefAgeMs = Some(1L))
    IcebergWriter.tag(spark, url, "forever", Some(oldest))
    Thread.sleep(10)

    // cutoff in the future: keep_last=1 decides; the aged tag RETIRES in
    // the same commit and stops pinning, while "forever" keeps the oldest
    // snapshot alive
    Maintenance.expireSnapshots(spark, url, keepLast = 1,
      olderThan = Some(System.currentTimeMillis() + 1000))
    val t1 = IcebergTable.load(spark, url)
    assert(!t1.refs.contains("aged"), "aged ref must retire at expiration")
    assert(t1.refs.contains("forever") && t1.refs.contains("main"))
    assert(t1.metadata.snapshots.map(_.snapshotId).toSet ==
      Set(oldest, t1.currentSnapshot.snapshotId),
      "head + the ageless tag's pin survive; the middle snapshot expires")

    // drop the last pin: the oldest snapshot now expires too
    IcebergWriter.dropRef(spark, url, "forever")
    Maintenance.expireSnapshots(spark, url, keepLast = 1)
    assert(IcebergTable.load(spark, url).metadata.snapshots.size == 1)
  }

  test("a branch commit keeps the branch's max-ref-age-ms; expiry still retires it") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, Seq((1L, "a")).toDF("k", "cat"))
    IcebergWriter.branch(spark, url, "audit", maxRefAgeMs = Some(300L))
    IcebergWriter.appendToBranch(spark, url, Seq((2L, "b")).toDF("k", "cat"), "audit")
    val t = IcebergTable.load(spark, url)
    assert(t.refs("audit").snapshotId != t.currentSnapshot.snapshotId)
    assert(t.refs("audit") == SnapshotRef("audit", t.refs("audit").snapshotId, "branch",
      maxRefAgeMs = Some(300L)))
    Thread.sleep(400)
    Maintenance.expireSnapshots(spark, url, keepLast = 1)
    assert(!IcebergTable.load(spark, url).refs.contains("audit"),
      "the branch's head outlived max-ref-age-ms: expiry must retire it")
  }

  test("a commit to main keeps main's min-snapshots-to-keep and max-snapshot-age-ms") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, Seq((1L, "a")).toDF("k", "cat"))
    // a table written elsewhere may carry retention on main
    IcebergWriter.commitWithRetry(FileSystemOps(spark, url)) { t =>
      Some(Seq(MetadataUpdate.SetSnapshotRef("main", t.metadata.currentSnapshotId,
        minSnapshotsToKeep = Some(3), maxSnapshotAgeMs = Some(7L * 86400000))))
    }
    IcebergWriter.append(spark, url, Seq((2L, "b")).toDF("k", "cat"))
    IcebergWriter.deleteRows(spark, url, Pruning.Eq("k", 1L))
    val t = IcebergTable.load(spark, url)
    assert(t.refs("main") == SnapshotRef("main", t.currentSnapshot.snapshotId, "branch",
      minSnapshotsToKeep = Some(3), maxSnapshotAgeMs = Some(7L * 86400000)))
  }

  test("tags pin a snapshot; main moves with commits") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, Seq((1L, "a"), (2L, "b")).toDF("k", "cat"))
    IcebergWriter.tag(spark, url, "v1-training")
    IcebergWriter.append(spark, url, Seq((3L, "c")).toDF("k", "cat"))

    val t = IcebergTable.load(spark, url)
    assert(t.refs("main").snapshotId == t.currentSnapshot.snapshotId)
    assert(t.read().count() == 3)
    assert(t.atTag("v1-training").read().count() == 2) // pinned
    // branch/tag discipline
    intercept[IllegalArgumentException](t.atTag("main"))
    intercept[IllegalArgumentException](t.atBranch("v1-training"))
    intercept[IllegalArgumentException](t.atRef("nope"))
  }

  test("refs read through the data source options and SQL VERSION AS OF") {
    val wh = java.nio.file.Files.createTempDirectory("graft_refcat").toString
    val url = s"$wh/db/t"
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, Seq((1L, "a")).toDF("k", "cat"))
    IcebergWriter.tag(spark, url, "baseline")
    IcebergWriter.append(spark, url, Seq((2L, "b")).toDF("k", "cat"))

    assert(spark.read.format("graft-iceberg").option("tag", "baseline")
      .load(url).count() == 1)
    assert(spark.read.format("graft-iceberg").option("branch", "main")
      .load(url).count() == 2)

    val cat = s"rc${wh.hashCode.toHexString}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftIcebergPathCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 'baseline'").count() == 1)
  }

  test("expireSnapshots keeps tagged snapshots readable") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, Seq((1L, "a")).toDF("k", "cat"))
    IcebergWriter.tag(spark, url, "keepme")
    IcebergWriter.append(spark, url, Seq((2L, "b")).toDF("k", "cat"))
    IcebergWriter.append(spark, url, Seq((3L, "c")).toDF("k", "cat"))
    Maintenance.expireSnapshots(spark, url, keepLast = 1)
    val t = IcebergTable.load(spark, url)
    assert(t.snapshots.size == 2) // current + the tagged one
    assert(t.atTag("keepme").read().count() == 1)
    assert(t.read().count() == 3)
  }

  test("dropRef removes tags; main is protected") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, Seq((1L, "a")).toDF("k", "cat"))
    IcebergWriter.tag(spark, url, "tmp")
    assert(IcebergTable.load(spark, url).refs.contains("tmp"))
    IcebergWriter.dropRef(spark, url, "tmp")
    assert(!IcebergTable.load(spark, url).refs.contains("tmp"))
    intercept[IllegalArgumentException](IcebergWriter.dropRef(spark, url, "main"))
  }
}
