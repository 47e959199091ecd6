package graft.iceberg

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under the `hintfail://` scheme whose rename onto
  * `version-hint.text` fails once when [[HintFailingFileSystem.armed]],
  * after recording the bytes of every manifest list in the metadata
  * directory at that moment. */
class HintFailingFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("hintfail:///")
  // the local statuses load permissions through a file:// URI; plain ones
  // carry none, which this scheme's callers never read
  private def plain(st: FileStatus): FileStatus = new FileStatus(st.getLen,
    st.isDirectory, st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getName == "version-hint.text" && HintFailingFileSystem.armed.getAndSet(false)) {
      val dir = Paths.get(dst.getParent.toUri.getPath)
      HintFailingFileSystem.listsAtFailure = Files.list(dir).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("snap-"))
        .map(p => p -> Files.readAllBytes(p)).toMap
      throw new java.io.IOException(s"injected rename failure: $dst does not exist")
    } else super.rename(src, dst)
}

object HintFailingFileSystem {
  val armed = new AtomicBoolean(false)
  @volatile var listsAtFailure: Map[java.nio.file.Path, Array[Byte]] = Map.empty
}

/** Every commit that adds a snapshot goes through one producer: each one
  * moves the snapshot-log with the head, keeps the summary totals equal to
  * the table's live state, writes no empty manifest, and is published once
  * even when the version-hint update after it fails. */
class SnapshotProducerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("cat", StringType)))

  private def freshTable: String =
    Files.createTempDirectory("graft_producer").toString + "/tbl"

  private def rows(from: Long, to: Long, cat: String) =
    (from to to).map(i => (i, cat)).toDF("k", "cat").coalesce(1)

  /** Runs append, positional and whole-file deleteRows, deleteWhere,
    * equalityDelete, append, rewriteManifests, rewritePositionDeletes and
    * cherryPick on a fresh table, calling `after` with each op's name once
    * it committed a new head. */
  private def mixedHistory(url: String)(after: String => Unit): Unit = {
    IcebergWriter.createTable(spark, url, schema)
    var head = -1L
    def op(name: String)(body: => Unit): Unit = {
      body
      val t = IcebergTable.load(spark, url)
      assert(t.metadata.currentSnapshotId != head, s"$name committed no new head")
      head = t.metadata.currentSnapshotId
      after(name)
    }
    op("append") {
      IcebergWriter.append(spark, url, rows(1, 100, "a"))
      IcebergWriter.append(spark, url, rows(101, 200, "b"))
      IcebergWriter.append(spark, url, rows(201, 300, "c"))
      IcebergWriter.append(spark, url, rows(301, 400, "d"))
    }
    op("deleteRows (positional)")(IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 11)))
    op("deleteRows (whole file)")(IcebergWriter.deleteRows(spark, url, Pruning.GtEq("k", 301)))
    op("deleteWhere")(IcebergWriter.deleteWhere(spark, url, Pruning.GtEq("k", 201)))
    op("equalityDelete")(IcebergWriter.equalityDelete(spark, url,
      Seq(150L, 151L).toDF("k"), Seq("k")))
    op("append again")(IcebergWriter.append(spark, url, rows(401, 450, "e")))
    op("rewriteManifests")(IcebergWriter.rewriteManifests(spark, url))
    op("second positional deleteRows")(
      IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 21)))
    op("rewritePositionDeletes")(IcebergWriter.rewritePositionDeletes(spark, url))
    op("cherryPick") {
      IcebergWriter.appendToBranch(spark, url, rows(501, 510, "f"), "audit")
      val staged = IcebergTable.load(spark, url).refs("audit").snapshotId
      IcebergWriter.cherryPick(spark, url, staged)
    }
  }

  test("after every snapshot-adding op the snapshot-log ends at the head and " +
      "asOfTimestamp(now) resolves to it") {
    val url = freshTable
    mixedHistory(url) { op =>
      val t = IcebergTable.load(spark, url)
      val head = t.metadata.currentSnapshotId
      assert(t.metadata.snapshotLog.last._2 == head, s"$op: snapshot-log lags the head")
      assert(t.asOfTimestamp(System.currentTimeMillis()).currentSnapshot.snapshotId == head,
        s"$op: asOfTimestamp(now) resolves to an older snapshot")
    }
  }

  test("every snapshot's total-data-files equals its live file count, and " +
      "total-records its live rows before equality deletes") {
    val url = freshTable
    mixedHistory(url)(_ => ())
    val t = IcebergTable.load(spark, url)
    t.metadata.snapshots.foreach { s =>
      val at = t.atSnapshot(s.snapshotId)
      val what = s"snapshot ${s.snapshotId} (${s.summary("operation")})"
      val live = at.liveFiles()
      assert(s.summary.get("total-data-files").map(_.toInt).contains(live.size),
        s"$what: total-data-files ${s.summary.get("total-data-files")}, ${live.size} live files")
      // equality deletes match an unknown number of rows, so the total
      // leaves them out; position deletes each remove one live row
      val rowsBeforeEqDeletes =
        live.map(_.recordCount).sum - at.positionDeleteFiles.map(_.recordCount).sum
      assert(s.summary.get("total-records").map(_.toLong).contains(rowsBeforeEqDeletes),
        s"$what: total-records ${s.summary.get("total-records")}, $rowsBeforeEqDeletes rows")
      if (at.equalityDeleteFiles.isEmpty) assert(at.read().count() == rowsBeforeEqDeletes, what)
    }
  }

  private def assertNoEmptyManifest(t: IcebergTable, when: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    t.manifestList.foreach { m =>
      assert(Manifests.readManifest(m.path, conf).nonEmpty,
        s"$when: manifest ${m.path} has no entries")
    }
  }

  test("no listed manifest is empty after rewritePositionDeletes or a " +
      "delete-only delta commit") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, rows(1, 100, "a"))
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 5))
    IcebergWriter.deleteRows(spark, url, Pruning.Gt("k", 95))
    IcebergWriter.rewritePositionDeletes(spark, url)
    val consolidated = IcebergTable.load(spark, url)
    assert(consolidated.summary.get("graft-rewrite").contains("position-deletes"))
    assertNoEmptyManifest(consolidated, "rewritePositionDeletes")

    val wh = Files.createTempDirectory("graft_producer_sql").toString
    val cat = s"sp${wh.hashCode.toHexString}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftIcebergPathCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cat STRING)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, 'a' FROM range(1, 51, 1, 1)")
    spark.sql(s"DELETE FROM $cat.db.t WHERE k = 7")
    val deleted = IcebergTable.load(spark, s"$wh/db/t")
    assert(deleted.positionDeleteFiles.size == 1, "the DELETE went through the delta path")
    assert(deleted.read().count() == 49)
    assertNoEmptyManifest(deleted, "delete-only delta commit")
  }

  test("a failed version-hint write neither fails nor repeats a published commit") {
    val url = "hintfail://" + freshTable
    val fsConf = Seq(
      "fs.hintfail.impl" -> classOf[HintFailingFileSystem].getName,
      "fs.hintfail.impl.disable.cache" -> "true")
    fsConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      IcebergWriter.createTable(spark, url, schema)
      IcebergWriter.append(spark, url, rows(1, 10, "a"))
      val before = IcebergTable.load(spark, url)

      HintFailingFileSystem.armed.set(true)
      IcebergWriter.append(spark, url, rows(11, 20, "b"))
      assert(!HintFailingFileSystem.armed.get, "the hint rename was never attempted")

      val t = IcebergTable.load(spark, url)
      val snaps = t.metadata.snapshots
      assert(snaps.size == before.metadata.snapshots.size + 1, "exactly one new snapshot")
      assert(snaps.map(_.snapshotId).distinct.size == snaps.size, "duplicate snapshot ids")
      assert(snaps.forall(s => !s.parentSnapshotId.contains(s.snapshotId)),
        "a snapshot is its own parent")
      assert(t.read().count() == t.summary("total-records").toLong)
      assert(t.read().count() == 20L)
      assert(HintFailingFileSystem.listsAtFailure.nonEmpty)
      HintFailingFileSystem.listsAtFailure.foreach { case (p, bytes) =>
        assert(java.util.Arrays.equals(Files.readAllBytes(p), bytes),
          s"published manifest list $p was rewritten")
      }
    } finally {
      HintFailingFileSystem.armed.set(false)
      fsConf.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }
}
