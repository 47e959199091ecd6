package graft.iceberg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.DeleteLoader
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Iceberg v3 deletion-vector lifecycle: upgrade, DV writes,
  * the one-live-DV-per-file supersede invariant, mixed v2-parquet + DV
  * state, whole-file drops, task-side loading through DeleteLoader,
  * consolidation, compaction, and CDC emitting net-new deletes only. */
class DvIntegrationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/t"

  private def newV3Table(url: String, n: Long = 100L): Unit = {
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to n).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.upgradeFormatVersion(spark, url, 3)
  }

  private def liveKeys(url: String): Seq[Long] =
    IcebergTable.load(spark, url).read().select("k").as[Long].collect().sorted.toSeq

  test("v3 deleteRows writes a puffin DV, reads merge-on-read") {
    val url = fresh("graft_dv_basic")
    newV3Table(url)
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 40L), Pruning.Lt("k", 60L)))
    val t = IcebergTable.load(spark, url)
    assert(t.metadata.formatVersion == 3)
    val dels = t.positionDeleteFiles
    assert(dels.nonEmpty && dels.forall(_.isDv), s"expected DVs, got $dels")
    assert(dels.forall(d => d.referencedDataFile.isDefined &&
      d.contentOffset.isDefined && d.contentSizeInBytes.isDefined))
    assert(dels.map(_.recordCount).sum == 20L)
    assert(liveKeys(url) == ((1L to 39L) ++ (60L to 100L)))
    assert(t.countFromStats() == Some(80L))
    // the summary recorded net-new deletes
    assert(t.summary.get("added-position-deletes") == Some("20"))
    // delete_files metadata table surfaces the DV anatomy, zero data I/O
    val meta = t.deleteFilesDf.collect()
    assert(meta.length == 1)
    val r = meta.head
    assert(r.getAs[String]("file_format") == "PUFFIN" &&
      r.getAs[String]("delete_kind") == "position" &&
      r.getAs[Long]("record_count") == 20L &&
      r.getAs[String]("referenced_data_file") != null &&
      r.getAs[Long]("content_offset") == 4L)
  }

  test("second delete supersedes: one live DV per file, merged positions") {
    val url = fresh("graft_dv_supersede")
    newV3Table(url)
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 40L), Pruning.Lt("k", 60L))) // 20 rows
    // overlapping second delete: 50..69 -> only 10 net-new
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 50L), Pruning.Lt("k", 70L)))
    val t = IcebergTable.load(spark, url)
    val dels = t.positionDeleteFiles
    // exactly one live DV per referenced data file
    assert(dels.size == 1 && dels.head.isDv, s"one merged DV expected: $dels")
    assert(dels.head.recordCount == 30L, "merged DV must hold prior ∪ fresh")
    assert(t.summary.get("added-position-deletes") == Some("10"), "net-new only")
    assert(liveKeys(url) == ((1L to 39L) ++ (70L to 100L)))
    assert(t.countFromStats() == Some(70L))
    // the superseded blob's puffin file is no longer referenced live
    val livePaths = dels.map(_.filePath).toSet
    assert(livePaths.size == 1)
  }

  test("v2 parquet deletes survive the upgrade; fresh deletes land as DVs") {
    val url = fresh("graft_dv_mixed")
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 100L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 11L)) // v2 parquet, 10 rows
    IcebergWriter.upgradeFormatVersion(spark, url, 3)
    // overlap the parquet carrier (k in [5,20)): only 10 rows are net-new
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 5L), Pruning.Lt("k", 21L)))
    val t = IcebergTable.load(spark, url)
    val (dvs, parquets) = t.positionDeleteFiles.partition(_.isDv)
    assert(parquets.size == 1 && dvs.size == 1, "both carriers live")
    assert(parquets.head.recordCount == 10L)
    assert(dvs.head.recordCount == 10L, "fresh DV holds only net-new positions")
    assert(liveKeys(url) == (21L to 100L))
    assert(t.countFromStats() == Some(80L))
  }

  test("whole-file drop reconciles DV state on metadata alone") {
    val url = fresh("graft_dv_wholefile")
    IcebergWriter.createTable(spark, url, schema)
    // two files: k 1..50 and 51..100
    IcebergWriter.append(spark, url,
      (1L to 50L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.append(spark, url,
      (51L to 100L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.upgradeFormatVersion(spark, url, 3)
    // DVs into both files
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(10L, 60L)))
    assert(IcebergTable.load(spark, url).positionDeleteFiles.size == 2)
    // drop file 1 whole (plus a split of file 2): file 1's DV must die,
    // file 2's DV must survive the delete-state rewrite
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 56L))
    val t = IcebergTable.load(spark, url)
    val dels = t.positionDeleteFiles
    assert(dels.forall(_.isDv))
    // one merged DV for file 2 (60 from before, 51..55 fresh)
    assert(dels.size == 1, s"only file 2's merged DV should live: $dels")
    assert(dels.head.recordCount == 6L)
    assert(liveKeys(url) == (56L to 100L).filterNot(_ == 60L))
    assert(t.countFromStats() == Some(44L))
  }

  test("whole-file drop with MIXED carriers: parquet survivors become DVs") {
    val url = fresh("graft_dv_mixed_drop")
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 50L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1)) // file 1
    IcebergWriter.append(spark, url,
      (51L to 100L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1)) // file 2
    // v2 parquet carrier touching BOTH files (k=10 in file 1, k=60 in file 2)
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(10L, 60L)))
    IcebergWriter.upgradeFormatVersion(spark, url, 3)
    // DV on file 2 only
    IcebergWriter.deleteRows(spark, url, Pruning.Eq("k", 70L))
    val mixed = IcebergTable.load(spark, url)
    assert(mixed.positionDeleteFiles.count(_.isDv) == 1 &&
      mixed.positionDeleteFiles.count(!_.isDv) == 1)
    // drop file 1 whole: the parquet carrier's k=10 row is DEAD and must be
    // rewritten away. v3 rule (round-13 fix): the surviving k=60 row is
    // rewritten as a DELETION VECTOR, not a new parquet carrier — and it
    // MERGES into file 2's existing DV (k=70), keeping the ≤1-live-DV-per-
    // file invariant through the rewrite.
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 51L))
    val t = IcebergTable.load(spark, url)
    val (dvs, parquets) = t.positionDeleteFiles.partition(_.isDv)
    assert(parquets.isEmpty,
      s"a v3 rewrite must not emit new parquet position deletes: $parquets")
    assert(dvs.size == 1 && dvs.head.recordCount == 2L,
      s"surviving k=60 must merge into file 2's DV (k=60 + k=70): $dvs")
    assert(liveKeys(url) == (51L to 100L).filterNot(k => k == 60L || k == 70L))
    assert(t.countFromStats() == Some(48L))
  }

  test("above the byte cap, puffins write executor-side, one per partition") {
    // Round-13 ask: the last driver-memory term proportional to a commit's
    // deleted-row count (the compressed bitmaps) moves executor-side past
    // `dvDriverBytesLimit` — each shuffle partition writes its own puffin
    // and only (path, offset, length, cardinality) tuples return.
    val url = fresh("graft_dv_exec")
    IcebergWriter.createTable(spark, url, schema)
    for (lo <- 0L until 8L) // 8 files of 10 keys each
      IcebergWriter.append(spark, url,
        (lo * 10 + 1 to lo * 10 + 10).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.upgradeFormatVersion(spark, url, 3)
    spark.conf.set("spark.graft.iceberg.dvDriverBytesLimit", "0")
    try {
      val hit1 = (0L until 8L).map(_ * 10 + 5) // one position in EVERY file
      IcebergWriter.deleteRows(spark, url, Pruning.In("k", hit1))
      val t = IcebergTable.load(spark, url)
      val dels = t.positionDeleteFiles
      assert(dels.size == 8 && dels.forall(_.isDv), s"one DV blob per file: $dels")
      assert(dels.flatMap(_.referencedDataFile).distinct.size == 8)
      val puffins = dels.map(f => t.resolvePath(f.filePath)).distinct
      assert(puffins.size >= 2,
        s"executor mode must write one puffin per non-empty partition: $puffins")
      assert(puffins.forall(_.matches(".*-p\\d+-deletes\\.puffin$")), s"$puffins")
      assert(t.countFromStats() == Some(72L))
      assert(liveKeys(url) == (1L to 80L).filterNot(hit1.contains))

      // supersede under the same cap: files 0 and 1 get MERGED blobs, the
      // other six carry through — still ≤1 live DV per data file
      IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(6L, 16L)))
      val t2 = IcebergTable.load(spark, url)
      val dels2 = t2.positionDeleteFiles
      assert(dels2.size == 8 && dels2.forall(_.isDv))
      val perFile = dels2.groupBy(_.referencedDataFile.get)
      assert(perFile.values.forall(_.size == 1), "≤1 live DV per data file")
      assert(dels2.map(_.recordCount).sum == 10L)
      assert(t2.countFromStats() == Some(70L))
      assert(liveKeys(url) ==
        (1L to 80L).filterNot(k => hit1.contains(k) || k == 6L || k == 16L))
    } finally spark.conf.unset("spark.graft.iceberg.dvDriverBytesLimit")
  }

  test("consolidation and survivor rewrites honor the byte cap executor-side") {
    val url = fresh("graft_dv_exec2")
    IcebergWriter.createTable(spark, url, schema)
    for (lo <- 0L until 4L)
      IcebergWriter.append(spark, url,
        (lo * 10 + 1 to lo * 10 + 10).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    // v2 parquet carrier first, then v3 DVs — mixed carriers
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(2L, 12L, 22L, 32L)))
    IcebergWriter.upgradeFormatVersion(spark, url, 3)
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(3L, 13L, 23L, 33L)))
    spark.conf.set("spark.graft.iceberg.dvDriverBytesLimit", "0")
    try {
      // CONSOLIDATION above the cap: per-partition -pN-pdc puffins
      IcebergWriter.rewritePositionDeletes(spark, url)
      val t = IcebergTable.load(spark, url)
      assert(t.positionDeleteFiles.forall(_.isDv))
      val puffins = t.positionDeleteFiles.map(f => t.resolvePath(f.filePath)).distinct
      assert(puffins.forall(_.matches(".*-p\\d+-pdc\\.puffin$")), s"$puffins")
      assert(t.positionDeleteFiles.map(_.recordCount).sum == 8L)
      assert(liveKeys(url) ==
        (1L to 40L).filterNot(k => k % 10 == 2 || k % 10 == 3))

      // an all-DV drop reconciles on METADATA alone: blobs of surviving
      // files carry through file-level, no rewrite, no new puffin
      IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 11L))
      val t2 = IcebergTable.load(spark, url)
      assert(t2.positionDeleteFiles.forall(f => f.isDv &&
        t2.resolvePath(f.filePath).matches(".*-p\\d+-pdc\\.puffin$")))
      assert(liveKeys(url) ==
        (11L to 40L).filterNot(k => k % 10 == 2 || k % 10 == 3))

      // the SURVIVOR REWRITE (legacy parquet carrier + whole-file drop)
      // above the cap writes per-partition -rwdel-pN puffins
      val url2 = fresh("graft_dv_exec_rw")
      IcebergWriter.createTable(spark, url2, schema)
      for (lo <- 0L until 4L)
        IcebergWriter.append(spark, url2,
          (lo * 10 + 1 to lo * 10 + 10).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
      IcebergWriter.deleteRows(spark, url2,
        Pruning.In("k", Seq(2L, 12L, 22L, 32L))) // v2 parquet carrier
      IcebergWriter.upgradeFormatVersion(spark, url2, 3)
      IcebergWriter.deleteRows(spark, url2, Pruning.Lt("k", 11L)) // drop file 1
      val t3 = IcebergTable.load(spark, url2)
      assert(t3.positionDeleteFiles.forall(_.isDv))
      val puffins3 = t3.positionDeleteFiles.map(f => t3.resolvePath(f.filePath)).distinct
      assert(puffins3.forall(_.matches(".*-rwdel-p\\d+\\.puffin$")), s"$puffins3")
      assert(t3.positionDeleteFiles.map(_.recordCount).sum == 3L) // 12,22,32
      assert(liveKeys(url2) ==
        (11L to 40L).filterNot(k => k % 10 == 2))
      assert(t3.countFromStats() == Some(27L))
    } finally spark.conf.unset("spark.graft.iceberg.dvDriverBytesLimit")
  }

  test("expire + orphan removal: live puffin survives, superseded one is collected") {
    val url = fresh("graft_dv_expire")
    newV3Table(url) // snapshot 1: k = 1..100, one file
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 5L)) // snapshot 2: P1
    val t1 = IcebergTable.load(spark, url)
    val p1 = t1.positionDeleteFiles.filter(_.isDv)
      .map(f => t1.resolvePath(f.filePath)).distinct
    assert(p1.size == 1)
    IcebergWriter.deleteRows(spark, url, Pruning.GtEq("k", 95L)) // snapshot 3: P2 supersedes P1
    val t2 = IcebergTable.load(spark, url)
    val p2 = t2.positionDeleteFiles.filter(_.isDv)
      .map(f => t2.resolvePath(f.filePath)).distinct
    assert(p2.size == 1 && p2 != p1, "supersede must move to a fresh puffin")

    // ORPHAN removal: P1 is still named by snapshot 2 (Added) and by the
    // head's DELETED entry — referenced, kept. A stray puffin from a
    // crashed commit is referenced by nothing — collected (pre-round-13,
    // .puffin was not even a candidate and leaked forever).
    val stray = new java.io.File(s"$url/data/00000-dead-crashed.puffin")
    java.nio.file.Files.write(stray.toPath, Array[Byte](0x50, 0x46, 0x41, 0x31))
    stray.setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    Maintenance.removeOrphans(spark, url)
    assert(!stray.exists, "unreferenced orphan puffin must be collected")
    assert(new java.io.File(p1.head).exists && new java.io.File(p2.head).exists,
      "referenced puffins must survive orphan removal")

    // EXPIRE to the head: P1 is then referenced only by the head's DELETED
    // entry — unreachable bytes, physically collected; the live P2 survives
    // and the merged read stays exact.
    Maintenance.expireSnapshots(spark, url, keepLast = 1)
    assert(!new java.io.File(p1.head).exists,
      "superseded puffin from an expired snapshot must be collected")
    assert(new java.io.File(p2.head).exists, "live puffin must survive expiry")
    assert(liveKeys(url) == (5L to 94L))
    assert(IcebergTable.load(spark, url).countFromStats() == Some(90L))
  }

  test("merge (upsert by position) writes DVs on a v3 table") {
    val url = fresh("graft_dv_merge")
    newV3Table(url, n = 20L)
    IcebergWriter.merge(spark, url,
      Seq((5L, "u5"), (21L, "u21")).toDF("k", "v").coalesce(1), Seq("k"))
    val t = IcebergTable.load(spark, url)
    assert(t.positionDeleteFiles.forall(_.isDv))
    val rows = t.read().as[(Long, String)].collect().toMap
    assert(rows(5L) == "u5" && rows(21L) == "u21" && rows.size == 21)
  }

  test("above the driver cap, DV positions load task-side via DeleteLoader") {
    val url = fresh("graft_dv_taskmode")
    newV3Table(url)
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 10L), Pruning.Lt("k", 30L)))
    val expected = (1L to 9L) ++ (30L to 100L)
    DeleteLoader.clearForTest()
    assert(liveKeys(url) == expected, "task-mode DV read must drop exactly the deleted keys")
    assert(DeleteLoader.residentEntries > 0,
      "puffin DV must decode through the per-JVM DeleteLoader cache")
  }

  test("multi-blob puffin in task mode: no position duplication, CDC parity") {
    val url = fresh("graft_dv_multiblob")
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 50L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.append(spark, url,
      (51L to 100L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.upgradeFormatVersion(spark, url, 3)
    val from = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    // ONE commit, TWO blobs (both files hit) in ONE puffin — its path used
    // to ship once per blob, doubling every task-side merged position
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(10L, 60L)))
    assert(IcebergTable.load(spark, url)
      .positionDeleteFiles.map(_.filePath).distinct.size == 1)
    assert(liveKeys(url) == (1L to 100L).filterNot(Set(10L, 60L)))
    // CDC stream: each deleted row emitted exactly once
    def cdc(ckpt: String, sink: String): Seq[(Long, String)] = {
      val q = spark.readStream.format("graft-iceberg")
        .option("stream-mode", "cdc")
        .option("starting-snapshot-id", from.toString)
        .load(url)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(sink).select("k", "_change_type")
        .as[(Long, String)].collect().toSeq.sorted
    }
    val dir = url.stripSuffix("/t")
    val task = cdc(s"$dir/ck2", "dv_mb_task")
    assert(task == Seq((10L, "delete"), (60L, "delete")),
      "the CDC stream must carry exactly the commit's two deletes")
    assert(task.filter(_._2 == "delete").map(_._1) == Seq(10L, 60L),
      "each DV position must be emitted as deleted exactly once")
  }

  test("rewritePositionDeletes consolidates many puffins into one, idempotently") {
    val url = fresh("graft_dv_consolidate")
    newV3Table(url)
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(1L, 2L)))
    // a DELETE touching only a SECOND file leaves file 1's DV in commit
    // 1's puffin and file 2's in commit 2's — two live physical carriers
    // (a delete re-touching file 1 would have superseded-consolidated)
    IcebergWriter.append(spark, url,
      (101L to 150L).map(i => (i, s"c$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(110L, 111L)))
    val before = IcebergTable.load(spark, url)
    assert(before.positionDeleteFiles.map(_.filePath).distinct.size == 2)
    val expected = liveKeys(url)
    IcebergWriter.rewritePositionDeletes(spark, url)
    val after = IcebergTable.load(spark, url)
    assert(after.positionDeleteFiles.map(_.filePath).distinct.size == 1,
      "all DVs consolidated into one puffin")
    assert(after.positionDeleteFiles.forall(_.isDv))
    assert(after.positionDeleteFiles.map(_.recordCount).sum == 4L)
    assert(liveKeys(url) == expected)
    // idempotent: a second call must not commit another snapshot
    val v = after.currentSnapshot.snapshotId
    IcebergWriter.rewritePositionDeletes(spark, url)
    assert(IcebergTable.load(spark, url).currentSnapshot.snapshotId == v)
  }

  test("compaction folds DVs back into plain data files") {
    val url = fresh("graft_dv_compact")
    newV3Table(url)
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 90L), Pruning.Lt("k", 96L)))
    val expected = liveKeys(url)
    Maintenance.compact(spark, url, targetFiles = Some(1))
    val t = IcebergTable.load(spark, url)
    assert(t.positionDeleteFiles.isEmpty, "compaction folds delete state away")
    assert(t.metadata.formatVersion == 3, "compaction must not downgrade v3")
    assert(liveKeys(url) == expected)
    assert(t.countFromStats() == Some(94L))
  }

  test("SQL MOR DML on a v3 table commits DVs, never parquet carriers") {
    val wh = java.nio.file.Files.createTempDirectory("graft_dv_sql").toString
    val cat = s"dv${wh.hashCode.toHexString}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftIcebergPathCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, 'a' FROM range(1, 101)")
    IcebergWriter.upgradeFormatVersion(spark, s"$wh/db/t", 3)
    spark.sql(s"UPDATE $cat.db.t SET v = 'upd' WHERE k = 7")
    spark.sql(s"MERGE INTO $cat.db.t t USING (SELECT 8L AS k, 'merged' AS v) s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val t = IcebergTable.load(spark, s"$wh/db/t")
    val dels = t.positionDeleteFiles
    assert(dels.nonEmpty && dels.forall(_.isDv),
      s"v3 SQL DML must commit deletion vectors, got $dels")
    // second DML superseded the first file's DV: one live blob, 2 positions
    assert(dels.size == 1 && dels.head.recordCount == 2L, s"supersede: $dels")
    val rows = spark.sql(s"SELECT k, v FROM $cat.db.t ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(rows == (1L to 100L).map(i => (i,
      if (i == 7) "upd" else if (i == 8) "merged" else "a")))
    assert(t.countFromStats().contains(100L))
    // the staged parquet carriers were removed after conversion
    val staged = new java.io.File(s"$wh/db/t/data").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(f => f.getName.endsWith(".parquet") && f.getName.contains("delete"))
    assert(staged.isEmpty, s"leftover staged delete parquets: ${staged.toSeq}")
  }

  test("BATCH changelog over merged DVs emits net-new deletes only") {
    val url = fresh("graft_dv_chlog")
    newV3Table(url, n = 40L)
    val from = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 10L), Pruning.Lt("k", 20L)))
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 15L), Pruning.Lt("k", 25L))) // merged DV
    val t = IcebergTable.load(spark, url)
    val changes = t.changelog(from, t.currentSnapshot.snapshotId)
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
    val deletes = changes.filter(_._2 == "delete").map(_._1).sorted
    assert(deletes == (10L until 25L).toSeq,
      s"batch changelog must not re-emit the merged DV's prior positions: $deletes")
  }

  test("CDC changelog over merged DVs emits net-new deletes only") {
    val url = fresh("graft_dv_cdc")
    newV3Table(url, n = 40L)
    val from = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 10L), Pruning.Lt("k", 20L))) // 10 deletes
    // second commit merges 15..24 into the DV: net-new = 15..24 \ 10..19 = 5
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 15L), Pruning.Lt("k", 25L)))
    val dir = url.stripSuffix("/t")
    val q = spark.readStream.format("graft-iceberg")
      .option("stream-mode", "cdc")
      .option("starting-snapshot-id", from.toString)
      .option("max-snapshots-per-trigger", "1")
      .load(url)
      .writeStream.format("memory").queryName("dv_cdc")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val changes = spark.table("dv_cdc").select("k", "_change_type")
      .as[(Long, String)].collect().toSeq
    val deletes = changes.filter(_._2 == "delete").map(_._1).sorted
    assert(deletes == (10L until 25L).toSeq,
      s"each position must be emitted as deleted exactly once, got $deletes")
    assert(changes.count(_._2 == "delete") == 15, "no re-emission from the merged DV")
  }
}
