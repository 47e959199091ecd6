package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.DeleteLoader
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{IcebergTable, IcebergWriter, Pruning}

/** DISTRIBUTED delete state for the CDC STREAM: a changelog that collected
  * position-delete positions into a driver map could balloon the driver
  * mid-stream on one heavy-churn commit of a 100 TB CDC table. The stream
  * ships only delete-file paths and metadata-only specs; these tests prove
  * it answers EXACTLY the changelog its history implies, with positions
  * and keys loaded task-side through [[DeleteLoader]]. */
class CdcDistributedMorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** Full CDC stream over `url` from `from`, collected sorted. */
  private def streamCdc(url: String, from: Option[Long], ckpt: String,
      sink: String): Seq[(Long, String, String)] = {
    val base = spark.readStream.format("graft-iceberg")
      .option("stream-mode", "cdc")
    val withStart = from match {
      case Some(id) => base.option("starting-snapshot-id", id.toString)
      case None => base.option("stream-from-earliest", "true")
    }
    val q = withStart.option("max-snapshots-per-trigger", "1")
      .load(url)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(sink).select("k", "v", "_change_type")
      .as[(Long, String, String)].collect().sorted.toSeq
  }

  /** History with every delete shape the CDC planner handles: pos-deletes
    * on surviving files, an upsert (equality delete), a whole-file
    * removal via overwrite of a small file. */
  private def writeHistory(url: String): Long = {
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    val from = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url,
      (41L to 60L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 10L), Pruning.Lt("k", 25L))) // 15 positions
    IcebergWriter.upsert(spark, url,
      Seq((30L, "u30"), (99L, "u99")).toDF("k", "v").coalesce(1), Seq("k"))
    IcebergWriter.deleteRows(spark, url, Pruning.Eq("k", 50L)) // second pos commit
    from
  }

  /** The changelog [[writeHistory]] implies after its first append, sorted
    * like [[streamCdc]]'s result. */
  private val historyChangelog: Seq[(Long, String, String)] = (
    (41L to 60L).map(i => (i, s"b$i", "insert")) ++
      (10L to 24L).map(i => (i, s"a$i", "delete")) ++
      Seq((30L, "a30", "delete"), (30L, "u30", "insert"), (99L, "u99", "insert"),
        (50L, "b50", "delete"))).sorted

  test("CDC stream above the driver cap matches driver mode exactly") {
    val dir = fresh("graft_cdc_dist")
    val url = s"$dir/tbl"
    val from = writeHistory(url)

    DeleteLoader.clearForTest()
    val distributed = streamCdc(url, Some(from), s"$dir/ckpt_dist", "cdc_dist")
    assert(distributed == historyChangelog,
      "CDC stream must emit exactly the changelog the history implies")
    assert(DeleteLoader.residentEntries > 0,
      "CDC must load delete positions task-side via DeleteLoader")
  }

  test("equality-delete key sets load task-side above the cap") {
    val dir = fresh("graft_cdc_dist_eq")
    val url = s"$dir/tbl"
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 30L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    val from = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    // eq-only churn: two upserts, no position deletes at all
    IcebergWriter.upsert(spark, url,
      (5L to 12L).map(i => (i, s"u$i")).toDF("k", "v").coalesce(1), Seq("k"))
    IcebergWriter.upsert(spark, url,
      Seq((5L, "u5b"), (40L, "n40")).toDF("k", "v").coalesce(1), Seq("k"))

    DeleteLoader.clearForTest()
    val distributed = streamCdc(url, Some(from), s"$dir/ckpt_dist", "cdc_eq_dist")
    val expected = ((5L to 12L).flatMap(i => Seq((i, s"a$i", "delete"), (i, s"u$i", "insert"))) ++
      Seq((5L, "u5", "delete"), (5L, "u5b", "insert"), (40L, "n40", "insert"))).sorted
    assert(distributed == expected,
      "eq-delete CDC stream must emit the changelog the upserts imply")
    assert(DeleteLoader.residentEntries > 0,
      "CDC must load equality key sets task-side via DeleteLoader")
    // the second upsert supersedes k=5 again: exactly two delete rows for it
    assert(distributed.count(r => r._1 == 5L && r._3 == "delete") == 2)
  }

  test("above-cap fan-out is pruned by referenced-file bounds") {
    val dir = fresh("graft_cdc_prune")
    val url = s"$dir/tbl"
    val from = writeHistory(url)
    GraftIcebergSource.cdcSelectionCandidates.set(-1)
    GraftIcebergSource.cdcSelectionPartitions.set(-1)
    val distributed = streamCdc(url, Some(from), s"$dir/ckpt_dist", "cdc_pr_dist")
    assert(distributed == historyChangelog)
    // gauges hold the LAST plan that considered a position-delete
    // selection: the second delete commit (k=50, one file referenced)
    // over a table with THREE surviving files. The delete parquet's
    // file_path bounds (min == max in the manifest) prove it references
    // ONE data file, so planning must emit one selection
    // partition, strictly fewer than the surviving files it would
    // otherwise fan out to.
    val cand = GraftIcebergSource.cdcSelectionCandidates.get()
    val part = GraftIcebergSource.cdcSelectionPartitions.get()
    assert(cand == 3, s"surviving candidates considered: $cand")
    assert(part == 1,
      s"selection partitions planned: $part — referenced-file pruning not engaged")
    assert(part < cand)
  }

  test("empty task-side selection never opens the data parquet") {
    import org.apache.spark.sql.graftbridge.ScanBridge
    val dir = fresh("graft_cdc_skip")
    val url = s"$dir/tbl"
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 20L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.append(spark, url,
      (21L to 40L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.Eq("k", 5L)) // file A only
    val t = IcebergTable.load(spark, url)
    val delFiles = t.positionDeleteFiles.map(f => t.resolvePath(f.filePath)).toArray
    assert(delFiles.nonEmpty)
    // the file the delete does NOT reference
    val other = t.liveFiles()
      .map(f => (t.resolvePath(f.filePath), f.fileSizeInBytes))
      .find { case (p, _) => !spark.read.parquet(delFiles: _*)
        .select("file_path").as[String].collect()
        .map(ScanBridge.morKey).contains(ScanBridge.morKey(p)) }
      .get

    val hconf = spark.sessionState.newHadoopConf()
    IcebergTable.FieldIdReadOptions.foreach { case (k, v) => hconf.set(k, v) }
    val fullRead = StructType(schema.fields :+ ScanBridge.rowIndexField)
    val delegate = ScanBridge.parquetScan(spark, hconf, Nil, schema, fullRead,
      Array.empty, new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).toBatch.createReaderFactory()
    val factory = ScanBridge.morReaderFactory(delegate, schema, fullRead.length,
      columnarCapable = false,
      conf = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(hconf)),
      ordinalMap = schema.fieldNames.map(n => schema.fieldIndex(n)))
    // distributed-selection partition over the UNREFERENCED file: its
    // task-computed selection is empty, so the reader must answer from the
    // cached delete-file read alone — zero data-parquet opens
    val p = ScanBridge.cdcPartition(hconf, 0, other._1, other._2, 0L, Nil,
      selectPosDeleteFiles = delFiles)
    val opensBefore = ScanBridge.morDataFileOpens.get()
    val skipsBefore = ScanBridge.morEmptySelectionSkips.get()
    val reader = factory.createReader(p)
    assert(!reader.next(), "unreferenced file must yield an empty selection")
    reader.close()
    assert(ScanBridge.morEmptySelectionSkips.get() == skipsBefore + 1)
    assert(ScanBridge.morDataFileOpens.get() == opensBefore,
      "empty selection must not open the data parquet")
  }

  test("many-DV commit: proven referenced-file set prunes above-cap planning") {
    // One delete commit touching SEVERAL files (v3 → one DV blob per file,
    // each carrying referenced_data_file). Planning must answer
    // mightHave from the prebuilt referenced SET — O(live + deletes), the
    // round-13 ask — and still plan exactly the referenced files.
    val dir = fresh("graft_cdc_manydv")
    val url = s"$dir/tbl"
    IcebergWriter.createTable(spark, url, schema)
    for (lo <- Seq(1L, 11L, 21L, 31L))
      IcebergWriter.append(spark, url,
        (lo until lo + 10).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.upgradeFormatVersion(spark, url, 3)
    val from = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    // spans files 1 and 2 only -> two DV blobs in one commit
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 5L), Pruning.Lt("k", 15L)))
    val t = IcebergTable.load(spark, url)
    assert(t.positionDeleteFiles.count(_.isDv) == 2,
      "expected one DV blob per touched file")
    assert(t.positionDeleteFiles.forall(_.referencedDataFile.isDefined))

    GraftIcebergSource.cdcSelectionCandidates.set(-1)
    GraftIcebergSource.cdcSelectionPartitions.set(-1)
    val distributed = streamCdc(url, Some(from), s"$dir/ckpt_dist", "cdc_mdv_dist")
    assert(distributed == (5L to 14L).map(i => (i, s"a$i", "delete")),
      "many-DV CDC stream must emit exactly the deleted rows")
    val cand = GraftIcebergSource.cdcSelectionCandidates.get()
    val part = GraftIcebergSource.cdcSelectionPartitions.get()
    assert(cand == 4, s"surviving candidates considered: $cand")
    assert(part == 2,
      s"selection partitions planned: $part — referenced-set pruning not engaged")
  }

  test("CDC catch-up batch above the cap emits the same live rows") {
    val dir = fresh("graft_cdc_dist2")
    val url = s"$dir/tbl"
    writeHistory(url)

    val distributed = streamCdc(url, None, s"$dir/ckpt_dist", "cdc_cu_dist")
    // the first batch carries the first snapshot's rows as inserts
    assert(distributed ==
      ((1L to 40L).map(i => (i, s"a$i", "insert")) ++ historyChangelog).sorted)
    // from-earliest replays the whole history as changes: net state
    // (inserts minus deletes) must equal the table's live rows
    val net = distributed.foldLeft(Map.empty[(Long, String), Int]) {
      case (m, (k, v, t)) =>
        val key = (k, v)
        m + (key -> (m.getOrElse(key, 0) + (if (t == "insert") 1 else -1)))
    }.filter(_._2 != 0)
    assert(net.values.forall(_ == 1), s"unbalanced changelog: $net")
    val live = IcebergTable.load(spark, url).read()
      .as[(Long, String)].collect().toSet
    assert(net.keySet == live,
      "changelog net state must equal the live table")
  }
}
