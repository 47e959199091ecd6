package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.iceberg.{IcebergTable, IcebergWriter, Manifests}
import graft.iceberg.Pruning._

/** scan-plan: one op is a short query session over a wide, partitioned
  * table. It drops the manifest cache, loads the table, prunes cold with the
  * typed API (every manifest decodes, since the key predicate has no
  * partition term), prunes warm and reads, then runs three connector
  * queries on the warm cache: a point lookup, a range filter with a
  * projection, and a count/min/max that the table's metadata answers.
  * Every expected file set and row comes from the generator's own layout. */
final class ScanPlan(spark: SparkSession, seed: Long) extends Workload {
  val Files = 240
  val Commits = 6 // one manifest each, over a contiguous partition range
  val RowsPerFile = 8
  val KeySpan = 64 // keys of file f lie in [f * KeySpan, (f + 1) * KeySpan)
  // Extra long columns: every manifest entry carries bounds and counts for
  // each, so the metadata plane decodes a wide table's worth of statistics
  val WideCols = 24
  val PartBase = 1000 // four-digit partition values sort the same as text

  // one file create costs a process fork on a local filesystem without
  // Hadoop's native library, so the fixture is built once per run
  override val builds = 1
  val opsPerUnit = 1
  val warmMin = 6
  val warmMax = 16
  val warmWindow = 3

  final case class R(k: Long, part: Int, amt: Long, s: String)

  private val rows: IndexedSeq[IndexedSeq[R]] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    (0 until Files).map { f =>
      val offs = rng.ints(0, KeySpan).distinct().limit(RowsPerFile).toArray.sorted
      offs.toIndexedSeq.map { o =>
        R(f.toLong * KeySpan + o, PartBase + f, rng.nextLong(100000L),
          f"s${rng.nextInt(1 << 24)}%06x")
      }
    }
  }
  private val all = rows.flatten
  private def wide(k: Long): Seq[Long] = {
    val r = new SplittableRandom(seed * 1000003L + k)
    Seq.fill(WideCols)(r.nextLong(1000000L))
  }

  // the op's predicates, fixed for the run so every op does the same work
  private val pick = new SplittableRandom(seed ^ 0x5EED)
  private def anyRow(): R = { val f = rows(pick.nextInt(Files)); f(pick.nextInt(f.size)) }
  private val coldKey = anyRow().k
  private val pointRow = anyRow()
  private val warmLo = PartBase + pick.nextInt(Files - 40)
  private val (amtLo, amtHi) = { val a = pick.nextLong(90000L); (a, a + 10000L) }
  private val warmPred: IcePredicate = And(
    And(GtEq("part", warmLo), LtEq("part", warmLo + 39)),
    And(GtEq("amt", amtLo), LtEq("amt", amtHi)))
  private val rangeLo = PartBase + pick.nextInt(Files - 8)

  private def warmMatch(r: R) =
    r.part >= warmLo && r.part <= warmLo + 39 && r.amt >= amtLo && r.amt <= amtHi
  private def rangeMatch(r: R) = r.part >= rangeLo && r.part < rangeLo + 8 && r.k % 2 == 0

  // expectations from the generator's file bounds and rows
  private var expColdFiles: Set[Int] = rows.indices.filter { f =>
    rows(f).head.k <= coldKey && coldKey <= rows(f).last.k }.toSet
  private val expWarmFiles: Set[Int] = rows.indices.filter { f =>
    val p = PartBase + f
    p >= warmLo && p <= warmLo + 39 &&
      rows(f).map(_.amt).min <= amtHi && rows(f).map(_.amt).max >= amtLo }.toSet
  private val expWarm = { val m = all.filter(warmMatch); (m.size.toLong, m.map(_.k).sum) }
  private val expRange = { val m = all.filter(rangeMatch); (m.size.toLong, m.map(_.amt).sum) }
  private val expAgg = (all.size.toLong, all.map(_.k).min, all.map(_.k).max)

  private var url = ""
  private var manifestCount = 0
  private var metadataJsonKb = 0.0
  private var decodedMb, manifestKb = 0.0
  private var userBytes = 0L

  // per-layer counters, traced ops only
  private var filesTotal, filesKept, filesUseful = 0L

  def build(dir: String): Unit = {
    url = s"$dir/table"
    val schema = StructType(Seq(StructField("k", LongType), StructField("part", IntegerType),
      StructField("amt", LongType), StructField("s", StringType)) ++
      (0 until WideCols).map(j => StructField(f"c$j%02d", LongType)))
    IcebergWriter.createTable(spark, url, schema,
      partitions = Seq("part" -> "identity"), sortOrder = Seq("k" -> "asc"))
    // the connector's own write: executors report the files they wrote to
    // the commit, one file per partition value
    rows.grouped(Files / Commits).foreach { files =>
      val data = files.flatten.map(r => Row.fromSeq(Seq(r.k, r.part, r.amt, r.s) ++ wide(r.k)))
      spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
        .write.format("graft-iceberg").mode("append").save(url)
    }
    userBytes = all.map(r => 8L + 4 + 8 + r.s.length + 8 * WideCols).sum
  }

  override def ready(): Unit = {
    val t = IcebergTable.load(spark, url)
    manifestCount = t.manifestList.size
    metadataJsonKb = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$url/metadata/v${t.version}.metadata.json")) / 1024.0
    manifestKb = t.manifestList.map(_.length).sum / 1024.0
    decodedMb = Main.median((0 until 3).map { _ =>
      Manifests.clearCache()
      val h0 = Jvm.liveHeapMb
      val kept = t.prunedFiles(AlwaysTrue).size
      require(kept == Files, s"expected $Files live files, found $kept")
      Jvm.liveHeapMb - h0
    })
  }

  private def fileIndex(f: Manifests.DataFileInfo): Int =
    f.partition.values.head.toString.toInt - PartBase

  def op(k: Int): Option[String] = {
    Manifests.clearCache()
    val t = Trace.span("iceberg", "iceberg.load")(IcebergTable.load(spark, url))
    val mfs = Trace.span("iceberg", "iceberg.manifest_list")(t.manifestList)
    val cold = Trace.span("iceberg", "iceberg.plan_cold")(t.prunedFiles(Eq("k", coldKey)))
    val warm = Trace.span("iceberg", "iceberg.plan_warm")(t.prunedFiles(warmPred))
    val warmRead = Sources.query(t.readWhere(warmPred, Seq("k", "amt"))
      .agg(count(lit(1)), coalesce(sum("k"), lit(0L))))(_.collect().head)

    val src = spark.read.format("graft-iceberg").load(url)
    val point = Sources.query(src.filter(col("k") === pointRow.k)
      .select("k", "part", "amt", "s"))(_.collect())
    val range = Sources.query(src.filter(col("part") >= rangeLo && col("part") < rangeLo + 8 &&
        col("k") % 2 === 0).select("k", "amt")
      .agg(count(lit(1)), coalesce(sum("amt"), lit(0L))))(_.collect().head)
    val agg = Sources.query(src.agg(count(lit(1)), min("k"), max("k")))(_.collect().head)

    if (Trace.on) {
      filesTotal += mfs.filter(_.content == Manifests.ManifestContent.Data)
        .map(m => m.addedFilesCount.getOrElse(0) + m.existingFilesCount.getOrElse(0)).sum
      filesKept += cold.size + warm.size
      filesUseful += cold.count(f => rows(fileIndex(f)).exists(_.k == coldKey)) +
        warm.count(f => rows(fileIndex(f)).exists(warmMatch))
    }

    val coldSet = cold.map(fileIndex).toSet
    val warmSet = warm.map(fileIndex).toSet
    val p = pointRow
    if (coldSet != expColdFiles) Some(s"cold prune kept $coldSet, expected $expColdFiles")
    else if (warmSet != expWarmFiles)
      Some(s"warm prune kept ${warmSet.size} files, expected ${expWarmFiles.size}")
    else if ((warmRead.getLong(0), warmRead.getLong(1)) != expWarm)
      Some(s"readWhere gave $warmRead, expected $expWarm")
    else if (point.length != 1 || point.head != Row(p.k, p.part, p.amt, p.s))
      Some(s"point lookup gave ${point.mkString(",")}, expected $p")
    else if ((range.getLong(0), range.getLong(1)) != expRange)
      Some(s"range query gave $range, expected $expRange")
    else if ((agg.getLong(0), agg.getLong(1), agg.getLong(2)) != expAgg)
      Some(s"count/min/max gave $agg, expected $expAgg")
    else None
  }

  def writeAmp: Double = Disk.bytes(url).toDouble / userBytes
  def spaceAmp: Double = writeAmp

  def layerMetrics(ops: Int): Seq[(String, Double, String)] = {
    val n = math.max(ops, 1).toDouble
    LayerNames.complete(Map(
      "iceberg.load_ms" -> Trace.perOp("iceberg.load", ops),
      "iceberg.metadata_json_kb" -> metadataJsonKb,
      "iceberg.manifest_list_ms" -> Trace.perOp("iceberg.manifest_list", ops),
      "iceberg.plan_cold_ms" -> Trace.perOp("iceberg.plan_cold", ops),
      "iceberg.plan_warm_ms" -> Trace.perOp("iceberg.plan_warm", ops),
      "iceberg.files_total" -> filesTotal / n,
      "iceberg.files_kept" -> filesKept / n,
      "iceberg.prune_precision" -> (if (filesKept == 0) 0.0 else filesUseful.toDouble / filesKept)))
  }

  def facts: Seq[(String, String)] = Seq(
    "data_files" -> Files.toString,
    "manifests" -> manifestCount.toString,
    "rows" -> all.size.toString,
    "metadata_json_kb" -> f"$metadataJsonKb%.1f",
    "manifests_kb_on_disk" -> f"$manifestKb%.1f",
    "decoded_manifests_mb" -> f"$decodedMb%.2f of ${Jvm.maxHeapMb}%.0f heap",
    "files_kept_cold_warm" -> s"${expColdFiles.size}+${expWarmFiles.size}")

  def sabotage(): Unit = expColdFiles = expColdFiles.map(_ + 1)
}
