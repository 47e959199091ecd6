package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.iceberg.{IcebergTable, IcebergWriter}
import graft.iceberg.Pruning._

/** ingest-commit: one op is one commit from a fixed cycle of appends, one
  * row-level deleteRows and one partition overwrite, followed by a read-back
  * through the connector that must equal a driver-side model of the table
  * (row count and a column sum). A unit is one cycle on a table recreated
  * from the seed before it, outside the timed ops, so the cost of an op
  * does not depend on how far a run got. */
final class IngestCommit(spark: SparkSession, seed: Long) extends Workload {
  val BaseRows = 2000
  val AppendRows = 400
  val OverwriteRows = 300
  val Groups = 4
  val Appends = 3

  val opsPerUnit = Appends + 2
  val warmMin = 2
  val warmMax = 2
  val warmWindow = 1

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("grp", IntegerType), StructField("amt", LongType),
    StructField("note", StringType)))

  final case class R(id: Long, grp: Int, amt: Long, note: String) {
    def bytes: Long = 8L + 4 + 8 + note.length
  }

  // every batch of the cycle, generated once from the seed
  private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
  private def batch(from: Long, n: Int, grp: Option[Int]): IndexedSeq[R] =
    (0 until n).map { i =>
      val id = from + i
      R(id, grp.getOrElse((id % Groups).toInt), rng.nextLong(100000L),
        f"n${rng.nextInt(1 << 24)}%06x")
    }
  private val base = batch(0L, BaseRows, None)
  private val appends = (0 until Appends).map(a => batch(BaseRows + a * AppendRows, AppendRows, None))
  private val delGroup = rng.nextInt(Groups)
  private val delBelow = 30000L
  private val owGroup = (delGroup + 1 + rng.nextInt(Groups - 1)) % Groups
  private val overwrite = batch(BaseRows + Appends * AppendRows, OverwriteRows, Some(owGroup))

  private var url = ""
  private var dirCount = 0
  private var buildRoot = ""
  private val model = mutable.LinkedHashMap.empty[Long, R]
  private var sumOffset = 0L // set by sabotage(): the model's sum is off by this

  // write and space accounting over the measured units
  private var before = Map.empty[String, Long]
  private var writtenBytes, userBytesWritten = 0L
  private val spaceAmps = mutable.ArrayBuffer.empty[Double]
  private var measured = false
  // per-layer counters, traced ops only
  private var filesAdded, dataBytes, metaBytes, metaJsonBytes, commits = 0L
  private var traced = false

  private def df(rows: Seq[R]) = spark.createDataFrame(
    java.util.Arrays.asList(rows.map(r => Row(r.id, r.grp, r.amt, r.note)): _*), schema)

  private def freshTable(root: String): Unit = {
    url = s"$root/table-$dirCount"
    dirCount += 1
    IcebergWriter.createTable(spark, url, schema, partitions = Seq("grp" -> "identity"))
    IcebergWriter.append(spark, url, df(base))
    model.clear()
    base.foreach(r => model(r.id) = r)
  }

  def build(dir: String): Unit = { buildRoot = dir; freshTable(dir) }

  override def beforeUnit(): Unit = {
    freshTable(buildRoot)
    before = Disk.files(url)
  }

  def op(k: Int): Option[String] = {
    traced = Trace.on
    val (kind, userBytes) =
      if (k < Appends) {
        val rows = appends(k)
        Trace.span("writer", "writer.append")(IcebergWriter.append(spark, url, df(rows)))
        rows.foreach(r => model(r.id) = r)
        ("append", rows.map(_.bytes).sum)
      } else if (k == Appends) {
        Trace.span("writer", "writer.delete")(IcebergWriter.deleteRows(spark, url,
          And(Eq("grp", delGroup), Lt("amt", delBelow))))
        model.filterInPlace { case (_, r) => !(r.grp == delGroup && r.amt < delBelow) }
        ("delete", 0L)
      } else {
        Trace.span("writer", "writer.overwrite")(IcebergWriter.overwrite(spark, url,
          df(overwrite), Eq("grp", owGroup)))
        model.filterInPlace { case (_, r) => r.grp != owGroup }
        overwrite.foreach(r => model(r.id) = r)
        ("overwrite", overwrite.map(_.bytes).sum)
      }
    if (measured) userBytesWritten += userBytes

    val back = Trace.span("bench", "writer.readback") {
      val t = Trace.span("iceberg", "iceberg.load")(IcebergTable.load(spark, url))
      Sources.query(t.readWhere(AlwaysTrue).agg(count(lit(1)), coalesce(sum("amt"), lit(0L))))(
        _.collect().head)
    }
    val expected = (model.size.toLong, model.valuesIterator.map(_.amt).sum + sumOffset)
    if ((back.getLong(0), back.getLong(1)) != expected)
      Some(s"read-back after $kind gave $back, model has $expected")
    else None
  }

  override def afterOp(k: Int): Unit = {
    val now = Disk.files(url)
    val fresh = now.filter { case (p, n) => !before.get(p).contains(n) }
    if (measured) writtenBytes += fresh.values.sum
    if (traced) {
      // data files sit in data/<commit uuid>/; delete files in data/<uuid>-deletes/
      // etc., and those hold file paths, so their size varies from run to run
      val data = fresh.filter { case (p, _) =>
        p.startsWith("data/") && p.split('/')(1).length == 36 }
      filesAdded += data.count(_._1.endsWith(".parquet"))
      dataBytes += data.values.sum
      metaBytes += fresh.filter(_._1.startsWith("metadata/")).values.sum
      metaJsonBytes += fresh.filter(_._1.endsWith(".metadata.json")).values.sum
      commits += 1
    }
    before = now
    traced = false
  }

  override def beginMeasured(): Unit = measured = true

  override def afterMeasuredUnit(): Unit = {
    spaceAmps += Disk.bytes(url).toDouble / model.valuesIterator.map(_.bytes).sum
  }

  def writeAmp: Double = if (userBytesWritten == 0) 0.0 else writtenBytes.toDouble / userBytesWritten
  def spaceAmp: Double = Main.median(spaceAmps.toSeq)

  def layerMetrics(ops: Int): Seq[(String, Double, String)] = {
    val n = math.max(commits, 1L).toDouble
    val kinds = Trace.all.filter(_.layer == "writer")
    def perCall(name: String) = {
      val s = kinds.filter(_.name == name)
      if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size
    }
    LayerNames.complete(Map(
      "iceberg.load_ms" -> Trace.perOp("iceberg.load", ops),
      "iceberg.metadata_json_kb" -> metaJsonBytes / n / 1024.0,
      "writer.commit_ms.append" -> perCall("writer.append"),
      "writer.commit_ms.delete" -> perCall("writer.delete"),
      "writer.commit_ms.overwrite" -> perCall("writer.overwrite"),
      "writer.data_files_added" -> filesAdded / n,
      "writer.data_mb" -> dataBytes / n / (1024.0 * 1024.0),
      "writer.metadata_kb" -> metaBytes / n / 1024.0,
      "writer.readback_ms" -> Trace.perOp("writer.readback", ops)))
  }

  def facts: Seq[(String, String)] = Seq(
    "commits_per_round" -> s"$opsPerUnit ($Appends append, 1 deleteRows, 1 overwrite)",
    "base_rows" -> BaseRows.toString,
    "rows_per_append" -> AppendRows.toString,
    "append_kb" -> f"${appends.head.map(_.bytes).sum / 1024.0}%.1f",
    "overwrite_kb" -> f"${overwrite.map(_.bytes).sum / 1024.0}%.1f")

  def sabotage(): Unit = sumOffset = 1L
}
