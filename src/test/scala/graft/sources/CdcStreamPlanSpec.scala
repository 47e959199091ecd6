package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{CountingFileSystem, IcebergTable, IcebergWriter, Pruning}

/** A CDC stream plans each micro-batch once: Spark asks for the partitions
  * of one batch several times, and the stream answers every ask after the
  * first without reloading the table, planning against the state the
  * batch's trigger already loaded. */
class CdcStreamPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  /** Runs `body` on a table directory of the `counting` scheme. */
  private def withCountingFs[T](body: String => T): T = {
    val confs = CountingFileSystem.Confs :+ ("fs.defaultFS" -> "counting:///")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body("counting://" + java.nio.file.Files.createTempDirectory("graft_cdc_plan"))
    finally {
      CountingFileSystem.reset()
      confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  /** Appends, position deletes on surviving files, an upsert (equality
    * delete) and a second position-delete commit; the snapshot to stream
    * from. */
  private def writeHistory(url: String): Long = {
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    val from = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url,
      (41L to 60L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 10L), Pruning.Lt("k", 25L)))
    IcebergWriter.upsert(spark, url,
      Seq((30L, "u30"), (99L, "u99")).toDF("k", "v").coalesce(1), Seq("k"))
    IcebergWriter.deleteRows(spark, url, Pruning.Eq("k", 50L))
    from
  }

  test("each micro-batch of a CDC stream opens the metadata JSON once") {
    withCountingFs { dir =>
      val url = s"$dir/tbl"
      val from = writeHistory(url)
      val opts = new CaseInsensitiveStringMap(Map("stream-mode" -> "cdc",
        "starting-snapshot-id" -> from.toString,
        "max-snapshots-per-trigger" -> "1").asJava)
      val stream = new GraftIcebergV2Table(IcebergTable.load(spark, url), cdcMode = true)
        .newScanBuilder(opts).build()
        .toMicroBatchStream(java.nio.file.Files.createTempDirectory("graft_cdc_ckpt").toString)
      val admission = stream.asInstanceOf[SupportsAdmissionControl]
      var start = stream.initialOffset()
      var batches = 0
      var done = false
      while (!done) {
        CountingFileSystem.reset()
        val end = admission.latestOffset(start, admission.getDefaultReadLimit)
        if (end == start) done = true
        else {
          // Spark's own count of asks for one batch's partitions
          val plans = (1 to 6).map(_ => stream.planInputPartitions(start, end))
          stream.createReaderFactory()
          val opens = CountingFileSystem.calls
            .filter(c => c.op == "open" && c.path.endsWith(".metadata.json"))
          assert(opens.size == 1, s"batch $batches opened ${opens.map(_.path)}")
          assert(plans.head.nonEmpty)
          assert(plans.forall(_ sameElements plans.head))
          batches += 1
          start = end
        }
      }
      assert(batches == 4, "one batch per snapshot after the start")
    }
  }
}
