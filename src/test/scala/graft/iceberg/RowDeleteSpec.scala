package graft.iceberg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Iceberg v2 row-level deletes: position-delete files + merge-on-read.
  * The predicate may split files — matching positions are computed by a
  * distributed metadata-column scan, stored as (file_path, pos) parquet, and
  * anti-joined at read time. */
class RowDeleteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def freshTable: String =
    java.nio.file.Files.createTempDirectory("graft_ice_rowdel").toString + "/tbl"

  val schema = StructType(Seq(
    StructField("k", LongType), StructField("cat", StringType)))

  test("delete a predicate that splits a file; read returns the residual rows") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    // ONE file holding 1..100: any k-range predicate splits it
    IcebergWriter.append(spark, url,
      (1L to 100L).map(i => (i, s"c${i % 3}")).toDF("k", "cat").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.And(Pruning.GtEq("k", 40), Pruning.Lt("k", 60)))

    val t = IcebergTable.load(spark, url)
    assert(t.positionDeleteFiles.nonEmpty, "no position-delete file registered")
    val rows = t.read().as[(Long, String)].collect().map(_._1).sorted
    assert(rows.toSeq == ((1L to 39L) ++ (60L to 100L)))
    assert(t.summary("operation") == "delete")
    assert(t.summary("deleted-records") == "20")
    // stats stay exact through position deletes
    assert(t.countFromStats().contains(80L))
    // time travel: the pre-delete snapshot still shows all rows
    assert(t.snapshotRelative(-1).read().count() == 100)
  }

  test("deleteRows with a 12,001-key IN on one file leaves exactly the other rows") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 20000L).map(i => (i, s"c${i % 3}")).toDF("k", "cat").coalesce(1))
    // the odd keys, some past the table's range: the file splits, and the
    // whole-file test evaluates the negated IN (12,001 NotEq links)
    val keys = (1L to 24001L by 2L).toSeq
    assert(keys.size == 12001)
    IcebergWriter.deleteRows(spark, url, Pruning.In("k", keys))
    val left = IcebergTable.load(spark, url).read().as[(Long, String)].collect()
      .map(_._1).sorted
    assert(left.toSeq == (2L to 20000L by 2L))
  }

  test("mixed delete: whole files drop via v1 entries, split files via positions") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    // two files with disjoint ranges
    IcebergWriter.append(spark, url,
      (1L to 50L).map(i => (i, "a")).toDF("k", "cat").coalesce(1))
    IcebergWriter.append(spark, url,
      (51L to 100L).map(i => (i, "b")).toDF("k", "cat").coalesce(1))
    // deletes ALL of file 1 and part of file 2
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 75))
    val t = IcebergTable.load(spark, url)
    assert(t.liveFiles().size == 1, "fully matching file should be dropped whole")
    assert(t.read().as[(Long, String)].collect().map(_._1).sorted.toSeq == (75L to 100L))
    assert(t.countFromStats().contains(26L))
  }

  test("filtered reads after row-level delete never resurrect rows") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 100L).map(i => (i, s"c${i % 2}")).toDF("k", "cat").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.Eq("cat", "c1"))
    val t = IcebergTable.load(spark, url)
    assert(t.read(filters = Seq(Seq(("cat", "==", "c1")))).count() == 0)
    assert(t.read(filters = Seq(Seq(("k", "<=", 10)))).count() == 5)
    assert(t.read().count() == 50)
  }

  test("deleting from a partitioned table scopes the position scan") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema,
      partitions = Seq("cat" -> "identity"))
    IcebergWriter.append(spark, url,
      (1L to 90L).map(i => (i, s"c${i % 3}")).toDF("k", "cat"))
    // rows with k<10 inside partition c1 only
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.Eq("cat", "c1"), Pruning.Lt("k", 10)))
    val t = IcebergTable.load(spark, url)
    assert(t.read().count() == 87) // k=1,4,7 removed
    assert(t.read(filters = Seq(Seq(("cat", "==", "c1")))).count() == 27)
  }

  test("the batch source applies position deletes (merge-on-read)") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 20L).map(i => (i, "a")).toDF("k", "cat").coalesce(1))
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 5), Pruning.Lt("k", 8)))

    val df = spark.read.format("graft-iceberg").load(url)
    assert(df.count() == 17)
    assert(df.select("k").as[Long].collect().sorted.toSeq ==
      ((1L to 4L) ++ (8L to 20L)))
    // pushed filters compose with the delete filter
    assert(df.filter($"k" >= 3 && $"k" <= 10).select("k").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L, 8L, 9L, 10L))
    // column pruning still works under the appended row-index column
    assert(df.select("cat").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("merge results read through the SQL path catalog (MOR end-to-end)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_morcat").toString
    val url = s"$wh/db/t"
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 10L).map(i => (i, s"old$i")).toDF("k", "cat").coalesce(1))
    IcebergWriter.merge(spark, url,
      Seq((3L, "new3"), (11L, "new11")).toDF("k", "cat"), Seq("k"))

    val cat = s"mor${wh.hashCode.toHexString}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftIcebergPathCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val got = spark.sql(s"SELECT k, cat FROM $cat.db.t ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == ((1L to 10L).filterNot(_ == 3L).map(i => (i, s"old$i")) ++
      Seq((3L, "new3"), (11L, "new11"))).sortBy(_._1))
  }

  test("overwrite of a file with live position deletes never double-subtracts") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 100L).map(i => (i, "a")).toDF("k", "cat").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 21)) // 20 position deletes
    // full-table overwrite removes the data file those deletes target
    IcebergWriter.overwrite(spark, url,
      (201L to 210L).map(i => (i, "b")).toDF("k", "cat").coalesce(1))
    val t = IcebergTable.load(spark, url)
    assert(t.read().count() == 10)
    assert(t.countFromStats().contains(10L)) // was -10 when dead deletes lingered
    assert(t.summary("total-records") == "10")
    assert(t.positionDeleteFiles.isEmpty, "dead position deletes must not survive their target file")
  }

  test("whole-file drop via deleteRows discounts rows its prior deletes already removed") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 100L).map(i => (i, "a")).toDF("k", "cat").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 20)) // 19 position deletes
    IcebergWriter.deleteRows(spark, url, Pruning.LtEq("k", 100)) // file dropped whole
    val t = IcebergTable.load(spark, url)
    assert(t.read().count() == 0)
    assert(t.countFromStats().contains(0L))
    assert(t.summary("deleted-records") == "81") // 100 minus the 19 already gone
    assert(t.summary("total-records") == "0")
    assert(t.positionDeleteFiles.isEmpty)
  }

  test("partial whole-file drop keeps surviving position deletes intact") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    // two files; position deletes land in both, then file 1 drops whole
    IcebergWriter.append(spark, url,
      (1L to 50L).map(i => (i, "a")).toDF("k", "cat").coalesce(1))
    IcebergWriter.append(spark, url,
      (51L to 100L).map(i => (i, "b")).toDF("k", "cat").coalesce(1))
    IcebergWriter.deleteRows(spark, url,
      Pruning.Or(Pruning.Lt("k", 6), Pruning.And(Pruning.GtEq("k", 51), Pruning.Lt("k", 56))))
    IcebergWriter.deleteWhere(spark, url, Pruning.Lt("k", 51)) // drops file 1 whole
    val t = IcebergTable.load(spark, url)
    assert(t.read().as[(Long, String)].collect().map(_._1).sorted.toSeq == (56L to 100L))
    assert(t.countFromStats().contains(45L))
    assert(t.summary("total-records") == "45")
    // file 2's five deletes survive the rewrite; file 1's five are gone
    assert(t.positionDeleteFiles.map(_.recordCount).sum == 5L)
  }

  test("compaction refuses to drop deletes committed after its pin") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url,
      (1L to 100L).map(i => (i, "a")).toDF("k", "cat").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.Lt("k", 11))
    val frozen = IcebergTable.load(spark, url)
    val merged = frozen.read()
    // a delete lands AFTER the pin (simulates a concurrent committer)
    IcebergWriter.deleteRows(spark, url, Pruning.GtEq("k", 91))
    val ex = intercept[java.util.ConcurrentModificationException] {
      val files = IcebergWriter.writeDataFiles(spark, url, frozen, merged.repartition(1))
      IcebergWriter.commitSnapshot(FileSystemOps(spark, url)) { t =>
        IcebergWriter.requireDeletesUnchanged(t, frozen.positionDeleteFiles
          .map(f => frozen.resolvePath(f.filePath)).toSet)
        Some(IcebergWriter.SnapshotUpdate("replace", added = files,
          removed = frozen.liveFiles(), drop = IcebergWriter.ManifestDrop.AllDeletes))
      }
    }
    assert(ex.getMessage.contains("rerun the operation"))
    // the table is uncorrupted: the post-pin delete is still applied
    assert(IcebergTable.load(spark, url).read().count() == 80)
  }
}
