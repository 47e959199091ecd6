package graft.iceberg

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under the `failing://` scheme whose reads and
  * listings throw, standing in for an unreachable or unreadable store. */
class FailingFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failing:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    throw new java.io.IOException(s"injected read failure: $f")
  override def listStatus(f: Path): Array[FileStatus] =
    throw new java.io.IOException(s"injected listing failure: $f")
}

/** "No such table" is its own typed error; an I/O failure while resolving a
  * table's version is reported as itself, never as a missing table. */
class TableNotFoundSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val failingConf = Seq(
    "fs.failing.impl" -> classOf[FailingFileSystem].getName,
    "fs.failing.impl.disable.cache" -> "true")

  test("a missing table, or an empty metadata directory, is " +
      "TableNotFoundException naming the table") {
    val dir = Files.createTempDirectory("graft_no_table")
    val absent = dir.resolve("absent").toString
    val empty = dir.resolve("empty").toString
    Files.createDirectories(Paths.get(empty, "metadata"))
    Seq(absent, empty).foreach { url =>
      assert(IcebergTable.versionHint(url, new Configuration()) == 0)
      val e = intercept[IcebergTable.TableNotFoundException](
        IcebergTable.load(spark, url))
      assert(e.url == url && e.getMessage.contains(url), e.getMessage)
      assert(!e.getMessage.contains("v0"), e.getMessage)
    }
  }

  test("an I/O error while resolving the version propagates as itself") {
    val conf = new Configuration()
    failingConf.foreach { case (k, v) => conf.set(k, v) }
    val e = intercept[java.io.IOException](
      IcebergTable.versionHint("failing:///warehouse/t", conf))
    assert(!e.isInstanceOf[java.io.FileNotFoundException], e.toString)
    assert(e.getMessage.contains("injected"), e.getMessage)

    failingConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val l = intercept[java.io.IOException](
        IcebergTable.load(spark, "failing:///warehouse/t"))
      assert(!l.isInstanceOf[IcebergTable.TableNotFoundException], l.toString)
      assert(l.getMessage.contains("injected"), l.getMessage)
    } finally failingConf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a missing or half-written version hint still falls back to the " +
      "metadata directory scan") {
    val url = Files.createTempDirectory("graft_hint").resolve("t").toString
    IcebergWriter.createTable(spark, url, StructType(Seq(StructField("id", LongType))))
    val latest = IcebergTable.versionHint(url, new Configuration())
    assert(latest > 0)
    val hint = Paths.get(url, "metadata", "version-hint.text")
    Files.write(hint, Array.emptyByteArray) // caught mid-rewrite
    assert(IcebergTable.versionHint(url, new Configuration()) == latest)
    Files.delete(hint)
    assert(IcebergTable.versionHint(url, new Configuration()) == latest)
    assert(IcebergTable.load(spark, url).version == latest)
  }
}
