package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{CountingFileSystem, IcebergTable, IcebergWriter, Pruning, TaskFileWriter}

/** Each Hadoop configuration is copied once for its owner: one per table
  * handle, one per scan, one broadcast per write job, none per metadata
  * read, per planned partition, per written file or per decoded delete
  * file, and a read of a loaded handle does not load the table again. A
  * copy is counted by
  * the growth of `Configuration`'s registry of live instances, with the
  * garbage collector drained first; a collection during the measured block
  * can only under-count, so the bounds are upper bounds. */
class ConfCopySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("grp", StringType), StructField("amt", LongType)))

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"g${i % 4}", (i * 7 % 100).toLong)).toDF("id", "grp", "amt")

  /** A table in 4 identity partitions with live position deletes. */
  private def morTable(scheme: String = ""): String = {
    val url = scheme + java.nio.file.Files.createTempDirectory("graft_conf_copy").toString + "/t"
    IcebergWriter.createTable(spark, url, schema, partitions = Seq("grp" -> "identity"))
    IcebergWriter.append(spark, url, rows(0 until 400))
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.Eq("grp", "g1"), Pruning.Lt("amt", 30L)))
    url
  }

  /** `Configuration`'s registry: every live instance, weakly held. */
  private val registry: java.util.Map[_, _] = {
    val f = classOf[Configuration].getDeclaredField("REGISTRY")
    f.setAccessible(true)
    f.get(null).asInstanceOf[java.util.Map[_, _]]
  }

  private def registered: Int = classOf[Configuration].synchronized(registry.size())

  /** Configurations `body` creates. */
  private def copies(body: => Unit): Int = {
    var before = registered
    var stable = 0
    while (stable < 3) { // drain: collections until the count settles
      System.gc()
      Thread.sleep(20)
      val now = registered
      stable = if (now == before) stable + 1 else 0
      before = now
    }
    body
    registered - before
  }

  private def scans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }

  test("planning a MOR read-back of a loaded handle copies the conf at most 2 times " +
      "and reads no table metadata") {
    val confs = CountingFileSystem.Confs :+ ("fs.defaultFS" -> "counting:///")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val url = morTable("counting://")
      val t = IcebergTable.load(spark, url)
      assert(t.positionDeleteFiles.nonEmpty)
      CountingFileSystem.reset()
      val n = copies {
        val df = t.readWhere(Pruning.AlwaysTrue).agg(count(lit(1)), sum("amt"))
        val Seq(scan) = scans(df)
        assert(scan.inputPartitions.nonEmpty)
        scan.readerFactory
      }
      assert(n <= 2, s"planning made $n conf copies")
      val metadataOpens = CountingFileSystem.calls
        .filter(c => c.op == "open" && c.path.endsWith(".metadata.json"))
      assert(metadataOpens.isEmpty, s"planning re-read table metadata: $metadataOpens")
    } finally {
      CountingFileSystem.reset()
      confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("executing a MOR read-back of a partitioned table copies the conf at most 12 times") {
    val url = morTable()
    val t = IcebergTable.load(spark, url)
    val live = (0 until 400).map(i => (i % 4, i * 7 % 100)).filterNot { case (g, amt) =>
      g == 1 && amt < 30
    }
    // the tasks decode the delete file afresh, not from an earlier read
    org.apache.spark.sql.graftbridge.DeleteLoader.clearForTest()
    var got: Seq[(Long, Long)] = Nil
    val n = copies {
      got = t.readWhere(Pruning.AlwaysTrue).agg(count(lit(1)), sum("amt"))
        .as[(Long, Long)].collect().toSeq
    }
    assert(n <= 12, s"the read-back made $n conf copies")
    assert(got == Seq((live.size.toLong, live.map(_._2.toLong).sum)))
  }

  test("a 4-partition append copies the conf at most 4 times") {
    val url = morTable()
    val before = IcebergTable.load(spark, url).read().count()
    val n = copies(IcebergWriter.append(spark, url, rows(1000 until 1400)))
    assert(n <= 4, s"the append made $n conf copies")
    assert(IcebergTable.load(spark, url).read().count() == before + 400)
  }

  test("a write task's spec carries its conf as a broadcast: under 8 KB") {
    val url = morTable()
    val t = IcebergTable.load(spark, url)
    val spec = TaskFileWriter.spec(spark, s"$url/data/x", t.schema,
      TaskFileWriter.Kind.Data(t.iceSchema), TaskFileWriter.partFields(t, t.schema))
    val bytes = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      .serialize(spec).limit()
    assert(bytes < 8 * 1024, s"the spec serializes to $bytes bytes")
  }

  test("a MOR scan's reader factory reads deletes through its parquet delegate's broadcast") {
    val url = morTable()
    val Seq(scan) = scans(IcebergTable.load(spark, url).read())
    val factory = scan.readerFactory
    def fieldsOf[T](o: AnyRef, c: Class[T]): Seq[T] =
      o.getClass.getDeclaredFields.toSeq.filter(f => c.isAssignableFrom(f.getType))
        .map { f => f.setAccessible(true); c.cast(f.get(o)) }
    val Seq(delegate) = fieldsOf(factory,
      classOf[org.apache.spark.sql.connector.read.PartitionReaderFactory])
    val Seq(conf) = fieldsOf(factory, classOf[org.apache.spark.broadcast.Broadcast[_]])
    assert(conf eq delegate.asInstanceOf[ParquetPartitionReaderFactory].broadcastedConf)
  }
}
