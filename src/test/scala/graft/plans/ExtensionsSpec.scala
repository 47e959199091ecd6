package graft.plans

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Aggregates answered from manifest statistics on a session carrying the
  * graft extensions: the DSv2 aggregate pushdown plans count(*), count(c),
  * min and max over a path-read `graft-iceberg` relation as a
  * LocalTableScan (zero data I/O) with the exact answer, and scans when the
  * metadata cannot answer exactly. */
class ExtensionsSpec extends AnyFunSuite {

  import graft.IceQueries.{FixtureDir, FixtureOrig}

  // a dedicated session: extensions are builder-time configuration, and
  // getOrCreate would silently reuse another suite's session — clear first
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private def icebergDf = spark.read.format("graft-iceberg")
    .option("original-url", FixtureOrig).load(FixtureDir)

  private def executedPlan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Answered from metadata: a LocalTableScan and no data scan. */
  private def assertFromMetadata(df: DataFrame): Unit = {
    val plan = executedPlan(df)
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"expected a LocalTableScan without a BatchScan:\n$plan")
  }

  private def assertScans(df: DataFrame): Unit = {
    val plan = executedPlan(df)
    assert(plan.contains("BatchScan") && !plan.contains("LocalTableScan"),
      s"expected a data scan:\n$plan")
  }

  test("count(*) is answered from manifest stats via LocalTableScan") {
    val df = icebergDf.groupBy().count()
    assertFromMetadata(df)
    assert(df.collect().head.getLong(0) == 5L)
  }

  test("df.count() action uses the pushdown and matches a real scan") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(name -> qe.executedPlan.toString)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(icebergDf.count() == 5L)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val counted = plans.toArray.toSeq.collect { case ("count", p: String) => p }
    assert(counted.size == 1, s"one count action expected: $counted")
    assert(counted.head.contains("LocalTableScan") && !counted.head.contains("BatchScan"),
      s"df.count() must answer from metadata:\n${counted.head}")
  }

  test("filtered count still scans (pushdown only fires on bare count)") {
    val df = icebergDf.filter("age > 30").groupBy().count()
    assertScans(df)
    assert(df.collect().head.getLong(0) == 2L) // correct, via real scan
  }

  test("min/max over exact-bounds columns answer from file bounds") {
    import org.apache.spark.sql.functions.{count, max, min}
    val tmp = java.nio.file.Files.createTempDirectory("graft_mmx").toString + "/t"
    import graft.iceberg.IcebergWriter
    import spark.implicits._
    IcebergWriter.createTable(spark, tmp,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType))))
    IcebergWriter.append(spark, tmp, (10L to 50L).map(i => (i, s"v$i")).toDF("k", "s"))
    IcebergWriter.append(spark, tmp, (51L to 99L).map(i => (i, s"v$i")).toDF("k", "s"))
    val df = spark.read.format("graft-iceberg").load(tmp)
      .agg(min("k"), max("k"), count(org.apache.spark.sql.functions.lit(1)))
    assertFromMetadata(df)
    assert(df.collect().head.toSeq == Seq(10L, 99L, 90L))

    // a STRING min/max must scan (bounds may be truncated)
    val s = spark.read.format("graft-iceberg").load(tmp).agg(max("s"))
    assertScans(s)
    assert(s.collect().head.getString(0) == "v99")
  }

  test("count(col) answers non-null counts from value/null statistics") {
    import org.apache.spark.sql.functions.count
    val tmp = java.nio.file.Files.createTempDirectory("graft_cc").toString + "/t"
    import graft.iceberg.IcebergWriter
    import spark.implicits._
    IcebergWriter.createTable(spark, tmp,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType))))
    IcebergWriter.append(spark, tmp,
      (1L to 20L).map(i => (i, if (i % 4 == 0) null else s"v$i")).toDF("k", "s"))
    IcebergWriter.append(spark, tmp,
      (21L to 30L).map(i => (i, null: String)).toDF("k", "s"))
    val df = spark.read.format("graft-iceberg").load(tmp).agg(count("s"))
    assertFromMetadata(df)
    assert(df.collect().head.getLong(0) == 15L) // 20 - 5 nulls, second file all null
  }

  test("aliased computed column shadowing a base column bails to a real scan") {
    import org.apache.spark.sql.functions.{col, lit, max, min, pmod}
    val tmp = java.nio.file.Files.createTempDirectory("graft_mmx3").toString + "/t"
    import graft.iceberg.IcebergWriter
    import spark.implicits._
    IcebergWriter.createTable(spark, tmp,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
    IcebergWriter.append(spark, tmp, (10L to 50L).map(i => Tuple1(i)).toDF("k"))
    // "k" now names a Project alias (new exprId) over k % 7 — answering
    // min/max from the BASE column's file bounds (10/50) would be wrong
    val df = spark.read.format("graft-iceberg").load(tmp)
      .withColumn("k", pmod(col("k"), lit(7L)))
      .agg(min("k"), max("k"))
    assertScans(df)
    assert(df.collect().head.toSeq == Seq(0L, 6L))

    // sanity: the same aggregate over the genuine base column still
    // answers from metadata
    val base = spark.read.format("graft-iceberg").load(tmp).agg(min("k"), max("k"))
    assertFromMetadata(base)
    assert(base.collect().head.toSeq == Seq(10L, 50L))
  }

  test("min/max bail under row-level deletes (the extreme row may be gone)") {
    import org.apache.spark.sql.functions.max
    val tmp = java.nio.file.Files.createTempDirectory("graft_mmx2").toString + "/t"
    import graft.iceberg.{IcebergWriter, Pruning}
    import spark.implicits._
    IcebergWriter.createTable(spark, tmp,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType))))
    IcebergWriter.append(spark, tmp,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "s").coalesce(1))
    IcebergWriter.deleteRows(spark, tmp, Pruning.Eq("k", 100L))
    val df = spark.read.format("graft-iceberg").load(tmp).agg(max("k"))
    assertScans(df)
    assert(df.collect().head.getLong(0) == 99L) // correct, via the MOR scan
  }

  test("scan-scoped relations never answer from full-table metadata: " +
      "count(*) over a changelog frame counts the COMMIT's rows") {
    import graft.iceberg.{IcebergTable, IcebergWriter}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_scoped").toString + "/t"
    IcebergWriter.createTable(spark, tmp,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
    IcebergWriter.append(spark, tmp,
      (1L to 50L).map(i => (i, "a")).toDF("k", "v").coalesce(1))
    val from = IcebergTable.load(spark, tmp).currentSnapshot.snapshotId
    IcebergWriter.append(spark, tmp,
      (51L to 100L).map(i => (i, "b")).toDF("k", "v").coalesce(1))
    val t = IcebergTable.load(spark, tmp)
    // the changelog frame scans ONLY commit 2's file (a file-subset read);
    // answering from metadata would return the full table's 100
    val changes = t.changelog(from, t.currentSnapshot.snapshotId)
      .filter("_change_type = 'insert'")
    assertScans(changes.groupBy().count())
    val n = changes.count()
    assert(n == 50L,
      s"file-subset count must come from the subset's rows, got $n")
    // an incremental-range handle answers from the RANGE's own metadata
    // (its appended files' record counts), never the full table's
    val inc = t.incrementalBetween(from, t.currentSnapshot.snapshotId)
    assertFromMetadata(inc.read().groupBy().count())
    assert(inc.read().count() == 50L)
  }
}
