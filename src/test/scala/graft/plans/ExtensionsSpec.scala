package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The count-from-stats optimizer rule: count(*) over a graft-iceberg
  * relation must collapse to a LocalRelation (zero data I/O) and return the
  * manifest-statistics count. */
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

  test("count(*) is answered from manifest stats via LocalRelation") {
    val df = icebergDf.groupBy().count()
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("LocalRelation"), s"expected LocalRelation:\n$optimized")
    assert(!optimized.contains("RelationV2"), s"scan survived:\n$optimized")
    assert(df.collect().head.getLong(0) == 5L)
  }

  test("df.count() action uses the rule and matches a real scan") {
    assert(icebergDf.count() == 5L)
  }

  test("filtered count still scans (rule only fires on bare count)") {
    val df = icebergDf.filter("age > 30").groupBy().count()
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
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("LocalRelation"), s"expected LocalRelation:\n$optimized")
    assert(df.collect().head.toSeq == Seq(10L, 99L, 90L))

    // a STRING min/max must scan (bounds may be truncated)
    val s = spark.read.format("graft-iceberg").load(tmp).agg(max("s"))
    assert(!s.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
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
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("LocalRelation"), s"expected LocalRelation:\n$optimized")
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
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("LocalRelation"), s"rule fired on a shadowed alias:\n$optimized")
    assert(df.collect().head.toSeq == Seq(0L, 6L))

    // sanity: the same aggregate over the genuine base column still
    // answers from metadata
    val base = spark.read.format("graft-iceberg").load(tmp).agg(min("k"), max("k"))
    assert(base.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
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
    assert(!df.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
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
    // before the round-15 guard the rule answered the full table's 100
    val n = t.changelog(from, t.currentSnapshot.snapshotId)
      .filter("_change_type = 'insert'").count()
    assert(n == 50L,
      s"file-subset count must come from the subset's rows, got $n")
    // incremental-range reads are scan-scoped the same way
    val inc = t.incrementalBetween(from, t.currentSnapshot.snapshotId)
    assert(inc.read().count() == 50L)
  }
}
