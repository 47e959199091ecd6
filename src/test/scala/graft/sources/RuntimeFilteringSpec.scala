package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graftbridge.{MorMembers, ScanBridge}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.{IcebergWriter, Pruning}

/** Runtime (dynamic partition) filtering on the DSv2 scan
  * ([[GraftIcebergScan.filter]]): a join against a filtered dimension
  * narrows the fact scan's file set at EXECUTION time, before any fact
  * bytes are read. */
class RuntimeFilteringSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // deterministic planning for the plan-shape assertions
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("a dim-join runtime filter prunes fact files before execution") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val factUrl = s"$dir/fact"
    // identity-partitioned fact: one file per category
    IcebergWriter.createTable(spark, factUrl, StructType(Seq(
      StructField("k", LongType), StructField("cat", StringType))),
      partitions = Seq(("cat", "identity")))
    IcebergWriter.append(spark, factUrl,
      (1L to 80L).map(i => (i, s"c${i % 8}")).toDF("k", "cat"))

    // DPP plans only when the build side carries a SELECTIVE predicate over
    // a real relation (a bare LocalRelation folds away) — write the dim out
    val dimPath = s"$dir/dim"
    (0 until 8).map(i => (s"c$i", if (i == 1 || i == 2) "keep" else "drop"))
      .toDF("cat", "tag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"tag" === "keep")
    val fact = spark.read.format("graft-iceberg").load(factUrl)
    val joined = fact.join(dim, "cat")

    // collect `joined` itself: plan inspection below must target the SAME
    // QueryExecution that ran (a derived Dataset plans its own scan)
    val rows = joined.collect().map(_.getAs[Long]("k")).sorted
    assert(rows.toSeq == (1L to 80L).filter(i => i % 8 == 1 || i % 8 == 2))

    // the executed plan's scan must have been narrowed to the 2 joined
    // categories' files (8 files total, one per category)
    val scans = joined.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    val graftScan = scans.collectFirst { case s: GraftIcebergScan => s }
    assert(graftScan.isDefined, s"no graft scan in plan: $scans")
    assert(graftScan.get.scanFiles.size == 2,
      s"runtime filter kept ${graftScan.get.scanFiles.size} files, expected 2")
    assert(plannedFiles(graftScan.get).size == 2,
      s"the narrowed scan plans tasks over ${plannedFiles(graftScan.get)}")
  }

  /** The distinct data files the scan's tasks read, as Spark re-plans them
    * after runtime filtering. */
  private def plannedFiles(scan: GraftIcebergScan): Set[String] =
    scan.planInputPartitions().toSeq.flatMap {
      case p: ScanBridge.MorFilePartition => MorMembers(p).map(_.path)
      case p: FilePartition => p.files.toSeq.map(_.filePath.toString)
    }.toSet

  test("a runtime filter prunes a fact table with position deletes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp_mor").toString
    val factUrl = s"$dir/fact"
    IcebergWriter.createTable(spark, factUrl, StructType(Seq(
      StructField("k", LongType), StructField("cat", StringType))),
      partitions = Seq(("cat", "identity")))
    IcebergWriter.append(spark, factUrl,
      (1L to 80L).map(i => (i, s"c${i % 8}")).toDF("k", "cat"))
    // deletes in a joined category (c1), the other joined one (c2) and a
    // pruned one (c3): the merge-on-read scan keeps its per-file state
    val deleted = Seq(9L, 17L, 10L, 11L)
    IcebergWriter.deleteRows(spark, factUrl, Pruning.In("k", deleted))

    val dimPath = s"$dir/dim"
    (0 until 8).map(i => (s"c$i", if (i == 1 || i == 2) "keep" else "drop"))
      .toDF("cat", "tag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"tag" === "keep")
    val joined = spark.read.format("graft-iceberg").load(factUrl).join(dim, "cat")

    val rows = joined.collect().map(_.getAs[Long]("k")).sorted
    assert(rows.toSeq == (1L to 80L)
      .filter(i => (i % 8 == 1 || i % 8 == 2) && !deleted.contains(i)))
    val graftScan = joined.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftIcebergScan] =>
        b.scan.asInstanceOf[GraftIcebergScan]
    }
    assert(graftScan.isDefined, "no graft scan in plan")
    assert(graftScan.get.scanFiles.size == 2,
      s"runtime filter kept ${graftScan.get.scanFiles.size} files, expected 2")
    assert(graftScan.get.planInputPartitions().forall(_.isInstanceOf[ScanBridge.MorFilePartition]),
      "the fact scan reads through the merge-on-read path")
    assert(plannedFiles(graftScan.get).size == 2,
      s"the narrowed scan plans tasks over ${plannedFiles(graftScan.get)}")
  }

  test("a runtime filter prunes a key-grouped fact scan") {
    val confs = Seq("spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.graft.iceberg.preserveDataGrouping" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_dpp_keyed").toString
      val factUrl = s"$dir/fact"
      IcebergWriter.createTable(spark, factUrl, StructType(Seq(
        StructField("k", LongType), StructField("cat", StringType))),
        partitions = Seq(("cat", "identity")))
      IcebergWriter.append(spark, factUrl,
        (1L to 80L).map(i => (i, s"c${i % 8}")).toDF("k", "cat"))
      val dimPath = s"$dir/dim"
      (0 until 8).map(i => (s"c$i", if (i == 1 || i == 2) "keep" else "drop"))
        .toDF("cat", "tag").write.parquet(dimPath)
      val dim = spark.read.parquet(dimPath).filter($"tag" === "keep")
      val joined = spark.read.format("graft-iceberg").load(factUrl).join(dim, "cat")

      val rows = joined.collect().map(_.getAs[Long]("k")).sorted
      assert(rows.toSeq == (1L to 80L).filter(i => i % 8 == 1 || i % 8 == 2))
      val graftScan = joined.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftIcebergScan] =>
          b.scan.asInstanceOf[GraftIcebergScan]
      }.get
      assert(graftScan.outputPartitioning()
        .isInstanceOf[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
      assert(graftScan.scanFiles.size == 2)
      // one partition per kept category, none for the pruned six
      assert(graftScan.planInputPartitions().length == 2)
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("correctness is unchanged when the runtime filter prunes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp2").toString
    val factUrl = s"$dir/fact"
    IcebergWriter.createTable(spark, factUrl, StructType(Seq(
      StructField("k", LongType), StructField("cat", StringType))),
      partitions = Seq(("cat", "identity")))
    IcebergWriter.append(spark, factUrl,
      (1L to 40L).map(i => (i, s"c${i % 4}")).toDF("k", "cat"))
    val dim = (0 until 4).map(i => (s"c$i", i)).toDF("cat", "n")
    val joined = spark.read.format("graft-iceberg").load(factUrl).join(dim, "cat")
    assert(joined.count() == 40)
  }
}
