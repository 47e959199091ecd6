package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinHashSignature
import graft.iceberg.IcebergWriter

/** Executed-plan shape of the dedup operators: how often the corpus is
  * scanned and shuffled, and how often the MinHash kernel runs per row. */
class DedupPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private lazy val rows = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"),
    (3L, "the quick brown fox jumps over the lazy cat today"),
    (4L, "an entirely different sentence about cooking pasta at home"),
    (5L, "an entirely different sentence about cooking pasta at home"))

  /** The same corpus through the engine's own connector and through
    * Spark's parquet source. */
  private lazy val corpora: Seq[(String, DataFrame)] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_plan").toString
    val df = rows.toDF("id", "text")
    IcebergWriter.createTable(spark, s"$dir/ice", df.schema)
    IcebergWriter.append(spark, s"$dir/ice", df)
    df.write.parquet(s"$dir/parquet")
    Seq("graft-iceberg" -> spark.read.format("graft-iceberg").load(s"$dir/ice"),
      "parquet" -> spark.read.parquet(s"$dir/parquet"))
  }

  /** Runs `df` and returns its final executed plan. */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def scans(p: SparkPlan) =
    collect(p) { case s: BatchScanExec => s; case s: FileSourceScanExec => s }.size
  private def shuffles(p: SparkPlan) = collect(p) { case e: ShuffleExchangeLike => e }.size
  private def reused(p: SparkPlan) = collect(p) { case r: ReusedExchangeExec => r }.size

  test("exactDedup scans and shuffles the corpus once, filtered or not: the " +
      "group aggregation reuses the probe side's exchange") {
    corpora.foreach { case (source, docs) =>
      val forms = Seq(
        "unfiltered" -> Dedup.exactDedup(docs, "text", "id"),
        "filtered" -> Dedup.exactDedup(docs, "text", "id")
          .filter(!col("is_canonical")).select("canonical_id", "id"))
      forms.foreach { case (form, df) =>
        val p = executed(df)
        assert((scans(p), shuffles(p), reused(p)) == ((1, 1, 1)),
          s"$source $form: (scans, exchanges, reused exchanges):\n$p")
      }
      val copies = Dedup.exactDedup(docs, "text", "id")
        .filter(!col("is_canonical")).select("canonical_id", "id")
        .as[(Long, Long)].collect().sorted.toSeq
      assert(copies == Seq(1L -> 2L, 4L -> 5L), source)
    }
  }

  test("exactDedup's is_canonical keeps `id = canonical_id` semantics, nulls " +
      "included") {
    val docs = Seq((Some(1L), "a b c"), (None, "a b c"), (None, "x y z"))
      .toDF("id", "text")
    val got = Dedup.exactDedup(docs, "text", "id")
      .select("id", "canonical_id", "is_canonical")
      .as[(Option[Long], Option[Long], Option[Boolean])].collect().toSet
    assert(got == Set((Some(1L), Some(1L), Some(true)),
      (None, Some(1L), None), (None, None, None)))
  }

  private def minhashOperators(p: SparkPlan) = collect(p) {
    case n if n.expressions.exists(_.exists(_.isInstanceOf[MinHashSignature])) => n
  }

  test("the MinHash signature is evaluated by one operator per input: no " +
      "inferred filter re-runs it") {
    val docs = corpora.head._2
    val p = executed(Dedup.minhashDedup(docs, "text", "id"))
    assert(minhashOperators(p).size == 1, s"minhashDedup:\n$p")
    // corpus side and benchmark side each compute their own signatures
    val d = executed(Dedup.decontaminateFuzzy(docs, docs.filter(col("id") === 3L),
      "text", "id"))
    assert(minhashOperators(d).size == 2, s"decontaminateFuzzy:\n$d")
  }
}
