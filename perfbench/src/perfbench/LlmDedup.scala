package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.iceberg.IcebergWriter
import graft.operators.Dedup

/** llm-dedup: one op reads the whole corpus through the connector and runs
  * exactDedup, then minhashDedup, then dupGroups on the pairs it found. The
  * generator plants exact copies and one-word edits of chosen documents;
  * every planted pair must come back, and a sample of returned pairs is
  * re-checked with exact Jaccard on the driver. The corpus is one small
  * table (one manifest), so the metadata plane does almost nothing here. */
final class LlmDedup(spark: SparkSession, seed: Long) extends Workload {
  val BaseDocs = 400
  val Exact = 30
  val Near = 30
  val Words = 40
  val Vocab = 4000
  val Threshold = 0.5
  val SampleChecked = 16

  val opsPerUnit = 1
  val warmMin = 3
  val warmMax = 3
  val warmWindow = 1

  private val docs: IndexedSeq[(Long, String)] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    def word() = s"w${Integer.toString(rng.nextInt(Vocab), 36)}"
    val base = (0 until BaseDocs).map(i => (i.toLong, Seq.fill(Words)(word()).mkString(" ")))
    val exact = (0 until Exact).map(j => ((BaseDocs + j).toLong, base(j)._2))
    val near = (0 until Near).map { j =>
      val ws = base(Exact + j)._2.split(" ")
      ws(rng.nextInt(Words)) = s"x${rng.nextInt(1 << 20)}"
      ((BaseDocs + Exact + j).toLong, ws.mkString(" "))
    }
    base ++ exact ++ near
  }
  private val text = docs.toMap

  // planted pairs, smaller id first as minhashDedup reports them
  private var exactPairs: Set[(Long, Long)] =
    (0 until Exact).map(j => (j.toLong, (BaseDocs + j).toLong)).toSet
  private val nearPairs: Set[(Long, Long)] =
    (0 until Near).map(j => ((Exact + j).toLong, (BaseDocs + Exact + j).toLong)).toSet
  private val planted = exactPairs ++ nearPairs

  private def shingles(s: String): Set[String] =
    s.split(" ", -1).sliding(3).map(_.mkString(" ")).toSet
  private def jaccard(a: Long, b: Long): Double = {
    val x = shingles(text(a)); val y = shingles(text(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Connected components of the pair graph, by union-find on the driver. */
  private def components(pairs: Set[(Long, Long)]): Int = {
    val up = scala.collection.mutable.Map.empty[Long, Long]
    def root(x: Long): Long = { val p = up.getOrElseUpdate(x, x); if (p == x) x else root(p) }
    pairs.foreach { case (a, b) => up(root(a)) = root(b) }
    up.keys.map(root).toSet.size
  }

  private var url = ""
  private var userBytes = 0L
  private var pairsOut, recovered = 0L

  def build(dir: String): Unit = {
    url = s"$dir/corpus"
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    IcebergWriter.createTable(spark, url, schema)
    val rows = docs.map { case (id, t) => Row(id, t) }
    IcebergWriter.append(spark, url,
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    userBytes = docs.map(d => 8L + d._2.getBytes("UTF-8").length).sum
  }

  def op(k: Int): Option[String] = {
    val corpus = spark.read.format("graft-iceberg").load(url)
    val copies = Trace.span("operators", "operators.exact")(
      Sources.query(Dedup.exactDedup(corpus, "text", "id").filter(!col("is_canonical"))
        .select("canonical_id", "id"))(_.collect()))
    val pairs = Trace.span("operators", "operators.minhash")(
      Sources.query(Dedup.minhashDedup(corpus, "text", "id", threshold = Threshold)
        .select("id_a", "id_b"))(_.collect()))
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairDf = spark.createDataFrame(
      java.util.Arrays.asList(pairs: _*),
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    val groups = Trace.span("operators", "operators.groups")(
      Sources.query(Dedup.dupGroups(pairDf))(_.collect()))

    if (Trace.on) {
      pairsOut += pairSet.size
      recovered += (planted intersect pairSet).size
    }

    val copySet = copies.map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = planted -- pairSet
    val pick = new SplittableRandom(seed + k)
    val sample = Seq.fill(math.min(SampleChecked, pairs.length))(pairs(pick.nextInt(pairs.length)))
    val badSample = sample.map(r => (r.getLong(0), r.getLong(1)))
      .find { case (a, b) => jaccard(a, b) < Threshold }
    val groupOf = groups.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val groupCount = groupOf.values.toSet.size
    if (copySet != exactPairs)
      Some(s"exactDedup copies differ from the ${exactPairs.size} planted: " +
        s"${(copySet diff exactPairs).size} unexpected, ${(exactPairs diff copySet).size} missing")
    else if (missing.nonEmpty) Some(s"minhashDedup missed ${missing.size} planted pairs")
    else if (badSample.nonEmpty) Some(s"pair ${badSample.get} has exact Jaccard below $Threshold")
    else if (!planted.forall { case (a, b) => groupOf.get(a).exists(groupOf.get(b).contains) })
      Some("dupGroups split a planted pair")
    else if (groupCount != components(pairSet))
      Some(s"dupGroups gave $groupCount groups, expected ${components(pairSet)}")
    else None
  }

  def writeAmp: Double = Disk.bytes(url).toDouble / userBytes
  def spaceAmp: Double = writeAmp

  def layerMetrics(ops: Int): Seq[(String, Double, String)] = {
    val n = math.max(ops, 1).toDouble
    LayerNames.complete(Map(
      "operators.exact_ms" -> Trace.perOp("operators.exact", ops),
      "operators.minhash_ms" -> Trace.perOp("operators.minhash", ops),
      "operators.groups_ms" -> Trace.perOp("operators.groups", ops),
      "operators.pairs_out" -> pairsOut / n,
      "operators.planted_recall" -> recovered / (planted.size * n)))
  }

  def facts: Seq[(String, String)] = Seq(
    "corpus_docs" -> docs.size.toString,
    "words_per_doc" -> Words.toString,
    "planted_exact_pairs" -> Exact.toString,
    "planted_near_pairs" -> Near.toString,
    "corpus_kb" -> f"${userBytes / 1024.0}%.1f")

  def sabotage(): Unit = exactPairs = exactPairs.map { case (a, b) => (a, b + 1) }
}
