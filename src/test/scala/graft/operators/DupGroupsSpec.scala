package graft.operators

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components resolution of near-dup pairs into groups. */
class DupGroupsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("chains, stars, and singleton edges resolve to min-id components") {
    // components: {1,2,3,4} (a chain), {10,11,12} (a star), {20,21}
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), // chain with mixed edge direction
      (10L, 11L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.dupGroups(pairs).as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("a long path converges within the iteration bound") {
    // path 0-1-2-…-12: min label must propagate the full diameter
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupGroups(pairs, maxIter = 20).as[(Long, Long)]
      .collect().toMap
    assert(got.size == 13 && got.values.forall(_ == 0L))
  }

  test("empty input yields no groups") {
    assert(Dedup.dupGroups(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0)
  }

  test("reversed, duplicate and self pairs give the same min-id groups") {
    val pairs = Seq(
      (1L, 2L), (2L, 1L), (1L, 2L), // one edge three times, both directions
      (3L, 2L), // joins 3 to {1, 2} from the larger id
      (7L, 7L), // a self pair: its own singleton group
      (9L, 8L), (8L, 8L), (9L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.dupGroups(pairs).as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 8L, 9L -> 8L))
  }

  test("a maxIter below the component's propagation depth fails loudly") {
    // path 0-1-…-12: the seed moves labels one hop, every later round one
    // more, so node 12 settles in round 12 and round 13 confirms it
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[IllegalArgumentException](
      Dedup.dupGroups(pairs, maxIter = 12).collect())
    assert(err.getMessage.contains("did not converge within 12 rounds"), err.getMessage)
    assert(Dedup.dupGroups(pairs, maxIter = 13).as[(Long, Long)]
      .collect().forall(_._2 == 0L))
    intercept[IllegalArgumentException](Dedup.dupGroups(pairs, maxIter = 1))
  }

  /** Spark jobs `body` submits, counted by a SparkListener under a job group
    * of its own. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"dupgroups-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "dupGroups job count")
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("disjoint pairs settle in the seed: one counting round, bounded jobs") {
    val pairs = (0L until 50L).map(i => (2 * i + 1, 2 * i)).toDF("id_a", "id_b")
    val (got, jobs) = jobsOf(Dedup.dupGroups(pairs).as[(Long, Long)].collect())
    assert(got.length == 100 && got.forall { case (id, g) => g == id - id % 2 })
    // one counting round plus the final collect: 12 jobs under AQE, where
    // every shuffle stage and broadcast is a job of its own. With an eager
    // checkpoint and a change-count join per round, and no seed round, the
    // same graph costs 22
    assert(jobs <= 14, s"dupGroups ran $jobs jobs")
  }

  test("decontaminateFuzzy drops near-duplicates of the benchmark set " +
      "(paraphrases exact n-gram decontamination misses), keeps the rest") {
    val bench = Seq(
      (100L, "what is the capital of france and where is it located")
    ).toDF("id", "text")
    val corpus = Seq(
      // light paraphrase: most 3-shingles shared -> Jaccard above 0.5
      (1L, "what is the capital of france and where is it found"),
      // unrelated: survives
      (2L, "entirely different text about cooking pasta at home tonight"),
      // verbatim benchmark copy: Jaccard 1, dropped
      (3L, "what is the capital of france and where is it located"),
      // shares a few words but far below threshold: survives
      (4L, "the capital markets of france closed early where trading halted"),
      // too short to shingle (n=3 needs 3 tokens): can never match, survives
      (5L, "hi there")).toDF("id", "text")
    val kept = Dedup.decontaminateFuzzy(corpus, bench, "text", "id",
        n = 3, threshold = 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 4L, 5L), s"unexpected survivors: $kept")
    // benchmark set living INSIDE the corpus: self-match drops it
    val self = Dedup.decontaminateFuzzy(corpus, corpus.filter($"id" === 2L),
        "text", "id", n = 3, threshold = 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(self == Seq(1L, 3L, 4L, 5L), "a doc must match itself (J = 1)")
  }

  test("bandsForThreshold picks the cheapest banding whose recall clears " +
      "99.9% AT the threshold — the leak-prevention default") {
    // k=64, t=0.5: 32 bands x 2 rows -> recall 1-(1-0.25)^32 = 0.99990;
    // the old 16 x 4 default sat at 1-(1-0.0625)^16 = 0.644
    assert(Dedup.bandsForThreshold(64, 0.5) == 32)
    def recall(k: Int, b: Int, t: Double) =
      1 - math.pow(1 - math.pow(t, k / b), b)
    assert(recall(64, 32, 0.5) >= 0.999)
    assert(recall(64, 16, 0.5) < 0.7, "the r19-flagged gap is real")
    // high thresholds afford wider rows (cheaper): t=0.9 passes at r=4
    // (r=8 sits at 0.989 — just under the bar)
    assert(Dedup.bandsForThreshold(64, 0.9) == 16)
    assert(recall(64, 16, 0.9) >= 0.999)
    // the curve only rises above t, so the bound covers the drop region
    assert(recall(64, 32, 0.7) > recall(64, 32, 0.5))
    // degenerate guard: t=1 pairs collide in every band at any r
    assert(Dedup.bandsForThreshold(64, 1.0) == 1)
    intercept[IllegalArgumentException](Dedup.bandsForThreshold(0, 0.5))
  }
}
