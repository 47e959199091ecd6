package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{SimHash, TextFunctions => TF}

/** Deduplication operators for LLM training-data pipelines.
  *
  * Every operator is a pure DataFrame→DataFrame transform: no driver-side
  * collection, shuffle keys chosen so the candidate-generation stage is the
  * only O(n·b) shuffle and verification touches candidate pairs only — the
  * standard shingle→MinHash→band→bucket-join shape that scales to 100 TB.
  */
object Dedup {

  /** Exact dedup bookkeeping: every row annotated with its content-group
    * size and whether it is the canonical (minimum-id) copy. Filtering
    * `is_canonical` yields the deduplicated corpus.
    *
    * The shuffle is keyed by a 128-bit content fingerprint (two independent
    * xxhash64 seeds), projected BEFORE the exchange — at 100 TB the shuffle
    * moves 24 bytes per row instead of the documents themselves. Collision
    * odds at 128 bits are ~n²/2¹²⁹ (negligible below ~10¹⁵ docs). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // ONE explicit exchange on the fingerprint, shared by the group
    // aggregation and the join probe (ReusedExchange), so the corpus is
    // scanned and its text hashed once, with or without a caller's filter
    // on is_canonical (DedupPlanSpec pins both). Group stats via
    // aggregation + join, NOT an aggregate window: a hash aggregate
    // streams the Zipf-head content group as one counter where a window
    // task would buffer (and sort) its whole occurrence list.
    val keyed = df.select(col(idCol),
      xxhash64(col(textCol)).as("_h1"),
      xxhash64(lit(0x9747b28c), col(textCol)).as("_h2"))
      .repartition(col("_h1"), col("_h2"))
    val groups = keyed.groupBy(col("_h1"), col("_h2"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("canonical_id"))
    keyed.join(groups, Seq("_h1", "_h2"))
      // null-safe form of `id = canonical_id` (a null id still gives null,
      // and a non-null id's group always has a non-null min). A plain `=`
      // lets Catalyst infer IsNotNull(id) from a caller's filter on
      // is_canonical and push it into the probe side's scan only; the two
      // exchange subtrees then differ, and the corpus is scanned, hashed
      // and shuffled twice
      .withColumn("is_canonical",
        when(col(idCol).isNotNull, col(idCol) <=> col("canonical_id")))
      .select(col(idCol), col("n_copies"), col("canonical_id"), col("is_canonical"))
  }

  /** Exact Jaccard near-duplicate pairs over word n-gram shingles — the
    * ground-truth quadratic version (use for verification / small inputs;
    * the scalable path is [[minhashDedup]]). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = df.select(col(idCol).as("id"), TF.wordShingles(col(textCol), n).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard", TF.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash + LSH near-duplicate detection:
    * shingle → k-wide MinHash signature → `bands` band-hashes → explode →
    * self-join on (band, bucket) → distinct candidate pairs → verify with
    * exact Jaccard on the shingle arrays.
    *
    * Only candidates sharing an LSH bucket are verified, so the shuffle
    * volume is O(rows × bands) and verification is O(candidates) — no
    * quadratic stage. Output equals [[ngramJaccardPairs]] up to LSH recall
    * (≥ 0.999 for J ≥ 0.8 with k=64, bands=16). */
  def minhashDedup(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 2000): DataFrame = {
    // NOTE (r21, measured): the shingle table feeds three consumers (the
    // signature pipeline and both exact-verify join sides), so the corpus
    // is scanned and re-shingled three times. Materializing `sh` behind an
    // id-keyed exchange was tried and REVERTED: shuffling the exploded
    // shingle arrays (~2.5× the corpus bytes, write + read) costs more
    // than re-scanning columnar-compressed text — measured 1.4 s → 2.9 s
    // at sf0.1, and the same byte math holds at 100 TB (300 TB of scans
    // beats 100 TB scan + 500 TB of shuffle traffic). decontaminateFuzzy
    // materializes its corpus side because there the SAME exchange also
    // feeds candidate generation; here candidates flow through `sig`.
    val sh = df.select(col(idCol).as("id"), TF.wordShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    // r22 FUSION (guide §2.4): candidate generation is ONE exchange. The
    // old shape shuffled the banded rows separately for each of four
    // consumers (bucket-size aggregation, its semi-join probe, both
    // self-join sides) — four replays of the shingle+MinHash pipeline
    // behind a shared exchange and ~8 extra AQE stages — and the cap was
    // enforced by an extra count aggregation + semi-join. Grouping the
    // member ids per (band, bucket) with a memory-BOUNDED capped collect
    // produces the identical pair set from a single shuffle: the cap
    // filter drops overflowing groups exactly like the old `_bsz <= cap`
    // semi-join (members still pair up via their other, more selective
    // bands), kept groups carry their EXACT member set (truncation only
    // starts past cap+1), and no aggregation buffer can balloon on the
    // Zipf-degenerate bucket the cap exists for.
    val buckets = sh
      .withColumn("sig", graft.functions.MinHash.minhash(col("sh"), k))
      .withColumn("bands", TF.lshBands(col("sig"), k, bands))
      // explode_outer, not explode: for an inner explode Catalyst infers
      // `size(bands) > 0` and pushes it below the projection, where it
      // evaluates the whole shingle + MinHash pipeline a second time in a
      // separate Filter. lshBands never yields an empty or null array, so
      // the rows are the same.
      .select(col("id"), explode_outer(col("bands")).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = bucketPairs(buckets, maxBucketSize)
    cand.join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", TF.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Buffer for [[CappedCollect]] — the size rides along explicitly
    * because `List.length` is O(n) and a Zipf-degenerate bucket would turn
    * every reduce call into a linear walk. */
  final case class CapBuf[T](n: Int, ids: List[T])
  /** [[CappedCollect]] output, wrapped so the plain product encoder
    * applies (callers read the `ids` field). */
  final case class Members[T](ids: Seq[T])

  /** `collect_list` with a HARD per-group memory bound: keeps at most
    * `cap` + 1 members — enough to prove a group exceeds the cap without
    * ever buffering a degenerate bucket whole (built-in collect_list
    * buffers unbounded; a window would additionally sort the full
    * occurrence list in one task). Groups that never overflow are EXACT:
    * truncation only starts past cap+1 members, and the caller drops
    * every group reporting more than `cap`, so a truncated group is by
    * definition a dropped group. Partial aggregation still applies —
    * map-side buffers obey the same bound. Generic over the member type
    * (bare ids for MinHash banding, (id, hash) for SimHash) so the
    * overflow-proof cap logic exists exactly once. */
  private final class CappedCollect[T: scala.reflect.runtime.universe.TypeTag](
      cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[T, CapBuf[T], Members[T]] {
    def zero: CapBuf[T] = CapBuf(0, Nil)
    def reduce(b: CapBuf[T], a: T): CapBuf[T] =
      if (b.n > cap) b else CapBuf(b.n + 1, a :: b.ids)
    def merge(x: CapBuf[T], y: CapBuf[T]): CapBuf[T] =
      if (x.n > cap) x
      else if (y.n > cap) y
      else if (x.n + y.n > cap + 1)
        CapBuf(cap + 1, (x.ids ::: y.ids).take(cap + 1))
      else CapBuf(x.n + y.n, x.ids ::: y.ids)
    def finish(b: CapBuf[T]): Members[T] = Members(b.ids)
    def bufferEncoder: org.apache.spark.sql.Encoder[CapBuf[T]] =
      org.apache.spark.sql.Encoders.product[CapBuf[T]]
    def outputEncoder: org.apache.spark.sql.Encoder[Members[T]] =
      org.apache.spark.sql.Encoders.product[Members[T]]
  }

  /** Shared tail of the fused candidate generation: capped member arrays
    * per (band, bucket) group ([[CappedCollect]] over `memberCols` — a
    * tuple-input typed aggregator takes its fields as separate
    * parameters), degenerate buckets dropped. */
  private def groupedMembers(buckets: DataFrame, maxBucketSize: Int,
      agg: org.apache.spark.sql.expressions.UserDefinedFunction,
      memberCols: Column*): DataFrame =
    buckets.groupBy(col("band"), col("bucket"))
      .agg(agg(memberCols: _*).as("_m"))
      .select(col("_m.ids").as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
      .select(array_sort(col("ids")).as("ids"))

  /** All i<j pairs of each group's SORTED member array via nested array
    * transforms (bounded by the cap, so at most cap²/2 pairs materialize
    * per kept bucket) + one explode; `pair` builds the emitted struct
    * from the two members. */
  private def pairFanout(groups: DataFrame,
      pair: (Column, Column) => Column): DataFrame =
    groups.select(explode(flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + lit(2), size(col("ids"))),
        y => pair(x, y))))).as("p"))

  /** Bucket membership rows `(id, band, bucket)` → `(band, bucket, ids)`
    * for every bucket of at most `maxBucketSize` members, in ONE hash
    * aggregation (capped per-group state — see [[CappedCollect]]). This
    * replaces the old size-aggregation + semi-join pair, which cost two
    * extra shuffles/stages per use and re-shuffled every membership row. */
  private[operators] def groupedBucketMembers(buckets: DataFrame,
      maxBucketSize: Int): DataFrame = {
    val capped = udaf(new CappedCollect[Long](maxBucketSize))
    buckets.groupBy(col("band"), col("bucket"))
      .agg(capped(col("id")).as("_m"))
      .select(col("band"), col("bucket"), col("_m.ids").as("ids"))
      .filter(size(col("ids")) <= maxBucketSize)
  }

  /** Distinct candidate pairs (id_a < id_b) within each (band, bucket)
    * group, degenerate buckets dropped; cross-band duplicates dedup at
    * the end — the same pair set the old bucket self-join produced,
    * without the join's second shuffle. The strict `id_a < id_b` filter
    * also drops self-pairs a duplicate-id input would otherwise produce
    * (two rows sharing an id land adjacent in the sorted array), exactly
    * like the old join's `x.id < y.id` condition. */
  private[operators] def bucketPairs(buckets: DataFrame,
      maxBucketSize: Int): DataFrame = {
    val capped = udaf(new CappedCollect[Long](maxBucketSize))
    val g = groupedMembers(buckets, maxBucketSize, capped, col("id"))
    pairFanout(g, (x, y) => struct(x.as("id_a"), y.as("id_b")))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  /** Band count giving LSH recall ≥ `minRecall` AT the decision threshold:
    * with `r = k / bands` signature rows per band, a pair at Jaccard `t`
    * collides in at least one band with probability `1 − (1 − t^r)^bands`
    * — the S-curve every banding scheme trades on. Returns the FEWEST
    * bands (largest `r`, cheapest candidate generation) whose curve still
    * clears `minRecall` at `t` exactly; recall above `t` is strictly
    * higher, so the bound covers the whole drop-region. For the defaults
    * (k = 64, t = 0.5, 99.9 %) this picks 32 bands × 2 rows — recall
    * 0.99990 at the threshold itself, where 16 × 4 banding would leave a
    * borderline pair only a 64 % chance of ever becoming a candidate. */
  def bandsForThreshold(k: Int, threshold: Double,
      minRecall: Double = 0.999): Int = {
    require(k >= 1 && threshold > 0 && threshold <= 1 &&
      minRecall > 0 && minRecall < 1, "need k >= 1, t in (0,1], recall in (0,1)")
    var best = k // r = 1: bands = k, the maximum-recall endpoint
    var r = 1
    while (r <= k) {
      if (k % r == 0) {
        val b = k / r
        if (1 - math.pow(1 - math.pow(threshold, r), b) >= minRecall) best = b
      }
      r += 1
    }
    best
  }

  /** FUZZY decontamination: drop every corpus document NEAR-DUPLICATE to
    * any benchmark/eval document — the near-dup analogue of
    * [[Corpus.decontaminate]]'s exact n-gram overlap (a lightly
    * paraphrased eval question shares few exact 5-grams but most of its
    * shingle set; this is the leak exact matching misses). Candidates come
    * from a MinHash-LSH bucket join ACROSS the two sets, then exact
    * shingle-Jaccard verification at `threshold`; matched corpus ids are
    * anti-joined away. A benchmark document that itself appears in the
    * corpus matches itself (Jaccard 1) and is dropped.
    *
    * RECALL contract: this is a LEAK-PREVENTION operator, so `bands = 0`
    * (the default) derives the banding from the threshold via
    * [[bandsForThreshold]] — ≥ 99.9 % candidate recall for a pair AT the
    * threshold exactly (k = 64, t = 0.5 → 32 bands × 2 rows; recall only
    * rises above t). A caller pinning `bands` explicitly owns the curve:
    * e.g. 16 bands × 4 rows gives ~64 % recall at t = 0.5 — near-threshold
    * leaks can slip through, acceptable only when the corpus is known to
    * avoid borderline-Jaccard pairs. The exact-verify stage admits no
    * false positives either way; banding only decides who gets VERIFIED.
    * Wider banding costs more candidates — bounded here because candidates
    * are corpus × benchmark (the benchmark side is small), never
    * corpus × corpus.
    *
    * Scale shape: identical to [[minhashDedup]] — shuffle O(rows × bands),
    * verification O(candidates), degenerate buckets capped by an
    * aggregation + semi-join — except the join is corpus × BENCHMARK:
    * benchmark bucket/shingle tables are benchmark-sized (thousands of
    * rows), so AQE broadcasts them and the corpus side never self-joins.
    * The corpus shingle+signature pipeline materializes once behind an
    * id-keyed exchange that both its consumers (bucket generation and
    * verify probe) replay. */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3, k: Int = 64,
      bands: Int = 0, threshold: Double = 0.5,
      maxBucketSize: Int = 2000): DataFrame = {
    val nBands = if (bands > 0) bands else bandsForThreshold(k, threshold)
    def shingled(df: DataFrame) =
      df.select(col(idCol).as("id"), TF.wordShingles(col(textCol), n).as("sh"))
        .filter(size(col("sh")) > 0)
    def bucketed(sh: DataFrame) = sh
      .withColumn("sig", graft.functions.MinHash.minhash(col("sh"), k))
      .withColumn("bands", TF.lshBands(col("sig"), k, nBands))
      // explode_outer for the same reason as in minhashDedup: no inferred
      // `size(bands) > 0` filter re-running the signature
      .select(col("id"), explode_outer(col("bands")).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // materialization point KEPT (r22, re-measured after the candidate
    // fusion): dropping this exchange so both consumers (bucket generation
    // + verify probe) re-shingle from the scan measured 1.91 s vs 1.75 s
    // min at sf0.1 — unlike minhashDedup's three-consumer shape, the
    // shingle table here feeds only two consumers and the id-keyed rows
    // are corpus-sized, so one exchange still beats re-shingling
    val shC = shingled(corpus).repartition(col("id"))
    val shB = shingled(benchmark)
    val bC = bucketed(shC)
    val bB = bucketed(shB)
    // r22 FUSION (guide §2.4, same rewrite as [[minhashDedup]]): the
    // Zipf-degenerate-bucket cap folds INTO the candidate exchange — the
    // corpus bucket members group once behind one shuffle (capped,
    // memory-bounded) instead of a count aggregation + semi-join, and the
    // benchmark-sized bucket table broadcasts onto the grouped buckets.
    val cand = groupedBucketMembers(bC, maxBucketSize)
      .join(bB, Seq("band", "bucket"))
      .select(explode(col("ids")).as("id_c"), col("id").as("id_b"))
      .distinct()
    val hits = cand
      .join(shC.select(col("id").as("id_c"), col("sh").as("sh_c")), "id_c")
      .join(shB.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(TF.jaccard(col("sh_c"), col("sh_b")) >= threshold)
      .select(col("id_c").as(idCol))
      .distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** SimHash near-duplicate pairs: 64-bit SimHash over shingles, candidates
    * from banding the hash into 4 16-bit blocks, verified by exact Hamming
    * distance. NOTE (recall contract): the pigeonhole guarantee only covers
    * Hamming ≤ 3 — pairs differing in all 4 blocks (possible when
    * `maxHamming` ≥ 4) are found only if some block still collides. For a
    * hard guarantee at larger radii, run with rotated copies of the hash or
    * use [[minhashDedup]], whose banding probability is tunable.
    *
    * `maxBucketSize` caps degenerate buckets the same way [[minhashDedup]]
    * does — SimHash is MORE exposed than MinHash banding (a 64-bit hash of
    * boilerplate-heavy short docs collides easily, and identical docs
    * collide in ALL four blocks), so an uncapped band join goes quadratic
    * on exactly the corpora dedup targets. Capped members still pair up
    * through their other, more selective blocks; truly identical docs are
    * [[exactDedup]]'s job, not a pair enumeration's. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, maxHamming: Int = 8, maxBucketSize: Int = 2000,
      hashAlgo: String = SimHash.AlgoXx): DataFrame =
    simhashPairsFromHashes(
      df.select(col(idCol).as("id"),
        SimHash.simhash64(TF.wordShingles(col(textCol), n), hashAlgo).as("h")),
      maxHamming, maxBucketSize)

  /** The banding/verify tail of [[simhashPairs]] over pre-computed
    * signatures `(id, h)` — lets a caller compute several hash variants in
    * ONE pass over the corpus (the text scan + shingling dominates) and
    * band each separately. */
  def simhashPairsFromHashes(sh: DataFrame, maxHamming: Int,
      maxBucketSize: Int = 2000): DataFrame = {
    // band the 64-bit hash into 4 16-bit blocks for candidate generation
    val blocks = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("h"), b * 16).bitwiseAND(lit(0xffffL)).as("bucket")))
    // r22 FUSION (the [[minhashDedup]]/[[bucketPairs]] rewrite, carrying
    // the hash alongside the id so Hamming verifies in place): the old
    // shape shuffled the banded rows once per consumer (size aggregation +
    // semi-join + both self-join sides behind a shared id-keyed exchange)
    // — grouping (id, h) members per (band, bucket) with the capped,
    // memory-bounded collect produces the identical pair set from ONE
    // exchange, with the same degenerate-bucket semantics (overflowing
    // groups drop; kept groups exact).
    val banded = sh.withColumn("bb", explode(array(blocks: _*)))
      .select(col("id"), col("h"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val capped = udaf(new CappedCollect[(Long, Long)](maxBucketSize))
    // member structs sort by their first field = id, so the fan-out pairs
    // in id order; the strict id_a < id_b filter reproduces the old
    // self-join's `x.id < y.id` (no self-pairs on duplicate-id inputs)
    val g = groupedMembers(banded, maxBucketSize, capped, col("id"), col("h"))
    pairFanout(g, (x, y) =>
        struct(x.getField("_1").as("id_a"), y.getField("_1").as("id_b"),
          SimHash.hamming(x.getField("_2"), y.getField("_2")).as("hamming")))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.hamming").as("hamming"))
      // hamming is per-pair deterministic, so filtering BEFORE the distinct
      // is equivalent — and the dedup exchange then moves only survivors
      .filter(col("id_a") < col("id_b") && col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold within LSH buckets,
    * banded MULTI-TABLE random-hyperplane hashing (like MinHash banding): a
    * pair is a candidate if it collides in ANY of `tables` independent
    * tables, then exact cosine verifies — so there are never false
    * positives, and recall follows standard LSH theory:
    * recall(s) = 1 − (1 − p^planes)^tables with p = 1 − acos(s)/π.
    * Tune (planes, tables) to the threshold: high thresholds (real near-dups,
    * s ≥ 0.8) tolerate more planes (more, smaller buckets); low thresholds
    * need few planes per table. `planes <= 0` auto-sizes each table to
    * ~`targetBucket` vectors per bucket so within-bucket pair generation
    * stays ~linear in corpus size instead of quadratic. */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, planes: Int = -1, dims: Int = 64,
      tables: Int = 4, targetBucket: Long = 64L,
      corpusSize: Long = -1L): DataFrame = {
    import graft.functions.VectorFunctions._
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val p = if (planes > 0) planes
      else autoPlanes(if (corpusSize >= 0) corpusSize else rowCountFor(df), targetBucket)
    val tableBuckets = array((0 until tables).map(tb =>
      struct(lit(tb).as("tbl"),
        lshBucket(col("v"), p, dims, seed = 42L + tb * 7919L).as("bucket"))): _*)
    val banded = v.withColumn("tb", explode(tableBuckets))
      .select(col("id"), col("v"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    banded.as("x").join(banded.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.v").as("va"), col("y.v").as("vb"))
      .dropDuplicates("id_a", "id_b") // a pair may collide in several tables
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Resolve near-duplicate PAIRS into duplicate GROUPS: connected
    * components over the pair graph, labeling every member with the
    * minimum id of its component (the canonical copy a pipeline keeps).
    *
    * Label propagation to a fixpoint. A ROUND is one neighbour-min pass:
    * every node adopts the minimum of its own label and its neighbours'
    * labels. Round 1 is the seed — starting from own ids it reduces to
    * min(own id, neighbour ids), one aggregation over the edge list with
    * no join and no action. Every later round joins the edges against the
    * current labels, aggregates the neighbour minimum per node and yields
    * `(id, label, moved)`; one action per round, `filter(moved).count()`,
    * both materializes the round's lazy local checkpoint (cutting the
    * iterative lineage) and tells whether anything moved. The loop stops
    * at the first round in which no label moves.
    *
    * `maxIter` bounds the number of rounds, the seed included: a component
    * whose minimum id lies r hops from its farthest member settles after r
    * rounds and is confirmed by round r + 1, so it converges iff
    * r + 1 <= maxIter (at least 2, since the seed alone proves nothing);
    * past the bound the call fails rather than return partial groups.
    * Near-dup clusters have tiny diameters (duplicates of one source
    * document), so a handful of rounds suffices. Each round is O(edges)
    * shuffle, no quadratic stage — the standard MapReduce-CC shape. */
  def dupGroups(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 10): DataFrame = {
    require(maxIter >= 2, s"dupGroups needs maxIter >= 2 (the seed round " +
      s"plus one round that can observe convergence), got $maxIter")
    // undirected edge list, both directions: every endpoint appears as a
    // src, so every node gets a label
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionAll(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .persist()
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("label"))
    var moved = 1L
    var round = 1
    while (moved > 0 && round < maxIter) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src").as("id")).agg(min(col("label")).as("nmin"))
      val next = labels.join(neighborMin, "id")
        .select(col("id"), least(col("label"), col("nmin")).as("label"),
          (col("nmin") < col("label")).as("moved"))
        .localCheckpoint(eager = false) // the count below materializes it
      moved = next.filter(col("moved")).count()
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    edges.unpersist()
    require(moved == 0,
      s"dupGroups did not converge within $maxIter rounds ($moved labels " +
        "still moving) — raise maxIter (component diameter exceeds the bound)")
    labels.select(col("id"), col("label").as("group_id"))
  }

  /** log2(corpus / target bucket size), clamped to [4, 20] planes. */
  private[operators] def autoPlanes(n: Long, targetBucket: Long): Int = {
    val buckets = math.max(1L, n / math.max(1L, targetBucket))
    math.min(20, math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(buckets)))
  }

  /** Corpus size for LSH auto-sizing WITHOUT an extra full pass when the
    * source publishes statistics: Catalyst's plan-level row count (exact
    * for graft-iceberg scans, whose manifests carry it) — only an
    * unknown-cardinality source pays a count() job. Callers that already
    * know the size pass it explicitly. */
  private[operators] def rowCountFor(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(df.count())
}
