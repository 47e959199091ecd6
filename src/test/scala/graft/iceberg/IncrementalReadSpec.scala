package graft.iceberg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental append scans ([[IcebergTable.incrementalBetween]]) and the
  * changelog view: only rows appended in (from, to] are read; compaction in
  * the range is skipped; overwrites/deletes refuse. */
class IncrementalReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def freshTable: String =
    java.nio.file.Files.createTempDirectory("graft_ice_incr").toString + "/tbl"

  val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  test("incremental read returns exactly the appended rows of the range") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, (1L to 10L).map(i => (i, "a")).toDF("k", "v"))
    val s1 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url, (11L to 20L).map(i => (i, "b")).toDF("k", "v"))
    val s2 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url, (21L to 30L).map(i => (i, "c")).toDF("k", "v"))

    val t = IcebergTable.load(spark, url)
    val head = t.currentSnapshot.snapshotId
    assert(t.incrementalBetween(s1, head).read()
      .as[(Long, String)].collect().map(_._1).sorted.toSeq == (11L to 30L))
    // sub-range ending before head
    assert(t.incrementalBetween(s1, s2).read()
      .as[(Long, String)].collect().map(_._1).sorted.toSeq == (11L to 20L))
    // empty range
    assert(t.incrementalBetween(head, head).read().count() == 0)
  }

  test("compaction inside the range is skipped, not double-counted") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, (1L to 10L).map(i => (i, "a")).toDF("k", "v"))
    val s1 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url, (11L to 20L).map(i => (i, "b")).toDF("k", "v"))
    Maintenance.compact(spark, url, targetFiles = Some(1))
    IcebergWriter.append(spark, url, (21L to 25L).map(i => (i, "c")).toDF("k", "v"))

    val t = IcebergTable.load(spark, url)
    val inc = t.incrementalBetween(s1, t.currentSnapshot.snapshotId)
    // the compaction's output file holds 1..20; including it would resurface
    // 1..10 and double-count 11..20
    assert(inc.read().as[(Long, String)].collect().map(_._1).sorted.toSeq
      == (11L to 25L))
  }

  test("filters prune and push down through the incremental scan") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, (1L to 10L).map(i => (i, "a")).toDF("k", "v"))
    val s1 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url, (11L to 20L).map(i => (i, "b")).toDF("k", "v").coalesce(1))
    IcebergWriter.append(spark, url, (21L to 30L).map(i => (i, "c")).toDF("k", "v").coalesce(1))

    val t = IcebergTable.load(spark, url)
    val inc = t.incrementalBetween(s1, t.currentSnapshot.snapshotId)
    // file-level stats pruning applies to the appended set: k>=25 rules out
    // the 11..20 file entirely
    assert(inc.prunedFiles(Pruning.GtEq("k", 25L)).size == 1)
    assert(inc.read(filters = Seq(Seq(("k", ">=", 25))))
      .as[(Long, String)].collect().map(_._1).sorted.toSeq == (25L to 30L))
  }

  test("non-append operations in range refuse; bad bounds refuse") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, (1L to 10L).map(i => (i, "a")).toDF("k", "v"))
    val s1 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.deleteRows(spark, url, Pruning.Eq("k", 5L))
    IcebergWriter.append(spark, url, (11L to 15L).map(i => (i, "b")).toDF("k", "v"))

    val t = IcebergTable.load(spark, url)
    val head = t.currentSnapshot.snapshotId
    val e = intercept[IllegalArgumentException] {
      t.incrementalBetween(s1, head)
    }
    assert(e.getMessage.contains("delete"))
    intercept[IllegalArgumentException] { t.incrementalBetween(999L, head) }
    // reversed bounds: from is NOT an ancestor of to
    intercept[IllegalArgumentException] { t.incrementalBetween(head, s1) }
  }

  test("changelog annotates rows with their committing snapshot") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, (1L to 5L).map(i => (i, "a")).toDF("k", "v"))
    val t0 = IcebergTable.load(spark, url)
    val s1 = t0.currentSnapshot.snapshotId
    IcebergWriter.append(spark, url, (6L to 8L).map(i => (i, "b")).toDF("k", "v"))
    val s2 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url, (9L to 10L).map(i => (i, "c")).toDF("k", "v"))

    val t = IcebergTable.load(spark, url)
    val s3 = t.currentSnapshot.snapshotId
    val rows = t.changelog(s1, s3)
      .select("k", "_change_type", "_commit_snapshot_id")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (6L to 10L))
    assert(rows.forall(_._2 == "insert"))
    assert(rows.filter(_._1 <= 8L).forall(_._3 == s2))
    assert(rows.filter(_._1 > 8L).forall(_._3 == s3))
  }

  test("changelog emits delete rows for position-delete commits") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, (1L to 10L).map(i => (i, "a")).toDF("k", "v").coalesce(1))
    val s1 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.deleteRows(spark, url,
      Pruning.And(Pruning.GtEq("k", 4L), Pruning.Lt("k", 7L)))
    val t = IcebergTable.load(spark, url)
    val rows = t.changelog(s1, t.currentSnapshot.snapshotId)
      .select("k", "v", "_change_type").as[(Long, String, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((4L, "a", "delete"), (5L, "a", "delete"), (6L, "a", "delete")))
  }

  test("changelog emits delete+insert for an equality-delete upsert") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, (1L to 5L).map(i => (i, "old")).toDF("k", "v").coalesce(1))
    val s1 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.upsert(spark, url,
      Seq((2L, "new2"), (9L, "new9")).toDF("k", "v").coalesce(1), Seq("k"))
    val t = IcebergTable.load(spark, url)
    val rows = t.changelog(s1, t.currentSnapshot.snapshotId)
      .select("k", "v", "_change_type").as[(Long, String, String)]
      .collect().sortBy(r => (r._1, r._3))
    // the update of k=2 is delete+insert; k=9 is a pure insert
    assert(rows.toSeq == Seq(
      (2L, "old", "delete"), (2L, "new2", "insert"), (9L, "new9", "insert")))
  }

  test("changelog emits delete rows for whole-file removal, parent-visible only") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, (1L to 10L).map(i => (i, "a")).toDF("k", "v").coalesce(1))
    val s1 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    // kill k=3 first (position delete), THEN drop the whole table content:
    // the removal must NOT re-emit the already-dead row 3
    IcebergWriter.deleteRows(spark, url, Pruning.Eq("k", 3L))
    val s2 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.deleteWhere(spark, url, Pruning.LtEq("k", 10L))
    val t = IcebergTable.load(spark, url)
    val rows = t.changelog(s2, t.currentSnapshot.snapshotId)
      .select("k", "_change_type").as[(Long, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L, 10L))
    assert(rows.forall(_._2 == "delete"))
    // and the full range sees 3 deleted by its own commit
    val full = t.changelog(s1, t.currentSnapshot.snapshotId)
      .select("k", "_change_type").as[(Long, String)].collect()
    assert(full.count(_._2 == "delete") == 10)
  }

  test("changelog reads its file subsets through the loaded handle, " +
      "reading no table metadata again") {
    CountingFileSystem.Confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val url = "counting://" + freshTable
      IcebergWriter.createTable(spark, url, schema)
      IcebergWriter.append(spark, url, (1L to 5L).map(i => (i, "a")).toDF("k", "v").coalesce(1))
      val s1 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
      IcebergWriter.append(spark, url, (6L to 8L).map(i => (i, "b")).toDF("k", "v").coalesce(1))
      IcebergWriter.deleteRows(spark, url, Pruning.Eq("k", 2L))
      IcebergWriter.deleteWhere(spark, url, Pruning.GtEq("k", 6L))
      val t = IcebergTable.load(spark, url)
      CountingFileSystem.reset()
      val rows = t.changelog(s1, t.currentSnapshot.snapshotId)
        .select("k", "_change_type").as[(Long, String)].collect().sortBy(r => (r._2, r._1))
      val opens = CountingFileSystem.calls.count(c =>
        c.op == "open" && c.path.endsWith(".metadata.json"))
      // a subset read that loaded the table again would open the metadata
      // JSON once per subset (three here)
      assert(opens == 0, s"changelog re-read table metadata $opens times")
      assert(rows.toSeq == Seq((2L, "delete"), (6L, "delete"), (7L, "delete"),
        (8L, "delete"), (6L, "insert"), (7L, "insert"), (8L, "insert")))
    } finally {
      CountingFileSystem.reset()
      CountingFileSystem.Confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("changelog over a mixed range: compaction neutral, deletes emitted") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, (1L to 10L).map(i => (i, "a")).toDF("k", "v").coalesce(1))
    val s1 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url, (11L to 15L).map(i => (i, "b")).toDF("k", "v").coalesce(1))
    IcebergWriter.deleteRows(spark, url, Pruning.Eq("k", 12L))
    Maintenance.compact(spark, url, targetFiles = Some(1))
    IcebergWriter.append(spark, url, (21L to 22L).map(i => (i, "c")).toDF("k", "v").coalesce(1))
    val t = IcebergTable.load(spark, url)
    val rows = t.changelog(s1, t.currentSnapshot.snapshotId)
      .select("k", "_change_type").as[(Long, String)]
      .collect().sortBy(r => (r._1, r._2))
    val inserts = rows.filter(_._2 == "insert").map(_._1).toSeq
    val deletes = rows.filter(_._2 == "delete").map(_._1).toSeq
    assert(inserts == Seq(11L, 12L, 13L, 14L, 15L, 21L, 22L),
      s"compaction must be content-neutral, got inserts $inserts")
    assert(deletes == Seq(12L))
  }

  test("the DSv2 source honours start-snapshot-id/end-snapshot-id options") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, (1L to 10L).map(i => (i, "a")).toDF("k", "v"))
    val s1 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url, (11L to 20L).map(i => (i, "b")).toDF("k", "v"))
    val s2 = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url, (21L to 30L).map(i => (i, "c")).toDF("k", "v"))

    val df = spark.read.format("graft-iceberg")
      .option("start-snapshot-id", s1.toString)
      .option("end-snapshot-id", s2.toString)
      .load(url)
    assert(df.as[(Long, String)].collect().map(_._1).sorted.toSeq == (11L to 20L))
    val all = spark.read.format("graft-iceberg")
      .option("start-snapshot-id", s1.toString)
      .load(url)
    assert(all.count() == 20)
  }

  test("REPLAY INVARIANT: base state + net changelog = head state, across " +
      "a randomized append/delete/overwrite history") {
    // the property that makes the whole changelog machinery trustworthy:
    // for ANY commit history, applying changelogNet(base, head) to the
    // base snapshot's rows reproduces the head's rows as a multiset
    val rnd = new scala.util.Random(4217)
    for (trial <- 1 to 3) {
      val url = freshTable
      IcebergWriter.createTable(spark, url, schema)
      IcebergWriter.append(spark, url,
        (1L to 20L).map(i => (i, s"t$trial-a")).toDF("k", "v").coalesce(1))
      val base = IcebergTable.load(spark, url).currentSnapshot.snapshotId
      var next = 21L
      for (_ <- 1 to 4) rnd.nextInt(3) match {
        case 0 => // append a fresh file
          IcebergWriter.append(spark, url,
            (next until next + 10).map(i => (i, s"t$trial-n")).toDF("k", "v")
              .coalesce(1))
          next += 10
        case 1 => // whole-file delete of the highest surviving range
          val t = IcebergTable.load(spark, url)
          val hi = t.read().agg(org.apache.spark.sql.functions.max("k"))
            .head().getLong(0)
          // file-aligned: every append is one 10-key (or the base 20-key)
          // file, so cutting at a multiple-of-10 boundary drops whole files
          val cut = math.max(20L, (hi / 10) * 10 - 10)
          try IcebergWriter.deleteWhere(spark, url, Pruning.Gt("k", cut))
          catch { case _: Exception => () } // nothing above the cut: skip
        case 2 => // overwrite everything with a rewritten state
          val t = IcebergTable.load(spark, url)
          val keys = t.read().select("k").as[Long].collect().toSeq.sorted
          if (keys.nonEmpty)
            IcebergWriter.overwrite(spark, url,
              keys.map(i => (i, s"t$trial-w$next")).toDF("k", "v").coalesce(1))
      }
      val t = IcebergTable.load(spark, url)
      val head = t.currentSnapshot.snapshotId
      if (head != base) {
        val baseRows = t.atSnapshot(base).read()
          .as[(Long, String)].collect().toSeq
        val net = t.changelogNet(base, head)
          .select("k", "v", "_change_type").collect()
          .map(r => ((r.getLong(0), r.getString(1)), r.getString(2)))
        val deletes = net.filter(_._2 == "delete").map(_._1)
        val inserts = net.filter(_._2 == "insert").map(_._1)
        def multiset(xs: Seq[(Long, String)]) =
          xs.groupBy(identity).view.mapValues(_.size).toMap
        val replayed = {
          val m = scala.collection.mutable.Map(multiset(baseRows).toSeq: _*)
          deletes.foreach { r =>
            val n = m.getOrElse(r, 0)
            assert(n > 0, s"net delete of a row not in base: $r")
            if (n == 1) m.remove(r) else m.update(r, n - 1)
          }
          inserts.foreach(r => m.update(r, m.getOrElse(r, 0) + 1))
          m.toMap
        }
        val headRows = multiset(t.read().as[(Long, String)].collect().toSeq)
        assert(replayed == headRows,
          s"trial $trial: base+net must equal head")
      }
    }
  }

  test("net changelog keys on SCHEMA columns — an underscore-named user " +
      "column stays in the key and the output") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, StructType(Seq(
      StructField("k", LongType), StructField("_src", StringType))))
    IcebergWriter.append(spark, url,
      Seq((1L, "web"), (1L, "api"), (2L, "web")).toDF("k", "_src").coalesce(1))
    val base = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    // distinct only by _src: a key derived by dropping _-prefixed columns
    // would merge these two inserts and lose the column from the output
    IcebergWriter.append(spark, url,
      Seq((3L, "web"), (3L, "api")).toDF("k", "_src").coalesce(1))
    val t = IcebergTable.load(spark, url)
    val net = t.changelogNet(base, t.currentSnapshot.snapshotId)
    assert(net.columns.contains("_src"), s"cols: ${net.columns.toSeq}")
    val rows = net.select("k", "_src", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((3L, "web", "insert"), (3L, "api", "insert")))
  }

  test("changelog across schema drift emits ONE shape — the current " +
      "schema, mapped by field id (rename, add, drop, re-add)") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    // anchor commit: changelog ranges are (from, to] — this gives the
    // drifted frames below a range start that precedes all of them
    IcebergWriter.append(spark, url, Seq((0L, "z")).toDF("k", "v").coalesce(1))
    val anchor = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    val base = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    // drift: rename v → txt, add a new column, then append under the
    // evolved schema
    IcebergWriter.renameColumn(spark, url, "v", "txt")
    IcebergWriter.addColumn(spark, url, "score", "long")
    val df2 = Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "txt", "score")
    IcebergWriter.append(spark, url, df2.coalesce(1))

    val t = IcebergTable.load(spark, url)
    val cl = t.changelog(base, t.currentSnapshot.snapshotId)
    assert(cl.columns.take(3).toSeq == Seq("k", "txt", "score"),
      s"changelog must carry the CURRENT schema: ${cl.columns.toSeq}")
    val got = cl.select("k", "txt", "score", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3))).toSet
    assert(got == Set((3L, "c", 30L, "insert"), (4L, "d", 40L, "insert")))

    // a range that INCLUDES the pre-rename commit: the old frame's `v`
    // bytes surface under the current name `txt`, score reads null
    val all = t.changelog(anchor, t.currentSnapshot.snapshotId)
    val first = all.where("k = 1").collect().head
    assert(first.getAs[String]("txt") == "a" && first.isNullAt(
      all.columns.indexOf("score")))

    // net changelog across the same drifted range stays keyed on the
    // current schema and replays coherently
    val net = t.changelogNet(base, t.currentSnapshot.snapshotId)
    assert(net.columns.take(3).toSeq == Seq("k", "txt", "score"))
    assert(net.where("_change_type = 'insert'").count() == 2)

    // drop + RE-ADD of the original name: the changelog must not
    // resurrect the dropped bytes under the re-added column (fresh id)
    IcebergWriter.dropColumn(spark, url, "txt")
    IcebergWriter.addColumn(spark, url, "txt", "string")
    val t2 = IcebergTable.load(spark, url)
    val resurrect = t2.changelog(anchor,
      t2.currentSnapshot.snapshotId).select("txt").collect()
    assert(resurrect.forall(_.isNullAt(0)),
      "re-added same-named column must read null in the changelog, " +
        "not the dropped generation's bytes")
  }

  test("changelog across a KEY-column rename: equality-delete frames " +
      "project to current names before the key join") {
    val url = freshTable
    IcebergWriter.createTable(spark, url, schema)
    IcebergWriter.append(spark, url, Seq((0L, "z")).toDF("k", "v").coalesce(1))
    val anchor = IcebergTable.load(spark, url).currentSnapshot.snapshotId
    IcebergWriter.append(spark, url,
      (1L to 5L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    // equality-delete ON THE KEY COLUMN under its write-time name...
    IcebergWriter.upsert(spark, url,
      Seq((2L, "new2")).toDF("k", "v").coalesce(1), Seq("k"))
    // ...then rename the key AND the value column
    IcebergWriter.renameColumn(spark, url, "k", "key")
    IcebergWriter.renameColumn(spark, url, "v", "txt")

    val t = IcebergTable.load(spark, url)
    val rows = t.changelog(anchor, t.currentSnapshot.snapshotId)
      .select("key", "txt", "_change_type").as[(Long, String, String)]
      .collect().sortBy(r => (r._1, r._3))
    // the range holds the original insert of key=2 AND its later
    // eq-delete + re-insert; all frames carry CURRENT names
    assert(rows.toSeq == Seq((1L, "a1", "insert"), (2L, "a2", "delete"),
      (2L, "a2", "insert"), (2L, "new2", "insert"), (3L, "a3", "insert"),
      (4L, "a4", "insert"), (5L, "a5", "insert")),
      s"got: ${rows.toSeq}")
  }

  test("changelog PLANNING runs a constant Spark-job count regardless of " +
      "the pos-delete commit count (r22: batched key resolution)") {
    // The old shape ran one distinct+collect job inside every pos-delete
    // commit's frame builder — planning cost ∝ commits × job overhead.
    // Now all commits' referenced-file keys resolve in ONE job, so a table
    // with 4 delete commits must plan with exactly as many jobs as one
    // with 2 — and the changelog rows must be unchanged.
    def build(deleteCommits: Int): IcebergTable = {
      val url = freshTable
      IcebergWriter.createTable(spark, url, schema)
      IcebergWriter.append(spark, url,
        (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v").repartition(2))
      (0 until deleteCommits).foreach { i =>
        IcebergWriter.deleteRows(spark, url, Pruning.Eq("k", (i + 1).toLong))
      }
      IcebergTable.load(spark, url)
    }
    def planningJobs(t: IcebergTable): (Int, Long) = {
      val sc = spark.sparkContext
      val group = s"clplan${System.nanoTime()}"
      sc.setJobGroup(group, "changelog planning")
      val df =
        try t.changelog(t.metadata.snapshots.head.snapshotId,
          t.currentSnapshot.snapshotId)
        finally sc.clearJobGroup()
      // the status tracker is listener-bus-driven; give it a beat to drain
      var ids = sc.statusTracker.getJobIdsForGroup(group)
      val deadline = System.currentTimeMillis() + 5000
      var settled = false
      while (!settled && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        val now = sc.statusTracker.getJobIdsForGroup(group)
        settled = now.length == ids.length
        ids = now
      }
      (ids.length, df.filter(org.apache.spark.sql.functions
        .col("_change_type") === "delete").count())
    }
    val (jobs2, dels2) = planningJobs(build(2))
    val (jobs4, dels4) = planningJobs(build(4))
    assert(dels2 == 2 && dels4 == 4, s"changelog rows wrong: $dels2/$dels4")
    assert(jobs4 == jobs2,
      s"planning job count grew with commits: $jobs2 -> $jobs4")
    assert(jobs2 <= 2, s"planning should be ~one batched job, got $jobs2")
  }
}
