package graft.iceberg

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.iceberg.IcebergWriter.ManifestDrop

/** Table maintenance — the operational half every long-lived Iceberg table
  * needs at scale: small-file compaction (the #1 performance killer of
  * streaming-ingested tables) and snapshot expiration with physical cleanup
  * of unreferenced files. Both commit through the optimistic loop. */
object Maintenance {

  /** Rewrite the table's live data as `targetFiles` files (default: sized
    * from total bytes at ~128 MB/file) in ONE `replace` snapshot:
    *  - reads are pinned to the snapshot being compacted, so a concurrent
    *    append's files survive (only the files actually read are DELETED);
    *  - v2 position deletes are APPLIED by the rewrite (merge-on-read fold)
    *    and their manifests dropped — after compaction the table serves
    *    plain batch scans again. A row-level delete committed AFTER the pin
    *    makes the commit refuse (ConcurrentModificationException) instead of
    *    silently resurrecting the concurrently-deleted rows — rerun compact;
    *  - time travel to pre-compaction snapshots still works (old files stay
    *    on disk until expireSnapshots).
    */
  def compact(spark: SparkSession, url: String, targetFiles: Option[Int] = None): Int =
    compact(FileSystemOps(spark, url), targetFiles)
  def compact(ops: TableOps, targetFiles: Option[Int]): Int = {
    val t0 = ops.current()
    if (t0.metadata.currentSnapshotId < 0) return 0
    val frozen = t0.atSnapshot(t0.currentSnapshot.snapshotId)
    val pinned = frozen.liveFiles()
    if (pinned.isEmpty) return 0
    val n = targetFiles.getOrElse(
      math.max(1, (pinned.map(_.fileSizeInBytes).sum / (128L * 1024 * 1024)).toInt))
    // no-op guard (shared shape with compactWhere): one file with no
    // deletes to fold is already compact — rewriting it would burn I/O and
    // a snapshot for nothing, and the caller's rewritten_files count must
    // say 0. The guard must NOT fire when
    //  - the file is FOREIGN (imported id-less): compaction is the
    //    documented fold-to-native remediation renameColumn/dropColumn
    //    point at, and a no-op would leave the table un-renamable forever;
    //  - the explicit or size-derived target wants a SPLIT (n > 1): a
    //    single 10 GB import must not stay one scan task forever.
    if (pinned.size < 2 && frozen.liveDeleteFiles.isEmpty && n <= 1 &&
        !IcebergWriter.hasForeignFiles(frozen, pinned)) return 0
    // sorted tables: skip the blind round-robin repartition — the write
    // path range-partitions on the sort order with targetPartitions output
    // slices, restoring the disjoint-bounds layout at the requested file
    // count; unsorted tables round-robin to n as before
    val sortedTable = frozen.sortOrderColumns.nonEmpty
    // v3 ROW LINEAGE: the rewrite carries each row's id and last-updated
    // sequence as MATERIALIZED columns, so identity survives compaction
    // (rows that never had an id get one from the new file's allocation —
    // the spec's lazy-assignment rule)
    val carryLineage = frozen.metadata.formatVersion >= 3
    val base =
      if (!carryLineage) frozen.read()
      else {
        import org.apache.spark.sql.functions.col
        frozen.read().select(col("*"),
          col("_row_id"), col("_last_updated_sequence_number"))
      }
    val compacted = if (sortedTable) base else base.repartition(n)
    val files = IcebergWriter.writeDataFiles(ops.spark, ops.url, t0, compacted,
      targetPartitions = if (sortedTable) Some(n) else None,
      carryLineage = carryLineage)
    // deletes applied by this rewrite are exactly those live at PIN time;
    // a delete committed after the pin would be silently lost when the
    // delete manifests drop — the commit detects the mismatch and refuses
    commitRewrite(ops, t0, frozen, files, pinned, ManifestDrop.AllDeletes)
    pinned.size
  }

  /** SCOPED compaction: rewrite ONLY the live files `pred` selects (both
    * pruning tiers — partition values, then file bounds), leaving the rest
    * of the table untouched — the "compact one day's partition of a 100 TB
    * table" shape, where a full-table rewrite would be absurd. The
    * predicate is a FILE selector: every row of a matched file rewrites
    * (whole-file granularity, like all replace commits). Matched files'
    * row-level deletes fold into the rewrite; delete manifests are KEPT
    * (they may reference unmatched files) — their entries for the removed
    * files dangle harmlessly (reconciliation joins on live paths) and the
    * commit refuses if any delete committed after the pin (the fold would
    * silently lose it). Returns the number of files rewritten; fewer than
    * two matched files with no row-level deletes is a no-op.
    */
  def compactWhere(ops: TableOps, pred: Pruning.IcePredicate,
      targetFiles: Option[Int] = None): Int = {
    val t0 = ops.current()
    if (t0.metadata.currentSnapshotId < 0) return 0
    val frozen = t0.atSnapshot(t0.currentSnapshot.snapshotId)
    val matched = frozen.prunedFiles(pred)
    val matchedPaths = matched.map(f => frozen.resolvePath(f.filePath)).toSet
    val hasDeletes = frozen.liveDeleteFiles.nonEmpty
    if (matched.isEmpty) return 0
    val n = targetFiles.getOrElse(math.max(1,
      (matched.map(_.fileSizeInBytes).sum / (128L * 1024 * 1024)).toInt))
    // same no-op guard as compact: skip when a split is wanted or the
    // single matched file is foreign (fold-to-native remediation)
    if (matched.size < 2 && !hasDeletes && n <= 1 &&
        !IcebergWriter.hasForeignFiles(frozen, matched)) return 0
    val carryLineage = frozen.metadata.formatVersion >= 3
    val sortedTable = frozen.sortOrderColumns.nonEmpty
    val base = {
      import org.apache.spark.sql.functions.col
      val sub = frozen.readSubset(matched)
      if (!carryLineage) sub
      else sub.select(col("*"),
        col("_row_id"), col("_last_updated_sequence_number"))
    }
    // sorted tables: the write path range-partitions on the sort order with
    // targetPartitions output slices (a blind round-robin would fight it)
    val files = IcebergWriter.writeDataFiles(ops.spark, ops.url, t0,
      if (sortedTable) base else base.repartition(n),
      targetPartitions = if (sortedTable) Some(n) else None,
      carryLineage = carryLineage)
    commitRewrite(ops, t0, frozen, files, matched, ManifestDrop.Keep,
      Map("graft-compact-scope" -> matchedPaths.size.toString))
    matched.size
  }

  /** Commit a rewrite read from `frozen` (the snapshot of `t0`, a head
    * load): `files` replace `removed` in ONE `replace` snapshot. Row-level
    * deletes the rewrite applied are exactly those live at the pin, so a
    * delete committed after it makes the commit refuse instead of silently
    * resurrecting the concurrently-deleted rows; a concurrent append's
    * files survive, since only `removed` is deleted. */
  private def commitRewrite(ops: TableOps, t0: IcebergTable,
      frozen: IcebergTable, files: Seq[IcebergWriter.NewDataFile],
      removed: Seq[Manifests.DataFileInfo], drop: ManifestDrop,
      summary: Map[String, String] = Map.empty): Unit = {
    val deletesAtPin = IcebergWriter.liveDeleteSet(frozen)
    IcebergWriter.commitSnapshot(ops, Some(t0)) { table =>
      IcebergWriter.requireDeletesUnchanged(table, deletesAtPin)
      Some(IcebergWriter.SnapshotUpdate("replace", added = files,
        removed = removed, drop = drop, summary = summary))
    }
  }

  /** Z-ORDER clustering rewrite: relayout the table's live rows along a
    * Morton curve over `cols`, so per-file min/max bounds become tight
    * hyper-rectangles on EVERY clustered column at once — a point/range
    * query on any of them prunes to ~n^((d-1)/d) of the files instead of
    * scanning all of them. The multi-column answer to a single-column sort
    * order, and the standard data-skipping lever for 100 TB tables queried
    * on more than one dimension.
    *
    * Mechanics: each column's values are range-scaled to a 16-bit code
    * using one min/max aggregation over the live rows, the codes' bits are
    * interleaved into the z-value (a codegen'd bit expression — no UDF),
    * and the rows are range-partitioned + sorted by it, producing
    * `targetFiles` files each covering one contiguous z-range. Commits as
    * the same pinned `replace` snapshot as [[compact]] (concurrent appends
    * survive; post-pin row-level deletes refuse).
    *
    * PARTITIONED tables z-order WITHIN each partition: rows range-partition
    * and sort on (partition values, z), so every partition's files cover
    * contiguous z-ranges — partition pruning composes with z-skipping.
    *
    * Restrictions: numeric/date/timestamp columns only (strings have no
    * meaningful linear scale), and the table must not declare a sort order
    * (the write path would re-sort by it, undoing the clustering). */
  def zorder(spark: SparkSession, url: String, cols: Seq[String],
      targetFiles: Option[Int] = None): Unit =
    zorder(FileSystemOps(spark, url), cols, targetFiles)
  def zorder(ops: TableOps, cols: Seq[String], targetFiles: Option[Int]): Unit = {
    import ops.{spark, url}
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    require(cols.size >= 2 && cols.size <= 4,
      s"zorder takes 2-4 columns, got ${cols.size}")
    val t0 = ops.current()
    if (t0.metadata.currentSnapshotId < 0) return
    require(t0.sortOrderColumns.isEmpty,
      "zorder conflicts with the table's sort order (sorted writes would " +
        "re-sort by it); clear the sort order first or use compact")
    cols.foreach { c =>
      val f = t0.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c"))
      require(f.dataType.isInstanceOf[NumericType] ||
          f.dataType == DateType || f.dataType == TimestampType ||
          f.dataType == TimestampNTZType,
        s"zorder needs a linearly scalable column; $c is ${f.dataType}")
    }
    val frozen = t0.atSnapshot(t0.currentSnapshot.snapshotId)
    val pinned = frozen.liveFiles()
    if (pinned.isEmpty) return
    val n = targetFiles.getOrElse(
      math.max(1, (pinned.map(_.fileSizeInBytes).sum / (128L * 1024 * 1024)).toInt))

    val df = frozen.read()
    def linear(c: String): Column =
      df.schema(c).dataType match {
        case DateType => datediff(col(c), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast(DoubleType)
        case TimestampType | TimestampNTZType =>
          unix_timestamp(col(c)).cast(DoubleType)
        case _ => col(c).cast(DoubleType)
      }
    // 16-bit range-scaled code (nulls sort first at code 0); lo/span are
    // per-column expressions — literals for the global (unpartitioned) case,
    // joined stat columns for the per-partition case
    def code(c: String, lo: Column, span: Column): Column =
      coalesce(least(lit(65535L), greatest(lit(0L),
        floor((linear(c) - lo) / span * lit(65535.0)).cast(LongType))),
        lit(0L))
    // Morton interleave: z bit (b*d + c) = code_c bit b — pure codegen'd
    // shift/mask/or terms, no UDF
    val d = cols.size
    def morton(codes: Seq[Column]): Column =
      (for (b <- 0 until 16; c <- 0 until d) yield
          shiftleft(shiftrightunsigned(codes(c), b).bitwiseAND(lit(1L)), b * d + c))
        .reduce[Column](_ bitwiseOR _)

    if (frozen.partitionSpec.fields.isEmpty) {
      // one pass for every column's global (min, max)
      val minMaxCols = cols.flatMap(c => Seq(min(linear(c)), max(linear(c))))
      val mm = df.agg(minMaxCols.head, minMaxCols.tail: _*).head()
      val z = morton(cols.zipWithIndex.map { case (c, i) =>
        val lo = mm.getDouble(2 * i)
        val span = math.max(mm.getDouble(2 * i + 1) - lo, Double.MinPositiveValue)
        code(c, lit(lo), lit(span))
      })
      val clustered = df.withColumn("__z", z)
        .repartitionByRange(n, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
      commitRewrite(ops, t0, frozen,
        IcebergWriter.writeDataFiles(spark, url, t0, clustered),
        pinned, ManifestDrop.AllDeletes, Map("graft-zorder-by" -> cols.mkString(",")))
    } else {
      // partitioned: the write path range-partitions + sorts on
      // (partition values, z) so the z-layout survives value clustering.
      // Scaling is PER PARTITION — each partition's codes span its OWN
      // min/max: a clustered column correlated with the partition value
      // (event time under a daily partition, say) would under global
      // scaling collapse every partition's rows into a sliver of the
      // 16-bit code space and stop skipping. One row of bounds per
      // partition, broadcast-joined in the write path.
      val iceSchema = frozen.iceSchema
      val partKeys: Seq[(String, Column)] = frozen.partitionSpec.fields.map { pf =>
        val src = iceSchema.fields.find(_.id == pf.sourceId)
          .getOrElse(throw new IllegalStateException(s"no source field ${pf.sourceId}"))
        (s"_p_${pf.name}", IcebergWriter.partitionColumn(
          src.icebergTypeString, Transforms.parse(pf.transform))(col(src.name)))
      }
      val aggExprs = cols.zipWithIndex.flatMap { case (c, i) => Seq(
        min(linear(c)).as(s"__zlo_$i"),
        greatest(max(linear(c)) - min(linear(c)),
          lit(Double.MinPositiveValue)).as(s"__zspan_$i")) }
      val stats = df.groupBy(partKeys.map { case (nm, e) => e.as(nm) }: _*)
        .agg(aggExprs.head, aggExprs.tail: _*)
      val z = morton(cols.zipWithIndex.map { case (c, i) =>
        code(c, col(s"__zlo_$i"), col(s"__zspan_$i")) })
      commitRewrite(ops, t0, frozen,
        IcebergWriter.writeDataFiles(spark, url, t0, df, targetPartitions = Some(n),
          zorderBy = Some(z), zorderStats = Some(stats)),
        pinned, ManifestDrop.AllDeletes, Map("graft-zorder-by" -> cols.mkString(",")))
    }
  }

  /** REWRITE MANIFESTS — compact the metadata plane without touching data:
    * cluster the live data entries into `targetManifests` manifests (per
    * spec, sorted by partition tuple) in one metadata-only `replace`
    * snapshot. Every entry keeps its original snapshot id and data
    * sequence; delete manifests carry over untouched. The maintenance op
    * for streaming-ingested tables whose planning reads hundreds of tiny
    * manifest files. */
  def rewriteManifests(spark: SparkSession, url: String,
      targetManifests: Int = 1): Unit =
    IcebergWriter.rewriteManifests(spark, url, targetManifests)

  /** CONSOLIDATE position-delete files — see
    * [[IcebergWriter.rewritePositionDeletes]]: merges the per-commit delete
    * files CDC-upsert workloads accumulate into `targetFiles` sorted files
    * (dangling rows dropped) without touching data or equality manifests. */
  def rewritePositionDeletes(spark: SparkSession, url: String,
      targetFiles: Int = 1): Unit =
    IcebergWriter.rewritePositionDeletes(spark, url, targetFiles)

  /** Compute + register per-column NDV statistics for the current snapshot
    * (theta sketches in a puffin statistics file — see [[TableStatistics]]);
    * the DSv2 scan then feeds them to Spark's CBO as column stats. */
  def computeStatistics(spark: SparkSession, url: String): Map[Int, Long] =
    TableStatistics.compute(spark, url)

  /** Compute + register the spec's PARTITION STATISTICS file for the
    * current snapshot (per-partition counts from manifests, zero data I/O
    * — see [[PartitionStatistics]]). Returns the written file path. */
  def computePartitionStatistics(spark: SparkSession, url: String): String =
    PartitionStatistics.compute(FileSystemOps(spark, url))

  /** Delete ORPHAN files: bytes under the table's `data/` and `metadata/`
    * directories that NO snapshot references — the leftovers of failed or
    * aborted commits (a crashed writer's data files, a lost-race manifest
    * list). At scale these silently accumulate real storage cost.
    *
    * Only files older than `olderThanMs` (default 3 days, Iceberg's own
    * default) are considered: an IN-FLIGHT commit has already written its
    * files but not yet published the metadata referencing them, and
    * deleting those would corrupt it. Version-metadata JSONs and the hint
    * file are never touched. Returns the number of files deleted. */
  def removeOrphans(spark: SparkSession, url: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000, dryRun: Boolean = false): Int =
    removeOrphans(FileSystemOps(spark, url), olderThanMs, dryRun)
  def removeOrphans(ops: TableOps,
      olderThanMs: Long,
      /** Report the would-be-deleted count WITHOUT deleting — the audit
        * pass operators run before trusting a destructive sweep. */
      dryRun: Boolean): Int = {
    import ops.url
    val table = ops.current()
    val conf = table.conf
    val cutoff = System.currentTimeMillis() - olderThanMs
    val referenced = scala.collection.mutable.Set.empty[String]
    table.metadata.snapshots.foreach { snap =>
      val view = table.atSnapshot(snap.snapshotId)
      referenced += name(view.resolvePath(snap.manifestList))
      view.manifestList.foreach(mf => referenced += name(view.resolvePath(mf.path)))
      // DELETED entries' files are referenced too (older snapshots may
      // still read them; expireSnapshots owns their lifecycle)
      view.manifestList.foreach { mf =>
        Manifests.readManifest(view.resolvePath(mf.path), conf)
          .foreach(e => referenced += name(view.resolvePath(e.dataFile.filePath)))
      }
    }
    val fs = new Path(url).getFileSystem(conf)
    var deleted = 0
    def clean(dir: Path, candidate: String => Boolean): Unit =
      if (fs.exists(dir)) {
        val it = fs.listFiles(dir, true)
        val doomed = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val st = it.next()
          if (candidate(st.getPath.getName) && st.getModificationTime < cutoff &&
              !referenced.contains(st.getPath.getName))
            doomed += st.getPath
        }
        if (dryRun) deleted += doomed.size
        else doomed.foreach { p => if (fs.delete(p, false)) deleted += 1 }
      }
    // registered statistics files are referenced; a crashed
    // computeStatistics leaves an unregistered one — orphaned
    table.metadata.statistics.foreach(s =>
      referenced += name(table.resolvePath(s.path)))
    table.metadata.partitionStatistics.foreach(s =>
      referenced += name(table.resolvePath(s.path)))
    clean(new Path(s"$url/data"),
      n => n.endsWith(".parquet") || n.endsWith(".orc") || n.endsWith(".avro") ||
        n.endsWith(".puffin")) // DV carriers: a crashed commit orphans these too
    clean(new Path(s"$url/metadata"),
      n => n.endsWith(".avro") || n.endsWith(".puffin") ||
        n.endsWith("-partition-stats.parquet"))
    deleted
  }

  /** Keep only the last `keepLast` snapshots of the current history chain;
    * older snapshots leave the metadata and their no-longer-referenced data
    * files, manifests, and manifest lists are physically deleted. Time
    * travel to an expired snapshot then fails (by design). */
  def expireSnapshots(spark: SparkSession, url: String, keepLast: Int = 1,
      olderThan: Option[Long] = None): Unit =
    expireSnapshots(FileSystemOps(spark, url), keepLast, olderThan)
  def expireSnapshots(ops: TableOps, keepLast: Int,
      /** Spec `older_than` cutoff (epoch ms): main-chain snapshots at or
        * after this timestamp are RETAINED beyond `keepLast` — the
        * time-based retention policy production tables run on ("keep 7
        * days"). None = keepLast alone decides. */
      olderThan: Option[Long]): Unit = {
    import ops.url
    require(keepLast >= 1, "must keep at least the current snapshot")
    val before = ops.current()
    val conf = before.conf
    if (before.metadata.currentSnapshotId < 0) return

    // 1. trim metadata through the optimistic commit loop
    IcebergWriter.commitWithRetry(ops) { table =>
      // spec ref retention: a ref whose snapshot is older than its
      // max-ref-age-ms RETIRES here — it stops pinning history and is
      // dropped from metadata in the same commit (main never retires)
      val now = System.currentTimeMillis()
      val retiredRefs: Set[String] = table.refs.values.collect {
        case r if r.name != "main" && r.maxRefAgeMs.exists(age =>
          table.snapshots.get(r.snapshotId)
            .exists(s => now - s.timestampMs > age)) => r.name
      }.toSet
      val liveRefs = table.refs.filterNot { case (n, _) => retiredRefs(n) }
      var chain = List(table.latestSnapshot)
      while ((chain.size < keepLast ||
          olderThan.exists(cut => chain.head.parentSnapshotId
            .flatMap(table.snapshots.get).exists(_.timestampMs >= cut))) &&
          chain.head.parentSnapshotId.exists(table.snapshots.contains))
        chain = table.snapshots(chain.head.parentSnapshotId.get) :: chain
      // snapshots a ref points to (tags especially) survive expiration —
      // a pinned training set must stay reproducible
      val keepIds = scala.collection.mutable.Set.empty[Long]
      keepIds ++= chain.map(_.snapshotId)
      keepIds ++= liveRefs.values.map(_.snapshotId).filter(table.snapshots.contains)
      // a BRANCH also keeps its ANCESTRY (Iceberg's retained-ref ancestor
      // rule): a WAP branch with stacked staged appends needs its
      // intermediate snapshots for fastForward's ancestor walk. The walk
      // terminates ONLY at main's retained keepLast chain (the fork point)
      // or a snapshot that is already gone — NOT at any kept snapshot: a
      // TAG pinning an intermediate snapshot of the chain must not stop
      // the walk, or the snapshots between the tag and main's chain would
      // expire and fastForward's ancestor walk would hit a hole. `main`
      // itself is excluded — its retention IS the keepLast chain above.
      val mainChain = chain.map(_.snapshotId).toSet
      liveRefs.values
        .filter(r => r.refType == "branch" && r.name != "main")
        .foreach { ref =>
          var cur = table.snapshots.get(ref.snapshotId)
          var next = cur.flatMap(_.parentSnapshotId)
          while (next.exists(p => !mainChain.contains(p) &&
              table.snapshots.contains(p))) {
            keepIds += next.get
            cur = table.snapshots.get(next.get)
            next = cur.flatMap(_.parentSnapshotId)
          }
        }
      val expired = table.snapshots.keySet -- keepIds
      // retired refs leave metadata in the same commit
      if (expired.isEmpty && retiredRefs.isEmpty) None // nothing to do
      else Some(retiredRefs.toSeq.map(MetadataUpdate.RemoveSnapshotRef) ++
        (if (expired.isEmpty) Nil else Seq(MetadataUpdate.RemoveSnapshots(expired.toSet))))
    }

    // 2. physical cleanup (best-effort, after the metadata commit is
    // durable). A data file is kept only if some remaining snapshot can
    // still READ it (live data or live position deletes); files referenced
    // solely by DELETED entries are unreachable bytes. Manifests and
    // manifest lists of remaining snapshots are all kept (reconciliation
    // reads them, including pure-DELETED ones).
    val after = ops.current()
    val liveData = scala.collection.mutable.Set.empty[String]
    val liveAvro = scala.collection.mutable.Set.empty[String]
    after.metadata.snapshots.foreach { snap =>
      val view = after.atSnapshot(snap.snapshotId)
      liveAvro += name(view.resolvePath(snap.manifestList))
      view.manifestList.foreach(mf => liveAvro += name(view.resolvePath(mf.path)))
      view.liveFiles().foreach(f => liveData += name(view.resolvePath(f.filePath)))
      view.liveDeleteFiles.foreach(f => liveData += name(view.resolvePath(f.filePath)))
    }
    val fs = new Path(url).getFileSystem(conf)
    def cleanDir(dir: Path, candidate: String => Boolean,
        referenced: String => Boolean): Unit =
      if (fs.exists(dir)) {
        val it = fs.listFiles(dir, true)
        val doomed = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val st = it.next()
          val nm = st.getPath.getName
          if (candidate(nm) && !referenced(nm)) doomed += st.getPath
        }
        doomed.foreach(p => fs.delete(p, false))
      }
    // candidates cover every data-carrier format the writer can register:
    // parquet data/deletes, imported orc/avro, and v3 DV puffins — a
    // superseded puffin referenced only by DELETED entries of remaining
    // snapshots is unreachable bytes and must be collected here (orphan
    // removal keeps it: DELETED entries still name it)
    cleanDir(new Path(s"$url/data"),
      n => n.endsWith(".parquet") || n.endsWith(".orc") || n.endsWith(".avro") ||
        n.endsWith(".puffin"), liveData)
    cleanDir(new Path(s"$url/metadata"), _.endsWith(".avro"), liveAvro)
    // statistics puffins of EXPIRED snapshots (their metadata entries were
    // filtered above) are unreachable — collect them; remaining entries'
    // files are referenced
    val liveStats = after.metadata.statistics
      .map(s => name(after.resolvePath(s.path))).toSet
    cleanDir(new Path(s"$url/metadata"), _.endsWith(".puffin"), liveStats)
    val livePartStats = after.metadata.partitionStatistics
      .map(s => name(after.resolvePath(s.path))).toSet
    cleanDir(new Path(s"$url/metadata"),
      _.endsWith("-partition-stats.parquet"), livePartStats)
  }

  private def name(p: String): String = p.split('/').last
}

/** Small shared IO (read a metadata file as UTF-8). */
private[iceberg] object IcebergTableIo {
  def readString(path: String, conf: org.apache.hadoop.conf.Configuration): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
}
