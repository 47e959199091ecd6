package org.apache.spark.sql.graftbridge

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.connector.read.Batch
import org.apache.spark.sql.execution.datasources.v2.orc.OrcScan
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Bridges to Spark's `private[sql]` scan machinery (same technique as
  * ColumnBridge): lets the graft-iceberg DataSourceV2 connector plan scans
  * over a metadata-known file list and delegate execution to Spark's
  * vectorized, whole-stage-codegen'd parquet batch reader. */
object ScanBridge {

  /** A file index fed straight from Iceberg manifest metadata: paths and
    * sizes are already known, so scan planning performs ZERO filesystem
    * listing or stat calls — the property that makes Iceberg planning O(files
    * in metadata) instead of O(directory tree), essential at 100 TB. */
  final class KnownFilesIndex(
      spark: SparkSession,
      files: Seq[(String, Long)],
      schema: StructType)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(schema)) {

    // Qualify against the filesystem (file:/…, s3a://…): the parent index
    // looks paths up by their fully-qualified form. One FS handle per
    // distinct scheme — no per-file I/O, makeQualified is pure URI work.
    private val statuses: Seq[FileStatus] = {
      val fsCache = mutable.Map.empty[String, org.apache.hadoop.fs.FileSystem]
      files.map { case (p, len) =>
        val raw = new Path(p)
        val fs = fsCache.getOrElseUpdate(
          Option(raw.toUri.getScheme).getOrElse(""), raw.getFileSystem(hadoopConf))
        new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, fs.makeQualified(raw))
      }
    }

    override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
    override def rootPaths: Seq[Path] = statuses.map(_.getPath)
    override def leafFiles: mutable.LinkedHashMap[Path, FileStatus] = {
      val m = mutable.LinkedHashMap.empty[Path, FileStatus]
      statuses.foreach(s => m(s.getPath) = s)
      m
    }
    override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      statuses.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray }
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_._2).sum
  }

  /** An input partition pinned to ONE partition-value tuple: all files of
    * that value, plus the key row Spark's key-grouped join machinery reads
    * through [[HasPartitionKey]]. No splitting — storage-partitioned joins
    * need the whole value co-located. */
  final class KeyedFilePartition(
      key: InternalRow,
      private[graftbridge] val underlying: FilePartition)
    extends InputPartition with HasPartitionKey {
    override def partitionKey(): InternalRow = key
    override def preferredLocations(): Array[String] = underlying.preferredLocations()
  }

  /** One [[KeyedFilePartition]] over a known file list (no listing). */
  def keyedPartition(
      spark: SparkSession,
      hadoopConf: Configuration,
      index: Int,
      key: InternalRow,
      files: Seq[(String, Long)]): InputPartition = {
    new KeyedFilePartition(key, FilePartition(index, wholeFiles(hadoopConf, files).toArray))
  }

  /** Reader factory that unwraps [[KeyedFilePartition]] before delegating to
    * the vectorized parquet factory (which pattern-matches on FilePartition). */
  def unwrapKeyedFactory(delegate: PartitionReaderFactory): PartitionReaderFactory =
    new UnwrapKeyedReaderFactory(delegate)

  private final class UnwrapKeyedReaderFactory(delegate: PartitionReaderFactory)
    extends PartitionReaderFactory {
    private def u(p: InputPartition): InputPartition = p match {
      case k: KeyedFilePartition => k.underlying
      case other => other
    }
    override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
      delegate.createReader(u(p))
    override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      delegate.createColumnarReader(u(p))
    override def supportColumnarReads(p: InputPartition): Boolean =
      delegate.supportColumnarReads(u(p))
  }

  /** The parquet readers' magic row-index column: when a LongType field
    * with this name appears in the read schema, Spark's parquet readers
    * (vectorized AND parquet-mr, V2 factory included) populate it with the
    * row's position within its FILE, computed from row-group metadata — so
    * it stays correct under predicate pushdown, row-group/page skipping,
    * column pruning, and file splits. This is what makes merge-on-read
    * sound with filters; an ordinal counter is not. */
  val rowIndexField: StructField = StructField(
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME,
    // nullable like Spark's own generated-metadata field: the parquet
    // readers treat the (always-absent) column as missing-nullable, then
    // overwrite the vector with generated row indexes
    LongType, nullable = true)

  /** Task-side MOR telemetry (per-JVM, cumulative): data-parquet reader
    * opens vs partitions answered EMPTY from delete metadata alone. A
    * fanned-out CDC selection partition whose computed selection is empty
    * must cost one cached delete-file read, never a data-file open —
    * specs pin the skip by watching these counters. */
  val morDataFileOpens = new java.util.concurrent.atomic.AtomicLong(0)
  val morEmptySelectionSkips = new java.util.concurrent.atomic.AtomicLong(0)

  /** Data-file identity key used to match position-delete entries: the path
    * suffix after the table's `/data/` dir — unique within a table and
    * stable across relocation (original-url rewrite) and file:/ vs s3a://
    * qualification differences. Externally-located files (no `/data/`
    * segment) fall back to their full authority+path — scheme-stripped so
    * `file:///x`, `file:/x` and `/x` agree — instead of collapsing to one
    * shared key, which would cross-match deletes between distinct files. */
  def morKey(path: String): String = {
    val i = path.lastIndexOf("/data/")
    if (i >= 0) path.substring(i + 6)
    else {
      val u = new org.apache.hadoop.fs.Path(path).toUri
      val auth = Option(u.getAuthority).getOrElse("")
      auth + u.getPath
    }
  }

  /** Column form of [[morKey]] for the write path's delete bookkeeping. A
    * UDF, so both sides of every key comparison share ONE definition —
    * acceptable because those reads touch only delete files, never the
    * data plane. */
  def morKeyColumn(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udf((p: String) => morKey(p)).apply(c)

  /** One EQUALITY-delete file's keys, catalyst-normalized, plus where its
    * key columns sit in the (widened) read schema and the commit sequence
    * that scopes it: rows of data files with `dataSeq < seq` whose key
    * tuple is in `keys` are deleted. Built in the task by
    * [[DeleteLoader.eqGroupFor]].
    *
    * Keys are stored as [[org.apache.spark.sql.catalyst.expressions.UnsafeRow]]s:
    * UnsafeRow equality and hashCode are byte-based, so BinaryType key
    * components compare by VALUE — a Seq[Array[Byte]] key would compare by
    * reference and silently never match — and the probe projects each data
    * row into one REUSED buffer, so the per-row hot loop allocates nothing. */
  final case class EqDeleteGroup(
      ordinals: Array[Int],
      types: Array[org.apache.spark.sql.types.DataType],
      seq: Long,
      keys: java.util.HashSet[org.apache.spark.sql.catalyst.expressions.UnsafeRow])

  /** Builder for [[EqDeleteGroup.keys]] entries: projects one
    * catalyst-converted key tuple into a copied UnsafeRow with the same
    * field order/types the probe projection uses, so the byte layouts (and
    * therefore hashCode/equals) line up exactly. */
  final class EqKeyBuilder(types: Array[org.apache.spark.sql.types.DataType]) {
    private val proj =
      org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(types)
    private val buf = new Array[Any](types.length)
    def build(values: Int => Any, isNull: Int => Boolean)
        : org.apache.spark.sql.catalyst.expressions.UnsafeRow = {
      var i = 0
      while (i < types.length) {
        buf(i) = if (isNull(i)) null else values(i)
        i += 1
      }
      proj(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(buf))
        .copy()
    }
  }

  /** The merge-on-read state of ONE data file: its commit sequence (for
    * equality-delete scoping), its requested metadata-column values and
    * the delete state that applies to it — delete-file PATHS and
    * metadata-only equality specs, never positions or key sets. The task
    * loads that state itself through [[DeleteLoader]] (per-JVM cached), so
    * the driver's footprint is O(delete files), whatever the number of
    * deleted rows.
    *
    *  - `posDeleteFiles`: position/DV carriers whose positions are
    *    excluded.
    *  - `selectPosDeleteFiles` (CDC): INVERTS the position filter — emit
    *    ONLY the rows at positions these files hold and
    *    `selectMinusDeleteFiles` (the parent-visible ones) do not: the rows
    *    a position-delete commit removed.
    *  - `ownEqSpecs` (CDC): this file's own equality visibility, in place
    *    of the factory's specs.
    *  - `selectEqSpecs` (CDC): emit only rows matching at least one of
    *    these files' keys — the rows an equality-delete commit removed. */
  final class MorFile(
      private[graftbridge] val dataSeq: Long,
      /** Requested metadata columns as per-file values, in projection
        * order: `_partition`/`_file` carry the string constant, `_pos` a
        * null (the reader wires it to the materialized row index), and
        * `_commit_snapshot_id` a long rendered as a string. */
      private[graftbridge] val metaValues: Seq[(String, String)],
      private[graftbridge] val posDeleteFiles: Array[String] = null,
      private[graftbridge] val selectPosDeleteFiles: Array[String] = null,
      private[graftbridge] val selectMinusDeleteFiles: Array[String] = null,
      private[graftbridge] val ownEqSpecs: Array[DeleteLoader.EqDeleteFileSpec] = null,
      private[graftbridge] val selectEqSpecs: Array[DeleteLoader.EqDeleteFileSpec] = null)
    extends Serializable

  /** MERGE-ON-READ input partition: one Spark [[FilePartition]] — several
    * small files packed into one task, or one split of a large file — and
    * `members(i)`, the [[MorFile]] state of `underlying.files(i)`. Each
    * member keeps its own deletes; the two splits of one file carry the
    * same state (the row index is file-relative, so a split needs no
    * special case). */
  final class MorFilePartition(
      private[graftbridge] val underlying: FilePartition,
      private[graftbridge] val members: Array[MorFile])
    extends InputPartition {
    override def preferredLocations(): Array[String] = underlying.preferredLocations()
  }

  /** `path` qualified against its filesystem as one whole-file split. One FS
    * handle per distinct scheme — no per-file I/O, makeQualified is pure
    * URI work. */
  private def wholeFiles(hadoopConf: Configuration, files: Seq[(String, Long)])
      : Seq[PartitionedFile] = {
    val fsCache = mutable.Map.empty[String, org.apache.hadoop.fs.FileSystem]
    files.map { case (p, len) =>
      val raw = new Path(p)
      val fs = fsCache.getOrElseUpdate(
        Option(raw.toUri.getScheme).getOrElse(""), raw.getFileSystem(hadoopConf))
      PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(fs.makeQualified(raw)),
        0, len, Array.empty, 0L, len)
    }
  }

  /** One CDC partition over one whole data file: a single-member
    * [[MorFilePartition]]. */
  def cdcPartition(
      hadoopConf: Configuration,
      index: Int,
      path: String,
      len: Long,
      dataSeq: Long,
      metaValues: Seq[(String, String)],
      posDeleteFiles: Array[String] = null,
      selectPosDeleteFiles: Array[String] = null,
      selectMinusDeleteFiles: Array[String] = null,
      ownEqSpecs: Array[DeleteLoader.EqDeleteFileSpec] = null,
      selectEqSpecs: Array[DeleteLoader.EqDeleteFileSpec] = null): InputPartition =
    new MorFilePartition(
      FilePartition(index, wholeFiles(hadoopConf, Seq(path -> len)).toArray),
      Array(new MorFile(dataSeq, metaValues, posDeleteFiles, selectPosDeleteFiles,
        selectMinusDeleteFiles, ownEqSpecs, selectEqSpecs)))

  /** The batch scan's MOR partitions: the layout Spark's parquet scan
    * planned for the same files (`packed`, its [[FilePartition]]s: small
    * files packed into one task and large ones split, under
    * `spark.sql.files.maxPartitionBytes` / `openCostInBytes` /
    * `minPartitionNum`), each member paired with its data file's state,
    * looked up by [[morKey]]. */
  def morPartitions(packed: Array[InputPartition], stateOf: String => MorFile)
      : Array[InputPartition] =
    packed.map { p =>
      val fp = p.asInstanceOf[FilePartition]
      new MorFilePartition(fp,
        fp.files.map(f => stateOf(morKey(f.filePath.toPath.toString)))): InputPartition
    }

  /** MERGE-ON-READ reader factory. The scan appends [[rowIndexField]] to the
    * delegate's read schema; this factory reads a [[MorFilePartition]]'s
    * members one file (or split) at a time, loads each member's delete
    * state in the task ([[DeleteLoader]]), filters deleted positions
    * against the materialized row index and equality keys against the
    * row, and projects the extra columns back out, so deleted rows never
    * leave the scan and downstream operators see exactly `requiredSchema`.
    *
    * The hadoop conf the loads need travels as a broadcast, never inline
    * (its ~1,100 entries would ship and deserialize with every task):
    * scans and streams pass the one their parquet `delegate` already
    * carries ([[broadcastConfOf]]), so a scan copies and broadcasts its
    * conf once. The cache budget is `spark.graft.iceberg.deleteCacheBytes`.
    *
    * COLUMNAR under position and equality deletes: delete-free members
    * pass batches through (the trailing index vector dropped, zero copy);
    * deleted-from members wrap each batch's vectors in a SELECTION view
    * that skips deleted rows — the whole scan stays vectorized instead of
    * one deleted file de-vectorizing everything. Only requested metadata
    * columns or CDC partitions drop the scan to row-based readers
    * (`columnarCapable = false`). */
  def morReaderFactory(
      delegate: PartitionReaderFactory,
      requiredSchema: StructType,
      readWidth: Int, // total columns the delegate produces (incl. extras)
      columnarCapable: Boolean,
      conf: Broadcast[SerializableConfiguration],
      /** Equality-delete files every member without its own `ownEqSpecs`
        * applies, sequence-scoped per data file. */
      eqSpecs: Array[DeleteLoader.EqDeleteFileSpec] = Array.empty,
      /** Maps each `requiredSchema` field to its ordinal in the delegate
        * row; null = identity prefix (the batch-scan layout). The CDC
        * stream reads the FULL table schema and projects the requested
        * subset out through this map. */
      ordinalMap: Array[Int] = null,
      /** Number of MATERIALIZED row-lineage columns the delegate reads
        * (0 or 2), sitting immediately before the trailing row-index
        * column: `_row_id` then `_last_updated_sequence_number`. Readers
        * prefer their (per-row) values over the inherited computation —
        * identity survives compaction. */
      lineageCols: Int = 0): PartitionReaderFactory =
    new MorReaderFactory(delegate, requiredSchema, readWidth, columnarCapable,
      conf, DeleteLoader.cacheBytes, eqSpecs, ordinalMap, lineageCols)

  /** The Hadoop conf broadcast Spark's parquet reader `factory` carries to
    * its tasks (the scan's conf, prepared for the read). */
  def broadcastConfOf(factory: PartitionReaderFactory): Broadcast[SerializableConfiguration] =
    factory match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory =>
        p.broadcastedConf
      case other => throw new IllegalArgumentException(
        s"merge-on-read reads parquet only, got a ${other.getClass.getName}")
    }

  private final class MorReaderFactory(
      delegate: PartitionReaderFactory,
      requiredSchema: StructType,
      readWidth: Int,
      columnarCapable: Boolean,
      conf: Broadcast[SerializableConfiguration],
      deleteCacheBytes: Long,
      eqSpecs: Array[DeleteLoader.EqDeleteFileSpec],
      ordinalMap: Array[Int],
      lineageCols: Int)
    extends PartitionReaderFactory {

    private def width = requiredSchema.length

    private def positionsIn(files: Array[String], file: FilePartition): Array[Long] =
      DeleteLoader.positionsFor(files, morKey(file.files.head.filePath.toPath.toString),
        conf.value.value, deleteCacheBytes)

    private def groupsOf(specs: Array[DeleteLoader.EqDeleteFileSpec],
        s: MorFile): Array[EqDeleteGroup] =
      specs.filter(_.seq > s.dataSeq).map(spec =>
        DeleteLoader.eqGroupFor(spec, conf.value.value, deleteCacheBytes))

    /** Sorted deleted positions of one member's data file. */
    private def deletedOf(file: FilePartition, s: MorFile): Array[Long] =
      if (s.posDeleteFiles == null) Array.emptyLongArray
      else positionsIn(s.posDeleteFiles, file)

    /** Selection positions of one CDC member (null = not selecting): the
      * new commit's positions minus the parent-visible ones. */
    private def selectOf(file: FilePartition, s: MorFile): Array[Long] =
      if (s.selectPosDeleteFiles == null) null
      else {
        val sel = positionsIn(s.selectPosDeleteFiles, file)
        val minus = if (s.selectMinusDeleteFiles == null) Array.emptyLongArray
          else positionsIn(s.selectMinusDeleteFiles, file)
        if (minus.isEmpty) sel
        else sel.filter(x => java.util.Arrays.binarySearch(minus, x) < 0)
      }

    /** Exclusion groups of one member: a CDC member's own visibility, else
      * the factory's specs (empty on the CDC factory, so CDC inserts
      * inherit nothing). Specs prune by COMMIT SEQUENCE before loading — an
      * equality-delete file at or below this data file's sequence can never
      * apply, so the task never pays its decode or cache space. */
    private def exclGroupsOf(s: MorFile): Array[EqDeleteGroup] =
      groupsOf(if (s.ownEqSpecs != null) s.ownEqSpecs else eqSpecs, s)

    // one probe projection per group: bound to the group's key ordinals
    // in the widened row, writing into a REUSED UnsafeRow buffer —
    // `keys.contains(probe(r))` hashes/compares raw bytes, so the per-row
    // loop allocates nothing and BinaryType keys compare by value
    private def probesOf(groups: Array[EqDeleteGroup])
        : Array[org.apache.spark.sql.catalyst.expressions.UnsafeProjection] =
      groups.map { g =>
        org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          g.ordinals.zipWithIndex.map { case (o, j) =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              o, g.types(j), nullable = true)
          }.toSeq)
      }

    private def matchesAny(groups: Array[EqDeleteGroup],
        probes: Array[org.apache.spark.sql.catalyst.expressions.UnsafeProjection],
        r: InternalRow): Boolean = {
      var i = 0
      while (i < groups.length) {
        if (groups(i).keys.contains(probes(i)(r))) return true
        i += 1
      }
      false
    }

    /** Reads `m`'s members one after another, opening each member's reader
      * — over a partition of its file (or split) alone — only when the
      * previous one is exhausted. */
    private def concat[T](m: MorFilePartition,
        open: (FilePartition, MorFile) => PartitionReader[T]): PartitionReader[T] =
      new PartitionReader[T] {
        private var at = 0
        private var current: PartitionReader[T] = null
        override def next(): Boolean = {
          while (current != null || at < m.members.length) {
            if (current == null) {
              current = open(FilePartition(m.underlying.index, Array(m.underlying.files(at))),
                m.members(at))
              at += 1
            }
            if (current.next()) return true
            current.close()
            current = null
          }
          false
        }
        override def get(): T = current.get()
        override def close(): Unit = if (current != null) {
          current.close()
          current = null
        }
      }

    // Spark rejects scans mixing row-based and columnar PARTITIONS, so this
    // must not depend on the partition's deletes — the selection wrapper
    // keeps deleted-from members on the batch path too.
    override def supportColumnarReads(p: InputPartition): Boolean = p match {
      case m: MorFilePartition =>
        columnarCapable && delegate.supportColumnarReads(m.underlying)
      case other => columnarCapable && delegate.supportColumnarReads(other)
    }

    override def createColumnarReader(
        p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
      concat(p.asInstanceOf[MorFilePartition], columnarMember)
    }

    private def columnarMember(file: FilePartition, s: MorFile)
        : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
      val deleted = deletedOf(file, s) // sorted
      // EQUALITY deletes stay columnar too: the key probe is inherently
      // per-row (a hash-set lookup), but it only computes a SELECTION —
      // the batch's vectors are never copied, and downstream operators
      // keep the vectorized path
      val applicable = exclGroupsOf(s)
      val probes = probesOf(applicable)
      ScanBridge.morDataFileOpens.incrementAndGet()
      val inner = delegate.createColumnarReader(file)
      new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        // deleted positions and batch row indexes are both ascending within
        // a file or split: one monotone cursor per member, never a per-row
        // binary search
        private var delCursor = 0
        override def next(): Boolean = inner.next()
        override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
          val b = inner.get()
          val n = b.numRows()
          if (deleted.isEmpty && applicable.isEmpty) {
            val cols: Array[org.apache.spark.sql.vectorized.ColumnVector] =
              Array.tabulate(width)(b.column)
            return new org.apache.spark.sql.vectorized.ColumnarBatch(cols, n)
          }
          val idxCol = if (deleted.isEmpty) null else b.column(readWidth - 1)
          val sel = new Array[Int](n)
          var kept = 0
          var i = 0
          while (i < n) {
            var keep = true
            if (idxCol != null) {
              val pos = idxCol.getLong(i)
              while (delCursor < deleted.length && deleted(delCursor) < pos) delCursor += 1
              keep = delCursor >= deleted.length || deleted(delCursor) != pos
            }
            if (keep && applicable.nonEmpty)
              keep = !matchesAny(applicable, probes, b.getRow(i))
            if (keep) { sel(kept) = i; kept += 1 }
            i += 1
          }
          val cols: Array[org.apache.spark.sql.vectorized.ColumnVector] =
            if (kept == n) Array.tabulate(width)(b.column)
            else {
              val s = java.util.Arrays.copyOf(sel, kept)
              Array.tabulate(width)(c => new SelectedColumnVector(b.column(c), s))
            }
          new org.apache.spark.sql.vectorized.ColumnarBatch(cols, kept)
        }
        override def close(): Unit = inner.close()
      }
    }

    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val m = p.asInstanceOf[MorFilePartition]
      // every member requests the same metadata columns: one projection
      // serves the whole task, reading the member's values from its own
      // row joined after the delegate row (never from per-file literals,
      // which would generate a new class per file)
      val project = projectionOf(m.members.head.metaValues.map(_._1))
      concat(m, (file, s) => rowMember(file, s, project))
    }

    /** Projects a delegate row joined with its member's [[metaRow]] to the
      * scan's output. The delegate row is requiredSchema + eq-key columns
      * + row-index (appended in that order); the extras are projected out
      * — ordinals 0..n-1 are the required fields unless an ordinalMap
      * repositions them. Requested metadata columns append after: string
      * constants per file, `_pos` wired to the row index,
      * `_commit_snapshot_id` as a long. */
    private def projectionOf(metaNames: Seq[String])
        : org.apache.spark.sql.catalyst.expressions.UnsafeProjection = {
      import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Coalesce, Expression}
      val idxOrdinal = readWidth - 1
      val rowIndex = BoundReference(idxOrdinal, LongType, nullable = true)
      def meta(j: Int, t: org.apache.spark.sql.types.DataType) =
        BoundReference(readWidth + j, t, nullable = true)
      // ROW LINEAGE: prefer the file's MATERIALIZED per-row value
      // (compacted files carry one under the reserved field id); fall back
      // to the inherited value
      def lineage(materialized: Int, inherited: Expression): Expression =
        if (lineageCols == 0) inherited
        else Coalesce(Seq(BoundReference(materialized, LongType, nullable = true), inherited))
      val exprs: Seq[Expression] =
        requiredSchema.fields.zipWithIndex.map { case (f, i) =>
          BoundReference(if (ordinalMap == null) i else ordinalMap(i), f.dataType, f.nullable)
        }.toSeq ++
          metaNames.zipWithIndex.map {
            case ("_pos", _) => rowIndex
            // first_row_id + row index — which ASSIGNS ids to rewritten rows
            // that never had one, the spec's lazy rule; null for pre-lineage
            // files with nothing to inherit
            case ("_row_id", j) =>
              lineage(readWidth - 1 - lineageCols, Add(meta(j, LongType), rowIndex))
            case ("_last_updated_sequence_number", j) =>
              lineage(readWidth - lineageCols, meta(j, LongType))
            case ("_commit_snapshot_id", j) => meta(j, LongType)
            case ("_commit_timestamp", j) => // micros since epoch
              meta(j, org.apache.spark.sql.types.TimestampType)
            case (_, j) => meta(j, org.apache.spark.sql.types.StringType)
          }
      org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(exprs)
    }

    /** One member's metadata-column values in catalyst form, in the order
      * [[projectionOf]] reads them. */
    private def metaRow(s: MorFile): InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        s.metaValues.map[Any] {
          case (_, null) | ("_pos", _) => null
          case ("_row_id" | "_last_updated_sequence_number" | "_commit_snapshot_id" |
              "_commit_timestamp", v) => v.toLong
          case (_, v) => org.apache.spark.unsafe.types.UTF8String.fromString(v)
        }.toArray)

    private def rowMember(file: FilePartition, s: MorFile,
        project: org.apache.spark.sql.catalyst.expressions.UnsafeProjection)
        : PartitionReader[InternalRow] = {
      val deleted = deletedOf(file, s) // sorted
      // equality deletes apply only to files committed strictly earlier;
      // CDC members may carry their own (parent-visibility) specs
      val applicable = exclGroupsOf(s)
      val selecting =
        if (s.selectEqSpecs == null) null else groupsOf(s.selectEqSpecs, s)
      val selectPos = selectOf(file, s) // sorted, or null
      // a selection member whose selection resolved EMPTY emits nothing:
      // answer from the (cached) delete-file reads alone and never open the
      // data parquet (plan-time referenced-file bounds prune what metadata
      // can prove; any partition planned conservatively costs only this)
      if ((selectPos != null && selectPos.isEmpty) ||
          (selecting != null && selecting.forall(_.keys.isEmpty))) {
        ScanBridge.morEmptySelectionSkips.incrementAndGet()
        return new PartitionReader[InternalRow] {
          override def next(): Boolean = false
          override def get(): InternalRow = throw new java.util.NoSuchElementException
          override def close(): Unit = ()
        }
      }
      ScanBridge.morDataFileOpens.incrementAndGet()
      val inner = delegate.createReader(file)
      val idxOrdinal = readWidth - 1
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow(null, metaRow(s))
      val exclProbes = probesOf(applicable)
      val selProbes = if (selecting == null) null else probesOf(selecting)

      new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        override def next(): Boolean = {
          while (inner.next()) {
            val r = inner.get()
            // binary search, not a cursor: correct for any row order
            val pos = if (deleted.isEmpty && selectPos == null) -1L
              else r.getLong(idxOrdinal)
            val posLive = deleted.isEmpty ||
              java.util.Arrays.binarySearch(deleted, pos) < 0
            val posSelected = selectPos == null ||
              java.util.Arrays.binarySearch(selectPos, pos) >= 0
            val eqLive = applicable.isEmpty || !matchesAny(applicable, exclProbes, r)
            val eqSelected = selecting == null || matchesAny(selecting, selProbes, r)
            if (posLive && posSelected && eqLive && eqSelected) {
              current = project(joined.withLeft(r))
              return true
            }
          }
          false
        }
        override def get(): InternalRow = current
        override def close(): Unit = inner.close()
      }
    }
  }

  /** A SELECTION view over a column vector: presents only the rows whose
    * ordinals survive the merge-on-read position filter, without copying
    * any data — `sel(i)` maps the view's row i to the underlying batch row.
    * Struct children wrap lazily with the SAME selection (ColumnarRow reads
    * fields via `getChild(i).getX(rowId)`); array/map contents delegate
    * unmapped because their offsets live in the parent vector's entry. */
  private final class SelectedColumnVector(
      inner: org.apache.spark.sql.vectorized.ColumnVector,
      sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(inner.dataType()) {

    override def close(): Unit = () // the wrapped batch owns the buffers
    override def hasNull: Boolean = inner.hasNull
    override def numNulls(): Int = inner.numNulls() // upper bound; unused by exec
    override def isNullAt(rowId: Int): Boolean = inner.isNullAt(sel(rowId))
    override def getBoolean(rowId: Int): Boolean = inner.getBoolean(sel(rowId))
    override def getByte(rowId: Int): Byte = inner.getByte(sel(rowId))
    override def getShort(rowId: Int): Short = inner.getShort(sel(rowId))
    override def getInt(rowId: Int): Int = inner.getInt(sel(rowId))
    override def getLong(rowId: Int): Long = inner.getLong(sel(rowId))
    override def getFloat(rowId: Int): Float = inner.getFloat(sel(rowId))
    override def getDouble(rowId: Int): Double = inner.getDouble(sel(rowId))
    override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      inner.getArray(sel(rowId))
    override def getMap(rowId: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      inner.getMap(sel(rowId))
    override def getDecimal(rowId: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
      inner.getDecimal(sel(rowId), precision, scale)
    override def getUTF8String(rowId: Int): org.apache.spark.unsafe.types.UTF8String =
      inner.getUTF8String(sel(rowId))
    override def getBinary(rowId: Int): Array[Byte] = inner.getBinary(sel(rowId))
    private lazy val children =
      new java.util.concurrent.ConcurrentHashMap[Integer, SelectedColumnVector]()
    override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
      children.computeIfAbsent(ordinal,
        o => new SelectedColumnVector(inner.getChild(o), sel))
  }

  /** A DataFrame reading the DSv2 `table` as `spark.read...load(path)`
    * would, but over this table object itself: the provider does not load
    * the table a second time. */
  def tableDataFrame(spark: SparkSession,
      table: org.apache.spark.sql.connector.catalog.Table,
      path: String, options: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        table, None, None, new CaseInsensitiveStringMap((options + ("path" -> path)).asJava)))

  /** Build Spark's native parquet DSv2 scan (columnar batch reader, filter
    * pushdown to row groups/pages, vectorized decode) over a known file list.
    * `dataSchema` is the Iceberg snapshot schema: files missing evolved-in
    * columns read back as nulls via parquet schema clipping. */
  def parquetScan(
      spark: SparkSession,
      hadoopConf: Configuration,
      files: Seq[(String, Long)],
      dataSchema: StructType,
      readDataSchema: StructType,
      pushedFilters: Array[Filter],
      options: CaseInsensitiveStringMap): Scan = {
    val index = new KnownFilesIndex(spark, files, dataSchema)
    ParquetScan(spark, hadoopConf, index, dataSchema, readDataSchema,
      new StructType(), pushedFilters, options)
  }

  /** Spark's native ORC DSv2 scan (vectorized, predicate pushdown to
    * stripes) over a known file list — same zero-listing planning as
    * [[parquetScan]]. Missing evolved-in columns read back as nulls via
    * Spark's by-name ORC column resolution. */
  def orcScan(
      spark: SparkSession,
      hadoopConf: Configuration,
      files: Seq[(String, Long)],
      dataSchema: StructType,
      readDataSchema: StructType,
      pushedFilters: Array[Filter],
      options: CaseInsensitiveStringMap): Scan = {
    val index = new KnownFilesIndex(spark, files, dataSchema)
    OrcScan(spark, hadoopConf, index, dataSchema, readDataSchema,
      new StructType(), options, None, pushedFilters)
  }

  /** An input partition of a [[combinedBatch]], remembering which member
    * batch planned it so the combined factory routes it home. */
  final class RoutedPartition(
      private[graftbridge] val which: Int,
      private[graftbridge] val inner: InputPartition) extends InputPartition {
    override def preferredLocations(): Array[String] = inner.preferredLocations()
  }

  private final class RoutedReaderFactory(
      factories: Array[PartitionReaderFactory],
      columnarOK: Boolean) extends PartitionReaderFactory {
    private def r(p: InputPartition) = p.asInstanceOf[RoutedPartition]
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      factories(r(p).which).createReader(r(p).inner)
    override def createColumnarReader(p: InputPartition)
        : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      factories(r(p).which).createColumnarReader(r(p).inner)
    // Spark rejects mixed columnar/row partitions within one scan: report
    // columnar only when EVERY partition of every member batch supports it
    // (precomputed), else force the row path uniformly
    override def supportColumnarReads(p: InputPartition): Boolean =
      columnarOK && factories(r(p).which).supportColumnarReads(r(p).inner)
  }

  /** Concatenate several Batches into one (a mixed parquet+ORC Iceberg
    * table plans one scan per format, presented to Spark as a single
    * Batch). Columnar reads survive only if every member partition
    * supports them — otherwise the whole scan reads row-based, because
    * Spark refuses heterogeneous partition shapes. */
  def combinedBatch(batches: Seq[Batch]): Batch = new Batch {
    private lazy val parts: Array[Array[InputPartition]] =
      batches.map(_.planInputPartitions()).toArray
    override def planInputPartitions(): Array[InputPartition] =
      parts.zipWithIndex.flatMap { case (ps, i) =>
        ps.map(new RoutedPartition(i, _): InputPartition)
      }
    override def createReaderFactory(): PartitionReaderFactory = {
      val fs = batches.map(_.createReaderFactory()).toArray
      val columnarOK = parts.zipWithIndex.forall { case (ps, i) =>
        ps.forall(fs(i).supportColumnarReads)
      }
      new RoutedReaderFactory(fs, columnarOK)
    }
  }
}
