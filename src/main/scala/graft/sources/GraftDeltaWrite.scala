package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.iceberg.{IcebergTable, IcebergWriter, TaskFileWriter, WrittenFile}

/** MERGE-ON-READ row-level operations (Spark's `SupportsDelta` protocol):
  * instead of copy-on-write's whole-file rewrite, each task streams the
  * operation's row deltas — deletes as (data file, row position) pairs into
  * position-delete parquets, inserts (updates are represented as
  * delete+insert) into ordinary data files — and the driver commits both in
  * ONE snapshot. A 1-row UPDATE on a 10 000-file table writes one tiny
  * delete file and one tiny insert file; the read side's existing
  * merge-on-read machinery applies them. This is Iceberg's
  * `write.update.mode=merge-on-read` shape, and the scalable default for
  * frequent small DML at 100 TB (compaction folds the deltas back when read
  * amplification grows).
  *
  * Row identity is the scan's `_file`/`_pos` metadata columns — exact under
  * pushed filters and row-group skipping because `_pos` is the materialized
  * parquet row index, never an ordinal counter. */
final class GraftDeltaRowLevelOperation(tbl: GraftIcebergV2Table,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.SupportsDelta {

  import org.apache.spark.sql.connector.write.RowLevelOperation.Command

  @volatile private var scanned: Seq[graft.iceberg.Manifests.DataFileInfo] = Nil
  @volatile private var liveKeysAtScan: Set[String] = Set.empty
  @volatile private var scanPred: graft.iceberg.Pruning.IcePredicate =
    graft.iceberg.Pruning.AlwaysTrue

  override def command(): Command = cmd

  override def description(): String = s"graft merge-on-read $cmd"

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new GraftIcebergScanBuilder(tbl, options, dmlScan = true, onBuild = { s =>
      scanned = s.scanFiles
      // serializable-isolation pin: ALL live files at scan time (not just
      // the pruned ones) plus the operation's pushed condition — at commit,
      // any file outside this set that might match the condition refuses
      scanPred = s.scanPredicate
      liveKeysAtScan = tbl.allLiveFiles.map(f =>
        IcebergWriter.morKeyOf(tbl.table.resolvePath(f.filePath))).toSet
    })

  /** (file, position) identifies a row; Spark projects these from the
    * scan's metadata columns into every delete/update delta. */
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_partition"))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        override def requiredDistribution():
            org.apache.spark.sql.connector.distributions.Distribution =
          org.apache.spark.sql.connector.distributions.Distributions.unspecified()
        // inserts reach the task's data writer grouped by partition, so it
        // holds one open file; a DELETE writes no data file and needs no sort
        override def requiredOrdering():
            Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          if (cmd == Command.DELETE) Array.empty
          else GraftIcebergWriteBuilder.partitionOrdering(tbl.partitioning())
        override def toBatch: DeltaBatchWrite = {
          val op = if (cmd == Command.DELETE) "delete" else "overwrite"
          new GraftDeltaBatchWrite(tbl.table, op, info.schema(),
            // pinned at scan time on the SAME table instance the reads
            // used: commit validation detects concurrent file removal /
            // delete commits and refuses rather than corrupting
            () => scanned.map(f =>
              IcebergWriter.morKeyOf(tbl.table.resolvePath(f.filePath))).toSet,
            () => IcebergWriter.liveDeleteSet(tbl.table),
            () => (liveKeysAtScan, scanPred))
        }
      }
    }
}

/** Driver side of a delta write: hands executor tasks a
  * [[GraftDeltaWriterFactory]], then commits reported data + delete files
  * through [[IcebergWriter.commitDelta]]'s optimistic snapshot loop. */
final class GraftDeltaBatchWrite(table: IcebergTable, operation: String,
    querySchema: StructType,
    scannedKeys: () => Set[String],
    deleteFilesAtScan: () => Set[String],
    addValidation: () => (Set[String], graft.iceberg.Pruning.IcePredicate))
  extends DeltaBatchWrite {

  private val commitId = UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val data = GraftBatchWrite.dataSpec(table, commitId)
    val deletes = TaskFileWriter.spec(table.spark, s"${table.url}/data/$commitId-deletes",
      TaskFileWriter.PositionDeleteSchema, TaskFileWriter.Kind.PositionDeletes)
    (partitionId: Int, taskId: Long) => new GraftDeltaRowWriter(data, deletes, partitionId, taskId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dataFiles = mutable.ArrayBuffer.empty[WrittenFile]
    val deleteFiles = mutable.ArrayBuffer.empty[WrittenFile]
    messages.foreach {
      case m: GraftDeltaCommitMessage =>
        dataFiles ++= m.dataFiles
        deleteFiles ++= m.deleteFiles
      case _ => ()
    }
    // catalog-opened tables publish through the catalog's atomic commit
    IcebergWriter.commitDelta(table.ops, commitId,
      dataFiles.toSeq, deleteFiles.toSeq, operation,
      scannedKeys(), deleteFilesAtScan(), addValidation())
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    TaskFileWriter.deleteQuietly(messages.toSeq.flatMap {
      case m: GraftDeltaCommitMessage => m.dataFiles ++ m.deleteFiles
      case _ => Nil
    }, table.conf)
  }
}

/** Files written by one delta task: ordinary data files (for inserts) and
  * position-delete files. */
final case class GraftDeltaCommitMessage(
    dataFiles: Seq[WrittenFile],
    deleteFiles: Seq[WrittenFile]) extends WriterCommitMessage

/** Task-side delta writer: inserts stream through the shared data writer;
  * deletes buffer (file, position) pairs and flush at commit as ONE
  * position-delete parquet per task, sorted by (path, pos) as the Iceberg
  * spec requires, through the same [[TaskFileWriter]]. Buffered state is
  * two scalars per deleted row — bounded by the rows this task's deltas
  * touch, not the table. */
private final class GraftDeltaRowWriter(data: TaskFileWriter.Spec,
    deletes: TaskFileWriter.Spec, partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {

  // both open files lazily: a pure DELETE writes no data file
  private val dataWriter = new TaskFileWriter(data, partitionId, taskId)
  private val deleteWriter = new TaskFileWriter(deletes, partitionId, taskId)
  private val positions = mutable.ArrayBuffer.empty[(String, Long)]

  // rowId projection order matches GraftDeltaRowLevelOperation.rowId()
  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    require(!id.isNullAt(0) && !id.isNullAt(1),
      "delta delete requires non-null (_file, _pos) row id")
    positions += ((id.getUTF8String(0).toString, id.getLong(1)))
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    // representUpdateAsDeleteAndInsert=true means Spark normally splits
    // updates itself; implemented anyway for protocol completeness
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = dataWriter.write(row)

  override def commit(): WriterCommitMessage = {
    val dataFiles = dataWriter.commit()
    // spec: position deletes sorted by (file path, position)
    positions.sortInPlace()
    positions.foreach { case (f, p) =>
      deleteWriter.write(new GenericInternalRow(Array[Any](UTF8String.fromString(f), p)))
    }
    GraftDeltaCommitMessage(dataFiles, deleteWriter.commit())
  }

  override def abort(): Unit = {
    dataWriter.abort()
    deleteWriter.abort()
  }

  override def close(): Unit = ()
}
