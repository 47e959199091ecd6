package graft.sources

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types._

import graft.iceberg.{IcebergTable, IcebergWriter, Pruning, TaskFileWriter, WrittenFile}

/** How a [[GraftBatchWrite]] commits its files. */
private[sources] sealed trait WriteMode extends Serializable
private[sources] object WriteMode {
  case object Append extends WriteMode
  /** Replace rows matching the predicate (AlwaysTrue = truncate). */
  final case class OverwriteByFilter(pred: Pruning.IcePredicate) extends WriteMode
  /** Replace exactly the partitions the written data touches. */
  case object OverwriteDynamic extends WriteMode
  /** Copy-on-write row-level op: replace exactly the files the operation's
    * scan covered (resolved lazily — the scan plans after the write builds)
    * and the delete files the scan APPLIED (the commit refuses if that set
    * changed — a post-pin delete would be resurrected by the rewrite).
    * `operation` names the snapshot ("delete"/"overwrite"). Driver-only. */
  final case class ReplaceFiles(
      files: () => Seq[graft.iceberg.Manifests.DataFileInfo],
      deleteFilesAtPin: () => Set[String],
      operation: String) extends WriteMode
}

/** The NATIVE DataSourceV2 write: executor DataWriters stream InternalRows
  * through the shared [[TaskFileWriter]] (rows arrive sorted by partition,
  * one open file per task, Iceberg field ids stamped at every level,
  * partition tuples from the [[graft.iceberg.Transforms]] kernels, stats
  * from each file's own footer), and the driver commits the reported files
  * through the same optimistic snapshot machinery as every other write.
  * Nothing is re-dispatched through a DataFrame on the driver — the shape
  * a 1000-executor cluster needs.
  *
  * Commit cost: one metadata publish, independent of row and file count —
  * no file is listed or re-opened. */
final class GraftBatchWrite(table: IcebergTable, mode: WriteMode,
    querySchema: StructType) extends BatchWrite {

  private val commitId = UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // write in TABLE schema order/types (ids at every nesting level); the
    // query schema is already resolved positionally against it
    require(querySchema.length == table.schema.length,
      s"query writes ${querySchema.length} columns, table has ${table.schema.length}")
    val spec = GraftBatchWrite.dataSpec(table, commitId)
    (partitionId: Int, taskId: Long) => new GraftDataWriter(spec, partitionId, taskId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dataFiles = messages.toSeq.flatMap {
      case m: GraftCommitMessage => m.files.map(_.dataFile)
    }
    // catalog-opened tables publish through the catalog's atomic commit
    // (REST updates/requirements); filesystem tables run the body as-is
    // WRITE-AUDIT-PUBLISH session controls (Iceberg's conf names), honored
    // when the table opts in via `write.wap.enabled`: `spark.wap.branch`
    // stages appends on a named branch; `spark.wap.id` (without a branch)
    // stages a REF-LESS snapshot stamped with the id — main readers see
    // nothing until `CALL system.publish_changes(wap_id)` splices it in.
    val wapEnabled = table.metadata.properties
      .get("write.wap.enabled").exists(_.equalsIgnoreCase("true"))
    val wapBranch = spark.conf.getOption("spark.wap.branch")
      .filter(_.nonEmpty).filter(_ => wapEnabled)
    val wapId = spark.conf.getOption("spark.wap.id")
      .filter(_.nonEmpty).filter(_ => wapEnabled)
    // WAP stages APPENDS only. Any other mode committing straight to main
    // while a branch/id is active would silently defeat the audit gate the
    // user thinks is on — refuse loudly instead (the append-only staging
    // contract the snapshot producer enforces).
    if ((wapBranch.isDefined || wapId.isDefined) && mode != WriteMode.Append)
      throw new IllegalStateException(
        s"write-audit-publish session is active (${wapBranch.map("spark.wap.branch=" + _)
          .orElse(wapId.map("spark.wap.id=" + _)).get}) but the write mode is " +
          s"not an append — staging overwrite/replace commits is not supported, " +
          "and publishing them straight to main would bypass the audit gate. " +
          "Unset the WAP conf to write to main directly.")
    def publish(build: IcebergTable => IcebergWriter.SnapshotUpdate): Unit =
      IcebergWriter.commitSnapshot(table.ops)(t => Some(build(t)))
    mode match {
      case WriteMode.Append =>
        val target = wapBranch.map(IcebergWriter.SnapshotTarget.Branch)
          .getOrElse(if (wapId.isDefined) IcebergWriter.SnapshotTarget.Staged
            else IcebergWriter.SnapshotTarget.Main)
        publish(_ => IcebergWriter.SnapshotUpdate("append", added = dataFiles,
          summary = wapId.map("wap.id" -> _).toMap, target = target))
      case WriteMode.OverwriteByFilter(pred) =>
        publish(t => IcebergWriter.SnapshotUpdate("overwrite", added = dataFiles,
          removed = IcebergWriter.wholeFilesMatching(t, pred)))
      case WriteMode.ReplaceFiles(files, deleteFilesAtPin, operation) =>
        val (removed, deletesAtPin) = (files(), deleteFilesAtPin())
        publish { t =>
          IcebergWriter.requireDeletesUnchanged(t, deletesAtPin)
          IcebergWriter.SnapshotUpdate(operation, added = dataFiles, removed = removed)
        }
      case WriteMode.OverwriteDynamic =>
        // victims: live files whose partition tuple appears among the
        // WRITTEN files' tuples — metadata-only, whole-file by construction.
        // Resolution happens per commit attempt, so a concurrent append
        // into a touched partition is replaced too.
        val touched = dataFiles
          .map(f => f.partition.map(IcebergWriter.normPartValue): Seq[Any]).toSet
        publish(t => IcebergWriter.SnapshotUpdate("overwrite", added = dataFiles,
          removed = IcebergWriter.dynamicVictims(t, touched),
          summary = Map("graft-overwrite-mode" -> "dynamic")))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    TaskFileWriter.deleteQuietly(messages.toSeq.flatMap {
      case m: GraftCommitMessage => m.files
      case _ => Nil
    }, table.conf)
  }
}

object GraftBatchWrite {
  /** Data files of `table`'s rows under `data/<commitId>/`. */
  private[sources] def dataSpec(table: IcebergTable, commitId: String): TaskFileWriter.Spec =
    TaskFileWriter.spec(table.spark, s"${table.url}/data/$commitId", table.schema,
      TaskFileWriter.Kind.Data(table.iceSchema), TaskFileWriter.partFields(table, table.schema))
}

/** Files written by one task. */
final case class GraftCommitMessage(files: Seq[WrittenFile])
  extends WriterCommitMessage

/** A DSv2 data writer over the shared [[TaskFileWriter]]. */
private[sources] final class GraftDataWriter(spec: TaskFileWriter.Spec,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  private val files = new TaskFileWriter(spec, partitionId, taskId)

  /** Copy-on-write row-level operations hand (metadata, row) pairs; the
    * metadata (`_partition` provenance) is not needed to place the row —
    * partition values are recomputed from the row itself. */
  override def write(metadata: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = files.write(row)

  override def commit(): WriterCommitMessage = GraftCommitMessage(files.commit())

  override def abort(): Unit = files.abort()

  override def close(): Unit = ()
}
