package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.iceberg.{IcebergTable, IcebergWriter, Transforms}

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
      override def build(): DeltaWrite = new DeltaWrite {
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
    val spark = table.spark
    val ice = table.iceSchema
    val spec = table.partitionSpec
    val partInfo: Seq[GraftBatchWrite.PartField] = spec.fields.map { pf =>
      val src = ice.fields.find(_.id == pf.sourceId)
        .getOrElse(throw new IllegalStateException(s"no source field ${pf.sourceId}"))
      val ordinal = ice.fields.indexWhere(_.id == pf.sourceId)
      GraftBatchWrite.PartField(pf.name, pf.transform, ordinal,
        src.icebergTypeString, table.schema.fields(ordinal).dataType)
    }
    new GraftDeltaWriterFactory(table.url, commitId, table.schema, partInfo,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dataFiles = mutable.ArrayBuffer.empty[(String, Long, Seq[Any])]
    val deleteFiles = mutable.ArrayBuffer.empty[(String, Long, Long)]
    messages.foreach {
      case m: GraftDeltaCommitMessage =>
        dataFiles ++= m.dataFiles
        deleteFiles ++= m.deleteFiles
      case _ => ()
    }
    // catalog-opened tables publish through the catalog's atomic commit
    table.runCommit(IcebergWriter.commitDelta(spark, table.url, commitId,
      dataFiles.toSeq, deleteFiles.toSeq, operation,
      scannedKeys(), deleteFilesAtScan(), addValidation()))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    messages.foreach {
      case m: GraftDeltaCommitMessage =>
        (m.dataFiles.map(_._1) ++ m.deleteFiles.map(_._1)).foreach { p =>
          val path = new Path(p)
          try path.getFileSystem(conf).delete(path, false)
          catch { case _: Exception => () } // best-effort cleanup
        }
      case _ => ()
    }
  }
}

/** Files written by one delta task: ordinary data files (for inserts) and
  * position-delete files as (path, bytes, delete-row count). */
final case class GraftDeltaCommitMessage(
    dataFiles: Seq[(String, Long, Seq[Any])],
    deleteFiles: Seq[(String, Long, Long)]) extends WriterCommitMessage

private final class GraftDeltaWriterFactory(url: String, commitId: String,
    schema: StructType, partInfo: Seq[GraftBatchWrite.PartField],
    conf: SerializableConfiguration) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaRowWriter(url, commitId, schema, partInfo, conf, partitionId, taskId)
}

/** Task-side delta writer: inserts stream through the shared partition-
  * fanout data writer; deletes buffer (file, position) pairs and flush at
  * commit as ONE position-delete parquet per task, sorted by (path, pos) as
  * the Iceberg spec requires. Buffered state is two scalars per deleted
  * row — bounded by the rows this task's deltas touch, not the table. */
private final class GraftDeltaRowWriter(url: String, commitId: String,
    schema: StructType, partInfo: Seq[GraftBatchWrite.PartField],
    conf: SerializableConfiguration, partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {

  // lazy: a pure DELETE never instantiates the insert-side writer
  private lazy val dataWriter =
    new GraftDataWriter(url, commitId, schema, partInfo, conf, partitionId, taskId)
  private var dataWriterUsed = false
  private val deletes = mutable.ArrayBuffer.empty[(String, Long)]

  // rowId projection order matches GraftDeltaRowLevelOperation.rowId()
  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    require(!id.isNullAt(0) && !id.isNullAt(1),
      "delta delete requires non-null (_file, _pos) row id")
    deletes += ((id.getUTF8String(0).toString, id.getLong(1)))
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    // representUpdateAsDeleteAndInsert=true means Spark normally splits
    // updates itself; implemented anyway for protocol completeness
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    dataWriterUsed = true
    dataWriter.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val dataFiles: Seq[(String, Long, Seq[Any])] =
      if (dataWriterUsed)
        dataWriter.commit() match { case m: GraftCommitMessage => m.files }
      else Nil
    val deleteFiles: Seq[(String, Long, Long)] =
      if (deletes.isEmpty) Nil
      else {
        val path = new Path(
          s"$url/data/$commitId-deletes/part-$partitionId-$taskId.parquet")
        val delSchema = StructType(Seq(
          StructField("file_path", StringType, nullable = false),
          StructField("pos", LongType, nullable = false)))
        val w = WriteBridge.parquetRowWriter(path, delSchema, conf.value)
        // spec: position deletes sorted by (file path, position)
        deletes.sortInPlaceBy(identity)
        val buf = new Array[Any](2)
        deletes.foreach { case (f, p) =>
          buf(0) = UTF8String.fromString(f); buf(1) = p
          w.write(new GenericInternalRow(buf.clone()))
        }
        w.close()
        val len = path.getFileSystem(conf.value).getFileStatus(path).getLen
        Seq((path.toString, len, deletes.size.toLong))
      }
    GraftDeltaCommitMessage(dataFiles, deleteFiles)
  }

  override def abort(): Unit = {
    if (dataWriterUsed) dataWriter.abort()
    val p = new Path(
      s"$url/data/$commitId-deletes/part-$partitionId-$taskId.parquet")
    try p.getFileSystem(conf.value).delete(p, false)
    catch { case _: Exception => () }
  }

  override def close(): Unit = ()
}
