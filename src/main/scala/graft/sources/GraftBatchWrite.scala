package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.iceberg.{IcebergTable, IcebergWriter, Pruning, Transforms}

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
  * straight into parquet (one open writer per partition value per task,
  * Iceberg field ids stamped at every level, transform evaluation via the
  * shared [[Transforms]] kernels), and the driver commits the reported
  * files through the same optimistic snapshot machinery as every other
  * write. Nothing is re-dispatched through a DataFrame on the driver — the
  * shape a 1000-executor cluster needs.
  *
  * Commit cost: one footer-stats harvest (distributed for large commits) +
  * one metadata publish, independent of row count. */
final class GraftBatchWrite(table: IcebergTable, mode: WriteMode,
    querySchema: StructType) extends BatchWrite {

  private val commitId = UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = table.spark
    val ice = table.iceSchema
    // write in TABLE schema order/types (ids at every nesting level); the
    // query schema is already resolved positionally against it
    require(querySchema.length == table.schema.length,
      s"query writes ${querySchema.length} columns, table has ${table.schema.length}")
    val spec = table.partitionSpec
    val partInfo: Seq[GraftBatchWrite.PartField] = spec.fields.map { pf =>
      val src = ice.fields.find(_.id == pf.sourceId)
        .getOrElse(throw new IllegalStateException(s"no source field ${pf.sourceId}"))
      val ordinal = ice.fields.indexWhere(_.id == pf.sourceId)
      GraftBatchWrite.PartField(pf.name, pf.transform, ordinal,
        src.icebergTypeString, table.schema.fields(ordinal).dataType)
    }
    new GraftWriterFactory(table.url, commitId, table.schema, partInfo,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files: Seq[(String, Long, Seq[Any])] = messages.toSeq.flatMap {
      case m: GraftCommitMessage => m.files
    }
    val conf = spark.sessionState.newHadoopConf()
    val statsByPath = IcebergWriter.collectStats(spark,
      files.map(f => (f._1, f._2)), table.iceSchema, conf)
    val dataFiles = files.map { case (p, len, partValues) =>
      IcebergWriter.NewDataFile(new Path(p).toUri.getPath, len, statsByPath(p), partValues)
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
      table.runCommit(IcebergWriter.commitSnapshot(spark, table.url)(t => Some(build(t))))
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
    val conf = SparkSession.active.sessionState.newHadoopConf()
    messages.foreach {
      case m: GraftCommitMessage => m.files.foreach { case (p, _, _) =>
        val path = new Path(p)
        try path.getFileSystem(conf).delete(path, false)
        catch { case _: Exception => () } // best-effort cleanup
      }
      case _ => ()
    }
  }
}

object GraftBatchWrite {
  /** One partition-spec field, pre-resolved for task-side evaluation. */
  final case class PartField(name: String, transform: String, ordinal: Int,
      srcIcebergType: String, srcDataType: DataType) extends Serializable
}

/** Files written by one task: (path, bytes, partition values). */
final case class GraftCommitMessage(files: Seq[(String, Long, Seq[Any])])
  extends WriterCommitMessage

private final class GraftWriterFactory(url: String, commitId: String,
    schema: StructType, partInfo: Seq[GraftBatchWrite.PartField],
    conf: SerializableConfiguration) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(url, commitId, schema, partInfo, conf, partitionId, taskId)
}

/** Streams rows into parquet, fanning out one open file per partition
  * value (clustering upstream keeps the fan-in small — Spark's dynamic
  * overwrite plan repartitions by partition expressions). Partition values
  * are computed per row with the SAME [[Transforms]] kernels the metadata
  * plane prunes with, so write and prune semantics can never diverge. */
private[sources] final class GraftDataWriter(url: String, commitId: String,
    schema: StructType, partInfo: Seq[GraftBatchWrite.PartField],
    conf: SerializableConfiguration, partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  private val transforms = partInfo.map(p => Transforms.parse(p.transform))
  private val writers =
    mutable.LinkedHashMap.empty[Seq[Any], org.apache.parquet.hadoop.ParquetWriter[InternalRow]]
  private val paths = mutable.LinkedHashMap.empty[Seq[Any], Path]
  private var fileCounter = 0

  /** Catalyst internal value → the Iceberg value domain the [[Transforms]]
    * kernels evaluate over (Long-widened integrals, JVM strings; date stays
    * epoch-day, timestamp stays epoch-micros — already the physical repr). */
  private def iceValue(row: InternalRow, p: GraftBatchWrite.PartField): Any =
    if (row.isNullAt(p.ordinal)) null
    else row.get(p.ordinal, p.srcDataType) match {
      case u: UTF8String => u.toString
      case i: Int => i.toLong
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      case other => other
    }

  private def partTuple(row: InternalRow): Seq[Any] =
    partInfo.zip(transforms).map { case (p, t) =>
      val v = iceValue(row, p)
      if (v == null) null
      else t.apply(v, p.srcIcebergType).getOrElse(
        throw new UnsupportedOperationException(
          s"transform ${p.transform} cannot evaluate ${p.srcIcebergType}"))
    }

  /** Copy-on-write row-level operations hand (metadata, row) pairs; the
    * metadata (`_partition` provenance) is not needed to place the row —
    * partition values are recomputed from the row itself. */
  override def write(metadata: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    val key = if (partInfo.isEmpty) Nil else partTuple(row)
    val w = writers.getOrElseUpdate(key, {
      val path = new Path(
        s"$url/data/$commitId/part-$partitionId-$taskId-$fileCounter.parquet")
      fileCounter += 1
      paths(key) = path
      WriteBridge.parquetRowWriter(path, schema, conf.value)
    })
    w.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val files = writers.toSeq.map { case (key, w) =>
      w.close()
      val p = paths(key)
      val len = p.getFileSystem(conf.value).getFileStatus(p).getLen
      (p.toString, len, key)
    }
    GraftCommitMessage(files)
  }

  override def abort(): Unit = {
    writers.values.foreach(w => try w.close() catch { case _: Exception => () })
    paths.values.foreach { p =>
      try p.getFileSystem(conf.value).delete(p, false)
      catch { case _: Exception => () }
    }
  }

  override def close(): Unit = ()
}
