package graft.iceberg

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{DelegatingPositionOutputStream, OutputFile, PositionOutputStream}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types.{DataType, Decimal, LongType, MetadataBuilder, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import IcebergWriter.FileStats

/** One parquet file a write task closed: its final path, its length, its
  * partition tuple (in the form manifests store) and the stats its own
  * footer holds. */
private[graft] final case class WrittenFile(path: String, size: Long,
    partition: Seq[Any], stats: FileStats) {
  def dataFile: IcebergWriter.NewDataFile =
    IcebergWriter.NewDataFile(new Path(path).toUri.getPath, size, stats, partition)
}

/** The one writer of the parquet files a commit registers (data, position
  * and equality delete files; DataFrame API and DSv2 alike). It runs in a
  * write task and writes each file once, at its final path: an Iceberg
  * commit publishes by swapping metadata, so no output committer
  * (`_temporary`, renames, `_SUCCESS`) and no listing or re-read is needed.
  * Partition tuples come from the [[Transforms]] kernels pruning uses, stats
  * from the closing writer's own footer.
  *
  * Rows arrive sorted by partition tuple: the task holds one open file and
  * rolls to the next when the tuple changes. File names carry the task
  * attempt id, and [[abort]] deletes what this attempt wrote. */
private[graft] final class TaskFileWriter(spec: TaskFileWriter.Spec,
    partitionId: Int, attemptId: Long) {

  import TaskFileWriter._

  private val parts = spec.partFields.map(p => (p, Transforms.parse(p.transform)))
  private val written = mutable.ArrayBuffer.empty[WrittenFile]
  private val created = mutable.ArrayBuffer.empty[Path]
  private var current: OpenFile = _
  private var currentKey: Seq[Any] = Nil

  def write(row: InternalRow): Unit = {
    val key = if (parts.isEmpty) Nil else partitionOf(row)
    if (current == null || key != currentKey) {
      closeCurrent()
      val path = new Path(s"${spec.dir}/part-$partitionId-$attemptId-${created.size}.parquet")
      created += path
      current = new OpenFile(path, spec.conf.value.value)
      currentKey = key
    }
    current.writer.write(row)
  }

  /** Close the open file; every file this attempt wrote, in write order. */
  def commit(): Seq[WrittenFile] = {
    closeCurrent()
    written.toSeq
  }

  /** Delete every file this attempt created (best effort). */
  def abort(): Unit = {
    if (current != null) current.abandon()
    current = null
    created.foreach(deletePath(_, spec.conf.value.value))
  }

  private def closeCurrent(): Unit = if (current != null) {
    val (size, footer) = current.close()
    written += WrittenFile(created.last.toString, size, currentKey,
      statsOf(spec.kind, footer))
    current = null
  }

  private def partitionOf(row: InternalRow): Seq[Any] = parts.map { case (p, t) =>
    val v = icebergValue(row, p)
    if (v == null) null
    else stored(t.apply(v, p.srcIcebergType).getOrElse(
      throw new UnsupportedOperationException(
        s"transform ${p.transform} cannot evaluate ${p.srcIcebergType}")))
  }
}

private[graft] object TaskFileWriter {

  /** How a closed file's footer becomes its manifest stats. */
  sealed trait Kind extends Serializable
  object Kind {
    /** A data file: record count, per-column counts and bounds. */
    final case class Data(schema: IceSchema) extends Kind
    /** A position-delete file: record count and `file_path` bounds. */
    case object PositionDeletes extends Kind
    /** An equality-delete file: record count. */
    case object EqualityDeletes extends Kind
  }

  /** One partition-spec field, resolved against the written rows. */
  final case class PartField(transform: String, ordinal: Int,
      srcIcebergType: String, srcDataType: DataType)

  /** What a write task writes: files of `kind` under `dir`, one file per
    * run of equal `partFields` tuples, opened against `conf` — the job's
    * writer conf (see [[spec]]), which fixes the rows' schema. */
  final case class Spec(dir: String, kind: Kind,
      conf: Broadcast[SerializableConfiguration], partFields: Seq[PartField] = Nil)

  /** The [[Spec]] of one write job of rows of `schema`: the session's
    * Hadoop conf is copied once, prepared for `schema`
    * ([[WriteBridge.prepareWriterConf]]) and broadcast, so a task's closure
    * carries a broadcast handle instead of ~1,100 conf entries, and every
    * file the job opens reads the same copy. */
  def spec(spark: SparkSession, dir: String, schema: StructType, kind: Kind,
      partFields: Seq[PartField] = Nil): Spec =
    Spec(dir, kind, spark.sparkContext.broadcast(new SerializableConfiguration(
      WriteBridge.prepareWriterConf(spark.sessionState.newHadoopConf(), schema))),
      partFields)

  /** `table`'s default-spec fields, their sources resolved by name in the
    * written rows' `schema`. */
  def partFields(table: IcebergTable, schema: StructType): Seq[PartField] =
    IcebergWriter.specInfoOf(table).map { case (pf, srcType, _) =>
      val ordinal = schema.fieldIndex(
        table.iceSchema.fields.find(_.id == pf.sourceId).get.name)
      PartField(pf.transform, ordinal, srcType, schema(ordinal).dataType)
    }

  /** Position-delete rows as the spec writes them: (file_path, pos) under
    * the reserved field ids. */
  val PositionDeleteSchema: StructType = {
    def id(n: Int) = new MetadataBuilder().putLong("parquet.field.id", n.toLong).build()
    StructType(Seq(
      StructField("file_path", StringType, nullable = false, id(Manifests.PosDeletePathFieldId)),
      StructField("pos", LongType, nullable = false, id(Manifests.PosDeletePosFieldId))))
  }

  /** Write `df`'s rows as `kind` files under `dir`, one [[TaskFileWriter]]
    * per task, and return every file the tasks closed, in partition order.
    * If the job fails, the files of tasks that had already finished are
    * deleted too (a failed task deletes its own), so a failed write leaves
    * nothing behind. */
  def writeAll(df: DataFrame, dir: String, kind: Kind,
      partFields: Seq[PartField] = Nil): Seq[WrittenFile] = {
    val spec = this.spec(df.sparkSession, dir, df.schema, kind, partFields)
    val done = mutable.TreeMap.empty[Int, Seq[WrittenFile]]
    try WriteBridge.runTasks(df, s"write ${spec.dir}") { (ctx, rows) =>
        val w = new TaskFileWriter(spec, ctx.partitionId, ctx.taskAttemptId)
        try {
          rows.foreach(w.write)
          w.commit()
        } catch { case t: Throwable => w.abort(); throw t }
      } { (i, files) => done.synchronized(done(i) = files) }
    catch {
      case t: Throwable =>
        deleteQuietly(done.synchronized(done.values.flatten.toSeq), spec.conf.value.value)
        throw t
    }
    done.values.flatten.toSeq
  }

  /** Write `rows` as ONE file at exactly `path`: its length and footer. A
    * failed write deletes the file. */
  def writeOne(path: Path, schema: StructType, conf: Configuration,
      rows: Iterator[InternalRow]): (Long, ParquetMetadata) = {
    var f: OpenFile = null
    try {
      f = new OpenFile(path, WriteBridge.prepareWriterConf(new Configuration(conf), schema))
      rows.foreach(f.writer.write)
      f.close()
    } catch {
      case t: Throwable =>
        if (f != null) f.abandon()
        deletePath(path, conf)
        throw t
    }
  }

  /** A parquet file open at `path` under a prepared writer conf. Its stream
    * records its position when the writer closes it: the file's length,
    * with no status call. */
  private final class OpenFile(path: Path, conf: Configuration) {
    private var length = -1L
    private val file = HadoopOutputFile.fromPath(path, conf)
    val writer: ParquetWriter[InternalRow] = WriteBridge.parquetRowWriter(new OutputFile {
      override def create(hint: Long): PositionOutputStream = sized(file.create(hint))
      override def createOrOverwrite(hint: Long): PositionOutputStream =
        sized(file.createOrOverwrite(hint))
      override def supportsBlockSize(): Boolean = file.supportsBlockSize()
      override def defaultBlockSize(): Long = file.defaultBlockSize()
      override def getPath: String = file.getPath
    }, conf)

    private def sized(s: PositionOutputStream): PositionOutputStream =
      new DelegatingPositionOutputStream(s) {
        override def getPos: Long = s.getPos
        override def close(): Unit = { length = s.getPos; super.close() }
      }

    def close(): (Long, ParquetMetadata) = {
      writer.close()
      (length, writer.getFooter)
    }

    def abandon(): Unit = try writer.close() catch { case _: Exception => () }
  }

  private def statsOf(kind: Kind, footer: ParquetMetadata): FileStats = kind match {
    case Kind.Data(schema) => IcebergWriter.footerStats(footer, schema, foreign = false)
    case Kind.PositionDeletes => IcebergWriter.posDeleteFileStats(footer)
    case Kind.EqualityDeletes =>
      FileStats(footer.getBlocks.asScala.map(_.getRowCount).sum,
        Map.empty, Map.empty, Map.empty, Map.empty)
  }

  /** Catalyst value → the domain the [[Transforms]] kernels evaluate over
    * (integrals as Long, JVM strings, Scala decimals; dates stay epoch days
    * and timestamps epoch micros — already their physical form). */
  private def icebergValue(row: InternalRow, p: PartField): Any =
    if (row.isNullAt(p.ordinal)) null
    else row.get(p.ordinal, p.srcDataType) match {
      case u: UTF8String => u.toString
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case d: Decimal => d.toBigDecimal
      case other => other
    }

  /** A transform result in the form manifests store: int-like values as
    * Long, strings as themselves, anything else as its string form. */
  private def stored(v: Any): Any = v match {
    case null | _: Long | _: String => v
    case d: BigDecimal => d.bigDecimal.toPlainString
    case _: Array[Byte] =>
      throw new UnsupportedOperationException("binary partition values are not supported")
    case other => other.toString
  }

  /** Delete written files, best effort: cleanup after a failed write. */
  def deleteQuietly(files: Seq[WrittenFile], conf: Configuration): Unit =
    files.foreach(f => deletePath(new Path(f.path), conf))

  private def deletePath(p: Path, conf: Configuration): Unit =
    try p.getFileSystem(conf).delete(p, false)
    catch { case _: Exception => () }
}
