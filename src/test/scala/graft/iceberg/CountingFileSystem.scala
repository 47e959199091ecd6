package graft.iceberg

import java.util.EnumSet
import java.util.concurrent.CompletableFuture
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, FilterFileSystem, FutureDataInputStreamBuilder, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext

/** A local filesystem under the `counting://` scheme that records every
  * create, open, listing, rename, delete and mkdirs it serves — with the
  * path and whether a Spark task or the driver made the call — and can
  * fail chosen creates. Specs use it to pin which filesystem calls an
  * operation makes, and to inject I/O faults.
  *
  * Register it with the session's `fs.counting.impl` (and
  * `fs.counting.impl.disable.cache=true`); the record and the fault are
  * JVM-wide, so a spec resets them before the calls it measures. */
class CountingFileSystem extends FilterFileSystem(new CountingFileSystem.Local) {
  import CountingFileSystem._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    created(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: ChecksumOpt): FSDataOutputStream = {
    created(f)
    super.create(f, permission, flags, bufferSize, replication, blockSize, progress,
      checksumOpt)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    created(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize,
      progress)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record("open", f)
    super.open(f, bufferSize)
  }

  // FilterFileSystem hands the openFile builder to the wrapped filesystem,
  // which would bypass openFileWithOptions below; parquet opens this way
  override def openFile(f: Path): FutureDataInputStreamBuilder = {
    record("open", f)
    super.openFile(f)
  }

  override protected def openFileWithOptions(f: Path,
      parameters: OpenFileParameters): CompletableFuture[FSDataInputStream] = {
    record("open", f)
    super.openFileWithOptions(f, parameters)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    record("rename", dst)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    record("delete", f)
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    record("mkdirs", f)
    super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    record("list", f)
    super.listStatus(f)
  }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    record("list", f)
    super.listStatusIterator(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    record("list", f)
    super.listLocatedStatus(f)
  }

  override def globStatus(pattern: Path): Array[FileStatus] = {
    record("list", pattern)
    super.globStatus(pattern)
  }

  private def created(f: Path): Unit = {
    record("create", f)
    val fault = createFault.get
    if (fault != null && fault.matches(f) && fault.countdown() == 0)
      throw new java.io.IOException(s"injected create failure: $f")
  }
}

object CountingFileSystem {

  /** One filesystem call: what, on which path, and whether a Spark task
    * (rather than the driver) made it. */
  final case class Call(op: String, path: String, inTask: Boolean)

  /** Fails the `nth` create (1-based) of a path `matches` accepts. */
  final class CreateFault(val matches: Path => Boolean, nth: Int) {
    private val left = new java.util.concurrent.atomic.AtomicInteger(nth)
    private[CountingFileSystem] def countdown(): Int = left.decrementAndGet()
  }

  private val log = new ConcurrentLinkedQueue[Call]()
  private val createFault = new AtomicReference[CreateFault](null)

  /** Session confs that register the scheme. */
  val Confs: Seq[(String, String)] = Seq(
    "fs.counting.impl" -> classOf[CountingFileSystem].getName,
    "fs.counting.impl.disable.cache" -> "true")

  def reset(): Unit = { log.clear(); createFault.set(null) }

  /** The calls recorded since the last [[reset]], in order. */
  def calls: Seq[Call] = log.asScala.toSeq

  /** Arm (or with null, disarm) the create fault. */
  def failCreate(fault: CreateFault): Unit = createFault.set(fault)

  private def record(op: String, f: Path): Unit =
    log.add(Call(op, f.toUri.getPath, TaskContext.get() != null))

  /** The raw local filesystem under the `counting` scheme. Its statuses
    * carry no permissions: the local ones load them lazily through a
    * `file://` path, which this scheme's callers never read. */
  final class Local extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("counting:///")
    private def plain(st: FileStatus): FileStatus = new FileStatus(st.getLen,
      st.isDirectory, st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getPath)
    override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  }
}
