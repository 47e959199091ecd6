package graft.iceberg

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession

/** The operations of ONE table (iceberg-java's `TableOperations`): load its
  * current state, and publish a new one atomically. Every commit goes
  * through the ops its caller passes ([[IcebergWriter.commitWithRetry]]);
  * a table handle carries the ops it was loaded through
  * ([[IcebergTable.ops]]), so a catalog table commits through its catalog
  * from any thread. Data files and manifests always go under `url`. */
trait TableOps {
  val spark: SparkSession
  val url: String

  /** A fresh load of the table, carrying these ops. */
  def current(): IcebergTable

  /** Publish `updates` on top of `base`; false when a concurrent committer
    * won, and the caller must rebuild against [[current]]. */
  def commit(base: IcebergTable, updates: Seq[MetadataUpdate]): Boolean
}

/** A table whose catalog is its own metadata directory (iceberg-java's
  * `HadoopTableOperations`): `v{N}.metadata.json` files and a
  * `version-hint.text` naming the latest. */
final case class FileSystemOps(spark: SparkSession, url: String) extends TableOps {

  def current(): IcebergTable = IcebergTable.load(spark, url)

  /** [[MetadataUpdate.applyTo]] `base`, published as `v{N+1}.metadata.json`.
    * A committer that loses the create backs off until the winner moves
    * the version hint: a reload before that still reads the version this
    * attempt lost at, and retrying against it only loses again. */
  def commit(base: IcebergTable, updates: Seq[MetadataUpdate]): Boolean =
    try {
      FileSystemOps.publish(url, base.version + 1, MetadataUpdate.applyTo(base, updates),
        base.conf)
      true
    } catch {
      case _: FileAlreadyExistsException =>
        var waitMs = 1L
        while (IcebergTable.versionHint(url, base.conf) <= base.version && waitMs <= 1024) {
          Thread.sleep(waitMs)
          waitMs *= 2
        }
        false
    }
}

object FileSystemOps {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Serializes same-JVM committers (local FS create(overwrite=false) has a
    * check-then-create window); cross-process atomicity is the filesystem's
    * exclusive-create contract (HDFS yes, raw object stores no — catalog). */
  private val commitLock = new Object

  /** Publish a table's or view's `v{version}.metadata.json` with an
    * EXCLUSIVE create (FileAlreadyExistsException when another committer
    * holds that version), then move the version hint. Once the create
    * succeeds the version is published: the hint update can neither fail
    * it nor make it retry (see [[writeHint]]). */
  private[iceberg] def publish(url: String, version: Int, json: String,
      conf: Configuration): Unit = {
    val p = new Path(s"$url/metadata/v$version.metadata.json")
    val fs = p.getFileSystem(conf)
    commitLock.synchronized {
      if (fs.exists(p)) // pre-check; the create below is the atomic gate
        throw new FileAlreadyExistsException(p.toString)
      val out = fs.create(p, false)
      try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    writeHint(url, version, conf)
  }

  /** Near-atomic hint update: write aside, then delete+rename. Readers that
    * hit the tiny window fall back to IcebergTable.versionHint's dir scan.
    * The new version is already published when this runs, so an I/O
    * failure is logged, not raised — as Iceberg's HadoopTableOperations
    * does. The hint is then removed, so readers and the next committer
    * scan the metadata directory instead of trusting a stale version. */
  private def writeHint(url: String, version: Int, conf: Configuration): Unit = {
    val target = new Path(s"$url/metadata/version-hint.text")
    val tmp = new Path(s"$url/metadata/.version-hint.${UUID.randomUUID()}.tmp")
    val fs = target.getFileSystem(conf)
    try {
      val out = fs.create(tmp, true)
      try out.write(version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      commitLock.synchronized {
        fs.delete(target, false)
        if (!fs.rename(tmp, target))
          throw new java.io.IOException(s"rename of $tmp to $target failed")
      }
    } catch {
      case e: java.io.IOException =>
        log.warn(s"$url v$version is committed but its version hint was not " +
          "updated; readers fall back to the metadata directory scan", e)
        try { fs.delete(target, false); fs.delete(tmp, false) }
        catch {
          case d: java.io.IOException =>
            log.warn(s"stale version hint of $url could not be removed", d)
        }
    }
  }
}
