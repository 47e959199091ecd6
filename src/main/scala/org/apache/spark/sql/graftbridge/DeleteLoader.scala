package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** TASK-SIDE loading of Iceberg v2/v3 delete-file state — the one
  * merge-on-read delete path. Each member file of a scan partition
  * carries only the PATHS of the delete files that may overlap it, plus
  * metadata-only equality-delete specs; each task loads its own positions
  * and key sets
  * here — the same shape as Iceberg-java's per-task `DeleteFilter` /
  * `BaseDeleteLoader` (reference: daskberg only reads; its scans never
  * carry deletes at all). The driver never materializes a position or a
  * key, so a 100 TB CDC table with hundreds of millions of deleted rows
  * plans in O(delete files) driver memory.
  *
  * A per-JVM, byte-bounded LRU cache keeps each delete file's decoded state
  * loaded ONCE per executor rather than once per task — on `local[32]` (and
  * on any multi-slot executor) the cost collapses to one read per delete
  * file per JVM, also when several tasks ask for it at once. Reads use parquet-hadoop's example model: delete files are
  * tiny schemas (file_path+pos, or the equality key columns), so the
  * non-vectorized reader is not a hot path. They read through the Hadoop
  * conf the scan's parquet reader factory already broadcasts
  * ([[ScanBridge.broadcastConfOf]]): no second copy or broadcast per scan,
  * and no default `Configuration` per delete file ([[openGroups]]).
  */
object DeleteLoader {

  /** Byte budget of the cache (`spark.graft.iceberg.deleteCacheBytes`,
    * default 256 MB), read from the session conf where a scan builds its
    * reader factory. */
  def cacheBytes: Long =
    org.apache.spark.sql.internal.SQLConf.get.getConfString(
      "spark.graft.iceberg.deleteCacheBytes", (256L * 1024 * 1024).toString).toLong

  /** LRU over decoded delete state, bounded in (estimated) bytes. Access
    * order so hot delete files stay resident across tasks. */
  private val cache =
    new java.util.LinkedHashMap[String, (AnyRef, Long)](64, 0.75f, true)
  private var totalBytes = 0L

  /** Loads in progress, by key (guarded by `cache`): a task that misses
    * while another task decodes the same delete file waits for that decode
    * instead of repeating it. The tasks of one scan often need the same
    * carrier at the same moment: every split of a large file, and every
    * packed task of a partitioned table holding cross-partition carriers. */
  private val loading =
    new java.util.HashMap[String, java.util.concurrent.CompletableFuture[AnyRef]]()

  private def cached[T <: AnyRef](key: String, capBytes: Long)(
      load: => (T, Long)): T = {
    val (pending, owner) = cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit._1.asInstanceOf[T]
      val inFlight = loading.get(key)
      if (inFlight != null) (inFlight, false)
      else {
        val f = new java.util.concurrent.CompletableFuture[AnyRef]()
        loading.put(key, f)
        (f, true)
      }
    }
    if (!owner) {
      val loaded = try Some(pending.get()) catch {
        // the other task's decode failed (or its task was killed): load here
        case _: java.util.concurrent.ExecutionException => None
      }
      return loaded match {
        case Some(v) => v.asInstanceOf[T]
        case None => cached(key, capBytes)(load)
      }
    }
    // load OUTSIDE the lock: a slow filesystem read must not serialize every
    // scan task in the JVM, only the tasks that need this same file
    val (value, bytes) = try load catch {
      case t: Throwable =>
        cache.synchronized(loading.remove(key))
        pending.completeExceptionally(t)
        throw t
    }
    cache.synchronized {
      loading.remove(key)
      cache.put(key, (value, bytes))
      totalBytes += bytes
      val it = cache.entrySet().iterator()
      while (totalBytes > capBytes && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) { // never evict what this task is about to use
          totalBytes -= e.getValue._2
          it.remove()
        }
      }
    }
    pending.complete(value)
    value
  }

  /** Test/diagnostic hook: number of resident delete-file entries. */
  def residentEntries: Int = cache.synchronized(cache.size())
  /** Test hook: reset the cache between eviction assertions. */
  def clearForTest(): Unit = cache.synchronized {
    cache.clear(); totalBytes = 0L
  }

  /** A reader over one delete file that reads through `conf` alone.
    * `ParquetReader.builder(readSupport, path)` would first build a default
    * `Configuration` (parsing core-default.xml and core-site.xml) that
    * `withConf` then discards; the input-file constructor takes the conf
    * from the file and creates none. */
  private def openGroups(path: String, conf: Configuration): ParquetReader[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(new Path(path), conf)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
    }.build()

  /** Decode ONE position-delete parquet into positions grouped by
    * [[ScanBridge.morKey]] of the target data file — the whole file decodes
    * once and every task scanning any of its target files shares the entry.
    * Stored `file_path` strings are matched through morKey, so file:/ vs
    * file:/// qualification and table relocation cannot break the match. */
  private def positionsOf(path: String, conf: Configuration,
      capBytes: Long): Map[String, Array[Long]] =
    cached(s"pos:$path", capBytes) {
      // DELETION VECTORS (Iceberg v3): one puffin file per commit, one
      // roaring-bitmap blob per data file — decode the whole file once via
      // its footer and share it JVM-wide like any other delete carrier.
      // (Dispatch is by the carrier's own suffix: partitions ship bare
      // paths, and every known DV writer — ours and iceberg-java — names
      // the files `*.puffin`.)
      if (path.endsWith(".puffin")) {
        val decoded = graft.iceberg.DeletionVectors.readPuffin(path, conf)
        var bytes = 0L
        val m = Map.newBuilder[String, Array[Long]]
        decoded.foreach { case (blob, positions) =>
          val k = ScanBridge.morKey(blob.referencedDataFile)
          bytes += 8L * positions.length + 2L * k.length + 64
          m += k -> positions
        }
        (m.result(), bytes)
      } else {
        val out = new java.util.HashMap[String, java.util.ArrayList[Long]]()
        val r = openGroups(path, conf)
        try {
          var g = r.read()
          while (g != null) {
            val key = ScanBridge.morKey(g.getBinary("file_path", 0).toStringUsingUTF8)
            var l = out.get(key)
            if (l == null) { l = new java.util.ArrayList[Long](); out.put(key, l) }
            l.add(g.getLong("pos", 0))
            g = r.read()
          }
        } finally r.close()
        var bytes = 0L
        val m = Map.newBuilder[String, Array[Long]]
        out.forEach { (k, v) =>
          val arr = new Array[Long](v.size())
          var i = 0
          while (i < arr.length) { arr(i) = v.get(i); i += 1 }
          java.util.Arrays.sort(arr)
          bytes += 8L * arr.length + 2L * k.length + 64
          m += k -> arr
        }
        (m.result(), bytes)
      }
    }

  /** The sorted deleted positions of ONE data file, loaded from the delete
    * files overlapping it. Merges (already-sorted) per-file arrays — a data
    * file deleted from by several commits sees one ascending array, as the
    * reader's monotone cursor requires. */
  def positionsFor(deleteFiles: Array[String], dataKey: String,
      conf: Configuration, capBytes: Long): Array[Long] = {
    val parts = deleteFiles.flatMap(p => positionsOf(p, conf, capBytes).get(dataKey))
    parts.length match {
      case 0 => Array.emptyLongArray
      case 1 => parts(0)
      case _ =>
        val merged = new Array[Long](parts.map(_.length).sum)
        var n = 0
        parts.foreach { a => System.arraycopy(a, 0, merged, n, a.length); n += a.length }
        java.util.Arrays.sort(merged)
        merged
    }
  }

  /** All it takes to load one EQUALITY-delete file task-side: where it
    * lives, the key column names AS WRITTEN in the file, where those keys
    * sit in the widened read schema, their Spark types, and the commit
    * sequence that scopes it. Built on the driver from metadata only (no
    * delete-file I/O) and shipped to every task. */
  final case class EqDeleteFileSpec(
      path: String,
      names: Array[String],
      ordinals: Array[Int],
      types: Array[DataType],
      seq: Long)
    extends Serializable

  /** Decode ONE equality-delete parquet into an [[ScanBridge.EqDeleteGroup]]
    * (UnsafeRow key set), cached per JVM. */
  def eqGroupFor(spec: EqDeleteFileSpec, conf: Configuration,
      capBytes: Long): ScanBridge.EqDeleteGroup =
    cached(s"eq:${spec.path}:${spec.names.mkString(",")}", capBytes) {
      val keys = new java.util.HashSet[
        org.apache.spark.sql.catalyst.expressions.UnsafeRow]()
      val builder = new ScanBridge.EqKeyBuilder(spec.types)
      val r = openGroups(spec.path, conf)
      var bytes = 0L
      try {
        var g = r.read()
        while (g != null) {
          val row = g
          val isNull = (i: Int) =>
            row.getType.containsField(spec.names(i)) match {
              case false => true
              case true => row.getFieldRepetitionCount(spec.names(i)) == 0
            }
          val added = builder.build(
            i => catalystValue(row, spec.names(i), spec.types(i)),
            isNull)
          bytes += added.getSizeInBytes + 16
          keys.add(added)
          g = r.read()
        }
      } finally r.close()
      (ScanBridge.EqDeleteGroup(spec.ordinals, spec.types, spec.seq, keys), bytes)
    }

  /** Parquet example-model value → Catalyst internal value, for the
    * primitive types equality-delete keys can carry. The physical layouts
    * follow how Spark's parquet writer encodes each logical type:
    * date=int32 days, timestamp=int64 micros — or INT96 (Julian day +
    * nanos of day), Spark's default before [[graft.iceberg.IcebergWriter]]
    * pinned int64, so older tables' delete files hold it —
    * decimal(p≤9)=int32 / (p≤18)=int64 / else binary two's-complement. */
  private def catalystValue(g: Group, name: String, t: DataType): Any = t match {
    case StringType => UTF8String.fromBytes(g.getBinary(name, 0).getBytes)
    case BinaryType => g.getBinary(name, 0).getBytes
    case IntegerType | DateType => g.getInteger(name, 0)
    case TimestampType | TimestampNTZType if physicalType(g, name) == "INT96" =>
      val b = g.getInt96(name, 0).toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val nanosOfDay = b.getLong
      (b.getInt - JulianDayOfEpoch) * MicrosPerDay + nanosOfDay / 1000L
    case LongType | TimestampType | TimestampNTZType => g.getLong(name, 0)
    case BooleanType => g.getBoolean(name, 0)
    case FloatType => g.getFloat(name, 0)
    case DoubleType => g.getDouble(name, 0)
    case ShortType => g.getInteger(name, 0).toShort
    case ByteType => g.getInteger(name, 0).toByte
    case d: DecimalType =>
      val unscaled = physicalType(g, name) match {
        case "INT32" => java.math.BigInteger.valueOf(g.getInteger(name, 0).toLong)
        case "INT64" => java.math.BigInteger.valueOf(g.getLong(name, 0))
        case _ => new java.math.BigInteger(g.getBinary(name, 0).getBytes)
      }
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(unscaled, d.scale), d.precision, d.scale)
    case other => throw new UnsupportedOperationException(
      s"equality-delete key type $other not supported in task-side delete " +
        "loading; compact the table to fold deletes into data files")
  }

  private def physicalType(g: Group, name: String): String =
    g.getType.getType(name).asPrimitiveType().getPrimitiveTypeName.name()

  private val JulianDayOfEpoch = 2440588L
  private val MicrosPerDay = 86400L * 1000 * 1000
}
