package graft.iceberg

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** `rewrite_table_path` — the disaster-recovery / table-copy tool
  * (Iceberg's procedure of the same name): prepare a table for relocation
  * from `sourcePrefix` to `targetPrefix` WITHOUT touching the live table.
  * Every artifact that embeds absolute paths is rewritten into a STAGING
  * directory:
  *  - metadata JSON — the current version AND every `metadata-log` entry
  *    still on disk (location, manifest-list, metadata-log, statistics
  *    paths), so metadata rollback / debugging at the target can follow
  *    the log (gzip-compressed versions re-compress under their names);
  *  - every snapshot's manifest list (`manifest_path` entries, plus
  *    `manifest_length` updated to the REWRITTEN manifest's size — prefix
  *    length changes resize manifests, and Avro readers trust the length);
  *  - every manifest (`data_file.file_path`, v3 `referenced_data_file`,
  *    and the referenced-path `lower_bounds`/`upper_bounds` stamp delete
  *    entries carry under field 2147483546) via a LOSSLESS generic-Avro
  *    round trip: records are read with each file's own embedded schema,
  *    only the path fields are mutated, and the writer re-emits the same
  *    schema plus the original file metadata, so v1/v2/v3 manifests
  *    survive byte-semantics-identical;
  *  - every POSITION-DELETE carrier, which embeds data-file paths in its
  *    CONTENT: position-delete parquet rewrites its `file_path` column
  *    (Spark job per carrier, sorted back to the spec's (path, pos)
  *    order), and DV puffin files rewrite each blob's
  *    `referenced-data-file` property (driver-side decode → re-encode;
  *    blob offsets move, so the manifests' `content_offset`/
  *    `content_size_in_bytes`/`file_size_in_bytes` are updated to match).
  *    A verbatim copy of either would silently stop deletes from applying
  *    at the target for any reader matching full paths. Equality deletes
  *    embed no paths and copy verbatim.
  *
  * The procedure MOVES NOTHING. It emits a copy plan — a tab-separated
  * `file-list.tsv` of (source, target) pairs covering the data/delete/
  * statistics files and the staged rewritten artifacts — which the
  * operator feeds to a bulk copier (distcp-shaped tooling;
  * [[executeCopyPlan]] is the built-in dev-scale executor). After the
  * copy, the target prefix holds a complete, independently loadable table.
  *
  * Scale posture: metadata JSON and manifest lists are driver-side IO
  * over KB-scale bytes (same posture as rewriteManifests /
  * expireSnapshots); the MANIFEST rewrite — the part that grows with the
  * table — shards across executors past
  * `spark.graft.iceberg.rewriteManifestThreshold` uncopied manifests
  * (default 64, same pattern as `Manifests.readManifestsScaled`: a
  * 10⁴–10⁵-manifest table's per-manifest generic-Avro round trips run in
  * parallel tasks, each writing its staged file directly and returning
  * only O(entries) copy pairs). One small Spark job runs per
  * position-delete parquet carrier (consolidate with
  * `rewrite_position_deletes` first if a CDC workload left thousands);
  * the file list streams line-by-line.
  */
object RewriteTablePath {

  final case class Result(stagingLocation: String, fileListPath: String,
      metadataFiles: Int, manifestLists: Int, manifests: Int, dataFiles: Long)

  /** Telemetry/spec hook: number of distributed manifest-rewrite jobs this
    * JVM has launched (mirrors [[Manifests.distributedDecodeJobs]]). */
  val distributedRewriteJobs = new java.util.concurrent.atomic.AtomicLong

  /** Everything a manifest-rewrite task needs, driver-computed and
    * broadcast: the prefix rule, the original_url resolution, staged
    * position-delete carriers (path, new length, exact parquet path
    * bounds), carriers physically collected by expire, the reconciled
    * everywhere-liveness set, and rewritten DV blob locations. */
  private final case class ManifestRewriteCtx(
      sourcePrefix: String, targetPrefix: String,
      originalUrl: String, url: String,
      carrierStaged: Map[String, (String, Long, Option[(String, String)])],
      carrierMissing: Set[String],
      liveAnywhere: Set[String],
      dvFix: Map[(String, String), (Long, Long)]) {
    def re(p: String): String =
      if (p.startsWith(sourcePrefix))
        targetPrefix + p.substring(sourcePrefix.length)
      else {
        val i = p.indexOf(sourcePrefix)
        if (i > 0 && p.substring(0, i).matches("[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?"))
          p.substring(0, i) + targetPrefix + p.substring(i + sourcePrefix.length)
        else p
      }
    def resolve(p: String): String =
      if (originalUrl.nonEmpty) p.replace(originalUrl, url) else p
    def rel(p: String): String = re(resolve(p))
  }

  /** Rewrite ONE manifest into its staged path (runs on the driver or an
    * executor — everything it touches is in `ctx`/`conf`): every entry's
    * file_path / referenced_data_file / path-bounds re-prefix, staged
    * carriers get their new sizes, bounds, and blob locations stamped.
    * Returns the staged file's length plus the (source, target) copy pairs
    * its DATA files contribute (the caller dedups and streams them). */
  private def rewriteOneManifest(mSrc: String, stagedM: String,
      ctx: ManifestRewriteCtx, conf: Configuration,
      deadExists: scala.collection.mutable.Map[String, Boolean] =
        scala.collection.mutable.Map.empty[String, Boolean])
      : (Long, Seq[(String, String)]) = {
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    copyAvroRewriting(mSrc, stagedM, conf) { rec =>
      val df = rec.get("data_file").asInstanceOf[GenericRecord]
      val p = df.get("file_path").toString
      val abs = ctx.resolve(p)
      df.put("file_path", new Utf8(ctx.rel(p)))
      def putPathBound(f: String, v: String): Unit =
        if (df.getSchema.getField(f) != null)
          Option(df.get(f)).foreach {
            case arr: java.util.Collection[_] => arr.asScala.foreach {
              case kv: GenericRecord
                  if kv.get("key").asInstanceOf[Int] ==
                    Manifests.PosDeletePathFieldId =>
                kv.put("value",
                  java.nio.ByteBuffer.wrap(v.getBytes(UTF_8)))
              case _ => ()
            }
            case _ => ()
          }
      var exactBounds = false
      ctx.carrierStaged.get(abs) match {
        case Some((stagedCarrier, newLen, bounds)) =>
          // the staged rewrite replaced the carrier's bytes — the entry's
          // size (and a DV's blob location) must match them, and any
          // recorded split offsets are stale
          df.put("file_size_in_bytes", java.lang.Long.valueOf(newLen))
          if (df.getSchema.getField("split_offsets") != null)
            df.put("split_offsets", null)
          if (df.getSchema.getField("referenced_data_file") != null)
            Option(df.get("referenced_data_file")).foreach { r =>
              val tref = ctx.rel(r.toString)
              ctx.dvFix.get((abs, tref)).foreach { case (off, len) =>
                df.put("content_offset", java.lang.Long.valueOf(off))
                df.put("content_size_in_bytes", java.lang.Long.valueOf(len))
              }
            }
          // parquet carriers: stamp the EXACT min/max of the rewritten
          // file_path column — re() on the old bounds is unsound when the
          // carrier mixes re-prefixed and foreign paths (the image of the
          // min may no longer be minimal)
          bounds.foreach { case (lo, hi) =>
            putPathBound("lower_bounds", lo)
            putPathBound("upper_bounds", hi)
            exactBounds = true
          }
          pairs += ((stagedCarrier, ctx.re(abs)))
        case None if ctx.carrierMissing.contains(abs) =>
          () // expired dead carrier: the entry relocates, there are no
             // bytes to copy (dangling at source too)
        case None if ctx.liveAnywhere.contains(abs) =>
          // live somewhere → expire cannot have collected it; plan
          // unconditionally (no probe RPC on the hot path)
          pairs += ((abs, ctx.re(abs)))
        case None =>
          // dead everywhere → physical cleanup may have collected it;
          // probe each distinct path once, skip the missing
          if (deadExists.getOrElseUpdate(abs, {
                val pp = new Path(abs)
                pp.getFileSystem(conf).exists(pp)
              })) pairs += ((abs, ctx.re(abs)))
      }
      if (df.getSchema.getField("referenced_data_file") != null) {
        Option(df.get("referenced_data_file")).foreach(r =>
          df.put("referenced_data_file", new Utf8(ctx.rel(r.toString))))
      }
      // delete entries stamp the referenced data-file path into the
      // path-column bounds (field 2147483546) — readers prune which delete
      // files apply with them, so they must relocate too (single-value DV
      // bounds re() safely; parquet carriers were exact-stamped above)
      if (!exactBounds)
        Seq("lower_bounds", "upper_bounds").foreach { f =>
          if (df.getSchema.getField(f) != null)
            Option(df.get(f)).foreach {
              case arr: java.util.Collection[_] => arr.asScala.foreach {
                case kv: GenericRecord
                    if kv.get("key").asInstanceOf[Int] ==
                      Manifests.PosDeletePathFieldId =>
                  val bb = kv.get("value").asInstanceOf[java.nio.ByteBuffer]
                  val s = UTF_8.decode(bb.duplicate()).toString
                  kv.put("value",
                    java.nio.ByteBuffer.wrap(ctx.rel(s).getBytes(UTF_8)))
                case _ => ()
              }
              case _ => ()
            }
        }
    }
    val sp = new Path(stagedM)
    (sp.getFileSystem(conf).getFileStatus(sp).getLen, pairs.toSeq)
  }

  def rewrite(spark: SparkSession, url: String, sourcePrefix: String,
      targetPrefix: String, stagingLocation: Option[String] = None): Result =
    rewriteTable(spark, IcebergTable.load(spark, url),
      sourcePrefix, targetPrefix, stagingLocation)

  /** The table-taking form: catalogs resolve THEIR view of the table (a
    * REST catalog's current metadata can be ahead of the filesystem
    * version hint) and pass it here, so the staged copy reflects exactly
    * what the catalog serves. */
  def rewriteTable(spark: SparkSession, table: IcebergTable,
      sourcePrefix: String, targetPrefix: String,
      stagingLocation: Option[String] = None): Result = {
    require(sourcePrefix.nonEmpty && targetPrefix.nonEmpty,
      "source_prefix and target_prefix must be non-empty")
    require(sourcePrefix != targetPrefix,
      "source_prefix equals target_prefix — nothing to rewrite")
    val conf = spark.sessionState.newHadoopConf()
    val url = table.url

    // metadata stores BOTH path forms — scheme-less (/tmp/…/data/f.parquet)
    // and scheme-qualified (file:/tmp/…, hdfs://nn/…): rewrite the path
    // part wherever the prefix sits right after a scheme[/authority], so a
    // scheme-less source_prefix covers both forms
    def re(p: String): String =
      if (p.startsWith(sourcePrefix))
        targetPrefix + p.substring(sourcePrefix.length)
      else {
        val i = p.indexOf(sourcePrefix)
        if (i > 0 && p.substring(0, i).matches("[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?"))
          p.substring(0, i) + targetPrefix + p.substring(i + sourcePrefix.length)
        else p
      }
    // recorded paths may predate a physical move (original_url ≠ url):
    // resolve to the CURRENT site first, then re-prefix — staged content,
    // bounds, and the copy plan all speak the same resolved form, so the
    // plan's sources exist and its targets match what the manifests say
    def rel(p: String): String = re(table.resolvePath(p))
    require(re(url) != url,
      s"source_prefix '$sourcePrefix' does not cover the table location " +
        s"'$url' — the staged metadata would target the LIVE table's own " +
        "paths and the copy would overwrite them; pass a prefix of the " +
        "table location")
    val staging = stagingLocation.getOrElse(
      s"$url/metadata/rewrite-staging-${UUID.randomUUID().toString.take(8)}")
    val stagingPath = new Path(staging)
    val fs = stagingPath.getFileSystem(conf)
    fs.mkdirs(stagingPath)

    // the copy plan streams out as it is discovered — O(1) driver memory
    val fileListPath = s"$staging/file-list.tsv"
    val listOut = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      fs.create(new Path(fileListPath), true), UTF_8))
    var dataFiles = 0L
    val listed = scala.collection.mutable.Set.empty[String]
    // a path the prefix does not cover maps onto itself — the file is
    // SHARED between source and target (the staged manifests keep pointing
    // at it in place); copying it onto itself would truncate live data, so
    // identity pairs never enter the plan
    def plan(src: String, dst: String): Boolean =
      src != dst && listed.add(src) && { listOut.println(s"$src\t$dst"); true }

    try {
      // POSITION-DELETE carrier rewrite state: carriers embed data-file
      // paths in their CONTENT, so each is rewritten into staging and the
      // manifests below record the staged bytes' sizes/blob locations.
      // A carrier referenced ONLY by DELETED-status tombstones may have
      // been physically collected by expire_snapshots — those are skipped
      // (nothing to copy; the tombstone itself still relocates).
      // staged path, new length, and (parquet only) the EXACT min/max of
      // the rewritten file_path column — re() is not order-preserving when
      // a carrier references both re-prefixed and untouched foreign paths,
      // so the entry's path bounds must come from the rewritten data, not
      // from re() applied to the old bounds
      val carrierStaged = scala.collection.mutable
        .Map.empty[String, (String, Long, Option[(String, String)])]
      val carrierMissing = scala.collection.mutable.Set.empty[String]
      val dvFix = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
      var carrierIdx = 0
      // liveness is a RECONCILED per-snapshot property (a file ADDED in one
      // manifest and DELETED in another of the same list is dead): a file
      // live in ANY copied snapshot must exist — expire never collects
      // those, so absence means source corruption and the rewrite refuses
      // loudly instead of staging a silently-broken copy. Files live
      // NOWHERE may legitimately be gone (physical cleanup keeps their
      // tombstones), so those are exists-probed and skipped when missing.
      val liveAnywhere: Set[String] = table.metadata.snapshots.flatMap { snap =>
        val view = table.atSnapshot(snap.snapshotId)
        (view.liveFiles().map(f => view.resolvePath(f.filePath)) ++
          view.liveDeleteFiles.map(f => view.resolvePath(f.filePath)))
      }.toSet
      def missingLive(abs: String): Nothing = throw new IllegalStateException(
        s"LIVE position-delete carrier missing at the source: $abs — the " +
          "table cannot serve correct reads (orphan sweep too aggressive, " +
          "or storage loss); refusing to stage a silently-broken copy")
      def stageCarrier(abs: String, format: String): Unit =
        if (!carrierStaged.contains(abs) && !carrierMissing.contains(abs)) {
          val p = new Path(abs)
          if (!p.getFileSystem(conf).exists(p)) {
            if (liveAnywhere.contains(abs)) missingLive(abs)
            carrierMissing += abs
          } else {
            carrierIdx += 1
            val staged = s"$staging/carrier-$carrierIdx-${name(abs)}"
            if (format.equalsIgnoreCase("PUFFIN")) {
              val (newBlobs, newLen) =
                DeletionVectors.rewritePuffinPaths(abs, staged, conf, rel)
              newBlobs.foreach(b =>
                dvFix((abs, b.referencedDataFile)) = (b.offset, b.length))
              carrierStaged(abs) = (staged, newLen, None)
            } else {
              val (newLen, lo, hi) = rewriteDeleteParquet(spark, abs, staged,
                sourcePrefix, targetPrefix, table.originalUrl, url, conf)
              carrierStaged(abs) = (staged, newLen, Some((lo, hi)))
            }
          }
        }

      // 1a. enumerate every snapshot's manifest list ONCE (manifests dedup
      // by resolved path across snapshots) and stage every position-delete
      // carrier FIRST — the manifest rewrite needs the staged carriers'
      // sizes, exact path bounds, and DV blob locations
      val manifestLists = scala.collection.mutable.LinkedHashSet.empty[String]
      val toRewrite = scala.collection.mutable.LinkedHashMap.empty[String, String]
      table.metadata.snapshots.foreach { snap =>
        // manifest lists live under the local metadata dir by basename —
        // the same rule the loader applies (rewriteManifestList)
        val mlSrc = s"$url/metadata/${name(snap.manifestList)}"
        if (manifestLists.add(mlSrc))
          Manifests.readManifestList(mlSrc, conf).foreach { mf =>
            val mSrc = table.resolvePath(mf.path)
            if (!toRewrite.contains(mSrc)) {
              if (mf.content == Manifests.ManifestContent.Deletes)
                Manifests.readManifest(mSrc, conf).foreach { e =>
                  if (e.dataFile.content == Manifests.FileContent.PositionDeletes)
                    stageCarrier(table.resolvePath(e.dataFile.filePath),
                      e.dataFile.fileFormat)
                }
              toRewrite(mSrc) = s"$staging/${name(mSrc)}"
            }
          }
      }

      // 1b. rewrite every unique manifest: driver-serial below the
      // threshold, SHARDED across executors past it (the posture of
      // Manifests.readManifestsScaled — a 10⁴–10⁵-manifest table's DR prep
      // is hours of single-threaded generic-Avro IO, minutes sharded; each
      // task writes its staged manifest directly and returns only the
      // O(entries) copy pairs). The rewrite context is a broadcast of
      // driver-computed lookup state — carriers, liveness, DV locations.
      val ctx = ManifestRewriteCtx(sourcePrefix, targetPrefix,
        table.originalUrl, url, carrierStaged.toMap, carrierMissing.toSet,
        liveAnywhere, dvFix.toMap)
      val threshold = spark.conf.get(
        "spark.graft.iceberg.rewriteManifestThreshold", "64").toInt
      val rewriteResults: Seq[(String, (Long, Seq[(String, String)]))] =
        if (toRewrite.size > threshold) {
          distributedRewriteJobs.incrementAndGet()
          val ser = new org.apache.spark.util.SerializableConfiguration(conf)
          val bcCtx = spark.sparkContext.broadcast(ctx)
          val work = toRewrite.toSeq
          val par = math.min(work.size, spark.sparkContext.defaultParallelism)
          try spark.sparkContext.parallelize(work, math.max(1, par))
            .map { case (mSrc, stagedM) =>
              mSrc -> rewriteOneManifest(mSrc, stagedM, bcCtx.value, ser.value)
            }.collect().toSeq
          finally bcCtx.destroy()
        } else {
          // the dead-file existence memo is shared across manifests on the
          // serial path (distributed tasks each memoize locally — a dead
          // path shared by two manifests in different tasks probes twice,
          // a bounded RPC duplication, never a correctness difference)
          val memo = scala.collection.mutable.Map.empty[String, Boolean]
          toRewrite.toSeq.map { case (mSrc, stagedM) =>
            mSrc -> rewriteOneManifest(mSrc, stagedM, ctx, conf, memo)
          }
        }
      var manifestCount = 0
      val manifestLens = scala.collection.mutable.Map.empty[String, Long]
      rewriteResults.foreach { case (mSrc, (stagedLen, pairs)) =>
        manifestCount += 1
        manifestLens(name(mSrc)) = stagedLen
        pairs.foreach { case (src, dst) => if (plan(src, dst)) dataFiles += 1 }
        plan(s"$staging/${name(mSrc)}", re(mSrc))
      }

      // 1c. every snapshot's manifest list, stamping the REWRITTEN
      // manifests' true sizes (prefix length changes resize manifests, and
      // Avro readers trust manifest_length)
      manifestLists.foreach { mlSrc =>
        copyAvroRewriting(mlSrc, s"$staging/${name(mlSrc)}", conf) { rec =>
          val mp = rec.get("manifest_path").toString
          rec.put("manifest_path", new Utf8(rel(mp)))
          manifestLens.get(name(mp)).foreach(l =>
            rec.put("manifest_length", java.lang.Long.valueOf(l)))
        }
        plan(s"$staging/${name(mlSrc)}", re(mlSrc))
      }
      val manifestListCount = table.metadata.snapshots.size

      // 2. statistics + partition-statistics files copy verbatim
      (table.metadata.statistics.map(_.path) ++
        table.metadata.partitionStatistics.map(_.path)).foreach { p =>
        val abs = table.resolvePath(p)
        plan(abs, re(abs))
      }

      // 3. the current metadata.json, re-prefixed everywhere it names a path
      val mapper = new ObjectMapper()
      val root = mapper.readTree(table.rawMetadataJson).asInstanceOf[ObjectNode]
      rePrefixMetadataJson(root, rel)
      // the staged metadata takes the SOURCE file's own name (a
      // metadata-file-resolved table reports version 0; the basename is
      // always right), and the hint mirrors its version number
      // (a gzip-compressed source writes back PLAIN, so the staged name
      // drops the .gzip marker — the loader prefers the plain form)
      val metaName0 = name(table.loadedFrom)
        .replace(".gzip.metadata.json", ".metadata.json")
      val VN = """v(\d+)\.metadata\.json""".r
      val (metaName, hintV) = metaName0 match {
        case VN(n) => (metaName0, n)
        case _ =>
          // foreign-NAMED current metadata (e.g. iceberg-java's
          // 00012-<uuid>.metadata.json): the hint must point at a vN file
          // that EXISTS at the target, so the current version stages under
          // the first vN name past every vN the metadata-log stages
          val logged = table.metadata.metadataLog.map(_._2)
            .map(p => name(p).replace(".gzip.metadata.json", ".metadata.json"))
            .collect { case VN(n) => n.toInt }
          val n = (logged :+ table.version).max + 1
          (s"v$n.metadata.json", n.toString)
      }
      IcebergWriter.writeString(s"$staging/$metaName", root.toPrettyString, conf)
      plan(s"$staging/$metaName", re(s"$url/metadata/$metaName"))
      IcebergWriter.writeString(s"$staging/version-hint.text", hintV, conf)
      plan(s"$staging/version-hint.text", re(s"$url/metadata/version-hint.text"))

      // 4. previous metadata versions named by the metadata-log: rewritten
      // the same way (and re-gzipped under gzip names), so metadata
      // rollback / debug tooling at the target can follow the log instead
      // of hitting dangling pointers. A version already deleted at the
      // source is skipped — it dangles identically on both sides.
      var metadataFiles = 1
      table.metadata.metadataLog.map(_._2).distinct.foreach { mfPath =>
        // logged entries may predate a physical move too — resolve to the
        // current site (a pure prefix replace; identity when never moved)
        val abs = table.resolvePath(mfPath)
        val p = new Path(abs)
        val pfs = p.getFileSystem(conf)
        if (pfs.exists(p) && name(abs) != metaName) {
          val old = mapper.readTree(IcebergTable.readString(abs, conf))
            .asInstanceOf[ObjectNode]
          rePrefixMetadataJson(old, rel)
          val stagedOld = s"$staging/${name(abs)}"
          writeMaybeGzip(stagedOld, old.toPrettyString, conf)
          plan(stagedOld, re(abs))
          metadataFiles += 1
        }
      }

      Result(staging, fileListPath, metadataFiles = metadataFiles,
        manifestLists = manifestListCount, manifests = manifestCount,
        dataFiles = dataFiles)
    } finally listOut.close()
  }

  /** Re-prefix every path-bearing field of a metadata.json document. */
  private def rePrefixMetadataJson(root: ObjectNode, re: String => String): Unit = {
    if (root.has("location")) root.put("location", re(root.get("location").asText))
    def reField(n: ObjectNode, f: String): Unit =
      if (n.has(f)) n.put(f, re(n.get(f).asText))
    if (root.has("snapshots"))
      root.withArray[ArrayNode]("snapshots").asScala
        .foreach(s => reField(s.asInstanceOf[ObjectNode], "manifest-list"))
    if (root.has("metadata-log"))
      root.withArray[ArrayNode]("metadata-log").asScala
        .foreach(e => reField(e.asInstanceOf[ObjectNode], "metadata-file"))
    Seq("statistics", "partition-statistics").foreach { sect =>
      if (root.has(sect))
        root.withArray[ArrayNode](sect).asScala
          .foreach(s => reField(s.asInstanceOf[ObjectNode], "statistics-path"))
    }
  }

  /** Rewrite one position-delete parquet carrier: the `file_path` column
    * re-prefixes (same two path forms as the driver-side rule), rows sort
    * back to the spec's (file_path, pos) order, and the single output file
    * lands at `dst`. The spec's reserved field ids (file_path 2147483546,
    * pos 2147483545) are stamped on the output columns — a carrier written
    * by an id-stamping engine (iceberg-java) must keep resolving by id at
    * the target, and stamping them on a previously id-less graft-native
    * carrier only makes it more conformant. Returns the new file length
    * plus the EXACT (min, max) of the rewritten file_path column — the
    * sound replacement for the manifest entry's path bounds. */
  private def rewriteDeleteParquet(spark: SparkSession, src: String,
      dst: String, sourcePrefix: String, targetPrefix: String,
      originalUrl: String, currentUrl: String,
      conf: Configuration): (Long, String, String) = {
    import org.apache.spark.sql.functions._
    val pattern = "^((?:[A-Za-z][A-Za-z0-9+.-]*:(?://[^/]*)?)?)" +
      java.util.regex.Pattern.quote(sourcePrefix)
    val replacement =
      "$1" + java.util.regex.Matcher.quoteReplacement(targetPrefix)
    // recorded paths resolve to the CURRENT site before re-prefixing (same
    // original_url replace the driver-side `rel` applies)
    def resolveCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (originalUrl.nonEmpty && originalUrl != currentUrl)
        regexp_replace(c, java.util.regex.Pattern.quote(originalUrl),
          java.util.regex.Matcher.quoteReplacement(currentUrl))
      else c
    def fieldId(n: String): Option[Int] = n match {
      case "file_path" => Some(Manifests.PosDeletePathFieldId)
      case "pos" => Some(Manifests.PosDeletePosFieldId)
      case _ => None
    }
    val src0 = spark.read.parquet(src)
    val rows = src0.select(src0.schema.fields.map { f =>
        val c =
          if (f.name == "file_path")
            regexp_replace(resolveCol(col("file_path")), pattern, replacement)
          else col(f.name)
        fieldId(f.name) match {
          case Some(id) => c.as(f.name,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", id.toLong).build())
          case None => c.as(f.name)
        }
      }.toSeq: _*)
      .coalesce(1).sortWithinPartitions("file_path", "pos")
    // one task writes the carrier straight to `dst`; its footer gives the
    // rewritten paths' bounds
    val schema = rows.schema
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    var written: Option[(Long, IcebergWriter.FileStats)] = None
    org.apache.spark.sql.graftbridge.WriteBridge.runTasks(rows, s"rewrite $src") {
      (_, it) =>
        val (len, footer) = TaskFileWriter.writeOne(new Path(dst), schema, serConf.value, it)
        (len, IcebergWriter.posDeleteFileStats(footer))
    } { (_, r) => written = Some(r) }
    val (len, stats) = written.getOrElse(
      throw new IllegalStateException(s"carrier rewrite of $src wrote no file"))
    def bound(b: Map[Int, Array[Byte]]): String =
      b.get(Manifests.PosDeletePathFieldId).map(new String(_, UTF_8)).orNull
    (len, bound(stats.lowerBounds), bound(stats.upperBounds))
  }

  /** Execute a copy plan produced by [[rewrite]]: stream `file-list.tsv`
    * and copy each (source, target) pair through the Hadoop filesystems
    * (schemes preserved, parent directories created). The DEV-scale
    * executor shared by tests and the migration queries — production
    * feeds the list to distcp-shaped tooling instead. Returns the number
    * of files copied. */
  def executeCopyPlan(fileListPath: String, conf: Configuration): Int = {
    val p = new Path(fileListPath)
    val fs = p.getFileSystem(conf)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), UTF_8))
    try {
      var n = 0
      var line = in.readLine()
      while (line != null) {
        if (line.nonEmpty) {
          val cols = line.split('\t')
          require(cols.length == 2, s"malformed copy-plan line: $line")
          require(cols(0) != cols(1),
            s"copy plan maps a file onto itself — executing would TRUNCATE " +
              s"it before the copy: ${cols(0)}")
          val sp = new Path(cols(0))
          val dp = new Path(cols(1))
          val dfs = dp.getFileSystem(conf)
          dfs.mkdirs(dp.getParent)
          org.apache.hadoop.fs.FileUtil.copy(
            sp.getFileSystem(conf), sp, dfs, dp, false, true, conf)
          n += 1
        }
        line = in.readLine()
      }
      n
    } finally in.close()
  }

  /** [[executeCopyPlan]] at CLUSTER scale: the tab-separated plan loads as
    * a Dataset and every executor task copies its slice of (source, target)
    * pairs through the Hadoop filesystems — the Spark-native stand-in for
    * distcp when the operator wants one engine end to end. Identity pairs
    * refuse exactly like the serial executor; a failed copy fails its task
    * (and the job) loudly rather than leaving a silently partial target.
    * Returns the number of files copied. */
  def executeCopyPlanDistributed(spark: SparkSession, fileListPath: String,
      parallelism: Int = 0): Long = {
    import spark.implicits._
    val ser = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val lines = spark.read.textFile(fileListPath).filter(_.nonEmpty)
    val par = if (parallelism > 0) parallelism
      else spark.sparkContext.defaultParallelism
    lines.repartition(par).mapPartitions { it =>
      val conf = ser.value
      var n = 0L
      it.foreach { line =>
        val cols = line.split('\t')
        require(cols.length == 2, s"malformed copy-plan line: $line")
        require(cols(0) != cols(1),
          s"copy plan maps a file onto itself — executing would TRUNCATE " +
            s"it before the copy: ${cols(0)}")
        val sp = new Path(cols(0))
        val dp = new Path(cols(1))
        val dfs = dp.getFileSystem(conf)
        dfs.mkdirs(dp.getParent)
        org.apache.hadoop.fs.FileUtil.copy(
          sp.getFileSystem(conf), sp, dfs, dp, false, true, conf)
        n += 1
      }
      Iterator.single(n)
    }.reduce(_ + _)
  }

  /** Write text, gzip-compressed when the file name carries the
    * `.gzip.metadata.json` marker (iceberg-java resolves the codec from
    * the NAME, so the bytes must match it). */
  private def writeMaybeGzip(path: String, text: String,
      conf: Configuration): Unit =
    if (path.endsWith(".gzip.metadata.json")) {
      val out = new Path(path).getFileSystem(conf).create(new Path(path), true)
      val gz = new java.util.zip.GZIPOutputStream(out)
      try gz.write(text.getBytes(UTF_8)) finally gz.close()
    } else IcebergWriter.writeString(path, text, conf)

  /** Copy an Avro container file record-by-record with `mutate` applied —
    * the file's OWN embedded schema reads and writes the records, and all
    * non-reserved file metadata (schema/partition-spec/content/…) carries
    * over, so nothing but the mutated fields can change. */
  private def copyAvroRewriting(src: String, dst: String, conf: Configuration)(
      mutate: GenericRecord => Unit): Unit = {
    val input = new FsInput(new Path(src), conf)
    val reader = DataFileReader.openReader(
      input, new GenericDatumReader[GenericRecord]())
      .asInstanceOf[DataFileReader[GenericRecord]]
    try {
      val schema = reader.getSchema
      val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      reader.getMetaKeys.asScala.filterNot(_.startsWith("avro.")).foreach(k =>
        writer.setMeta(k, reader.getMeta(k)))
      val out = new Path(dst).getFileSystem(conf).create(new Path(dst), true)
      writer.create(schema, out)
      try reader.iterator().asScala.foreach { r => mutate(r); writer.append(r) }
      finally writer.close()
    } finally reader.close()
  }

  private def name(p: String): String = p.split('/').last
}
