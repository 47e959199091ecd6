package graft.iceberg

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.iceberg.MetadataUpdate._

/** Iceberg format-v1 WRITE path — table create + append snapshots.
  *
  * An extension beyond the reference (which is read-only, README.md:94):
  * write tasks put each data file at its final path ([[TaskFileWriter]])
  * and report its record count and column lower/upper bounds from the
  * footer they just wrote, encoded as Iceberg single-value bytes; a new
  * manifest (Avro, spec v1 layout) plus manifest list are written, and the
  * caller's [[TableOps]] publishes the new metadata ([[commitWithRetry]]).
  * Tables written here are readable by [[IcebergTable]] with working stats
  * pruning, and the metadata layout follows the public Iceberg v1 spec.
  */
object IcebergWriter {

  private val mapper = new ObjectMapper()
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def sparkToIcebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case DateType => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case BinaryType => "binary"
    // Iceberg v3 VARIANT ↔ Spark VariantType: Spark's parquet writer emits
    // the variant group (metadata/value), field-id-stamped at the column
    // root, which is exactly the v3 storage shape; createTable raises the
    // table to format v3 when the schema demands it
    case VariantType => "variant"
    case other => throw new IllegalArgumentException(s"unsupported write type: $other")
  }

  /** Does the type (recursively) demand Iceberg format v3? */
  private def needsV3(dt: DataType): Boolean = dt match {
    case VariantType => true
    case s: StructType => s.fields.exists(f => needsV3(f.dataType))
    case a: ArrayType => needsV3(a.elementType)
    case m: MapType => needsV3(m.keyType) || needsV3(m.valueType)
    case _ => false
  }

  /** Create an empty table (no snapshot; current-snapshot-id = -1).
    *
    * @param partitions hidden-partitioning spec: (source column, transform
    *                   name) pairs, e.g. `("id", "bucket[4]")`,
    *                   `("ts", "day")`, `("region", "identity")`.
    */
  def createTable(spark: SparkSession, url: String, schema: StructType,
      partitions: Seq[(String, String)] = Nil,
      sortOrder: Seq[(String, String)] = Nil): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = mapper.createObjectNode()
    // VARIANT columns demand format v3 from birth (v3-only type); v3
    // metadata must then carry next-row-id (row lineage) and the sequence
    // counter from the first byte, or strict external readers reject it
    val v3Schema = schema.fields.exists(f => needsV3(f.dataType))
    meta.put("format-version", if (v3Schema) 3 else 1)
    if (v3Schema) {
      meta.put("next-row-id", 0L)
      meta.put("last-sequence-number", 0L)
    }
    meta.put("table-uuid", UUID.randomUUID().toString)
    meta.put("location", url)
    meta.put("last-updated-ms", System.currentTimeMillis())
    val (schemaNode, lastColumnId) = schemaToNode(schema)
    meta.put("last-column-id", lastColumnId)
    meta.set[ObjectNode]("schema", schemaNode)
    meta.put("current-schema-id", 0)
    meta.set[ArrayNode]("schemas", mapper.createArrayNode().add(schemaNode))
    meta.put("default-spec-id", 0)
    val spec = mapper.createObjectNode()
    spec.put("spec-id", 0)
    val specFields = mapper.createArrayNode()
    // nested types consume ids too: resolve partition sources by NAME from
    // the generated schema, not by positional index
    val topIds: Map[String, Int] = {
      val fs = schemaNode.withArray[ArrayNode]("fields")
      (0 until fs.size).map(i =>
        fs.get(i).get("name").asText -> fs.get(i).get("id").asInt).toMap
    }
    // variant has no defined ordering or single-value form: the spec allows
    // it neither as a partition source nor a sort key — refuse at create
    val variantCols = schema.fields.collect {
      case f if needsV3(f.dataType) => f.name
    }.toSet
    partitions.zipWithIndex.foreach { case ((src, transform), i) =>
      require(!variantCols(src),
        s"variant column $src cannot be a partition source (not orderable/hashable per spec)")
      val sourceId = topIds.getOrElse(src,
        throw new IllegalArgumentException(s"no partition source column $src"))
      val fn = mapper.createObjectNode()
      fn.put("name", partitionFieldName(src, transform))
      fn.put("transform", transform)
      fn.put("source-id", sourceId)
      fn.put("field-id", 1000 + i)
      specFields.add(fn)
    }
    spec.set[ArrayNode]("fields", specFields)
    meta.set[ArrayNode]("partition-specs", mapper.createArrayNode().add(spec))
    // flat v1 form too (the reference reads this one, ice.py:209)
    meta.set[ArrayNode]("partition-spec", specFields.deepCopy())
    meta.put("last-partition-id", 999 + partitions.size)
    // SORT ORDER: written data files keep rows sorted by these columns
    // (within partitions), so per-file bounds on the sort key are tight and
    // usually disjoint — a point/range query then prunes to a handful of
    // files. The scale lever that turns a partition scan into a file read.
    val orderFields = sortOrder.map { case (src, direction) =>
      sortField(src, direction, topIds.getOrElse(src,
        throw new IllegalArgumentException(s"no sort column $src")), variantCols(src))
    }
    val orderId = if (sortOrder.isEmpty) 0 else 1
    meta.put("default-sort-order-id", orderId)
    // the unsorted order {order-id: 0, fields: []} is ALWAYS present (as
    // Iceberg's own metadata builder guarantees): readers resolve the
    // default order id against this list, and schema evolution may later
    // reset a sorted table to unsorted — order 0 must exist to resolve
    val orders = meta.putArray("sort-orders")
    orders.add(sortOrderNode(IceSortOrder(0, Nil)))
    if (sortOrder.nonEmpty) orders.add(sortOrderNode(IceSortOrder(orderId, orderFields)))
    meta.set[ObjectNode]("properties", mapper.createObjectNode())
    meta.put("current-snapshot-id", -1L)
    meta.set[ArrayNode]("snapshots", mapper.createArrayNode())
    meta.set[ArrayNode]("snapshot-log", mapper.createArrayNode())
    writeString(s"$url/metadata/v1.metadata.json", meta.toPrettyString, conf)
    writeString(s"$url/metadata/version-hint.text", "1", conf)
  }

  /** Spark schema → Iceberg schema JSON with fresh field ids assigned in
    * PRE-ORDER (a struct's id, then its children) — unique across every
    * nesting level, like Iceberg's own TypeUtil.assignFreshIds. Returns the
    * node and the last id used (→ `last-column-id`). */
  private[iceberg] def schemaToNode(schema: StructType): (ObjectNode, Int) = {
    var next = 0
    def nid(): Int = { next += 1; next }
    def typeNode(dt: DataType): com.fasterxml.jackson.databind.JsonNode = dt match {
      case st: StructType =>
        val n = mapper.createObjectNode()
        n.put("type", "struct")
        val fs = mapper.createArrayNode()
        st.fields.foreach { f =>
          val fn = mapper.createObjectNode()
          fn.put("id", nid())
          fn.put("name", f.name)
          fn.put("required", !f.nullable)
          fn.set[com.fasterxml.jackson.databind.JsonNode]("type", typeNode(f.dataType))
          fs.add(fn)
        }
        n.set[ArrayNode]("fields", fs)
        n
      case ArrayType(et, containsNull) =>
        val n = mapper.createObjectNode()
        n.put("type", "list")
        n.put("element-id", nid())
        n.set[com.fasterxml.jackson.databind.JsonNode]("element", typeNode(et))
        n.put("element-required", !containsNull)
        n
      case MapType(kt, vt, valueContainsNull) =>
        val n = mapper.createObjectNode()
        n.put("type", "map")
        n.put("key-id", nid())
        n.set[com.fasterxml.jackson.databind.JsonNode]("key", typeNode(kt))
        n.put("value-id", nid())
        n.set[com.fasterxml.jackson.databind.JsonNode]("value", typeNode(vt))
        n.put("value-required", !valueContainsNull)
        n
      case other =>
        com.fasterxml.jackson.databind.node.TextNode.valueOf(sparkToIcebergType(other))
    }
    val node = mapper.createObjectNode()
    node.put("type", "struct")
    node.put("schema-id", 0)
    val fields = mapper.createArrayNode()
    schema.fields.foreach { f =>
      val fn = mapper.createObjectNode()
      fn.put("id", nid())
      fn.put("name", f.name)
      fn.put("required", !f.nullable)
      fn.set[com.fasterxml.jackson.databind.JsonNode]("type", typeNode(f.dataType))
      fields.add(fn)
    }
    node.set[ArrayNode]("fields", fields)
    (node, next)
  }

  def partitionFieldName(src: String, transform: String): String = transform match {
    case "identity" => src
    case t if t.startsWith("bucket") => s"${src}_bucket"
    case t if t.startsWith("truncate") => s"${src}_trunc"
    case t => s"${src}_$t" // day/month/year/hour/void
  }

  /** Hidden-partition key in Iceberg PHYSICAL representation (date →
    * epoch-day int, timestamp → µs long, bucket/day → int): the native
    * Catalyst expression writes cluster and sort by. */
  private[iceberg] def partitionColumn(srcType: String, tr0: Transforms.Transform)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val tr = tr0
    c => tr match {
      case Transforms.Identity => srcType match {
        case "date" => datediff(c, to_date(lit("1970-01-01")))
        // NTZ → TZ cast is µs-identity under the UTC session timezone
        case "timestamp" | "timestamptz" => unix_micros(c.cast("timestamp"))
        case _ => c
      }
      case Transforms.Bucket(n) =>
        // native Catalyst expression (murmur3 over spec-serialized form):
        // the write projection stays inside whole-stage codegen, no UDF SerDe
        val in = srcType match {
          case "string" | "binary" => c
          case "int" | "long" => c.cast("long")
          case t if t.startsWith("decimal") => c
          case other => throw new IllegalArgumentException(s"bucket on $other unsupported")
        }
        TransformExpr.bucket(in, n)
      case t: Transforms.TimeTransform =>
        srcType match {
          case "timestamp" | "timestamptz" =>
            TransformExpr.time(unix_micros(c.cast("timestamp")), t.name)
          case "date" =>
            TransformExpr.time(
              datediff(c, to_date(lit("1970-01-01"))).cast("long") * 86400000000L, t.name)
          case other => throw new IllegalArgumentException(s"${t.name} on $other unsupported")
        }
      case Transforms.Truncate(w) => srcType match {
        case "int" | "long" => c - pmod(c, lit(w))
        case "string" => substring(c, 1, w)
        case other => throw new IllegalArgumentException(s"truncate on $other unsupported")
      }
      case Transforms.Void => lit(null)
      case other => throw new IllegalArgumentException(s"unsupported write transform $other")
    }
  }

  /** Iceberg type of the stored partition VALUE (physical representation). */
  private def partitionValueType(srcType: String, transform: Transforms.Transform): String =
    transform match {
      case Transforms.Identity => srcType match {
        case "date" => "int"
        case "timestamp" | "timestamptz" => "long"
        case t => t
      }
      case Transforms.Bucket(_) => "int"
      case _: Transforms.TimeTransform => "int"
      case Transforms.Truncate(_) => srcType
      case _ => "string"
    }

  /** Append `df` as a new snapshot. The table must exist (see createTable). */
  def append(spark: SparkSession, url: String, df: DataFrame): Unit =
    append(FileSystemOps(spark, url), df)

  /** Append with extra snapshot-summary properties (streaming sinks record
    * their batch id here for exactly-once replay protection). */
  def append(ops: TableOps, df: DataFrame, extraSummary: Map[String, String] = Map.empty): Unit = {
    val table = ops.current()
    val files = writeDataFiles(ops.spark, ops.url, table, df)
    commitSnapshot(ops, Some(table))(_ =>
      Some(SnapshotUpdate("append", added = files, summary = extraSummary)))
  }

  /** Register EXISTING parquet or ORC files into an unpartitioned table
    * WITHOUT reading or rewriting their data — Iceberg's `add_files` import
    * shape, and how a 100-TB corpus already sitting in object storage joins
    * the table in O(files) metadata work. Row counts come from file footers
    * (metadata-only reads); column bounds stay unset, so stats pruning
    * soundly keeps the files. The caller guarantees the file schemas are
    * read-compatible with the table schema (columns resolve BY NAME for
    * imported files — they carry no Iceberg field ids). */
  def addFiles(spark: SparkSession, url: String, paths: Seq[String],
      format: String = "parquet"): Unit =
    addFiles(FileSystemOps(spark, url), paths, format)
  def addFiles(ops: TableOps, paths: Seq[String], format: String): Unit = {
    if (paths.isEmpty) return
    val table = ops.current()
    val conf = table.conf
    require(table.partitionSpec.fields.isEmpty,
      "addFiles imports into unpartitioned tables only " +
        "(no partition values can be derived for foreign files)")
    val fmt = format.toUpperCase
    require(fmt == "PARQUET" || fmt == "ORC" || fmt == "AVRO",
      s"addFiles supports parquet, orc, and avro, got $format")
    // record schema.name-mapping.default (spec): imported id-less files
    // resolve columns by the names CURRENT AT IMPORT TIME — persisting the
    // id→name table keeps them resolving after a later rename. A field
    // already mapped under a DIFFERENT name means a rename happened between
    // imports; one by-name batch cannot serve files written under two
    // names, so refuse loudly rather than misread either generation.
    val existingMapping = table.metadata.properties.get(NameMapping.Prop)
      .map(NameMapping.parse).getOrElse(Map.empty[Int, Seq[String]])
    val mergedMapping = table.iceSchema.fields.foldLeft(existingMapping) { (m, f) =>
      m.get(f.id) match {
        case Some(names) =>
          require(names.contains(f.name),
            s"column '${f.name}' (field id ${f.id}) was renamed since an " +
              s"earlier import recorded it as ${names.mkString("/")}; compact " +
              "the table to fold the already-imported files before importing more")
          m
        case None => m + (f.id -> Seq(f.name))
      }
    }
    val mappingProps =
      if (mergedMapping == existingMapping) Map.empty[String, String]
      else Map(NameMapping.Prop -> NameMapping.render(mergedMapping))
    val withLen = paths.map { p =>
      val hp = new Path(p)
      (p, hp.getFileSystem(conf).getFileStatus(hp).getLen)
    }
    val files =
      if (fmt == "PARQUET" || fmt == "ORC") {
        // full footer-stats harvest (by-NAME column resolution — foreign
        // files carry no field ids), so imported files get column bounds
        // and prune exactly like natively written ones; fans out over the
        // cluster past the small-commit threshold. ORC footers carry
        // per-column min/max/non-null counts just like parquet's.
        val stats = collectStats(ops.spark, withLen, table.iceSchema, conf,
          foreign = true, format = fmt)
        withLen.map { case (p, len) => NewDataFile(p, len, stats(p), Nil, fmt) }
      } else withLen.map { case (p, len) =>
        // Avro files carry NO footer statistics — counts stay ABSENT
        // (unknown, not zero), and every stats consumer must refuse
        // exact claims over such files (manifestMinMax, metadata aggs).
        val rows = avroRowCountOf(new Path(p), conf)
        NewDataFile(p, len, FileStats(rows, Map.empty, Map.empty, Map.empty, Map.empty),
          Nil, fmt)
      }
    commitSnapshot(ops)(_ => Some(SnapshotUpdate("append", added = files,
      summary = Map("graft-added-files" -> files.size.toString),
      properties = mappingProps)))
  }

  /** MIGRATE a plain parquet directory into a NEW Iceberg table: schema
    * inferred from the files, registration + footer-stats harvest via
    * [[addFiles]] — zero data rewritten (the `migrate`/`add_files` shape
    * that onboards an existing 100 TB dataset as one metadata commit). */
  def importParquetDir(spark: SparkSession, url: String, dir: String): Unit =
    importDir(spark, url, dir, "parquet")

  /** Migrate a plain columnar directory (parquet, orc, or avro) into a NEW
    * Iceberg table in one metadata commit: schema inferred from the files,
    * files registered in place via [[addFiles]] (footer stats harvested
    * for parquet/orc; avro carries none, so its counts stay absent and
    * stats consumers refuse exact claims), no data read or moved. Avro
    * needs no connector for inference — the container header embeds the
    * writer schema, read with the same generic machinery the manifest
    * plane uses; files whose schemas DIVERGE refuse loudly (one by-name
    * mapping cannot serve two generations). */
  def importDir(spark: SparkSession, url: String, dir: String,
      format: String): Unit = {
    val fmt = format.toLowerCase
    val conf = spark.sessionState.newHadoopConf()
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    val suffix = s".$fmt"
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(d, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(suffix)) parts += st.getPath.toString
    }
    val sorted = parts.toSeq.sorted
    val schema = fmt match {
      case "parquet" => spark.read.parquet(dir).schema
      case "orc" => spark.read.orc(dir).schema
      case "avro" =>
        require(sorted.nonEmpty, s"no *$suffix files under $dir")
        val schemas = sorted.map(p => avroFileSchema(new Path(p), conf))
        require(schemas.distinct.size == 1,
          s"avro files under $dir carry ${schemas.distinct.size} distinct " +
            "writer schemas — one import cannot serve two generations; " +
            "split the directories or align the schemas first")
        avroToSparkStruct(schemas.head)
      case other => throw new IllegalArgumentException(
        s"directory import supports parquet|orc|avro, got '$other'")
    }
    createTable(spark, url, schema)
    addFiles(spark, url, sorted, fmt)
  }

  /** The writer schema embedded in an Avro container file's header (Avro is
    * self-describing — a header read, no data decoded). */
  private def avroFileSchema(path: Path, conf: Configuration): Schema = {
    val in = new org.apache.avro.mapred.FsInput(path, conf)
    val r = new org.apache.avro.file.DataFileReader(in,
      new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
    try r.getSchema finally r.close()
  }

  /** Avro record schema → Spark StructType for directory import: the same
    * mapping spark-avro publishes for the types Iceberg can carry —
    * primitives, date/timestamp[-ntz]/decimal logical types, arrays, maps,
    * nested records; `union [null, T]` is nullable `T`. Anything else
    * (multi-branch unions, enums beyond string) refuses loudly. */
  private[iceberg] def avroToSparkStruct(s: Schema): StructType = {
    require(s.getType == Schema.Type.RECORD,
      s"avro import needs a record top-level schema, got ${s.getType}")
    StructType(s.getFields.asScala.map(f =>
      StructField(f.name, avroToSparkType(f.schema()), nullable = true)).toSeq)
  }

  private def avroToSparkType(s: Schema): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def logical: String =
      Option(s.getLogicalType).map(_.getName).getOrElse("")
    s.getType match {
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.INT =>
        if (logical == "date") DateType else IntegerType
      case Schema.Type.LONG => logical match {
        case "timestamp-micros" | "timestamp-millis" => TimestampType
        case "local-timestamp-micros" | "local-timestamp-millis" =>
          TimestampNTZType
        case _ => LongType
      }
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.STRING | Schema.Type.ENUM => StringType
      case Schema.Type.BYTES | Schema.Type.FIXED =>
        s.getLogicalType match {
          case d: org.apache.avro.LogicalTypes.Decimal =>
            DecimalType(d.getPrecision, d.getScale)
          case _ => BinaryType
        }
      case Schema.Type.ARRAY => ArrayType(avroToSparkType(s.getElementType))
      case Schema.Type.MAP => MapType(StringType, avroToSparkType(s.getValueType))
      case Schema.Type.RECORD => avroToSparkStruct(s)
      case Schema.Type.UNION =>
        val branches = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        require(branches.size == 1,
          s"unsupported avro union for import: $s (only [null, T])")
        avroToSparkType(branches.head)
      case t => throw new IllegalArgumentException(
        s"unsupported avro type $t for directory import")
    }
  }

  /** REGISTER an EXISTING Iceberg table under a new warehouse location from
    * its `metadata.json` — Iceberg's `register_table` procedure shape:
    * data files and manifests stay at their original absolute paths (zero
    * data movement); only KB-scale metadata lands under the new root:
    *  - the metadata file is copied as the new location's
    *    `v1.metadata.json` with `location` rewritten to the new root, so
    *    the absolute manifest/data paths inside manifests keep resolving
    *    at the original site (the loader's original-url rewrite becomes
    *    the identity) while FUTURE commits write under the new root;
    *  - each snapshot's manifest-LIST avro is copied into the new
    *    `metadata/` dir, because the loader resolves manifest lists by
    *    basename under the local metadata dir (reference parity,
    *    ice.py:148-151).
    * The target must not already be a table, and manifest-list paths must
    * be absolute (a relative one would dangle — refused loudly). Like
    * Iceberg's procedure, registering a table that another catalog entry
    * still commits to risks divergent histories — the caller owns that
    * coordination. Returns the registered current snapshot id. */
  def registerTable(spark: SparkSession, url: String,
      metadataFile: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    require(IcebergTable.versionHint(url, conf) == 0,
      s"register_table target $url already holds a table")
    val json = IcebergTableIo.readString(metadataFile, conf)
    val node = mapper.readTree(json).asInstanceOf[ObjectNode]
    require(node.has("format-version") && node.get("format-version").asInt <= 3,
      s"unsupported format-version in $metadataFile")
    def absolute(p: String): Boolean =
      p.startsWith("/") || p.contains(":/")
    val manifestLists = if (!node.has("snapshots")) Nil else {
      val snaps = node.withArray[ArrayNode]("snapshots")
      (0 until snaps.size).map { i =>
        val ml = Option(snaps.get(i).get("manifest-list")).map(_.asText)
          .getOrElse("")
        require(absolute(ml),
          s"register_table needs absolute manifest-list paths; '$ml' is " +
            "relative and would dangle under the new location")
        ml
      }
    }
    val dstDir = new Path(s"$url/metadata")
    val dstFs = dstDir.getFileSystem(conf)
    manifestLists.foreach { ml =>
      val src = new Path(ml)
      org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
        dstFs, new Path(dstDir, src.getName), false, true, conf)
    }
    node.put("location", url)
    node.put("last-updated-ms", System.currentTimeMillis())
    writeString(s"$url/metadata/v1.metadata.json", node.toPrettyString, conf)
    writeString(s"$url/metadata/version-hint.text", "1", conf)
    Option(node.get("current-snapshot-id")).map(_.asLong).getOrElse(-1L)
  }

  /** Row count of an Avro data file: block headers carry per-block record
    * counts, so the scan skips from sync marker to sync marker without
    * decoding records. */
  private def avroRowCountOf(path: Path, conf: Configuration): Long = {
    val in = new org.apache.avro.mapred.FsInput(path, conf)
    val r = new org.apache.avro.file.DataFileReader(in,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      var n = 0L
      while (r.hasNext) { n += r.getBlockCount; r.nextBlock() }
      n
    } finally r.close()
  }

  /** Replace the rows matching `pred` with `df` in ONE snapshot
    * (`operation=overwrite`, DELETED + ADDED entries in the same manifest) —
    * the same single-snapshot shape the golden fixture's own history has
    * (v5.metadata.json; reconciliation `ice.py:196-203`).
    *
    * Like [[deleteWhere]], files that would be split by the predicate raise:
    * v1 metadata can only delete whole files (row-level rewrites are the v2
    * merge-on-read path, see position deletes). `AlwaysTrue` replaces the
    * whole table.
    */
  def overwrite(spark: SparkSession, url: String, df: DataFrame,
      pred: Pruning.IcePredicate = Pruning.AlwaysTrue): Unit =
    overwrite(FileSystemOps(spark, url), df, pred)
  def overwrite(ops: TableOps, df: DataFrame, pred: Pruning.IcePredicate): Unit = {
    val table = ops.current()
    val files = writeDataFiles(ops.spark, ops.url, table, df)
    commitSnapshot(ops, Some(table))(t => Some(SnapshotUpdate("overwrite",
      added = files, removed = wholeFilesMatching(t, pred))))
  }

  /** Live files whose statistics prove every row matches `pred`: the files
    * a whole-file delete or overwrite removes. A file the predicate would
    * split refuses — v1 metadata deletes whole files only. */
  private[graft] def wholeFilesMatching(table: IcebergTable,
      pred: Pruning.IcePredicate): Seq[Manifests.DataFileInfo] = {
    val (fully, partial) = splitByPredicate(table, pred)
    if (partial.nonEmpty)
      throw new UnsupportedOperationException(
        s"predicate matches only part of ${partial.size} file(s); use deleteRows " +
          "(format v2 position deletes) for a row-level delete or overwrite")
    fully
  }

  /** Live files split by `pred`: those whose statistics prove every row
    * matches, and those that may hold both matching and non-matching rows.
    * After partition evolution each file prunes under its own spec. */
  private def splitByPredicate(table: IcebergTable, pred: Pruning.IcePredicate)
      : (Seq[Manifests.DataFileInfo], Seq[Manifests.DataFileInfo]) =
    if (table.metadata.currentSnapshotId < 0) (Nil, Nil)
    else if (pred == Pruning.AlwaysTrue) (table.liveFiles(), Nil)
    else {
      val (mixed, fully) = table.liveFiles()
        .partition(f => table.fileMightMatchOwnSpec(Pruning.negate(pred), f))
      (fully, mixed.filter(f => table.fileMightMatchOwnSpec(pred, f)))
    }

  /** Write `df` as data files laid out for `table` — partitioned by its
    * default spec, sorted by its sort order, Iceberg field ids stamped —
    * under a fresh `data/<uuid>` directory (new files stay identifiable).
    * Each task writes its files straight to their final paths through
    * [[TaskFileWriter]] and reports each file's partition tuple and footer
    * stats; nothing is listed or re-read. Commits nothing: the files are
    * the `added` of a [[SnapshotUpdate]]. */
  private[iceberg] def writeDataFiles(spark: SparkSession, url: String,
      table: IcebergTable, df: DataFrame,
      /** Output file count of a range-partitioned (sorted, z-ordered) write;
        * compaction sets it, appends let AQE size small writes. */
      targetPartitions: Option[Int] = None,
      /** Z-ORDER clustering expression for PARTITIONED rewrites: rows
        * range-partition + sort on (partition keys, z) so each partition's
        * files cover contiguous z-ranges — clustering by partition alone
        * would otherwise undo the z-layout.
        * (Unpartitioned z-order pre-arranges the DataFrame instead.) */
      zorderBy: Option[org.apache.spark.sql.Column] = None,
      /** Per-partition z-scaling stats, keyed by the `_p_<name>` partition
        * key columns: broadcast-joined onto the rows so `zorderBy` can
        * reference per-partition bounds; all stats columns are dropped
        * before write. */
      zorderStats: Option[org.apache.spark.sql.DataFrame] = None,
      /** Iceberg v3 ROW LINEAGE carry-through for REWRITES: the incoming
        * frame holds `_row_id`/`_last_updated_sequence_number` columns
        * (read as metadata from the old files) and they are written as
        * PHYSICAL columns under the reserved field ids — row identity
        * survives compaction; readers prefer the materialized values. */
      carryLineage: Boolean = false): Seq[NewDataFile] = {
    val schema = table.iceSchema
    val specInfo = specInfoOf(table)

    import org.apache.spark.sql.functions.col
    // carry iceberg field ids into the written parquet (parquet.field.id →
    // `= N` ids in the file schema): readers resolve by id like real Iceberg
    val dfCols = df.columns.toSet
    val base = df.select(schema.fields.filter(
      // v3 `unknown` columns are NEVER materialized in data files (spec:
      // the always-null placeholder type) — skip them from the write
      // projection so frames need not carry an unwritable NullType column
      _.icebergTypeString != "unknown").map { f =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", f.id.toLong).build()
      // nested types: cast to the table's Spark type, whose inner fields
      // carry their Iceberg ids — the parquet writer then stamps ids at
      // EVERY level, so nested renames resolve by id like top-level ones
      val target = IcebergTypes.toSparkType(f.typeNode)
      val c =
        // Iceberg v3 WRITE-DEFAULT: a column the incoming frame omits is
        // filled with the field's current write-default (constant-folded
        // literal, stamped into the file like any other value)
        if (!dfCols.contains(f.name) && f.writeDefault.isDefined)
          org.apache.spark.sql.functions.expr(
            IcebergTypes.defaultToSqlLiteral(f.writeDefault.get, f.typeNode))
            .cast(target)
        else target match {
          case _: StructType | _: ArrayType | _: MapType => col(f.name).cast(target)
          case _ => col(f.name)
        }
      c.as(f.name, md)
    } ++ (if (!carryLineage) Nil else Seq(
      ("_row_id", Manifests.RowIdFieldId),
      ("_last_updated_sequence_number", Manifests.LastUpdatedSeqFieldId)).map {
      case (n, id) =>
        col(n).as(n, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", id.toLong).build())
    }): _*)
    val withParts = specInfo.foldLeft(base) { case (d, (pf, srcType, _)) =>
      val srcName = schema.fields.find(_.id == pf.sourceId).get.name
      d.withColumn(s"_p_${pf.name}",
        partitionColumn(srcType, Transforms.parse(pf.transform))(col(srcName)))
    }
    // table sort order: rows sorted WITHIN each output file → tight,
    // mostly-disjoint per-file bounds on the sort key (file-level pruning)
    val sortCols = table.sortOrderColumns.map {
      case (n, "desc") => col(n).desc
      case (n, _) => col(n).asc
    }
    val arranged = if (specInfo.isEmpty) {
      val base0 =
        if (sortCols.isEmpty) withParts
        // unpartitioned sorted writes range-partition first, so files cover
        // DISJOINT sort-key ranges instead of each file spanning everything
        // (without an explicit count AQE coalesces small appends; compaction
        // passes targetPartitions to control the output file count)
        else targetPartitions match {
          case Some(n) => withParts.repartitionByRange(n, sortCols: _*)
          case None => withParts.repartitionByRange(sortCols: _*)
        }
      if (sortCols.isEmpty) base0 else base0.sortWithinPartitions(sortCols: _*)
    } else {
      // cluster rows by partition value first: without this every task emits
      // a file per value it happens to hold (small-files explosion at scale).
      // Each task's rows then sort by partition (then the sort order), so its
      // writer holds one open file and rolls when the partition changes.
      val partCols = specInfo.map(s => col(s"_p_${s._1.name}"))
      val base1 = zorderBy match {
        case Some(z) =>
          // z-order within partitions: contiguous (partition, z) slices,
          // each sorted — files then carry tight per-partition z-ranges.
          // Optional per-partition scaling stats broadcast-join in (null-safe
          // on the partition key) and are projected away after the sort.
          import org.apache.spark.sql.functions.broadcast
          val (zin, helperCols) = zorderStats match {
            case Some(stats) =>
              val keyNames = specInfo.map(s => s"_p_${s._1.name}")
              val renamed = keyNames.foldLeft(stats)(
                (d, k) => d.withColumnRenamed(k, s"__zk_$k"))
              val cond = keyNames.map(k => withParts(k) <=> renamed(s"__zk_$k"))
                .reduce(_ && _)
              (withParts.join(broadcast(renamed), cond, "left"),
                renamed.columns.toSeq)
            case None => (withParts, Nil)
          }
          val keys = partCols.map(_.asc) :+ z.asc
          val ranged = targetPartitions match {
            case Some(n) => zin.repartitionByRange(n, keys: _*)
            case None => zin.repartitionByRange(keys: _*)
          }
          ranged.sortWithinPartitions(keys: _*).drop(helperCols: _*)
        case None =>
          withParts.repartition(partCols: _*)
            .sortWithinPartitions(partCols.map(_.asc) ++ sortCols: _*)
      }
      base1.drop(specInfo.map(s => s"_p_${s._1.name}"): _*)
    }
    TaskFileWriter.writeAll(arranged, s"$url/data/${UUID.randomUUID()}",
      TaskFileWriter.Kind.Data(schema), TaskFileWriter.partFields(table, arranged.schema))
      .map(_.dataFile)
  }

  /** (field, source Iceberg type, stored value type) for each field of
    * `spec`, its sources resolved in `table`'s schema — what manifest
    * partition tuples and summaries are written under. */
  private[iceberg] def specInfoOf(table: IcebergTable): Seq[(PartitionField, String, String)] =
    specInfoOf(table, table.partitionSpec)

  private def specInfoOf(table: IcebergTable,
      spec: PartitionSpec): Seq[(PartitionField, String, String)] = {
    val schema = table.iceSchema
    spec.fields.map { pf =>
      val src = schema.fields.find(_.id == pf.sourceId).getOrElse(
        throw new IllegalStateException(s"no source field ${pf.sourceId}"))
      (pf, src.icebergTypeString,
        partitionValueType(src.icebergTypeString, Transforms.parse(pf.transform)))
    }
  }

  // ------------------------------------------------------ snapshot producer

  /** Where a new snapshot is published. */
  private[graft] sealed trait SnapshotTarget
  private[graft] object SnapshotTarget {
    /** The table head: `current-snapshot-id`, `refs.main` and the
      * `snapshot-log` move to the new snapshot; its parent is main's head. */
    case object Main extends SnapshotTarget
    /** Write-audit-publish on a named branch: only `refs.<name>` moves. The
      * parent is the branch head (main's head for a new branch); main's
      * readers see nothing until [[fastForward]] publishes it. */
    final case class Branch(name: String) extends SnapshotTarget {
      require(name != "main", "main is written by normal commits")
    }
    /** `spark.wap.id` staging: the snapshot enters the list with main's head
      * as parent and no pointer moves — it is auditable by id, publishable
      * with [[publishChanges]], or left to expiration. */
    case object Staged extends SnapshotTarget
  }

  /** The parent's manifests a new snapshot leaves out of its list. */
  private[graft] sealed trait ManifestDrop
  private[graft] object ManifestDrop {
    /** Carry every manifest forward. */
    case object Keep extends ManifestDrop
    /** Every delete manifest: the commit's rewrite applied all deletes
      * (compaction), so none still targets a live row. */
    case object AllDeletes extends ManifestDrop
    /** The position-delete manifests: `newManifests` holds their
      * consolidated replacement. Equality-delete manifests stay. */
    case object PositionDeletes extends ManifestDrop
    /** The data manifests: `newManifests` holds their rewritten
      * replacement. Delete manifests stay. */
    case object Data extends ManifestDrop
  }

  /** A data file entering the table. */
  private[graft] final case class NewDataFile(path: String, size: Long, stats: FileStats,
      partition: Seq[Any], format: String = "PARQUET")

  /** Everything one snapshot-adding commit changes. [[commitSnapshot]]
    * derives the rest — parent, sequence number, row ids, manifest list,
    * summary totals, format version, ref moves — from the table it commits
    * against.
    *
    * @param operation    the summary's `operation`: append, overwrite,
    *                     delete or replace
    * @param added        data files the snapshot adds (ADDED entries)
    * @param removed      live data files it removes (DELETED entries); live
    *                     position deletes that target them are rewritten
    *                     away unless `drop` is [[ManifestDrop.AllDeletes]]
    * @param newManifests manifests the caller already wrote under
    *                     `snapshotId` — new delete files, a consolidated
    *                     delete set, rewritten data manifests — listed
    *                     ahead of the parent's; the summary's delete counts
    *                     come from their entry counts
    * @param picked       another snapshot's manifests spliced onto the
    *                     parent's list (cherry-pick): they keep their
    *                     added-snapshot and row ids and take this snapshot's
    *                     sequence number
    * @param drop         which of the parent's manifests the list leaves out
    * @param summary      extra summary properties, written after the
    *                     computed ones
    * @param target       which ref moves; staged targets take appends only
    * @param snapshotId   the new snapshot's id; a caller that writes files
    *                     naming it allocates it first ([[newSnapshotId]])
    * @param properties   table properties the same commit sets */
  private[graft] final case class SnapshotUpdate(operation: String,
      added: Seq[NewDataFile] = Nil,
      removed: Seq[Manifests.DataFileInfo] = Nil,
      newManifests: Seq[NewManifestInfo] = Nil,
      picked: Seq[Manifests.ManifestFile] = Nil,
      drop: ManifestDrop = ManifestDrop.Keep,
      summary: Map[String, String] = Map.empty,
      target: SnapshotTarget = SnapshotTarget.Main,
      snapshotId: Long = newSnapshotId(),
      properties: Map[String, String] = Map.empty)

  /** A fresh positive snapshot id. */
  private[graft] def newSnapshotId(): Long =
    math.abs(UUID.randomUUID().getMostSignificantBits)

  /** THE snapshot producer: every commit that adds a snapshot goes through
    * here. `build` runs once per attempt of the optimistic commit loop
    * against the table state CURRENT at that attempt (the first attempt
    * uses `pinned`, a writer's own load, when given); it runs the
    * operation's validations, resolves which files the operation removes,
    * and returns the update, or None to commit nothing. The producer then,
    * in the same attempt:
    *  - rewrites the live position deletes that target removed files;
    *  - writes the data manifest (DELETED + ADDED entries) when it has any;
    *  - writes the manifest list: the new manifests with this snapshot's
    *    sequence number and v3 row-id ranges, then the parent's kept ones;
    *  - computes the summary: added/deleted counts, and the totals as the
    *    parent's total plus added minus removed (Iceberg's SnapshotSummary
    *    rule — omitted when the parent carries none);
    *  - raises the format version to 2 when the new manifests need it
    *    (delete content, or rewritten EXISTING entries);
    *  - adds the snapshot, moves the target's ref and sets the table
    *    properties the update carries — all in one metadata version.
    * An attempt that loses its publish leaves nothing behind: the next
    * attempt (or the final failure) first deletes the manifest list,
    * manifests and delete-state rewrite it wrote, as iceberg-java's
    * `cleanUncommitted` does. Files the caller wrote before the loop stay. */
  private[graft] def commitSnapshot(ops: TableOps,
      pinned: Option[IcebergTable] = None)(
      build: IcebergTable => Option[SnapshotUpdate]): Unit = {
    import ops.{spark, url}
    // names every file the attempt in flight writes ("" when none), and
    // the conf of the handle it built against
    var attemptId = ""
    var attemptConf: Configuration = null
    def cleanUncommitted(): Unit = if (attemptId.nonEmpty) {
      val fs = new Path(url).getFileSystem(attemptConf)
      try for (dir <- Seq("metadata", "data"); p = new Path(s"$url/$dir")
          if fs.exists(p); st <- fs.listStatus(p)
          if st.getPath.getName.contains(attemptId)) fs.delete(st.getPath, true)
      catch {
        case e: java.io.IOException =>
          log.warn(s"files of a lost commit attempt on $url were not removed", e)
      }
      attemptId = ""
    }
    try commitWithRetry(ops, pinned) { table =>
      cleanUncommitted() // the previous attempt lost its publish
      build(table).map { u =>
        attemptId = UUID.randomUUID().toString
        attemptConf = table.conf
        produceSnapshot(spark, url, table, u, attemptId)
      }
    } catch {
      case e: java.util.ConcurrentModificationException =>
        cleanUncommitted()
        throw e
    }
  }

  /** One attempt of [[commitSnapshot]]: the metadata updates that publish
    * the snapshot. Every file it writes carries `commitId` in its name. */
  private def produceSnapshot(spark: SparkSession, url: String,
      table: IcebergTable, u: SnapshotUpdate, commitId: String): Seq[MetadataUpdate] = {
    val conf = table.conf
    require(u.target == SnapshotTarget.Main || (u.operation == "append" &&
        u.removed.isEmpty && u.newManifests.isEmpty && u.picked.isEmpty &&
        u.drop == ManifestDrop.Keep),
      "staged commits support append only (audit then publish)")
    // a wap.id names ONE auditable commit: re-using one (a retried job
    // resubmitting, two writers sharing an id) must refuse, or a later
    // publish-by-id would be ambiguous (Iceberg's duplicate-WAP rule)
    u.summary.get("wap.id").foreach { id =>
      require(!table.metadata.snapshots.exists(_.summary.get("wap.id").contains(id)),
        s"duplicate wap.id '$id': a snapshot already carries it")
    }
    val sid = u.snapshotId
    val parentId = u.target match {
      case SnapshotTarget.Branch(b) =>
        table.refs.get(b).map(_.snapshotId).getOrElse(table.metadata.currentSnapshotId)
      case _ => table.metadata.currentSnapshotId
    }
    val parent =
      if (parentId < 0) None
      else if (parentId == table.metadata.currentSnapshotId) Some(table)
      else Some(table.atSnapshot(parentId))
    val specInfo = specInfoOf(table)

    // whole-file removals may leave live position deletes targeting the
    // removed files: rewrite the delete state so none dangles (unless every
    // delete manifest is dropped anyway)
    val deleteRewrite: Option[(Seq[NewManifestInfo], Long)] =
      if (u.drop == ManifestDrop.AllDeletes) None
      else rewriteDeletesForRemovedFiles(spark, url, table, commitId, sid,
        u.removed, specInfo, conf)

    val removedTuples = u.removed.map(f =>
      specInfo.map { case (pf, _, _) => f.partition.getOrElse(pf.name, null) })
    val dataManifest =
      if (u.added.isEmpty && u.removed.isEmpty) None
      else {
        val path = s"$url/metadata/$commitId-m0.avro"
        val deleted = u.removed.zip(removedTuples).map { case (f, pv) =>
          (f.filePath, f.fileSizeInBytes, FileStats(f.recordCount, f.lowerBounds,
            f.upperBounds, f.valueCounts, f.nullValueCounts, f.nanValueCounts),
            pv, Manifests.Status.Deleted)
        }
        val added = u.added.map(f =>
          (f.path, f.size, f.stats, f.partition, Manifests.Status.Added))
        // DELETED entries keep the format their files were registered with
        writeManifestEntries(path, sid, deleted ++ added, specInfo, conf,
          formatOf = (u.removed.map(f => f.filePath -> f.fileFormat.toUpperCase) ++
            u.added.map(f => f.path -> f.format)).toMap)
        // summaries cover DELETED entries too: a manifest skipped by its
        // summary must not hide a DELETED entry
        Some(NewManifestInfo(path, Manifests.FileContent.Data,
          u.added.size, u.added.map(_.stats.recordCount).sum,
          u.removed.size, u.removed.map(_.recordCount).sum,
          partitionSummaries(specInfo, u.added.map(_.partition) ++ removedTuples)))
      }
    val created = dataManifest.toSeq ++ u.newManifests ++
      deleteRewrite.map(_._1).getOrElse(Nil)

    // the parent's manifests, minus the ones this commit replaces; a
    // delete-state rewrite replaces the position-delete manifests (equality
    // deletes reference keys, not files — they survive file removal)
    val dropsPositionDeletes =
      u.drop == ManifestDrop.PositionDeletes || deleteRewrite.isDefined
    val kept = parent.map(_.manifestList).getOrElse(Nil).filterNot { m =>
      val isDelete = m.content == Manifests.ManifestContent.Deletes
      u.drop match {
        case ManifestDrop.AllDeletes => isDelete
        case ManifestDrop.Data => !isDelete
        case _ => dropsPositionDeletes && isDelete &&
          !parent.get.equalityDeleteManifestPaths.contains(m.path)
      }
    }
    val newSeq = table.metadata.lastSequenceNumber + 1
    // Iceberg v3 ROW LINEAGE: the new data manifests get [next-row-id,
    // next-row-id + added) — allocated per attempt, so a lost race re-reads
    // next-row-id and concurrent committers never overlap
    val rowIdBase =
      if (table.metadata.formatVersion >= 3) Some(table.metadata.nextRowId.getOrElse(0L))
      else None
    val listPath = s"$url/metadata/snap-$sid-1-$commitId.avro"
    // picked manifests are RE-SEQUENCED under this snapshot (their append
    // entries inherit the list row's number), as Iceberg's cherrypick does:
    // the stage-time number would let an equality delete committed on main
    // between stage and publish delete the just-published rows
    writeManifestLists(listPath, sid, created,
      u.picked.map(_.copy(sequenceNumber = Some(newSeq))) ++ kept, conf,
      sequenceNumber = newSeq, specId = table.metadata.defaultSpecId,
      firstRowIdBase = rowIdBase)

    def rows(content: Int)(f: NewManifestInfo => Long): Long =
      u.newManifests.filter(_.fileContent == content).map(f).sum
    val addedFiles = u.added.size + rows(Manifests.FileContent.Data)(_.addedFiles) +
      u.picked.map(_.addedFilesCount.getOrElse(0).toLong).sum
    val addedRecords = u.added.map(_.stats.recordCount).sum +
      rows(Manifests.FileContent.Data)(_.addedRows) +
      u.picked.map(_.addedRowsCount.getOrElse(0L)).sum
    // net new position deletes (a DV manifest's DELETED entries are the
    // prior blobs its merged ones supersede)
    val addedPositionDeletes =
      rows(Manifests.FileContent.PositionDeletes)(m => m.addedRows - m.deletedRows)
    // position-delete rows that stop counting: all of them when their
    // manifests are dropped, else those the delete-state rewrite found on
    // removed files — either way their rows are already gone from the total
    val retiredPositionDeletes =
      if (u.drop == ManifestDrop.AllDeletes || u.drop == ManifestDrop.PositionDeletes)
        table.positionDeleteFiles.map(_.recordCount).sum
      else deleteRewrite.map(_._2).getOrElse(0L)
    // rows readers stop seeing (equality deletes match an unknown number of
    // rows, so they leave the totals as they are)
    val deletedRecords = u.removed.map(_.recordCount).sum -
      retiredPositionDeletes + addedPositionDeletes
    val summary = mapper.createObjectNode()
    summary.put("operation", u.operation)
    def putCount(key: String, n: Long): Unit =
      if (n != 0) summary.put(key, n.toString)
    putCount("added-data-files", addedFiles)
    putCount("added-records", addedRecords)
    putCount("deleted-data-files", u.removed.size)
    putCount("deleted-records", deletedRecords)
    putCount("added-delete-files",
      u.newManifests.filter(_.fileContent != Manifests.FileContent.Data)
        .map(_.addedFiles.toLong).sum)
    putCount("added-position-deletes", addedPositionDeletes)
    putCount("removed-position-deletes", retiredPositionDeletes)
    putCount("added-equality-deletes",
      rows(Manifests.FileContent.EqualityDeletes)(_.addedRows))
    val parentSummary = parent.map(_.currentSnapshot.summary)
    def putTotal(key: String, delta: Long): Unit =
      parentSummary.fold(Option(0L))(_.get(key).map(_.toLong))
        .foreach(t => summary.put(key, (t + delta).toString))
    putTotal("total-records", addedRecords - deletedRecords)
    putTotal("total-data-files", addedFiles - u.removed.size)
    u.summary.foreach { case (k, v) => summary.put(k, v) }

    // delete manifests and rewritten EXISTING entries (explicit sequence
    // numbers) are v2 features; the version is raised, never lowered
    val upgrade = table.metadata.formatVersion < 2 && created.exists(m =>
      m.content == Manifests.ManifestContent.Deletes || m.existingFiles > 0)
    val snap = mapper.createObjectNode()
    snap.put("snapshot-id", sid)
    if (parentId >= 0) snap.put("parent-snapshot-id", parentId)
    snap.put("timestamp-ms", System.currentTimeMillis())
    snap.put("sequence-number", newSeq)
    rowIdBase.foreach { b =>
      snap.put("first-row-id", b)
      snap.put("added-rows", created
        .filter(_.fileContent == Manifests.FileContent.Data).map(_.addedRows).sum)
    }
    snap.set[ObjectNode]("summary", summary)
    snap.put("manifest-list", listPath)
    snap.put("schema-id", table.metadata.currentSchemaId)
    val ref = u.target match {
      case SnapshotTarget.Main => Seq(SetSnapshotRef.moving(table.metadata, "main", sid))
      case SnapshotTarget.Branch(b) => Seq(SetSnapshotRef.moving(table.metadata, b, sid))
      case SnapshotTarget.Staged => Nil
    }
    (if (u.properties.isEmpty) Nil else Seq(SetProperties(u.properties))) ++
      (if (upgrade) Seq(UpgradeFormatVersion(2)) else Nil) ++
      (AddSnapshot(snap) +: ref)
  }

  /** Manifest-list partition summaries over `tuples` (one per entry, in
    * `specInfo` order): per field, whether a null occurs and the encoded
    * min/max of the non-null values. */
  private def partitionSummaries(specInfo: Seq[(PartitionField, String, String)],
      tuples: Seq[Seq[Any]]): Seq[(Boolean, Option[Array[Byte]], Option[Array[Byte]])] =
    specInfo.zipWithIndex.map { case ((_, _, valueType), i) =>
      val values = tuples.map(_(i))
      val nonNull = values.filter(_ != null)
      val containsNull = values.exists(_ == null)
      if (nonNull.isEmpty) (containsNull, None, None)
      else {
        val mn = nonNull.reduce((a, b) =>
          if (IcebergTypes.compare(a, b).exists(_ <= 0)) a else b)
        val mx = nonNull.reduce((a, b) =>
          if (IcebergTypes.compare(a, b).exists(_ >= 0)) a else b)
        (containsNull, Some(IcebergTypes.encodeBound(mn, valueType)),
          Some(IcebergTypes.encodeBound(mx, valueType)))
      }
    }

  /** Resolved paths of `table`'s live delete files — the delete state a
    * pinned read applied, compared by [[requireDeletesUnchanged]]. */
  private[graft] def liveDeleteSet(table: IcebergTable): Set[String] =
    table.liveDeleteFiles.map(f => table.resolvePath(f.filePath)).toSet

  /** A commit derived from PIN-time table state (compaction, copy-on-write
    * UPDATE/MERGE, row-level deletes, delete consolidation) refuses when a
    * row-level delete committed after the pin: the pinned read never saw
    * it, so committing would silently resurrect the concurrently-deleted
    * rows. Same shape as Iceberg's RewriteFiles validation; the caller
    * reruns against the current snapshot. */
  private[graft] def requireDeletesUnchanged(table: IcebergTable,
      atPin: Set[String]): Unit =
    if (liveDeleteSet(table) != atPin)
      throw new java.util.ConcurrentModificationException(
        "row-level deletes committed concurrently would be lost by this " +
          "operation; rerun the operation against the current snapshot")

  /** A DELTA commit references scanned data files by (path, position): if a
    * concurrent commit removed one (compaction, overwrite), its deletes
    * would dangle AND the op's re-inserted rows would duplicate rows still
    * present in the replacement files — refuse, the caller reruns against
    * the current snapshot. */
  private[graft] def requireScannedFilesLive(table: IcebergTable,
      keys: Set[String]): Unit = {
    val live = table.liveFiles().map(f => morKeyOf(table.resolvePath(f.filePath))).toSet
    val missing = keys.diff(live)
    if (missing.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"${missing.size} scanned data file(s) were removed by a concurrent " +
          "commit; rerun the row-level operation against the current snapshot")
  }

  /** SERIALIZABLE isolation for delta DML (Iceberg's default for
    * UPDATE/MERGE/DELETE — validateAddedDataFiles): a data file committed
    * after the scan (not among `keysAtScan`) that might match the
    * operation's condition invalidates its row selection (e.g. a MERGE can
    * insert a key a concurrent append also inserted — write skew). Refuse;
    * the caller reruns against the current snapshot. */
  private[graft] def requireNoConflictingAdds(table: IcebergTable,
      keysAtScan: Set[String], pred: Pruning.IcePredicate): Unit = {
    val live = if (table.metadata.currentSnapshotId < 0) Nil else table.liveFiles()
    val conflicting = live.filter { f =>
      !keysAtScan.contains(morKeyOf(table.resolvePath(f.filePath))) &&
        table.fileMightMatchOwnSpec(pred, f)
    }
    if (conflicting.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"${conflicting.size} data file(s) added by a concurrent commit " +
          "may match the row-level operation's condition (serializable " +
          "isolation); rerun the operation against the current snapshot")
  }

  // ------------------------------------------------------ schema evolution

  /** Add a column (metadata-only; existing files read back null for it).
    * The new field gets a fresh id (last-column-id + 1) — id-based parquet
    * resolution keeps every existing file readable unchanged. */
  def addColumn(spark: SparkSession, url: String, name: String, icebergType: String,
      required: Boolean = false, default: Option[Any] = None): Unit =
    addColumn(FileSystemOps(spark, url), name, icebergType, required, default)
  def addColumn(ops: TableOps, name: String, icebergType: String, required: Boolean,
      /** Iceberg v3 DEFAULT VALUE: recorded as the field's immutable
        * `initial-default` (reads of pre-add files yield it instead of
        * null — wired into Spark's existence-default machinery) and as its
        * starting `write-default`. v3 only; REQUIRED adds demand one (the
        * pre-add files otherwise hold an impossible null). */
      default: Option[Any]): Unit =
    evolveSchema(ops)(addColumnChange(_, name, icebergType, required, default))

  /** Rename a column (metadata-only). The field id is unchanged, so data
    * written under the old name resolves by id — no rewrite, no nulls.
    * `from` may be a dotted path into nested structs; `to` is the new LEAF
    * name. */
  def renameColumn(spark: SparkSession, url: String, from: String, to: String): Unit =
    renameColumn(FileSystemOps(spark, url), from, to)
  def renameColumn(ops: TableOps, from: String, to: String): Unit =
    evolveSchema(ops)(renameColumnChange(_, from, to))

  /** Drop a column (metadata-only; files keep the bytes, readers stop
    * projecting them; time travel to older snapshots still sees it). Dotted
    * paths drop inside nested structs. */
  def dropColumn(spark: SparkSession, url: String, name: String): Unit =
    dropColumn(FileSystemOps(spark, url), name)
  def dropColumn(ops: TableOps, name: String): Unit =
    evolveSchema(ops)(dropColumnChange(_, name))

  /** One column change of a schema evolution, validated against the table
    * it commits to: maps the (fields, last-column-id) it starts from to the
    * evolved pair. */
  private type ColumnChange = (Seq[ObjectNode], Int) => (Seq[ObjectNode], Int)

  private def addColumnChange(t: IcebergTable, name: String, icebergType: String,
      required: Boolean, default: Option[Any]): ColumnChange = {
    // v3-ONLY types may not land in v1/v2 metadata (external readers would
    // reject or misread the whole table)
    val v3OnlyType = Set("variant", "unknown", "timestamp_ns", "timestamptz_ns")
    if (default.isDefined || required || v3OnlyType(icebergType)) {
      require(default.isDefined || !required,
        s"adding REQUIRED column $name needs a default value: rows in " +
          "pre-add files have no value for it (Iceberg v3 rule)")
      require(t.metadata.formatVersion >= 3,
        (if (v3OnlyType(icebergType)) s"type $icebergType is" else
          "default values are") +
          " an Iceberg v3 feature; run upgradeFormatVersion" +
          s"(url, 3) first (table is v${t.metadata.formatVersion})")
    }
    (fields, lastColumnId) => {
      // route into a struct only when the first segment names an existing
      // top-level STRUCT column; otherwise the whole name is a flat column
      // (which may legitimately contain a literal '.')
      val dotted = name.split('.').toSeq
      val parts =
        if (dotted.length > 1 && fields.exists(f =>
          f.get("name").asText == dotted.head && {
            val t = f.get("type")
            t != null && t.isObject && t.get("type").asText == "struct"
          })) dotted
        else Seq(name)
      val f = mapper.createObjectNode()
      f.put("id", lastColumnId + 1)
      f.put("name", parts.last)
      f.put("required", required)
      f.put("type", icebergType)
      default.foreach { d =>
        require(parts.length == 1,
          s"default values on nested struct fields not supported: $name")
        val node = IcebergTypes.defaultToJson(d, icebergType, mapper)
        f.set[ObjectNode]("initial-default", node)
        f.set[ObjectNode]("write-default", node)
      }
      (mutateStructPath(fields, parts.init, name) { leaf =>
        require(!leaf.exists(_.get("name").asText == parts.last), s"column $name exists")
        leaf :+ f
      }, lastColumnId + 1)
    }
  }

  private def renameColumnChange(t: IcebergTable, from: String, to: String): ColumnChange = {
    requireImportSafeEvolution(t, from, "renameColumn")
    (fields, lastColumnId) => {
      val parts = evolutionPath(fields, from)
      (mutateStructPath(fields, parts.init, from) { leaf =>
        require(leaf.exists(_.get("name").asText == parts.last), s"no column $from")
        require(!leaf.exists(_.get("name").asText == to), s"column $to exists")
        leaf.map { f =>
          if (f.get("name").asText == parts.last) { val c = f.deepCopy(); c.put("name", to); c }
          else f
        }
      }, lastColumnId)
    }
  }

  private def dropColumnChange(t: IcebergTable, name: String): ColumnChange = {
    requireImportSafeEvolution(t, name, "dropColumn")
    (fields, lastColumnId) => {
      val parts = evolutionPath(fields, name)
      (mutateStructPath(fields, parts.init, name) { leaf =>
        require(leaf.exists(_.get("name").asText == parts.last), s"no column $name")
        leaf.filterNot(_.get("name").asText == parts.last)
      }, lastColumnId)
    }
  }

  /** Are any of `files` FOREIGN (imported id-less) — registered by
    * `addFiles`/`importParquetDir` rather than written natively? Detected
    * by the import snapshot marker, a non-parquet format, or a path
    * outside the table's `data/` dir. Shared by the schema-evolution
    * refusals below and by [[Maintenance.compact]] (whose fold-to-native
    * rewrite is the documented remediation those refusals point at). */
  private[iceberg] def hasForeignFiles(t: IcebergTable,
      files: Seq[Manifests.DataFileInfo]): Boolean = {
    val importIds = t.metadata.snapshots
      .filter(_.summary.contains("graft-added-files")).map(_.snapshotId).toSet
    files.exists(f =>
      !f.fileFormat.equalsIgnoreCase("PARQUET") ||
        f.snapshotId.exists(importIds) ||
        !t.resolvePath(f.filePath).contains("/data/"))
  }

  /** Rename/drop over a table holding live IMPORTED ID-LESS files is safe
    * only when `schema.name-mapping.default` covers them (the scan's
    * foreign batch then resolves by import-time names). Two loud refusals
    * close the silent-misread corners: a legacy import that predates the
    * mapping, and NESTED renames (the recorded mapping covers top-level
    * fields — imported files resolve nested leaves by name, which a nested
    * rename would break). Costs one planning pass; schema evolution is a
    * rare metadata op. */
  private def requireImportSafeEvolution(t: IcebergTable, column: String,
      op: String): Unit = {
    if (t.metadata.currentSnapshotId < 0) return
    val hasForeign = hasForeignFiles(t, t.liveFiles())
    if (!hasForeign) return
    if (column.split('.').length > 1 &&
        t.iceSchema.fields.exists(f => f.name == column.split('.').head &&
          f.icebergTypeString == "struct"))
      throw new UnsupportedOperationException(
        s"$op on nested field $column: the table holds imported id-less " +
          "files and name mapping covers top-level fields only; compact " +
          "the table to fold imported files first")
    if (!t.metadata.properties.contains(NameMapping.Prop))
      throw new UnsupportedOperationException(
        s"$op would silently misresolve imported id-less files registered " +
          "before name mapping existed (no schema.name-mapping.default); " +
          "compact the table to fold imported files first")
  }

  // -------------------------------------------------------------- rollback

  /** ROLL BACK the table to an earlier snapshot (undo a bad commit):
    * metadata-only — `current-snapshot-id` and `refs.main` move back, the
    * bad snapshots stay in metadata (still time-travelable, physically
    * reclaimed later by expireSnapshots), and the next commit chains off
    * the restored snapshot. The target must be an ANCESTOR of the current
    * snapshot — rolling "back" to an unrelated branch would silently
    * splice histories. */
  def rollbackTo(spark: SparkSession, url: String, snapshotId: Long): Unit =
    rollbackTo(FileSystemOps(spark, url), snapshotId)
  def rollbackTo(ops: TableOps, snapshotId: Long): Unit = {
    commitWithRetry(ops) { table =>
      require(table.snapshots.contains(snapshotId), s"unknown snapshot $snapshotId")
      var cur = table.currentSnapshot
      while (cur.snapshotId != snapshotId)
        cur = cur.parentSnapshotId.flatMap(table.snapshots.get).getOrElse(
          throw new IllegalArgumentException(
            s"snapshot $snapshotId is not an ancestor of the current snapshot; " +
              "rollback only rewinds the current history"))
      // the rollback is itself a history event
      if (table.currentSnapshot.snapshotId == snapshotId) None // no-op
      else Some(Seq(SetSnapshotRef.moving(table.metadata, "main", snapshotId)))
    }
  }

  /** Move the table head to ANY snapshot still in metadata — Iceberg's
    * `set_current_snapshot`: unlike [[rollbackTo]] there is NO ancestry
    * requirement, so this can jump onto a side branch's history (the
    * operator's explicit splice, e.g. adopting a staged WAP snapshot
    * in place). Metadata-only; the move is itself a history event. */
  def setCurrentSnapshot(spark: SparkSession, url: String, snapshotId: Long): Unit =
    setCurrentSnapshot(FileSystemOps(spark, url), snapshotId)
  def setCurrentSnapshot(ops: TableOps, snapshotId: Long): Unit = {
    commitWithRetry(ops) { table =>
      require(table.snapshots.contains(snapshotId), s"unknown snapshot $snapshotId")
      if (table.metadata.currentSnapshotId == snapshotId) None // no-op
      else Some(Seq(SetSnapshotRef.moving(table.metadata, "main", snapshotId)))
    }
  }

  /** CHERRY-PICK one APPEND snapshot onto the current main head — the
    * publish half of audit workflows when main has MOVED past the staging
    * fork (where [[fastForward]] refuses). Metadata-only and O(manifest
    * count): the source commit's NEW manifests (its list minus its
    * parent's) are spliced onto main's manifest list under a NEW snapshot
    * — data files are immutable and never copied. The new snapshot records
    * `source-snapshot-id` (Iceberg's audit trail). Appends only, like
    * Iceberg's cherrypick: replaying a delete/overwrite against a moved
    * main could silently target rows the operator never audited.
    *
    * Row lineage stays sound BY CONSTRUCTION: the staged commit allocated
    * its row-id range from the same metadata counter inside the optimistic
    * loop, so its manifests' `first_row_id` never collides with ranges main
    * allocated after the fork, and the splice preserves it. Sequence
    * numbers are RE-ASSIGNED at publish (the new snapshot's sequence, as
    * Iceberg's cherrypick does): keeping the stage-time sequence would let
    * an equality delete committed on main between stage and publish apply
    * to the just-published rows.
    *
    * @return the new snapshot id on main */
  def cherryPick(spark: SparkSession, url: String, sourceSnapshotId: Long): Long =
    cherryPick(FileSystemOps(spark, url), sourceSnapshotId)
  def cherryPick(ops: TableOps, sourceSnapshotId: Long): Long = {
    val snapshotId = newSnapshotId()
    commitSnapshot(ops) { table =>
      val src = table.snapshots.getOrElse(sourceSnapshotId,
        throw new IllegalArgumentException(s"unknown snapshot $sourceSnapshotId"))
      require(src.summary.get("operation").contains("append"),
        s"cherry-pick supports append snapshots only; $sourceSnapshotId is " +
          s"'${src.summary.getOrElse("operation", "?")}'")
      // already on main's history → publishing again would duplicate rows
      var cur = table.snapshots.get(table.metadata.currentSnapshotId)
      while (cur.isDefined) {
        if (cur.get.snapshotId == sourceSnapshotId)
          throw new IllegalArgumentException(
            s"snapshot $sourceSnapshotId is already an ancestor of main")
        cur = cur.get.parentSnapshotId.flatMap(table.snapshots.get)
      }

      val srcView = table.atSnapshot(sourceSnapshotId)
      val parentManifests: Set[String] = src.parentSnapshotId
        .map(p => table.atSnapshot(p).manifestList.map(_.path).toSet)
        .getOrElse(Set.empty)
      val picked = srcView.manifestList.filterNot(m => parentManifests(m.path))
      require(picked.forall(_.content == Manifests.ManifestContent.Data),
        "cherry-pick source carries delete manifests — not an append")

      // picking the same files twice (double publish via different ids)
      // would duplicate rows — refuse on any path overlap
      val mainPaths =
        if (table.metadata.currentSnapshotId < 0) Set.empty[String]
        else table.manifestList.map(_.path).toSet
      require(!picked.exists(m => mainPaths(m.path)),
        "cherry-picked manifests already present on main")
      Some(SnapshotUpdate("append", picked = picked, snapshotId = snapshotId,
        summary = Map("source-snapshot-id" -> sourceSnapshotId.toString) ++
          src.summary.get("wap.id").map("published-wap-id" -> _)))
    }
    snapshotId
  }

  /** PUBLISH a write-audit-publish commit BY ITS `wap.id` (Iceberg's
    * `publish_changes`): finds the snapshot stamped with the id (staged via
    * `appendToBranch(..., extraSummary = Map("wap.id" -> …))`) and
    * cherry-picks it onto main — works whether or not main advanced past
    * the staging fork. Refuses unknown or ambiguous ids.
    *
    * @return the new snapshot id on main */
  def publishChanges(ops: TableOps, wapId: String): Long = {
    val table = ops.current()
    val matches = table.metadata.snapshots
      .filter(_.summary.get("wap.id").contains(wapId))
    require(matches.nonEmpty, s"no snapshot carries wap.id '$wapId'")
    require(matches.size == 1,
      s"wap.id '$wapId' is ambiguous (${matches.size} snapshots) — " +
        "publish by snapshot id with cherryPick instead")
    cherryPick(ops, matches.head.snapshotId)
  }

  // ---------------------------------------------------- partition evolution

  /** SET (or CLEAR) the table's default SORT ORDER — metadata-only, like
    * partition-spec evolution: FUTURE writes range-partition + sort on the
    * new order (tight, usually disjoint per-file bounds on the sort key);
    * existing files keep their layout until a compact rewrites them under
    * the new order. An identical existing order is REUSED by id; otherwise
    * the new order appends with a fresh order-id (orders are immutable and
    * id-referenced, per the spec). Empty `order` resets to unsorted
    * (order 0) — the prerequisite for [[Maintenance.zorder]], which
    * refuses sorted tables. */
  def setSortOrder(spark: SparkSession, url: String, order: Seq[(String, String)]): Unit =
    setSortOrder(FileSystemOps(spark, url), order)
  def setSortOrder(ops: TableOps, order: Seq[(String, String)]): Unit = {
    commitWithRetry(ops) { table =>
      val schema = table.iceSchema
      val fields = order.map { case (src, direction) =>
        val f = schema.fields.find(_.name == src).getOrElse(
          throw new IllegalArgumentException(s"no sort column $src"))
        sortField(src, direction, f.id, f.icebergTypeString == "variant")
      }
      val orders = table.metadata.sortOrders
      // order 0 (unsorted) must exist to resolve (legacy metadata may lack it)
      val unsorted = if (orders.exists(_.orderId == 0)) Nil else Seq(IceSortOrder(0, Nil))
      // an identical existing order is reused by id
      val existing =
        if (fields.isEmpty) Some(0) else orders.find(_.fields == fields).map(_.orderId)
      val added = if (existing.isDefined) Nil
        else Seq(IceSortOrder((0 +: orders.map(_.orderId)).max + 1, fields))
      val targetId = existing.getOrElse(added.head.orderId)
      if (table.metadata.defaultSortOrderId == targetId) None // no-op
      else Some((unsorted ++ added).map(o => AddSortOrder(sortOrderNode(o))) :+
        SetDefaultSortOrder(targetId))
    }
  }

  /** An identity sort field on column `src` (field id `sourceId`). */
  private def sortField(src: String, direction: String, sourceId: Int,
      variant: Boolean): SortField = {
    require(Set("asc", "desc").contains(direction),
      s"sort direction must be asc|desc, got $direction")
    require(!variant, s"variant column $src cannot be a sort key (no defined ordering)")
    SortField(sourceId, "identity", direction,
      if (direction == "asc") "nulls-first" else "nulls-last")
  }

  /** `order` as its spec JSON object. */
  private def sortOrderNode(order: IceSortOrder): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("order-id", order.orderId)
    val fields = o.putArray("fields")
    order.fields.foreach { f =>
      fields.addObject().put("transform", f.transform).put("source-id", f.sourceId)
        .put("direction", f.direction).put("null-order", f.nullOrder)
    }
    o
  }

  /** PARTITION SPEC EVOLUTION (metadata-only): register `partitions` (the
    * FULL new spec, (source column, transform) pairs like [[createTable]])
    * as a new spec with a fresh spec-id and make it the default for FUTURE
    * writes — the Iceberg answer to "repartition a 100 TB table": zero data
    * rewritten. Old files keep their spec; both pruning tiers evaluate each
    * manifest/file under its OWN spec (see `IcebergTable.pruningContextFor`).
    * A field identical to one in an existing spec (same source-id,
    * transform, and name) reuses its field-id, per the Iceberg spec. */
  def updatePartitionSpec(spark: SparkSession, url: String,
      partitions: Seq[(String, String)]): Unit =
    updatePartitionSpec(FileSystemOps(spark, url), partitions)
  def updatePartitionSpec(ops: TableOps, partitions: Seq[(String, String)]): Unit = {
    commitWithRetry(ops) { table =>
      val schema = table.iceSchema
      val existing = table.metadata.partitionSpecs
      val newSpecId = existing.map(_.specId).max + 1
      // defensive floor at the max assigned field-id: legacy metadata (incl.
      // tables this writer created before it tracked the counter) may carry
      // a stale last-partition-id, and a fresh id colliding with an existing
      // field's would alias two different transforms
      var lastPartId = (mapper.readTree(table.rawMetadataJson)
        .path("last-partition-id").asInt(999) +:
        existing.flatMap(_.fields.map(_.fieldId))).max
      // reuse by (source, transform) ONLY — the spec's rule: a partition
      // field keeps its id across specs even when its NAME changes (e.g.
      // the source column was renamed and the derived name moved with it).
      // Keying on the name would mint a fresh id for the same conceptual
      // field, splitting its history in the unified partition tuple.
      def reusableFieldId(sourceId: Int, tr: String): Option[Int] =
        existing.flatMap(_.fields)
          .find(f => f.sourceId == sourceId && f.transform == tr).map(_.fieldId)
      val spec = mapper.createObjectNode().put("spec-id", newSpecId)
      val specFields = spec.putArray("fields")
      partitions.foreach { case (src, tr) =>
        Transforms.parse(tr) // refuse unknown transform strings up front
        val sourceId = schema.fields.find(_.name == src).getOrElse(
          throw new IllegalArgumentException(s"no partition source column $src")).id
        val fid = reusableFieldId(sourceId, tr).getOrElse {
          lastPartId += 1; lastPartId
        }
        specFields.addObject().put("name", partitionFieldName(src, tr))
          .put("transform", tr).put("source-id", sourceId).put("field-id", fid)
      }
      Some(Seq(AddSpec(spec), SetDefaultSpec(newSpecId)))
    }
  }

  /** Resolve an evolution target: an EXACT top-level name wins over a
    * dotted-path reading, so a flat column whose name contains a literal
    * '.' can still be renamed/dropped (the dot is a legal identifier char;
    * misreading it as a struct path fails with "no struct column"). */
  private def evolutionPath(fields: Seq[ObjectNode], name: String): Seq[String] =
    if (fields.exists(_.get("name").asText == name)) Seq(name)
    else name.split('.').toSeq

  /** Apply `op` to the field list at the end of `parents` — a dotted path of
    * STRUCT columns (empty = top level). Fields along the path are deep-
    * copied, so the original schema nodes (older schema versions share them)
    * are never mutated. The reference rejects nested types outright
    * (conversions.py:46); this evolves inside them. */
  private def mutateStructPath(fields: Seq[ObjectNode], parents: Seq[String],
      fullName: String)(op: Seq[ObjectNode] => Seq[ObjectNode]): Seq[ObjectNode] = {
    if (parents.isEmpty) op(fields)
    else {
      require(fields.exists(_.get("name").asText == parents.head),
        s"no struct column ${parents.head} on path $fullName")
      fields.map { f =>
        if (f.get("name").asText != parents.head) f
        else {
          val c = f.deepCopy()
          val t = c.get("type")
          require(t != null && t.isObject && t.get("type").asText == "struct",
            s"column ${parents.head} on path $fullName is not a struct")
          val inner = t.asInstanceOf[ObjectNode].withArray[ArrayNode]("fields")
          val innerFields = (0 until inner.size)
            .map(i => inner.get(i).asInstanceOf[ObjectNode])
          val newInner = mutateStructPath(innerFields, parents.tail, fullName)(op)
          inner.removeAll()
          newInner.foreach(inner.add)
          c
        }
      }
    }
  }

  private def evolveSchema(ops: TableOps)(
      change: IcebergTable => ColumnChange): Unit =
    commitWithRetry(ops)(t =>
      Some(schemaUpdates(t, Seq(change(t)))))

  /** A new schema version: `changes` applied in order to the current
    * schema, added with a fresh schema-id and made current — snapshots are
    * untouched, so time travel keeps each snapshot's own schema. */
  private def schemaUpdates(table: IcebergTable,
      changes: Seq[ColumnChange]): Seq[MetadataUpdate] = {
    val base = mapper.readTree(table.rawMetadataJson)
    val current = Option(base.get("schemas")).toSeq.flatMap(_.elements().asScala)
      .find(_.get("schema-id").asInt == table.metadata.currentSchemaId)
      .getOrElse(throw new IllegalStateException("no current schema"))
    val fields = current.get("fields").elements().asScala
      .map(_.asInstanceOf[ObjectNode]).toSeq
    val (newFields, lastColumnId) =
      changes.foldLeft((fields, base.path("last-column-id").asInt(fields.size))) {
        case ((fs, last), change) => change(fs, last)
      }
    val schemaId = table.metadata.schemas.map(_.schemaId).max + 1
    val schema = mapper.createObjectNode().put("type", "struct").put("schema-id", schemaId)
    val fieldArr = schema.putArray("fields")
    newFields.foreach(fieldArr.add)
    val updates = Seq(AddSchema(schema, lastColumnId), SetCurrentSchema(schemaId))
    // the applier resets a default sort order the new schema leaves
    // dangling; a catalog learns of the reset only as updates of its own
    if (!MetadataUpdate.defaultSortOrderDangles(base, schema)) updates
    else {
      val unsorted = if (table.metadata.sortOrders.exists(_.orderId == 0)) Nil
        else Seq(AddSortOrder(sortOrderNode(IceSortOrder(0, Nil))))
      unsorted ++ updates :+ SetDefaultSortOrder(0)
    }
  }

  /** One `ALTER TABLE` statement as ONE metadata version: its property
    * changes and its column changes (composed into a single new schema)
    * publish together, or nothing when any change is refused. Covers
    * SET/UNSET TBLPROPERTIES and ADD/RENAME/DROP COLUMN — nested paths
    * join with '.'; anything else refuses loudly. Engine-reserved keys
    * that name table STATE rather than configuration are refused —
    * iceberg-java's reserved-property rule. */
  private[graft] def alterTable(ops: TableOps,
      changes: Seq[org.apache.spark.sql.connector.catalog.TableChange]): Unit = {
    import org.apache.spark.sql.connector.catalog.TableChange._
    // Spark splits SET TBLPROPERTIES ('a'='1','b'='2') into one change per key
    val sets = changes.collect { case p: SetProperty => p.property -> p.value }.toMap
    val reserved = Set("format-version", "uuid", "current-snapshot-id")
    sets.keys.find(reserved).foreach(k => throw new IllegalArgumentException(
      s"property '$k' is reserved table STATE — use the dedicated API " +
        "(upgradeFormatVersion / rollback), not a property write"))
    val removes = changes.collect { case p: RemoveProperty => p.property }
    commitWithRetry(ops) { t =>
      val columns = changes.flatMap {
        case _: SetProperty | _: RemoveProperty => None
        case a: AddColumn => Some(addColumnChange(t, a.fieldNames.mkString("."),
          sparkToIcebergType(a.dataType), required = !a.isNullable, default = None))
        case r: RenameColumn =>
          Some(renameColumnChange(t, r.fieldNames.mkString("."), r.newName))
        case d: DeleteColumn => Some(dropColumnChange(t, d.fieldNames.mkString(".")))
        case other => throw new UnsupportedOperationException(
          s"ALTER TABLE change not supported: $other")
      }
      val props = t.metadata.properties
      val removed = removes.filter(props.contains)
      val updates =
        (if (sets.forall { case (k, v) => props.get(k).contains(v) }) Nil
         else Seq(SetProperties(sets))) ++
        (if (removed.isEmpty) Nil else Seq(RemoveProperties(removed))) ++
        (if (columns.isEmpty) Nil else schemaUpdates(t, columns))
      if (updates.isEmpty) None else Some(updates)
    }
  }

  /** Metadata-only delete: drop every data file whose statistics PROVE all
    * of its rows match `pred` (Iceberg v1 whole-file delete — row-level
    * rewrites are a v2/merge-on-read concern). Files that may contain a mix
    * of matching and non-matching rows raise: a silent partial delete would
    * corrupt the table. The resolution re-runs per commit attempt, so a
    * concurrent append/delete is re-validated after reload.
    */
  def deleteWhere(spark: SparkSession, url: String, pred: Pruning.IcePredicate): Unit =
    deleteWhere(FileSystemOps(spark, url), pred)
  def deleteWhere(ops: TableOps, pred: Pruning.IcePredicate): Unit =
    commitSnapshot(ops) { table =>
      val removed = wholeFilesMatching(table, pred)
      if (removed.isEmpty) None else Some(SnapshotUpdate("delete", removed = removed))
    }

  /** Publish a DELTA row-level operation (SQL UPDATE/MERGE/DELETE through
    * `SupportsDelta`): executor-written data files PLUS executor-written
    * position-delete files land in ONE snapshot. Unlike copy-on-write, no
    * data file is rewritten — a 1-row UPDATE on a 10 000-file table commits
    * one tiny insert file and one tiny delete file, the shape frequent
    * small DML needs at 100 TB.
    *
    * Correctness under concurrency: the commit refuses (and the caller
    * reruns) when a concurrent commit removed a scanned data file — the
    * new deletes would dangle and re-inserted rows would duplicate — or
    * changed the live delete-file set the pinned scan applied (a
    * concurrently-deleted row would be resurrected by this op's inserts),
    * or added a file that may match the operation's condition
    * (`addValidation`: the live files at scan and the condition). */
  private[graft] def commitDelta(ops: TableOps,
      commitId: String,
      writtenData: Seq[WrittenFile],
      deleteFiles: Seq[WrittenFile],
      operation: String,
      scannedKeys: Set[String],
      deleteFilesAtScan: Set[String],
      addValidation: (Set[String], Pruning.IcePredicate)): Unit = {
    import ops.{spark, url}
    val table0 = ops.current()
    val conf = table0.conf
    val specInfo = specInfoOf(table0)
    val dataFiles = writtenData.map(_.dataFile)
    val snapshotId = newSnapshotId()
    val deletes: Option[NewManifestInfo] =
      if (deleteFiles.isEmpty) None
      else if (table0.metadata.formatVersion >= 3) {
        // v3: position deletes MUST travel as DELETION VECTORS — convert
        // the delta protocol's task-written parquet carriers at commit
        // (same bitmap build + supersede as deleteRows; the parquets are
        // a staging artifact and are removed once converted)
        val positions = IcebergTable.readPositionDeletes(spark, deleteFiles.map(_.path))
        val m = writeDeletionVectors(spark, url, table0, commitId,
          snapshotId, positions, specInfo, conf)
        TaskFileWriter.deleteQuietly(deleteFiles, conf)
        m
      }
      else deleteManifest(s"$url/metadata/$commitId-m1.avro", snapshotId,
        deleteFiles, specInfo, conf)
    commitSnapshot(ops, Some(table0)) { table =>
      requireDeletesUnchanged(table, deleteFilesAtScan)
      if (deleteFiles.nonEmpty) requireScannedFilesLive(table, scannedKeys)
      requireNoConflictingAdds(table, addValidation._1, addValidation._2)
      Some(SnapshotUpdate(operation, added = dataFiles,
        newManifests = deletes.toSeq, snapshotId = snapshotId))
    }
  }

  /** Run `body` against a SCOPED session (same SparkContext, own
    * SessionState) with field-ID parquet column resolution ON. The position
    * scans below need `_metadata` columns, which only Spark's built-in
    * parquet source exposes — and that source reads this flag from the
    * session conf at plan time, so a per-relation option cannot scope it.
    * A set/restore on the shared session would leak the flag to concurrent
    * queries on OTHER threads for the duration of the scan (changing their
    * column resolution on id-less files); the scoped session's conf is
    * invisible to them. DataFrames built in `body` must come from the
    * session handed to it, so their plans resolve under the flag.
    *
    * Each caller session keeps ONE scoped session ([[fieldIdSessions]]):
    * Spark caches generated classes per session class loader, so a fresh
    * `newSession()` per call would recompile the same plans every time. */
  private[iceberg] def withFieldIdRead[T](spark: SparkSession)(body: SparkSession => T): T = {
    val scoped = fieldIdSessions.computeIfAbsent(spark, { caller =>
      val s = caller.newSession()
      IcebergTable.FieldIdReadOptions.foreach { case (k, v) => s.conf.set(k, v) }
      s
    })
    // newSession() builds SessionState from the context conf plus builder
    // options only — runtime confs the caller set later (session timezone,
    // ANSI mode, case sensitivity, shuffle partitions) would be silently
    // dropped, changing predicate/merge semantics (e.g. timestamp-string
    // casts). Mirror every modifiable conf the caller holds, and unset
    // those it no longer holds, on every call.
    // graft's own spark.graft.* knobs are not registered SQL confs, so
    // isModifiable says false for them — yet they steer the write path
    // (e.g. dvDriverBytesLimit picks the executor-side puffin mode) and
    // MUST survive into the scoped session; so must non-Spark keys (the
    // session's Hadoop filesystem settings, e.g. `fs.<scheme>.impl` or
    // object-store credentials), or the scoped reads cannot open the table.
    // The forced field-id keys are never mirrored: concurrent calls share
    // the scoped session, and another call's scan may be planning in it, so
    // it must never hold the caller's value of them, even for a moment
    def mirrored(k: String): Boolean = !IcebergTable.FieldIdReadOptions.contains(k) &&
      (k.startsWith("spark.graft.") || !k.startsWith("spark.") || scoped.conf.isModifiable(k))
    val caller = spark.conf.getAll
    scoped.conf.getAll.keys.foreach { k =>
      if (!caller.contains(k) && mirrored(k)) scoped.conf.unset(k)
    }
    caller.foreach { case (k, v) =>
      if (mirrored(k) && scoped.conf.getOption(k) != Some(v)) scoped.conf.set(k, v)
    }
    body(scoped)
  }

  /** The scoped session of each caller session, keyed weakly: a caller's
    * entry goes when the caller does (the scoped session, built by
    * `newSession()`, holds no reference back to it). */
  private val fieldIdSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** Row-level delete via Iceberg v2 POSITION DELETES (merge-on-read).
    *
    * Files whose statistics prove every row matches are dropped whole (v1
    * DELETED entries — cheapest). Files the predicate splits get their
    * matching row positions computed by a DISTRIBUTED scan (`_metadata
    * .row_index`), written to a position-delete parquet (`file_path`,
    * `pos`), and registered in a delete-content manifest (v2 fields 517/134).
    * Readers apply them as an anti-join on (file name, position) — see
    * `IcebergTable.applyPositionDeletes`. Position deletes bump the table to
    * format-version 2.
    */
  def deleteRows(spark: SparkSession, url: String, pred: Pruning.IcePredicate): Unit =
    deleteRows(FileSystemOps(spark, url), pred)
  def deleteRows(ops: TableOps, pred: Pruning.IcePredicate): Unit = {
    import org.apache.spark.sql.functions.col
    val table = ops.current()
    val conf = table.conf
    val (fully, candidates) = splitByPredicate(table, pred)
    if (fully.isEmpty && candidates.isEmpty) return
    // whole-file drops work for any format; only files a predicate SPLITS
    // need position deletes, and those require the parquet row index
    requireParquetForRowLevel(table, candidates, "row-level DELETE")
    val snapshotId = newSnapshotId()

    // position-delete file for split files: distributed position scan
    // (field-id resolution scoped to this eager region — the _metadata
    // columns force Spark's built-in parquet source here). It runs outside
    // the commit loop: positions target immutable files, so they remain
    // valid across a lost race.
    val deleteManifest =
      if (candidates.isEmpty) None
      else withFieldIdRead(ops.spark) { fidSpark =>
        val predCol = Pruning.toColumn(pred).getOrElse(
          throw new IllegalStateException("row-level delete needs a concrete predicate"))
        val positions = fidSpark.read.schema(table.schema)
          .parquet(candidates.map(f => table.resolvePath(f.filePath)): _*)
          .filter(predCol)
          .select(col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"))
        writePositionDeletes(fidSpark, ops.url, table, UUID.randomUUID().toString,
          snapshotId, positions, specInfoOf(table), conf)
      }
    if (deleteManifest.isEmpty && fully.isEmpty) return // nothing matched

    // the position scan deduplicated against PIN-time delete state; a delete
    // committed since would be clobbered by the delete-state rewrite
    val deletesAtPin = liveDeleteSet(table)
    commitSnapshot(ops, Some(table)) { current =>
      requireDeletesUnchanged(current, deletesAtPin)
      Some(SnapshotUpdate("delete", removed = fully,
        newManifests = deleteManifest.toSeq, snapshotId = snapshotId))
    }
  }

  /** CONSOLIDATE position-delete files: CDC-upsert and row-delete
    * workloads accumulate one small delete file (and manifest) per commit,
    * and every scan's merge-on-read loader reads all of them. This rewrite
    * merges the live position deletes into `targetFiles` sorted files —
    * dropping rows whose target data file is no longer live — in one
    * metadata `replace` snapshot that swaps only the position-delete
    * manifests (data and equality-delete manifests untouched, so nothing
    * re-sequences). Refuses (optimistic-loop style) if the delete state
    * changed concurrently; rerun against the new snapshot. */
  def rewritePositionDeletes(spark: SparkSession, url: String, targetFiles: Int = 1): Unit =
    rewritePositionDeletes(FileSystemOps(spark, url), targetFiles)
  def rewritePositionDeletes(ops: TableOps, targetFiles: Int): Unit = {
    import ops.{spark, url}
    import org.apache.spark.sql.functions.col
    require(targetFiles >= 1, "targetFiles must be positive")
    val t0 = ops.current()
    val conf = t0.conf
    if (t0.metadata.currentSnapshotId < 0) return
    val frozen = t0.atSnapshot(t0.currentSnapshot.snapshotId)
    val delFiles = frozen.positionDeleteFiles
    // entries count blobs for DV tables — consolidation is about PHYSICAL
    // files (one puffin holds many blobs), so gate on distinct paths
    if (delFiles.map(_.filePath).distinct.size <= targetFiles) return // already consolidated
    val specInfo = specInfoOf(frozen)
    val commitId = UUID.randomUUID().toString
    val snapshotId = newSnapshotId()

    val consolidated: Seq[NewManifestInfo] =
      if (frozen.metadata.formatVersion >= 3 || delFiles.exists(_.isDv)) {
        // v3 / DELETION-VECTOR tables: consolidate BOTH carriers into ONE
        // puffin file — one merged blob per surviving data file (the v3
        // rule: rewritten position deletes become DVs). Decode is
        // distributed: DV blobs ranged-read in executors, parquet carriers
        // scanned by Spark; only compressed bitmap bytes return to the driver.
        import spark.implicits._
        val (dvs, parquets) = delFiles.partition(_.isDv)
        val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
        val dvRefs = dvs.map(d => (frozen.resolvePath(d.filePath),
          d.contentOffset.getOrElse(sys.error(s"DV without offset: ${d.filePath}")),
          d.contentSizeInBytes.getOrElse(sys.error(s"DV without size: ${d.filePath}")),
          d.referencedDataFile.getOrElse(sys.error(s"DV without ref: ${d.filePath}"))))
        val dvPositions =
          if (dvRefs.isEmpty) spark.emptyDataset[(String, Long)]
          else spark.createDataset(dvRefs).flatMap { case (p, off, len, ref) =>
            DeletionVectors.readBlobAt(p, sconf.value, off, len).map(pos => (ref, pos))
          }
        val pqPositions =
          if (parquets.isEmpty) spark.emptyDataset[(String, Long)]
          else IcebergTable.readPositionDeletes(spark,
            parquets.map(f => frozen.resolvePath(f.filePath))).as[(String, Long)]
        val mergedBitmaps = liveFileBitmaps(spark, frozen, dvPositions.union(pqPositions))
        // two-mode write: past the byte cap each partition writes its own
        // puffin executor-side — the consolidation of a 100 TB table's delete
        // state never funnels bitmap bytes through the driver either
        val written = writeDvBlobsTwoMode(spark, conf, mergedBitmaps,
          s"$url/data/${DeletionVectors.puffinName(commitId)}",
          pid => s"$url/data/$commitId-p$pid-pdc.puffin",
          snapshotId, frozen.metadata.lastSequenceNumber + 1, Map.empty)
        if (written.isEmpty) Nil // every delete row targeted a dead file
        else {
          val entries = dvEntries(written)
          val manifestPath = s"$url/metadata/$commitId-mpdc.avro"
          writeDvManifestEntries(manifestPath, snapshotId, specInfo, conf,
            stampDvPartitions(frozen, specInfo, entries)
              .map(e => (e, Manifests.Status.Added, None: Option[Long])))
          Seq(NewManifestInfo(manifestPath, Manifests.FileContent.PositionDeletes,
            entries.size, entries.map(_.recordCount).sum, 0, 0L, Nil))
        }
      } else {
        // live data files by morKey: rows targeting dead files are dropped
        val liveKeys = frozen.liveFiles()
          .map(f => morKeyOf(frozen.resolvePath(f.filePath))).filter(_.nonEmpty).toSet
        def key(c: org.apache.spark.sql.Column) =
          org.apache.spark.sql.graftbridge.ScanBridge.morKeyColumn(c)
        val kept = IcebergTable.readPositionDeletes(spark,
            delFiles.map(f => frozen.resolvePath(f.filePath)))
          .filter(key(col("file_path")).isInCollection(liveKeys))
        // spec: position deletes sorted by (path, pos); range-partitioned so
        // each output file covers a contiguous slice of target files
        val written = writePositionDeleteFiles(s"$url/data/$commitId-pdc",
          kept.repartitionByRange(targetFiles, col("file_path"), col("pos")))
        // empty when every delete row targeted a dead file
        deleteManifest(s"$url/metadata/$commitId-mpdc.avro", snapshotId,
          written, specInfo, conf).toSeq
      }
    val deletesAtPin = liveDeleteSet(frozen)
    commitSnapshot(ops, Some(t0)) { table =>
      requireDeletesUnchanged(table, deletesAtPin)
      Some(SnapshotUpdate("replace", newManifests = consolidated,
        drop = ManifestDrop.PositionDeletes,
        summary = Map("graft-rewrite" -> "position-deletes"), snapshotId = snapshotId))
    }
  }

  /** Write a `(file_path, pos)` DataFrame as Iceberg v2 position-delete
    * parquet under `data/<commitId>-deletes/` (rows clustered by data file,
    * so each task's file stays spec-sorted) and register it in a
    * delete-content manifest. Positions already covered by the table's
    * EXISTING delete files are excluded (distributed anti-join on the
    * normalized data-file key): every emitted position then removes exactly
    * one live row, which keeps `total-records` and `countFromStats` exact
    * even when row-level operations overlap. Returns the manifest, None when
    * nothing new matched; v3 tables get deletion vectors instead. */
  private def writePositionDeletes(spark: SparkSession, url: String,
      table: IcebergTable, commitId: String, snapshotId: Long,
      positions: DataFrame,
      specInfo: Seq[(PartitionField, String, String)],
      conf: Configuration): Option[NewManifestInfo] = {
    import org.apache.spark.sql.functions.col
    // Iceberg v3: position deletes MUST travel as deletion vectors
    if (table.metadata.formatVersion >= 3)
      return writeDeletionVectors(spark, url, table, commitId, snapshotId,
        positions, specInfo, conf)
    val fresh = notYetDeleted(spark, table, positions, table.positionDeleteFiles)
    val written = writePositionDeleteFiles(s"$url/data/$commitId-deletes",
      fresh.repartition(col("file_path")))
    // None when stats said "might match" but no rows did
    deleteManifest(s"$url/metadata/$commitId-m1.avro", snapshotId,
      written, specInfo, conf)
  }

  /** `positions` minus those the parquet position-delete `carriers` already
    * delete: an anti-join on the normalized data-file key, ONE key
    * definition with the read side (ScanBridge.morKey). */
  private def notYetDeleted(spark: SparkSession, table: IcebergTable,
      positions: DataFrame, carriers: Seq[Manifests.DataFileInfo]): DataFrame = {
    import org.apache.spark.sql.functions.col
    def key(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftbridge.ScanBridge.morKeyColumn(c)
    if (carriers.isEmpty) positions
    else positions.join(IcebergTable.readPositionDeletes(spark,
        carriers.map(f => table.resolvePath(f.filePath)))
        .select(key(col("file_path")).as("_g_prior_key"), col("pos").as("_g_prior_pos")),
      key(col("file_path")) === col("_g_prior_key") && col("pos") === col("_g_prior_pos"),
      "left_anti")
  }

  /** Write `(file_path, pos)` rows, already partitioned so each data
    * file's positions sit in one task, as position-delete files under
    * `dir`: each task sorts its rows by (path, pos) as the spec requires
    * and stamps the reserved field ids. Tasks without rows write nothing. */
  private def writePositionDeleteFiles(dir: String,
      partitioned: DataFrame): Seq[WrittenFile] = {
    import org.apache.spark.sql.functions.col
    val rows = partitioned.sortWithinPartitions("file_path", "pos").select(
      TaskFileWriter.PositionDeleteSchema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name, f.metadata)): _*)
    TaskFileWriter.writeAll(rows, dir, TaskFileWriter.Kind.PositionDeletes)
  }

  /** The delete-content manifest at `path` registering written delete
    * files as ADDED entries with no partition tuple (these carriers may span
    * partitions); None when there are none. */
  private def deleteManifest(path: String, snapshotId: Long,
      files: Seq[WrittenFile], specInfo: Seq[(PartitionField, String, String)],
      conf: Configuration, content: Int = Manifests.FileContent.PositionDeletes,
      equalityIds: Seq[Int] = Nil): Option[NewManifestInfo] =
    if (files.isEmpty) None
    else {
      writeManifestEntries(path, snapshotId, files.map(f => (new Path(f.path).toUri.getPath,
          f.size, f.stats, specInfo.map(_ => null: Any), Manifests.Status.Added)),
        specInfo, conf, fileContent = content, equalityIds = equalityIds)
      Some(NewManifestInfo(path, content, files.size, files.map(_.stats.recordCount).sum,
        0, 0L, Nil))
    }

  /** Iceberg v3 DELETION VECTORS: the `(file_path, pos)` DataFrame becomes
    * one roaring-bitmap blob per targeted data file, all in ONE puffin file
    * for the commit ([[DeletionVectors]]). Bitmaps build EXECUTOR-side (the
    * groupByKey shuffle is the same O(deleted rows) the parquet carrier
    * pays); only compressed bitmap bytes reach the driver.
    *
    * v3 invariant — at most one live DV per data file: a file that already
    * has a DV gets a MERGED replacement (prior ∪ fresh positions) and the
    * prior blob's entry is marked DELETED in the same manifest. Legacy v2
    * parquet position deletes surviving an upgrade stay live as-is; fresh
    * positions anti-join against them so accounting stays exact. Returns
    * the delete manifest: its added minus deleted rows are the net-new
    * deleted rows. */
  private def writeDeletionVectors(spark: SparkSession, url: String,
      table: IcebergTable, commitId: String, snapshotId: Long,
      positions: DataFrame,
      specInfo: Seq[(PartitionField, String, String)],
      conf: Configuration): Option[NewManifestInfo] = {
    import org.apache.spark.sql.functions.col
    val (priorDvs, parquetDels) = table.positionDeleteFiles.partition(_.isDv)
    // fresh = positions not already deleted by a LEGACY parquet carrier
    // (prior DV positions dedupe in the union below — no join needed)
    val fresh = notYetDeleted(spark, table, positions, parquetDels)

    // one serialized bitmap per data file, built where the positions are
    import spark.implicits._
    val bitmaps = fresh
      .select(col("file_path").cast(org.apache.spark.sql.types.StringType),
        col("pos"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (file, it) =>
        val arr = it.map(_._2).toArray.distinct
        java.util.Arrays.sort(arr)
        (file, DeletionVectors.serializePositions(arr), arr.length.toLong)
      }
    val priorByKey: Map[String, Manifests.DataFileInfo] = priorDvs.flatMap(d =>
        d.referencedDataFile.map(r => morKeyOf(r) -> d)).toMap
      val commitSeq = table.metadata.lastSequenceNumber + 1
      val written = writeDvBlobsTwoMode(spark, conf, bitmaps,
        s"$url/data/${DeletionVectors.puffinName(commitId)}",
        pid => s"$url/data/$commitId-p$pid-deletes.puffin",
        snapshotId, commitSeq, dvLocators(table, priorByKey))
      if (written.isEmpty) return None

      val superseded = written.flatMap(r => Option(r._8)).distinct
        .flatMap(priorByKey.get)
      val supersededRows = superseded.map(_.recordCount).sum
      val addedEntries = dvEntries(written)
      val manifestPath = s"$url/metadata/$commitId-mdv.avro"
      writeDvManifestEntries(manifestPath, snapshotId, specInfo, conf,
        stampDvPartitions(table, specInfo, addedEntries)
          .map(e => (e, Manifests.Status.Added, None: Option[Long])) ++
          superseded.map(e => (e, Manifests.Status.Deleted, e.dataSequence)))
      Some(NewManifestInfo(manifestPath, Manifests.FileContent.PositionDeletes,
        addedEntries.size, addedEntries.map(_.recordCount).sum,
        superseded.size, supersededRows, Nil))
  }

  /** One merged, serialized bitmap per LIVE data file of `table` from
    * (data file path, pos) rows; rows of other files drop. Groups form on
    * morKey, but each bitmap names its file in the data manifests' exact
    * path form: a DV's referenced_data_file and a parquet carrier's
    * file_path can differ in prefix after a table move. */
  private def liveFileBitmaps(spark: SparkSession, table: IcebergTable,
      positions: org.apache.spark.sql.Dataset[(String, Long)])
      : org.apache.spark.sql.Dataset[(String, Array[Byte], Long)] = {
    import org.apache.spark.sql.graftbridge.ScanBridge.morKey
    import spark.implicits._
    val canon = spark.sparkContext.broadcast(table.liveFiles().map { f =>
      val rp = table.resolvePath(f.filePath)
      morKey(rp) -> new Path(rp).toUri.getPath
    }.toMap)
    positions.groupByKey { case (p, _) => morKey(p) }.flatMapGroups { (k, it) =>
      canon.value.get(k).iterator.map { file =>
        val arr = it.map(_._2).toArray.distinct
        java.util.Arrays.sort(arr)
        (file, DeletionVectors.serializePositions(arr), arr.length.toLong)
      }
    }
  }

  /** Manifest entries of written DV blobs. Each records its referenced file
    * also as the reserved `file_path` bound, which the existing pruning
    * (deleteMayApply, CDC mightHave) reads. */
  private def dvEntries(written: Seq[(String, Long, String, Long, Long, Long, Long, String)])
      : Seq[Manifests.DataFileInfo] =
    written.map { case (puffin, puffinLen, ref, offset, blobLen, card, _, _) =>
      val refBytes = ref.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Manifests.DataFileInfo(filePath = new Path(puffin).toUri.getPath,
        fileFormat = "PUFFIN", partition = Map.empty, recordCount = card,
        fileSizeInBytes = puffinLen, columnSizes = Map.empty, valueCounts = Map.empty,
        nullValueCounts = Map.empty, nanValueCounts = Map.empty,
        lowerBounds = Map(Manifests.PosDeletePathFieldId -> refBytes),
        upperBounds = Map(Manifests.PosDeletePathFieldId -> refBytes),
        content = Manifests.FileContent.PositionDeletes, referencedDataFile = Some(ref),
        contentOffset = Some(offset), contentSizeInBytes = Some(blobLen))
    }

  /** Stamp each ADDED DV entry with its referenced data file's partition
    * tuple: a deletion vector references exactly ONE data file, so its
    * deletes are partition-scoped BY CONSTRUCTION — recording the tuple
    * makes them attributable in partition statistics and visible to
    * partition-level delete pruning, instead of reading as cross-partition.
    * Only files whose tuple is expressible under the DEFAULT spec (the
    * delete manifest's partition schema) stamp; older-spec files keep the
    * empty tuple, which consumers already treat soundly as unscoped. */
  private def stampDvPartitions(table: IcebergTable,
      specInfo: Seq[(PartitionField, String, String)],
      entries: Seq[Manifests.DataFileInfo]): Seq[Manifests.DataFileInfo] = {
    if (specInfo.isEmpty) return entries
    val partByKey: Map[String, Map[String, Any]] =
      table.liveFiles().map(f => morKeyOf(f.filePath) -> f.partition).toMap
    entries.map { e =>
      e.referencedDataFile.flatMap(r => partByKey.get(morKeyOf(r))) match {
        case Some(src) if specInfo.forall { case (pf, _, _) => src.contains(pf.name) } =>
          e.copy(partition =
            specInfo.map { case (pf, _, _) => pf.name -> src(pf.name) }.toMap)
        case _ => e
      }
    }
  }

  /** morKey → (resolved path, content offset, size) locators for existing
    * DV blobs, the shippable form task-side merges need. */
  private def dvLocators(table: IcebergTable,
      priorByKey: Map[String, Manifests.DataFileInfo]): Map[String, (String, Long, Long)] =
    priorByKey.map { case (k, d) =>
      k -> ((table.resolvePath(d.filePath),
        d.contentOffset.getOrElse(sys.error(s"DV without offset: ${d.filePath}")),
        d.contentSizeInBytes.getOrElse(sys.error(s"DV without size: ${d.filePath}"))))
    }

  /** TWO-MODE deletion-vector puffin write, shared by the fresh-delete,
    * consolidation, and removed-file-rewrite paths. The write mode is
    * decided from per-file metadata only (key + compressed size — a few
    * dozen bytes per file): below `spark.graft.iceberg.dvDriverBytesLimit`
    * the bitmaps collect and ONE puffin appends sequentially on the
    * driver; above it — one giant-churn commit on a 100 TB table — each
    * shuffle partition writes its OWN puffin executor-side and only
    * (path, offset, length, cardinality) tuples return, so no driver-memory
    * term proportional to a commit's deleted-row count exists on ANY path.
    *
    * `priorLoc` maps morKeys to existing-DV locators: a bitmap whose key
    * has one merges (prior ∪ fresh) where it lives — grouping put each
    * file's bitmap in exactly ONE place, so ≤1 live DV per file holds in
    * both modes. Returns one row per written blob, ordered by referenced
    * file: (puffinPath, puffinLen, ref, offset, blobLen, cardinality,
    * netNewDelta, supersededPriorKey|null). Empty when `bitmaps` is. */
  private def writeDvBlobsTwoMode(spark: SparkSession, conf: Configuration,
      bitmaps: org.apache.spark.sql.Dataset[(String, Array[Byte], Long)],
      singlePuffinPath: String, partPuffinPath: Int => String,
      snapshotId: Long, commitSeq: Long,
      priorLoc: Map[String, (String, Long, Long)])
      : Seq[(String, Long, String, Long, Long, Long, Long, String)] = {
    import spark.implicits._
    val cached = bitmaps.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val blobMeta = cached.map { case (f, v, c) => (f, v.length.toLong, c) }.collect()
      if (blobMeta.isEmpty) return Nil
      val totalBytes = blobMeta.map(_._2).sum
      val driverBytesCap = spark.conf.get(
        "spark.graft.iceberg.dvDriverBytesLimit", (128L * 1024 * 1024).toString).toLong
      def mergeOne(cfg: Configuration, file: String, vec: Array[Byte], card: Long)
          : (String, Array[Byte], Long, Long, String) = {
        val k = org.apache.spark.sql.graftbridge.ScanBridge.morKey(file)
        priorLoc.get(k) match {
          case Some((pp, off, len)) =>
            val prior = DeletionVectors.readBlobAt(pp, cfg, off, len)
            val union = (prior ++ DeletionVectors.deserializePositions(vec))
              .distinct.sorted
            (file, DeletionVectors.serializePositions(union),
              union.length.toLong, (union.length - prior.length).toLong, k)
          case None => (file, vec, card, card, null: String)
        }
      }
      if (totalBytes <= driverBytesCap) {
        val merged = cached.collect().toSeq.sortBy(_._1)
          .map { case (f, v, c) => mergeOne(conf, f, v, c) }
        val (blobs, puffinLen) = DeletionVectors.writePuffin(singlePuffinPath,
          conf, merged.map(m => (m._1, m._2, m._3)), snapshotId, commitSeq)
        blobs.zip(merged).map { case (b, m) =>
          (singlePuffinPath, puffinLen, b.referencedDataFile, b.offset, b.length,
            b.cardinality, m._4, m._5)
        }
      } else {
        val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
        val (sid, seq) = (snapshotId, commitSeq)
        cached.mapPartitions { it =>
          val local = it.toArray.sortBy(_._1)
          if (local.isEmpty) Iterator.empty
          else {
            val cfg = sconf.value
            val merged = local.map { case (f, v, c) => mergeOne(cfg, f, v, c) }
            // overwrite = idempotent across task retries (same partition id
            // → same path; the commit only references the attempt that
            // returned)
            val puffinPath =
              partPuffinPath(org.apache.spark.TaskContext.getPartitionId())
            val (blobs, puffinLen) = DeletionVectors.writePuffin(puffinPath,
              cfg, merged.map(m => (m._1, m._2, m._3)).toSeq, sid, seq,
              overwrite = true)
            blobs.zip(merged).iterator.map { case (b, m) =>
              (puffinPath, puffinLen, b.referencedDataFile, b.offset, b.length,
                b.cardinality, m._4, m._5)
            }
          }
        }.collect().toSeq.sortBy(_._3)
      }
    } finally cached.unpersist()
  }

  /** Write one delete manifest of DELETION-VECTOR entries (plus DELETED /
    * EXISTING markers for superseded or surviving blobs). Entries carry the
    * v3 fields 143-145; DELETED/EXISTING entries keep their ORIGINAL data
    * sequence so scoping survives the rewrite. */
  private def writeDvManifestEntries(path: String, snapshotId: Long,
      specInfo: Seq[(PartitionField, String, String)], conf: Configuration,
      entries: Seq[(Manifests.DataFileInfo, Int, Option[Long])]): Unit = {
    val entrySchema = manifestEntrySchema(specInfo)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    writeAvro(path, entrySchema, conf) { w =>
      entries.foreach { case (f, status, explicitSeq) =>
        val df = new GenericData.Record(dataFileSchema)
        df.put("content", f.content)
        df.put("file_path", f.filePath)
        df.put("file_format", f.fileFormat)
        // partition-scoped when the entry carries its referenced file's
        // tuple (stampDvPartitions); empty = cross-partition (sound)
        val part = new GenericData.Record(partSchema)
        specInfo.foreach { case (pf, _, valueType) =>
          val v = f.partition.getOrElse(pf.name, null) match {
            case null => null
            case l: Long if avroPartType(valueType) == "int" => Int.box(l.toInt)
            case l: Long => Long.box(l)
            case i: Int if avroPartType(valueType) == "long" => Long.box(i.toLong)
            case other => other
          }
          part.put(pf.name, v)
        }
        df.put("partition", part)
        df.put("record_count", f.recordCount)
        df.put("file_size_in_bytes", f.fileSizeInBytes)
        df.put("block_size_in_bytes", 67108864L)
        df.put("value_counts", kvArray(dataFileSchema, "value_counts", f.valueCounts))
        df.put("null_value_counts", kvArray(dataFileSchema, "null_value_counts", f.nullValueCounts))
        df.put("nan_value_counts", kvArray(dataFileSchema, "nan_value_counts", f.nanValueCounts))
        df.put("lower_bounds", kvArray(dataFileSchema, "lower_bounds", f.lowerBounds))
        df.put("upper_bounds", kvArray(dataFileSchema, "upper_bounds", f.upperBounds))
        f.referencedDataFile.foreach(df.put("referenced_data_file", _))
        f.contentOffset.foreach(o => df.put("content_offset", Long.box(o)))
        f.contentSizeInBytes.foreach(n => df.put("content_size_in_bytes", Long.box(n)))
        val entry = new GenericData.Record(entrySchema)
        entry.put("status", status)
        // spec: ADDED and DELETED entries record the snapshot that added /
        // REMOVED the blob (this commit); only EXISTING keeps the original
        entry.put("snapshot_id",
          if (status == Manifests.Status.Existing) f.snapshotId.getOrElse(snapshotId)
          else snapshotId)
        explicitSeq.foreach(s => entry.put("sequence_number", s))
        entry.put("data_file", df)
        w.append(entry)
      }
    }
  }

  /** Upgrade the table's format version (metadata-only commit). v3 turns
    * every subsequent row-level delete into DELETION VECTORS; downgrades
    * are refused (older readers could not see v3 delete state). */
  def upgradeFormatVersion(spark: SparkSession, url: String, version: Int): Unit =
    upgradeFormatVersion(FileSystemOps(spark, url), version)
  def upgradeFormatVersion(ops: TableOps, version: Int): Unit = {
    require(version >= 1 && version <= 3, s"unsupported format version $version")
    commitWithRetry(ops) { current =>
      val cur = current.metadata.formatVersion
      require(version >= cur,
        s"cannot downgrade format version $cur -> $version")
      // v3 needs next-row-id from the moment it is raised: the applier
      // starts it in the same commit
      if (version == cur) None else Some(Seq(UpgradeFormatVersion(version)))
    }
  }

  /** DYNAMIC partition overwrite: replace exactly the partitions the
    * incoming data touches, keep every other partition — Hive/Spark
    * `partitionOverwriteMode=dynamic` semantics on Iceberg metadata. The
    * touched partition tuples come from one small distinct over the
    * incoming data's TRANSFORMED partition values (physical repr, matching
    * manifest partition values), so victim selection is metadata-only and
    * whole-file by construction: partition boundaries align with files. */
  def overwriteDynamic(spark: SparkSession, url: String, df: DataFrame): Unit =
    overwriteDynamic(FileSystemOps(spark, url), df)
  def overwriteDynamic(ops: TableOps, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val table = ops.current()
    val spec = table.partitionSpec
    // unpartitioned table: dynamic degenerates to full replace (Hive/Spark
    // dynamic-mode semantics)
    if (spec.fields.isEmpty) { overwrite(ops, df, Pruning.AlwaysTrue); return }
    if (table.metadata.currentSnapshotId < 0) { append(ops, df); return }
    val schema = table.iceSchema
    val partCols = spec.fields.map { pf =>
      val src = schema.fields.find(_.id == pf.sourceId)
        .getOrElse(throw new IllegalStateException(s"no source field ${pf.sourceId}"))
      partitionColumn(src.icebergTypeString, Transforms.parse(pf.transform))(col(src.name))
        .as(pf.name)
    }
    val touched: Set[Seq[Any]] = df.select(partCols: _*).distinct().collect()
      .map(r => spec.fields.indices.map(i => normPartValue(r.get(i))): Seq[Any]).toSet
    val files = writeDataFiles(ops.spark, ops.url, table, df)
    // victims resolve per commit attempt against the fresh table: a
    // concurrent append into a touched partition is replaced too
    commitSnapshot(ops, Some(table))(t => Some(SnapshotUpdate("overwrite",
      added = files, removed = dynamicVictims(t, touched),
      summary = Map("graft-overwrite-mode" -> "dynamic"))))
  }

  /** Data-file identity key for delete bookkeeping: the path suffix after
    * the LAST '/data/' (full normalized path for externally-located files)
    * — ONE definition shared with the read side. */
  private[graft] def morKeyOf(p: String): String =
    org.apache.spark.sql.graftbridge.ScanBridge.morKey(p)

  /** Row-level deletes need the parquet per-file row index (both to compute
    * positions at write time and to apply them merge-on-read); foreign ORC
    * data files have neither, so refuse rather than corrupt. */
  private def requireParquetForRowLevel(table: IcebergTable,
      files: Seq[Manifests.DataFileInfo], what: String): Unit = {
    val bad = files.filterNot(_.fileFormat.equalsIgnoreCase("PARQUET"))
    if (bad.nonEmpty) throw new UnsupportedOperationException(
      s"$what requires parquet data files; ${bad.size} live file(s) are " +
        s"${bad.map(_.fileFormat.toUpperCase).distinct.mkString(",")} — " +
        "rewrite them to parquet with the engine that wrote them first")
    // FOREIGN (imported id-less) parquet: the position scan resolves
    // columns by field id (it would crash on id-less footers), and the
    // resulting merge-on-read scan refuses foreign files anyway — refuse
    // HERE, before the commit, instead of leaving a table whose reads fail
    if (hasForeignFiles(table, files)) throw new UnsupportedOperationException(
      s"$what over FOREIGN (imported id-less) data files is not supported: " +
        "their columns resolve by name, not field id, and merge-on-read " +
        "refuses them — compact the table first to fold imports into " +
        "native files")
  }

  /** Normalize a partition value for tuple comparison across sources:
    * manifest decode widens Int→Long, transform eval may produce either. */
  private[graft] def normPartValue(v: Any): Any = v match {
    case i: Int => i.toLong
    case i: java.lang.Integer => i.longValue()
    case l: java.lang.Long => l.longValue()
    case other => other
  }

  /** Live files whose (normalized) partition tuple appears in `touched` —
    * the victim set of a dynamic-partition overwrite. ONE definition shared
    * by the driver API and the DSv2 batch write, so both replace identical
    * partition sets for identical input. */
  private[graft] def dynamicVictims(table: IcebergTable,
      touched: Set[Seq[Any]]): Seq[Manifests.DataFileInfo] = {
    val spec = table.partitionSpec
    if (table.metadata.currentSnapshotId < 0) Nil
    else {
      val live = table.liveFiles()
      // "replace the touched partitions" is only well-defined when every
      // live file's partition tuple speaks the DEFAULT spec's language; a
      // file from an older spec (partition evolution) may belong to a
      // touched logical partition without matching its tuple — silently
      // keeping it would corrupt the overwrite, so refuse and point at
      // compaction (which rewrites everything under the current spec)
      val foreign = live.filter(f =>
        !f.specId.forall(_ == table.metadata.defaultSpecId))
      if (foreign.nonEmpty) throw new UnsupportedOperationException(
        s"dynamic partition overwrite on a mixed-spec table: ${foreign.size} " +
          "live file(s) use an older partition spec; compact the table first")
      live.filter { f =>
        touched.contains(spec.fields.map(pf =>
          normPartValue(f.partition.getOrElse(pf.name, null))))
      }
    }
  }

  /** TAG a snapshot (default: the current one): a named, immutable pointer
    * — the reproducible-training-set primitive. Metadata-only commit;
    * `expireSnapshots` keeps tagged snapshots alive. */
  def tag(spark: SparkSession, url: String, name: String, snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): Unit =
    tag(FileSystemOps(spark, url), name, snapshotId, maxRefAgeMs)
  def tag(ops: TableOps, name: String,
      snapshotId: Option[Long],
      /** Spec retention: drop the tag (and its pin on history) once its
        * snapshot is older than this at expire time. None = forever. */
      maxRefAgeMs: Option[Long]): Unit =
    setRef(ops, name, "tag", snapshotId, maxRefAgeMs)

  /** Create/move a named BRANCH pointer (default target: current snapshot). */
  def branch(spark: SparkSession, url: String, name: String, snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): Unit =
    branch(FileSystemOps(spark, url), name, snapshotId, maxRefAgeMs)
  def branch(ops: TableOps, name: String, snapshotId: Option[Long],
      maxRefAgeMs: Option[Long]): Unit =
    setRef(ops, name, "branch", snapshotId, maxRefAgeMs)

  /** WRITE-AUDIT-PUBLISH, step 1: append rows as a snapshot STAGED on
    * `branchName` — main readers see nothing. The branch forks from main's
    * head on first use and stacks further staged appends. Audit the staged
    * state with `IcebergTable.load(...).atBranch(branchName).read()`, then
    * publish with [[fastForward]] (or abandon with [[dropRef]] +
    * snapshot expiration). */
  def appendToBranch(spark: SparkSession, url: String, df: DataFrame, branchName: String,
      extraSummary: Map[String, String] = Map.empty): Unit =
    appendToBranch(FileSystemOps(spark, url), df, branchName, extraSummary)
  def appendToBranch(ops: TableOps, df: DataFrame, branchName: String,
      extraSummary: Map[String, String]): Unit = {
    val target = SnapshotTarget.Branch(branchName)
    val table = ops.current()
    val files = writeDataFiles(ops.spark, ops.url, table, df)
    commitSnapshot(ops, Some(table))(_ => Some(SnapshotUpdate("append",
      added = files, summary = extraSummary, target = target)))
  }

  /** WRITE-AUDIT-PUBLISH, step 2: publish a staged branch by fast-forwarding
    * main to its head. Metadata-only and atomic (optimistic commit loop);
    * refuses unless main's current snapshot is an ANCESTOR of the branch
    * head — if main moved past the fork point, publishing would silently
    * drop main's new commits; rebase by re-staging instead. */
  def fastForward(spark: SparkSession, url: String, branchName: String): Unit =
    fastForward(FileSystemOps(spark, url), branchName)
  def fastForward(ops: TableOps, branchName: String): Unit = {
    commitWithRetry(ops) { table =>
      val ref = table.refs.getOrElse(branchName,
        throw new IllegalArgumentException(s"unknown branch '$branchName'"))
      require(ref.refType == "branch",
        s"ref '$branchName' is a ${ref.refType}, not a branch")
      val target = ref.snapshotId
      if (target == table.metadata.currentSnapshotId) None // already published
      else {
        var cur = table.snapshots.get(target)
        var ancestor = table.metadata.currentSnapshotId < 0
        while (!ancestor && cur.isDefined) {
          if (cur.get.snapshotId == table.metadata.currentSnapshotId) ancestor = true
          else cur = cur.get.parentSnapshotId.flatMap(table.snapshots.get)
        }
        require(ancestor,
          s"main is not an ancestor of '$branchName' — it advanced past the " +
            "fork point; re-stage the branch from the current head")
        // published snapshots enter main's history log
        Some(Seq(SetSnapshotRef.moving(table.metadata, "main", target)))
      }
    }
  }

  /** Remove a ref. `main` is managed by commits and cannot be dropped. */
  def dropRef(spark: SparkSession, url: String, name: String): Unit =
    dropRef(FileSystemOps(spark, url), name)
  def dropRef(ops: TableOps, name: String): Unit = {
    require(name != "main", "the main branch ref is managed by commits")
    commitWithRetry(ops) { table =>
      if (!table.refs.contains(name)) None // nothing to do, no new version
      else Some(Seq(RemoveSnapshotRef(name)))
    }
  }

  private def setRef(ops: TableOps, name: String, refType: String,
      snapshotId: Option[Long], maxRefAgeMs: Option[Long]): Unit = {
    require(name != "main", "the main branch ref is managed by commits")
    commitWithRetry(ops) { table =>
      val target = snapshotId.getOrElse(table.metadata.currentSnapshotId)
      require(table.snapshots.contains(target), s"unknown snapshot $target")
      // spec ref retention: refs whose snapshot outlives maxRefAgeMs are
      // dropped (and stop pinning history) at the next expireSnapshots
      Some(Seq(SetSnapshotRef(name, target, refType, maxRefAgeMs)))
    }
  }

  /** Set/overwrite table properties (spec `properties` map) — the SQL
    * `ALTER TABLE … SET TBLPROPERTIES` surface. Metadata-only commit
    * through the optimistic loop; a no-op (every key already at its
    * requested value) publishes no new version. Engine-reserved keys that
    * name STATE rather than configuration are refused — Iceberg-java's
    * reserved-property rule. */
  def setProperties(spark: SparkSession, url: String, props: Map[String, String]): Unit =
    setProperties(FileSystemOps(spark, url), props)
  def setProperties(ops: TableOps, props: Map[String, String]): Unit =
    alterTable(ops, props.toSeq.map { case (k, v) =>
      org.apache.spark.sql.connector.catalog.TableChange.setProperty(k, v) })

  /** Remove table properties (`ALTER TABLE … UNSET TBLPROPERTIES`).
    * Absent keys are ignored (SQL UNSET semantics); removing every
    * requested key that exists is one metadata-only commit. */
  def removeProperties(spark: SparkSession, url: String, keys: Seq[String]): Unit =
    removeProperties(FileSystemOps(spark, url), keys)
  def removeProperties(ops: TableOps, keys: Seq[String]): Unit =
    alterTable(ops,
      keys.map(org.apache.spark.sql.connector.catalog.TableChange.removeProperty))

  /** Iceberg v2 EQUALITY DELETE: delete every row whose `keyCols` tuple
    * appears in `keys`, WITHOUT scanning any data file — the delete file
    * stores only the key tuples, and readers apply them merge-on-read to
    * data files committed strictly before this snapshot (sequence scoping
    * via [[IcebergTable.sequenceOf]]). This is the streaming-CDC shape:
    * cost is O(keys), not O(table).
    *
    * Metadata cannot know how many rows matched, so `total-records` is NOT
    * adjusted (it becomes an upper bound) and `countFromStats` returns None
    * while equality deletes are live; compaction folds them away and
    * restores exact stats. */
  def equalityDelete(spark: SparkSession, url: String, keys: DataFrame,
      keyCols: Seq[String]): Unit =
    equalityDelete(FileSystemOps(spark, url), keys, keyCols)
  def equalityDelete(ops: TableOps, keys: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    val table = ops.current()
    val conf = table.conf
    if (table.metadata.currentSnapshotId < 0) return // nothing to delete from
    // readers apply equality deletes through the merge-on-read machinery,
    // which ORC data files cannot enter — refuse at write, not read
    requireParquetForRowLevel(table, table.liveFiles(), "equality DELETE")
    val snapshotId = newSnapshotId()
    val manifest = writeEqualityDeletes(ops.spark, ops.url, table, UUID.randomUUID().toString,
      snapshotId, keys, keyCols, specInfoOf(table), conf)
    if (manifest.isDefined)
      commitSnapshot(ops, Some(table))(_ => Some(SnapshotUpdate("delete",
        newManifests = manifest.toSeq, snapshotId = snapshotId)))
  }

  /** UPSERT via equality deletes, in ONE snapshot: every existing row whose
    * `keyCols` tuple appears in `source` is equality-deleted and ALL source
    * rows are appended. Unlike [[merge]] (position deletes), NO existing
    * data file is read or rewritten — the commit cost is O(source), the
    * read cost moves to merge-on-read until compaction. Appended files
    * commit in the SAME snapshot as the delete, so sequence scoping keeps
    * the new rows alive. */
  def upsert(spark: SparkSession, url: String, source: DataFrame, keyCols: Seq[String],
      extraSummary: Map[String, String] = Map.empty): Unit =
    upsert(FileSystemOps(spark, url), source, keyCols, extraSummary)
  def upsert(ops: TableOps, source: DataFrame,
      keyCols: Seq[String], extraSummary: Map[String, String]): Unit = {
    import ops.{spark, url}
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val table = ops.current()
    val conf = table.conf
    if (table.metadata.currentSnapshotId < 0 || table.liveFiles().isEmpty) {
      append(ops, source, extraSummary); return
    }
    requireParquetForRowLevel(table, table.liveFiles(), "UPSERT")
    val schema = table.iceSchema
    keyCols.foreach(k => require(schema.fields.exists(_.name == k), s"no key column $k"))
    val snapshotId = newSnapshotId()
    val manifest = writeEqualityDeletes(spark, url, table, UUID.randomUUID().toString,
      snapshotId, source, keyCols, specInfoOf(table), conf)
    val files = writeDataFiles(spark, url, table, source)
    commitSnapshot(ops, Some(table))(_ => Some(SnapshotUpdate("overwrite",
      added = files, newManifests = manifest.toSeq, snapshotId = snapshotId,
      summary = extraSummary + ("graft-upsert-keys" -> keyCols.mkString(",")))))
  }

  /** Write the distinct `keyCols` tuples of `keys` as an Iceberg v2
    * equality-delete parquet (field ids stamped, spec-sorted) under
    * `data/<commitId>-eqdel/` and register it in a delete-content manifest
    * with `equality_ids`. Returns the manifest, None when `keys` is empty. */
  private def writeEqualityDeletes(spark: SparkSession, url: String,
      table: IcebergTable, commitId: String, snapshotId: Long,
      keys: DataFrame, keyCols: Seq[String],
      specInfo: Seq[(PartitionField, String, String)],
      conf: Configuration): Option[NewManifestInfo] = {
    import org.apache.spark.sql.functions.col
    val schema = table.iceSchema
    val keyIds = keyCols.map { k =>
      val f = schema.fields.find(_.name == k)
        .getOrElse(throw new IllegalArgumentException(s"no key column $k"))
      // variant defines no equality — a variant eq-key would compare raw
      // encodings and silently miss semantically-equal payloads
      require(f.icebergTypeString != "variant",
        s"variant column $k cannot be an equality-delete/upsert key")
      f.id
    }
    // one file, spec-sorted by the key columns
    val keyDf = keys.select(keyCols.map { k =>
      val id = schema.fields.find(_.name == k).get.id.toLong
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", id).build()
      col(k).as(k, md)
    }: _*).distinct().coalesce(1).sortWithinPartitions(keyCols.map(col): _*)
    deleteManifest(s"$url/metadata/$commitId-meq.avro", snapshotId,
      TaskFileWriter.writeAll(keyDf, s"$url/data/$commitId-eqdel",
        TaskFileWriter.Kind.EqualityDeletes),
      specInfo, conf, Manifests.FileContent.EqualityDeletes, keyIds)
  }

  /** Whole-file deletes can remove data files that still have LIVE position
    * deletes pointing at them — those delete rows were already subtracted
    * from `total-records` when they committed, so leaving them live would
    * (a) double-count against the running total and `countFromStats`, and
    * (b) dangle against files no reader scans. This rewrites the delete
    * state: entries targeting removed files are dropped; surviving entries
    * move to a fresh sorted delete file. Restores the invariant that every
    * live position-delete row targets a live data file.
    *
    * Returns None when no live delete touches a removed file (keep prior
    * delete manifests as-is); otherwise Some((replacement delete manifests —
    * empty when nothing survives, dead-row count)). The caller must then
    * DROP all prior delete manifests from the new manifest list and subtract
    * `deadRows` from the records it reports as deleted by this snapshot. */
  private def rewriteDeletesForRemovedFiles(spark: SparkSession, url: String,
      table: IcebergTable, commitId: String, snapshotId: Long,
      removed: Seq[Manifests.DataFileInfo],
      specInfo: Seq[(PartitionField, String, String)],
      conf: Configuration): Option[(Seq[NewManifestInfo], Long)] = {
    import org.apache.spark.sql.functions.col
    if (removed.isEmpty || table.metadata.currentSnapshotId < 0) return None
    val existing = table.positionDeleteFiles
    if (existing.isEmpty) return None
    def keyOf(p: String): String = morKeyOf(p)
    val removedKeys = removed.map(f => keyOf(table.resolvePath(f.filePath)))
      .filter(_.nonEmpty).toSet
    if (removedKeys.isEmpty) return None
    // DELETION VECTORS reconcile on metadata alone: a blob whose referenced
    // file is removed dies whole; every other blob survives as an EXISTING
    // entry keeping its original sequence. Only legacy parquet carriers
    // (cross-file row sets) need the distributed row-level rewrite.
    val (dvs, parquets) = existing.partition(_.isDv)
    val (deadDvs, liveDvs) = dvs.partition(
      _.referencedDataFile.exists(r => removedKeys(morKeyOf(r))))
    val dvDeadRows = deadDvs.map(_.recordCount).sum
    // ONE key definition with keyOf/ScanBridge.morKey
    // (regexp_extract("/data/(.*)$") anchors at the FIRST occurrence and
    // silently mismatches when the table path itself contains '/data/')
    def key(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftbridge.ScanBridge.morKeyColumn(c)
    val all =
      if (parquets.isEmpty) null
      else IcebergTable.readPositionDeletes(spark,
        parquets.map(f => table.resolvePath(f.filePath)))
    val parquetDeadRows =
      if (all == null) 0L
      else all.filter(key(col("file_path")).isInCollection(removedKeys)).count()
    val deadRows = parquetDeadRows + dvDeadRows
    if (deadRows == 0L) return None

    var manifests = List.empty[NewManifestInfo]
    if (table.metadata.formatVersion >= 3 && all != null && parquetDeadRows > 0L) {
      // v3 rule: REWRITTEN position deletes must be written as DELETION
      // VECTORS, never new parquet carriers. Surviving rows of every legacy
      // parquet carrier become one DV blob per data file; a file that
      // already has a live DV gets a MERGED blob and the prior blob is
      // marked DELETED (the ≤1-live-DV-per-file invariant holds through
      // the rewrite). Bitmaps build executor-side; only compressed bytes
      // reach the driver.
      import spark.implicits._
      // survivors reference LIVE files only
      val survivorBitmaps = liveFileBitmaps(spark, table,
        all.filter(!key(col("file_path")).isInCollection(removedKeys)).as[(String, Long)])
      val liveByKey: Map[String, Manifests.DataFileInfo] = liveDvs.flatMap(d =>
        d.referencedDataFile.map(r => morKeyOf(r) -> d)).toMap
      // two-mode write with executor-side prior merge — the survivor rewrite
      // of a 100 TB table's delete state has no driver bitmap term either.
      // Distinct name: a mixed-carrier delete commit can ALSO write fresh
      // DVs under puffinName(commitId) in the same commit.
      val written = writeDvBlobsTwoMode(spark, conf, survivorBitmaps,
        s"$url/data/$commitId-rwdel.puffin",
        pid => s"$url/data/$commitId-rwdel-p$pid.puffin",
        snapshotId, table.metadata.lastSequenceNumber + 1,
        dvLocators(table, liveByKey))
      val supersededKeys = written.flatMap(r => Option(r._8)).toSet
      val superseded = liveDvs.filter(d =>
        d.referencedDataFile.exists(r => supersededKeys(morKeyOf(r))))
      val untouchedDvs = liveDvs.filterNot(d =>
        d.referencedDataFile.exists(r => supersededKeys(morKeyOf(r))))
      val added = dvEntries(written)
      val allEntries =
        stampDvPartitions(table, specInfo, added)
          .map(e => (e, Manifests.Status.Added, None: Option[Long])) ++
          superseded.map(e => (e.copy(filePath = table.resolvePath(e.filePath)),
            Manifests.Status.Deleted, e.dataSequence)) ++
          untouchedDvs.map(e => (e.copy(filePath = table.resolvePath(e.filePath)),
            Manifests.Status.Existing,
            Some(e.dataSequence.getOrElse(0L)): Option[Long]))
      if (allEntries.nonEmpty) {
        val manifestPath = s"$url/metadata/$commitId-mrwdv.avro"
        writeDvManifestEntries(manifestPath, snapshotId, specInfo, conf, allEntries)
        manifests ::= NewManifestInfo(manifestPath, Manifests.FileContent.PositionDeletes,
          added.size, added.map(_.recordCount).sum,
          superseded.size, superseded.map(_.recordCount).sum, Nil,
          existingFiles = untouchedDvs.size,
          existingRows = untouchedDvs.map(_.recordCount).sum)
      }
      return Some((manifests, deadRows))
    }
    val survivors =
      if (all == null || parquetDeadRows == 0L) Nil
      else writePositionDeleteFiles(s"$url/data/$commitId-rwdel",
        all.filter(!key(col("file_path")).isInCollection(removedKeys))
          .repartition(col("file_path")))
    // parquet carriers untouched by the removal survive file-level too
    val untouchedParquet =
      if (all == null || parquetDeadRows > 0L) Nil
      else parquets
    manifests ++= deleteManifest(s"$url/metadata/$commitId-mrw.avro",
      snapshotId, survivors, specInfo, conf)
    val carried = liveDvs ++ untouchedParquet
    if (carried.nonEmpty) {
      val manifestPath = s"$url/metadata/$commitId-mrwdv.avro"
      writeDvManifestEntries(manifestPath, snapshotId, specInfo, conf,
        carried.map(e => (e.copy(filePath = table.resolvePath(e.filePath)),
          Manifests.Status.Existing,
          Some(e.dataSequence.getOrElse(0L)): Option[Long])))
      manifests ::= NewManifestInfo(manifestPath, Manifests.FileContent.PositionDeletes,
        0, 0L, 0, 0L, Nil,
        existingFiles = carried.size, existingRows = carried.map(_.recordCount).sum)
    }
    Some((manifests, deadRows))
  }

  /** MERGE (upsert) keyed on `keyCols`: every target row whose key appears
    * in `source` is superseded (v2 position delete, merge-on-read) and ALL
    * source rows are appended — in ONE snapshot, like Iceberg's
    * `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE *
    * WHEN NOT MATCHED THEN INSERT *`.
    *
    * The matched positions come from a DISTRIBUTED left-semi join of the
    * live files (with `_metadata.row_index`) against the distinct source
    * keys — Catalyst broadcasts the key side when it is small, so the
    * target is read exactly once with no shuffle of the big side. The
    * position scan runs OUTSIDE the optimistic commit loop: positions
    * target immutable files and stay valid across a lost commit race
    * (concurrent appends of the same key are not re-matched — snapshot
    * isolation, matching what the scan saw).
    *
    * On a table with no snapshot this degrades to a plain append. */
  def merge(spark: SparkSession, url: String, source: DataFrame, keyCols: Seq[String]): Unit =
    merge(FileSystemOps(spark, url), source, keyCols)
  def merge(ops: TableOps, source: DataFrame, keyCols: Seq[String]): Unit = {
    import ops.{spark, url}
    require(keyCols.nonEmpty, "merge needs at least one key column")
    import org.apache.spark.sql.functions.col
    val table = ops.current()
    val conf = table.conf
    val live = if (table.metadata.currentSnapshotId >= 0) table.liveFiles() else Nil
    if (live.isEmpty) { append(ops, source); return }
    requireParquetForRowLevel(table, live, "MERGE")

    val schema = table.iceSchema
    keyCols.foreach(k => require(schema.fields.exists(_.name == k), s"no key column $k"))
    val snapshotId = newSnapshotId()

    // field-id resolution scoped to this eager region (the _metadata
    // columns force Spark's built-in parquet source here)
    val deleteManifest = withFieldIdRead(spark) { fidSpark =>
      val positions = fidSpark.read.schema(table.schema)
        .parquet(live.map(f => table.resolvePath(f.filePath)): _*)
        .select(keyCols.map(col) ++ Seq(
          col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos")): _*)
        .join(source.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
        .select("file_path", "pos")
      writePositionDeletes(fidSpark, url, table, UUID.randomUUID().toString,
        snapshotId, positions, specInfoOf(table), conf)
    }

    // Iceberg v3 ROW LINEAGE through MERGE: an UPDATE preserves `_row_id`
    // (the spec's identity rule) while `_last_updated_sequence_number`
    // moves to this commit. Matched source rows take their target row's id
    // (MOR-visible read; one id per key if several targets die) and carry
    // it as a materialized column; unmatched rows stay null and inherit a
    // fresh id from the commit's allocation.
    val carry = table.metadata.formatVersion >= 3
    val sourceWithLineage =
      if (!carry) source
      else {
        import org.apache.spark.sql.functions.{lit, min}
        val priorIds = table.read()
          .select(keyCols.map(col) :+ col("_row_id").as("_g_prior_row_id"): _*)
          .groupBy(keyCols.map(col): _*)
          .agg(min(col("_g_prior_row_id")).as("_g_prior_row_id"))
        source.join(priorIds, keyCols, "left_outer")
          .withColumn("_row_id", col("_g_prior_row_id"))
          .withColumn("_last_updated_sequence_number",
            lit(null).cast(org.apache.spark.sql.types.LongType))
          .drop("_g_prior_row_id")
      }

    val files = writeDataFiles(spark, url, table, sourceWithLineage, carryLineage = carry)
    commitSnapshot(ops, Some(table))(_ => Some(SnapshotUpdate("overwrite",
      added = files, newManifests = deleteManifest.toSeq, snapshotId = snapshotId,
      summary = Map("graft-merge-keys" -> keyCols.mkString(",")))))
  }

  /** Stats of one POSITION-DELETE parquet from its footer: row count plus
    * the `file_path` column's min/max, recorded under the spec's reserved
    * field id ([[Manifests.PosDeletePathFieldId]]). When min == max the
    * delete file provably references a single data file — Iceberg's
    * "referenced data file" property — and planners can skip every other
    * file without opening the delete parquet. Bounds are omitted (never
    * guessed) when any block lacks binary stats. */
  private[iceberg] def posDeleteFileStats(footer: ParquetMetadata): FileStats = {
    val blocks = footer.getBlocks.asScala.filter(_.getRowCount > 0)
    val paths = blocks.map(_.getColumns.asScala
      .find(_.getPath.toDotString == "file_path").map(_.getStatistics).orNull)
    val counted = FileStats(blocks.map(_.getRowCount).sum, Map.empty, Map.empty,
      Map.empty, Map.empty)
    if (paths.isEmpty || paths.exists(s => s == null || s.isEmpty || !s.hasNonNullValue))
      counted
    else {
      // merged under the column's own (unsigned, UTF-8) order
      val merged = paths.head.copy()
      paths.tail.foreach(merged.mergeStatistics(_))
      counted.copy(lowerBounds = Map(Manifests.PosDeletePathFieldId -> merged.getMinBytes),
        upperBounds = Map(Manifests.PosDeletePathFieldId -> merged.getMaxBytes))
    }
  }

  // ------------------------------------------------------------- stats

  final case class FileStats(recordCount: Long,
      lowerBounds: Map[Int, Array[Byte]], upperBounds: Map[Int, Array[Byte]],
      valueCounts: Map[Int, Long], nullCounts: Map[Int, Long],
      nanCounts: Map[Int, Long] = Map.empty)

  /** Harvest footer stats of EXISTING files being imported ([[addFiles]]):
    * the reads fan out over the cluster, so an import's latency stays flat
    * as its file count grows. Files this engine writes never come here —
    * [[TaskFileWriter]] takes their stats from the footer it just wrote. */
  private[graft] def collectStats(spark: SparkSession,
      files: Seq[(String, Long)], schema: IceSchema,
      conf: Configuration,
      /** True for files from a FOREIGN writer (addFiles import): their
        * stats discipline is unknown, so no NaN-free claim is derived. */
      foreign: Boolean = false,
      format: String = "PARQUET"): Map[String, FileStats] = {
    val isOrc = format == "ORC"
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    val parallelism = math.min(files.size, spark.sparkContext.defaultParallelism)
    spark.sparkContext.parallelize(files.map(_._1), parallelism)
      .map { p =>
        val path = new Path(p)
        p -> (if (isOrc) orcFooterStats(path, serConf.value, schema)
          else {
            val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, serConf.value))
            try footerStats(reader.getFooter, schema, foreign) finally reader.close()
          })
      }
      .collect().toMap
  }

  /** Harvest record count + per-column statistics from an ORC file TAIL
    * (no data read) — the ORC analogue of [[footerStats]], so imported ORC
    * files carry column bounds and prune / metadata-aggregate exactly like
    * native parquet writes. ORC file statistics record the NON-NULL count
    * per column; Iceberg's `value_counts` is the TOTAL (nulls included),
    * which for a top-level column is the file's row count — exactly the
    * flat shape addFiles imports. Foreign-writer discipline applies
    * throughout: float/double bounds get NO NaN-free claim (ORC min/max
    * comparisons skip NaN, so bounds can silently exclude NaN rows — every
    * NaN-sensitive consumer already requires a proven-zero nan count), and
    * a truncated string statistic (exact `getMinimum` null while the
    * `lowerBound` estimate is set) records no bounds at all rather than an
    * unsound exact claim. */
  private def orcFooterStats(path: Path, conf: Configuration,
      schema: IceSchema): FileStats = {
    import org.apache.orc.{BooleanColumnStatistics, DateColumnStatistics,
      DoubleColumnStatistics, IntegerColumnStatistics, StringColumnStatistics}
    val r = org.apache.orc.OrcFile.createReader(path,
      org.apache.orc.OrcFile.readerOptions(conf))
    try {
      val rows = r.getNumberOfRows
      val colStats = r.getStatistics
      val byName = schema.fields.map(f => f.name -> f).toMap
      var lower = Map.empty[Int, Array[Byte]]
      var upper = Map.empty[Int, Array[Byte]]
      var valueCounts = Map.empty[Int, Long]
      var nullCounts = Map.empty[Int, Long]
      val names = r.getSchema.getFieldNames.asScala.toSeq
      val children = r.getSchema.getChildren.asScala.toSeq
      names.zip(children).foreach { case (name, child) =>
        byName.get(name).foreach { field =>
          val s = colStats(child.getId)
          val nonNull = s.getNumberOfValues
          valueCounts = valueCounts.updated(field.id, rows)
          nullCounts = nullCounts.updated(field.id, rows - nonNull)
          val t = field.icebergTypeString
          val mm: (Any, Any) =
            if (nonNull == 0L) (null, null)
            else (s, t) match {
              case (i: IntegerColumnStatistics, "int" | "long") =>
                (i.getMinimum, i.getMaximum)
              case (d: DoubleColumnStatistics, "float" | "double")
                  if !d.getMinimum.isNaN && !d.getMaximum.isNaN =>
                (d.getMinimum, d.getMaximum)
              case (st: StringColumnStatistics, "string")
                  if st.getMinimum != null && st.getMaximum != null =>
                (st.getMinimum, st.getMaximum)
              case (b: BooleanColumnStatistics, "boolean") =>
                (b.getFalseCount == 0L, b.getTrueCount > 0L)
              case (dt: DateColumnStatistics, "date") =>
                (dt.getMinimumDayOfEpoch, dt.getMaximumDayOfEpoch)
              case _ => (null, null) // type without a sound exact bound
            }
          if (mm._1 != null) {
            lower = lower.updated(field.id, IcebergTypes.encodeBound(mm._1, t))
            upper = upper.updated(field.id, IcebergTypes.encodeBound(mm._2, t))
          }
        }
      }
      // foreign file: no nanCounts claim — bounds stay inert for every
      // NaN-sensitive consumer, same contract as imported parquet
      FileStats(rows, lower, upper, valueCounts, nullCounts, Map.empty)
    } finally r.close()
  }

  /** Record count + per-column counts and min/max of a parquet footer,
    * bounds encoded as Iceberg bound bytes. */
  private[iceberg] def footerStats(footer: ParquetMetadata, schema: IceSchema,
      foreign: Boolean): FileStats = {
    val blocks = footer.getBlocks.asScala
    val recordCount = blocks.map(_.getRowCount).sum
    val byName = schema.fields.map(f => f.name -> f).toMap
    var lower = Map.empty[Int, Any]
    var upper = Map.empty[Int, Any]
    var valueCounts = Map.empty[Int, Long]
    var nullCounts = Map.empty[Int, Long]
    // a column is "incomplete" when any row group with values lacks usable
    // min/max — parquet-mr drops float/double stats when the group holds
    // NaN, so partial bounds would not describe every row. Such columns
    // get NO bounds (sound: pruning keeps the file).
    var incomplete = Set.empty[Int]
    for (block <- blocks; col <- block.getColumns.asScala) {
      val name = col.getPath.toDotString
      byName.get(name).foreach { field =>
        val id = field.id
        valueCounts = valueCounts.updated(id, valueCounts.getOrElse(id, 0L) + col.getValueCount)
        val s = asRead(col.getStatistics)
        if (s == null || s.isEmpty) incomplete += id
        else {
          nullCounts = nullCounts.updated(id, nullCounts.getOrElse(id, 0L) + s.getNumNulls)
          if (s.hasNonNullValue) {
            val (mn, mx) = normalizedMinMax(s, field.icebergTypeString)
            if (mn != null) {
              lower = lower.updatedWith(id) {
                case Some(prev) => Some(if (IcebergTypes.compare(mn, prev).exists(_ < 0)) mn else prev)
                case None => Some(mn)
              }
              upper = upper.updatedWith(id) {
                case Some(prev) => Some(if (IcebergTypes.compare(mx, prev).exists(_ > 0)) mx else prev)
                case None => Some(mx)
              }
            } else incomplete += id // type without encodable bounds
          } else if (s.getNumNulls < col.getValueCount) {
            incomplete += id // values present but min/max dropped (NaN)
          }
        }
      }
    }
    lower = lower.removedAll(incomplete)
    upper = upper.removedAll(incomplete)
    // NATIVE files: float/double columns with complete bounds are PROVEN
    // NaN-free (parquet-mr drops min/max on NaN) — recorded so the
    // NaN-aware pruning tier can use these bounds (Pruning.nanSensitive).
    // FOREIGN (imported) files: NO claim — "complete bounds ⇒ NaN-free"
    // is a parquet-mr behavior; a foreign writer may stamp bounds with
    // NaNs present, and a nanCount=0 claim would license wrong
    // metadata-only min/max answers and unsound NaN-aware pruning. The
    // float/double bounds then stay inert (every consumer requires a
    // proven-zero nan count before trusting them).
    val nanCounts =
      if (foreign) Map.empty[Int, Long]
      else byName.values.collect {
        case f if (f.icebergTypeString == "float" || f.icebergTypeString == "double") &&
            lower.contains(f.id) => f.id -> 0L
      }.toMap
    FileStats(recordCount,
      lower.map { case (id, v) =>
        id -> IcebergTypes.encodeBound(v, byName.values.find(_.id == id).get.icebergTypeString) },
      upper.map { case (id, v) =>
        id -> IcebergTypes.encodeBound(v, byName.values.find(_.id == id).get.icebergTypeString) },
      valueCounts, nullCounts, nanCounts)
  }

  /** Column statistics as a reader of the file sees them. A footer a writer
    * just closed holds the raw ones; reading applies parquet's rules (drop
    * float/double min/max when either is NaN, widen a ±0.0 bound), so both
    * kinds of footer give the same stats. */
  private def asRead(s: org.apache.parquet.column.statistics.Statistics[_])
      : org.apache.parquet.column.statistics.Statistics[_] =
    if (s == null || !s.hasNonNullValue) s
    else org.apache.parquet.column.statistics.Statistics.getBuilderForReading(s.`type`)
      .withMin(s.getMinBytes).withMax(s.getMaxBytes).withNumNulls(s.getNumNulls).build()

  /** Parquet footer statistics → the normalized comparable domain. */
  private def normalizedMinMax(s: org.apache.parquet.column.statistics.Statistics[_],
      icebergType: String): (Any, Any) = {
    import org.apache.parquet.column.statistics._
    s match {
      case i: IntStatistics => (i.getMin.toLong, i.getMax.toLong)
      case l: LongStatistics => (l.getMin, l.getMax)
      case f: FloatStatistics => (f.getMin.toDouble, f.getMax.toDouble)
      case d: DoubleStatistics => (d.getMin, d.getMax)
      case b: BooleanStatistics => (b.getMin, b.getMax)
      case b: BinaryStatistics if icebergType == "string" =>
        (b.genericGetMin.toStringUsingUTF8, b.genericGetMax.toStringUsingUTF8)
      case _ => (null, null)
    }
  }

  // ------------------------------------------------------------- avro

  private def avroPartType(valueType: String): String = valueType match {
    case "int" | "date" => "int"
    case "long" => "long"
    case _ => "string"
  }

  /** manifest_entry schema per the public Iceberg v1 spec, with the partition
    * record (r102) built from the table's partition spec. */
  private def manifestEntrySchema(specInfo: Seq[(PartitionField, String, String)]): Schema = {
    val partFields = specInfo.map { case (pf, _, valueType) =>
      s"""{"name": "${pf.name}", "type": ["null", "${avroPartType(valueType)}"],
           "default": null, "field-id": ${pf.fieldId}}"""
    }.mkString(",")
    new Schema.Parser().parse(s"""
    {"type": "record", "name": "manifest_entry", "fields": [
      {"name": "status", "type": "int", "field-id": 0},
      {"name": "snapshot_id", "type": ["null", "long"], "default": null, "field-id": 1},
      {"name": "sequence_number", "type": ["null", "long"], "default": null, "field-id": 3},
      {"name": "data_file", "type": {"type": "record", "name": "r2", "fields": [
        {"name": "content", "type": ["null", "int"], "default": null, "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": {"type": "record", "name": "r102", "fields": [$partFields]}, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {"name": "block_size_in_bytes", "type": "long", "field-id": 105},
        {"name": "value_counts", "type": ["null", {"type": "array", "items":
          {"type": "record", "name": "k119_v120", "fields": [
            {"name": "key", "type": "int", "field-id": 119},
            {"name": "value", "type": "long", "field-id": 120}]},
          "logicalType": "map"}], "default": null, "field-id": 109},
        {"name": "null_value_counts", "type": ["null", {"type": "array", "items":
          {"type": "record", "name": "k121_v122", "fields": [
            {"name": "key", "type": "int", "field-id": 121},
            {"name": "value", "type": "long", "field-id": 122}]},
          "logicalType": "map"}], "default": null, "field-id": 110},
        {"name": "nan_value_counts", "type": ["null", {"type": "array", "items":
          {"type": "record", "name": "k138_v139", "fields": [
            {"name": "key", "type": "int", "field-id": 138},
            {"name": "value", "type": "long", "field-id": 139}]},
          "logicalType": "map"}], "default": null, "field-id": 137},
        {"name": "lower_bounds", "type": ["null", {"type": "array", "items":
          {"type": "record", "name": "k126_v127", "fields": [
            {"name": "key", "type": "int", "field-id": 126},
            {"name": "value", "type": "bytes", "field-id": 127}]},
          "logicalType": "map"}], "default": null, "field-id": 125},
        {"name": "upper_bounds", "type": ["null", {"type": "array", "items":
          {"type": "record", "name": "k129_v130", "fields": [
            {"name": "key", "type": "int", "field-id": 129},
            {"name": "value", "type": "bytes", "field-id": 130}]},
          "logicalType": "map"}], "default": null, "field-id": 128},
        {"name": "equality_ids", "type": ["null", {"type": "array",
          "items": "int", "element-id": 136}], "default": null, "field-id": 135},
        {"name": "referenced_data_file", "type": ["null", "string"], "default": null, "field-id": 143},
        {"name": "content_offset", "type": ["null", "long"], "default": null, "field-id": 144},
        {"name": "content_size_in_bytes", "type": ["null", "long"], "default": null, "field-id": 145},
        {"name": "first_row_id", "type": ["null", "long"], "default": null, "field-id": 142}
      ]}, "field-id": 2}
    ]}""")
  }

  private val ManifestFileSchema: Schema = new Schema.Parser().parse("""
    {"type": "record", "name": "manifest_file", "fields": [
      {"name": "manifest_path", "type": "string", "field-id": 500},
      {"name": "manifest_length", "type": "long", "field-id": 501},
      {"name": "partition_spec_id", "type": "int", "field-id": 502},
      {"name": "added_snapshot_id", "type": ["null", "long"], "default": null, "field-id": 503},
      {"name": "added_data_files_count", "type": ["null", "int"], "default": null, "field-id": 504},
      {"name": "existing_data_files_count", "type": ["null", "int"], "default": null, "field-id": 505},
      {"name": "deleted_data_files_count", "type": ["null", "int"], "default": null, "field-id": 506},
      {"name": "partitions", "type": ["null", {"type": "array", "items":
        {"type": "record", "name": "r508", "fields": [
          {"name": "contains_null", "type": "boolean", "field-id": 509},
          {"name": "contains_nan", "type": ["null", "boolean"], "default": null, "field-id": 518},
          {"name": "lower_bound", "type": ["null", "bytes"], "default": null, "field-id": 510},
          {"name": "upper_bound", "type": ["null", "bytes"], "default": null, "field-id": 511}
        ]}, "element-id": 508}], "default": null, "field-id": 507},
      {"name": "added_rows_count", "type": ["null", "long"], "default": null, "field-id": 512},
      {"name": "existing_rows_count", "type": ["null", "long"], "default": null, "field-id": 513},
      {"name": "deleted_rows_count", "type": ["null", "long"], "default": null, "field-id": 514},
      {"name": "content", "type": ["null", "int"], "default": null, "field-id": 517},
      {"name": "sequence_number", "type": ["null", "long"], "default": null, "field-id": 515},
      {"name": "first_row_id", "type": ["null", "long"], "default": null, "field-id": 521}
    ]}""")

  private def kvArray(schema: Schema, field: String, m: Map[Int, _]): java.util.List[GenericRecord] = {
    val itemSchema = schema.getField(field).schema().getTypes.get(1).getElementType
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      val r = new GenericData.Record(itemSchema)
      r.put("key", k)
      v match {
        case b: Array[Byte] => r.put("value", java.nio.ByteBuffer.wrap(b))
        case l: Long => r.put("value", l)
      }
      r: GenericRecord
    }.asJava
  }

  /** Write one manifest with a per-entry status — a single-snapshot
    * overwrite interleaves DELETED and ADDED entries in the same file.
    * `fileContent` marks every data_file as data (0) or position deletes (1,
    * Iceberg v2 field 134). */
  private[iceberg] def writeManifestEntries(path: String, snapshotId: Long,
      files: Seq[(String, Long, FileStats, Seq[Any], Int)],
      specInfo: Seq[(PartitionField, String, String)], conf: Configuration,
      fileContent: Int = Manifests.FileContent.Data,
      equalityIds: Seq[Int] = Nil,
      // per-path file formats (parquet otherwise): imported files and the
      // DELETED entries of foreign files keep the format they were
      // registered with
      formatOf: Map[String, String] = Map.empty): Unit = {
    val entrySchema = manifestEntrySchema(specInfo)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    writeAvro(path, entrySchema, conf) { w =>
      files.foreach { case (filePath, size, stats, partValues, status) =>
        val df = new GenericData.Record(dataFileSchema)
        df.put("content", fileContent)
        df.put("file_path", filePath)
        df.put("file_format", formatOf.getOrElse(filePath, "PARQUET"))
        val part = new GenericData.Record(partSchema)
        specInfo.zipWithIndex.foreach { case ((pf, _, valueType), i) =>
          val v = partValues(i) match {
            case null => null
            case l: Long if avroPartType(valueType) == "int" => Int.box(l.toInt)
            case l: Long => Long.box(l)
            case s: String => s
            case other => other
          }
          part.put(pf.name, v)
        }
        df.put("partition", part)
        df.put("record_count", stats.recordCount)
        df.put("file_size_in_bytes", size)
        df.put("block_size_in_bytes", 67108864L)
        df.put("value_counts", kvArray(dataFileSchema, "value_counts", stats.valueCounts))
        df.put("null_value_counts", kvArray(dataFileSchema, "null_value_counts", stats.nullCounts))
        df.put("nan_value_counts", kvArray(dataFileSchema, "nan_value_counts", stats.nanCounts))
        df.put("lower_bounds", kvArray(dataFileSchema, "lower_bounds", stats.lowerBounds))
        df.put("upper_bounds", kvArray(dataFileSchema, "upper_bounds", stats.upperBounds))
        if (equalityIds.nonEmpty)
          df.put("equality_ids", equalityIds.map(Int.box).asJava)
        val entry = new GenericData.Record(entrySchema)
        entry.put("status", status)
        entry.put("snapshot_id", snapshotId)
        entry.put("data_file", df)
        w.append(entry)
      }
    }
  }

  /** Write one REWRITTEN manifest: every entry EXISTING, carrying its
    * file's ORIGINAL committing snapshot id and an EXPLICIT data sequence
    * number (Iceberg v2 rule: existing entries must not inherit the new
    * manifest's sequence — inheritance would re-date every file and break
    * equality-delete scoping and changelog provenance). */
  private def writeExistingManifest(path: String, files: Seq[Manifests.DataFileInfo],
      resolvePath: String => String, seqOf: Manifests.DataFileInfo => Long,
      specInfo: Seq[(PartitionField, String, String)], conf: Configuration): Unit = {
    val entrySchema = manifestEntrySchema(specInfo)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    writeAvro(path, entrySchema, conf) { w =>
      files.foreach { f =>
        val df = new GenericData.Record(dataFileSchema)
        df.put("content", f.content)
        df.put("file_path", resolvePath(f.filePath))
        df.put("file_format", f.fileFormat.toUpperCase)
        val part = new GenericData.Record(partSchema)
        specInfo.foreach { case (pf, _, valueType) =>
          val v = f.partition.getOrElse(pf.name, null) match {
            case null => null
            case l: Long if avroPartType(valueType) == "int" => Int.box(l.toInt)
            case l: Long => Long.box(l)
            case i: Int if avroPartType(valueType) == "long" => Long.box(i.toLong)
            case other => other
          }
          part.put(pf.name, v)
        }
        df.put("partition", part)
        df.put("record_count", f.recordCount)
        df.put("file_size_in_bytes", f.fileSizeInBytes)
        df.put("block_size_in_bytes", 67108864L)
        df.put("value_counts", kvArray(dataFileSchema, "value_counts", f.valueCounts))
        df.put("null_value_counts", kvArray(dataFileSchema, "null_value_counts", f.nullValueCounts))
        df.put("nan_value_counts", kvArray(dataFileSchema, "nan_value_counts", f.nanValueCounts))
        df.put("lower_bounds", kvArray(dataFileSchema, "lower_bounds", f.lowerBounds))
        df.put("upper_bounds", kvArray(dataFileSchema, "upper_bounds", f.upperBounds))
        if (f.equalityIds.nonEmpty)
          df.put("equality_ids", f.equalityIds.map(Int.box).asJava)
        f.referencedDataFile.foreach(df.put("referenced_data_file", _))
        f.contentOffset.foreach(o => df.put("content_offset", Long.box(o)))
        f.contentSizeInBytes.foreach(n => df.put("content_size_in_bytes", Long.box(n)))
        // ROW LINEAGE: rewritten entries materialize their (possibly
        // inherited) first row id explicitly — ids survive manifest rewrites
        f.firstRowId.foreach(v => df.put("first_row_id", Long.box(v)))
        val entry = new GenericData.Record(entrySchema)
        entry.put("status", Manifests.Status.Existing)
        f.snapshotId.foreach(id => entry.put("snapshot_id", id))
        entry.put("sequence_number", seqOf(f))
        entry.put("data_file", df)
        w.append(entry)
      }
    }
  }

  /** REWRITE MANIFESTS — compact the metadata plane itself. Streaming
    * ingestion and frequent small commits each add a manifest; planning
    * then reads hundreds of tiny Avro files per query. This clusters the
    * live DATA entries into `targetManifests` manifests (grouped by
    * partition spec, sorted by partition tuple so each manifest's
    * summaries stay tight for manifest-tier pruning) in ONE metadata-only
    * `replace` snapshot: no data file is read or moved, delete manifests
    * carry over untouched, and every entry keeps its original snapshot id
    * and data sequence. Concurrent commits are safe: the whole rewrite
    * runs inside the optimistic loop against the CURRENT snapshot. */
  def rewriteManifests(spark: SparkSession, url: String, targetManifests: Int = 1): Unit =
    rewriteManifests(FileSystemOps(spark, url), targetManifests)
  def rewriteManifests(ops: TableOps, targetManifests: Int): Unit = {
    require(targetManifests >= 1, "need at least one target manifest")
    commitSnapshot(ops) { current =>
      val conf = current.conf
      val dataManifests =
        if (current.metadata.currentSnapshotId < 0) Nil
        else current.manifestList.filter(_.content == Manifests.ManifestContent.Data)
      if (dataManifests.size <= targetManifests) None
      else {
        val commitId = UUID.randomUUID().toString
        val snapshotId = newSnapshotId()
        val files = current.liveFiles()
        val perManifest = math.max(1,
          math.ceil(files.size.toDouble / targetManifests).toInt)
        val bySpec = files.groupBy(_.specId.getOrElse(current.metadata.defaultSpecId))
        val newManifests = bySpec.toSeq.sortBy(_._1).flatMap { case (specId, specFiles) =>
          val specInfo = specInfoOf(current, current.metadata.specById(specId))
          def tuple(f: Manifests.DataFileInfo): Seq[Any] =
            specInfo.map { case (pf, _, _) => f.partition.getOrElse(pf.name, null) }
          // cluster by partition tuple so each manifest covers a tight range
          val clustered = specFiles.sortBy(f =>
            tuple(f).map(String.valueOf).mkString("\u0000"))
          clustered.grouped(perManifest).zipWithIndex.map { case (chunk, i) =>
            val path = s"${ops.url}/metadata/$commitId-rw$specId-$i.avro"
            writeExistingManifest(path, chunk, current.resolvePath,
              current.dataSequenceOf, specInfo, conf)
            NewManifestInfo(path, Manifests.FileContent.Data,
              addedFiles = 0, addedRows = 0L, deletedFiles = 0, deletedRows = 0L,
              partitionSummaries(specInfo, chunk.map(tuple)),
              existingFiles = chunk.size,
              existingRows = chunk.map(_.recordCount).sum,
              specIdOverride = Some(specId))
          }
        }
        val deleteManifests =
          current.manifestList.count(_.content == Manifests.ManifestContent.Deletes)
        Some(SnapshotUpdate("replace", newManifests = newManifests,
          drop = ManifestDrop.Data, snapshotId = snapshotId,
          summary = Map(
            "manifests-replaced" -> dataManifests.size.toString,
            "manifests-created" -> newManifests.size.toString,
            "manifests-kept" -> deleteManifests.toString)))
      }
    }
  }

  /** A freshly written manifest to be registered in the manifest list. */
  private[graft] final case class NewManifestInfo(path: String,
      /** What its entries hold ([[Manifests.FileContent]]): one kind per
        * manifest, so the summary can count position and equality deletes
        * apart. */
      fileContent: Int,
      addedFiles: Int, addedRows: Long, deletedFiles: Int, deletedRows: Long,
      summaries: Seq[(Boolean, Option[Array[Byte]], Option[Array[Byte]])],
      /** EXISTING entry counts — non-zero only for rewritten manifests. */
      existingFiles: Int = 0, existingRows: Long = 0L,
      /** Spec the manifest's partition tuples/summaries use when it differs
        * from the commit default (manifest rewrite preserves each file's
        * original spec). */
      specIdOverride: Option[Int] = None) {
    /** The manifest-list `content`: data, or deletes of either kind. */
    def content: Int =
      if (fileContent == Manifests.FileContent.Data) Manifests.ManifestContent.Data
      else Manifests.ManifestContent.Deletes
  }

  private def writeManifestLists(path: String, snapshotId: Long,
      newManifests: Seq[NewManifestInfo],
      prior: Seq[Manifests.ManifestFile], conf: Configuration,
      sequenceNumber: Long,
      /** spec the new manifests' partition values/summaries were computed
        * under (the committing operation's default spec) — readers resolve
        * each manifest's summaries and file partition tuples by this id. */
      specId: Int,
      /** Iceberg v3 ROW LINEAGE: the commit's first allocatable row id
        * (the table's `next-row-id` at commit time). New DATA manifests
        * with added rows receive cumulative `first_row_id` bases; their
        * files inherit at read time. Computed INSIDE the optimistic commit
        * loop, so a lost race reallocates from fresh state — concurrent
        * commits never overlap id ranges. */
      firstRowIdBase: Option[Long]): Unit = {
    val summarySchema = ManifestFileSchema.getField("partitions").schema()
      .getTypes.get(1).getElementType

    def summaryArray(ss: Seq[(Boolean, Option[Array[Byte]], Option[Array[Byte]])]) = {
      ss.map { case (containsNull, lo, hi) =>
        val r = new GenericData.Record(summarySchema)
        r.put("contains_null", containsNull)
        r.put("contains_nan", false)
        r.put("lower_bound", lo.map(java.nio.ByteBuffer.wrap).orNull)
        r.put("upper_bound", hi.map(java.nio.ByteBuffer.wrap).orNull)
        r: GenericRecord
      }.asJava
    }

    writeAvro(path, ManifestFileSchema, conf) { w =>
      var rowIdCursor = firstRowIdBase
      newManifests.foreach { nm =>
        val fs = new Path(nm.path).getFileSystem(conf)
        val rec = new GenericData.Record(ManifestFileSchema)
        rec.put("manifest_path", nm.path)
        rec.put("manifest_length", fs.getFileStatus(new Path(nm.path)).getLen)
        rec.put("partition_spec_id", nm.specIdOverride.getOrElse(specId))
        rec.put("added_snapshot_id", snapshotId)
        rec.put("added_data_files_count", nm.addedFiles)
        rec.put("existing_data_files_count", nm.existingFiles)
        rec.put("deleted_data_files_count", nm.deletedFiles)
        if (nm.summaries.nonEmpty) rec.put("partitions", summaryArray(nm.summaries))
        rec.put("added_rows_count", nm.addedRows)
        rec.put("existing_rows_count", nm.existingRows)
        rec.put("deleted_rows_count", nm.deletedRows)
        rec.put("content", nm.content)
        // the commit's data sequence number — entries inherit it (durable
        // ordering for sequence-scoped deletes, survives expiration)
        rec.put("sequence_number", sequenceNumber)
        // row-lineage base for this manifest's ADDED files
        if (nm.content == Manifests.ManifestContent.Data && nm.addedRows > 0)
          rowIdCursor.foreach { base =>
            rec.put("first_row_id", Long.box(base))
            rowIdCursor = Some(base + nm.addedRows)
          }
        w.append(rec)
      }
      prior.foreach { m =>
        val r = new GenericData.Record(ManifestFileSchema)
        r.put("manifest_path", m.path)
        r.put("manifest_length", m.length)
        r.put("partition_spec_id", m.partitionSpecId)
        r.put("added_snapshot_id", m.addedSnapshotId.map(Long.box).orNull)
        r.put("added_data_files_count", m.addedFilesCount.map(Int.box).orNull)
        r.put("existing_data_files_count", m.existingFilesCount.map(Int.box).orNull)
        r.put("deleted_data_files_count", m.deletedFilesCount.map(Int.box).orNull)
        if (m.partitions.nonEmpty)
          r.put("partitions", summaryArray(m.partitions.map(p =>
            (p.containsNull, p.lowerBound, p.upperBound))))
        r.put("added_rows_count", m.addedRowsCount.map(Long.box).orNull)
        r.put("existing_rows_count", m.existingRowsCount.map(Long.box).orNull)
        r.put("deleted_rows_count", m.deletedRowsCount.map(Long.box).orNull)
        r.put("content", m.content)
        // prior manifests KEEP their recorded sequence (inheritance)
        r.put("sequence_number", m.sequenceNumber.map(Long.box).orNull)
        // ...and their row-lineage base
        r.put("first_row_id", m.firstRowId.map(Long.box).orNull)
        w.append(r)
      }
    }
  }

  private def writeAvro(path: String, schema: Schema, conf: Configuration)
      (body: DataFileWriter[GenericRecord] => Unit): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    writer.create(schema, out)
    try body(writer) finally writer.close()
  }

  // ------------------------------------------------------- commit protocol

  /** Optimistic-concurrency commit loop (the shape of Iceberg's own
    * protocol): each attempt returns the [[MetadataUpdate]]s the commit
    * makes to the CURRENT table state, or None to abort without committing
    * (no-op deletes), and `ops` publishes them atomically ([[TableOps]]).
    * A concurrent committer winning the publish makes the loop reload and
    * rebuild, at most [[MaxCommitRetries]] times; no snapshot is ever lost.
    *
    * The first attempt builds against `pinned` when given (a writer's own
    * load), later ones against a fresh load. */
  private[iceberg] def commitWithRetry(ops: TableOps, pinned: Option[IcebergTable] = None)(
      attempt: IcebergTable => Option[Seq[MetadataUpdate]]): Unit = {
    var table = pinned.getOrElse(ops.current())
    var retries = 0
    while (true) {
      val updates = attempt(table) match {
        case None => return
        case Some(u) => u
      }
      if (ops.commit(table, updates)) return
      if (retries == MaxCommitRetries)
        throw new java.util.ConcurrentModificationException(
          s"commit to ${ops.url} lost to concurrent committers ${retries + 1} times")
      retries += 1
      table = ops.current()
    }
  }

  private val MaxCommitRetries = 10

  // ------------------------------------------------------------- fs io

  private[iceberg] def writeString(path: String, content: String, conf: Configuration): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
