package graft.golden

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.format.{Encoding, Util}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Writes the golden Iceberg format-v1 table `my_table`: the reference's
  * `test-data/my_table` (pySpark SQL, iceberg-java), reconstructed to every
  * fact the project records about it (FIXTURES.md §1, the manifest schemas
  * in SURVEY.md, the oracle literals in `graft.IceQueries`). The original
  * bytes are not available; this is a reconstruction, not a copy.
  *
  * It uses only the Avro and parquet APIs and plain JSON text — nothing
  * from `graft`'s own reader or writer — so the table the metadata-plane
  * tests read stays independent of the code under test.
  *
  * History: v1 create → v2 append of Bob, Steve, Fiona, Roger (one row per
  * file) → v3 overwrite swapping Steve's file for Alex's → v4 `email`
  * column added → v5 append of John. Where no document settles a value
  * (most ages, Steve's file size, the first commit's uuid, the table uuid,
  * the v1/v4 timestamps) the choice is marked CHOSEN below.
  *
  * Documented byte lengths are the files' true lengths (Spark's parquet
  * reader trusts `file_size_in_bytes`): each such file is padded up to its
  * length with a `padding` key-value entry — a parquet footer entry or an
  * Avro header metadata entry.
  *
  * Regenerate from the repository root with
  * `sbt "Test/runMain graft.golden.GoldenTable"`; `GoldenTableSpec` checks
  * that the committed files are byte for byte what this writes. */
object GoldenTable {

  /** Where the table is committed, relative to the repository root. */
  val DefaultDir = "src/test/resources/golden/my_table"

  /** The location the original writer recorded; every path in the
    * metadata is absolute under it (readers rewrite it via original-url). */
  val Location = "/Users/mdurant/temp/warehouse/db/my_table"

  val TableUuid = "5c3e8b63-8d2f-4f0c-b21e-6f1a9d7c4e20" // CHOSEN
  val CreatedMs = 1667354288416L // CHOSEN: v1, before the first snapshot
  val EmailAddedMs = 1667354349730L // CHOSEN: v4, between snapshots 2 and 3

  final case class Person(name: String, age: Int, email: Option[String] = None)

  /** One single-row data file and its true length in bytes. */
  final case class DataFileSpec(file: String, row: Person, length: Long)

  val Bob = DataFileSpec("00000-0-b5ea8b58-1686-4d25-af1d-9349b2d29fd0-00001.parquet",
    Person("Bob", 35), 636) // CHOSEN age
  val Steve = DataFileSpec("00001-1-b7c7ea31-7ce3-4bd6-9d86-7e96dbffb589-00001.parquet",
    Person("Steve", 41), 650) // CHOSEN age and length
  val Fiona = DataFileSpec("00002-2-e5685594-0967-42ad-b306-2128ad35e716-00001.parquet",
    Person("Fiona", 27), 650) // CHOSEN age
  val Roger = DataFileSpec("00003-3-2a454a5e-dc13-4075-a9ad-91181d5ac450-00001.parquet",
    Person("Roger", 29), 650) // CHOSEN age
  val Alex = DataFileSpec("00081-6-db4a5dc9-8fdc-4b1f-b88e-05e954a966f7-00001.parquet",
    Person("Alex", 24), 656) // CHOSEN age
  val John = DataFileSpec("00000-206-1427d50c-e5c0-401a-9f54-b37b943b98c3-00001.parquet",
    Person("John", 56, Some("email@email.email")), 970)

  /** An Iceberg schema field: (id, name, type); all optional. */
  final case class Field(id: Int, name: String, icebergType: String)

  val Schema0: Seq[Field] = Seq(Field(1, "name", "string"), Field(2, "age", "int"))
  val Schema1: Seq[Field] = Schema0 :+ Field(3, "email", "string")

  /** A committed snapshot. `commitUuid` names its manifests
    * (`<uuid>-m<i>.avro`) and manifest list
    * (`snap-<id>-1-<uuid>.avro`), as iceberg-java names them. */
  final case class SnapshotSpec(id: Long, parent: Option[Long], timestampMs: Long,
      operation: String, schemaId: Int, commitUuid: String)

  val Snap1 = SnapshotSpec(2945427400371479360L, None, 1667354301148L, "append", 0,
    "0f6c2a3e-9d51-4b7a-8e24-7c13b5d9a6f8") // CHOSEN commit uuid
  val Snap2 = SnapshotSpec(1311955902847697544L, Some(Snap1.id), 1667354340939L,
    "overwrite", 0, "844a1c71-3878-41ff-a1dc-677fcf770276")
  val Snap3 = SnapshotSpec(8510902189542212372L, Some(Snap2.id), 1667354356523L,
    "append", 1, "b1a0a4f3-c2d8-4a81-97c0-ce967a61a546")

  /** Manifest entry status (spec: 0 EXISTING, 1 ADDED, 2 DELETED). */
  val Existing = 0
  val Added = 1
  val Deleted = 2

  final case class Entry(status: Int, snapshotId: Long, file: DataFileSpec)

  /** A manifest: its name, the table schema it was written under, its
    * entries, and its documented length (None: not documented, natural). */
  final case class ManifestSpec(name: String, schema: Seq[Field], entries: Seq[Entry],
      length: Option[Long], addedBy: Long)

  val M1 = ManifestSpec(s"${Snap1.commitUuid}-m0.avro", Schema0,
    Seq(Bob, Steve, Fiona, Roger).map(Entry(Added, Snap1.id, _)), None, Snap1.id)
  val M2Rewritten = ManifestSpec(s"${Snap2.commitUuid}-m0.avro", Schema0,
    Seq(Entry(Existing, Snap1.id, Bob), Entry(Deleted, Snap2.id, Steve),
      Entry(Existing, Snap1.id, Fiona), Entry(Existing, Snap1.id, Roger)),
    Some(5954), Snap2.id)
  val M2Added = ManifestSpec(s"${Snap2.commitUuid}-m1.avro", Schema0,
    Seq(Entry(Added, Snap2.id, Alex)), Some(5786), Snap2.id)
  val M3 = ManifestSpec(s"${Snap3.commitUuid}-m0.avro", Schema1,
    Seq(Entry(Added, Snap3.id, John)), Some(5864), Snap3.id)

  /** Each snapshot's manifest list, new manifests first. */
  val ManifestLists: Seq[(SnapshotSpec, Seq[ManifestSpec])] = Seq(
    Snap1 -> Seq(M1),
    Snap2 -> Seq(M2Added, M2Rewritten),
    Snap3 -> Seq(M3, M2Added, M2Rewritten))

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args.headOption.getOrElse(DefaultDir))
    write(root)
    println(s"wrote ${root.toAbsolutePath}")
  }

  /** Write the whole table under `root` (created if absent; files of the
    * same name are replaced, nothing else is removed). */
  def write(root: Path): Unit = {
    Files.createDirectories(root.resolve("data"))
    Files.createDirectories(root.resolve("metadata"))
    val written = Seq(Bob, Steve, Fiona, Roger, Alex, John)
      .map(f => f -> writeDataFile(root.resolve("data").resolve(f.file), f)).toMap
    val manifestLengths = Seq(M1, M2Rewritten, M2Added, M3).map(m =>
      m -> writeManifest(root.resolve("metadata").resolve(m.name), m, written)).toMap
    ManifestLists.foreach { case (snap, ms) =>
      writeManifestList(root.resolve("metadata").resolve(manifestListName(snap)),
        snap, ms.map(m => m -> manifestLengths(m)))
    }
    metadataVersions.zipWithIndex.foreach { case (json, i) =>
      Files.write(root.resolve("metadata").resolve(s"v${i + 1}.metadata.json"),
        json.getBytes(UTF_8))
    }
    Files.write(root.resolve("metadata").resolve("version-hint.text"),
      metadataVersions.size.toString.getBytes(UTF_8))
  }

  private def manifestListName(s: SnapshotSpec): String =
    s"snap-${s.id}-1-${s.commitUuid}.avro"

  // ------------------------------------------------------------- padding

  /** The bytes `render(n)` gives for the padding length `n` at which they
    * are exactly `target` long. Padding only adds bytes, so the natural
    * (n = 0) size must not exceed the target. */
  private def padTo(target: Long, what: String)(render: Int => Array[Byte]): Array[Byte] = {
    var n = 0
    var out = render(n)
    require(out.length <= target, s"$what is ${out.length} B unpadded, over its $target B")
    var tries = 0
    while (out.length != target) {
      require(tries < 8, s"$what: no padding length gives exactly $target B")
      n += (target - out.length).toInt
      out = render(n)
      tries += 1
    }
    out
  }

  // ---------------------------------------------------------- data files

  /** What a manifest records about a written data file. */
  private final case class WrittenFile(length: Long, columnSizes: Seq[(Int, Long)],
      splitOffsets: Seq[Long])

  private def parquetSchema(fields: Seq[Field]): MessageType = {
    val b = Types.buildMessage()
    fields.foreach {
      case Field(id, name, "string") =>
        b.optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType())
          .id(id).named(name)
      case Field(id, name, "int") =>
        b.optional(PrimitiveTypeName.INT32).id(id).named(name)
      case f => throw new IllegalArgumentException(s"unsupported field $f")
    }
    b.named("table")
  }

  private def fieldsOf(p: Person): Seq[Field] = if (p.email.isDefined) Schema1 else Schema0

  private def writeDataFile(path: Path, f: DataFileSpec): WrittenFile = {
    val fields = fieldsOf(f.row)
    val schema = parquetSchema(fields)
    val bytes = padTo(f.length, f.file) { n =>
      Files.deleteIfExists(path)
      val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
        .withType(schema)
        .withCompressionCodec(CompressionCodecName.GZIP)
        .withSizeStatisticsEnabled(false)
        .withExtraMetaData(Map("padding" -> " " * n).asJava)
        .build()
      try {
        val g = new SimpleGroupFactory(schema).newGroup()
          .append("name", f.row.name).append("age", f.row.age)
        f.row.email.foreach(e => g.append("email", e))
        w.write(g)
      } finally w.close()
      sortedEncodings(Files.readAllBytes(path))
    }
    Files.write(path, bytes)
    val reader = ParquetFileReader.open(new LocalInputFile(path))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val byName = blocks.flatMap(_.getColumns.asScala)
        .groupMapReduce(_.getPath.toDotString)(_.getTotalSize)(_ + _)
      WrittenFile(bytes.length, fields.map(fd => fd.id -> byName(fd.name)),
        blocks.map(_.getStartingPos))
    } finally reader.close()
  }

  /** The file with every column chunk's `encodings` list sorted.
    * parquet-mr gathers them in a HashSet of enums, so their order follows
    * identity hash codes and changes from one JVM to the next; sorted, the
    * footer (same length) is the same on every run. */
  private def sortedEncodings(file: Array[Byte]): Array[Byte] = {
    val footerLen = ByteBuffer.wrap(file, file.length - 8, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    val footerStart = file.length - 8 - footerLen
    val footer = Util.readFileMetaData(
      new ByteArrayInputStream(file, footerStart, footerLen))
    footer.getRow_groups.forEach(_.getColumns.forEach(
      _.getMeta_data.getEncodings.sort(Comparator.comparingInt[Encoding](_.getValue))))
    val out = new ByteArrayOutputStream()
    out.write(file, 0, footerStart)
    Util.writeFileMetaData(footer, out)
    out.write(file, file.length - 8, 8)
    val sorted = out.toByteArray
    require(sorted.length == file.length, "re-serialized parquet footer changed length")
    sorted
  }

  // ----------------------------------------------------------- manifests

  private def doc(d: String) = s""""doc":"$d""""

  /** Avro encoding of an Iceberg map<int, V>: an array of key/value
    * records named k<keyId>_v<valueId>, tagged logicalType "map". */
  private def intMap(name: String, id: Int, keyId: Int, valueId: Int, valueType: String,
      d: String): String =
    s"""{"name":"$name","type":["null",{"type":"array","items":{"type":"record",""" +
      s""""name":"k${keyId}_v$valueId","fields":[{"name":"key","type":"int",""" +
      s""""field-id":$keyId},{"name":"value","type":"$valueType","field-id":$valueId}]},""" +
      s""""logicalType":"map"}],${doc(d)},"default":null,"field-id":$id}"""

  /** Iceberg spec v1 `manifest_entry` for an unpartitioned spec: every
    * v1 `data_file` field (100-140), with iceberg-java's docs. */
  val ManifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[""" +
      """{"name":"status","type":"int","field-id":0},""" +
      """{"name":"snapshot_id","type":"long","field-id":1},""" +
      """{"name":"data_file","type":{"type":"record","name":"r2","fields":[""" +
      s"""{"name":"file_path","type":"string",${doc("Location URI with FS scheme")},"field-id":100},""" +
      s"""{"name":"file_format","type":"string",${doc("File format name: avro, orc, or parquet")},"field-id":101},""" +
      """{"name":"partition","type":{"type":"record","name":"r102","fields":[]},"field-id":102},""" +
      s"""{"name":"record_count","type":"long",${doc("Number of records in the file")},"field-id":103},""" +
      s"""{"name":"file_size_in_bytes","type":"long",${doc("Total file size in bytes")},"field-id":104},""" +
      """{"name":"block_size_in_bytes","type":"long","field-id":105},""" +
      intMap("column_sizes", 108, 117, 118, "long", "Map of column id to total size on disk") + "," +
      intMap("value_counts", 109, 119, 120, "long", "Map of column id to total count, including null and NaN") + "," +
      intMap("null_value_counts", 110, 121, 122, "long", "Map of column id to null value count") + "," +
      intMap("nan_value_counts", 137, 138, 139, "long", "Map of column id to number of NaN values in the column") + "," +
      intMap("lower_bounds", 125, 126, 127, "bytes", "Map of column id to lower bound") + "," +
      intMap("upper_bounds", 128, 129, 130, "bytes", "Map of column id to upper bound") + "," +
      s"""{"name":"key_metadata","type":["null","bytes"],${doc("Encryption key metadata blob")},"default":null,"field-id":131},""" +
      """{"name":"split_offsets","type":["null",{"type":"array","items":"long","element-id":133}],""" +
      s"""${doc("Splittable offsets")},"default":null,"field-id":132},""" +
      s"""{"name":"sort_order_id","type":["null","int"],${doc("Sort order ID")},"default":null,"field-id":140}""" +
      """]},"field-id":2}]}""")

  /** Iceberg spec v1 `manifest_file` (manifest-list record, 500-514 with
    * the `r508` partition summary 509-511 and 518). */
  val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[""" +
      s"""{"name":"manifest_path","type":"string",${doc("Location URI with FS scheme")},"field-id":500},""" +
      s"""{"name":"manifest_length","type":"long",${doc("Total file size in bytes")},"field-id":501},""" +
      s"""{"name":"partition_spec_id","type":"int",${doc("Spec ID used to write")},"field-id":502},""" +
      s"""{"name":"added_snapshot_id","type":["null","long"],${doc("Snapshot ID that added the manifest")},"default":null,"field-id":503},""" +
      s"""{"name":"added_data_files_count","type":["null","int"],${doc("Added entry count")},"default":null,"field-id":504},""" +
      s"""{"name":"existing_data_files_count","type":["null","int"],${doc("Existing entry count")},"default":null,"field-id":505},""" +
      s"""{"name":"deleted_data_files_count","type":["null","int"],${doc("Deleted entry count")},"default":null,"field-id":506},""" +
      """{"name":"partitions","type":["null",{"type":"array","items":{"type":"record","name":"r508","fields":[""" +
      s"""{"name":"contains_null","type":"boolean",${doc("True if any file has a null partition value")},"field-id":509},""" +
      s"""{"name":"contains_nan","type":["null","boolean"],${doc("True if any file has a nan partition value")},"default":null,"field-id":518},""" +
      s"""{"name":"lower_bound","type":["null","bytes"],${doc("Partition lower bound for all files")},"default":null,"field-id":510},""" +
      s"""{"name":"upper_bound","type":["null","bytes"],${doc("Partition upper bound for all files")},"default":null,"field-id":511}""" +
      s"""]},"element-id":508}],${doc("Summary for each partition")},"default":null,"field-id":507},""" +
      s"""{"name":"added_rows_count","type":["null","long"],${doc("Added rows count")},"default":null,"field-id":512},""" +
      s"""{"name":"existing_rows_count","type":["null","long"],${doc("Existing rows count")},"default":null,"field-id":513},""" +
      s"""{"name":"deleted_rows_count","type":["null","long"],${doc("Deleted rows count")},"default":null,"field-id":514}""" +
      "]}")

  /** Fixed Avro sync marker: the same bytes on every run. */
  private val Sync: Array[Byte] = "golden-my_table!".getBytes(UTF_8)

  /** iceberg-java's v1 manifest block size (64 MiB). */
  private val BlockSizeInBytes = 64L * 1024 * 1024

  private def avroFile(schema: Schema, meta: Seq[(String, String)],
      records: Seq[GenericRecord]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.deflateCodec(9))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, out, Sync)
    try records.foreach(w.append) finally w.close()
    out.toByteArray
  }

  private def kvArray(schema: Schema, field: String, kvs: Seq[(Int, Any)]): java.util.List[GenericRecord] = {
    val itemSchema = schema.getField(field).schema().getTypes.get(1).getElementType
    kvs.map { case (k, v) =>
      val r = new GenericData.Record(itemSchema)
      r.put("key", k)
      r.put("value", v)
      r: GenericRecord
    }.asJava
  }

  private def intLE(i: Int): ByteBuffer =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(0, i)

  /** Single-value serialization of a one-row file's column values:
    * UTF-8 for strings, 4-byte little-endian for ints. */
  private def bounds(p: Person): Seq[(Int, ByteBuffer)] =
    Seq(1 -> ByteBuffer.wrap(p.name.getBytes(UTF_8)), 2 -> intLE(p.age)) ++
      p.email.map(e => 3 -> ByteBuffer.wrap(e.getBytes(UTF_8)))

  private def entryRecord(e: Entry, w: WrittenFile): GenericRecord = {
    val dfSchema = ManifestEntrySchema.getField("data_file").schema()
    val df = new GenericData.Record(dfSchema)
    val ids = fieldsOf(e.file.row).map(_.id)
    df.put("file_path", s"$Location/data/${e.file.file}")
    df.put("file_format", "PARQUET")
    df.put("partition", new GenericData.Record(dfSchema.getField("partition").schema()))
    df.put("record_count", 1L)
    df.put("file_size_in_bytes", w.length)
    df.put("block_size_in_bytes", BlockSizeInBytes)
    df.put("column_sizes", kvArray(dfSchema, "column_sizes", w.columnSizes))
    df.put("value_counts", kvArray(dfSchema, "value_counts", ids.map(_ -> 1L)))
    df.put("null_value_counts", kvArray(dfSchema, "null_value_counts", ids.map(_ -> 0L)))
    df.put("nan_value_counts", kvArray(dfSchema, "nan_value_counts", Nil))
    df.put("lower_bounds", kvArray(dfSchema, "lower_bounds", bounds(e.file.row)))
    df.put("upper_bounds", kvArray(dfSchema, "upper_bounds", bounds(e.file.row)))
    df.put("key_metadata", null)
    df.put("split_offsets", w.splitOffsets.map(Long.box).asJava)
    df.put("sort_order_id", 0)
    val r = new GenericData.Record(ManifestEntrySchema)
    r.put("status", e.status)
    r.put("snapshot_id", e.snapshotId)
    r.put("data_file", df)
    r
  }

  /** Writes the manifest; returns its length. */
  private def writeManifest(path: Path, m: ManifestSpec,
      written: Map[DataFileSpec, WrittenFile]): Long = {
    val records = m.entries.map(e => entryRecord(e, written(e.file)))
    val render = (n: Int) => avroFile(ManifestEntrySchema, Seq(
      "schema" -> schemaJson(m.schema, if (m.schema == Schema1) 1 else 0),
      "partition-spec" -> "[]",
      "partition-spec-id" -> "0",
      "format-version" -> "1") ++ (if (n > 0) Seq("padding" -> " " * n) else Nil), records)
    val bytes = m.length.map(padTo(_, m.name)(render)).getOrElse(render(0))
    Files.write(path, bytes)
    bytes.length.toLong
  }

  private def writeManifestList(path: Path, snap: SnapshotSpec,
      manifests: Seq[(ManifestSpec, Long)]): Unit = {
    val records = manifests.map { case (m, length) =>
      def count(status: Int) = m.entries.count(_.status == status)
      val r = new GenericData.Record(ManifestFileSchema)
      r.put("manifest_path", s"$Location/metadata/${m.name}")
      r.put("manifest_length", length)
      r.put("partition_spec_id", 0)
      r.put("added_snapshot_id", m.addedBy)
      r.put("added_data_files_count", count(Added))
      r.put("existing_data_files_count", count(Existing))
      r.put("deleted_data_files_count", count(Deleted))
      r.put("partitions", java.util.Collections.emptyList[GenericRecord]())
      r.put("added_rows_count", count(Added).toLong)
      r.put("existing_rows_count", count(Existing).toLong)
      r.put("deleted_rows_count", count(Deleted).toLong)
      r: GenericRecord
    }
    Files.write(path, avroFile(ManifestFileSchema, Seq(
      "snapshot-id" -> snap.id.toString,
      "parent-snapshot-id" -> snap.parent.map(_.toString).getOrElse("null"),
      "format-version" -> "1"), records))
  }

  // ------------------------------------------------------- metadata JSON

  /** Compact schema JSON, as manifests and parquet footers embed it. */
  private def schemaJson(fields: Seq[Field], schemaId: Int): String =
    s"""{"type":"struct","schema-id":$schemaId,"fields":[""" +
      fields.map(f =>
        s"""{"id":${f.id},"name":"${f.name}","required":false,"type":"${f.icebergType}"}""")
        .mkString(",") + "]}"

  /** A JSON value, rendered the way Jackson's default pretty printer (and
    * so iceberg-java) lays out metadata files. */
  private sealed trait Json
  private final case class Obj(fields: (String, Json)*) extends Json
  private final case class Arr(items: Json*) extends Json
  private final case class Str(s: String) extends Json
  private final case class Num(n: Long) extends Json
  private final case class Bool(b: Boolean) extends Json

  private def render(j: Json, level: Int = 0): String = j match {
    case Obj() => "{ }"
    case Obj(fields @ _*) =>
      val pad = "  " * (level + 1)
      fields.map { case (k, v) => s"""\n$pad"$k" : ${render(v, level + 1)}""" }
        .mkString("{", ",", s"\n${"  " * level}}")
    case Arr() => "[ ]"
    case Arr(items @ _*) => items.map(render(_, level)).mkString("[ ", ", ", " ]")
    case Str(s) => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case Num(n) => n.toString
    case Bool(b) => b.toString
  }

  private def schemaObj(fields: Seq[Field], schemaId: Int): Json = Obj(
    "type" -> Str("struct"),
    "schema-id" -> Num(schemaId),
    "fields" -> Arr(fields.map(f => Obj(
      "id" -> Num(f.id), "name" -> Str(f.name),
      "required" -> Bool(false), "type" -> Str(f.icebergType))): _*))

  private def fileSizes(specs: Seq[DataFileSpec]): Long = specs.map(_.length).sum

  /** The summary iceberg-java records for a snapshot, derived from the
    * entries of its manifest list. */
  private def summary(s: SnapshotSpec): Json = {
    val entries = ManifestLists.collectFirst { case (`s`, ms) => ms }.get.flatMap(_.entries)
    def committed(status: Int) =
      entries.filter(e => e.status == status && e.snapshotId == s.id).map(_.file)
    val (added, removed) = (committed(Added), committed(Deleted))
    val live = entries.filter(_.status != Deleted).map(_.file)
    val removes = removed.nonEmpty
    Obj(Seq(
      Some("operation" -> s.operation),
      Some("added-data-files" -> added.size),
      Option.when(removes)("deleted-data-files" -> removed.size),
      Some("added-records" -> added.size),
      Option.when(removes)("deleted-records" -> removed.size),
      Some("added-files-size" -> fileSizes(added)),
      Option.when(removes)("removed-files-size" -> fileSizes(removed)),
      Some("changed-partition-count" -> 1),
      Some("total-records" -> live.size),
      Some("total-files-size" -> fileSizes(live)),
      Some("total-data-files" -> live.size),
      Some("total-delete-files" -> 0),
      Some("total-position-deletes" -> 0),
      Some("total-equality-deletes" -> 0)
    ).flatten.map { case (k, v) => k -> Str(v.toString) }: _*)
  }

  private def snapshotObj(s: SnapshotSpec): Json = Obj(Seq(
    "snapshot-id" -> Num(s.id)) ++ s.parent.map(p => "parent-snapshot-id" -> Num(p)) ++ Seq(
    "timestamp-ms" -> Num(s.timestampMs),
    "summary" -> summary(s),
    "manifest-list" -> Str(s"$Location/metadata/${manifestListName(s)}"),
    "schema-id" -> Num(s.schemaId)): _*)

  /** v1..v5.metadata.json, in order. */
  def metadataVersions: Seq[String] = {
    // (last-updated-ms, current schema, snapshots so far) per version
    val states = Seq(
      (CreatedMs, 0, Seq.empty[SnapshotSpec]),
      (Snap1.timestampMs, 0, Seq(Snap1)),
      (Snap2.timestampMs, 0, Seq(Snap1, Snap2)),
      (EmailAddedMs, 1, Seq(Snap1, Snap2)),
      (Snap3.timestampMs, 1, Seq(Snap1, Snap2, Snap3)))
    states.zipWithIndex.map { case ((updatedMs, schemaId, snaps), i) =>
      val schemas = Seq(Schema0, Schema1).take(schemaId + 1)
      val current = snaps.lastOption
      render(Obj(
        "format-version" -> Num(1),
        "table-uuid" -> Str(TableUuid),
        "location" -> Str(Location),
        "last-updated-ms" -> Num(updatedMs),
        "last-column-id" -> Num(schemas.last.size),
        "schema" -> schemaObj(schemas.last, schemaId),
        "current-schema-id" -> Num(schemaId),
        "schemas" -> Arr(schemas.zipWithIndex.map { case (f, id) => schemaObj(f, id) }: _*),
        "partition-spec" -> Arr(),
        "default-spec-id" -> Num(0),
        "partition-specs" -> Arr(Obj("spec-id" -> Num(0), "fields" -> Arr())),
        "last-partition-id" -> Num(999),
        "default-sort-order-id" -> Num(0),
        "sort-orders" -> Arr(Obj("order-id" -> Num(0), "fields" -> Arr())),
        "properties" -> Obj("owner" -> Str("mdurant")), // CHOSEN
        "current-snapshot-id" -> Num(current.map(_.id).getOrElse(-1L)),
        "refs" -> current.map(c => Obj("main" -> Obj(
          "snapshot-id" -> Num(c.id), "type" -> Str("branch")))).getOrElse(Obj()),
        "snapshots" -> Arr(snaps.map(snapshotObj): _*),
        "snapshot-log" -> Arr(snaps.map(s => Obj(
          "timestamp-ms" -> Num(s.timestampMs), "snapshot-id" -> Num(s.id))): _*),
        "metadata-log" -> Arr(states.take(i).zipWithIndex.map { case ((ms, _, _), j) =>
          Obj("timestamp-ms" -> Num(ms),
            "metadata-file" -> Str(s"$Location/metadata/v${j + 1}.metadata.json"))
        }: _*)))
    }
  }
}
