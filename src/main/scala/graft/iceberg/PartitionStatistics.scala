package graft.iceberg

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Iceberg PARTITION STATISTICS files (spec "Partition statistics"): one
  * sorted parquet row per partition with the spec's exact schema and field
  * ids — data/delete record+file counts and byte totals — registered under
  * the table metadata's `partition-statistics` list, one entry per
  * snapshot.
  *
  * Everything here derives from MANIFEST metadata alone (zero data I/O):
  * the counts are the same ones `partitionStats()` serves to the
  * `partitions` metadata table, persisted in the cross-engine format so
  * external planners (Trino, Iceberg-java consumers) get per-partition
  * cardinality without a scan. Delete files that span partitions (null
  * partition tuple — this writer's cross-partition parquet position-delete
  * carriers) cannot be attributed to one partition and are left out of
  * per-partition delete counts; partition-scoped delete files — including
  * every DELETION VECTOR this writer stamps with its referenced file's
  * tuple (IcebergWriter.stampDvPartitions) — attribute exactly.
  *
  * The reference has no statistics machinery (ice.py) — extension. */
object PartitionStatistics {

  private val mapper = new ObjectMapper()

  /** Compute for the CURRENT snapshot, write `metadata/<uuid>-partition-
    * stats.parquet` (sorted by partition tuple, spec field ids stamped),
    * register it (replacing this snapshot's entry). Returns the path. */
  def compute(ops: TableOps): String = {
    val table = ops.current()
    val conf = table.conf
    require(table.metadata.currentSnapshotId >= 0,
      "cannot compute partition statistics: table has no snapshot")
    val snapshotId = table.metadata.currentSnapshotId
    val spec = table.partitionSpec
    val fields = spec.fields
    // an unpartitioned table has ONE implicit partition (the whole table,
    // already summarized by snapshot totals) and an EMPTY partition struct
    // parquet cannot represent — refuse with a pointer instead of writing
    // a malformed file
    require(fields.nonEmpty,
      "partition statistics need a partitioned table (unpartitioned totals " +
        "live in the snapshot summary / countFromStats)")

    def mdFor(id: Int) = new MetadataBuilder()
      .putLong("parquet.field.id", id.toLong).build()
    // unified partition struct: this table's default-spec fields, child
    // ids = the spec's partition field ids (the spec's rule)
    val partType = StructType(fields.map(pf =>
      StructField(pf.name, partValueSparkType(table, pf), nullable = true,
        metadata = mdFor(pf.fieldId))))
    val schema = StructType(Seq(
      StructField("partition", partType, nullable = false, mdFor(1)),
      StructField("spec_id", IntegerType, nullable = false, mdFor(2)),
      StructField("data_record_count", LongType, nullable = false, mdFor(3)),
      StructField("data_file_count", IntegerType, nullable = false, mdFor(4)),
      StructField("total_data_file_size_in_bytes", LongType, nullable = false, mdFor(5)),
      StructField("position_delete_record_count", LongType, nullable = true, mdFor(6)),
      StructField("position_delete_file_count", IntegerType, nullable = true, mdFor(7)),
      StructField("equality_delete_record_count", LongType, nullable = true, mdFor(8)),
      StructField("equality_delete_file_count", IntegerType, nullable = true, mdFor(9)),
      StructField("total_record_count", LongType, nullable = true, mdFor(10)),
      StructField("last_updated_at", LongType, nullable = true, mdFor(11)),
      StructField("last_updated_snapshot_id", LongType, nullable = true, mdFor(12))))

    // COERCE each file's partition tuple through its OWN spec into the
    // unified (default-spec) partition type: partition FIELD IDS are stable
    // across spec evolution, so a field renamed between specs still
    // attributes, and a file written before a partition field existed gets
    // null for it (the spec's unified-tuple rule). Matching by default-spec
    // NAME alone would null out every old-spec file and lump them into one
    // bogus row.
    val nameByIdPerSpec = scala.collection.mutable.Map.empty[Int, Map[Int, String]]
    def specNames(specId: Int): Map[Int, String] =
      nameByIdPerSpec.getOrElseUpdate(specId,
        table.metadata.specById(specId).fields.map(pf => pf.fieldId -> pf.name).toMap)
    def tuple(f: Manifests.DataFileInfo): Seq[Any] = {
      val byId = specNames(f.specId.getOrElse(table.metadata.defaultSpecId))
      fields.map(pf => byId.get(pf.fieldId).flatMap(f.partition.get).orNull)
    }
    def scoped(f: Manifests.DataFileInfo): Boolean =
      f.partition.nonEmpty && tuple(f).forall(_ != null)
    val dataByPart = table.liveFiles().groupBy(tuple)
    val posByPart = table.positionDeleteFiles.filter(scoped).groupBy(tuple)
    val eqByPart = table.equalityDeleteFiles.filter(scoped).groupBy(tuple)
    // spec: total_record_count is the ACCURATE post-delete row count. It is
    // derivable from metadata only when every delete carrier is partition-
    // scoped (cross-partition carriers attribute to no partition) and the
    // partition has no equality deletes (each removes 0..n rows) — each
    // position delete then removes exactly one row. Otherwise null
    // (optional field) beats a wrong number.
    val crossPartitionCarriers =
      table.positionDeleteFiles.exists(f => !scoped(f)) ||
        table.equalityDeleteFiles.exists(f => !scoped(f))
    val now = System.currentTimeMillis()
    val rows: Seq[Row] = dataByPart.toSeq
      .sortBy(_._1.map(String.valueOf).mkString("\u0000"))
      .map { case (pv, fs) =>
        val pos = posByPart.getOrElse(pv, Nil)
        val eq = eqByPart.getOrElse(pv, Nil)
        val dataRecords = fs.map(_.recordCount).sum
        val totalRecords: java.lang.Long =
          if (!crossPartitionCarriers && eq.isEmpty)
            java.lang.Long.valueOf(dataRecords - pos.map(_.recordCount).sum)
          else null
        // spec_id: the file's ACTUAL spec, not a blanket default — when a
        // coerced partition holds files of several specs, record the newest
        // (highest id) represented, matching the unified-tuple model
        Row(
          Row.fromSeq(pv),
          fs.flatMap(_.specId).maxOption.getOrElse(table.metadata.defaultSpecId),
          dataRecords,
          fs.size,
          fs.map(_.fileSizeInBytes).sum,
          pos.map(_.recordCount).sum,
          pos.size,
          eq.map(_.recordCount).sum,
          eq.size,
          totalRecords,
          now,
          snapshotId)
      }
    // the registered path is one FILE (spec), written straight to its place
    val statsPath = s"${ops.url}/metadata/${java.util.UUID.randomUUID()}-partition-stats.parquet"
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    val (fileLen, _) = TaskFileWriter.writeOne(new org.apache.hadoop.fs.Path(statsPath),
      schema, conf, rows.iterator.map(r =>
        toRow(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))

    val entry = mapper.createObjectNode()
    entry.put("snapshot-id", snapshotId)
    entry.put("statistics-path", statsPath)
    entry.put("file-size-in-bytes", fileLen)
    IcebergWriter.commitWithRetry(ops)(_ =>
      Some(Seq(MetadataUpdate.SetPartitionStatistics(snapshotId, entry))))
    statsPath
  }

  /** Read the registered file for `snapshotId` (None = none registered). */
  def read(spark: SparkSession, table: IcebergTable,
      snapshotId: Long): Option[DataFrame] =
    table.metadata.partitionStatistics.find(_.snapshotId == snapshotId)
      .map(e => spark.read.parquet(table.resolvePath(e.path)))

  /** Spark type of a partition field's stored values. */
  private def partValueSparkType(table: IcebergTable, pf: PartitionField): DataType = {
    val srcType = table.iceSchema.fields.find(_.id == pf.sourceId)
      .map(_.icebergTypeString).getOrElse("string")
    Transforms.parseOption(pf.transform) match {
      case Some(t) => IcebergTypes.primitiveToSpark(t.resultType(srcType)) match {
        // partition VALUES for int-typed results are stored as ints/longs;
        // day/date render as DateType in files but our tuples hold raw
        // values — normalize numerics to their storage form
        case DateType => IntegerType
        case other => other
      }
      case None => StringType
    }
  }
}
