package graft.sources

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.graftbridge.{DeleteLoader, ScanBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.iceberg.{IcebergTable, IcebergWriter, Pruning}

/** Spark DataSourceV2 connector for Iceberg tables:
  *
  * {{{
  *   spark.read.format("graft-iceberg")
  *     .option("original-url", "...")   // path rewrite, ice.py original_url
  *     .option("version", "4")          // time travel by metadata version
  *     .option("snapshot-id", "123")    // … by snapshot id
  *     .option("rel", "-1")             // … relative to latest
  *     .option("as-of-ms", "169…")      // … latest snapshot at/before timestamp
  *     .load("/path/to/table")
  * }}}
  *
  * Architecture (replaces the round-1 V1 `PrunedFilteredScan`, whose
  * `df.rdd` bridge severed whole-stage codegen):
  *
  *  - `TableProvider` → [[GraftIcebergV2Table]] resolves the snapshot once
  *    and memoizes the live-file walk;
  *  - [[GraftIcebergScanBuilder]] receives pushed filters + required columns
  *    from Catalyst, prunes manifests/files from Iceberg statistics, and
  *    plans Spark's native vectorized parquet batch scan over the survivors
  *    (columnar read, whole-stage codegen, row-group/page pushdown intact);
  *  - the scan reports Iceberg-manifest statistics (exact bytes + row
  *    counts) so Catalyst can pick broadcast joins without touching data.
  *
  * All pushed filters are also returned as residuals, so Spark re-applies
  * them row-level after the scan (same contract as Spark's own file
  * sources): metadata pruning only has to be sound, never exact.
  */
/** Test gauge: how many times ONE plan computed the metadata aggregate
  * answer. Spark probes `supportCompletePushDown` then immediately calls
  * `pushAggregation` with the same Aggregation; the builder memoizes so the
  * O(files) bound decode runs once (on a 100k-file table the second pass
  * would double plan-time metadata work for nothing). */
object GraftIcebergScanBuilderProbe {
  @volatile var lastDecodeRuns: Int = 0
  def reset(): Unit = lastDecodeRuns = 0
}

object GraftIcebergSource {
  /** Driver-side parquet footers opened during equality-delete planning.
    * Normally ZERO (key names resolve from snapshot schemas); test-visible
    * so specs can pin the no-footer-probe planning contract. */
  val footerProbes = new java.util.concurrent.atomic.AtomicLong(0)

  /** CDC planning telemetry (driver-wide, LAST plan that considered any
    * position-delete selection; Spark may re-plan one microbatch several
    * times, so cumulative counts would be re-plan-dependent): surviving
    * parent files considered vs "delete" partitions actually planned for
    * them. They diverge when delete-file `file_path` bounds
    * ([[graft.iceberg.Manifests.PosDeletePathFieldId]]) prove a delete
    * file irrelevant to a data file — specs pin that CDC planning
    * prunes instead of fanning one task out per live file. */
  val cdcSelectionCandidates = new java.util.concurrent.atomic.AtomicLong(0)
  val cdcSelectionPartitions = new java.util.concurrent.atomic.AtomicLong(0)
}

class GraftIcebergSource extends TableProvider with CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-iceberg"

  override def supportsExternalMetadata(): Boolean = true

  /** DataFrame WRITE API (`df.write.format("graft-iceberg").save(path)`):
    * Spark lands here for CREATE-on-first-write modes (ErrorIfExists /
    * Ignore, and any mode when the table does not exist yet) — existing
    * tables take the native BatchWrite through the V2 relation. Append
    * creates the table on first write; Overwrite replaces all rows in one
    * snapshot. Partitioning via
    * `.option("partition-spec", "cat:identity,k:bucket[4]")` and sorting
    * via `.option("sort-order", "k:asc")` (these don't flow through the V1
    * write API's partitionBy). */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("path option is required"))
    val spark = sqlContext.sparkSession
    val exists = IcebergTable.versionHint(path,
      spark.sessionState.newHadoopConf()) > 0
    def create(): Unit = {
      val partitions = parameters.get("partition-spec").toSeq
        .flatMap(_.split(',')).filter(_.nonEmpty)
        .map { p =>
          val Array(src, tr) = p.split(':')
          (src.trim, tr.trim)
        }
      // `.option("sort-order", "k:asc,v:desc")` — sorted-table creation
      val sortOrder = parameters.get("sort-order").toSeq
        .flatMap(_.split(',')).filter(_.nonEmpty)
        .map { p =>
          val Array(src, dir) = p.split(':')
          (src.trim, dir.trim)
        }
      IcebergWriter.createTable(spark, path, data.schema, partitions, sortOrder)
    }
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(s"table already exists: $path")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Overwrite =>
        if (!exists) create()
        IcebergWriter.overwrite(spark, path, data)
      case _ => // Append / first write
        if (!exists) create()
        IcebergWriter.append(spark, path, data)
    }
    // a relation over the committed table (Spark may introspect its schema)
    val ctx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = IcebergTable.load(spark, path).schema
    }
  }

  // inferSchema + getTable receive the same options on one provider
  // instance; cache the metadata load so the table JSON is read once.
  @volatile private var cached: (CaseInsensitiveStringMap, IcebergTable) = _

  private def loadTable(options: CaseInsensitiveStringMap): IcebergTable = {
    val c = cached
    if (c != null && c._1 == options) return c._2
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("path option is required"))
    val spark = SparkSession.active
    var table = IcebergTable.load(spark, path,
      originalUrl = Option(options.get("original-url")),
      version = Option(options.get("version")).map(_.toInt))
    Option(options.get("snapshot-id")).foreach(id => table = table.atSnapshot(id.toLong))
    Option(options.get("rel")).foreach(r => table = table.snapshotRelative(r.toInt))
    Option(options.get("as-of-ms")).foreach(ts => table = table.asOfTimestamp(ts.toLong))
    Option(options.get("branch")).foreach(b => table = table.atBranch(b))
    Option(options.get("tag")).foreach(t => table = table.atTag(t))
    // incremental append scan: files added in (start, end]; end defaults to
    // the snapshot resolved by the travel options above (or latest)
    Option(options.get("start-snapshot-id")).foreach { from =>
      val end = Option(options.get("end-snapshot-id")).map(_.toLong)
        .getOrElse(table.currentSnapshot.snapshotId)
      table = table.incrementalBetween(from.toLong, end)
    }
    cached = (options, table)
    table
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = loadTable(options).schema
    if (GraftIcebergV2Table.isCdc(options)) GraftIcebergV2Table.withCdcColumns(base)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    try {
      val opts = new CaseInsensitiveStringMap(properties)
      new GraftIcebergV2Table(loadTable(opts), GraftIcebergV2Table.isCdc(opts))
    }
    catch {
      // the WRITE path probes getTable before the table exists (first
      // append creates it): hand back a capability-less placeholder so
      // Spark falls through to the V1 CreatableRelationProvider write (a
      // table whose metadata cannot be read is not uncreated: that error
      // propagates)
      case _: IcebergTable.TableNotFoundException =>
        val providedSchema = schema
        new Table {
          override def name(): String = "graft-iceberg (uncreated)"
          override def schema(): StructType = providedSchema
          override def capabilities(): util.Set[TableCapability] =
            util.Collections.emptySet()
        }
    }
}

object GraftIcebergV2Table {
  /** `stream-mode=cdc`: the streaming source emits a CHANGELOG — every
    * micro-batch carries the row-level changes of its snapshot range, with
    * `_change_type` ('insert' | 'delete'), `_commit_snapshot_id`, and
    * `_commit_timestamp` (the committing snapshot's metadata timestamp)
    * appended to the schema. Batch reads of a CDC relation refuse. */
  def isCdc(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("stream-mode")).contains("cdc")

  val CdcColumns: Seq[StructField] = Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_snapshot_id", LongType, nullable = false),
    StructField("_commit_timestamp", org.apache.spark.sql.types.TimestampType,
      nullable = false))

  def withCdcColumns(base: StructType): StructType =
    StructType(base.fields ++ CdcColumns)
}

final class GraftIcebergV2Table(val table: IcebergTable,
    val cdcMode: Boolean = false) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Iceberg-parity metadata columns, materialized by the scan without
    * touching data: `_partition` (the row's partition tuple rendered as a
    * string — also what the copy-on-write protocol requests: Spark 4's
    * group-based writing task only applies its row projection on the
    * metadata path), `_file` (the data file's path), and `_pos` (the row's
    * position in its file, from the parquet row index). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    // _file/_pos are NON-nullable: the scan materializes a value for every
    // row, and the delta protocol requires non-null row-id attributes
    def c(n: String, dt: org.apache.spark.sql.types.DataType, nul: Boolean) =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = nul
      }
    Array(c("_partition", StringType, true), c("_file", StringType, false),
      c("_pos", org.apache.spark.sql.types.LongType, false),
      // Iceberg v3 ROW LINEAGE: `_row_id` = the file's first_row_id + row
      // position (null for files written before the table tracked
      // lineage), `_last_updated_sequence_number` = the commit sequence
      // that last produced the row's file. Both nullable per the spec.
      c("_row_id", org.apache.spark.sql.types.LongType, true),
      c("_last_updated_sequence_number", org.apache.spark.sql.types.LongType, true))
  }

  /** `SHOW TBLPROPERTIES` / DESCRIBE surface: the metadata `properties`
    * map plus the engine-state facts Iceberg's own SparkTable reports
    * (format, format-version, current snapshot). */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    table.metadata.properties.foreach { case (k, v) => m.put(k, v) }
    m.put("format", "iceberg/parquet")
    m.put("format-version", table.metadata.formatVersion.toString)
    if (table.metadata.currentSnapshotId >= 0)
      m.put("current-snapshot-id", table.metadata.currentSnapshotId.toString)
    m
  }

  /** SQL UPDATE / MERGE INTO / complex DELETE. Two modes, selected by
    * `spark.graft.iceberg.dmlMode`:
    *
    *  - `merge-on-read` (default): Spark's delta protocol
    *    ([[GraftDeltaRowLevelOperation]]) — matched rows become position
    *    deletes, new/updated rows become ordinary data files, one snapshot,
    *    NO data file rewritten. The scalable shape for frequent small DML
    *    (a 1-row UPDATE writes two tiny files); compaction folds the deltas
    *    when read amplification grows.
    *  - `copy-on-write`: the group-based protocol — the scan pins candidate
    *    files, Spark computes their full replacement content, the write
    *    swaps exactly those files. Zero read amplification afterwards;
    *    right for bulk rewrites of most rows.
    *
    * Simple DELETEs still take the cheaper metadata path — Spark's
    * OptimizeMetadataOnlyDeleteFromTable folds back to [[deleteWhere]]
    * when the condition translates. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      val mode = SQLConf.get.getConfString(
        "spark.graft.iceberg.dmlMode", "merge-on-read")
      mode match {
        case "merge-on-read" => new GraftDeltaRowLevelOperation(this, info.command())
        case "copy-on-write" => new GraftRowLevelOperation(this, info.command())
        case other => throw new IllegalArgumentException(
          s"spark.graft.iceberg.dmlMode must be merge-on-read or copy-on-write, got $other")
      }
    }

  /** SQL `DELETE FROM cat.db.t WHERE …`: whole files whose statistics
    * prove every row matches drop as v1 DELETED entries; split files get
    * v2 position deletes (merge-on-read) — the same row-level machinery as
    * [[IcebergWriter.deleteRows]]. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => Pruning.fromSparkFilterExact(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pred = filters.flatMap(Pruning.fromSparkFilterExact)
      .reduceOption(Pruning.And.apply).getOrElse(Pruning.AlwaysTrue)
    // catalog-opened tables publish through the catalog's atomic commit
    IcebergWriter.deleteRows(table.ops, pred)
  }

  override def name(): String = s"graft-iceberg ${table.url}"

  override def schema(): StructType =
    if (cdcMode) GraftIcebergV2Table.withCdcColumns(table.schema) else table.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  /** The Iceberg partition spec as Spark V2 transforms — lets the analyzer
    * accept `INSERT OVERWRITE t PARTITION (col=...)` and SHOW the layout. */
  override def partitioning(): Array[Transform] = {
    val BucketRe = """bucket\[(\d+)\]""".r
    val TruncRe = """truncate\[(\d+)\]""".r
    table.partitionSpec.fields.flatMap { pf =>
      table.iceSchema.fields.find(_.id == pf.sourceId).map(_.name).flatMap { src =>
        pf.transform match {
          case "identity" => Some(Expressions.identity(src))
          case "year" => Some(Expressions.years(src))
          case "month" => Some(Expressions.months(src))
          case "day" => Some(Expressions.days(src))
          case "hour" => Some(Expressions.hours(src))
          case BucketRe(n) => Some(Expressions.bucket(n.toInt, src))
          case TruncRe(n) => Some(Expressions.apply("truncate",
            Expressions.literal(n.toInt), Expressions.column(src)))
          case _ => None // void etc: not a routable write transform
        }
      }
    }.toArray
  }

  /** Memoized unfiltered live-file walk: statistics estimation and
    * unfiltered scans share one manifest pass per table instance. */
  lazy val allLiveFiles: Seq[graft.iceberg.Manifests.DataFileInfo] = table.liveFiles()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftIcebergScanBuilder(this, options)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftIcebergWriteBuilder(table, partitioning(), info.schema())
}

/** SQL/DataFrame V2 write path: `INSERT INTO cat.db.t`, `INSERT OVERWRITE`
  * (truncate, static-partition filter, or dynamic), and
  * `df.writeTo("cat.db.t")` all land on the NATIVE [[GraftBatchWrite]]:
  * executor DataWriters stream rows straight into parquet; the driver only
  * commits the reported files. The write declares a CLUSTERED distribution
  * on the table's partition transforms, so Spark shuffles rows to
  * co-locate partition values, and an ORDERING on them, so each task's
  * writer holds one open file and rolls when the partition changes — no
  * small-files explosion, the same clustering and sort the DataFrame write
  * path applies.
  *
  * Overwrite filters translate EXACTLY or refuse (a widened predicate
  * would replace rows the user never named); predicates that would split a
  * file raise rather than silently rewriting rows. */
final class GraftIcebergWriteBuilder(table: IcebergTable,
    partitionTransforms: Array[Transform], querySchema: StructType)
  extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var mode: WriteMode = WriteMode.Append

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    mode = WriteMode.OverwriteByFilter(Pruning.AlwaysTrue)
    this
  }

  override def overwriteDynamicPartitions():
      org.apache.spark.sql.connector.write.WriteBuilder = {
    mode = WriteMode.OverwriteDynamic
    this
  }

  override def overwrite(filters: Array[Filter]):
      org.apache.spark.sql.connector.write.WriteBuilder = {
    val preds = filters.map(f => Pruning.fromSparkFilterExact(f).getOrElse(
      throw new UnsupportedOperationException(
        s"overwrite filter not expressible as an Iceberg predicate: $f")))
    mode = WriteMode.OverwriteByFilter(preds.reduceOption(Pruning.And.apply)
      .getOrElse(Pruning.AlwaysTrue))
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

      override def requiredDistribution():
          org.apache.spark.sql.connector.distributions.Distribution =
        GraftIcebergWriteBuilder.writeDistribution(table, partitionTransforms)

      override def requiredOrdering():
          Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        GraftIcebergWriteBuilder.writeOrdering(table, partitionTransforms)

      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        new GraftBatchWrite(table, mode, querySchema)
    }
}

object GraftIcebergWriteBuilder {
  /** The distribution every graft write wants: cluster on partition
    * transforms when partitioned; RANGE on the sort order when the table is
    * unpartitioned-but-sorted (disjoint per-file bounds); else unspecified. */
  private[sources] def writeDistribution(table: IcebergTable,
      partitionTransforms: Array[Transform]):
      org.apache.spark.sql.connector.distributions.Distribution = {
    val sortExprs = sortOrderExpressions(table)
    if (partitionTransforms.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        partitionTransforms
          .map(t => t: org.apache.spark.sql.connector.expressions.Expression))
    else if (sortExprs.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.ordered(sortExprs)
    else
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
  }

  /** The order every graft write wants within a task: partition
    * transforms first, so each task's rows arrive grouped by partition and
    * its writer holds one open file, then the table's sort order. */
  private[sources] def writeOrdering(table: IcebergTable,
      partitionTransforms: Array[Transform]):
      Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    partitionOrdering(partitionTransforms) ++ sortOrderExpressions(table)

  private[sources] def partitionOrdering(partitionTransforms: Array[Transform]) =
    partitionTransforms.map(t => Expressions.sort(t, SortDirection.ASCENDING,
      NullOrdering.NULLS_FIRST))

  /** The table's sort order as V2 SortOrder expressions: Spark then SORTS
    * rows before handing them to the DataWriters, so native writes produce
    * the same tight per-file bounds as the DataFrame path. */
  private[sources] def sortOrderExpressions(table: IcebergTable):
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    table.sortOrderColumns.map { case (name, dir) =>
      if (dir == "desc")
        Expressions.sort(Expressions.column(name),
          SortDirection.DESCENDING, NullOrdering.NULLS_LAST)
      else
        Expressions.sort(Expressions.column(name),
          SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)
    }.toArray
  }
}

/** One copy-on-write DELETE/UPDATE/MERGE execution: remembers the files its
  * scan planned so the write replaces exactly what was read. */
final class GraftRowLevelOperation(tbl: GraftIcebergV2Table,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.RowLevelOperation {

  import org.apache.spark.sql.connector.write.RowLevelOperation.Command

  @volatile private var scanned: Seq[graft.iceberg.Manifests.DataFileInfo] = Nil

  override def command(): Command = cmd

  override def description(): String = s"graft copy-on-write $cmd"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftIcebergScanBuilder(tbl, options, onBuild = s => scanned = s.scanFiles,
      dmlScan = true)

  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_partition"))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

          override def requiredDistribution():
              org.apache.spark.sql.connector.distributions.Distribution =
            GraftIcebergWriteBuilder.writeDistribution(tbl.table, tbl.partitioning())

          override def requiredOrdering():
              Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            GraftIcebergWriteBuilder.writeOrdering(tbl.table, tbl.partitioning())

          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
            val op = if (cmd == Command.DELETE) "delete" else "overwrite"
            // the delete files the pinned scan APPLIED: the same table
            // instance served the reads, so this is its consistent view
            new GraftBatchWrite(tbl.table,
              WriteMode.ReplaceFiles(() => scanned,
                () => IcebergWriter.liveDeleteSet(tbl.table), op), info.schema())
          }
        }
    }
}

final class GraftIcebergScanBuilder(tbl: GraftIcebergV2Table,
    options: CaseInsensitiveStringMap,
    onBuild: GraftIcebergScan => Unit = _ => (),
    /** True when this scan feeds a row-level operation (its file set is
      * pinned as the rewrite's replacement groups — see
      * GraftIcebergScan.runtimeFilterable). */
    dmlScan: Boolean = false)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = tbl.schema()
  private var metaCols: Seq[String] = Nil
  private var limit: Option[Int] = None
  private var aggResult: Option[(StructType, Seq[Seq[Any]])] = None

  /** METADATA-ANSWERED aggregates through the standard DSv2 contract —
    * `SELECT count(*)|count(c)|min(c)|max(c) FROM cat.db.t` never touches
    * a data file, with NO session extension required: catalog and path
    * (`format("graft-iceberg")`) reads alike, the one place aggregates are
    * answered from metadata. COMPLETE pushdown only — the answer must be
    * EXACT or the aggregation is refused and Spark scans:
    *  - count(*): [[IcebergTable.countFromStats]]'s soundness rules
    *    (position deletes subtract exactly; equality deletes refuse);
    *  - count(c): Σ value_counts − Σ null_counts, requiring every file to
    *    carry both for the column and NO row-level deletes;
    *  - min/max(c): [[GraftIcebergScan.manifestMinMax]]'s rules (complete
    *    bounds, NaN-proven floats, orderable fixed-domain types) and NO
    *    row-level deletes (a delete could remove the extremum).
    * Spark only offers aggregates here when every filter was fully pushed;
    * this scan reports all filters as residuals, so any WHERE clause
    * blocks the offer — exactly the sound-not-exact contract.
    *
    * GROUP BY pushes down too when every grouping expression is a column
    * IDENTITY-partitioned under every live file's own spec: the groups are
    * then exactly the distinct partition tuples and each group's
    * count/min/max answers from its files' manifest stats — a per-partition
    * rollup over a 100k-file table plans zero data I/O. Any non-identity
    * transform, pre-spec-evolution file, row-level delete, or
    * non-restorable key type (decimal/uuid/fixed/binary) refuses. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    answerFromMetadata(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    answerFromMetadata(agg) match {
      case some @ Some(_) => aggResult = some; true
      case None => false
    }

  // Spark probes supportCompletePushDown then immediately calls
  // pushAggregation with the SAME Aggregation — memoize the computed
  // answer so the O(files) bound decode runs once per plan, not twice
  // (on a 100k-file table that halves plan-time metadata work).
  private var aggMemo:
    Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      Option[(StructType, Seq[Seq[Any]])])] = None

  private def answerFromMetadata(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] =
    aggMemo match {
      case Some((cached, ans)) if cached eq agg => ans
      case _ =>
        GraftIcebergScanBuilderProbe.lastDecodeRuns += 1
        val ans = scala.util.Try {
          answerFromMetadata0(agg)
        }.toOption.flatten // snapshot-less tables etc.: refuse, Spark scans
        aggMemo = Some((agg, ans))
        ans
    }

  private def answerFromMetadata0(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (pushed.nonEmpty || tbl.cdcMode ||
        options.containsKey("file-subset")) return None
    def field(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[graft.iceberg.SchemaField] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        tbl.table.iceSchema.fields.find(_.name == nr.fieldNames.head)
      case _ => None
    }
    val files = tbl.allLiveFiles
    lazy val noDeletes = tbl.table.liveDeleteFiles.isEmpty

    /** One group's aggregate answers under the exactness rules, or None —
      * any unanswerable function refuses the WHOLE pushdown. `countStar`
      * differs by mode: the global row subtracts position deletes via
      * countFromStats; grouped rows run under the no-deletes gate, so a
      * plain record-count sum is exact. */
    def answerAggs(groupFiles: Seq[graft.iceberg.Manifests.DataFileInfo],
        countStar: () => Option[Long]): Option[Seq[(StructField, Any)]] = {
      val answered: Seq[Option[(StructField, Any)]] =
        agg.aggregateExpressions.toSeq.zipWithIndex.map {
          case (_: CountStar, i) =>
            countStar().map(n =>
              (StructField(s"agg_$i", org.apache.spark.sql.types.LongType,
                nullable = false), Long.box(n)))
          case (c: Count, i) if !c.isDistinct =>
            for {
              f <- field(c.column)
              if noDeletes
              if groupFiles.forall(df => df.valueCounts.contains(f.id) &&
                df.nullValueCounts.contains(f.id))
            } yield (StructField(s"agg_$i", org.apache.spark.sql.types.LongType,
              nullable = false),
              Long.box(groupFiles.map(df => df.valueCounts(f.id) -
                df.nullValueCounts(f.id)).sum))
          case (m: Min, i) =>
            for {
              f <- field(m.column); if noDeletes
              mm <- GraftIcebergScan.manifestMinMax(groupFiles, f)
            } yield (StructField(s"agg_$i",
              graft.iceberg.IcebergTypes.primitiveToSpark(f.icebergTypeString)),
              mm._1)
          case (m: Max, i) =>
            for {
              f <- field(m.column); if noDeletes
              mm <- GraftIcebergScan.manifestMinMax(groupFiles, f)
            } yield (StructField(s"agg_$i",
              graft.iceberg.IcebergTypes.primitiveToSpark(f.icebergTypeString)),
              mm._2)
          case _ => None // sum/avg/distinct/udaf: not metadata-answerable
        }
      if (answered.exists(_.isEmpty)) None else Some(answered.map(_.get))
    }

    if (agg.groupByExpressions.isEmpty) {
      answerAggs(files, () => tbl.table.countFromStats()).map { cells =>
        (StructType(cells.map(_._1)), Seq(cells.map(_._2)))
      }
    } else {
      // GROUP BY over IDENTITY-partitioned columns: every row of a file
      // carries exactly the file's partition value for such a column, so
      // the groups ARE the distinct partition tuples and each group's
      // aggregates answer from its files' manifest stats alone. Sound only
      // when EVERY live file's own spec identity-partitions EVERY group
      // column (a file written before the partition field existed, or under
      // bucket/truncate/day, mixes values and refuses) and no row-level
      // delete exists (it could remove rows from any group).
      val groupCols: Seq[graft.iceberg.SchemaField] =
        agg.groupByExpressions.toSeq.map(field) match {
          case gs if gs.forall(_.isDefined) => gs.map(_.get)
          case _ => return None
        }
      if (groupCols.isEmpty || !noDeletes) return None
      // manifest partition values arrive domain-normalized (int→long,
      // float→double): restore the source column's catalyst form
      def keyToCatalyst(iceType: String): Option[Any => Any] = iceType match {
        case "int" | "date" => Some(v => Int.box(v.asInstanceOf[Long].toInt))
        case "long" | "time" | "timestamp" | "timestamptz" | "timestampz" |
             "timestamp_ns" | "timestamptz_ns" =>
          Some(v => Long.box(v.asInstanceOf[Long]))
        case "string" => Some(v =>
          org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String]))
        case "boolean" => Some(v => Boolean.box(v.asInstanceOf[Boolean]))
        case "float" => Some(v => Float.box(v.asInstanceOf[Double].toFloat))
        case "double" => Some(v => Double.box(v.asInstanceOf[Double]))
        case _ => None // decimal/uuid/fixed/binary: not restorable here
      }
      val converters = groupCols.map(c => keyToCatalyst(c.icebergTypeString)
        .getOrElse(return None))
      val specFieldName = // (specId, sourceId) -> identity partition field name
        scala.collection.mutable.Map.empty[(Int, Int), Option[String]]
      def identityName(specId: Int, sourceId: Int): Option[String] =
        specFieldName.getOrElseUpdate((specId, sourceId),
          tbl.table.metadata.specById(specId).fields.find(pf =>
            pf.transform == "identity" && pf.sourceId == sourceId &&
              pf.sourceIds.isEmpty).map(_.name))
      // raw (normalized-domain) group key per file; None = not derivable
      def keyOf(df: graft.iceberg.Manifests.DataFileInfo): Option[Seq[Any]] = {
        val specId = df.specId.getOrElse(tbl.table.metadata.defaultSpecId)
        val vals = groupCols.map { c =>
          identityName(specId, c.id) match {
            case Some(name) if df.partition.contains(name) =>
              df.partition(name) // may be null: a valid all-null group
            case _ => return None
          }
        }
        Some(vals)
      }
      val keyed = files.map(df => keyOf(df).map(_ -> df).getOrElse(return None))
      val rows = keyed.groupBy(_._1).toSeq.map { case (key, fs) =>
        val groupFiles = fs.map(_._2)
        answerAggs(groupFiles,
          () => Some(groupFiles.map(_.recordCount).sum)) match {
          case Some(cells) =>
            (key.zip(converters).map { case (v, conv) =>
              if (v == null) null else conv(v)
            } ++ cells.map(_._2), cells.map(_._1))
          case None => return None
        }
      }
      val aggFields = rows.headOption.map(_._2).getOrElse(return None)
      val keySchema = groupCols.map(c => StructField(c.name,
        graft.iceberg.IcebergTypes.primitiveToSpark(c.icebergTypeString)))
      Some((StructType(keySchema ++ aggFields), rows.map(_._1)))
    }
  }

  /** LIMIT pushdown, file-granular: `LIMIT n` needs only enough files to
    * cover n rows, so planning truncates the file list at the cumulative
    * manifest record count — a LIMIT 10 over a 100k-file table plans one
    * task. PARTIAL pushdown (Spark keeps its exact limit on top); Catalyst
    * only pushes a limit here when no residual filter sits between, so
    * every scanned row counts toward n. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed: Boolean = true

  /** Filters convertible to [[Pruning.IcePredicate]] drive metadata pruning
    * and parquet row-group pushdown; ALL filters are returned as residuals
    * for exact row-level evaluation by Spark (sound-not-exact contract). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => Pruning.fromSparkFilter(f).isDefined)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    // METADATA columns are materialized by the scan itself (per-file
    // constants / the parquet row index), not read as data: split them off.
    // Spark appends metadata attrs after the data columns, so the split is
    // a clean suffix. A DATA column that happens to share a metadata name
    // shadows it (SupportsMetadataColumns contract) and stays data.
    val dataNames = tbl.schema().fieldNames.toSet
    val names = Set("_partition", "_file", "_pos",
      "_row_id", "_last_updated_sequence_number").diff(dataNames)
    metaCols = required.fields.map(_.name).filter(names)
    val dataFields = required.fields.filterNot(f => names(f.name))
    require(required.fields.map(_.name).endsWith(metaCols),
      "metadata columns must trail the projected data columns")
    requiredSchema = StructType(dataFields)
  }

  override def build(): Scan = {
    aggResult match {
      case Some((schema, aggRows)) =>
        // pushed aggregate: metadata-computed rows (one per group; one
        // total for the global form), no file ever opened
        return new org.apache.spark.sql.connector.read.LocalScan {
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            aggRows.map(org.apache.spark.sql.catalyst.InternalRow.fromSeq).toArray
          override def readSchema(): StructType = schema
          override def description(): String =
            s"graft-iceberg metadata-aggregate ${tbl.table.url}"
        }
      case None => ()
    }
    val pred = pushed.flatMap(Pruning.fromSparkFilter)
      .reduceOption(Pruning.And.apply).getOrElse(Pruning.AlwaysTrue)
    val base =
      if (pred == Pruning.AlwaysTrue) tbl.allLiveFiles
      else tbl.table.prunedFiles(pred)
    // `file-subset`: restrict the scan to named live files (newline-joined
    // morKeys) — the changelog/CDC building block: "the rows of exactly
    // these files, as visible at this snapshot", with field-id resolution
    // and position/equality deletes applied like any other read
    val files0 = Option(options.get("file-subset")) match {
      case Some(subset) =>
        val keys = subset.split('\n').filter(_.nonEmpty).toSet
        base.filter(f => keys(ScanBridge.morKey(tbl.table.resolvePath(f.filePath))))
      case None => base
    }
    // limit truncation is sound only when every scanned row survives to the
    // limit: no pushed predicate (it would be re-applied above the scan,
    // discarding rows) and no row-level deletes (per-file live counts would
    // be below record_count)
    val files = limit match {
      case Some(n) if pred == Pruning.AlwaysTrue &&
          tbl.table.liveDeleteFiles.isEmpty =>
        var remaining = n.toLong
        files0.takeWhile { f =>
          val need = remaining > 0
          remaining -= f.recordCount
          need
        }
      case _ => files0
    }
    val scan = new GraftIcebergScan(tbl.table, files, requiredSchema, pushed,
      options, metaCols, runtimeFilterable = !dmlScan, cdcMode = tbl.cdcMode)
    onBuild(scan)
    scan
  }
}

/** One Iceberg snapshot scan: delegates execution to Spark's vectorized
  * parquet batch reader over the metadata-pruned file list, and reports
  * exact manifest statistics (rows + bytes) to the optimizer. */
final class GraftIcebergScan(
    private val table: IcebergTable,
    private val initialFiles: Seq[graft.iceberg.Manifests.DataFileInfo],
    private val requiredSchema: StructType,
    private val pushedFilters: Array[Filter],
    private val options: CaseInsensitiveStringMap,
    private val metaCols: Seq[String] = Nil,
    /** Runtime (DPP) filtering is enabled for plain reads only: a row-level
      * operation's scan pins the exact file set its rewrite replaces, and a
      * runtime-narrowed read with an unfiltered replacement set would delete
      * files the operation never read. */
    private val runtimeFilterable: Boolean = true,
    /** `stream-mode=cdc`: streaming changelog reads only — see
      * [[GraftIcebergV2Table.isCdc]]. */
    private val cdcMode: Boolean = false)
  extends Scan with Batch with SupportsReportStatistics with SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** Scans built over the same loaded table object with the same file list,
    * read schema, pushed filters, options and modes read the same rows.
    * Spark's exchange and subquery reuse compares `BatchScanExec.batch`
    * (this scan), so without this a self-join of one graft-iceberg
    * DataFrame scans and shuffles the table once per side. Only
    * construction state counts: `BatchScanExec` compares runtime filters
    * itself. */
  override def equals(other: Any): Boolean = other match {
    case o: GraftIcebergScan => (o eq this) || (o.table eq table) &&
      o.cdcMode == cdcMode && o.runtimeFilterable == runtimeFilterable &&
      o.requiredSchema == requiredSchema && o.metaCols == metaCols &&
      o.options == options && o.pushedFilters.sameElements(pushedFilters) &&
      o.initialFiles.corresponds(initialFiles)(_.filePath == _.filePath)
    case _ => false
  }

  override def hashCode(): Int = java.util.Objects.hash(
    Int.box(System.identityHashCode(table)), requiredSchema,
    Int.box(initialFiles.size))

  /** The file list this scan covers — narrowed in place by [[filter]] before
    * partition planning. */
  private var files: Seq[graft.iceberg.Manifests.DataFileInfo] = initialFiles

  /** The metadata-pruned file list this scan covers — the "groups" a
    * copy-on-write row-level operation replaces. */
  def scanFiles: Seq[graft.iceberg.Manifests.DataFileInfo] = files

  /** DYNAMIC PARTITION PRUNING, file-granular: Spark materializes the small
    * side of a join on these attributes, turns its keys into an In filter,
    * and calls [[filter]] before execution — the fact scan then skips every
    * file whose partition tuple / column bounds cannot match. At 100 TB
    * this turns "scan the fact table" into "scan the joined slice".
    * Attributes follow Iceberg's contract: source columns of every
    * partition spec (where skipping is structurally effective), plus the
    * sort-order columns (disjoint per-file bounds make them equally
    * skippable). */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (!runtimeFilterable) Array.empty
    else {
      val specCols = table.metadata.partitionSpecs.flatMap(_.fields)
        .flatMap(pf => table.iceSchema.fields.find(_.id == pf.sourceId)).map(_.name)
      val sortCols = table.sortOrderColumns.map(_._1)
      (specCols ++ sortCols).distinct
        .map(Expressions.column)
        .toArray[org.apache.spark.sql.connector.expressions.NamedReference]
    }

  override def filter(runtimeFilters: Array[Filter]): Unit = {
    val pred = runtimeFilters.flatMap(Pruning.fromSparkFilter)
      .reduceOption(Pruning.And.apply).getOrElse(Pruning.AlwaysTrue)
    if (pred != Pruning.AlwaysTrue) {
      val kept = files.filter(f => table.fileMightMatchOwnSpec(pred, f))
      if (kept.size != files.size) files = kept
    }
  }

  /** STREAMING read: `spark.readStream.format("graft-iceberg")` tails the
    * table's append snapshots — each micro-batch is one incremental range
    * (the same machinery as `IcebergTable.incrementalBetween`), so a table
    * written by the streaming SINK round-trips back out as a stream. */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(metaCols.isEmpty,
      "metadata columns are not supported in streaming reads")
    new GraftIcebergMicroBatchStream(table, requiredSchema, pushedFilters,
      options, cdcMode)
  }

  /** The pushed filters as ONE Iceberg predicate — a row-level operation's
    * conflict-detection filter: a concurrently added file that might match
    * it invalidates the operation's row selection. */
  def scanPredicate: Pruning.IcePredicate =
    pushedFilters.flatMap(Pruning.fromSparkFilter)
      .reduceOption(Pruning.And.apply).getOrElse(Pruning.AlwaysTrue)

  /** `_partition` metadata value: the file's partition tuple in spec field
    * order, rendered `name=value/...` ("" for unpartitioned tables). */
  private def partitionString(f: graft.iceberg.Manifests.DataFileInfo): String =
    table.partitionSpec.fields
      .map(pf => s"${pf.name}=${f.partition.getOrElse(pf.name, null)}")
      .mkString("/")

  /** Live equality-delete files: key-tuple deletes scoped by commit
    * sequence, applied row-level in the wrapping reader. */
  private lazy val eqDeleteFiles: Seq[graft.iceberg.Manifests.DataFileInfo] =
    table.equalityDeleteFiles

  /** Merge-on-read machinery engages for position/equality deletes AND for
    * metadata columns (their per-file values ride the same per-file
    * partitions + projecting reader). When present, the scan pairs each
    * file of Spark's task layout with its delete state, has the parquet
    * reader materialize the per-file row index, and filters in a wrapping
    * reader — deleted rows never leave the scan. */
  private def morMode: Boolean =
    table.positionDeleteFiles.nonEmpty || eqDeleteFiles.nonEmpty || metaCols.nonEmpty

  /** Key columns the equality deletes need that column pruning removed:
    * appended to the read schema (before the row-index column) and
    * projected back out by the MOR reader. Field-id metadata rides along so
    * id-based resolution still applies. */
  private lazy val eqExtraFields: Seq[org.apache.spark.sql.types.StructField] = {
    val neededIds = eqDeleteFiles.flatMap(_.equalityIds).distinct
    val idToField = table.iceSchema.fields.map(f => f.id -> f.name).toMap
    val neededNames = neededIds.flatMap(idToField.get)
    val present = requiredSchema.fieldNames.toSet
    neededNames.filterNot(present)
      .flatMap(n => table.schema.fields.find(_.name == n))
  }

  /** Equality deletes as metadata-only descriptors (path, write-time key
    * names, read ordinals/types, commit sequence): each task loads the key
    * sets itself, JVM-cached. */
  private lazy val eqDeleteSpecs: Array[DeleteLoader.EqDeleteFileSpec] =
    GraftIcebergScan.buildEqSpecs(table, morReadSchema, eqDeleteFiles)

  /** Row-lineage metadata requested? Then the read also asks the parquet
    * delegate for the MATERIALIZED lineage columns (reserved field ids —
    * present only in rewritten/compacted files, null-filled elsewhere):
    * the reader prefers them and falls back to first_row_id + position. */
  private lazy val lineagePhysical: Seq[org.apache.spark.sql.types.StructField] =
    if (!metaCols.contains("_row_id") &&
        !metaCols.contains("_last_updated_sequence_number")) Nil
    else {
      def f(n: String, id: Int) = org.apache.spark.sql.types.StructField(
        n, org.apache.spark.sql.types.LongType, nullable = true,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", id.toLong).build())
      Seq(f("_row_id", graft.iceberg.Manifests.RowIdFieldId),
        f("_last_updated_sequence_number", graft.iceberg.Manifests.LastUpdatedSeqFieldId))
    }

  /** Merge-on-read widens the read schema: required columns, then any
    * equality-delete key columns pruning removed, then materialized
    * lineage columns (when lineage metadata is requested), then the
    * row-index column. The wrapping reader filters and projects the
    * extras out. */
  private lazy val morReadSchema: StructType =
    StructType(requiredSchema.fields ++ eqExtraFields ++ lineagePhysical
      :+ ScanBridge.rowIndexField)

  /** Foreign-written AVRO data files in this scan (same interop contract
    * as ORC: no row-level deletes / metadata columns over them). */
  private def avroFiles: Seq[graft.iceberg.Manifests.DataFileInfo] =
    files.filter(_.fileFormat.equalsIgnoreCase("AVRO"))

  /** Snapshots that imported foreign files (addFiles/importParquetDir stamp
    * `graft-added-files` in their summaries) — the EXPLICIT import marker. */
  private lazy val importSnapshotIds: Set[Long] =
    table.metadata.snapshots
      .filter(_.summary.contains("graft-added-files")).map(_.snapshotId).toSet

  /** FOREIGN parquet: imported via addFiles from an external writer, so the
    * files carry no Iceberg field ids and must resolve columns BY NAME.
    * Primary signal: the file's committing snapshot carries the explicit
    * import marker (correct even when a foreign path happens to contain
    * `/data/`). Fallback for files whose import snapshot has been expired:
    * natively written files always live under the table's `/data/`
    * directory. Foreign files scan in their own batch without the field-id
    * read options; under MOR / keyed layouts they are refused like the
    * other foreign formats. */
  private def isForeignParquet(f: graft.iceberg.Manifests.DataFileInfo): Boolean =
    !f.fileFormat.equalsIgnoreCase("ORC") && !f.fileFormat.equalsIgnoreCase("AVRO") &&
      (f.snapshotId.exists(importSnapshotIds) ||
        !table.resolvePath(f.filePath).contains("/data/"))

  private def foreignParquetFiles: Seq[graft.iceberg.Manifests.DataFileInfo] =
    files.filter(isForeignParquet)

  /** Foreign-written ORC data files in this scan. Row-level deletes and
    * metadata columns need the per-file row index, which only Spark's
    * parquet readers materialize — those scans refuse ORC loudly. */
  private def orcFiles: Seq[graft.iceberg.Manifests.DataFileInfo] =
    files.filter(_.fileFormat.equalsIgnoreCase("ORC"))

  private def requireNoOrcUnderMor(): Unit = if (morMode) {
    val foreign = orcFiles ++ avroFiles ++ foreignParquetFiles
    if (foreign.nonEmpty)
      throw new UnsupportedOperationException(
        s"${foreign.size} foreign data file(s) (ORC/AVRO/imported parquet) " +
          "cannot be scanned under row-level deletes or metadata columns; " +
          "compact the table first")
  }

  /** This scan's Hadoop conf: copied from the session ONCE, when the scan
    * first plans, and shared by its delegate batches, its partitions and
    * (through the parquet factory's broadcast) its merge-on-read delete
    * loads. A session-conf change reaches the next scan, not this one.
    * Carries id-based column resolution, scoped to THIS scan (the session
    * conf stays untouched): ParquetReadSupport reads the flag from the
    * task-side configuration. */
  private lazy val hconf: org.apache.hadoop.conf.Configuration = {
    val c = SparkSession.active.sessionState.newHadoopConf()
    IcebergTable.FieldIdReadOptions.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The delegate batch and the file list it was built over. */
  private var delegateOver: (Seq[graft.iceberg.Manifests.DataFileInfo], Batch) = _

  /** Spark's own batch over the files this scan covers NOW: built on first
    * use, and rebuilt when [[filter]] has narrowed `files` since. Spark
    * forces the batch while planning (before runtime filters apply) and
    * then re-plans the partitions over the narrowed scan, so a batch kept
    * from before the filter would list, and read, every pruned file. */
  private def delegate: Batch = synchronized {
    if (delegateOver == null || !(delegateOver._1 eq files))
      delegateOver = (files, buildDelegate())
    delegateOver._2
  }

  private def buildDelegate(): Batch = {
    val spark = SparkSession.active
    requireNoOrcUnderMor()
    val readSchema = if (!morMode) requiredSchema else morReadSchema
    def paths(fs: Seq[graft.iceberg.Manifests.DataFileInfo]) =
      fs.map(f => (table.resolvePath(f.filePath), f.fileSizeInBytes))
    val nativeParquet = files.filterNot(f =>
      f.fileFormat.equalsIgnoreCase("ORC") || f.fileFormat.equalsIgnoreCase("AVRO") ||
        isForeignParquet(f))
    // imported id-less files resolve by the names CURRENT AT IMPORT TIME
    // (schema.name-mapping.default) so a later rename cannot misresolve
    // them; pushed filters pass through unrenamed — they are residuals
    // re-evaluated exactly by Spark, so a name miss only costs row-group
    // skipping on the (small) foreign batch
    val nameMapping = table.metadata.properties.get(graft.iceberg.NameMapping.Prop)
      .map(graft.iceberg.NameMapping.parse)
    def mapped(st: StructType) = GraftIcebergScan.applyNameMapping(st, nameMapping)
    val batches = Seq(
      nativeParquet -> ((fs: Seq[(String, Long)]) => ScanBridge.parquetScan(
        spark, hconf, fs, table.schema, readSchema, pushedFilters, options).toBatch),
      // foreign parquet has NO field ids: its batch reads under a schema
      // STRIPPED of field-id metadata (plus its own conf with the flag off,
      // copied only when the scan holds such files), so Spark's parquet
      // reader resolves its columns by name — matching how the files'
      // footer stats were harvested at import — instead of refusing
      // id-less files
      foreignParquetFiles -> { (fs: Seq[(String, Long)]) =>
        val plainConf = spark.sessionState.newHadoopConf()
        plainConf.set("spark.sql.parquet.fieldId.read.enabled", "false")
        ScanBridge.parquetScan(spark, plainConf, fs,
          GraftIcebergScan.stripFieldIds(mapped(table.schema)),
          GraftIcebergScan.stripFieldIds(mapped(readSchema)),
          pushedFilters, options).toBatch
      },
      orcFiles -> ((fs: Seq[(String, Long)]) => ScanBridge.orcScan(
        spark, hconf, fs, mapped(table.schema), mapped(readSchema),
        pushedFilters, options).toBatch),
      avroFiles -> ((fs: Seq[(String, Long)]) =>
        org.apache.spark.sql.graftbridge.AvroScanBridge.avroBatch(
          spark, hconf, fs, mapped(readSchema))))
      .collect { case (fs, mk) if fs.nonEmpty => mk(paths(fs)) }
    batches match {
      case Seq(one) => one
      case Seq() => // empty snapshot: an empty parquet scan plans no tasks
        ScanBridge.parquetScan(spark, hconf, Nil,
          table.schema, readSchema, pushedFilters, options).toBatch
      case several => ScanBridge.combinedBatch(several)
    }
  }

  /** Key-grouped layout for STORAGE-PARTITIONED JOINS: when enabled and
    * every partition-spec field is an identity or bucket transform over a
    * key-comparable type, the scan groups files by partition-value tuple
    * and reports [[KeyGroupedPartitioning]]. Two tables partitioned the
    * same way then join with NO shuffle — at 100 TB the difference between
    * a network-wide exchange of both fact tables and a purely local merge
    * per bucket.
    *
    * Grouping caps scan parallelism at the number of partition values, so
    * it must be a deliberate choice, not ambient behavior (and Spark's
    * `spark.sql.sources.v2.bucketing.enabled` defaults to TRUE in 4.x, so
    * it alone cannot be the switch): it also needs the explicit
    * `spark.graft.iceberg.preserveDataGrouping=true` — the same opt-in
    * shape Iceberg's Spark runtime uses for its SPJ support. */
  private lazy val keyedLayout: Option[GraftIcebergScan.KeyedLayout] = {
    val conf = SQLConf.get
    if (morMode || // MOR partitions follow the parquet delegate's layout
        // keyed partitions assume ONE format's (and one conf's) factory
        orcFiles.nonEmpty || avroFiles.nonEmpty || foreignParquetFiles.nonEmpty ||
        !conf.getConf(SQLConf.V2_BUCKETING_ENABLED) ||
        !conf.getConfString("spark.graft.iceberg.preserveDataGrouping", "false").toBoolean)
      None
    else GraftIcebergScan.keyedLayout(table, files)
  }

  override def readSchema(): StructType =
    if (metaCols.isEmpty) requiredSchema
    else StructType(requiredSchema.fields ++ metaCols.map {
      case "_pos" => org.apache.spark.sql.types.StructField("_pos",
        org.apache.spark.sql.types.LongType)
      case n @ ("_row_id" | "_last_updated_sequence_number") =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType)
      case n => org.apache.spark.sql.types.StructField(n, StringType)
    })

  override def toBatch: Batch = {
    if (cdcMode) throw new UnsupportedOperationException(
      "stream-mode=cdc supports streaming reads only; " +
        "use IcebergTable.changelog for a batch changelog")
    this
  }

  override def outputPartitioning(): Partitioning = keyedLayout match {
    case Some(l) => new KeyGroupedPartitioning(
      l.transforms.toArray[org.apache.spark.sql.connector.expressions.Expression],
      l.groups.size)
    case None => new UnknownPartitioning(0)
  }

  override def planInputPartitions(): Array[InputPartition] = keyedLayout match {
    case Some(l) =>
      val spark = SparkSession.active
      // the grouping is fixed when Spark first plans; a runtime filter may
      // narrow `files` after that, so plan only the files it kept (Spark
      // gives the keys left without files empty partitions)
      val kept = files.iterator.map(_.filePath).toSet
      l.groups.zipWithIndex.flatMap { case ((key, group), i) =>
        val live = group.filter(f => kept(f.filePath))
        if (live.isEmpty) None
        else Some(ScanBridge.keyedPartition(spark, hconf, i, key,
          live.map(f => (table.resolvePath(f.filePath), f.fileSizeInBytes))))
      }.toArray
    case None if morMode =>
      requireNoOrcUnderMor()
      // Spark's own layout for these files (small files packed into one
      // task, large ones split), each member paired with its file's state.
      // A file carries the PATHS of the position-delete files that may
      // overlap it: a DV names its file outright; other carriers prune by
      // commit sequence and partition tuple (both provable from manifest
      // metadata alone; anything unprovable is conservatively included,
      // the task-side morKey match keeps correctness). distinct guards the
      // multi-blob-per-puffin case (DV entries share a path): a doubled
      // path would double the merged positions.
      val (dvs, carriers) = table.positionDeleteFiles.partition(_.referencedDataFile.isDefined)
      val dvsByKey = dvs.groupBy(d => ScanBridge.morKey(d.referencedDataFile.get))
      val stateByKey = files.map { f =>
        val path = table.resolvePath(f.filePath)
        val key = ScanBridge.morKey(path)
        val deleteFiles = (dvsByKey.getOrElse(key, Nil) ++
          carriers.filter(d => deleteMayApply(d, f)))
          .map(d => table.resolvePath(d.filePath)).distinct.toArray
        key -> new ScanBridge.MorFile(table.dataSequenceOf(f),
          metaCols.map {
            case "_partition" => ("_partition", partitionString(f))
            case "_file" => ("_file", path)
            case "_pos" => ("_pos", null: String)
            // ROW LINEAGE: first_row_id constant per file (null when the
            // file predates lineage) — the reader adds the row index
            case "_row_id" =>
              ("_row_id", f.firstRowId.map(_.toString).orNull)
            case "_last_updated_sequence_number" =>
              ("_last_updated_sequence_number", table.dataSequenceOf(f).toString)
          },
          posDeleteFiles = deleteFiles)
      }.toMap
      ScanBridge.morPartitions(delegate.planInputPartitions(), stateByKey)
    case None => delegate.planInputPartitions()
  }

  /** Can position-delete file `d` (not a DV) hold deletes against data
    * file `f`? Provable non-overlap (from manifest metadata alone) prunes;
    * anything uncertain is included — the task-side morKey match keeps
    * correctness. Sequence: a delete committed at sequence S can only reference paths
    * that existed at S, and data-file names are unique, so `dataSeq(f) >
    * dataSeq(d)` proves non-overlap. Partition: a partition-scoped delete
    * (fully non-null tuple under the SAME spec) applies only to its tuple;
    * a delete file with any null partition value spans partitions (the
    * writer's cross-partition delete files carry a null tuple) and is
    * never pruned. */
  private def deleteMayApply(d: graft.iceberg.Manifests.DataFileInfo,
      f: graft.iceberg.Manifests.DataFileInfo): Boolean = {
    val seqOk = table.dataSequenceOf(d) >= table.dataSequenceOf(f)
    val partOk = d.partition.isEmpty || d.partition.values.exists(_ == null) ||
      d.specId != f.specId || partitionTupleEq(d.partition, f.partition)
    seqOk && partOk
  }

  /** Partition-tuple equality that compares byte-array values by CONTENT
    * (a false negative here would wrongly prune an applicable delete). */
  private def partitionTupleEq(a: Map[String, Any], b: Map[String, Any]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, va) =>
      (va, b(k)) match {
        case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
        case (x, y) => x == y
      }
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = delegate.createReaderFactory()
    if (morMode)
      // position AND equality deletes stay COLUMNAR (per-batch selection
      // view; the eq-key probe computes the selection per row but copies
      // no vectors) — only metadata columns (per-row projection of
      // constants) need the row-based readers. The delete loads read
      // through the conf the parquet factory already broadcasts (MOR scans
      // refuse foreign formats, so the delegate is always parquet)
      ScanBridge.morReaderFactory(inner, requiredSchema, morReadSchema.length,
        columnarCapable = metaCols.isEmpty, conf = ScanBridge.broadcastConfOf(inner),
        eqSpecs = eqDeleteSpecs, lineageCols = lineagePhysical.length)
    else if (keyedLayout.isDefined) ScanBridge.unwrapKeyedFactory(inner)
    else inner
  }

  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = files.map(_.fileSizeInBytes).sum
    // position deletes each remove exactly one live row → exact; equality
    // deletes remove 0..n rows per key → the key count is the best
    // planning-time estimate (never below 0)
    private val rows = files.map(_.recordCount).sum -
      table.positionDeleteFiles.map(_.recordCount).sum -
      table.equalityDeleteFiles.map(_.recordCount).sum
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
    override def numRows(): util.OptionalLong = util.OptionalLong.of(math.max(0L, rows))
    // COLUMN statistics for the CBO: NDV from the snapshot's registered
    // theta-sketch statistics file (zero file I/O — the `ndv` blob
    // property), null counts summed from manifest metadata. Join
    // reordering and broadcast-side choice need exactly these; without
    // them Spark falls back to size-only heuristics.
    override def columnStats(): util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val snapId =
        if (table.metadata.currentSnapshotId >= 0) table.currentSnapshot.snapshotId
        else return java.util.Collections.emptyMap()
      // nearest REGISTERED entry on the parent chain, not just the exact
      // snapshot: one append after a stats run must not blind the CBO —
      // bounded staleness beats size-only heuristics (Iceberg-java's rule)
      val ndvs = graft.iceberg.TableStatistics.ndvForNearestAncestor(table, snapId)
      val nulls: Map[Int, Long] = files.flatMap(_.nullValueCounts.toSeq)
        .groupBy(_._1).map { case (id, vs) => id -> vs.map(_._2).sum }
      // MIN/MAX for the CBO's range-filter selectivity, aggregated from
      // manifest bounds over THIS scan's (pruned) file set — zero data
      // I/O, catalyst-internal form (see [[GraftIcebergScan.manifestMinMax]]).
      // Per-field bound decode is O(files) DRIVER work at plan time: fine
      // for any table the driver already plans file-by-file, but capped so
      // a near-limit scan (millions of live files) does not pay millions
      // of byte-buffer decodes per column for an ESTIMATE — ndv/null
      // stats (cheap sums) still serve above the cap
      val minMaxFileCap = SparkSession.active.conf
        .get("spark.graft.iceberg.statsMinMaxFileLimit", "100000").toInt
      def minMax(f: graft.iceberg.SchemaField): Option[(Any, Any)] =
        if (files.size > minMaxFileCap) None
        else GraftIcebergScan.manifestMinMax(files, f)
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      table.iceSchema.fields.foreach { f =>
        val ndv = ndvs.get(f.id)
        val nc = nulls.get(f.id)
        val mm = scala.util.Try(minMax(f)).toOption.flatten
        if (ndv.isDefined || nc.isDefined || mm.isDefined) {
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): util.OptionalLong =
                ndv.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
              override def nullCount(): util.OptionalLong =
                nc.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
              override def min(): util.Optional[Object] =
                mm.map(p => util.Optional.of(p._1.asInstanceOf[Object]))
                  .getOrElse(util.Optional.empty())
              override def max(): util.Optional[Object] =
                mm.map(p => util.Optional.of(p._2.asInstanceOf[Object]))
                  .getOrElse(util.Optional.empty())
            })
        }
      }
      out
    }
  }

  override def description(): String = {
    val filterStr = pushedFilters.mkString(", ")
    s"graft-iceberg ${table.url} snapshot=${table.currentSnapshot.snapshotId} " +
      s"files=${files.size}, PushedFilters: [$filterStr]"
  }
}

object GraftIcebergScan {

  /** Resolve the key column names of one equality-delete file AS WRITTEN:
    * from metadata (the adding snapshot's schema names each equality id —
    * zero parquet footers opened), falling back to a footer probe for
    * files whose snapshot/schema is unresolvable. */
  private def eqWriteNames(table: IcebergTable, ids: Seq[Int],
      f: graft.iceberg.Manifests.DataFileInfo,
      hconf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    def footerNames(p: String): Seq[String] = {
      GraftIcebergSource.footerProbes.incrementAndGet()
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), hconf))
      try {
        val s = r.getFooter.getFileMetaData.getSchema
        (0 until s.getFieldCount).map(s.getFieldName)
      } finally r.close()
    }
    val fromMeta = for {
      snapId <- f.snapshotId
      snap <- table.metadata.snapshotsById.get(snapId)
      sch <- scala.util.Try(table.metadata.schemaFor(snap)).toOption
      resolved <- {
        val r = ids.map(id => sch.fields.find(_.id == id).map(_.name))
        if (r.forall(_.isDefined)) Some(r.map(_.get)) else None
      }
    } yield resolved
    fromMeta.getOrElse(
      footerNames(table.resolvePath(f.filePath)).take(ids.length))
  }

  /** Equality-delete planning: one metadata-only descriptor per delete
    * FILE — tasks load the key sets themselves through [[DeleteLoader]].
    * Key columns live in the delete files under the names current at
    * WRITE time; [[eqWriteNames]] resolves them from metadata, so planning
    * a CDC table with thousands of delete files opens no parquet footer on
    * the driver. Key ordinals/types resolve against `read` (the delegate's
    * read schema). */
  private[sources] def buildEqSpecs(table: IcebergTable, read: StructType,
      eqDeleteFiles: Seq[graft.iceberg.Manifests.DataFileInfo])
      : Array[DeleteLoader.EqDeleteFileSpec] = {
    val idToName = table.iceSchema.fields.map(f => f.id -> f.name).toMap
    val nameToType = table.schema.fields.map(f => f.name -> f.dataType).toMap
    eqDeleteFiles.map { f =>
      val ids = f.equalityIds
      val names = ids.map(id => idToName.getOrElse(id,
        throw new IllegalStateException(s"equality id $id not in schema")))
      DeleteLoader.EqDeleteFileSpec(
        table.resolvePath(f.filePath),
        eqWriteNames(table, ids, f, table.conf).toArray,
        names.map(read.fieldIndex).toArray,
        names.map(nameToType).toArray,
        table.dataSequenceOf(f))
    }.toArray
  }

  /** A column's exact (min, max) over `files` from MANIFEST BOUNDS alone,
    * in CATALYST-INTERNAL form for the column's type. None unless every
    * value-holding file carries both bounds (a partial set would narrow
    * the domain) and, for float/double, is PROVEN NaN-free (the pruning
    * tier's rule — NaN-polluted parquet stats drop min/max, and a foreign
    * writer's claim is not trusted). Orderable fixed-domain types only —
    * string/binary bounds may be writer-truncated, so no exact claim.
    * Shared by the CBO column statistics and DSv2 aggregate pushdown. */
  private[sources] def manifestMinMax(
      files: Seq[graft.iceberg.Manifests.DataFileInfo],
      f: graft.iceberg.SchemaField): Option[(Any, Any)] = {
    def catalystBound(v: Any, iceType: String): Option[Any] = iceType match {
      case "int" => Some(Int.box(v.asInstanceOf[Long].toInt))
      case "date" => Some(Int.box(v.asInstanceOf[Long].toInt))
      case "long" | "time" | "timestamp" | "timestamptz" | "timestampz" |
           "timestamp_ns" | "timestamptz_ns" =>
        Some(Long.box(v.asInstanceOf[Long]))
      case "float" => Some(Float.box(v.asInstanceOf[Double].toFloat))
      case "double" => Some(Double.box(v.asInstanceOf[Double]))
      case "boolean" => Some(Boolean.box(v.asInstanceOf[Boolean]))
      case t if t.startsWith("decimal(") =>
        Some(org.apache.spark.sql.types.Decimal(v.asInstanceOf[BigDecimal]))
      case _ => None
    }
    // Absence of stats means UNKNOWN, not empty: an imported ORC/Avro
    // file registers with valueCounts = Map.empty yet holds real rows —
    // if it held the extremum, excluding it would answer a narrower
    // min/max than the data's, with a LocalTableScan plan that never
    // touches the file to notice. A row-bearing file with no value count
    // for the column therefore refuses the whole claim.
    if (files.exists(df => df.recordCount > 0L &&
        !df.valueCounts.contains(f.id))) return None
    val withValues = files.filter(df =>
      df.valueCounts.get(f.id).exists(vc =>
        vc > df.nullValueCounts.getOrElse(f.id, 0L)))
    if (withValues.isEmpty) return None
    if (!withValues.forall(df => df.lowerBounds.contains(f.id) &&
        df.upperBounds.contains(f.id))) return None
    val t = f.icebergTypeString
    if ((t == "float" || t == "double") &&
        !withValues.forall(_.nanValueCounts.get(f.id).contains(0L)))
      return None
    val los = withValues.map(df =>
      graft.iceberg.IcebergTypes.decodeBound(df.lowerBounds(f.id), t))
    val his = withValues.map(df =>
      graft.iceberg.IcebergTypes.decodeBound(df.upperBounds(f.id), t))
    val lo = los.reduce((a, b) =>
      if (graft.iceberg.IcebergTypes.compare(a, b).exists(_ <= 0)) a else b)
    val hi = his.reduce((a, b) =>
      if (graft.iceberg.IcebergTypes.compare(a, b).exists(_ >= 0)) a else b)
    for (cl <- catalystBound(lo, t); ch <- catalystBound(hi, t))
      yield (cl, ch)
  }

  /** Drop ALL field metadata (incl. parquet.field.id) recursively — the
    * foreign-parquet batch must present an id-free schema so the reader
    * resolves by name rather than refusing id-less files. */
  private[sources] def stripFieldIds(st: StructType): StructType =
    StructType(st.fields.map(f =>
      StructField(f.name, stripType(f.dataType), f.nullable, Metadata.empty)))

  /** Rename a foreign batch's top-level fields to the names the imported
    * id-less files were WRITTEN under (`schema.name-mapping.default`,
    * keyed by field id): after a rename, the files still resolve; fields
    * added after the import map to a reserved absent name and read null.
    * Output rows bind positionally, so the current schema's names are
    * untouched downstream. No mapping (legacy import) → names pass
    * through, today's behavior. */
  private[sources] def applyNameMapping(st: StructType,
      mapping: Option[Map[Int, Seq[String]]]): StructType = mapping match {
    case None => st
    case Some(m) => StructType(st.fields.map { f =>
      if (f.metadata.contains("parquet.field.id"))
        f.copy(name = graft.iceberg.NameMapping.resolvedName(
          m, f.metadata.getLong("parquet.field.id").toInt))
      else f
    })
  }

  private def stripType(dt: DataType): DataType = dt match {
    case s: StructType => stripFieldIds(s)
    case a: ArrayType => a.copy(elementType = stripType(a.elementType))
    case m: MapType =>
      m.copy(keyType = stripType(m.keyType), valueType = stripType(m.valueType))
    case other => other
  }

  /** The reported transforms plus files grouped by partition-value tuple;
    * key rows are catalyst-typed so both join sides compare equal. */
  final case class KeyedLayout(
      transforms: Seq[Transform],
      groups: Seq[(InternalRow, Seq[graft.iceberg.Manifests.DataFileInfo])])

  private val BucketRe = """bucket\[(\d+)\]""".r

  /** None when any spec field is not identity/bucket, a source column is
    * missing, a file lacks a partition value (mixed historical specs), or a
    * value type is not key-comparable — the scan then falls back to plain
    * sized partitions, which is always correct. */
  def keyedLayout(table: IcebergTable,
      files: Seq[graft.iceberg.Manifests.DataFileInfo]): Option[KeyedLayout] = {
    val spec = table.partitionSpec
    if (spec.fields.isEmpty || files.isEmpty) return None

    val fields: Seq[(Transform, DataType, String)] = spec.fields.map { pf =>
      val srcName = table.iceSchema.fields.find(_.id == pf.sourceId)
        .map(_.name).getOrElse(return None)
      val sparkType = table.schema.find(_.name == srcName)
        .map(_.dataType).getOrElse(return None)
      pf.transform match {
        case "identity" => sparkType match {
          case IntegerType | LongType | StringType | DateType | BooleanType |
               TimestampType => (Expressions.identity(srcName), sparkType, pf.name)
          case _ => return None
        }
        case BucketRe(n) => (Expressions.bucket(n.toInt, srcName), IntegerType, pf.name)
        case _ => return None
      }
    }

    // manifest decode normalizes Int→Long / Float→Double; convert back to
    // the catalyst representation of the declared key type
    def keyValue(v: Any, dt: DataType): Option[Any] = (v, dt) match {
      case (null, _) => Some(null)
      case (l: Long, LongType | TimestampType) => Some(l)
      case (l: Long, IntegerType | DateType) => Some(Int.box(l.toInt))
      case (i: Int, IntegerType | DateType) => Some(Int.box(i))
      case (i: Int, LongType | TimestampType) => Some(Long.box(i.toLong))
      case (s: String, StringType) => Some(UTF8String.fromString(s))
      case (b: Boolean, BooleanType) => Some(b)
      case _ => None
    }

    val groups = mutable.LinkedHashMap
      .empty[Seq[Any], mutable.ArrayBuffer[graft.iceberg.Manifests.DataFileInfo]]
    for (f <- files) {
      val key = fields.map { case (_, dt, pname) =>
        f.partition.get(pname) match {
          case Some(v) => keyValue(v, dt).getOrElse(return None)
          case None => return None // written under a different spec
        }
      }
      groups.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += f
    }
    Some(KeyedLayout(fields.map(_._1),
      groups.toSeq.map { case (k, fs) =>
        (new GenericInternalRow(k.toArray): InternalRow, fs.toSeq)
      }))
  }
}

/** Stream offset: the last PROCESSED snapshot id (-1 = before the table's
  * first snapshot, i.e. the whole table is still pending). */
final case class SnapshotOffset(snapshotId: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId}"""
}

object SnapshotOffset {
  def from(json: String): SnapshotOffset =
    SnapshotOffset("""-?\d+""".r.findFirstIn(json).get.toLong)
}

/** Micro-batch STREAMING SOURCE over an Iceberg table: tails append
  * snapshots, one incremental range per micro-batch.
  *
  *  - Offsets are snapshot ids — exactly-once via the streaming engine's
  *    offset log; a restarted query resumes from its checkpoint.
  *  - By default the stream starts at the CURRENT snapshot (tail semantics:
  *    only new appends flow). `stream-from-earliest=true` makes the first
  *    batch carry the whole table; `starting-snapshot-id` pins an explicit
  *    (exclusive) start.
  *  - In the default (append-tail) mode a non-append snapshot in a batch's
  *    range (overwrite, delete, row deltas) REFUSES loudly — an append tail
  *    cannot express row removal; compaction (`replace`) is content-neutral
  *    and skipped, matching `IcebergTable.incrementalBetween`. Rows stream
  *    AS APPENDED (later row-level deletes are not applied).
  *  - `stream-mode=cdc` lifts the refusal: every micro-batch carries the
  *    CHANGELOG of its snapshot range — `_change_type`
  *    ('insert' | 'delete') and `_commit_snapshot_id` columns appended,
  *    delete commits (whole-file, position, equality) emitting the rows
  *    they removed, matching `IcebergTable.changelog` batch semantics.
  *
  * Each batch plans a normal vectorized parquet scan over the range's
  * files, so projection pushdown works; residual filters re-apply above
  * the scan as in batch reads. */
final class GraftIcebergMicroBatchStream(
    table: IcebergTable,
    readSchema: StructType,
    pushedFilters: Array[Filter],
    options: CaseInsensitiveStringMap,
    cdcMode: Boolean = false)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** The newest table state this stream loaded. */
  @volatile private var head: IcebergTable = _

  private def freshTable(): IcebergTable = {
    val t = IcebergTable.load(SparkSession.active, table.url,
      if (table.originalUrl.nonEmpty) Some(table.originalUrl) else None)
    head = t
    t
  }

  /** A loaded state that holds snapshot `e`: the one [[latestOffset]] just
    * loaded when it admitted `e` (snapshots are immutable, so a newer state
    * plans a range exactly as the state at `e` would), else a fresh load —
    * after a restart Spark plans the logged batch before any trigger. */
  private def tableWith(e: Long): IcebergTable = {
    val h = head
    if (h != null && h.snapshots.contains(e)) h else freshTable()
  }

  /** This stream's Hadoop conf, with field-id reads on: copied from the
    * session once, when the stream first plans, and shared by every
    * micro-batch's partitions and reader factory (whose parquet broadcast
    * the CDC delete loads read through). */
  private lazy val hconf: org.apache.hadoop.conf.Configuration = {
    val c = SparkSession.active.sessionState.newHadoopConf()
    IcebergTable.FieldIdReadOptions.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The last planned range and its partitions: Spark plans one
    * micro-batch several times (each `planInputPartitions` call of a batch
    * asks for the same range), and planning reloads nothing after the
    * first. */
  private var planned: ((Long, Long), Array[InputPartition]) = _

  /** ADMISSION CONTROL: `max-snapshots-per-trigger` caps how many snapshots
    * one micro-batch may cover. Without a cap, a long backlog (stream
    * started with `stream-from-earliest` on a month of commits) lands as
    * ONE giant batch — bounded batches keep executor memory and commit
    * latency flat while the stream catches up. */
  private val maxSnapshotsPerTrigger: Option[Int] =
    Option(options.get("max-snapshots-per-trigger")).map(_.toInt)

  /** Row-based admission control: a batch stops at the first snapshot whose
    * cumulative `added-records` crosses the bound (at least one snapshot
    * always admits, so the stream advances). Composes with
    * `max-snapshots-per-trigger` — the tighter cap wins. */
  private val maxRowsPerTrigger: Option[Long] =
    Option(options.get("max-rows-per-trigger")).map(_.toLong)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxSnapshotsPerTrigger.map(n => ReadLimit.maxFiles(n)).toSeq ++
      maxRowsPerTrigger.map(n => ReadLimit.maxRows(n)).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case several => ReadLimit.compositeLimit(several.toArray)
    }
  }

  /** The pending snapshots (start, head], oldest first. A checkpointed
    * start snapshot that has been EXPIRED from metadata refuses loudly —
    * silently treating the whole reachable chain as pending would replay
    * already-processed snapshots (and in CDC mode re-emit the entire table
    * as inserts). startId = -1 is the explicit from-the-beginning marker. */
  private def pendingChain(head: IcebergTable, headId: Long,
      startId: Long): List[graft.iceberg.Snapshot] = {
    var chain = List(head.snapshots(headId))
    while (chain.head.snapshotId != startId &&
        chain.head.parentSnapshotId.exists(head.snapshots.contains))
      chain = head.snapshots(chain.head.parentSnapshotId.get) :: chain
    if (chain.head.snapshotId == startId) chain.tail
    else if (startId < 0) chain
    else throw new IllegalStateException(
      s"checkpointed start snapshot $startId is no longer in table metadata " +
        "(expired?); restart the stream from an explicit starting-snapshot-id " +
        "or stream-from-earliest")
  }

  /** Last wall-clock time this stream ADMITTED a batch — the reference
    * point for ReadMinRows.maxTriggerDelayMs (a min-rows gate must not
    * defer forever; the engine contract gives it a time escape hatch). */
  @volatile private var lastAdmittedMs: Long = System.currentTimeMillis()

  /** Honors the ENGINE-SUPPLIED ReadLimit (Trigger.AvailableNow composes
    * max-files/max-rows limits): max-files caps the snapshot count (same
    * unit as `getDefaultReadLimit`), max-rows caps the batch at the first
    * snapshot whose cumulative `added-records` crosses the bound (always
    * admitting at least one so the stream advances), min-rows defers the
    * batch while fewer rows are pending UNTIL its maxTriggerDelayMs has
    * elapsed since the last admitted batch. Composite limits take the
    * tightest cap. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxFiles, ReadMaxRows, ReadMinRows}
    val head = freshTable()
    val headId = head.metadata.currentSnapshotId
    val startId = start.asInstanceOf[SnapshotOffset].snapshotId
    if (headId < 0 || startId == headId) return SnapshotOffset(headId)
    val pending = pendingChain(head, headId, startId)
    def addedRows(s: graft.iceberg.Snapshot): Long =
      s.summary.get("added-records").flatMap(_.toLongOption).getOrElse(0L)
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case other => Seq(other)
    }
    val limits = flatten(limit)
    // min-rows admission gate: not enough pending rows → no batch yet,
    // unless the limit's max trigger delay has already elapsed (then the
    // undersized batch fires anyway so the gate cannot starve the stream)
    val pendingRows = pending.map(addedRows).sum
    if (limits.exists {
      case m: ReadMinRows => pendingRows < m.minRows &&
        System.currentTimeMillis() - lastAdmittedMs < m.maxTriggerDelayMs
      case _ => false
    }) return SnapshotOffset(startId)
    lastAdmittedMs = System.currentTimeMillis()
    val caps = limits.map {
      case _: ReadAllAvailable => Int.MaxValue
      case f: ReadMaxFiles => f.maxFiles()
      case r: ReadMaxRows =>
        var cum = 0L
        val n = pending.segmentLength { s => cum += addedRows(s); cum <= r.maxRows() }
        math.max(1, n)
      case _ => Int.MaxValue
    }
    val cap = math.max(1, caps.min)
    SnapshotOffset(pending.take(cap).lastOption.map(_.snapshotId).getOrElse(headId))
  }

  private lazy val initial: Long =
    Option(options.get("starting-snapshot-id")).map(_.toLong).getOrElse {
      if (Option(options.get("stream-from-earliest")).exists(_.toBoolean)) -1L
      else freshTable().metadata.currentSnapshotId
    }

  override def initialOffset(): Offset = SnapshotOffset(initial)

  override def latestOffset(): Offset =
    SnapshotOffset(freshTable().metadata.currentSnapshotId)

  override def deserializeOffset(json: String): Offset = SnapshotOffset.from(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  // ------------------------------------------------------------ CDC mode

  private val cdcNames = GraftIcebergV2Table.CdcColumns.map(_.name)

  /** The projected DATA columns (CDC columns excluded) — what the
    * projecting reader emits before appending the change annotations. */
  private lazy val cdcDataSchema: StructType = {
    require(readSchema.fieldNames.endsWith(
      readSchema.fieldNames.filter(cdcNames.contains)),
      "CDC columns must trail the projected data columns")
    StructType(readSchema.fields.filterNot(f => cdcNames.contains(f.name)))
  }

  /** CDC reads load the FULL table schema (+ row index): equality-delete
    * keys may need any column, and the reader factory is built once per
    * stream while key sets change per batch. */
  private lazy val cdcFullSchema: StructType = StructType(table.schema.fields)

  /** The trailing CDC columns actually requested, as metaValue templates. */
  private def cdcMetaValues(changeType: String, snapshotId: Long,
      commitTsMs: Long): Seq[(String, String)] =
    readSchema.fieldNames.filter(cdcNames.contains).toSeq.map {
      case "_change_type" => ("_change_type", changeType)
      case "_commit_snapshot_id" => ("_commit_snapshot_id", snapshotId.toString)
      case "_commit_timestamp" => // micros, the reader's Literal unit
        ("_commit_timestamp", (commitTsMs * 1000L).toString)
    }

  /** Position-delete state for one delete-file set: only the carrier
    * PATHS ship; each task loads its own positions via the per-JVM
    * [[DeleteLoader]] cache, so the stream's driver footprint stays
    * O(files), never O(deleted rows). */
  private final case class PosDeletes(files: Array[String],
      /** morKey of the SINGLE data file each delete file provably
        * references (a DV's referenced file, or manifest `file_path`
        * bounds with min == max, the Iceberg referenced-data-file
        * property), null when unproven. When every delete file is proven,
        * [[mightHave]] answers exactly from metadata — no fan-out, no
        * delete-parquet open. */
      referenced: Array[String]) {
    /** Files to ship, or null when there are none. */
    def taskFiles: Array[String] = if (files.isEmpty) null else files
    /** O(1) probe state, built ONCE: [[mightHave]] runs per LIVE data file
      * during planning, so an Array.contains there would make CDC planning
      * O(live × deletes) — a heavy-churn commit on a wide table would
      * quadratically stall the driver. Set + flag keep it
      * O(live + deletes). */
    private val refSet: Set[String] = referenced.toSet
    private val allProven: Boolean = !refSet.contains(null)
    /** May this data-file key have deleted positions? Exact when every
      * delete file carries its referenced file, else conservatively yes
      * (the task's load resolves it to an empty selection). */
    def mightHave(k: String): Boolean = !allProven || refSet.contains(k)
  }

  private def loadPos(delFiles: Seq[graft.iceberg.Manifests.DataFileInfo],
      t: IcebergTable): PosDeletes = {
    // distinct: a multi-blob DV commit lists the SAME puffin path once per
    // blob entry — shipping it twice would make the task-side merge
    // duplicate every position (and CDC selections double-emit)
    val paths = delFiles.map(f => t.resolvePath(f.filePath)).distinct.toArray
    val refs = delFiles.map { f =>
      // v3 DELETION VECTORS carry their referenced file first-class;
      // parquet carriers fall back to the recorded file_path bounds
      f.referencedDataFile.map(ScanBridge.morKey).getOrElse {
        (f.lowerBounds.get(graft.iceberg.Manifests.PosDeletePathFieldId),
         f.upperBounds.get(graft.iceberg.Manifests.PosDeletePathFieldId)) match {
          case (Some(lo), Some(hi)) if java.util.Arrays.equals(lo, hi) =>
            ScanBridge.morKey(
              new String(lo, java.nio.charset.StandardCharsets.UTF_8))
          case _ => null
        }
      }
    }.toArray
    PosDeletes(paths, refs)
  }

  /** Equality-delete state: metadata-only SPECS; each task loads its own
    * key sets ([[DeleteLoader.eqGroupFor]], per-JVM cached). */
  private def loadEq(t: IcebergTable,
      delFiles: Seq[graft.iceberg.Manifests.DataFileInfo])
      : Array[DeleteLoader.EqDeleteFileSpec] =
    GraftIcebergScan.buildEqSpecs(t, cdcFullSchema, delFiles)

  /** CHANGELOG partition planning: per snapshot in (start, end], inserts
    * from added files, deletes from removed files (parent-visible), and
    * deletes for the rows newly targeted by position/equality delete files
    * — each partition carries its own visibility (exclusions) and
    * selection, so one batch mixes snapshots safely. Cost is proportional
    * to the CHANGED files of the range, never the table. */
  private def planCdcPartitions(s: Long, e: Long, t: IcebergTable): Array[InputPartition] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var idx = 0
    var selCandidates = 0L
    var selPartitions = 0L
    def add(f: graft.iceberg.Manifests.DataFileInfo, changeType: String,
        sid: Long, posFiles: Array[String] = null,
        selFiles: Array[String] = null,
        selMinus: Array[String] = null,
        ownEqSpecs: Array[DeleteLoader.EqDeleteFileSpec] = null,
        selEqSpecs: Array[DeleteLoader.EqDeleteFileSpec] = null): Unit = {
      require(f.fileFormat.equalsIgnoreCase("PARQUET") &&
          t.resolvePath(f.filePath).contains("/data/"),
        "CDC streaming supports natively written parquet data files only; " +
          "compact the table to fold foreign ORC/AVRO/imported-parquet files first")
      parts += ScanBridge.cdcPartition(hconf, idx, t.resolvePath(f.filePath),
        f.fileSizeInBytes, t.dataSequenceOf(f),
        cdcMetaValues(changeType, sid, t.snapshots(sid).timestampMs),
        posFiles, selFiles, selMinus, ownEqSpecs, selEqSpecs)
      idx += 1
    }
    def key(f: graft.iceberg.Manifests.DataFileInfo): String =
      ScanBridge.morKey(t.resolvePath(f.filePath))

    if (s < 0) {
      // catch-up batch: the whole table's live rows at `e` as inserts
      val view = t.atSnapshot(e)
      val pos = loadPos(view.positionDeleteFiles, t)
      val eq = loadEq(view, view.equalityDeleteFiles)
      view.liveFiles().foreach { f =>
        add(f, "insert", e, posFiles = pos.taskFiles, ownEqSpecs = eq)
      }
      return parts.toArray
    }

    // memoized per-parent visibility (a long range revisits parents)
    val posCache = scala.collection.mutable.Map.empty[Long, PosDeletes]
    val eqCache = scala.collection.mutable.Map.empty[Long, Array[DeleteLoader.EqDeleteFileSpec]]
    def parentPos(p: IcebergTable): PosDeletes =
      posCache.getOrElseUpdate(p.currentSnapshot.snapshotId,
        loadPos(p.positionDeleteFiles, t))
    def parentEq(p: IcebergTable): Array[DeleteLoader.EqDeleteFileSpec] =
      eqCache.getOrElseUpdate(p.currentSnapshot.snapshotId,
        loadEq(p, p.equalityDeleteFiles))

    pendingChain(t, e, s).foreach { snap =>
      t.atSnapshot(snap.snapshotId) // validates the id
      t.snapshotFileChanges(snap).foreach { ch =>
        val sid = snap.snapshotId
        val newPos = loadPos(ch.addedPosDeletes, t)
        // inserts: rows of added files as at THIS snapshot (same-commit
        // position deletes excluded; same-sequence eq deletes are exempt)
        ch.added.foreach { f =>
          add(f, "insert", sid, posFiles = newPos.taskFiles)
        }
        ch.parent.foreach { p =>
          // whole-file removals: every parent-visible row is a delete
          ch.removed.foreach { f =>
            add(f, "delete", sid, posFiles = parentPos(p).taskFiles,
              ownEqSpecs = parentEq(p))
          }
          // newly position-deleted rows in surviving files: the TASK
          // computes new-minus-parent positions for its own file (an empty
          // selection just emits nothing); referenced-file bounds prune
          // files no delete file can touch — mightHave answers from
          // metadata, so one churn commit does not fan a task out per live
          // file
          if (ch.addedPosDeletes.nonEmpty) {
            val pp = parentPos(p)
            ch.parentFiles.foreach { f =>
              if (ch.currentPaths(t.resolvePath(f.filePath))) {
                selCandidates += 1
                if (newPos.mightHave(key(f))) {
                  selPartitions += 1
                  add(f, "delete", sid, selFiles = newPos.files,
                    selMinus = pp.taskFiles, ownEqSpecs = parentEq(p))
                }
              }
            }
          }
          // newly equality-deleted rows in strictly-older surviving files
          ch.addedEqDeletes.foreach { ed =>
            val edSeq = t.dataSequenceOf(ed)
            val sel = loadEq(ch.current, Seq(ed))
            ch.parentFiles.foreach { f =>
              if (ch.currentPaths(t.resolvePath(f.filePath)) &&
                  t.dataSequenceOf(f) < edSeq)
                add(f, "delete", sid, posFiles = parentPos(p).taskFiles,
                  ownEqSpecs = parentEq(p), selEqSpecs = sel)
            }
          }
        }
      }
    }
    if (selCandidates > 0) {
      GraftIcebergSource.cdcSelectionCandidates.set(selCandidates)
      GraftIcebergSource.cdcSelectionPartitions.set(selPartitions)
    }
    parts.toArray
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotOffset].snapshotId
    val e = end.asInstanceOf[SnapshotOffset].snapshotId
    if (e < 0 || s == e) return Array.empty
    val last = planned
    if (last != null && last._1 == (s, e)) return last._2
    val t = tableWith(e)
    val parts = if (cdcMode) planCdcPartitions(s, e, t) else planAppends(s, e, t)
    planned = ((s, e), parts)
    parts
  }

  /** Append-tail partitions of (s, e]: a plain parquet scan over the files
    * the range appended. */
  private def planAppends(s: Long, e: Long, t: IcebergTable): Array[InputPartition] = {
    val files =
      if (s < 0) {
        // the catch-up batch reads whole files; live row-level deletes
        // would silently resurrect deleted rows — refuse loudly (the
        // incremental path already refuses delete snapshots IN range)
        val view = t.atSnapshot(e)
        require(view.liveDeleteFiles.isEmpty,
          "stream-from-earliest on a table with live row-level deletes " +
            "would resurrect deleted rows; compact the table first")
        view.liveFiles()
      } else t.incrementalBetween(s, e).liveFiles()
    require(files.forall(f => f.fileFormat.equalsIgnoreCase("PARQUET") &&
        t.resolvePath(f.filePath).contains("/data/")),
      "streaming reads support natively written parquet data files only; " +
        "compact the table to fold foreign ORC/AVRO/imported-parquet files first")
    ScanBridge.parquetScan(SparkSession.active, hconf,
      files.map(f => (t.resolvePath(f.filePath), f.fileSizeInBytes)),
      t.schema, readSchema, pushedFilters, options).toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // the parquet reader factory is independent of the planned file list:
    // an empty template scan yields the factory every batch reuses
    if (!cdcMode)
      return ScanBridge.parquetScan(spark, hconf, Nil, table.schema, readSchema,
        pushedFilters, options).toBatch.createReaderFactory()
    // CDC: read the full schema + row index; project the requested data
    // columns through the ordinal map and let each partition append its
    // change annotations and apply its visibility/selection filters
    val fullRead = StructType(cdcFullSchema.fields :+ ScanBridge.rowIndexField)
    val delegate = ScanBridge.parquetScan(spark, hconf, Nil, table.schema,
      fullRead, pushedFilters, options).toBatch.createReaderFactory()
    ScanBridge.morReaderFactory(delegate, cdcDataSchema, fullRead.length,
      columnarCapable = false, conf = ScanBridge.broadcastConfOf(delegate),
      ordinalMap = cdcDataSchema.fieldNames.map(cdcFullSchema.fieldIndex))
  }
}
