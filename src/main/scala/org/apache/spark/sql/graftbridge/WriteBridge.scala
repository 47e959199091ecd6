package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.OutputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's `private[sql]` parquet WRITE machinery: builds
  * parquet-mr writers that consume Catalyst InternalRows directly via
  * [[ParquetWriteSupport]], and runs a DataFrame's rows through a task-side
  * function as one tracked SQL execution — the executor-side engine of
  * every file a commit registers (no output committer, no DataFrame
  * re-dispatch). */
object WriteBridge {

  /** `conf` prepared for writing parquet rows of `schema`: the schema and
    * the keys `ParquetFileFormat.prepareWrite` normally stages for tasks.
    * Field ids in the schema's (nested) metadata are stamped into the file;
    * timestamps are written as Iceberg-compatible INT64 micros. Sets the
    * keys on `conf` itself and returns it: a write job prepares one copy on
    * the driver and every file it opens reads that copy. */
  def prepareWriterConf(conf: Configuration, schema: StructType): Configuration = {
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.caseSensitive", "false")
    conf
  }

  /** A parquet writer for InternalRows, opened against a conf from
    * [[prepareWriterConf]]; it only reads the conf, so the files of one
    * job share it. */
  def parquetRowWriter(file: OutputFile, conf: Configuration): ParquetWriter[InternalRow] =
    new RowWriterBuilder(file)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()

  /** Run `task` over each partition of `df`'s rows (reused InternalRows in
    * `df.schema`) as one SQL execution, handing each finished task's result
    * to `onResult` as it arrives. */
  def runTasks[T: scala.reflect.ClassTag](df: DataFrame, name: String)(
      task: (TaskContext, Iterator[InternalRow]) => T)(
      onResult: (Int, T) => Unit): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = qe.toRdd
      df.sparkSession.sparkContext.runJob(rdd, task, 0 until rdd.getNumPartitions,
        onResult)
    }
  }

  private final class RowWriterBuilder(file: OutputFile)
    extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport().asInstanceOf[WriteSupport[InternalRow]]
  }
}
