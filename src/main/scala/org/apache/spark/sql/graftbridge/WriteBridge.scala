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

  /** A parquet writer for InternalRows of `schema`. Field ids in the
    * schema's (nested) metadata are stamped into the file; timestamps are
    * written as Iceberg-compatible INT64 micros. */
  def parquetRowWriter(file: OutputFile, schema: StructType,
      conf: Configuration): ParquetWriter[InternalRow] = {
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(schema, c)
    // the keys ParquetFileFormat.prepareWrite normally stages for tasks
    c.set("spark.sql.parquet.writeLegacyFormat", "false")
    c.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    c.set("spark.sql.parquet.fieldId.write.enabled", "true")
    c.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    c.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    c.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    c.set("spark.sql.caseSensitive", "false")
    new RowWriterBuilder(file)
      .withConf(c)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

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
