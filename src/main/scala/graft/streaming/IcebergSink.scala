package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.iceberg.{FileSystemOps, IcebergTable, IcebergWriter}

/** Structured-Streaming sink into an Iceberg table: each micro-batch
  * commits one append snapshot via `foreachBatch`.
  *
  * Exactly-once across restarts: the epoch/batch id is recorded in the
  * snapshot summary (`streaming-batch-id`), and a replayed batch (possible
  * after a crash between commit and checkpoint advance) is skipped when its
  * id is not greater than the last committed one — the same idempotent-
  * commit trick Iceberg's own Spark sink uses. Commit concurrency with
  * batch writers is handled by the writer's optimistic commit loop.
  */
object IcebergSink {

  private[streaming] val BatchIdProp = "streaming-batch-id"

  /** Append `batch` as one snapshot unless this batch id already committed.
    * With `branch` set, the snapshot STAGES on that branch (streaming
    * write-audit-publish: main readers see nothing until
    * [[IcebergWriter.fastForward]] publishes the audited batches); the
    * batch-id replay guard covers staged snapshots too — ids live in the
    * global snapshot list, not just main's chain. */
  def appendBatch(url: String, batch: DataFrame, batchId: Long,
      branch: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val last = lastCommittedBatch(url, spark)
    if (last.forall(batchId > _)) branch match {
      case Some(b) => IcebergWriter.appendToBranch(spark, url, batch, b,
        Map(BatchIdProp -> batchId.toString))
      case None => IcebergWriter.append(FileSystemOps(spark, url), batch,
        Map(BatchIdProp -> batchId.toString))
    }
  }

  /** Highest streaming batch id recorded in the snapshot history. */
  private def lastCommittedBatch(url: String,
      spark: org.apache.spark.sql.SparkSession): Option[Long] = {
    val t = IcebergTable.load(spark, url)
    val ids = t.metadata.snapshots.flatMap(_.summary.get(BatchIdProp)).map(_.toLong)
    ids.maxOption
  }

  /** Start a streaming append into the table at `url` — optionally staged
    * on `branch` (streaming WAP: audit, then fastForward to publish). */
  def start(df: DataFrame, url: String, checkpointLocation: String,
      trigger: Trigger = Trigger.AvailableNow(),
      branch: Option[String] = None,
      /** Every N committed batches, refresh the table's NDV statistics via
        * [[graft.iceberg.TableStatistics.computeIncremental]] — a streamed
        * table's append-only history is exactly the sketch-UNION fast path
        * (cost proportional to the new batches, not the table), so CBO
        * stats stay fresh without a maintenance job. 0 = off. */
      statsEveryBatches: Int = 0): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(url, batch, batchId, branch)
        if (statsEveryBatches > 0 && branch.isEmpty &&
            batchId % statsEveryBatches == 0) {
          // stats are advisory optimizer input, not part of the batch's
          // exactly-once contract: a refresh failure (commit-retry
          // exhaustion racing another writer, unencodable column) must not
          // fail a streaming query whose data batch already committed
          scala.util.Try(
            graft.iceberg.TableStatistics.computeIncremental(
              batch.sparkSession, url)) match {
            case scala.util.Failure(e) =>
              System.err.println(
                s"graft: statistics refresh failed for $url at batch " +
                  s"$batchId (ingestion continues): ${e.getMessage}")
            case _ => ()
          }
        }
      }
      .start()

  /** UPSERT each micro-batch keyed on `keyCols` (streaming CDC into
    * Iceberg): existing rows with a batch key are superseded via v2
    * EQUALITY deletes and the batch appends — one snapshot per batch, no
    * data file read or rewritten, same idempotent batch-id replay guard as
    * the append sink. Compact periodically to fold the deletes. */
  def upsertBatch(url: String, batch: DataFrame, batchId: Long,
      keyCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val last = lastCommittedBatch(url, spark)
    if (last.forall(batchId > _))
      IcebergWriter.upsert(spark, url, batch, keyCols,
        Map(BatchIdProp -> batchId.toString))
  }

  /** Start a streaming CDC upsert into the table at `url`. */
  def startUpsert(df: DataFrame, url: String, checkpointLocation: String,
      keyCols: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        upsertBatch(url, batch, batchId, keyCols))
      .start()
}
