package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Connector queries: planning is forced under a `sources` span and the
  * Catalyst phase times are read from the query's own tracker; execution
  * runs under an `exec` span. Counters accumulate on traced ops only. */
object Sources {
  private var analysisMs, optimizationMs, planningMs = 0.0
  private var inputPartitions, aggPushdownHits = 0L

  def query[T](df: DataFrame)(act: DataFrame => T): T = {
    val plan = Trace.span("sources", "sources.plan")(df.queryExecution.executedPlan)
    if (Trace.on) {
      val ph = df.queryExecution.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
      inputPartitions += plan.collect { case b: BatchScanExec => b.partitions.size }.sum
      if (plan.collectFirst { case l: LocalTableScanExec => l }.isDefined) aggPushdownHits += 1
    }
    Trace.span("exec", "exec.action")(act(df))
  }

  def metrics(ops: Int): Seq[(String, Double, String)] = {
    val n = math.max(ops, 1).toDouble
    Seq(
      ("sources.plan_ms", Trace.perOp("sources.plan", ops), "ms"),
      ("sources.analysis_ms", analysisMs / n, "ms"),
      ("sources.optimization_ms", optimizationMs / n, "ms"),
      ("sources.planning_ms", planningMs / n, "ms"),
      ("sources.input_partitions", inputPartitions / n, "count"),
      ("sources.agg_pushdown_hits", aggPushdownHits / n, "count"))
  }
}

/** Bytes under a table directory. Hadoop's local `.crc` sidecars are left
  * out: they are an artifact of the local filesystem, not of the table. */
object Disk {
  def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        val b = Map.newBuilder[String, Long]
        s.forEach { p =>
          val name = p.getFileName.toString
          if (Files.isRegularFile(p) && !name.endsWith(".crc"))
            b += root.relativize(p).toString -> Files.size(p)
        }
        b.result()
      } finally s.close()
    }
  }

  def bytes(dir: String): Long = files(dir).values.sum
}

/** Every per-layer metric outside `exec`, `jvm`, `self` and `trace`, with its
  * unit, in report order. A workload reports 0 for a layer it does not
  * exercise: that layer is its control. */
object LayerNames {
  val all: Seq[(String, String)] = Seq(
    "iceberg.load_ms" -> "ms", "iceberg.metadata_json_kb" -> "KB",
    "iceberg.manifest_list_ms" -> "ms", "iceberg.plan_cold_ms" -> "ms",
    "iceberg.plan_warm_ms" -> "ms", "iceberg.files_total" -> "count",
    "iceberg.files_kept" -> "count", "iceberg.prune_precision" -> "ratio",
    "operators.exact_ms" -> "ms", "operators.minhash_ms" -> "ms",
    "operators.groups_ms" -> "ms", "operators.pairs_out" -> "count",
    "operators.planted_recall" -> "ratio",
    "writer.commit_ms.append" -> "ms", "writer.commit_ms.delete" -> "ms",
    "writer.commit_ms.overwrite" -> "ms", "writer.data_files_added" -> "count",
    "writer.data_mb" -> "MB", "writer.metadata_kb" -> "KB",
    "writer.readback_ms" -> "ms")

  /** `values` filled out to the full list, zero where absent. */
  def complete(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    all.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
