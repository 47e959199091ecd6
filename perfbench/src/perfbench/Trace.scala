package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans around the benchmark's own calls into each layer. Spans are kept in
  * memory and written once at exit. When tracing is off for the current op,
  * `span` only runs its body, so traced and untraced ops make the same calls. */
object Trace {
  final case class Span(id: Int, parent: Int, op: Int, layer: String,
      name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Set per op by the driver loop: only traced ops record spans. */
  var on = false
  private var opId = -1
  private var stack: List[Int] = Nil
  private val spans = mutable.ArrayBuffer.empty[Span]

  def beginOp(id: Int, traced: Boolean): Unit = { opId = id; on = traced; stack = Nil }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += null // reserve the id so children see their parent
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, opId, layer, name, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Durations of spans called `name`, per traced op. */
  def perOp(name: String, ops: Int): Double =
    if (ops == 0) 0.0 else spans.iterator.filter(_.name == name).map(_.ms).sum / ops

  /** Self time per layer: a span's duration minus the part its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.layer).view.mapValues(_.map(s => s.ms - childMs(s.id)).sum).toMap
  }

  def writeJson(path: java.nio.file.Path, header: String): Unit = {
    val sb = new StringBuilder
    sb.append("{").append(header).append(",\"spans\":[")
    spans.iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""layer":"${s.layer}","name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("]}\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark execution counters, summed per job group. Each op runs under its
  * own job group, so totals for the traced ops are exact however the
  * listener bus interleaves their events. */
final class ExecListener(counted: String => Boolean) extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var jobMs, cpuNs, gcMs, inBytes, rows, shW, shR, spill = 0L
  }
  private val acc = new Acc
  private val stageCounted = mutable.Map.empty[Int, Boolean]
  private val jobStart = mutable.Map.empty[Int, Long]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val c = Option(groupOf(e.properties)).exists(counted)
    e.stageIds.foreach(id => stageCounted(id) = c)
    if (c) { acc.jobs += 1; jobStart(e.jobId) = e.time }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => acc.jobMs += e.time - t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (stageCounted.getOrElse(e.stageInfo.stageId, false)) acc.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageCounted.getOrElse(e.stageId, false)) {
      acc.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.inBytes += m.inputMetrics.bytesRead
        acc.rows += m.inputMetrics.recordsRead
        acc.shW += m.shuffleWriteMetrics.bytesWritten
        acc.shR += m.shuffleReadMetrics.totalBytesRead
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def metrics(ops: Int): Seq[(String, Double, String)] = synchronized {
    val n = math.max(ops, 1).toDouble
    val mb = 1024.0 * 1024.0
    Seq(
      ("exec.ms", acc.jobMs / n, "ms"),
      ("exec.jobs", acc.jobs / n, "count"),
      ("exec.stages", acc.stages / n, "count"),
      ("exec.tasks", acc.tasks / n, "count"),
      ("exec.executor_cpu_ms", acc.cpuNs / 1e6 / n, "ms"),
      ("exec.gc_ms", acc.gcMs / n, "ms"),
      ("exec.input_mb", acc.inBytes / mb / n, "MB"),
      ("exec.rows_read", acc.rows / n, "count"),
      ("exec.shuffle_write_mb", acc.shW / mb / n, "MB"),
      ("exec.shuffle_read_mb", acc.shR / mb / n, "MB"),
      ("exec.spill_mb", acc.spill / mb / n, "MB"))
  }
}

/** Process-wide JVM counters from the platform MXBeans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans
  private val jit = ManagementFactory.getCompilationMXBean
  private val mem = ManagementFactory.getMemoryMXBean

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = { var t = 0L; gcs.forEach(g => t += math.max(g.getCollectionTime, 0L)); t }
  def gcCount: Long = { var c = 0L; gcs.forEach(g => c += math.max(g.getCollectionCount, 0L)); c }
  def jitMs: Long = jit.getTotalCompilationTime
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Heap the last full collection left in use: what the driver retains.
    * The pause lets Spark's cleaner drop what the first collection freed. */
  def liveHeapMb: Double = {
    System.gc(); Thread.sleep(200); System.gc()
    var used = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        used += p.getCollectionUsage.getUsed
    }
    used / (1024.0 * 1024.0)
  }
  def maxHeapMb: Double = mem.getHeapMemoryUsage.getMax / (1024.0 * 1024.0)

  /** (steal, total) jiffies of all CPUs from /proc/stat, zeros elsewhere:
    * the share of CPU time the host gave to other guests. */
  def cpuJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
}
