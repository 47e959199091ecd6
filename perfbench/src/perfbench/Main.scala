package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload. The driver loop owns timing: a workload only does
  * the work of an op and checks it against expectations its generator made. */
trait Workload {
  /** Ops per schedule unit. A run starts and stops only at unit boundaries,
    * so every run measures the same mix of ops. */
  def opsPerUnit: Int
  /** Warm-up units: at least `warmMin`, at most `warmMax`, stopping early
    * once the median op time of the last `warmWindow` units is within 5% of
    * the window before it. */
  def warmMin: Int
  def warmMax: Int
  def warmWindow: Int
  /** Fixture builds per run; set-up time takes their median. */
  def builds: Int = 3
  /** Build a fresh copy of the fixture under `dir`; the last one built is
    * the one the ops use. Timed as set-up. */
  def build(dir: String): Unit
  /** Untimed work once the last fixture is built. */
  def ready(): Unit = ()
  /** Untimed work before each unit. */
  def beforeUnit(): Unit = ()
  /** Op `k` of the current unit; `None` when its output passed the check. */
  def op(k: Int): Option[String]
  /** Untimed bookkeeping after each op. */
  def afterOp(k: Int): Unit = ()
  /** Called once, when warm-up ends and the measured phase begins. */
  def beginMeasured(): Unit = ()
  /** Untimed bookkeeping after each unit of the measured phase. */
  def afterMeasuredUnit(): Unit = ()
  /** Bytes written under the table per byte of user data. */
  def writeAmp: Double
  /** Bytes on disk under the table per byte of live user data. */
  def spaceAmp: Double
  /** Per-layer metrics this workload measures, averaged over `tracedOps`. */
  def layerMetrics(tracedOps: Int): Seq[(String, Double, String)]
  /** Sizes printed beside the metrics. */
  def facts: Seq[(String, String)]
  /** Corrupt one expectation, so the next op must fail its check. */
  def sabotage(): Unit
}

object Main {
  val Master = "local[2]"
  val ShufflePartitions = 2

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, result: String, traceOut: String,
      selftest: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("result", ""), m.getOrElse("trace-out", ""),
      m.getOrElse("selftest", "0") == "1")
  }

  def session(work: String): SparkSession = {
    val local = Paths.get(work, "spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(Master)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.default.parallelism", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // bounded status retention: driver heap must not grow with op count
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "64")
      .config("spark.ui.retainedStages", "64")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workloadFor(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "scan-plan" => new ScanPlan(spark, seed)
    case "llm-dedup" => new LlmDedup(spark, seed)
    case "ingest-commit" => new IngestCommit(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def say(s: String): Unit = println(s"[perfbench] $s")

  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(args.work)
    val code =
      try { if (args.selftest) SelfTest.run(spark, args.work) else run(spark, args) }
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, args: Args): Int = {
    val sessionS = (System.currentTimeMillis() - Jvm.startMs) / 1000.0
    val sc = spark.sparkContext
    val w = workloadFor(args.workload, spark, args.seed)

    val buildS = (0 until w.builds).map { i =>
      val t0 = System.nanoTime()
      w.build(Paths.get(args.work, s"fixture-$i").toString)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] fixture build $i: $s%.3f s")
      s
    }
    val setupS = sessionS + median(buildS)
    w.ready()

    val tracedGroups = mutable.Set.empty[String]
    val listener =
      if (!args.trace) None
      else {
        val l = new ExecListener(g => tracedGroups.synchronized(tracedGroups(g)))
        sc.addSparkListener(l)
        Some(l)
      }

    var attempted, failed = 0
    var opSeq = 0
    val errors = mutable.ArrayBuffer.empty[String]
    final case class OpSample(ms: Double, cpuMs: Double, traced: Boolean)

    def runUnit(traced: Boolean): Seq[OpSample] = {
      w.beforeUnit()
      (0 until w.opsPerUnit).map { k =>
        val group = s"op-$opSeq"
        if (traced) tracedGroups.synchronized(tracedGroups += group)
        Trace.beginOp(opSeq, traced)
        sc.setJobGroup(group, group, interruptOnCancel = false)
        val c0 = Jvm.cpuNs
        val t0 = System.nanoTime()
        val outcome =
          try Trace.span("bench", "op")(w.op(k))
          catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val t1 = System.nanoTime()
        val c1 = Jvm.cpuNs
        sc.clearJobGroup()
        Trace.on = false
        opSeq += 1
        attempted += 1
        outcome.foreach { e => failed += 1; if (errors.size < 5) errors += e }
        w.afterOp(k)
        OpSample((t1 - t0) / 1e6, (c1 - c0) / 1e6, traced)
      }
    }

    // warm-up: count-based, stops once unit op times settle
    val warm = mutable.ArrayBuffer.empty[Double]
    var settled = false
    while (warm.size < w.warmMax && !settled) {
      warm += median(runUnit(traced = false).map(_.ms))
      val n = w.warmWindow
      if (warm.size >= math.max(w.warmMin, 2 * n)) {
        val last = median(warm.takeRight(n).toSeq)
        val prev = median(warm.slice(warm.size - 2 * n, warm.size - n).toSeq)
        settled = math.abs(last - prev) <= 0.05 * prev
      }
    }
    val warmOps = attempted

    // measured phase: whole units until --seconds have passed; in a traced
    // run every other unit is traced, so the run also measures its overhead
    w.beginMeasured()
    val gc0 = Jvm.gcMs; val gcN0 = Jvm.gcCount; val jit0 = Jvm.jitMs
    val (steal0, total0) = Jvm.cpuJiffies
    val samples = mutable.ArrayBuffer.empty[OpSample]
    val tStart = System.nanoTime()
    var units = 0
    while ((System.nanoTime() - tStart) / 1e9 < args.seconds || (args.trace && units < 2)) {
      samples ++= runUnit(traced = args.trace && units % 2 == 1)
      w.afterMeasuredUnit()
      units += 1
    }
    val gcMs = Jvm.gcMs - gc0; val gcCount = Jvm.gcCount - gcN0; val jitMs = Jvm.jitMs - jit0
    val (steal1, total1) = Jvm.cpuJiffies
    val stealPct = 100.0 * (steal1 - steal0) / math.max(total1 - total0, 1L)
    val heapMb = Jvm.liveHeapMb
    listener.foreach(_ => org.apache.spark.perfbench.BusDrain(sc))

    val lat = samples.map(_.ms).toSeq
    System.err.println(s"[perfbench] warm-up unit ms: ${warm.map(m => f"$m%.0f").mkString(" ")}")
    System.err.println(s"[perfbench] measured op ms: ${lat.map(m => f"$m%.0f").mkString(" ")}")
    val p50 = median(lat)
    val p90 = percentile(lat, 0.9)
    val beyond = lat.count(_ > p90)
    val opsPerS = samples.size / (lat.sum / 1000.0)
    val cpuPerOp = samples.map(_.cpuMs).sum / samples.size

    say(s"host: nproc=${Runtime.getRuntime.availableProcessors} " +
      s"jvm=${System.getProperty("java.vm.name")} ${System.getProperty("java.version")} " +
      f"heap=${Jvm.maxHeapMb}%.0fMB spark=${spark.version} master=$Master " +
      s"shuffle.partitions=$ShufflePartitions aqe=${spark.conf.get("spark.sql.adaptive.enabled")} " +
      f"cpu_steal_during_measure=$stealPct%.1f%%")
    say(s"workload=${args.workload} seed=${args.seed} trace=${if (args.trace) 1 else 0} " +
      s"loop=closed clients=1")
    w.facts.foreach { case (k, v) => say(s"fact $k = $v") }
    say(f"setup: session_s=$sessionS%.3f fixture_builds_s=${buildS.map(s => f"$s%.3f").mkString("[", ",", "]")} " +
      s"warmup_ops=$warmOps")
    say(s"samples: ${samples.size} measured ops in $units units, $beyond beyond p90" +
      (if (beyond < 10) " (fewer than ten: p90 rests on few samples)" else ""))
    say(f"attempted=$attempted failed=$failed fail_ratio=${failed.toDouble / math.max(attempted, 1)}%.4f")
    errors.foreach(e => say(s"FAILED op: $e"))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", opsPerS, "1/s"),
        ("op_p50_ms", p50, "ms"),
        ("op_p90_ms", p90, "ms"),
        ("cpu_ms_per_op", cpuPerOp, "ms"),
        ("driver_live_heap_mb", heapMb, "MB"),
        ("write_amp", w.writeAmp, "ratio"),
        ("space_amp", w.spaceAmp, "ratio"))
      else {
        val traced = samples.filter(_.traced)
        val plain = samples.filterNot(_.traced)
        val tOps = traced.size
        def rate(xs: Seq[OpSample]) = xs.size / (xs.map(_.ms).sum / 1000.0)
        val tP50 = median(traced.map(_.ms).toSeq)
        val uP50 = median(plain.map(_.ms).toSeq)
        val self = Trace.selfMsByLayer
        val layers = Seq("bench", "iceberg", "sources", "exec", "operators", "writer")
        w.layerMetrics(tOps) ++ Sources.metrics(tOps) ++ listener.get.metrics(tOps) ++
          layers.map(l => (s"self.${l}_ms", self.getOrElse(l, 0.0) / tOps, "ms")) ++ Seq(
          ("jvm.gc_ms_per_op", gcMs.toDouble / samples.size, "ms"),
          ("jvm.gc_count", gcCount.toDouble, "count"),
          ("jvm.jit_ms", jitMs.toDouble, "ms"),
          ("trace.ops_per_s", rate(traced.toSeq), "1/s"),
          ("trace.op_p50_ms", tP50, "ms"),
          ("trace.untraced_ops_per_s", rate(plain.toSeq), "1/s"),
          ("trace.untraced_op_p50_ms", uP50, "ms"),
          ("trace.overhead_ops_per_s_pct", (rate(plain.toSeq) / rate(traced.toSeq) - 1) * 100, "%"),
          ("trace.overhead_op_p50_pct", (tP50 / uP50 - 1) * 100, "%"))
      }
    metrics.foreach { case (n, v, u) => say(f"metric $n%-30s $v%14.4f $u") }

    if (args.trace && args.traceOut.nonEmpty)
      Trace.writeJson(Paths.get(args.traceOut),
        s""""workload":"${args.workload}","seed":${args.seed},"traced_ops":${samples.count(_.traced)}""")

    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    val json = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${body.mkString(",")}}}"""
    Files.write(Paths.get(args.result), (json + "\n").getBytes("UTF-8"))
    0
  }
}
