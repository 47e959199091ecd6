package graft.iceberg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The row-level writers read positions through one scoped session per
  * caller session, with field-id resolution on: reused across calls, kept
  * in step with the caller's confs, and holding no reference back to the
  * caller. */
class FieldIdSessionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val FieldIdRead = "spark.sql.parquet.fieldId.read.enabled"

  test("a second call reuses the scoped session, which follows the caller's confs") {
    val caller = spark.newSession()
    caller.conf.set("spark.graft.test.knob", "1")
    caller.conf.set("spark.sql.caseSensitive", "true")
    caller.conf.set("spark.sql.session.timeZone", "UTC")
    val first = IcebergWriter.withFieldIdRead(caller)(identity)
    assert(first ne caller)
    assert(first.conf.get(FieldIdRead) == "true")
    assert(first.conf.get("spark.graft.test.knob") == "1")
    assert(first.conf.get("spark.sql.caseSensitive") == "true")

    caller.conf.unset("spark.graft.test.knob")
    caller.conf.unset("spark.sql.caseSensitive")
    caller.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val second = IcebergWriter.withFieldIdRead(caller)(identity)
    assert(second eq first)
    assert(second.conf.getOption("spark.graft.test.knob").isEmpty)
    assert(second.conf.get("spark.sql.caseSensitive") == "false")
    assert(second.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
    assert(second.conf.get(FieldIdRead) == "true")

    assert(caller.conf.get(FieldIdRead) == "false", "the flag stays scoped")
    assert(IcebergWriter.withFieldIdRead(spark.newSession())(identity) ne first,
      "another caller gets its own scoped session")
  }

  test("a caller's own field-id value never reaches the shared scoped session") {
    val caller = spark.newSession()
    caller.conf.set(FieldIdRead, "false")
    val scoped = IcebergWriter.withFieldIdRead(caller)(identity)
    assert(scoped.conf.get(FieldIdRead) == "true")
    // another call's scan plans in the same scoped session while this one
    // re-mirrors the caller's confs: the flag must read true throughout
    @volatile var done = false
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val watcher = new Thread(() =>
      while (!done) if (scoped.conf.get(FieldIdRead) != "true") seen.incrementAndGet())
    watcher.start()
    try (1 to 300).foreach(_ => IcebergWriter.withFieldIdRead(caller)(_ => ()))
    finally { done = true; watcher.join() }
    assert(seen.get == 0, s"the scoped session held the caller's value ${seen.get} times")
  }

  test("a repeated deleteRows compiles no new class") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    def deleteOnce(): Long = {
      val url = java.nio.file.Files.createTempDirectory("graft_fid_session").toString + "/t"
      IcebergWriter.createTable(spark, url, schema)
      IcebergWriter.append(spark, url,
        (1L to 20L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
      val before = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
      IcebergWriter.deleteRows(spark, url, Pruning.In("k", Seq(3L, 7L)))
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    deleteOnce()
    val compiled = deleteOnce()
    assert(compiled == 0, s"the second deleteRows compiled $compiled classes")
  }

  test("a scoped session holds no reference to its caller") {
    var caller = spark.newSession()
    val scoped = IcebergWriter.withFieldIdRead(caller)(identity)
    val ref = new java.lang.ref.WeakReference(caller)
    caller = null
    var tries = 0
    while (ref.get != null && tries < 50) {
      System.gc()
      Thread.sleep(20)
      tries += 1
    }
    assert(ref.get == null, "the caller stays reachable")
    assert(scoped.conf.get(FieldIdRead) == "true")
  }
}
