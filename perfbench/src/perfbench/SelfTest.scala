package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** The output checks' own test: every workload must pass one unit of ops as
  * generated, then fail it after one expectation is deliberately corrupted. */
object SelfTest {
  def run(spark: SparkSession, work: String): Int = {
    val names = Seq("scan-plan", "llm-dedup", "ingest-commit")
    val bad = names.filterNot { name =>
      val w = Main.workloadFor(name, spark, seed = 7L)
      w.build(Paths.get(work, s"selftest-$name").toString)
      w.ready()
      def unit(): Seq[Option[String]] = {
        w.beforeUnit()
        (0 until w.opsPerUnit).map { k => val r = w.op(k); w.afterOp(k); r }
      }
      val clean = unit().flatten
      w.sabotage()
      val caught = unit().flatten
      println(s"[perfbench] selftest $name: clean errors=${clean.size}, " +
        s"sabotaged errors=${caught.size}${caught.headOption.map(e => s" ($e)").getOrElse("")}")
      clean.isEmpty && caught.nonEmpty
    }
    println(s"[perfbench] selftest ${if (bad.isEmpty) "passed" else s"FAILED: ${bad.mkString(", ")}"}")
    if (bad.isEmpty) 0 else 1
  }
}
