package graft

import org.apache.spark.sql.functions._

/** Dev harness: quantify FusePercentiles on a percentile-heavy grouped
  * aggregate (5 quantiles per group over 8 M generated rows). One session
  * runs the query with the rule and then with it excluded
  * (`spark.sql.optimizer.excludedRules`); the FUSED run goes FIRST so JVM
  * warm-up bias works against the rule's claim.
  *
  * Usage: sbt "Test/runMain graft.FusionBenchMain"
  */
object FusionBenchMain {
  def main(args: Array[String]): Unit = {
    val spark = DevHarness.session()

    def run(fused: Boolean): Double = {
      if (fused) spark.conf.unset("spark.sql.optimizer.excludedRules")
      else spark.conf.set("spark.sql.optimizer.excludedRules", graft.plans.FusePercentiles.ruleName)
      val src = spark.range(0, 8L * 1000 * 1000).select(
        (col("id") % 7).as("g"), (col("id") * 2654435761L % 100000).as("v"))
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val aggs = qs.map(p => expr(s"percentile(v, $p)").as(s"p_$p"))
      val q = src.groupBy("g").agg(aggs.head, aggs.tail: _*)
      val nPct = "percentile\\(".r
        .findAllIn(q.queryExecution.executedPlan.toString).length
      println(s"[fusionbench] fused=$fused percentile-functions-in-plan=$nPct")
      def once(): Unit = q.collect()
      once() // warm (codegen + JIT)
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); once(); (System.nanoTime() - t0) / 1e9
      }
      times.min
    }

    val fusedSec = run(fused = true)
    val unfusedSec = run(fused = false)
    println(f"fused=$fusedSec%.3f s unfused=$unfusedSec%.3f s speedup=${unfusedSec / fusedSec}%.2f x")
    spark.stop()
  }
}
