package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** Dev harness for named queries: time them the way Bench does (same
  * session, same `.count()` action, min over N runs) and split each run's
  * wall into build (the query function: planning inputs plus any eager
  * collects), plan (analysis, optimization and physical planning) and
  * exec (the count). Per run it also prints process CPU and the Spark JOB
  * count (the hidden cost on multi-pass operators — every eager
  * collect/convergence-count is a job); per query the fastest run's
  * (wall, cpu, cpu/wall) — against a quiet-window row in BASELINE.md this
  * tells steal charged to process CPU from a hungrier plan — an Exchange /
  * WholeStageCodegen census of the counted (final adaptive) plan, and
  * optionally the formatted plan as built (before execution).
  *
  *   sbt "Test/runMain graft.QBenchMain [--runs N] [--plans DIR[:SUFFIX]] [q...]"
  *
  * No names runs every query. Plans land in DIR/<name>_SUFFIX.txt
  * (default suffix "before").
  */
object QBenchMain extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    var runs = 3
    var plansDir: Option[(String, String)] = None
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--runs" => runs = args(i + 1).toInt.max(1); i += 2
        case "--plans" =>
          val parts = args(i + 1).split(":", 2)
          plansDir = Some((parts(0), if (parts.length > 1) parts(1) else "before"))
          i += 2
        case n => names += n; i += 1
      }
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = DevHarness.sfDir("0.1")
    val spark = DevHarness.session()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      catch { case _: Throwable => () }
    }
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
    println(s"[qbench] loadavg ${Files.readString(Paths.get("/proc/loadavg")).trim}")
    val ordered = (if (names.nonEmpty) names.distinct else SparkEntry.queries.keys).toSeq.sorted
    for (name <- ordered) {
      val fn = SparkEntry.queries(name)
      var best = (Double.MaxValue, 0.0, -1) // (wall, cpu, jobs) of the fastest run
      var last: DataFrame = null
      for (r <- 0 until runs) {
        jobs.set(0)
        val t0 = System.nanoTime()
        val c0 = osBean.getProcessCpuTime
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        last = df.groupBy().count() // what df.count() runs, kept for its final plan
        last.collect()
        val t3 = System.nanoTime()
        val wall = secs(t0, t3)
        val cpu = (osBean.getProcessCpuTime - c0) / 1e9
        Thread.sleep(50) // let the listener bus drain before reading the job count
        val nj = jobs.get()
        if (wall < best._1) best = (wall, cpu, nj)
        println(f"[qbench] $name%-28s run$r wall=$wall%.3f build=${secs(t0, t1)}%.3f " +
          f"plan=${secs(t1, t2)}%.3f exec=${secs(t2, t3)}%.3f cpu=$cpu%.1f jobs=$nj")
      }
      println(f"[qbench] $name%-28s BEST wall=${best._1}%.3f cpu=${best._2}%.1f " +
        f"cpu/wall=${best._2 / best._1}%.1f jobs=${best._3}")
      val plan = last.queryExecution.executedPlan
      println(s"[qbench] $name plan: ${collect(plan) { case e: Exchange => e }.size} Exchange nodes, " +
        s"${collect(plan) { case w: WholeStageCodegenExec => w }.size} WholeStageCodegen spans")
      plansDir.foreach { case (dir, suffix) =>
        Files.createDirectories(Paths.get(dir))
        val txt = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(dir, s"${name}_$suffix.txt"), txt)
      }
    }
    println(s"[qbench] loadavg ${Files.readString(Paths.get("/proc/loadavg")).trim}")
    spark.stop()
  }
}
