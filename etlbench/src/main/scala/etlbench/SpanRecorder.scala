package etlbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Benchmark-side tracing: named spans around top-level calls, plus a
  * listener that aggregates task metrics per stage and maps each job to the
  * span it ran in.
  *
  * Spans are sequential and each top-level call blocks until its jobs end,
  * so a job belongs to the span during which it was submitted. That holds
  * for jobs submitted from other threads too (AQE stage submission, the
  * engine's target-build pool), whose inherited job-group property can be
  * stale. The spans cover the run back to back, so this assignment places
  * every job in some span by construction; only a stage whose job start was
  * never seen stays unattributed. The job group is the independent check:
  * `group_mismatch_jobs` counts the jobs whose group names another span.
  *
  * Listener callbacks run on Spark's listener-bus thread; [[report]] may be
  * called only after `SparkContext.stop()`, which drains that bus. Spans
  * stay in memory until then.
  */
final class SpanRecorder extends SparkListener {

  private final class Span(val name: String, val startMs: Long, val startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = startNs
  }
  private final class Job(val id: Int, val group: Option[String], val startMs: Long) {
    var endMs: Long = -1L
  }
  private final class Acc {
    var tasks, failed, runMs, cpuNs, gcMs, shuffleWrite, spill, input = 0L
    def add(o: Acc): Unit = {
      tasks += o.tasks; failed += o.failed; runMs += o.runMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input
    }
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageAcc = mutable.Map[Int, Acc]()
  private var callbackNs = 0L

  def begin(name: String): Unit =
    spans += new Span(name, System.currentTimeMillis(), System.nanoTime())

  def end(): Unit = {
    val s = spans.last
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val a = stageAcc.getOrElseUpdate(e.stageId, new Acc)
    a.tasks += 1
    if (e.reason != Success) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  /** Per-span counters plus the attribution ledger. `sourceBytes` is the
    * size of the raw inputs, the base of each span's `scan_ratio`. */
  def report(cores: Int, sourceBytes: Long): Map[String, Any] = {
    val MiB = 1024.0 * 1024.0
    // the last span that began at or before the job's submission
    def spanOf(j: Job): Int = spans.lastIndexWhere(_.startMs <= j.startMs)
    val jobSpan = jobs.values.map(j => j.id -> spanOf(j)).toMap
    val perSpan = spans.indices.map(_ => new Acc)
    val total = new Acc
    val unattributed = new Acc
    for ((stage, a) <- stageAcc) {
      total.add(a)
      stageJob.get(stage).map(jobSpan).filter(_ >= 0) match {
        case Some(i) => perSpan(i).add(a)
        case None => unattributed.add(a)
      }
    }
    val spanJson = spans.indices.map { i =>
      val s = spans(i)
      val a = perSpan(i)
      val wall = (s.endNs - s.startNs) / 1e9
      val mine = jobs.values.filter(j => jobSpan(j.id) == i).toSeq
      // time some job of this span was running, clipped to the span
      val busyMs = mine.map(j => (math.max(j.startMs, s.startMs),
          math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
        .filter { case (b, e) => e > b }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (b, e)) =>
          val from = math.max(b, reach)
          (acc + math.max(0L, e - from), math.max(reach, e))
        }._1
      Map(
        "name" -> s.name,
        "wall_s" -> wall,
        "driver_s" -> math.max(0.0, wall - busyMs / 1e3),
        "jobs" -> mine.size,
        "tasks" -> a.tasks,
        "task_run_s" -> a.runMs / 1e3,
        "task_cpu_s" -> a.cpuNs / 1e9,
        "gc_s" -> a.gcMs / 1e3,
        "slot_idle_s" -> (wall * cores - a.runMs / 1e3),
        "shuffle_write_mb" -> a.shuffleWrite / MiB,
        "spill_mb" -> a.spill / MiB,
        "input_mb" -> a.input / MiB,
        "failed_tasks" -> a.failed,
        "scan_ratio" -> a.input.toDouble / sourceBytes,
        "job_ids" -> mine.map(_.id))
    }
    Map(
      "spans" -> spanJson,
      "task_cpu_s" -> total.cpuNs / 1e9,
      "unattributed_task_cpu_s" -> unattributed.cpuNs / 1e9,
      "group_mismatch_jobs" -> jobs.values.count(j =>
        jobSpan(j.id) >= 0 && !j.group.contains(spans(jobSpan(j.id)).name)),
      "listener_s" -> callbackNs / 1e9)
  }
}
