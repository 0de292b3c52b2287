package etlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.etl.{CarrotCli, CarrotEngine, CarrotMetrics, Dispatch, OmopSchema, Rules}

/** One ETL run of the benchmark, in one of two modes, writing one JSON result
  * file that `run.py` checks and turns into metrics.
  *
  *  - `plain`: sets the session up and compiles the DDL, config and rules
  *    (timed from process launch), then calls the shipped `CarrotCli.run`,
  *    which picks that session up through `getOrCreate`.
  *  - `traced`: replays the CLI's public call sequence, each call in its own
  *    Spark job group and [[SpanRecorder]] span.
  *
  * Usage: Harness --mode plain|traced --rules R --inputs DIR --output DIR
  *          --result FILE --launched-epoch-ns N
  *          (traced) --source-bytes B
  */
object Harness {

  private val Ddl = "@carrot/config/OMOPCDM_postgresql_5.3_ddl.sql"
  private val Cfg = "@carrot/config/config.json"

  /** The session `CarrotCli.run` builds, with the same confs. */
  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .appName("carrot-transform-spark")
      .master("local[*]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def epochNanos(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toLong / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val launched = opt("--launched-epoch-ns").toLong
    val rulesFile = opt("--rules")
    val inputs = opt("--inputs")
    val output = opt("--output")

    val result: Map[String, Any] = opt("--mode") match {
      case "plain" =>
        val spark = session()
        Rules.fromFile(rulesFile, OmopSchema.fromFiles(Ddl, Cfg))
        val setup = (epochNanos() - launched) / 1e9
        val log = mutable.ArrayBuffer[String]()
        val cpu0 = cpuNanos()
        val t0 = System.nanoTime()
        CarrotCli.run(Array("--rules-file", rulesFile, "--inputs", inputs, "--output", output),
          Map.empty[String, String], (l: String) => log += l)
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (cpuNanos() - cpu0) / 1e9
        val rss = peakRssMb()
        spark.stop()
        Map("setup_s" -> setup, "wall_s" -> wall, "cpu_s" -> cpu,
          "peak_rss_mb" -> rss, "java" -> sys.props("java.version"), "log" -> log.toSeq)

      case "traced" =>
        val spark = session()
        val setup = (epochNanos() - launched) / 1e9
        val sc = spark.sparkContext
        val rec = new SpanRecorder
        sc.addSparkListener(rec)
        def span[T](name: String)(f: => T): T = {
          sc.setJobGroup(name, name)
          rec.begin(name)
          try f finally { rec.end(); sc.clearJobGroup() }
        }
        val cpu0 = cpuNanos()
        // the call sequence of CarrotCli.run for a directory output in the
        // default single-file mode
        val (rules, engine, write) = span("rules_compile") {
          val schema = OmopSchema.fromFiles(Ddl, Cfg)
          val rules = Rules.fromFile(rulesFile, schema)
          Dispatch.listSourceNames(spark, inputs).foreach { avail =>
            Dispatch.rulesFilesMismatch(rules.sourceTables, avail).foreach(System.err.println)
          }
          val engine = new CarrotEngine(spark, schema, rules, Dispatch.sourceReader(spark, inputs, ","),
            personTable = None, cacheJoined = true)
          (rules, engine, Dispatch.outputTarget(spark, output))
        }
        span("person_ids")(write("person_ids", engine.personIds))
        val results = span("target_build")(engine.runOrdered())
        span("target_write")(for ((target, df) <- results) write(target, df))
        span("summary")(write("summary_mapstream", engine.summary(0)))
        val log = span("run_log") {
          val rows = CarrotMetrics.runLogCounts(engine).collect()
          def n(src: String, table: String, kind: String): Long = rows.find(r =>
            r.getAs[String]("source") == src && r.getAs[String]("tablename") == table &&
              r.getAs[String]("count_type") == kind).map(_.getAs[Long]("n")).getOrElse(0L)
          val lines = rules.sourceTables.flatMap { src =>
            s"INPUT file data : $src: input count ${n(src, "all", "input_count")}" +:
              rules.forSource(src).map(_.target).distinct.map(t =>
                s"TARGET: $t: output count ${n(src, t, "output_count")}")
          }
          engine.close()
          lines
        }
        val cpu = (cpuNanos() - cpu0) / 1e9
        val cores = sc.defaultParallelism
        spark.stop() // drains the listener bus before the spans are read
        Map("setup_s" -> setup, "cpu_s" -> cpu, "peak_rss_mb" -> peakRssMb(), "cores" -> cores,
          "java" -> sys.props("java.version"), "log" -> log,
          "trace" -> rec.report(cores, opt("--source-bytes").toLong))
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(opt("--result")), json.writeValueAsBytes(result))
  }
}
