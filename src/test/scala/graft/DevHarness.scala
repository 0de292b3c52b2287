package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared set-up of the dev harnesses (the `*Main` probes under src/test):
  * one session, one timer, one corpus replay and one scratch area, so each
  * probe holds only its own probe body and the invariants it asserts.
  *
  * Probes run as `sbt "Test/runMain graft.<Probe> [args]"`; the session is
  * [[GraftSession.local]], so `SPARK_GRAFT_CPUS` sets its parallelism as it
  * does Bench's and Verify's.
  */
object DevHarness {

  /** The local session, warmed by one small job so the first timing
    * measures the engine rather than executor and codegen start-up. */
  def session(): SparkSession = {
    val spark = GraftSession.local()
    spark.range(100000).selectExpr("sum(id)").collect()
    spark
  }

  /** The test-data directory: `SPARK_GRAFT_SF_DIR` when set (as Bench
    * reads it), else scale factor `defaultSf` (e.g. "0.1"). */
  def sfDir(defaultSf: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"/root/testdata/sf$defaultSf")

  /** Counts `df`, prints `SCALE label: secs s (rows rows)`, returns secs. */
  def time(label: String)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val rows = df.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"SCALE $label: $sec%.2f s ($rows rows)")
    sec
  }

  /** Runs `body`, prints `SCALE label: secs s`, returns its value. */
  def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    println(f"SCALE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** `copies` replicas of `df`, content identical, with `idCol` offset by
    * `copy × stride` so no two replicas share an id. The stride defaults
    * to `max(idCol) + 1`. */
  def replay(df: DataFrame, idCol: String, copies: Int, stride: Long = -1L): DataFrame = {
    val step = if (stride >= 0) stride else df.agg(max(col(idCol)).cast("long")).head().getLong(0) + 1
    (0 until copies).map { i =>
      df.select(df.columns.toSeq.map { c =>
        if (c == idCol) (col(c) + lit(i.toLong * step)).as(c) else col(c)
      }: _*)
    }.reduce(_ unionAll _)
  }

  /** A fresh path, not yet created, under one scratch directory that is
    * deleted when the JVM exits. */
  def tempPath(name: String): String = new java.io.File(scratch, name).getPath

  private lazy val scratch: java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft-dev").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteDirectory(d))
    d
  }
}
