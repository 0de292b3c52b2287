package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.CarrotCli

/** The session contract [[GraftSession]] applies, per shape, and the rule
  * that no other source file builds a session. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark

  private val Utc = "spark.sql.session.timeZone"
  private val Nanos = "spark.sql.legacy.parquet.nanosAsLong"
  private val CachedAqe = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** Runs `body` on the shared session with the contract confs knocked out,
    * then restores every conf it touched. */
  private def withConfsOff(body: => Unit): Unit = {
    val off = Seq(Utc -> "America/New_York", Nanos -> "false", CachedAqe -> "false")
    val saved = (off.map(_._1) :+ "spark.sql.shuffle.partitions").map(k => k -> spark.conf.getOption(k))
    try { off.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def assertContract(): Unit = {
    assert(spark.conf.get(Utc) == "UTC")
    assert(spark.conf.get(Nanos) == "true")
    assert(spark.sql("SELECT normalise_8601('02/01/2020')").head().getString(0) ==
      "2020-01-02 00:00:00", "GraftExtensions are loaded")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString == "WARN")
  }

  test("local(cpus) sets the contract confs and shuffle partitions = cpus") {
    withConfsOff {
      assert(GraftSession.local(4) eq spark, "an existing session is reused")
      assertContract()
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(spark.sparkContext.master == "local[4]")
      assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    }
  }

  test("cli(appName, confs) sets the contract confs plus the caller's") {
    withConfsOff {
      assert(GraftSession.cli("graft-spec", CachedAqe -> "true") eq spark)
      assertContract()
      assert(spark.conf.get(CachedAqe) == "true")
    }
  }

  test("CarrotCli's session carries UTC, nanosAsLong and AQE for cached plans") {
    val dir = getClass.getResource("/metrics_tiny").getPath
    val out = Files.createTempDirectory("graft-session-cli")
    try withConfsOff {
      val log = scala.collection.mutable.ArrayBuffer.empty[String]
      CarrotCli.run(Array("--rules-file", s"$dir/rules-v2.json", "--inputs", dir,
        "--output", out.toString), Map.empty[String, String], (l: String) => log += l)
      assert(log.exists(_.startsWith("Elapsed time")), "the CLI run completed")
      assert(!spark.sparkContext.isStopped, "the CLI leaves a pre-existing session up")
      assertContract()
      assert(spark.conf.get(CachedAqe) == "true")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  test("GraftSession.scala is the only file under src/ that calls SparkSession.builder") {
    val call = "\\bSparkSession\\s*\\.\\s*builder\\b".r
    def calls(src: String): Boolean = call.findFirstIn(SourceScan.codeOnly(src)).isDefined
    val callers = SourceScan.filesWhere("src")(call.findFirstIn(_).isDefined)
    assert(callers == Seq("main/scala/graft/GraftSession.scala"))
    // a call inside a comment or a string is not one; a char literal
    // holding a quote does not hide the code after it
    assert(!calls("// SparkSession.builder()\nval s = \"SparkSession.builder\""))
    assert(calls("val c = '\"'; val s = SparkSession.builder()"))
  }
}
