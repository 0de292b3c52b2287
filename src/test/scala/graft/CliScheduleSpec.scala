package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ExecutionException, TimeoutException}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.etl._

/** `CarrotCli.run` as one dependency schedule, on the self-contained
  * `metrics_tiny` corpus (see [[MetricsSummarySpec]]): a failing sink's own
  * exception surfaces once the other branches have ended, the schedule's
  * pool leaves no thread behind, and a SQL sink — written concurrently like
  * every sink — holds the same tables as the TSV run. */
class CliScheduleSpec extends AnyFunSuite {

  private lazy val spark = Golden.spark
  private val dir = getClass.getResource("/metrics_tiny").getPath
  private val rules = s"$dir/rules-v2.json"

  /** Runs the CLI in the shared test session, which it leaves up. */
  private def cli(output: String): Unit = {
    spark
    CarrotCli.run(Array("--rules-file", rules, "--inputs", dir, "--output", output),
      Map.empty[String, String], (_: String) => ())
  }

  private def poolThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(CarrotEngine.ThreadPrefix)).toSet

  private def multiset(df: DataFrame): Map[Seq[String], Int] =
    df.collect().toSeq.map(_.toSeq.map(v => if (v == null) "" else v.toString))
      .groupBy(identity).view.mapValues(_.size).toMap

  test("a failing sink's own exception surfaces after the other branches ended") {
    val out = Files.createTempDirectory("schedule_fail")
    Files.createDirectory(out.resolve("observation.tsv"))
    val before = poolThreads
    val e = intercept[Exception](cli(out.toString))
    assert(!e.isInstanceOf[ExecutionException] && !e.isInstanceOf[TimeoutException], e)
    assert(e.isInstanceOf[java.io.IOException] && e.getMessage.contains("observation.tsv"), e)
    // the other writes ran to their end: whole files, no part directory left
    def ended(t: String): Boolean =
      Files.isRegularFile(out.resolve(s"$t.tsv")) && !Files.exists(out.resolve(s"$t.tsv._parts"))
    assert(ended("person_ids") && ended("person"))
    assert(!Files.exists(out.resolve("summary_mapstream.tsv")))
    assert((poolThreads -- before).isEmpty, "the schedule's pool outlived the run")
  }

  test("writeTo rethrows the first failure itself, once every other branch has ended") {
    val e = Golden.engine(dir, rules)
    val boom = new IllegalStateException("sink refused person_ids")
    val written = new java.util.concurrent.ConcurrentLinkedQueue[String]
    try {
      val thrown = intercept[IllegalStateException] {
        e.writeTo((table, df) => {
          if (table == "person_ids") throw boom
          df.collect()
          written.add(table)
        }, ordered = true)
      }
      assert(thrown eq boom)
      assert(written.asScala.toSet == Set("person", "observation"))
    } finally e.close()
  }

  test("no thread of the schedule's pool is alive after a run returns") {
    val before = poolThreads
    cli(Files.createTempDirectory("schedule_ok").toString)
    assert((poolThreads -- before).isEmpty)
  }

  test("an engine that is never closed holds only daemon threads") {
    val before = poolThreads
    Golden.engine(dir, rules).run().values.foreach(_.collect())
    val fresh = poolThreads -- before
    assert(fresh.nonEmpty && fresh.forall(_.isDaemon), fresh.map(_.getName))
  }

  test("a SQL sink holds the same tables as the TSV run of the same corpus") {
    val tsv: Path = Files.createTempDirectory("schedule_tsv")
    val url = s"jdbc:derby:memory:schedule_${System.nanoTime()};create=true"
    cli(tsv.toString)
    cli(url)
    for (t <- Seq("person_ids", "person", "observation", "summary_mapstream")) {
      val fromTsv = multiset(Golden.readTsv(tsv.resolve(s"$t.tsv").toString))
      assert(fromTsv.nonEmpty, t)
      assert(multiset(Jdbc.readTable(spark, url, t)) == fromTsv, t)
    }
  }
}
