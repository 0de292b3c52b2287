package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl._

/** The ordered single-file write of auto-numbered targets, on the
  * self-contained `metrics_tiny` corpus (see [[MetricsSummarySpec]]) and on
  * generated corpora.
  *
  * A numbered target is written straight from its `IdAssign` snapshot:
  * `runOrdered()`'s sort by processing order plans no shuffle and no sort
  * outside the cached snapshot. The ids still rise in file order, dense in
  * processing order, with gaps where a row whose person misses the
  * dictionary consumed a number. Every expected row is derived by hand
  * from the fixture or from a naive single-partition model, never from the
  * engine's output.
  */
class OrderedWriteSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = Golden.spark
  private val dir = getClass.getResource("/metrics_tiny").getPath
  private val rulesV2 = s"$dir/rules-v2.json"
  private val CachedPlanConf = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** metrics_tiny `observation`, v2 rules, by hand. Obs.csv rows in file
    * order: P1 POS (1001, 1002: ids 1, 2), P3 NEG (2001: id 3), P4 with an
    * empty value (no row, no id), P3 with an unparseable date (dropped), P9
    * POS (ids 4, 5; P9 is no person), P2 NEG (id 6; P2's birth date is
    * invalid, so P2 is not in the dictionary), P1 NEG (id 7), P1 with an
    * unparseable date. The dictionary numbers the first valid row per id in
    * Demo.csv order: P1 → 1, P3 → 2, P4 → 3, P5 → 4. Columns: observation_id,
    * person_id, observation_concept_id, observation_date,
    * observation_datetime, then the NOT NULL observation_type_concept_id
    * defaulted to 0 and twelve empty columns. */
  private def tinyObservation(offset: Long): Seq[String] = Seq(
    (1L, "1", "1001", "2020-01-01"),
    (2L, "1", "1002", "2020-01-01"),
    (3L, "2", "2001", "2020-01-02"),
    (7L, "1", "2001", "2020-01-07")).map { case (id, person, concept, date) =>
      (Seq(s"${id + offset}", person, concept, date, s"$date 00:00:00", "0") ++ Seq.fill(12)(""))
        .mkString("\t")
    }

  private def tempDir(prefix: String): Path = Files.createTempDirectory(prefix)

  private def lines(path: Path): Seq[String] =
    new String(Files.readAllBytes(path), UTF_8).split("\n", -1).toSeq.dropRight(1)

  private def write(path: Path, text: String): Path = Files.write(path, text.getBytes(UTF_8))

  private def cli(inputs: String, rules: String, extra: String*): Path = {
    val out = tempDir("ordered_out")
    spark // the CLI finds the shared session through getOrCreate and leaves it up
    CarrotCli.run(Array("--rules-file", rules, "--inputs", inputs, "--output", out.toString) ++ extra,
      env = Map.empty, log = (_: String) => ())
    out
  }

  private def ids(rows: Seq[String]): Seq[Long] = rows.map(_.takeWhile(_ != '\t').toLong)

  private def session(cachedPlanAqe: Boolean, shufflePartitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    s.conf.set(CachedPlanConf, cachedPlanAqe.toString)
    s
  }

  private def engine(s: SparkSession, inputs: String, lastUsed: Map[String, Long]): CarrotEngine = {
    val rules = Rules.fromFile(rulesV2, Golden.schema)
    new CarrotEngine(s, Golden.schema, rules, src => CsvSource.read(s, inputs, src), lastUsedIds = lastUsed)
  }

  private def tsvRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("\t"))

  /** The sorts of `df`'s executed plan (run it first); the cached
    * snapshot's own plan sits behind its scan and is not searched. */
  private def sorts(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case x: SortExec => x }

  private def assertWrittenFromSnapshot(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case x: ShuffleExchangeExec => x }.isEmpty, plan.treeString)
    assert(sorts(df).isEmpty, plan.treeString)
  }

  test("runOrdered() writes a numbered target from its id snapshot: no shuffle, no sort") {
    // with and without AQE on cached plans: the CLI's session sets it, and
    // a session built without it must plan the same way
    for (aqe <- Seq(true, false)) {
      val e = engine(session(aqe, shufflePartitions = 4), dir, Map.empty)
      try {
        val out = e.runOrdered()
        val obs = out("observation")
        assert(tsvRows(obs) == tinyObservation(0L), s"aqe on cached plans: $aqe")
        assertWrittenFromSnapshot(obs)
        // the person target has no auto-number field: it still sorts
        val person = out("person")
        person.collect()
        assert(sorts(person).nonEmpty)
      } finally e.close()
    }
  }

  test("CarrotCli writes metrics_tiny observation.tsv in file order with the hand-derived ids") {
    val header = Golden.schema.columns("observation").mkString("\t")
    val plain = lines(cli(dir, rulesV2).resolve("observation.tsv"))
    assert(plain == header +: tinyObservation(0L))
    // ids rise in file order, with the gaps of the J1 misses (P9, P2)
    assert(ids(plain.tail) == Seq(1L, 2L, 3L, 7L))

    val lastUsed = write(tempDir("last_used").resolve("last_used_ids.tsv"),
      "observation\t100\n\nperson\t5\n")
    val resumed = lines(cli(dir, rulesV2, "--last-used-ids-file", lastUsed.toString)
      .resolve("observation.tsv"))
    assert(resumed == header +: tinyObservation(100L))
  }

  test("a malformed last-used-ids line fails naming the file and the line") {
    val bad = write(tempDir("last_used_bad").resolve("ids.tsv"), "observation\t100\nperson 5\n")
    val e = intercept[IllegalArgumentException] {
      cli(dir, rulesV2, "--last-used-ids-file", bad.toString)
    }
    assert(e.getMessage.contains(s"$bad:2:"), e.getMessage)
    assert(e.getMessage.contains("person 5"), e.getMessage)
  }

  test("ids over an 8-partition snapshot equal a naive single-partition row_number model") {
    val rnd = new scala.util.Random(8)
    val inputs = tempDir("ordered_multi")
    // Q0..Q199; every 13th has a calendar-invalid birth date and so is no
    // person; Q200..Q229 never appear in Demo.csv at all
    val persons = (0 until 200).map(i => (s"Q$i", if (i % 13 == 0) "1990-02-30" else "1980-05-05"))
    write(inputs.resolve("Demo.csv"),
      ("PersonID,sex,dob" +: persons.map { case (p, d) => s"$p,M,$d" }).mkString("", "\n", "\n"))
    val obs = (0 until 3000).map { _ =>
      (s"Q${rnd.nextInt(230)}", Seq("POS", "NEG", "")(rnd.nextInt(3)),
        if (rnd.nextInt(10) == 0) "not-a-date" else f"2020-0${1 + rnd.nextInt(9)}-${1 + rnd.nextInt(28)}%02d")
    }
    write(inputs.resolve("Obs.csv"),
      ("PersonID,result,obs_date" +: obs.map { case (p, v, d) => s"$p,$v,$d" }).mkString("", "\n", "\n"))

    val s = session(cachedPlanAqe = false, shufflePartitions = 8)
    import s.implicits._
    // the model: candidate rows in file order (line, combo), numbered by
    // one unpartitioned row_number, then the dictionary's inner join
    val concepts = Map("POS" -> Seq("1001", "1002"), "NEG" -> Seq("2001"))
    val candidates = obs.zipWithIndex.filter(_._1._3 != "not-a-date").flatMap { case ((p, v, d), line) =>
      concepts.getOrElse(v, Nil).zipWithIndex.map { case (c, combo) => (line, combo, p, c, d) }
    }.toDF("line", "combo", "p", "concept", "date")
    val dictionary = persons.filterNot(_._2 == "1990-02-30").map(_._1).zipWithIndex
      .map { case (p, i) => (p, (i + 1).toString) }.toDF("p", "person_id")
    val offset = 41L
    val model = candidates
      .withColumn("id", row_number().over(Window.orderBy("line", "combo")) + offset)
      .join(dictionary, "p")
      .orderBy("id")
      .select(col("id").cast("string"), col("person_id"), col("concept"), col("date"))

    val e = engine(s, inputs.toString, Map("observation" -> offset))
    try {
      val written = e.runOrdered()("observation")
      // no exchange under the write: its partitions are the snapshot's
      assert(written.rdd.getNumPartitions >= 4, written.rdd.getNumPartitions)
      val got = written.select("observation_id", "person_id", "observation_concept_id", "observation_date")
      val expected = tsvRows(model)
      assert(expected.size > 1000)
      assert(tsvRows(got) == expected)
      assertWrittenFromSnapshot(got)
      // file order is id order, and the misses leave gaps
      val modelIds = ids(expected)
      assert(modelIds == modelIds.sorted && modelIds.last > offset + modelIds.size)
    } finally e.close()
  }

  test("a numbered target with zero candidate rows writes a header-only TSV; one row gets offset + 1") {
    val header = Golden.schema.columns("observation").mkString("\t")
    val none = tempDir("ordered_none")
    Files.copy(Path.of(dir, "Demo.csv"), none.resolve("Demo.csv"))
    write(none.resolve("Obs.csv"), "PersonID,result,obs_date\nP1,POS,not-a-date\nP3,NEG,13/13/13\n")
    assert(lines(cli(none.toString, rulesV2).resolve("observation.tsv")) == Seq(header))

    val one = tempDir("ordered_one")
    Files.copy(Path.of(dir, "Demo.csv"), one.resolve("Demo.csv"))
    write(one.resolve("Obs.csv"), "PersonID,result,obs_date\nP3,NEG,2020-01-02\nP1,POS,bad\n")
    val lastUsed = write(tempDir("last_used_one").resolve("last_used_ids.tsv"), "observation\t41\n")
    val rows = lines(cli(one.toString, rulesV2, "--last-used-ids-file", lastUsed.toString)
      .resolve("observation.tsv"))
    assert(rows == Seq(header,
      (Seq("42", "2", "2001", "2020-01-02", "2020-01-02 00:00:00", "0") ++ Seq.fill(12)("")).mkString("\t")))
  }
}
