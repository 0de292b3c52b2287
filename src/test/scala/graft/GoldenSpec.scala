package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl._

/** Golden-output end-to-end tests against the reference's own test corpus
  * (carrot-transform tests/test_data), using the reference harness's
  * comparison contract (`tests/testools.py:44-161`): headers must match
  * exactly; rows compare as MULTISETS (order-insensitive, duplicates
  * significant) after stripping the auto-number first column of non-person
  * tables and un-mapping assigned person IDs back to source IDs via each
  * side's person_ids table. */
object Golden {
  // the shared test session; its nanosAsLong lets DispatchSpec read
  // TIMESTAMP(NANOS) parquet
  lazy val spark: SparkSession = GraftSession.local(4)

  val RefRoot   = "/root/reference"
  // the bundled copies production loads by default (CarrotCli, AtPath)
  val DdlPath   = "@carrot/config/OMOPCDM_postgresql_5.3_ddl.sql"
  val CfgPath   = "@carrot/config/config.json"

  lazy val schema: OmopSchema = OmopSchema.fromFiles(DdlPath, CfgPath)

  def engine(dataDir: String, rulesPath: String): CarrotEngine = {
    val rules = Rules.fromFile(rulesPath, schema)
    new CarrotEngine(spark, schema, rules, src => CsvSource.read(spark, dataDir, src))
  }

  def readTsv(path: String): DataFrame =
    spark.read.option("header", "true").option("sep", "\t").option("inferSchema", "false")
      .csv(path).na.fill("")

  /** rows → multiset of joined-string rows */
  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toSeq.map(v => if (v == null) "" else v.toString).mkString(""))
      .groupBy(identity).map { case (k, v) => k -> v.length }

  /** Compare one output table with its golden, per the reference contract. */
  def assertMatches(target: String, mine: DataFrame, myPersonIds: DataFrame,
                    goldenDir: String): Unit = {
    val golden = readTsv(s"$goldenDir/$target.tsv")
    val goldenIds = readTsv(s"$goldenDir/person_ids.tsv")

    assert(mine.columns.map(_.toLowerCase).toSeq == golden.columns.map(_.toLowerCase).toSeq,
      s"$target: header mismatch\nmine:   ${mine.columns.mkString(",")}\ngolden: ${golden.columns.mkString(",")}")

    val pidCol = Golden.schema.personIdField.getOrElse(target, "person_id")

    def unmap(df: DataFrame, ids: DataFrame): DataFrame = {
      val rev = ids.select(col("TARGET_SUBJECT").as("_t"), col("SOURCE_SUBJECT").as("_s"))
      df.join(broadcast(rev), df(pidCol) === col("_t"), "left")
        .withColumn(pidCol, coalesce(col("_s"), df(pidCol)))
        .drop("_t", "_s")
    }
    def strip(df: DataFrame): DataFrame =
      if (target == "person") unmap(df, if (df eq mine) myPersonIds else goldenIds)
      else unmap(df, if (df eq mine) myPersonIds else goldenIds).drop(df.columns.head)

    val m = multiset(strip(mine))
    val g = multiset(strip(golden))
    val missing = g.toSeq.flatMap { case (r, n) => val d = n - m.getOrElse(r, 0); if (d > 0) Seq(r -> d) else Nil }
    val extra   = m.toSeq.flatMap { case (r, n) => val d = n - g.getOrElse(r, 0); if (d > 0) Seq(r -> d) else Nil }
    assert(missing.isEmpty && extra.isEmpty,
      s"""$target: row multiset mismatch (${m.values.sum} mine vs ${g.values.sum} golden)
         |missing from mine: ${missing.take(3).mkString("\n  ")}
         |extra in mine:     ${extra.take(3).mkString("\n  ")}""".stripMargin)
  }

  /** Exact ordered comparison of the summary_mapstream table. */
  def assertSummaryMatches(dataDir: String, rulesPath: String, goldenDir: String): Unit = {
    val eng = engine(dataDir, rulesPath)
    val mine = eng.summary().collect()
      .map(_.toSeq.map(v => if (v == null) "" else v.toString))
    val lines = scala.io.Source.fromFile(s"$goldenDir/summary_mapstream.tsv", "UTF-8")
      .getLines().map(_.stripSuffix("\r")).toSeq
    val golden = lines.tail.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    val mismatches = mine.zipAll(golden, null, null).zipWithIndex.filter { case ((a, b), _) => a != b }
    assert(mismatches.isEmpty,
      s"""summary mismatch (${mine.length} mine vs ${golden.length} golden); first diffs:
         |${mismatches.take(4).map { case ((a, b), i) => s"row $i\n  mine:   $a\n  golden: $b" }.mkString("\n")}""".stripMargin)
  }

  def runCase(dataDir: String, rulesPath: String, goldenDir: String, targets: Seq[String]): Unit = {
    val eng = engine(dataDir, rulesPath)
    val out = eng.run()
    val myIds = eng.personLookup
      .select(col("source_subject").as("SOURCE_SUBJECT"), col("target_subject").as("TARGET_SUBJECT"))
    for (t <- targets) assertMatches(t, out(t), myIds, goldenDir)
  }
}

class GoldenSpec extends AnyFunSuite {
  val td = s"${Golden.RefRoot}/tests/test_data"

  test("integration_test1 v2 rules match v2 goldens") {
    Golden.runCase(s"$td/integration_test1", s"${Golden.RefRoot}/tests/test_V2/rules-v2.json",
      s"$td/integration_test1/v2-out", Seq("person", "measurement", "observation"))
  }

  test("integration_test1 v1 rules match v1 goldens") {
    Golden.runCase(s"$td/integration_test1", s"$td/integration_test1/transform-rules.json",
      s"$td/integration_test1", Seq("person", "measurement", "observation"))
  }

  test("floats: verbatim float strings survive") {
    Golden.runCase(s"$td/floats", s"$td/floats/rules.json",
      s"$td/floats", Seq("person", "measurement"))
  }

  test("duplications: duplicate rows preserved, v1 person duplicates kept") {
    Golden.runCase(s"$td/duplications", s"$td/duplications/transform-rules.json",
      s"$td/duplications", Seq("person", "measurement", "observation"))
  }

  test("mapping_person: person fields split across rows, term-gated emission") {
    Golden.runCase(s"$td/mapping_person", s"$td/mapping_person/multi_mapping.json",
      s"$td/mapping_person", Seq("person", "observation"))
  }

  test("observe_smoking: multi-row observations") {
    Golden.runCase(s"$td/observe_smoking", s"$td/observe_smoking/mapping.json",
      s"$td/observe_smoking", Seq("person", "observation"))
  }

  test("measure_weight_height: two sources into one target") {
    Golden.runCase(s"$td/measure_weight_height", s"$td/measure_weight_height/mapping.json",
      s"$td/measure_weight_height", Seq("person", "measurement"))
  }

  test("condition: one value into two target tables") {
    Golden.runCase(s"$td/condition", s"$td/condition/mapping.json",
      s"$td/condition", Seq("person", "observation", "condition_occurrence"))
  }

  test("only_m: scalar term applies to all rows; BOM header; invalid birthdate rejected") {
    Golden.runCase(s"$td/only_m", s"$td/only_m/v1-rules.json",
      s"$td/only_m/v1-out", Seq("person", "condition_occurrence"))
  }

  test("summary_mapstream matches golden: integration_test1 v1") {
    Golden.assertSummaryMatches(s"$td/integration_test1",
      s"$td/integration_test1/transform-rules.json", s"$td/integration_test1")
  }

  test("summary_mapstream matches golden: integration_test1 v2") {
    Golden.assertSummaryMatches(s"$td/integration_test1",
      s"${Golden.RefRoot}/tests/test_V2/rules-v2.json", s"$td/integration_test1/v2-out")
  }

  test("summary_mapstream matches golden: observe_smoking v1") {
    Golden.assertSummaryMatches(s"$td/observe_smoking",
      s"$td/observe_smoking/mapping.json", s"$td/observe_smoking")
  }

  test("examples corpus v1 rules") {
    val ex = s"${Golden.RefRoot}/carrottransform/examples/test"
    Golden.runCase(s"$ex/inputs", s"$ex/rules/rules_14June2021.json",
      s"$ex/output", Seq("person", "measurement", "observation", "condition_occurrence"))
  }
}
