package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.etl._

/** `summary_mapstream` and the console counts on a tiny self-contained
  * corpus (`src/test/resources/metrics_tiny`), in both rules dialects.
  *
  * The corpus: `Demo.csv` has a calendar-invalid birth date (P2: it passes
  * the lax event-date normaliser but fails the strict birth-date parse, so
  * P2 is left out of the person dictionary and its person record is an
  * invalid date), a duplicated id (P1, whose first row wins in v2 only) and
  * an empty sex (P5: no person record, but P5 is in the dictionary).
  * `Obs.csv` has an empty value (P4), two unparseable dates (dropped for
  * all targets, counted only as input; one of them on a row whose value is
  * empty too, which is therefore no invalid source), an unknown person (P9)
  * and an event of P2, who is not in the dictionary.
  *
  * Every expected row below is derived by hand from the reference's
  * counting rules (`tools/metrics.py`), as listed per row — never from the
  * engine's output. Columns: dsname, source, source_field, target,
  * concept_id, additional, incount, invalid_persid, invalid_date,
  * invalid_source, outcount; rows sorted by the untruncated key string.
  */
class MetricsSummarySpec extends AnyFunSuite {

  private val dir = getClass.getResource("/metrics_tiny").getPath

  private def engine(rules: String): CarrotEngine = Golden.engine(dir, s"$dir/$rules")

  private def rows(e: CarrotEngine, threshold: Long): Seq[String] =
    e.summary(threshold).collect().toSeq.map(_.toSeq.map(v => if (v == null) "" else v.toString).mkString("\t"))

  private def table(s: String): Seq[String] =
    s.stripMargin.split("\n").toSeq.filter(_.nonEmpty).map(_.trim.split("\\s*\\|\\s*", -1).mkString("\t"))

  // v2: person records from the first row per id (P1 row 1, P2, P3, P4, P5):
  // P2 is an invalid date, P5 maps no concept -> 3 records (8507/1990,
  // 8532/1985, 8507/2001). Observations over the 6 date-valid rows: P1 POS
  // (1001, 1002), P3 NEG (2001), P4 empty (invalid source), P9 POS (2
  // misses), P2 NEG (1 miss), P1 NEG (2001) -> 4 records, 3 invalid person.
  private val v2 = table("""
    |tinyv2 | Demo | all    | all         | all  |      | 6 | 0 | 0 | 0 | 3
    |tinyv2 | Demo | all    | person      | 8507 |      | 0 | 0 | 0 | 0 | 2
    |tinyv2 | Demo | all    | person      | 8507 | 1990 | 0 | 0 | 0 | 0 | 1
    |tinyv2 | Demo | all    | person      | 8507 | 2001 | 0 | 0 | 0 | 0 | 1
    |tinyv2 | Demo | all    | person      | 8532 |      | 0 | 0 | 0 | 0 | 1
    |tinyv2 | Demo | all    | person      | 8532 | 1985 | 0 | 0 | 0 | 0 | 1
    |tinyv2 | Demo | all    | person      | all  |      | 0 | 0 | 0 | 0 | 3
    |tinyv2 | Demo | sex    | person      | all  |      | 0 | 0 | 1 | 0 | 0
    |tinyv2 | Obs  | all    | all         | all  |      | 8 | 0 | 0 | 0 | 4
    |tinyv2 | Obs  | all    | observation | 1001 |      | 0 | 0 | 0 | 0 | 1
    |tinyv2 | Obs  | all    | observation | 1002 |      | 0 | 0 | 0 | 0 | 1
    |tinyv2 | Obs  | all    | observation | 2001 |      | 0 | 0 | 0 | 0 | 2
    |tinyv2 | Obs  | all    | observation | all  |      | 0 | 3 | 0 | 0 | 4
    |tinyv2 | Obs  | result | observation | 1001 |      | 0 | 0 | 0 | 0 | 1
    |tinyv2 | Obs  | result | observation | 1002 |      | 0 | 0 | 0 | 0 | 1
    |tinyv2 | Obs  | result | observation | 2001 |      | 0 | 0 | 0 | 0 | 2
    |tinyv2 | Obs  | result | observation | all  |      | 0 | 0 | 0 | 1 | 0
    |tinyv2 | all  | all    | all         | 1001 |      | 0 | 0 | 0 | 0 | 1
    |tinyv2 | all  | all    | all         | 1002 |      | 0 | 0 | 0 | 0 | 1
    |tinyv2 | all  | all    | all         | 2001 |      | 0 | 0 | 0 | 0 | 2
    |tinyv2 | all  | all    | observation | 1001 |      | 0 | 0 | 0 | 0 | 1
    |tinyv2 | all  | all    | observation | 1002 |      | 0 | 0 | 0 | 0 | 1
    |tinyv2 | all  | all    | observation | 2001 |      | 0 | 0 | 0 | 0 | 2
    |tinyv2 | all  | all    | observation | all  |      | 0 | 0 | 0 | 0 | 4
    |tinyv2 | all  | all    | person      | all  |      | 0 | 0 | 0 | 0 | 3
    |""")

  // v1: no cross-row person dedupe and records gated on a non-empty first
  // field: P1 twice (8507/1990, 8532/1991), P2 invalid date, P3, P4; P5's
  // empty sex is an invalid source (v1 counts the person field) -> 4
  // records. Observations: exact terms only, POS -> 1001, NEG -> 2001:
  // P1 POS, P3 NEG, P1 NEG matched; P9 and P2 miss -> 3 records, 2 invalid.
  private val v1 = table("""
    |tinyv1 | Demo | all    | all         | all  |      | 6 | 0 | 0 | 0 | 4
    |tinyv1 | Demo | all    | person      | 8507 |      | 0 | 0 | 0 | 0 | 2
    |tinyv1 | Demo | all    | person      | 8507 | 1990 | 0 | 0 | 0 | 0 | 1
    |tinyv1 | Demo | all    | person      | 8507 | 2001 | 0 | 0 | 0 | 0 | 1
    |tinyv1 | Demo | all    | person      | 8532 |      | 0 | 0 | 0 | 0 | 2
    |tinyv1 | Demo | all    | person      | 8532 | 1985 | 0 | 0 | 0 | 0 | 1
    |tinyv1 | Demo | all    | person      | 8532 | 1991 | 0 | 0 | 0 | 0 | 1
    |tinyv1 | Demo | all    | person      | all  |      | 0 | 0 | 0 | 0 | 4
    |tinyv1 | Demo | sex    | person      | all  |      | 0 | 0 | 1 | 1 | 0
    |tinyv1 | Obs  | all    | all         | all  |      | 8 | 0 | 0 | 0 | 3
    |tinyv1 | Obs  | all    | observation | 1001 |      | 0 | 0 | 0 | 0 | 1
    |tinyv1 | Obs  | all    | observation | 2001 |      | 0 | 0 | 0 | 0 | 2
    |tinyv1 | Obs  | all    | observation | all  |      | 0 | 2 | 0 | 0 | 3
    |tinyv1 | Obs  | result | observation | 1001 |      | 0 | 0 | 0 | 0 | 1
    |tinyv1 | Obs  | result | observation | 2001 |      | 0 | 0 | 0 | 0 | 2
    |tinyv1 | Obs  | result | observation | all  |      | 0 | 0 | 0 | 1 | 0
    |tinyv1 | all  | all    | all         | 1001 |      | 0 | 0 | 0 | 0 | 1
    |tinyv1 | all  | all    | all         | 2001 |      | 0 | 0 | 0 | 0 | 2
    |tinyv1 | all  | all    | observation | 1001 |      | 0 | 0 | 0 | 0 | 1
    |tinyv1 | all  | all    | observation | 2001 |      | 0 | 0 | 0 | 0 | 2
    |tinyv1 | all  | all    | observation | all  |      | 0 | 0 | 0 | 0 | 3
    |tinyv1 | all  | all    | person      | all  |      | 0 | 0 | 0 | 0 | 4
    |""")

  private def outcount(row: String): Long = row.split("\t", -1).last.toLong

  /** The console's (source, target) -> count pairs, as the CLI prints them. */
  private def runLog(e: CarrotEngine): Map[(String, String), Long] =
    CarrotMetrics.runLogCounts(e).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[String]("tablename")) -> r.getAs[Long]("n")).toMap

  test("summary_mapstream of the tiny corpus, v2 rules") {
    val e = engine("rules-v2.json")
    try assert(rows(e, 0) == v2) finally e.close()
  }

  test("summary_mapstream of the tiny corpus, v1-dialect rules") {
    val e = engine("rules-v1.json")
    try assert(rows(e, 0) == v1) finally e.close()
  }

  test("a non-zero threshold drops the rows below it, outcount-0 rows included") {
    val e = engine("rules-v2.json")
    try {
      assert(rows(e, 2) == v2.filter(outcount(_) >= 2))
      assert(rows(e, 2).length == 11)
      // the memoised counters serve every threshold
      assert(rows(e, 0) == v2)
    } finally e.close()
  }

  test("run-log counts equal the summary's input and output counts, both dialects") {
    for ((rules, expected, log) <- Seq(
        ("rules-v2.json", v2, Map(("Demo.csv", "all") -> 6L, ("Demo.csv", "person") -> 3L,
          ("Obs.csv", "all") -> 8L, ("Obs.csv", "observation") -> 4L)),
        ("rules-v1.json", v1, Map(("Demo.csv", "all") -> 6L, ("Demo.csv", "person") -> 4L,
          ("Obs.csv", "all") -> 8L, ("Obs.csv", "observation") -> 3L)))) {
      val e = engine(rules)
      try {
        val counts = runLog(e)
        assert(counts == log, rules)
        // and they are the summary's own counters: per-source input_count at
        // (src, all, all), per-target output_count at (src, all, target)
        val summary = rows(e, 0)
        assert(summary == expected, rules)
        val byKey = summary.map(_.split("\t", -1)).map(c => (c(1), c(2), c(3), c(4), c(5)) -> c).toMap
        for (((src, table), n) <- counts) {
          val cells = byKey((src.takeWhile(_ != '.'), "all", table, "all", ""))
          assert((if (table == "all") cells(6) else cells(10)) == n.toString, s"$rules $src $table")
        }
      } finally e.close()
    }
  }
}
