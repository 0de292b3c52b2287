package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DateExprs, DateNorm}

/** Unit tests for the reference-faithful date semantics
  * (cases derived from carrot-transform tools/date_helpers.py +
  * tools/validation.py behavior, exercised via its test corpus). The
  * normalise8601 cases run the shipped [[DateExprs.normalise8601]]. */
class DateNormSpec extends AnyFunSuite {
  import DateNormSpec.ComposableNormalise8601
  private lazy val spark = Golden.spark
  import spark.implicits._

  private def norm(ss: String*): Seq[String] =
    ss.toDF("raw").select(DateExprs.normalise8601(col("raw")).as("n"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq

  private def strict(ss: String*): Seq[String] =
    ss.toDF("raw").select(DateNorm.strictDate(col("raw")).cast("string").as("n"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq

  test("normalise8601 basic forms") {
    assert(norm("2020-01-02") == Seq("2020-01-02 00:00:00"))
    assert(norm("2020/01/02") == Seq("2020-01-02 00:00:00"))
    assert(norm("02-01-2020") == Seq("2020-01-02 00:00:00"))
    assert(norm("02/01/2020") == Seq("2020-01-02 00:00:00"))
  }

  test("normalise8601 times") {
    assert(norm("2020-01-02 11:12") == Seq("2020-01-02 11:12:00"))
    assert(norm("2020-01-02 11:12:13") == Seq("2020-01-02 11:12:13"))
    assert(norm("2020-01-02 11:12:13.123456") == Seq("2020-01-02 11:12:13"))
    // malformed time -> midnight (time regex is a prefix match needing HH:MM)
    assert(norm("2020-01-02 1:2") == Seq("2020-01-02 00:00:00"))
    // more than one space -> time part ignored
    assert(norm("2020-01-02 11:12:13 extra") == Seq("2020-01-02 00:00:00"))
  }

  test("normalise8601 quirks kept from the reference") {
    // prefix match tolerates trailing junk
    assert(norm("2020-01-02junk") == Seq("2020-01-02 00:00:00"))
    // no calendar validation at this stage (month 13 passes)
    assert(norm("2020-13-40") == Seq("2020-13-40 00:00:00"))
    // year-first pattern is tried first and prefix-matches, so a day-first
    // string with a 4-digit trailing year parses as year=0102 day=20
    assert(norm("0102-03-2020") == Seq("0102-03-20 00:00:00"))
    // single-digit fields don't match either pattern
    assert(norm("2020-1-2", "bad", "") == Seq(null, null, null))
  }

  test("Normalise8601 expression is bit-identical to the composable form") {
    val corpus = Seq(
      "2020-01-02", "2020/01/02", "02-01-2020", "02/01/2020",
      "2020-01-02 11:12", "2020-01-02 11:12:13", "2020-01-02 11:12:13.123456",
      "2020-01-02 1:2", "2020-01-02 11:12:13 extra", "2020-01-02junk",
      "2020-13-40", "0102-03-2020", "2020-1-2", "bad", "", " ", "  ",
      "2020-01/02", "02/01-2020", "0001-02-03", "9999-12-31 23:59:59",
      "12-34-5678", "2020-01-02 99:99", "2020-01-02 11:12:13.12345",
      "2020-01-02  11:12", "x 11:12", "11:12 2020-01-02", null)
    val df = corpus.toDF("raw")
    val both = df.select(
      ComposableNormalise8601(col("raw")).as("a"),
      DateExprs.normalise8601(col("raw")).as("b"))
    val rows = both.collect()
    rows.zip(corpus).foreach { case (r, in) =>
      val a = if (r.isNullAt(0)) null else r.getString(0)
      val b = if (r.isNullAt(1)) null else r.getString(1)
      assert(a == b, s"mismatch for input '$in': composable=$a expr=$b")
    }
  }

  test("strictDate accepts the three date-only formats, rejects datetimes") {
    assert(strict("1985-03-01") == Seq("1985-03-01"))
    assert(strict("1985-3-1") == Seq("1985-03-01"))   // strptime tolerates non-padded
    assert(strict("01-03-1985") == Seq("1985-03-01")) // DD-MM-YYYY
    assert(strict("01/03/1985") == Seq("1985-03-01")) // DD/MM/YYYY
    assert(strict("1985-03-01 00:00:00", "2020-02-30", "", "nope") ==
      Seq(null, null, null, null))
  }
}

object DateNormSpec {

  /** Reference model of `normalise_to8601` as a composition of built-in
    * Spark SQL functions (one `regexp_extract` per captured group), written
    * straight from the reference's rules; the shipped expression must
    * match it bit for bit. */
  object ComposableNormalise8601 {
    private val YearFirst = "^(\\d{4})[-/](\\d{2})[-/](\\d{2})"
    private val DayFirst  = "^(\\d{2})[-/](\\d{2})[-/](\\d{4})"
    private val TimeRe    = "^(\\d{2}):(\\d{2})(:(\\d{2})(\\.\\d{6})?)?"

    private def zfill(c: Column, n: Int): Column =
      lpad(c.cast("int").cast("string"), n, "0")

    /** "YYYY-MM-DD HH:MM:SS" or null. */
    def apply(raw: Column): Column = {
      val toks   = split(raw, " ", -1)
      val p0     = toks.getItem(0)
      val yfYear = regexp_extract(p0, YearFirst, 1)
      val yf     = yfYear =!= ""
      val dfYear = regexp_extract(p0, DayFirst, 3)
      val df     = dfYear =!= ""

      val year  = when(yf, yfYear).when(df, dfYear)
      val month = when(yf, regexp_extract(p0, YearFirst, 2)).when(df, regexp_extract(p0, DayFirst, 2))
      val day   = when(yf, regexp_extract(p0, YearFirst, 3)).when(df, regexp_extract(p0, DayFirst, 1))

      val datePart = concat(zfill(year, 4), lit("-"), zfill(month, 2), lit("-"), zfill(day, 2))

      val t       = toks.getItem(1)
      val hasTwo  = size(toks) === 2
      val hh      = regexp_extract(t, TimeRe, 1)
      val timeOk  = hasTwo && (hh =!= "")
      val ss      = regexp_extract(t, TimeRe, 4)
      val timePart = concat(
        zfill(hh, 2), lit(":"),
        zfill(regexp_extract(t, TimeRe, 2), 2), lit(":"),
        zfill(when(ss === "", "0").otherwise(ss), 2))

      when(yf || df, concat(datePart, lit(" "), when(timeOk, timePart).otherwise(lit("00:00:00"))))
    }
  }
}
