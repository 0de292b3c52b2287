package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graft.ColumnBridge

/** The reference's `normalise_to8601` (`tools/date_helpers.py:31-83`),
  * verified against its unit tests:
  *  - input split on single spaces; token 0 is the date, token 1 (only when
  *    there are exactly two tokens) is the time; extra tokens → time ignored;
  *  - date must PREFIX-match `dddd[-/]dd[-/]dd` (year first) or, failing
  *    that, `dd[-/]dd[-/]dddd` (day first); trailing junk tolerated; month /
  *    day values NOT range-validated; unmatched → null (row later dropped);
  *  - time must prefix-match `dd:dd[:dd[.dddddd]]`; unmatched time → midnight;
  *  - components re-rendered via str(int(x)) + zero-fill → "YYYY-MM-DD HH:MM:SS".
  *
  * A composable form of the same rules is a CASE tree of ~15
  * `regexp_extract` calls that each re-run the full pattern match — and the
  * engine evaluates it once in the date-validity FILTER and again in the
  * normalized PROJECTION, making it the hottest expression of the whole ETL
  * (round-3 profile: the largest single CPU sink in q26). This expression
  * runs each pattern's matcher at most once per row and builds the output
  * in one StringBuilder pass. That composable form is kept in DateNormSpec
  * as the reference model: the spec asserts bit-identical output over the
  * edge-case corpus, and the goldens/oracle pin it end-to-end.
  *
  * CodegenFallback: the row-local work is a few regex matches; following the
  * NGramShingles precedent, falling out of whole-stage codegen costs less
  * than the 15-regexp composable tree it replaces.
  */
case class Normalise8601(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "normalise_8601"

  @transient private lazy val yearFirst = java.util.regex.Pattern.compile("^(\\d{4})[-/](\\d{2})[-/](\\d{2})")
  @transient private lazy val dayFirst  = java.util.regex.Pattern.compile("^(\\d{2})[-/](\\d{2})[-/](\\d{4})")
  @transient private lazy val timeRe    = java.util.regex.Pattern.compile("^(\\d{2}):(\\d{2})(:(\\d{2})(\\.\\d{6})?)?")

  private def pad(sb: java.lang.StringBuilder, v: Int, width: Int): Unit = {
    // str(int(x)).zfill(width): strip leading zeros, re-pad
    val s = Integer.toString(v)
    var i = s.length
    while (i < width) { sb.append('0'); i += 1 }
    sb.append(s)
  }

  override protected def nullSafeEval(input: Any): Any = {
    // split(" ", -1): token 0 is the date, token 1 only when exactly two
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val p0 = toks(0)
    var y, mo, d: String = null
    val m1 = yearFirst.matcher(p0)
    if (m1.find()) { y = m1.group(1); mo = m1.group(2); d = m1.group(3) }
    else {
      val m2 = dayFirst.matcher(p0)
      if (m2.find()) { y = m2.group(3); mo = m2.group(2); d = m2.group(1) }
      else return null
    }
    val sb = new java.lang.StringBuilder(19)
    pad(sb, Integer.parseInt(y), 4); sb.append('-')
    pad(sb, Integer.parseInt(mo), 2); sb.append('-')
    pad(sb, Integer.parseInt(d), 2); sb.append(' ')
    var timed = false
    if (toks.length == 2) {
      val mt = timeRe.matcher(toks(1))
      if (mt.find()) {
        pad(sb, Integer.parseInt(mt.group(1)), 2); sb.append(':')
        pad(sb, Integer.parseInt(mt.group(2)), 2); sb.append(':')
        val ss = mt.group(4)
        pad(sb, if (ss == null) 0 else Integer.parseInt(ss), 2)
        timed = true
      }
    }
    if (!timed) sb.append("00:00:00")
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object DateExprs {
  def normalise8601(raw: Column): Column =
    ColumnBridge.toColumn(Normalise8601(ColumnBridge.toExpr(raw)))
}
