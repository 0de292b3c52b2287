package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date handling with the exact semantics of the reference
  * (`tools/validation.py:13-63` `valid_date_value`,
  * `tools/date_helpers.py:9-28` `get_datetime_value`), re-expressed as
  * codegen-friendly compositions of built-in Spark SQL functions — no UDFs.
  * The reference's `normalise_to8601` is [[DateExprs.normalise8601]].
  */
object DateNorm {

  /** First 10 chars of a normalized datetime — the `_date` twin of a
    * `_datetime` field (reference `tools/core.py:149-154`, config
    * `datetime_linked_fields`). */
  def dateOnly(normalized: Column): Column = substring(normalized, 1, 10)

  /** `get_datetime_value` / `valid_date_value`: strict date-only parse in one
    * of `%Y-%m-%d`, `%d-%m-%Y`, `%d/%m/%Y` (Python strptime tolerates
    * non-zero-padded fields and validates the calendar; datetime strings are
    * rejected). Returns a DateType column (null = invalid). */
  def strictDate(raw: Column): Column = {
    // try_to_date: null (not an ANSI error) on calendar-invalid dates,
    // matching strptime's ValueError -> reject path; 'yyyy-M-d' tolerates
    // non-zero-padded fields like strptime does
    def build(y: Column, m: Column, d: Column): Column =
      call_function("try_to_date", concat(y, lit("-"), m, lit("-"), d), lit("yyyy-M-d"))
    val iso = "^(\\d{1,4})-(\\d{1,2})-(\\d{1,2})$"
    val rev = "^(\\d{1,2})-(\\d{1,2})-(\\d{1,4})$"
    val uk  = "^(\\d{1,2})/(\\d{1,2})/(\\d{1,4})$"
    // strptime tries formats in order; note "01-02-2000" only reaches the
    // reverse pattern because ISO's %Y fails on a 2-digit year + 4-digit day.
    val isoOk = regexp_extract(raw, iso, 1) =!= "" && length(regexp_extract(raw, iso, 3)) <= lit(2)
    val revOk = regexp_extract(raw, rev, 1) =!= ""
    val ukOk  = regexp_extract(raw, uk, 1) =!= ""
    when(isoOk, build(regexp_extract(raw, iso, 1), regexp_extract(raw, iso, 2), regexp_extract(raw, iso, 3)))
      .when(revOk, build(regexp_extract(raw, rev, 3), regexp_extract(raw, rev, 2), regexp_extract(raw, rev, 1)))
      .when(ukOk, build(regexp_extract(raw, uk, 3), regexp_extract(raw, uk, 2), regexp_extract(raw, uk, 1)))
  }

  /** Birthdate component split (reference `record_builder.py:117-129`,
    * config `date_field_components`): str(int) — NON-zero-padded. */
  def yearStr(d: Column): Column  = year(d).cast("string")
  def monthStr(d: Column): Column = month(d).cast("string")
  def dayStr(d: Column): Column   = dayofmonth(d).cast("string")
}
