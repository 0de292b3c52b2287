package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.DateNorm
import graft.ops.IdAssign

/** Person-ID dictionary build (reference J2, `tools/person_helpers.py:90-151`):
  * scan the person file, reject empty IDs and birthdates that fail the STRICT
  * date-only validator (`tools/validation.py:13-63` — datetime strings are
  * rejected on purpose; event dates use the laxer normalise_to8601), keep the
  * first occurrence per source ID in file order, and assign dense string IDs
  * "1","2",… in file order — or pass the source IDs through when
  * `useInputPersonIds`.
  *
  * The result is small relative to the fact tables (one row per person) and
  * is broadcast at the J1 join sites.
  */
object PersonLookup {

  /** @param personDf raw person source with `_row_idx` (CsvSource.read) */
  def build(personDf: DataFrame, personIdField: String, birthDateField: String,
            useInputPersonIds: Boolean,
            scope: graft.ops.CacheScope = graft.ops.CacheScope.noop): DataFrame = {
    val valid = personDf
      .filter(trim(col(personIdField)) =!= "" && DateNorm.strictDate(col(birthDateField)).isNotNull)
      .select(col(personIdField).as("source_subject"), col(CsvSource.RowIdx))

    // first occurrence per source ID == min row index; a groupBy gets
    // map-side partial aggregation and skips the WindowExec stage a
    // row_number() dedupe would add (same shuffle key either way)
    val first = valid
      .groupBy(col("source_subject"))
      .agg(min(col(CsvSource.RowIdx)).as(CsvSource.RowIdx))

    val withId =
      if (useInputPersonIds)
        first.withColumn("target_subject", col("source_subject"))
      else
        IdAssign.withDenseId(first, "_dense", 0L, scope, col(CsvSource.RowIdx))
          .withColumn("target_subject", col("_dense").cast("string"))

    withId.select(col("source_subject"), col("target_subject"))
  }
}
