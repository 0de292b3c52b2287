package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** CSV-directory source with the reference's ingest quirks
  * (carrot-transform `tools/sources.py:130-180`):
  *  - `<dir>/<table>.csv`, UTF-8 with BOM tolerated (BOM handled by Spark's
  *    CSV reader; a BOM leaking into the first header name is stripped),
  *  - a trailing column with an empty header (Excel trailing commas) is
  *    dropped, together with its cells,
  *  - all columns are read as verbatim strings — no type inference, no null:
  *    absent cells become the empty string, matching the reference's
  *    `list[str]` rows (`tools/sources.py:49`).
  *
  * Adds `_row_idx`, a key that rises in file order, via
  * `monotonically_increasing_id` ([[withRowIdx]]) — the processing-order
  * anchor for auto-numbering and first-wins dedupe.
  */
object CsvSource {

  val RowIdx = "_row_idx"

  def stripCsvExtension(name: String): String =
    if (name.toLowerCase.endsWith(".csv")) name.dropRight(4) else name

  def read(spark: SparkSession, dir: String, table: String, sep: String = ","): DataFrame = {
    val path = s"$dir/${stripCsvExtension(table)}.csv"
    val raw = spark.read
      .option("header", "true")
      .option("sep", sep)
      .option("inferSchema", "false")
      .option("mode", "PERMISSIVE")
      .csv(path)

    // strip a UTF-8 BOM that leaked into the first header name
    val bomFixed = raw.columns.headOption match {
      case Some(h) if h.startsWith("﻿") => raw.withColumnRenamed(h, h.substring(1))
      case _ => raw
    }
    // drop a trailing empty-header column (Spark names it _c<N>)
    val cols = bomFixed.columns
    val trimmed =
      if (cols.nonEmpty && (cols.last.isEmpty || cols.last.matches("_c\\d+")))
        bomFixed.drop(cols.last)
      else bomFixed

    withRowIdx(trimmed.na.fill(""))
  }

  /** Append a file-order ORDERING key. `_row_idx` is consumed only for
    * ordering (auto-number order, first-wins dedupe) — density is never
    * required — so `monotonically_increasing_id` does the job with no RDD
    * conversion and no eager job (an RDD `zipWithIndex` runs its count job
    * at definition time): partition ids follow file-offset order for a
    * single file's splits, and the id increases within each partition.
    *
    * CONTRACT NOTE: "partition order == file-offset order" holds because
    * FilePartition packing sorts splits by length DESCENDING with a stable
    * sort, and one file's splits are equal-sized except the last. That is
    * Spark implementation detail, not API; MultiSplitSpec forces a
    * many-split read and fails loudly if an upgrade changes the packing. */
  def withRowIdx(df: DataFrame): DataFrame =
    df.withColumn(RowIdx, monotonically_increasing_id())

  /** Coerce any typed frame to the engine's verbatim-string contract:
    * every column cast to string, nulls to the empty string (how the
    * reference's csv rows look). Used for parquet/JDBC inputs. */
  def allString(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      col(c).cast(org.apache.spark.sql.types.StringType).as(c)): _*).na.fill("")
}
