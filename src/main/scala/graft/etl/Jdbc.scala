package graft.etl

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JDBC source/sink (reference S2/K2, `tools/sources.py:76-127`,
  * `tools/outputs.py:117-159`): full-table scans in, all-Text tables out,
  * with identifiers lower-cased for case-insensitive SQL engines.
  *
  * The reference inserts row-at-a-time in per-record transactions; here
  * `df.write.jdbc` batches inserts per partition — same table contents,
  * parallel writers.
  */
object Jdbc {

  /** Full-table scan; all columns cast to verbatim strings (the engine's
    * untyped contract), table/column names lower-cased. */
  def readTable(spark: SparkSession, url: String, table: String,
                props: Properties = new Properties()): DataFrame = {
    val raw = spark.read.jdbc(url, table.toLowerCase, props)
    val lowered = raw.columns.foldLeft(raw)((d, c) => d.withColumnRenamed(c, c.toLowerCase))
    lowered.select(lowered.columns.map(c => col(c).cast(StringType).as(c)): _*).na.fill("")
  }

  /** All-string write (reference K2 creates every column as Text). */
  def writeTable(df: DataFrame, url: String, table: String,
                 props: Properties = new Properties()): Unit = {
    val allString = df.select(df.columns.map(c => col(c).cast(StringType).as(c.toLowerCase)): _*)
    allString.write.mode("overwrite").jdbc(url, table.toLowerCase, props)
  }

  /** User-table names (lower-cased) via JDBC metadata — powers the V5
    * rules/files mismatch warning for SQL input coordinates. */
  def listTables(url: String, props: Properties = new Properties()): Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val out = Seq.newBuilder[String]
      while (rs.next()) out += rs.getString("TABLE_NAME").toLowerCase
      out.result()
    } finally conn.close()
  }

  /** Schema of an all-string OMOP target table (for pre-created sinks). */
  def stringSchema(columns: Seq[String]): StructType =
    StructType(columns.map(c => StructField(c.toLowerCase, StringType)))
}
