package graft

import org.apache.spark.sql.functions._

import graft.DevHarness.timed

/** Dev harness: time TsvSink.writeDir vs writeSingleFile on the same
  * wide synthetic frame, isolated from the ETL engine — pins down
  * whether a sink-mode delta is the writer or the weather.
  *
  * Usage: sbt "Test/runMain graft.SinkBenchMain [nRows]"
  */
object SinkBenchMain {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 3000000L
    val spark = DevHarness.session()
    // ~20 mostly-empty string columns, like an OMOP measurement row
    val df = spark.range(n).select(
      (col("id") + 1).cast("string").as("measurement_id") +:
        col("id").cast("string").as("person_id") +:
        lit("3025315").as("measurement_concept_id") +:
        lit("2024-01-01").as("measurement_date") +:
        lit("2024-01-01 00:00:00").as("measurement_datetime") +:
        (5 until 20).map(i => lit(if (i % 3 == 0) "0" else "").as(s"c$i")): _*)
      .repartition(32)
      .persist()
    println(s"rows: ${df.count()}")
    for (i <- 0 until 2) {
      timed(s"run$i writeDir")(graft.etl.TsvSink.writeDir(df, DevHarness.tempPath("sink_dir")))
      timed(s"run$i writeSingleFile")(
        graft.etl.TsvSink.writeSingleFile(df, DevHarness.tempPath("sink_single.tsv")))
    }
    spark.stop()
  }
}
