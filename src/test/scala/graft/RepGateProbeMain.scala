package graft

import org.apache.spark.sql.functions._

import graft.DevHarness.timed

/** Dev probe: time the repetition gate's FULL evaluation (parquet write)
  * at sf0.01 under both gate-query instantiations, and print the final
  * plan so projection-collapse regressions are visible. */
object RepGateProbeMain {
  def main(args: Array[String]): Unit = {
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.01")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = DevHarness.tempPath("repgate_probe")
    def run(label: String, repNs: Seq[(Int, Double)]): Unit = timed(s"repGate write $label")(
      graft.ops.TextAnalysis.gopherRepetitionGate(docs, "doc_id", "text", repNs = repNs)
        .write.mode("overwrite").parquet(out))
    run("lite(3,5)", Seq(3 -> 0.15, 5 -> 0.15))
    DevHarness.time("repGate filtered-count")(
      graft.ops.TextAnalysis.gopherRepetitionGate(docs, "doc_id", "text",
          repNs = Seq(3 -> 0.15, 5 -> 0.15))
        .filter(col("rep_ok") === 1).select("doc_id"))
    run("full(5..10)", Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13,
      8 -> 0.12, 9 -> 0.11, 10 -> 0.10))
    graft.ops.TextAnalysis.gopherRepetitionGate(docs, "doc_id", "text")
      .explain("formatted")
    spark.stop()
  }
}
