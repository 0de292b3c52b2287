package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.DevHarness.time

/** Dev harness: do the standing-ledger reads stay flat as history grows?
  * Builds histogram- and sample-ledgers over K batches (each a full
  * sf0.1 documents replay with offset ids — K× history), then times the
  * reads a daily loop actually pays:
  *   - drift probe (one batch sketch + ledger read) at 1× vs K× history,
  *     against the naive alternative (re-histogram the FULL history);
  *   - corpus-to-date sample read at 1× vs K× dirs, before and after
  *     compaction.
  * The claim under test: ledger reads cost dirs × groups × grid — never
  * corpus rows — so K× history moves them marginally while the naive
  * rescan grows ~K×.
  *
  * Usage: sbt "Test/runMain graft.LedgerScaleMain [K]"   (default 16)
  */
object LedgerScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 16
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")
    import graft.ops.{HistLedger, SampleLedger}

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"),
        graft.ops.TextAnalysis.tokenCount(col("text")).as("n"))
      .cache()
    val nd = docs.count()
    def batch(i: Int): DataFrame =
      docs.select((col("doc_id") + lit(i.toLong * nd)).as("doc_id"),
        col("lang"), col("source"), col("n"))

    val hist1 = DevHarness.tempPath("histscale1")
    val histK = DevHarness.tempPath("histscaleK")
    HistLedger.append(spark, hist1, batch(0), "lang", "n", 0L, 0.0, 200.0, 20)
    (0 until k).foreach(i =>
      HistLedger.append(spark, histK, batch(i), "lang", "n", i.toLong, 0.0, 200.0, 20))

    val probe = batch(k) // the arriving batch, identical cost both sides
    time(s"drift probe    1x history")(
      HistLedger.drift(spark, hist1, probe, "lang", "n"))
    time(s"drift probe    ${k}x history")(
      HistLedger.drift(spark, histK, probe, "lang", "n"))
    time(s"naive rescan   ${k}x history") {
      // what the drift probe REPLACES: re-histogram the full history
      val full = (0 until k).map(batch).reduce(_ unionAll _)
      HistLedger.tvDistance(
        HistLedger.sketch(full, "lang", "n", 0.0, 200.0, 20),
        HistLedger.sketch(probe, "lang", "n", 0.0, 200.0, 20))
    }
    time(s"quantile read  ${k}x history")(
      HistLedger.quantiles(spark, histK, Seq(0.5, 0.9, 0.99)))

    val samp1 = DevHarness.tempPath("sampscale1")
    val sampK = DevHarness.tempPath("sampscaleK")
    SampleLedger.append(spark, samp1, batch(0), "lang", "doc_id", "source", 0L, k = 20)
    (0 until k).foreach(i =>
      SampleLedger.append(spark, sampK, batch(i), "lang", "doc_id", "source",
        i.toLong, k = 20))
    time(s"sample read    1x history")(
      SampleLedger.merged(spark, samp1))
    time(s"sample read    ${k}x dirs")(
      SampleLedger.merged(spark, sampK))
    SampleLedger.compact(spark, sampK, upTo = (k - 2).toLong)
    time(s"sample read    ${k}x compacted")(
      SampleLedger.merged(spark, sampK))

    spark.stop()
  }
}
