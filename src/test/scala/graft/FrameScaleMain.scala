package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.DevHarness.timed

/** Dev harness: does the standing FRAME store ([[graft.ops.Multimodal
  * .FrameIndex]]) keep its probe flat — and its ANSWERS invariant — as
  * the store replicates? [[PHashScaleMain]]'s frame twin: replays the
  * sf0.1 documents K× (ids offset per copy) into a frame index under
  * the q199 founding geometry (128/128/4, 4 bands), then probes the
  * SAME fixed first-byte-mutant clip batch at 1× and K×.
  *
  * The ASSERTED invariant (not just timed): replicas are byte-identical,
  * so their frames hash identically and every replica pair carries the
  * SAME (n_matched, min_dist) — the best-history election breaks ties
  * to the LOWEST id, so the probe's (id, hist_id, n_matched, min_dist)
  * table at K× must EQUAL the 1× table row-for-row. Probe wall should
  * ride the batch + true-match volume, never the store scan.
  *
  * Usage: sbt "Test/runMain graft.FrameScaleMain [K]"   (default 8)
  */
object FrameScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 8
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")
    import spark.implicits._
    import graft.ops.{CacheScope, Multimodal}

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nd = docs.agg(max("doc_id")).head().getLong(0) + 1
    def replay(copies: Int): DataFrame = DevHarness.replay(docs, "doc_id", copies, nd)
    // fixed probe batch: first-byte mutants of a 2k slice — frame 0
    // moves at most 1 bit, every later frame matches at distance 0
    val batch = Multimodal.packBinary(
      docs.filter(col("doc_id") % 7 === 1).limit(2000)
        .select((col("doc_id") + 10L * nd).as("doc_id"),
          concat(lit("Z"), expr("substring(text, 2)")).as("text")),
      "doc_id", "text")

    var base: Seq[(Long, Long, Long, Int)] = null
    for ((label, copies) <- Seq("1x" -> 1, s"${k}x" -> k)) {
      CacheScope.withScope { scope =>
        val idx = timed(s"$label build") {
          val idx = Multimodal.buildFrameIndex(
            Multimodal.packBinary(replay(copies), "doc_id", "text"),
            "doc_id", "payload", frameBytes = 128, stride = 128,
            maxFrames = 4, nBands = 4, scope = scope)
          idx.banded.count()
          idx
        }
        val got = timed(s"$label probe") {
          Multimodal.incrementalFrameDupsWith(batch, idx,
              "doc_id", "payload", maxDist = 2, minMatchedFrames = 2)
            .as[(Long, Long, Long, Int)].collect().sortBy(_._1).toSeq
        }
        println(s"$label: ${got.size} verdicts")
        if (base == null) base = got
        else {
          require(got == base,
            s"probe answers changed under store replication: " +
              s"${got.diff(base).take(3)} vs ${base.diff(got).take(3)}")
          println(s"$label: probe table EQUAL to 1x (replication-invariant, " +
            s"${base.size} rows)")
        }
        require(got.nonEmpty && got.forall(_._4 <= 1),
          "every mutant clip must find its original within 1 bit")
      }
    }
    spark.stop()
  }
}
