package graft

import org.apache.spark.sql.functions._

import graft.DevHarness.time

/** Dev harness: do the round-6 text operators scale linearly? Replays the
  * sf0.1 documents table K× (doc_ids offset per copy, content identical)
  * and times chunk dedup, DSIR weights, and the bigram-LM score at 1× and
  * K×. Content replication is the WORST case for chunk dedup (every chunk
  * is duplicated K×, so the election groupBy carries K rows per key) and
  * leaves the LM/DSIR vocabulary fixed while the token stream grows K× —
  * the 100 TB shape, where distinct-key tables grow far slower than the
  * corpus.
  *
  * Usage: sbt "Test/runMain graft.TextScaleMain [K]"   (default 8)
  */
object TextScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 8
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))

    for ((label, copies) <- Seq("1x" -> 1, s"${k}x" -> k)) {
      val docs = DevHarness.replay(base, "doc_id", copies)
      val a = time(s"chunkDedup   $label")(graft.ops.Dedup.chunkDedup(docs, "doc_id", "text", 10))
      val b = time(s"dsirWeights  $label")(graft.ops.Corpus.dsirWeights(docs, "doc_id", "text", col("lang") === "en"))
      val c = time(s"bigramLm     $label")(graft.ops.Corpus.bigramLmScore(docs, "doc_id", "text"))
      // round-9: the repetition gate is row-local (the zero-shuffle bound)
      // and the normalized dedup is ONE groupBy on 16-byte keys whose
      // distinct-key table is replication-invariant — both should track
      // the corpus linearly at worst. The gate is FORCED through an
      // aggregate over its feature columns: a bare count() would let
      // column pruning skip the projection entirely and time nothing
      val d = time(s"repetitionGate $label")(
        graft.ops.TextAnalysis.gopherRepetitionGate(docs, "doc_id", "text")
          .agg(sum(col("rep_ok")), sum(col("top2_char_frac")),
            sum(col("rep5_char_frac")), sum(col("rep10_char_frac"))))
      val e = time(s"normDedup    $label")(
        docs.select(md5(graft.ops.TextAnalysis.normalizeForDedup(col("text"))).as("fp"))
          .groupBy(col("fp")).agg(count(lit(1)).as("n")))
      println(f"SCALE total $label: ${a + b + c + d + e}%.2f s")
    }
    spark.stop()
  }
}
