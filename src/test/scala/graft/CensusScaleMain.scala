package graft

import org.apache.spark.sql.functions._

import graft.DevHarness.{replay, timed}

/** Dev harness for the round-10 census/report operators: replay the
  * sf0.1 documents table K× (the TextScaleMain discipline — doc_ids
  * offset per copy, content identical) and time each at 1× and K×.
  * Content replication is the sharpest probe for each op's scale claim:
  *
  *  - ngramDiversity: totals must grow K× while the DISTINCT side is
  *    replication-invariant (the distinct-class table rides content,
  *    not corpus) — both asserted, not just timed.
  *  - ngramDiversityApprox: same shape on HLL state; the sketch
  *    estimate must stay within rsd-slack of the invariant exact count.
  *  - piiCensus: row-local regexp projection + narrow agg — linear.
  *  - manifest: rank + row-local hash + partial-agg rollup — linear,
  *    per-shard sums exactly K× the 1× sums for counts/tokens.
  *
  * Usage: sbt "Test/runMain graft.CensusScaleMain [K]"   (default 8)
  */
object CensusScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 8
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))

    var div1: Map[(String, Int), (Long, Long)] = Map.empty
    for ((label, copies) <- Seq("1x" -> 1, s"${k}x" -> k)) {
      val docs = replay(base, "doc_id", copies)
      val div = timed(s"ngramDiversity      $label") {
        graft.ops.Corpus.ngramDiversity(docs, "source", "text")
          .collect().map(r => (r.getString(0), r.getInt(1)) ->
            (r.getLong(2), r.getLong(3))).toMap
      }
      if (copies == 1) div1 = div
      else for ((key, (tot, dist)) <- div) {
        require(tot == copies * div1(key)._1,
          s"$key: totals must scale ${copies}x")
        require(dist == div1(key)._2,
          s"$key: distincts must be replication-INVARIANT " +
            s"(got $dist vs ${div1(key)._2})")
      }
      val divA = timed(s"ngramDiversityApprox $label") {
        graft.ops.Corpus.ngramDiversityApprox(docs, "source", "text")
          .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
      }
      for ((key, est) <- divA) {
        val exact = div(key)._2
        require(math.abs(est - exact) <= math.max(8.0, 0.25 * exact),
          s"$key: sketch $est vs exact $exact")
      }
      timed(s"piiCensus           $label") {
        graft.ops.Scrub.piiCensus(docs, "source", "text").collect()
      }
      timed(s"manifest            $label") {
        val sized = docs.select(col("doc_id"), col("text"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("_nt"))
        graft.ops.Shard.manifest(
          graft.ops.Shard.balancedAssign(sized, "doc_id", "_nt", 8),
          "doc_id", "text", "_nt").collect()
      }
    }
    println("CensusScaleMain: all invariants held")
    spark.stop()
  }
}
