package graft

import org.apache.spark.sql.functions._

import graft.DevHarness.{replay, time, timed}

/** Dev harness for the round-10 ranked store evals: does the RANKED
  * probe ([[graft.ops.Dedup.nearDupTopKWith]] /
  * [[graft.ops.Similarity.embedNearDupTopKWith]]) stay flat as the
  * standing store grows, and how does the brute-force ground-truth pass
  * ([[graft.ops.Dedup.exactJaccardTopK]] / exactTopK) scale beside it?
  * Replays the sf0.1 even halves K× (ids offset per copy) into standing
  * neardup/embeddup stores, then grades a FIXED query set (500 rows of
  * the odd halves) at 1× and K×.
  *
  * The claims under test: (a) the ranked probe rides the query side +
  * candidate volume, never the raw history size (same shape as the
  * verdict probes it ranks); (b) exact ground truth grows LINEARLY in
  * history — the measured reason the eval is an EVAL (run on a sampled
  * query set, never as the dedup path); (c) rankedEval itself is noise
  * on top of the searches it grades.
  *
  * Usage: sbt "Test/runMain graft.EvalScaleMain [K]"   (default 16)
  */
object EvalScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 16
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")
    import graft.ops.{CacheScope, Dedup, Similarity}

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val queries = docs.filter(col("doc_id") % 2 === 1)
      .orderBy(col("doc_id")).limit(500).cache()
    queries.count()
    val nd = docs.agg(max("doc_id")).head().getLong(0) + 1

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vq = emb.filter(col("vec_id") % 2 === 1)
      .orderBy(col("vec_id")).limit(500).cache()
    vq.count()
    val nv = emb.agg(max("vec_id")).head().getLong(0) + 1

    for ((label, copies) <- Seq("1x" -> 1, s"${k}x" -> k)) {
      CacheScope.withScope { scope =>
        val hist = replay(docs.filter(col("doc_id") % 2 === 0), "doc_id", copies, nd)
        val idx = timed(s"nd build        $label") {
          val idx = Dedup.buildNearDupIndex(hist, "doc_id", "text",
            k = 4, rowsPerBand = 2, n = 5, scope = scope)
          idx.bandFrame.count()
          idx
        }
        for (pass <- Seq("cold", "warm"))
          time(s"nd rankedprobe $pass $label")(
            Dedup.nearDupTopKWith(queries, idx, "doc_id", "text",
              minJaccard = 0.2, topK = 5, scope = scope))
        time(s"nd exact+eval   $label") {
          val approx = Dedup.nearDupTopKWith(queries, idx, "doc_id", "text",
            minJaccard = 0.2, topK = 5, scope = scope)
          val exact = Dedup.exactJaccardTopK(hist, queries, "doc_id", "text",
            n = 5, minJaccard = 0.2, topK = 5, scope = scope)
          Similarity.rankedEval(approx, exact, "query_id", "doc_id",
            "jaccard", ascending = false, 5)
        }
      }

      CacheScope.withScope { scope =>
        val hist = replay(emb.filter(col("vec_id") % 2 === 0), "vec_id", copies, nv)
        val idx = timed(s"ed build        $label") {
          val idx = Similarity.buildEmbedIndex(hist, "vec_id", "embedding",
            dim = 64, nPlanes = 4, scope = scope)
          idx.bucketed.count()
          idx
        }
        for (pass <- Seq("cold", "warm"))
          time(s"ed rankedprobe $pass $label")(
            Similarity.embedNearDupTopKWith(vq, idx, "vec_id", "embedding",
              minSim = 0.3, topK = 5))
        time(s"ed exact+eval   $label") {
          val approx = Similarity.embedNearDupTopKWith(vq, idx, "vec_id", "embedding",
            minSim = 0.3, topK = 5)
          val exact = Similarity.exactTopK(hist, "vec_id", "embedding",
            vq, "vec_id", "embedding", k = 5)
          Similarity.rankedEval(approx, exact, "query_id", "vec_id",
            "sim", ascending = false, 5)
        }
      }
    }
    spark.stop()
  }
}
