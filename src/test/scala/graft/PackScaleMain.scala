package graft

import org.apache.spark.sql.functions._

import graft.DevHarness.time

/** Dev harness: do the round-8 operators scale? Replays the sf0.1
  * documents table K× (doc_ids offset per copy) and times each op at 1×
  * and K×. What the replay stresses, per op:
  *  - sequencePack / epochShuffledPack: the range exchange + driver
  *    prefix sums grow linearly; the md5 re-key must not change the
  *    cost class.
  *  - sequenceAssemble: the token text crosses its one seq_id shuffle —
  *    the corpus-bytes-proportional cost that dominates honestly.
  *  - Shard.balancedAssign: the IdAssign rank (range exchange over a
  *    NARROW (id, size) slice) + row-local arithmetic.
  *  - charEntropy: row-local one-pass scan; should scale with bytes and
  *    parallelize perfectly.
  *  - chunkPrecedenceDedup: replication makes every chunk a cross-copy
  *    duplicate — the election shuffle carries the full chunk stream,
  *    but the min_by partials keep reduce-side state = distinct chunks.
  *
  * Usage: sbt "Test/runMain graft.PackScaleMain [K]"   (default 16)
  */
object PackScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 16
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))

    for ((label, copies) <- Seq("1x" -> 1, s"${k}x" -> k)) {
      val docs = DevHarness.replay(base, "doc_id", copies)
      time(s"seqPack      $label")(
        graft.ops.TextAnalysis.sequencePack(docs, "doc_id", "text", 512))
      time(s"epochPack    $label")(
        graft.ops.TextAnalysis.epochShuffledPack(docs, "doc_id", "text", 512, 2))
      time(s"seqAssemble  $label")(
        graft.ops.TextAnalysis.sequenceAssemble(docs, "doc_id", "text", 512))
      time(s"shardAssign  $label") {
        val sized = docs.select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        graft.ops.Shard.balancedAssign(sized, "doc_id", "n_tokens", 64)
      }
      time(s"charEntropy  $label")(
        docs.select(graft.functions.EntropyExprs.charEntropy(col("text")).as("e"))
          .filter(col("e") > 0))
      time(s"precedence   $label")(
        graft.ops.Dedup.chunkPrecedenceDedup(
          docs.withColumn("prio", substring(col("source"), 4, 10).cast("int") % 3),
          "doc_id", "text", "prio", 10))
    }
    spark.stop()
  }
}
