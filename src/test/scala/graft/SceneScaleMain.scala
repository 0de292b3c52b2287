package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev harness: the round-13 temporal family's scale probe. Scene
  * segmentation is per-clip deterministic (no cross-clip state), so its
  * 100-TB claim is EQUIVARIANCE: replaying the corpus K× (ids offset
  * per copy) must yield exactly K identical copies of the 1× segment
  * table — any deviation means a window leaked across clips or an
  * aggregation picked up cross-row state. The cross-clip op,
  * [[graft.ops.Multimodal.sceneOverlapPairs]], must be INVARIANT on the
  * original pairs: replication adds replica pairs but may never change
  * an original pair's (n_shared, containment) — per-clip keyframe sets
  * don't depend on other rows.
  *
  * Both are ASSERTED (not just timed); build/segment walls print per
  * scale so a super-linear blowup is visible.
  *
  * Usage: sbt "Test/runMain graft.SceneScaleMain [K]"   (default 8)
  */
object SceneScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 8
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")
    import graft.ops.Multimodal

    // the q204 corpus shape: a repeated opening block so scenes have
    // real multi-frame structure, not one-frame-per-scene noise
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        concat(expr("substring(text, 1, 128)"), expr("substring(text, 1, 128)"),
          expr("substring(text, 1, 128)"), expr("substring(text, 129)")).as("text"))
    val nd = docs.agg(max("doc_id")).head().getLong(0) + 1
    def replay(copies: Int): DataFrame = DevHarness.replay(docs, "doc_id", copies, nd)
    def segs(copies: Int): DataFrame =
      Multimodal.sceneSegments(
        Multimodal.packBinary(replay(copies), "doc_id", "text"),
        "doc_id", "payload", frameBytes = 128, stride = 128,
        maxFrames = 6, cutThreshold = 10)

    val base = segs(1).cache()
    val nBase = DevHarness.timed("1x segment")(base.count())
    println(s"1x: $nBase scene rows")

    // equivariance: fold replica ids back to originals — every base row
    // must appear exactly K times, and nothing else may exist
    val folded = segs(k).withColumn("doc_id", col("doc_id") % nd)
      .groupBy("doc_id", "scene_idx", "start_frame", "end_frame",
        "n_frames", "keyframe_sig")
      .count().cache()
    val nFolded = DevHarness.timed(s"${k}x segment + fold")(folded.count())
    require(nFolded == nBase,
      s"folded distinct rows $nFolded != 1x rows $nBase")
    require(folded.filter(col("count") =!= k).count() == 0,
      s"some scene rows did not replicate exactly ${k}x")
    require(folded.drop("count").exceptAll(base).count() == 0 &&
      base.exceptAll(folded.drop("count")).count() == 0,
      "folded scene table differs from the 1x table")
    println(s"${k}x: scene table EQUAL to $k identical copies of 1x " +
      "(per-clip equivariance holds)")

    // overlap invariance on the original pairs (uncapped: the relation
    // itself must not move; the cap's flood behavior is spec-pinned)
    def pairs(copies: Int): DataFrame =
      Multimodal.sceneOverlapPairs(
        Multimodal.packBinary(replay(copies), "doc_id", "text"),
        "doc_id", "payload", frameBytes = 128, stride = 128,
        maxFrames = 6, cutThreshold = 10, minShared = 2)
    val p1 = pairs(1).cache(); val n1 = p1.count()
    val pk = pairs(k).filter(col("id_a") < nd && col("id_b") < nd).cache()
    require(pk.exceptAll(p1).count() == 0 && p1.exceptAll(pk).count() == 0,
      "original-pair overlap answers changed under corpus replication")
    println(s"${k}x: the $n1 original overlap pairs are REPLICATION-" +
      "INVARIANT (replicas add pairs, never change existing ones)")
    spark.stop()
  }
}
