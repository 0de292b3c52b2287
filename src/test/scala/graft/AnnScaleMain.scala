package graft

import org.apache.spark.sql.functions._

import graft.DevHarness.{replay, time, timed}

/** Dev harness: does the ANN/dedup family scale? Replays the sf0.1
  * embeddings table K× (vec_ids offset per copy, vectors identical) and
  * times IVF-PQ search, semantic dedup, and LSH near-dup pairs at 1× and
  * K×. Identical vectors are the WORST case for both dedup ops — every
  * replica is a genuine near-dup, so candidate sets and drop sets are
  * maximal — and for IVF-PQ they pile K rows into every cell.
  *
  * Usage: sbt "Test/runMain graft.AnnScaleMain [K]"   (default 16)
  */
object AnnScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 16
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")
    import graft.ops.Similarity

    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = base.count()

    val book = Similarity.pqBookConst(64, 4, 8)
    for ((label, copies) <- Seq("1x" -> 1, s"${k}x" -> k)) {
      val emb = replay(base, "vec_id", copies, n)
      val queries = base.filter(col("vec_id") < 5)
      val cents = base.select(col("vec_id").as("_cid"),
          col("embedding").cast("array<double>").as("_cv"))
        .orderBy(col("_cid")).limit(8)
      time(s"ivfPqTopK      $label")(
        Similarity.ivfPqTopK(cents, emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", book, nProbe = 2, topK = 5))
      // standing-index serving shape: build+save once (the amortized
      // cost), then search the STORED coded table — probe wall must ride
      // the query side, not the corpus size
      locally {
        val dir = DevHarness.tempPath(s"ivfpq$label")
        timed(s"ivfPq build+save $label")(graft.ops.CacheScope.withScope { scope =>
          Similarity.saveIvfPqIndex(Similarity.buildIvfPqIndex(
            emb, "vec_id", "embedding", cents, book, dim = 64, scope = scope), dir)
        })
        graft.ops.CacheScope.withScope { scope =>
          val idx = Similarity.loadIvfPqIndex(spark, dir, scope)
          idx.coded.count() // warm the standing cache, as a serving session would
          time(s"ivfPqTopKWith  $label (standing probe)")(
            Similarity.ivfPqTopKWith(idx, queries, "vec_id", "embedding",
              nProbe = 2, topK = 5))
        }
        // right-to-be-forgotten at scale: a pending tombstone sidecar
        // must not move the probe wall — the subtract is one broadcast
        // anti-join folded into the standing cache at load
        Similarity.tombstoneIvfPqIndex(spark, dir,
          emb.select(col("vec_id")).filter(col("vec_id") % 997 === 0), "vec_id")
        graft.ops.CacheScope.withScope { scope =>
          val idx = Similarity.loadIvfPqIndex(spark, dir, scope)
          idx.coded.count()
          time(s"ivfPqTopKWith  $label (tombstoned probe)")(
            Similarity.ivfPqTopKWith(idx, queries, "vec_id", "embedding",
              nProbe = 2, topK = 5))
        }
        // …and the physical apply rides the compaction rewrite the store
        // was already paying for (no deletion-specific history pass)
        timed(s"ivfPq compact+apply $label")(Similarity.compactIvfPqIndex(spark, dir))
      }
      time(s"semDedup       $label")(
        Similarity.semDedup(cents, emb, "vec_id", "embedding", minSim = 0.95,
          maxPerCell = 512))
      time(s"lshNearDup     $label")(
        Similarity.lshNearDupPairs(emb, "vec_id", "embedding", dim = 64,
          nPlanes = Similarity.autoPlanes(n * copies, 64), minSim = 0.95,
          maxPerBucket = 256))
    }
    spark.stop()
  }
}
