package graft

import org.apache.spark.sql.functions._

import graft.DevHarness.{replay, time}

/** Dev harness: do the corpus-audit operators scale? Replays the sf0.1
  * documents/embeddings tables K× (ids offset per copy, content
  * identical) and times split-leakage, BM25, group-cap, JL projection,
  * cluster-quota, and ANN recall at 1× and K×. Identical replicated text
  * is the WORST case for splitLeakage — every replica of a train chunk
  * leaks into every eval replica — and replicated vectors pile K rows
  * into every cell/bucket.
  *
  * Usage: sbt "Test/runMain graft.AuditScaleMain [K]"   (default 16)
  */
object AuditScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 16
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")
    import graft.ops.{Corpus, Dedup, Similarity, TextAnalysis}

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val ne = emb.count()

    for ((label, copies) <- Seq("1x" -> 1, s"${k}x" -> k)) {
      val d = replay(docs, "doc_id", copies)
      val e = replay(emb, "vec_id", copies, ne)
      val split = d.withColumn("split", TextAnalysis.hashSplit(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      time(s"splitLeakage   $label")(
        Dedup.splitLeakage(split, "doc_id", "text", "split", "train", 10))
      time(s"bm25Score      $label")(
        Corpus.bm25Score(d, "doc_id", "text", Seq("vector", "hash", "spark")))
      time(s"groupCap       $label")(
        TextAnalysis.groupCap(d, "source", "doc_id", 50))
      // a FILTER on the folded projection forces the dot products: both a
      // bare select and an agg(sum) are pruned under count(1) — verified
      // (round-5 review, twice); a data-dependent predicate cannot be
      time(s"randomProject  $label")(
        e.select(aggregate(
            Similarity.randomProject(col("embedding").cast("array<double>"), 64, 8),
            lit(0.0), (a, x) => a + x).as("p"))
          .filter(col("p") > lit(-1e18)))
      val cents = emb.select(col("vec_id").as("_cid"),
          col("embedding").cast("array<double>").as("_cv"))
        .orderBy(col("_cid")).limit(8)
      time(s"clusterQuota   $label")(
        TextAnalysis.groupCap(
          Similarity.ivfAssign(cents, e, "vec_id", "embedding"),
          "cell_id", "vec_id", 1024))
      // replication is the worst case for the benchmark gate too: every
      // replica of a benchmark-similar vector must be caught
      time(s"semDecontam    $label")(
        Similarity.semanticDecontaminate(
          e.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
          e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          dim = 64, nPlanes = Similarity.autoPlanes(ne * copies, 256),
          minSim = 0.95))
      time(s"snapshotDelta  $label")(
        graft.ops.Dedup.snapshotDelta(
          d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          d.filter(col("doc_id") % 2 === 0), "text"))
      // CONTINUOUS drift metric (distinct values ≈ row count — the case
      // the old global-window CDF funneled through one task): the hash
      // makes every row its own distinct value, so the prefix-sum path
      // must hold the CDF in parallel range slices
      time(s"ksDistance     $label")(
        graft.ops.Stats.ksDistance(
          d.withColumn("_m", xxhash64(col("doc_id"), col("text"))),
          "_m", col("doc_id") % 2 === 0))
      // standing-index value proposition measured: a small daily batch
      // probed against K×-replayed history. The per-batch overload pays
      // the full history re-shingle every probe; the standing index pays
      // it once (build, timed) and probes ride the cached frames
      val probeBatch = d.filter(col("doc_id") % 500 === 7)
        .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("text"))
      time(s"nearDupPerBatch $label")(
        Dedup.incrementalNearDups(probeBatch, d, "doc_id", "text",
          k = 4, rowsPerBand = 2, n = 5, minJaccard = 0.2))
      val ndIdx = Dedup.buildNearDupIndex(d, "doc_id", "text",
        k = 4, rowsPerBand = 2, n = 5)
      time(s"nearDupIdxBuild $label")(
        ndIdx.bandFrame.select(count(lit(1))))
      time(s"nearDupIdxProbe $label")(
        Dedup.incrementalNearDupsWith(probeBatch, ndIdx, "doc_id", "text",
          minJaccard = 0.2))
      // ONE mega-group with all-distinct scores: the old per-group rank
      // window put every row through a single task; the tally-table
      // prefix-sum path must spread it
      time(s"calibMegaGroup $label")(
        graft.ops.Stats.calibrateScores(
          d.select(col("doc_id"), lit("g").as("_g"),
            xxhash64(col("doc_id"), col("text")).cast("double").as("_s")),
          "_g", "_s"))
      val queries = emb.filter(col("vec_id") < 5)
      time(s"annRecall      $label") {
        val approx = Similarity.lshTopK(e, "vec_id", "embedding",
          queries, "vec_id", "embedding", dim = 64,
          nPlanes = Similarity.autoPlanes(ne * copies, 64), k = 5)
        val exact = Similarity.exactTopK(e, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        Similarity.recallAtK(approx, exact, "query_id", "vec_id", 5)
      }
    }
    spark.stop()
  }
}
