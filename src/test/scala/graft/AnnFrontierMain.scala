package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Recall/cost frontier for the ANN ladder (round-5 verdict #8): sweep
  * the ladder's sizing knobs (nPlanes, nTables, multi-probe, IVF nProbe,
  * PQ m×k, rerank shortlist) on the sf embeddings, score recall@k
  * against the exact top-k, and print the markdown frontier table a
  * 100 TB user sizes an index from (recorded in BASELINE.md §ANN
  * frontier). Wall times are warm single runs — relative cost, not
  * absolute.
  *
  * Usage: sbt "Test/runMain graft.AnnFrontierMain" (SPARK_GRAFT_SF_DIR
  * overrides the corpus).
  */
object AnnFrontierMain {
  def main(args: Array[String]): Unit = {
    val dir = DevHarness.sfDir("0.01")
    val spark = DevHarness.session()

    val k = 10
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 20).cache()
    queries.count()

    val exact = Similarity.exactTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k).cache()
    exact.count()

    def meanRecall(approx: DataFrame): Double =
      Similarity.recallAtK(approx, exact, "query_id", "vec_id", k)
        .agg(avg(col("recall"))).head().getDouble(0)

    println(s"| config | recall@$k | wall s |")
    println("|---|---|---|")
    def row(label: String, mk: => DataFrame): Double = {
      val t0 = System.nanoTime()
      val r = meanRecall(mk)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"| $label | $r%.3f | $sec%.2f |")
      r
    }

    row(f"exact brute force (n=$n)", exact)
    for (p <- Seq(2, 4, 6, 8))
      row(s"lsh 1 table, $p planes",
        Similarity.lshTopK(emb, "vec_id", "embedding", queries, "vec_id",
          "embedding", dim = 64, nPlanes = p, k = k))
    for (t <- Seq(2, 4))
      row(s"lsh $t tables, 4 planes",
        Similarity.lshTopK(emb, "vec_id", "embedding", queries, "vec_id",
          "embedding", dim = 64, nPlanes = 4, k = k, nTables = t))
    for (p <- Seq(4, 6, 8))
      row(s"lsh multi-probe, $p planes",
        Similarity.lshTopKMultiProbe(emb, "vec_id", "embedding", queries,
          "vec_id", "embedding", dim = 64, nPlanes = p, k = k))
    val cents = Similarity.ivfTrain(emb, "embedding", nCentroids = 16)
    cents.cache().count()
    for (np <- Seq(1, 2, 4, 8))
      row(s"ivf 16 cells, probe $np",
        Similarity.ivfTopKWith(cents, emb, "vec_id", "embedding", queries,
          "vec_id", "embedding", nProbe = np, k = k))
    for ((m, ck) <- Seq((8, 16), (16, 16))) {
      val book = Similarity.pqTrain(emb, "embedding", dim = 64, m = m, k = ck)
      row(s"pq adc full scan, m=$m k=$ck",
        Similarity.pqTopKWith(emb, "vec_id", "embedding", queries, "vec_id",
          "embedding", book, k))
      for (sl <- Seq(20, 50, 100))
        row(s"pq rerank, m=$m k=$ck shortlist $sl",
          Similarity.pqRerankTopK(emb, "vec_id", "embedding", queries,
            "vec_id", "embedding", book, shortlist = sl, topK = k))
    }
    val book8 = Similarity.pqTrain(emb, "embedding", dim = 64, m = 8, k = 16)
    for (np <- Seq(2, 4))
      row(s"ivf-pq 16 cells m=8 k=16, probe $np",
        Similarity.ivfPqTopK(cents, emb, "vec_id", "embedding", queries,
          "vec_id", "embedding", book8, nProbe = np, topK = k))
    spark.stop()
  }
}
