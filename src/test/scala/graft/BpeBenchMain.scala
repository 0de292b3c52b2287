package graft

import org.apache.spark.sql.functions._

import graft.ops.{CacheScope, Corpus}

/** Dev harness: time distributed BPE vocabulary training + encoding at
  * scale-factor corpus size. What it demonstrates:
  *
  *  - the per-round cost of [[Corpus.bpeTrain]] is O(distinct words),
  *    not O(corpus): the (word, freq) collapse happens once, so doubling
  *    the corpus with REPEATED text leaves round cost flat (only the
  *    initial collapse scans more rows) — that is the 100-TB shape,
  *    where the distinct-word table is millions of rows while the corpus
  *    is trillions of tokens;
  *  - rounds are dominated by one pair-count aggregation feeding
  *    TakeOrderedAndProject(1), so per-round wall is a shuffle over
  *    distinct words, independent of document count.
  *
  * Prints per-phase seconds: word-collapse+round-0, total train,
  * sec/merge, and bpeEncode throughput over the full document table.
  *
  * Usage: sbt "Test/runMain graft.BpeBenchMain" (env SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_BPE_MERGES override the defaults).
  */
object BpeBenchMain {
  def main(args: Array[String]): Unit = {
    val dir = DevHarness.sfDir("0.1")
    val nMerges = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "40").toInt
    val spark = DevHarness.session()

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    // corpus-size independence probe: the same docs replayed 4x — the
    // (word, freq) table is identical, so train rounds should cost the
    // same; only the initial collapse pays for the extra scan volume
    val docs4x = DevHarness.replay(docs, "doc_id", 4, 1000000L)

    def train(d: org.apache.spark.sql.DataFrame, label: String): Seq[(String, String, Long)] =
      CacheScope.withScope { scope =>
        val t0 = System.nanoTime()
        val merges = Corpus.bpeTrain(d, "text", nMerges, minPairCount = 2L, scope = scope)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[bpebench] $label: ${merges.size} merges in $sec%.1f s " +
          f"(${sec / merges.size}%.3f s/merge)")
        merges
      }

    val merges = train(docs, s"train $nDocs docs")
    val merges4x = train(docs4x, s"train ${nDocs * 4} docs (4x replay)")
    // prefix-batched rounds (round-6): identical vocabulary, fewer driver
    // round-trips; the fill factor is corpus-dependent — report it
    CacheScope.withScope { scope =>
      val t0 = System.nanoTime()
      val (batched, rounds) = Corpus.bpeTrainWithRounds(docs, "text", nMerges,
        minPairCount = 2L, scope = scope, batchMerges = 8)
      val sec = (System.nanoTime() - t0) / 1e9
      // round-7 tie-group scan: the batched SEQUENCE must equal the
      // sequential one exactly (the former set-level tolerance recorded
      // a leak the scan has since closed)
      require(batched == merges,
        "prefix-batched training must learn the sequential rule sequence")
      println(f"[bpebench] batched(8): ${batched.size} merges in $rounds rounds " +
        f"($sec%.1f s; ${batched.size.toDouble / rounds}%.1f merges/round vs 1.0 sequential)")
    }
    // round-7: the driver-local trainer at production-vocabulary scale.
    // The (word, freq) table collects ONCE (one distributed reduction);
    // the merge loop then runs in-process over the pair-index + heap —
    // no per-merge Spark round-trips, which is the whole cost of the
    // distributed path at 32k-merge vocabularies.
    locally {
      val bigMerges = sys.env.getOrElse("SPARK_GRAFT_BPE_LOCAL_MERGES", "1000").toInt
      val tL0 = System.nanoTime()
      val localRules = Corpus.bpeTrainLocal(docs, "text", bigMerges, minPairCount = 2L)
      val localSec = (System.nanoTime() - tL0) / 1e9
      println(f"[bpebench] local($bigMerges): ${localRules.size} merges in $localSec%.1f s")
      CacheScope.withScope { scope =>
        val tD0 = System.nanoTime()
        val (distRules, rounds) = Corpus.bpeTrainWithRounds(docs, "text", bigMerges,
          minPairCount = 2L, scope = scope, batchMerges = 8)
        val distSec = (System.nanoTime() - tD0) / 1e9
        println(f"[bpebench] distributed($bigMerges, batched 8): ${distRules.size} merges " +
          f"in $rounds rounds, $distSec%.1f s — local is ${distSec / localSec}%.1fx faster")
        require(localRules == distRules,
          "local trainer must learn the distributed rule sequence")
      }
    }
    // counts scale by exactly 4 (every word is replayed 4x); the learned
    // rule sequence must be identical
    require(merges.map { case (a, b, _) => (a, b) } ==
      merges4x.map { case (a, b, _) => (a, b) },
      "replayed corpus must learn the identical vocabulary (frequencies scale uniformly)")
    require(merges.zip(merges4x).forall { case ((_, _, n), (_, _, n4)) => n4 == 4 * n },
      "replayed corpus pair counts must scale by exactly 4")

    val t1 = System.nanoTime()
    val nTokens = Corpus.bpeEncode(docs, "doc_id", "text",
        merges.map { case (a, b, _) => (a, b) })
      .select(sum(size(col("tokens")))).collect()(0).getLong(0)
    val encSec = (System.nanoTime() - t1) / 1e9
    println(f"[bpebench] encode: $nDocs docs -> $nTokens tokens in $encSec%.1f s " +
      f"(${nTokens / encSec / 1e6}%.2f M tokens/s)")
    spark.stop()
  }
}
