package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.DevHarness.{time, timed}

/** Dev harness: do the curation operators scale? Replays the sf0.1
  * documents table K× (doc_ids offset per copy, content identical) and
  * times each op at 1× and K×.
  *
  * Replication is deliberately ADVERSARIAL for these ops:
  *  - boilerplateRemove: every chunk now occurs in ≥ K distinct docs, so
  *    the "small by construction" boilerplate set degrades to ALL
  *    distinct chunks — the template-farm worst case. The broadcast
  *    stays bounded by the DISTINCT-chunk table (which replication does
  *    not grow), so the op should still scale ~linearly in corpus size.
  *  - fuzzyDupPairs: every block's membership grows K×, so within-block
  *    pair work grows K² — the documented quadratic term. Run with a
  *    smaller K and watch the super-linear growth show up honestly.
  *  - temperatureMix: one narrow count shuffle; should be flat-ish.
  *
  * Usage: sbt "Test/runMain graft.CurationScaleMain [K]"   (default 16)
  */
object CurationScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 16
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val n = base.count()
    def replay(copies: Int): DataFrame = DevHarness.replay(base, "doc_id", copies, n)

    val blockKey = Seq(col("lang"),
      element_at(split(lower(trim(col("text"))), "\\s+"), 1))
    for ((label, copies) <- Seq("1x" -> 1, s"${k}x" -> k)) {
      val docs = replay(copies)
      time(s"boilerplate  $label")(
        graft.ops.Dedup.boilerplateRemove(docs, "doc_id", "text", 10, 2))
      time(s"tempMix      $label")(
        graft.ops.Corpus.temperatureMix(docs, "lang", 0.5, 1000L))
    }
    // round-7: temperatureSample's mega-group fix — ONE dominant group
    // (~98% of docs land in "en") at replay scale. The old per-group
    // window form (inlined below as the A/B reference) funnels the
    // dominant group's entire membership through ONE task's sort because
    // its alloc limit is a column (WindowGroupLimit can never prune);
    // the shipped BudgetSelect form range-partitions the group across
    // the cluster — the printed pid spread is the direct evidence.
    def windowedSample(docs: DataFrame, budget: Long): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val mix = graft.ops.Corpus.temperatureMix(docs, "lang", 0.5, budget)
        .select(col("lang"), col("alloc"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(concat(lit("graft-temp|"), col("doc_id").cast("string"))), col("doc_id"))
      docs.select(col("doc_id"), col("lang"))
        .withColumn("_rn", row_number().over(w))
        .join(broadcast(mix), Seq("lang"))
        .filter(col("_rn") <= col("alloc"))
        .select(col("doc_id"), col("lang"))
    }
    // AQE coalescing OFF for this section (the BudgetSelectSpec pattern):
    // the replayed corpus is megabytes, so AQE folds the range exchange
    // to ONE partition and the harness would measure a collapse that
    // cannot happen at 100 TB (where every range partition is at target
    // size). The claim under test is the partition SPREAD of the
    // dominant group's rank — keep the exchange honest.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    for ((label, copies) <- Seq("1x" -> 1, s"${k}x" -> k)) {
      val docs = replay(copies).withColumn("lang",
        when(col("doc_id") % 50 === 0, col("lang")).otherwise(lit("en")))
      val budget = n * copies / 2
      graft.ops.CacheScope.withScope { scope =>
        time(s"tempSample budget $label")(
          graft.ops.Corpus.temperatureSample(docs, "doc_id", "lang", 0.5, budget,
            scope = scope))
      }
      // the rank's partition spread for the dominant group under the
      // shipped form's range exchange (the windowed form's spread is 1
      // by construction)
      val pids = docs.select(col("doc_id"), col("lang"))
        .repartitionByRange(col("lang").cast("string"),
          md5(concat(lit("graft-temp|"), col("doc_id").cast("string"))), col("doc_id"))
        .withColumn("_pid", shiftright(monotonically_increasing_id(), 33))
        .filter(col("lang") === "en")
        .select(countDistinct(col("_pid"))).head().getLong(0)
      println(s"SCALE tempSample dominant-group range-partition spread $label: $pids pids")
      time(s"tempSample window $label")(windowedSample(docs, budget))
    }
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // round-7: standing-index persistence — append vs rewrite at Kx
    // history. The daily-loop question: with a Kx-replayed history index
    // on disk, does adding one 1x batch cost a batch (append) or the
    // whole history (extend + re-save)?
    locally {
      val dir = DevHarness.tempPath("ndx16")
      graft.ops.CacheScope.withScope { scope =>
        val hist = replay(k)
        val idx = graft.ops.Dedup.buildNearDupIndex(hist, "doc_id", "text", scope = scope)
        timed(s"index save (build+write ${k}x history)")(
          graft.ops.Dedup.saveNearDupIndex(idx, dir))
        val batch = base.select((col("doc_id") + lit(k.toLong * n)).as("doc_id"),
          col("text"), col("lang"))
        timed(s"index append (1x batch onto ${k}x history)")(
          graft.ops.CacheScope.withScope { s2 =>
            graft.ops.Dedup.appendNearDupIndex(spark, dir, batch, "doc_id", "text", s2)
          })
        timed("index rewrite (extend + full re-save)")(
          graft.ops.CacheScope.withScope { s2 =>
            val ext = graft.ops.Dedup.extendNearDupIndex(
              graft.ops.Dedup.loadNearDupIndex(spark, dir, s2),
              batch, "doc_id", "text", s2)
            graft.ops.Dedup.saveNearDupIndex(ext, DevHarness.tempPath("ndx16rw"))
          })
      }
    }
    // quadratic-by-design: smaller replay, growth factor is the message —
    // and the round-8 maxBlockSize cap is the escape: replication grows
    // every block K×, but the capped run's per-block work (and the pair
    // output) stays bounded at the cap no matter how the corpus grows
    val fk = math.max(2, k / 4)
    for ((label, copies) <- Seq("1x" -> 1, s"${fk}x" -> fk)) {
      val docs = replay(copies)
      time(s"fuzzyPairs   $label")(
        graft.ops.Dedup.fuzzyDupPairs(docs, "doc_id", "text", blockKey, 20, 80))
      graft.ops.CacheScope.withScope { scope =>
        time(s"fuzzyCapped  $label")(
          graft.ops.Dedup.fuzzyDupPairs(docs, "doc_id", "text", blockKey, 20, 80,
            maxBlockSize = 25, scope = scope))
      }
    }
    // the BANDED 3-arg levenshtein verify on the shape the band pays
    // off: LONG prefixes (the whole verify is the DP) with a TIGHT edit
    // budget (most pairs abandon after a few rows). The 2-arg
    // full-matrix form it replaced is no longer timed; its cost is in
    // BASELINE.md's CurationScaleMain row.
    locally {
      val docs = replay(4)
      val (prefix, maxEdit) = (400, 5)
      val base = docs.select(col("doc_id").as("_id"),
        substring(lower(trim(col("text"))), 1, prefix).as("_pfx"),
        struct(blockKey: _*).as("_blk"))
      val l = base.select(col("_id").as("id1"), col("_pfx").as("_p1"), col("_blk"))
      val r = base.select(col("_id").as("id2"), col("_pfx").as("_p2"), col("_blk"))
      val joined = l.join(r, Seq("_blk")).filter(col("id1") < col("id2"))
      // runs once to warm, then once timed
      val banded = joined.select(col("id1"), col("id2"),
          levenshtein(col("_p1"), col("_p2"), maxEdit).as("edit_dist"))
        .filter(col("edit_dist") >= 0)
      banded.count()
      time(s"lev banded   prefix=$prefix maxEdit=$maxEdit 4x")(banded)
    }
    spark.stop()
  }
}
