package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.EntropyExprs
import graft.ops.{Shard, Stats}

/** Round-5 continuation operators: size-balanced shard packing,
  * per-group score calibration, char-level Shannon entropy. */
class ShardCalibSpec extends AnyFunSuite {
  import ShardCalibSpec.wqModel
  private lazy val spark = Golden.spark
  import spark.implicits._

  // ---- Shard ----

  /** Driver model of the serpentine rule over the size-DESC rank. */
  private def model(sizes: Seq[(Long, Long)], n: Int): Map[Long, Int] =
    sizes.sortBy { case (id, sz) => (-sz, id) }.zipWithIndex.map {
      case ((id, _), pos) =>
        val cyc = pos % (2 * n)
        id -> (if (cyc < n) cyc else 2 * n - 1 - cyc)
    }.toMap

  test("balancedAssign matches the serpentine driver model, ties broken by id") {
    val rows = Seq((1L, 10L), (2L, 10L), (3L, 7L), (4L, 30L), (5L, 2L),
      (6L, 10L), (7L, 25L), (8L, 1L), (9L, 14L), (10L, 14L))
    val got = Shard.balancedAssign(rows.toDF("id", "sz"), "id", "sz", nShards = 3)
      .select(col("id"), col("shard")).as[(Long, Int)].collect().toMap
    assert(got == model(rows, 3))
  }

  test("balancedAssign is partition-layout independent and balances a skewed corpus") {
    // skewed but realistic sizes: spread ~1..1000, no single document
    // comparable to a whole shard's total (the regime the snake rule is
    // for; a corpus of 5 giant docs and confetti is a bin-packing
    // adversary no fixed assignment rule balances)
    val rows = (1L to 500L).map(i => (i, 1L + (i * i) % 997))
    val df1 = spark.createDataFrame(rows).toDF("id", "sz")
    val df8 = spark.createDataFrame(rows).toDF("id", "sz").repartition(8)
    val a1 = Shard.balancedAssign(df1, "id", "sz", 4)
      .select(col("id"), col("shard")).as[(Long, Int)].collect().toMap
    val a8 = Shard.balancedAssign(df8, "id", "sz", 4)
      .select(col("id"), col("shard")).as[(Long, Int)].collect().toMap
    assert(a1 == a8)
    val stats = Shard.shardStats(
        Shard.balancedAssign(df1, "id", "sz", 4), "sz")
      .select(col("total_size")).as[Long].collect()
    assert(stats.length == 4)
    // serpentine bounds the imbalance by the within-cycle spread; on this
    // corpus shard totals must sit within a couple percent of each other
    assert(stats.max.toDouble / stats.min <= 1.02,
      s"imbalanced: ${stats.toSeq}")
    // every row lands in exactly one shard and totals are conserved
    assert(stats.sum == rows.map(_._2).sum)
  }

  test("serpentine pairs each band's largest with the next band's smallest") {
    // 2n giants over n shards: the snake gives every shard EXACTLY two,
    // pairing rank i with rank 2n-1-i (largest with smallest) — the
    // property plain round-robin lacks (it stacks ranks 0 and n on one
    // shard). Tail docs then fill in around near-equal giant pairs.
    val giants = (1L to 8L).map(i => (i, 1000000L - i * 100000L))
    val tail = (9L to 200L).map(i => (i, 1L + i % 53))
    val perShard = Shard.balancedAssign(
        spark.createDataFrame(giants ++ tail).toDF("id", "sz"), "id", "sz", 4)
      .filter(col("id") <= 8).select(col("id"), col("shard"))
      .as[(Long, Int)].collect().groupBy(_._2).view
      .mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(perShard == Map(0 -> Seq(1L, 8L), 1 -> Seq(2L, 7L),
      2 -> Seq(3L, 6L), 3 -> Seq(4L, 5L)))
  }

  test("writeShards writes hive-partitioned dirs; readback row- and shard-exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val rows = (1L to 100L).map(i => (i, 1L + i % 13))
    val assigned = Shard.balancedAssign(
      spark.createDataFrame(rows).toDF("id", "sz"), "id", "sz", 5)
    Shard.writeShards(assigned, dir, 5)
    val back = spark.read.parquet(dir)
    assert(back.count() == 100)
    assert(back.select(col("shard")).distinct().as[Int].collect().sorted.toSeq
      == (0 until 5))
    // partition pruning: one shard's read plan scans one directory
    val expected = assigned.filter(col("shard") === 2)
      .select(col("id")).as[Long].collect().sorted.toSeq
    val pruned = back.filter(col("shard") === 2)
      .select(col("id")).as[Long].collect().sorted.toSeq
    assert(pruned == expected)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  // ---- calibrateScores ----

  test("calibrateScores is per-group percent_rank, tie-stable, 0 for singleton groups") {
    val rows = Seq(
      ("a", 1L, 0.5), ("a", 2L, 0.1), ("a", 3L, 0.5), ("a", 4L, 0.9),
      ("b", 5L, 100.0), // singleton group
      ("c", 6L, 2.0), ("c", 7L, 1.0))
    val got = Stats.calibrateScores(rows.toDF("src", "id", "s"), "src", "s")
      .select(col("id"), col("s_cal")).as[(Long, Double)].collect().toMap
    // group a (n=4): ranks of 0.1,0.5,0.5,0.9 -> 0, 1/3, 1/3, 1
    assert(got(2L) == 0.0 && got(4L) == 1.0)
    assert(math.abs(got(1L) - 1.0 / 3) < 1e-15 && got(1L) == got(3L))
    assert(got(5L) == 0.0)
    assert(got(6L) == 1.0 && got(7L) == 0.0)
  }

  test("calibrateScores rank path is partition-bounded on a mega-group") {
    import graft.ops.Stats
    // one group, 1999 distinct scores over 5000 rows: the rank must come
    // from the tally-table prefix sums (windows keyed by _cs_pid), never
    // a whole-group window task
    val df = spark.range(5000).select(lit("one").as("g"),
      (col("id") % 1999).cast("double").as("s"))
    val out = Stats.calibrateScores(df, "g", "s")
    assert(out.queryExecution.optimizedPlan.toString.contains("_cs_pid"))
    val got = out.select(col("s"), col("s_cal")).distinct()
      .as[(Double, Double)].collect().toMap
    // driver replay: residues 0..1001 occur 3x, 1002..1998 occur 2x
    def cnt(r: Long) = if (r <= 1001) 3L else 2L
    var before = 0L
    for (r <- 0L until 1999L) {
      assert(got(r.toDouble) == before.toDouble / 4999.0, s"residue $r")
      before += cnt(r)
    }
  }

  test("calibrateScores makes a per-source top-30% predicate uniform") {
    // two sources with disjoint score ranges: a global raw threshold
    // would keep only source b; the calibrated threshold keeps ~30% of each
    val rows = (1L to 100L).map(i => ("a", i, i * 0.001)) ++
               (101L to 200L).map(i => ("b", i, 10.0 + i))
    val kept = Stats.calibrateScores(
        spark.createDataFrame(rows).toDF("src", "id", "s"), "src", "s")
      .filter(col("s_cal") >= 0.7)
      .groupBy(col("src")).count().as[(String, Long)].collect().toMap
    assert(kept("a") == 30 && kept("b") == 30)
  }

  // ---- ensembleScore ----

  test("ensembleScore: mean of per-group percentile ranks, fixed fold order, repartition-stable") {
    // group a (n=3): signals rank differently per doc — the fusion is the
    // plain mean of the two percent_ranks
    val rows = Seq(
      ("a", 1L, 10.0, 3.0),  // s ranks: s1 0.0, s2 1.0 -> 0.5
      ("a", 2L, 20.0, 2.0),  //          s1 0.5, s2 0.5 -> 0.5
      ("a", 3L, 30.0, 1.0),  //          s1 1.0, s2 0.0 -> 0.5
      ("b", 4L, 5.0, 5.0),   // group b (n=2): 0.0, 0.0 -> 0.0
      ("b", 5L, 6.0, 7.0))   //                1.0, 1.0 -> 1.0
    val df = rows.toDF("src", "id", "s1", "s2")
    val got = Stats.ensembleScore(df, "src", Seq("s1", "s2"))
      .select(col("id"), col("ensemble_score")).as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.5, 4L -> 0.0, 5L -> 1.0))
    val re = Stats.ensembleScore(df.repartition(7), "src", Seq("s1", "s2"))
      .select(col("id"), col("ensemble_score")).as[(Long, Double)].collect().toMap
    assert(re == got, "fusion must be layout-independent")
  }

  // ---- weightedQuantiles ----

  test("weightedQuantiles matches the exact driver model on random grouped data") {
    val rng = new scala.util.Random(4242)
    val rows = (1 to 600).map { _ =>
      (s"g${rng.nextInt(4)}", (rng.nextInt(50) + 1).toDouble, rng.nextInt(9).toLong + 1L)
    }
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    val got = Stats.weightedQuantiles(
        spark.createDataFrame(rows).toDF("g", "v", "w"), "g", "v", "w", qs)
      .as[(String, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == wqModel(rows, qs))
  }

  test("weightedQuantiles: boundary is inclusive, q=1 is the max, w<=0 and null excluded") {
    // four unit weights: cum at the 2nd value is exactly 0.5*total — the
    // lower weighted quantile is v2, NOT v3 (inclusive >= boundary)
    val rows = Seq(("a", 1.0, 1L), ("a", 2.0, 1L), ("a", 3.0, 1L), ("a", 4.0, 1L),
      // b: one heavy doc carries 90% of the mass — weighted median is 9.0
      ("b", 1.0, 1L), ("b", 9.0, 9L),
      // c: only nonpositive weights — group must vanish
      ("c", 5.0, 0L), ("c", 6.0, -3L))
    val got = Stats.weightedQuantiles(
        spark.createDataFrame(rows).toDF("g", "v", "w"), "g", "v", "w",
        Seq(0.5, 1.0))
      .as[(String, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("a", 0.5)) == 2.0)
    assert(got(("a", 1.0)) == 4.0)
    assert(got(("b", 0.5)) == 9.0, "row-median would say 1.0; mass-median is the heavy doc")
    assert(got(("b", 1.0)) == 9.0)
    assert(!got.keySet.exists(_._1 == "c"))
  }

  test("weightedQuantiles: a ±0.0 double group folds to ONE group with a deterministic +0.0 label") {
    // −0.0 and +0.0 rows must form one group (they compare equal), and
    // the emitted label must be the FOLDED key — first(raw) across
    // partitions could flap between "-0.0" and "0.0" run-to-run
    // (round-8 advice). 8 partitions with the −0.0 rows deliberately
    // scattered so first() would be partition-order dependent.
    val rows = Seq((-0.0, 1.0, 1L), (0.0, 2.0, 1L), (-0.0, 3.0, 1L), (0.0, 4.0, 1L))
    val df = spark.createDataFrame(rows).toDF("g", "v", "w").repartition(8)
    (1 to 3).foreach { _ =>
      val got = Stats.weightedQuantiles(df, "g", "v", "w", Seq(0.5, 1.0))
        .as[(Double, Double, Double)].collect().toSeq
      assert(got.length == 2, "one folded group × two qs")
      assert(got.forall { case (g, _, _) =>
        java.lang.Double.doubleToRawLongBits(g) == 0L }, s"label must be +0.0, got $got")
      assert(got.map(r => r._2 -> r._3).toMap == Map(0.5 -> 2.0, 1.0 -> 4.0))
    }
  }

  test("weightedQuantiles cum path is partition-bounded on a mega-group") {
    // one dominant group, many distinct values: the cum must ride the
    // range-partitioned tally (windows keyed by _wq_pid), never one
    // whole-group window task — the temperatureSample lesson
    val df = spark.range(6000).select(lit("one").as("g"),
      (col("id") % 2000).cast("double").as("v"), (col("id") % 7 + 1L).as("w"))
    val out = Stats.weightedQuantiles(df, "g", "v", "w", Seq(0.5))
    assert(out.queryExecution.optimizedPlan.toString.contains("_wq_pid"))
    val rows = df.as[(String, Double, Long)].collect().toSeq
    assert(out.as[(String, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap == wqModel(rows, Seq(0.5)))
  }

  // ---- CharEntropy ----

  /** Driver model: code-point tally, ascending-order term sum. */
  private def entModel(s: String): Double = {
    val cps = s.codePoints().toArray
    val counts = cps.groupBy(identity).map { case (c, a) => (c, a.length.toLong) }
    counts.keys.toSeq.sorted.foldLeft(0.0) { (e, c) =>
      val p = counts(c).toDouble / cps.length
      e - p * (math.log(p) / math.log(2.0))
    }
  }

  test("charEntropy: exact values on uniform alphabets, null on empty/null") {
    val got = Seq("aaaa", "abab", "abcdabcd", "", null)
      .toDF("t").select(EntropyExprs.charEntropy(col("t")).as("e"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0).contains(0.0))
    assert(got(1).contains(1.0))
    assert(got(2).contains(2.0))
    assert(got(3).isEmpty && got(4).isEmpty)
  }

  test("charEntropy counts code points, not UTF-16 units, and matches the model") {
    // U+1F600 is a surrogate pair in UTF-16: "😀😀" is ONE distinct code
    // point repeated -> entropy 0; a code-unit tally would see 2 symbols
    val texts = Seq("😀😀", "naïve café",
      "the quick brown fox", "0123456789abcdef")
    val got = texts.toDF("t")
      .select(EntropyExprs.charEntropy(col("t")).as("e")).as[Double].collect()
    assert(got(0) == 0.0)
    texts.zip(got).foreach { case (t, e) =>
      assert(math.abs(e - entModel(t)) < 1e-12, t)
    }
  }

  test("char_entropy is registered as a SQL function") {
    val e = spark.sql("SELECT char_entropy('abab') AS e").as[Double].collect()(0)
    assert(e == 1.0)
  }

  // ---- epochShuffledPack ----

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("epochShuffledPack: offsets are exclusive prefix sums in md5 order; layout-independent") {
    import graft.ops.TextAnalysis
    val docs = (1L to 40L).map(i => (i, ("w " * (1 + (i % 7)).toInt).trim))
    val df = spark.createDataFrame(docs).toDF("id", "text").repartition(7)
    val got = TextAnalysis.epochShuffledPack(df, "id", "text", seqLen = 8, epoch = 3)
      .select(col("id"), col("n_tokens"), col("start_off"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // driver model: docs ordered by md5('graft-epoch|3|'+id), running offsets
    val ordered = docs.map { case (i, t) =>
      (i, t.split("\\s+").length.toLong, md5hex(s"graft-epoch|3|$i")) }
      .sortBy { case (i, _, h) => (h, i) }
    var off = 0L
    val model = ordered.map { case (i, n, _) =>
      val o = off; off += n; (i, n, o) }.sortBy(_._1)
    assert(got.toSeq == model)
    // coverage: the stream is gapless — total tokens = max(start+len)
    assert(off == got.map(_._2).sum)
  }

  test("epochShuffledPack: epochs permute the stream but keep totals and spans") {
    import graft.ops.TextAnalysis
    val docs = (1L to 60L).map(i => (i, ("tok " * (1 + (i % 11)).toInt).trim))
    val df = spark.createDataFrame(docs).toDF("id", "text")
    def packed(e: Int) = TextAnalysis.epochShuffledPack(df, "id", "text", 16, e)
      .select(col("id"), col("start_off")).as[(Long, Long)].collect().toMap
    val e1 = packed(1); val e2 = packed(2)
    assert(e1 != e2, "epochs must produce different permutations")
    assert(e1.keySet == e2.keySet)
    // both streams cover the same [0, total) range of offsets
    assert(e1.values.min == 0L && e2.values.min == 0L)
  }

  test("sequenceAssemble: reassembled stream equals the concatenated corpus, fixed-length cuts") {
    import graft.ops.TextAnalysis
    val docs = (1L to 30L).map(i =>
      (i, (1 to (3 + (i % 5)).toInt).map(j => s"d${i}t$j").mkString(" ")))
    val df = spark.createDataFrame(docs).toDF("id", "text").repartition(5)
    val seqs = TextAnalysis.sequenceAssemble(df, "id", "text", seqLen = 16)
      .select(col("seq_id"), col("seq_text"), col("n_docs"), col("n_tokens"))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val stream = docs.sortBy(_._1).map(_._2).mkString(" ").split(" ").toSeq
    // sequence ids are dense from 0; all but the last hold exactly 16 tokens
    assert(seqs.map(_._1).toSeq == seqs.indices.map(_.toLong))
    seqs.dropRight(1).foreach { case (_, t, _, n) =>
      assert(n == 16 && t.split(" ").length == 16)
    }
    // glueing the sequences back reproduces the corpus token stream exactly
    assert(seqs.flatMap(_._2.split(" ")).toSeq == stream)
    // docs longer than a remainder cross boundaries: fragment doc counts
    // sum to docs + crossings
    assert(seqs.map(_._3).sum >= docs.length)
  }

  test("packingSink: streamed batches pack as one gapless continuation of the batch layout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.TextAnalysis
    implicit val sq = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("packsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("packckpt").toString
    val docs = (1L to 50L).map(i => (i, ("w " * (2 + (i % 9)).toInt).trim))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.packingSink(
      mem.toDF().toDF("id", "text"), "id", "text", 16, out, ckpt)
    // three ascending-id batches = the batch stream in arrival order
    mem.addData(docs.take(20): _*); q.processAllAvailable()
    mem.addData(docs.slice(20, 40): _*); q.processAllAvailable()
    mem.addData(docs.drop(40): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out)
      .select(col("id"), col("n_tokens"), col("start_off"), col("seq_first"), col("seq_last"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val batch = TextAnalysis.sequencePack(
        spark.createDataFrame(docs).toDF("id", "text"), "id", "text", 16)
      .select(col("id"), col("n_tokens"), col("start_off"), col("seq_first"), col("seq_last"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
  }

  test("packingSink recovers the running offset across a stop/restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.TextAnalysis
    implicit val sq = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("packsink2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("packckpt2").toString
    val docs = (1L to 50L).map(i => (i, ("w " * (2 + (i % 9)).toInt).trim))
    val mem = MemoryStream[(Long, String)]
    // run 1: two batches, then STOP — the round-5 in-memory AtomicLong
    // died here and a restart re-packed from the seed, overlapping ids
    val q1 = graft.streaming.EventStream.packingSink(
      mem.toDF().toDF("id", "text"), "id", "text", 16, out, ckpt)
    mem.addData(docs.take(20): _*); q1.processAllAvailable()
    mem.addData(docs.slice(20, 35): _*); q1.processAllAvailable()
    q1.stop()
    // run 2: fresh query object, same checkpoint + sink — the offset
    // ledger must re-seed at the packed history's end
    val q2 = graft.streaming.EventStream.packingSink(
      mem.toDF().toDF("id", "text"), "id", "text", 16, out, ckpt)
    mem.addData(docs.drop(35): _*); q2.processAllAvailable()
    q2.stop()
    val streamed = spark.read.parquet(out)
      .select(col("id"), col("n_tokens"), col("start_off"), col("seq_first"), col("seq_last"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val batch = TextAnalysis.sequencePack(
        spark.createDataFrame(docs).toDF("id", "text"), "id", "text", 16)
      .select(col("id"), col("n_tokens"), col("start_off"), col("seq_first"), col("seq_last"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq,
      "restarted stream must continue the gapless batch-equivalent layout")
    // ledger semantics directly: a REPLAYED batch reuses its recorded
    // start (idempotent), a successor seeds at max end, and the seed only
    // applies to an empty ledger
    val recs = graft.streaming.EventStream.PackOffsetStore.read(spark, out)
    assert(recs.map(_._1).sorted == Seq(0L, 1L, 2L))
    val byId = recs.map(r => r._1 -> r).toMap
    assert(graft.streaming.EventStream.PackOffsetStore.startFor(recs, 1L, 999L)
      == byId(1L)._2, "replay must reuse the recorded start, not the seed")
    assert(graft.streaming.EventStream.PackOffsetStore.startFor(recs, 3L, 0L)
      == byId(2L)._2 + byId(2L)._3)
    assert(graft.streaming.EventStream.PackOffsetStore.startFor(Seq.empty, 0L, 42L) == 42L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
  }

  test("PackOffsetStore compaction bounds the ledger; starts and replay are unchanged") {
    import graft.streaming.EventStream.PackOffsetStore
    val out = java.nio.file.Files.createTempDirectory("packcompact").toString
    // a long-lived ingestion: 30 batches, 10 tokens each, keepLast = 4
    var start = 0L
    for (b <- 0L until 30L) {
      start = PackOffsetStore.startFor(PackOffsetStore.read(spark, out), b, 0L)
      PackOffsetStore.record(spark, out, b, start, 10L, keepLast = 4)
    }
    val dirs = new java.io.File(s"$out/_offsets").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSeq
    // bounded: the survivor at the horizon + the keepLast newest rows —
    // NOT 30 dirs (the 500k-dirs-per-year hazard the compaction closes)
    assert(dirs.size <= 6, s"ledger must stay bounded, got ${dirs.size}: $dirs")
    val recs = PackOffsetStore.read(spark, out)
    // the next batch still seeds at the true total end
    assert(PackOffsetStore.startFor(recs, 30L, 0L) == 300L)
    // replay of any SURVIVING batch reuses its exact recorded start
    assert(PackOffsetStore.startFor(recs, 29L, 999L) == 290L)
    // the horizon survivor itself is replayable too (its record is kept)
    val survivor = recs.map(_._1).min
    assert(PackOffsetStore.startFor(recs, survivor, 999L) == survivor * 10L)
    // a batch BELOW the horizon has lost its record — recomputing would
    // silently restart the pack at initialOffset (overwriting offset 0),
    // so startFor must refuse instead (round-8 guard)
    val below = intercept[IllegalStateException] {
      PackOffsetStore.startFor(recs, survivor - 1L, 0L)
    }
    assert(below.getMessage.contains("compaction horizon"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("PackOffsetStore crash window: death between data commit and record leaves no gap or overlap") {
    import graft.streaming.EventStream.PackOffsetStore
    import graft.ops.TextAnalysis
    val out = java.nio.file.Files.createTempDirectory("packcrash").toString
    val docs = (1L to 30L).map(i => (i, ("w " * (2 + (i % 9)).toInt).trim))
    def deliver(batchId: Long, slice: Seq[(Long, String)], crashBeforeRecord: Boolean): Unit = {
      // replays packingSink's foreachBatch body verbatim: data commit
      // first, record last
      val df = spark.createDataFrame(slice).toDF("id", "text")
      val start = PackOffsetStore.startFor(PackOffsetStore.read(spark, out), batchId, 0L)
      TextAnalysis.sequencePackFrom(df, "id", "text", 16, start)
        .write.mode("overwrite").parquet(s"$out/batch=$batchId")
      if (!crashBeforeRecord) {
        val n = df.agg(coalesce(sum(TextAnalysis.tokenCount(col("text"))), lit(0L)))
          .head().getLong(0)
        PackOffsetStore.record(spark, out, batchId, start, n)
      }
    }
    deliver(0L, docs.take(10), crashBeforeRecord = false)
    // batch 1 commits its DATA, then dies before the ledger write — the
    // documented crash window
    deliver(1L, docs.slice(10, 20), crashBeforeRecord = true)
    // restart: foreachBatch re-delivers batch 1 (its epoch never
    // committed); with no own record it recomputes the SAME start from
    // its predecessors and overwrites its own dir at the original offset
    deliver(1L, docs.slice(10, 20), crashBeforeRecord = false)
    deliver(2L, docs.drop(20), crashBeforeRecord = false)
    val streamed = spark.read.parquet(out)
      .select(col("id"), col("n_tokens"), col("start_off"), col("seq_first"), col("seq_last"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val batch = TextAnalysis.sequencePack(
        spark.createDataFrame(docs).toDF("id", "text"), "id", "text", 16)
      .select(col("id"), col("n_tokens"), col("start_off"), col("seq_first"), col("seq_last"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq,
      "crash-then-replay must reproduce the gapless batch-equivalent layout")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("datasetCardApprox tracks the exact card within sketch tolerance; exact fields identical") {
    import graft.ops.Corpus
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val exact = Corpus.datasetCard(docs, "source", "text", "lang")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"), col("n_distinct"))
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = Corpus.datasetCardApprox(docs, "source", "text", "lang")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (src, a) =>
      val e = exact(src)
      // counts and sums are exact in both flavors
      assert(a.getLong(1) == e.getLong(1) && a.getLong(2) == e.getLong(2)
        && a.getLong(3) == e.getLong(3), src)
      // HLL estimates within 4x the 5% rsd of truth (loose, deterministic)
      def within(est: Long, truth: Long) =
        math.abs(est - truth) <= math.max(1L, (truth * 0.2).toLong)
      assert(within(a.getLong(4), e.getLong(4)), s"$src langs")
      assert(within(a.getLong(5), e.getLong(5)), s"$src distinct")
      // quantiles are real observed token counts in order
      val (p50, p90) = (a.getLong(6), a.getLong(7))
      assert(p50 <= p90 && p50 > 0, src)
    }
  }

  // ---- precedence dedup ----

  test("precedenceDedup: trusted source wins over lower id; all-tied reduces to min-id") {
    import graft.ops.Dedup
    val rows = Seq(
      (1L, "shared text body", 2), // web copy, lower id
      (2L, "shared text body", 0), // curated copy wins despite higher id
      (3L, "unique a", 1),
      (4L, "shared text body", 1))
    val got = Dedup.precedenceDedup(
        spark.createDataFrame(rows).toDF("id", "text", "prio"), "id", "text", "prio")
      .select(col("keep_id"), col("keep_prio"), col("n_copies"), col("n_prios"))
      .as[(Long, Int, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((2L, 0, 3L, 3L), (3L, 1, 1L, 1L)))
    // all priorities equal -> q13's min-id election
    val tied = Dedup.precedenceDedup(
        spark.createDataFrame(rows.map { case (i, t, _) => (i, t, 5) })
          .toDF("id", "text", "prio"), "id", "text", "prio")
      .select(col("keep_id")).as[Long].collect().sorted
    assert(tied.toSeq == Seq(1L, 3L))
  }

  test("chunkPrecedenceDedup: winner is min (prio, id, pos) per chunk fingerprint") {
    import graft.ops.Dedup
    // chunk size 2: doc 1 = [a b][c d], doc 2 = [c d][e f], doc 3 = [a b]
    val rows = Seq((1L, "a b c d", 1), (2L, "c d e f", 0), (3L, "a b", 0))
    val got = Dedup.chunkPrecedenceDedup(
        spark.createDataFrame(rows).toDF("id", "text", "prio"),
        "id", "text", "prio", chunkTokens = 2)
      .select(col("fp"), col("keep_id"), col("keep_prio"), col("n_copies"))
      .as[(String, Long, Int, Long)].collect()
    val byFp = got.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(byFp(md5hex("a b")) == ((3L, 0, 2L)))   // prio 0 beats doc 1's prio 1
    assert(byFp(md5hex("c d")) == ((2L, 0, 2L)))   // prio 0 beats doc 1's prio 1
    assert(byFp(md5hex("e f")) == ((2L, 0, 1L)))
    assert(got.length == 3)
  }
}

object ShardCalibSpec {

  /** Driver model: exact integer cums, min v with cum >= q*total. */
  def wqModel(rows: Seq[(String, Double, Long)], qs: Seq[Double])
      : Map[(String, Double), Double] =
    rows.filter(_._3 > 0L).groupBy(_._1).flatMap { case (g, rs) =>
      val tally = rs.groupBy(_._2).map { case (v, vs) => (v, vs.map(_._3).sum) }
        .toSeq.sortBy(_._1)
      val total = tally.map(_._2).sum
      qs.map { q =>
        var cum = 0L
        // integer-exact threshold compare: cum*denom >= num*total with
        // q = num/denom from the decimal literal
        val bd = new java.math.BigDecimal(q.toString)
        val den = java.math.BigDecimal.TEN.pow(bd.scale()).longValueExact()
        val num = bd.movePointRight(bd.scale()).longValueExact()
        val v = tally.collectFirst {
          case (v, w) if { cum += w; cum * den >= num * total } => v
        }.get
        (g, q) -> v
      }
    }
}
