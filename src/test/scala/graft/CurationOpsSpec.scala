package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Corpus, Dedup}

/** Round-5 curation operators: frequency-threshold boilerplate removal,
  * blocked fuzzy (edit-distance) duplicate pairs, and temperature-weighted
  * source mixing with largest-remainder allocation. */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark
  import spark.implicits._

  // ---- Dedup.boilerplateRemove ----

  test("boilerplateRemove drops EVERY occurrence of frequent chunks, including the first") {
    // chunkTokens=2: "c1 c2" is the shared boilerplate chunk (3 docs);
    // each doc also has unique content. Doc 3 is ONLY boilerplate.
    val docs = Seq(
      (0, "c1 c2 u0 v0"),
      (1, "c1 c2 u1 v1"),
      (2, "u2 v2 c1 c2"),
      (3, "c1 c2")
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateRemove(docs, "doc_id", "text", chunkTokens = 2, minDocs = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    def m(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(got.toSeq == Seq(
      (0, 2L, 1L, m("u0 v0"), 5L),
      (1, 2L, 1L, m("u1 v1"), 5L),
      (2, 2L, 1L, m("u2 v2"), 5L),
      (3, 1L, 0L, m(""), 0L))) // fully-boilerplate doc still yields a row
  }

  // ---- TextAnalysis.gopherQualityGate ----

  test("gopherQualityGate trips each published rule independently") {
    import graft.ops.TextAnalysis
    val prose = ("the results be consistent to the point of and beyond that " +
      "we have measured with care").trim // 17 words, all rules pass
    val docs = Seq(
      (0, prose),                                       // passes everything
      (1, "short of the and"),                          // too few words
      (2, prose + " ##########################"),       // symbol ratio over 0.1
      (3, ("xq zv " * 12).trim),                        // no stopwords, alpha ok
      (4, prose.replace("measured", "a" * 200)),        // mean word length > 10
      (5, ("42 171 9 " * 8).trim + " the and of that")  // alpha fraction < 0.8
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQualityGate(docs, "doc_id", "text",
        minWords = 5, maxWords = 50)
      .orderBy("doc_id")
      .select("doc_id", "gopher_ok").as[(Int, Int)].collect().toSeq
    assert(got == Seq((0, 1), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0)))
    // and the features behind the verdicts are the advertised ones
    val f = TextAnalysis.gopherQualityGate(docs, "doc_id", "text",
        minWords = 5, maxWords = 50)
      .orderBy("doc_id").collect()
    assert(f(1).getAs[Long]("n_words") == 4L)
    assert(f(2).getAs[Double]("symbol_ratio") > 0.1)
    assert(f(3).getAs[Long]("stop_hits") == 0L)
    assert(f(4).getAs[Double]("mean_word_len") > 10.0)
    assert(f(5).getAs[Double]("alpha_frac") < 0.8)
  }

  test("gopherQualityGate ellipsis counting rides the symbol ratio") {
    import graft.ops.TextAnalysis
    // 10 words, 3 '...' occurrences -> ratio 0.3; hash-free
    val docs = Seq((0, "w1... w2... w3... w4 w5 w6 w7 w8 w9 w10"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.gopherQualityGate(docs, "doc_id", "text", minWords = 1)
      .head()
    assert(r.getAs[Double]("symbol_ratio") == 0.3 && r.getAs[Int]("gopher_ok") == 0)
  }

  // ---- Corpus.vocabCoverage ----

  test("vocabCoverage: top-K vocab ties break (count desc, token asc); OOV fractions; tokenless docs drop") {
    val docs = Seq(
      (0, "a a a"),   // a (count 3) tops the vocab -> fully in-vocab
      (1, "b b x"),   // b (2) wins the count tie against c (2) by token asc
      (2, "c c y"),   // c lost the tie -> every token OOV
      (3, "   ")      // no non-empty token -> no row (the dsirWeights contract)
    ).toDF("doc_id", "text")
    val got = Corpus.vocabCoverage(docs, "doc_id", "text", topK = 2, maxOovFrac = 0.5)
      .select("doc_id", "n_tokens", "oov_tokens", "vocab_ok")
      .as[(Int, Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0, 3L, 0L, 1), (1, 3L, 1L, 1), (2, 3L, 3L, 0)),
      "tie-break must admit b, exclude c, and the 0.5 threshold is inclusive")
  }

  test("vocabCoverage: a vocabulary at least the corpus's size marks nothing OOV") {
    val docs = Seq((0, "p q"), (1, "q r")).toDF("doc_id", "text")
    val got = Corpus.vocabCoverage(docs, "doc_id", "text", topK = 100, maxOovFrac = 0.0)
      .agg(sum("oov_tokens"), min("vocab_ok")).as[(Long, Int)].head()
    assert(got == ((0L, 1)))
  }

  // ---- Dedup.dupSpanRemove ----

  test("dupSpanRemove: first occurrence survives, every other copy excised, overlaps chain, short docs verbatim") {
    val docs = Seq(
      (0, "a b c d e"),    // owns the corpus-first "a b c" -> untouched
      (1, "x a b c y"),    // its "a b c" at pos 2 loses -> tokens 2..4 go
      (2, "a b c"),        // entirely the duplicated span -> empty rebuild
      (3, "p q r p q r s"),// within-doc repeat: second "p q r" (pos 4) goes
      (4, "z z")           // shorter than n -> no windows, verbatim
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanRemove(docs, "doc_id", "text", n = 3)
      .as[(Int, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0, 5L, 5L, "a b c d e"),
      (1, 5L, 2L, "x y"),
      (2, 3L, 0L, ""),
      (3, 7L, 4L, "p q r s"),
      (4, 2L, 2L, "z z")))
    // the election is a pure function of content — layout must not leak
    val re = Dedup.dupSpanRemove(docs.repartition(7), "doc_id", "text", n = 3)
      .as[(Int, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(re == got)
  }

  // ---- Dedup.decontaminateSpans ----

  test("decontaminateSpans: every benchmark-overlapping window excised, all occurrences, prose survives") {
    val bench = Seq((100, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      // the bench 5-gram embedded mid-doc: its one covering window
      // (tokens 3..7) goes, surrounding prose survives
      (0, "intro words the quick brown fox jumps outro words"),
      // NO overlap at 5-gram granularity (only 4 shared tokens in a row)
      (1, "the quick brown fox sleeps all day long"),
      // the doc IS the benchmark item -> empty rebuild
      (2, "the quick brown fox jumps"),
      // the item appears TWICE: both occurrences go (no first-wins here —
      // the 'first copy' lives in the benchmark)
      (3, "the quick brown fox jumps again the quick brown fox jumps"),
      // shorter than n -> verbatim
      (4, "tiny doc")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminateSpans(train, "doc_id", "text", bench, "text", n = 5)
      .as[(Int, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0, 9L, 4L, "intro words outro words"),
      (1, 8L, 8L, "the quick brown fox sleeps all day long"),
      (2, 5L, 0L, ""),
      (3, 11L, 1L, "again"),
      (4, 2L, 2L, "tiny doc")))
    // layout must not leak into the verdict
    val re = Dedup.decontaminateSpans(train.repartition(5), "doc_id", "text",
        bench, "text", n = 5)
      .as[(Int, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(re == got)
  }

  // ---- Dedup.intraDocDedup ----

  test("intraDocDedup keeps the FIRST occurrence of each chunk within its own doc, in order") {
    val docs = Seq(
      (0, "a b c a b c d"),      // chunks [a b c][a b c][d] -> [a b c][d]
      (1, "x y z"),              // no repetition: unchanged
      (2, "p p p p p p p p p"),  // one distinct chunk repeated 3x
      (3, "A  b C a b c")        // case/whitespace normalize BEFORE matching
    ).toDF("doc_id", "text")
    val got = Dedup.intraDocDedup(docs, "doc_id", "text", chunkTokens = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    def m(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(got.toSeq == Seq(
      (0, 3L, 2L, m("a b c d"), 7L),
      (1, 1L, 1L, m("x y z"), 5L),
      (2, 3L, 1L, m("p p p"), 5L),
      (3, 2L, 1L, m("a b c"), 5L)))
  }

  test("intraDocDedup is strictly per-doc: identical chunks ACROSS docs all survive") {
    // the deliberate contrast with boilerplateRemove — cross-doc copies
    // are the cross-doc dedup family's job, not this operator's
    val docs = Seq((0, "c1 c2 u0"), (1, "c1 c2 u1")).toDF("doc_id", "text")
    val got = Dedup.intraDocDedup(docs, "doc_id", "text", chunkTokens = 2)
      .orderBy("doc_id").select("doc_id", "n_chunks", "kept_chunks")
      .as[(Int, Long, Long)].collect()
    assert(got.toSeq == Seq((0, 2L, 2L), (1, 2L, 2L)))
  }

  test("boilerplateRemove counts DISTINCT docs — within-doc repetition never triggers the threshold") {
    val docs = Seq(
      (0, "r1 r2 r1 r2 r1 r2"), // same chunk 3x in ONE doc: df=1, kept
      (1, "s1 s2")
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateRemove(docs, "doc_id", "text", chunkTokens = 2, minDocs = 2)
      .orderBy("doc_id").select("doc_id", "n_chunks", "kept_chunks")
      .as[(Int, Long, Long)].collect()
    assert(got.toSeq == Seq((0, 3L, 3L), (1, 1L, 1L)))
  }

  test("boilerplateRemove normalizes case/whitespace before matching, like chunkDedup") {
    val docs = Seq(
      (0, "  Hdr Foot  body0"),
      (1, "hdr foot body1")
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateRemove(docs, "doc_id", "text", chunkTokens = 2, minDocs = 2)
      .orderBy("doc_id").select("doc_id", "kept_chunks")
      .as[(Int, Long)].collect()
    // "hdr foot" matches across both docs after lower(trim); the bodies
    // pad their final short chunk and stay unique
    assert(got.toSeq == Seq((0, 1L), (1, 1L)))
  }

  test("boilerplateScrub stream gate matches the batch rebuild doc-for-doc, stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    implicit val sq = spark.sqlContext
    val corpus = Seq(
      (0L, "c1 c2 u0 v0"),
      (1L, "c1 c2 u1 v1"),
      (2L, "u2 v2 c1 c2"),
      (3L, "c1 c2")
    ).toDF("doc_id", "text")
    val keys = EventStream.boilerplateKeys(corpus, "doc_id", "text",
      chunkTokens = 2, minDocs = 2)
    assert(keys.size == 1, "exactly the shared 'c1 c2' chunk is boilerplate")
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.boilerplateScrub(mem.toDF().toDF("doc_id", "text"),
        "text", keys, chunkTokens = 2)
      .select(col("doc_id"), col("n_chunks"), col("kept_chunks"),
        md5(col("clean_text")).as("clean_md5"),
        length(col("clean_text")).cast("long").as("clean_chars"))
      .writeStream.outputMode("append").format("memory").queryName("bp").start()
    mem.addData((0L, "c1 c2 u0 v0"), (3L, "c1 c2"))
    q.processAllAvailable()
    mem.addData((2L, "u2 v2 c1 c2")) // second microbatch — same verdicts
    q.processAllAvailable()
    val streamed = spark.table("bp").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.forall(_.numRowsTotal == 0), "stateless gate")
    q.stop()
    val batch = Dedup.boilerplateRemove(corpus, "doc_id", "text",
        chunkTokens = 2, minDocs = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    for (id <- streamed.keys) assert(streamed(id) == batch(id), s"doc $id")
  }

  // ---- Dedup.fuzzyDupPairs ----

  test("fuzzyDupPairs: within-block near-matches pair once; cross-block twins never meet") {
    val docs = Seq(
      (0L, "en", "alpha beta gamma delta"),
      (1L, "en", "alpha beta gamme delta"),   // 1 edit from doc 0, same block
      (2L, "en", "alpha beta gamma delta"),   // exact dup of doc 0
      (3L, "de", "alpha beta gamma delta"),   // identical TEXT, different lang block
      (4L, "en", "omega beta gamma delta"),   // different first token → different block
      (5L, "en", "zzz yyy xxx www")
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.fuzzyDupPairs(docs, "doc_id", "text",
        Seq(col("lang"), element_at(split(lower(trim(col("text"))), "\\s+"), 1)),
        maxEdit = 3, prefixChars = 80)
      .orderBy("id1", "id2")
      .as[(Long, Long, Int)].collect()
    // (0,1) dist 1, (0,2) dist 0, (1,2) dist 1 — each pair exactly once,
    // id1 < id2; docs 3/4 blocked away despite textual closeness
    assert(got.toSeq == Seq((0L, 1L, 1), (0L, 2L, 0), (1L, 2L, 1)))
  }

  test("fuzzyDupPairs caps the verify at prefixChars — tail edits beyond it are invisible") {
    val base = "same same same same "
    val docs = Seq(
      (0L, "en", base + "tail-one"),
      (1L, "en", base + "completely-different-ending-text")
    ).toDF("doc_id", "lang", "text")
    val within = Dedup.fuzzyDupPairs(docs, "doc_id", "text", Seq(col("lang")),
      maxEdit = 0, prefixChars = base.length).as[(Long, Long, Int)].collect()
    assert(within.toSeq == Seq((0L, 1L, 0)), "prefix-identical pair at dist 0")
    val beyond = Dedup.fuzzyDupPairs(docs, "doc_id", "text", Seq(col("lang")),
      maxEdit = 0, prefixChars = 200).count()
    assert(beyond == 0, "full-length compare sees the differing tails")
  }

  // ---- Dedup.incrementalDedup / incrementalNearDups ----

  test("incrementalDedup: history beats batch-first; within-batch first-wins; normalization shared") {
    val history = Seq((100L, "seen before"), (101L, "other old doc")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "  Seen   BEFORE "), // whitespace/case variant of history → dup_history
      (2L, "fresh content"),    // first sight → kept
      (3L, "fresh content"),    // within-batch repeat → dup_batch
      (4L, "also new")          // kept
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, "doc_id", "text", history, "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(got.toSeq == Seq(
      (1L, "dup_history"), (2L, "kept"), (3L, "dup_batch"), (4L, "kept")))
  }

  test("incrementalDedup: a batch doc duplicated in BOTH history and batch is dup_history everywhere") {
    val history = Seq((9L, "x y z")).toDF("doc_id", "text")
    val batch = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, "doc_id", "text", history, "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "dup_history", 2L -> "dup_history"),
      "history precedence applies to every batch copy, not just the non-first")
  }

  test("incrementalNearDups: best history match per new doc, clean docs absent, ties to lowest id") {
    val near = "a b c d e f g h i j k l"       // 8 5-gram shingles
    val history = Seq(
      (100L, near),                            // exact shingle match
      (101L, near),                            // identical twin — tie on jaccard
      (102L, "totally different words here entirely unrelated stream")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, near + " m"),                       // 9 shingles, 8 common → j = 8/9
      (2L, "nothing like anything in the history corpus at all")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDups(batch, history, "doc_id", "text",
        k = 4, rowsPerBand = 2, n = 5, minJaccard = 0.2)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1, "the clean doc must produce no row")
    val (id, hist, j) = got(0)
    assert(id == 1L && hist == 100L, "jaccard tie resolved to the LOWEST history id")
    assert(math.abs(j - math.round(8.0 / 9 * 10000) / 10000.0) < 1e-9)
  }

  test("incremental dedup runs per microbatch via the foreachBatch sink — the full ingestion loop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    implicit val sq = spark.sqlContext
    val history = Seq((100L, "already ingested doc")).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("incr_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("incr_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.sinkBatches(mem.toDF().toDF("doc_id", "text"), out, ckpt) {
      batch => Dedup.incrementalDedup(batch, "doc_id", "text", history, "text")
    }
    mem.addData((1L, "already   INGESTED doc"), (2L, "new doc"), (3L, "new doc"))
    q.processAllAvailable()
    // a later microbatch deduping only against HISTORY (not batch 0 —
    // that's what the fingerprint-snapshot update would add): 4 repeats
    // batch 0's "new doc" and is judged fresh here, by design
    mem.addData((4L, "new doc"))
    q.processAllAvailable()
    q.stop()
    val verdicts = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts == Map(1L -> "dup_history", 2L -> "kept",
      3L -> "dup_batch", 4L -> "kept"))
  }

  // ---- Corpus.temperatureMix ----

  test("temperatureMix: sqrt weights, largest-remainder allocation sums exactly to budget") {
    // counts 1/4/16 → sqrt 1/2/4, tot 7; budget 10 → raw 1.428/2.857/5.714,
    // floors 1/2/5 (=8), remainder 2 → fracs .857 (g4), .714 (g16), .428 (g1)
    val docs = (Seq.fill(1)("g1") ++ Seq.fill(4)("g4") ++ Seq.fill(16)("g16"))
      .zipWithIndex.map { case (g, i) => (i.toLong, g) }.toDF("id", "grp")
    val got = Corpus.temperatureMix(docs, "grp", alpha = 0.5, budget = 10L)
      .orderBy("grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.map(t => (t._1, t._2, t._4)).toSeq ==
      Seq(("g1", 1L, 1L), ("g16", 16L, 6L), ("g4", 4L, 3L)))
    assert(got.map(_._4).sum == 10L, "allocations sum exactly to the budget")
    assert(math.abs(got.find(_._1 == "g1").get._3 - 1.0 / 7) < 1e-6)
  }

  test("hashedLinearScore: mean of md5-derived token micro-weights, repetition-invariant, null on empty") {
    import graft.ops.TextAnalysis
    // scala-side replica of the weight arithmetic for one token
    def w(tok: String): Long =
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex("graft-q|" + tok).substring(0, 6), 16) % 2000001L - 1000000L
    val docs = Seq(
      (0L, "alpha"),
      (1L, "alpha alpha alpha"),  // mean over repeats == single-token score
      (2L, "alpha beta"),
      (3L, "   ")
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextAnalysis.hashedLinearScore(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val sAlpha = w("alpha").toDouble / 1 / 1000000
    assert(math.abs(got(0L).get - sAlpha) < 1e-12)
    assert(got(1L).get == got(0L).get, "repetition leaves the mean unchanged")
    val sMix = ((w("alpha") + w("beta")).toDouble / 2) / 1000000
    assert(math.abs(got(2L).get - sMix) < 1e-12)
    assert(got(3L).isEmpty, "whitespace-only text scores null, not 0/0")
  }

  test("temperatureSample draws exactly the mixing allocation per group, deterministically") {
    val docs = (Seq.fill(40)("big") ++ Seq.fill(10)("small") ++ Seq.fill(2)("tiny"))
      .zipWithIndex.map { case (g, i) => (i.toLong, g) }.toDF("doc_id", "grp")
    val mix = Corpus.temperatureMix(docs, "grp", 0.5, 20L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val sampled = Corpus.temperatureSample(docs, "doc_id", "grp", 0.5, 20L)
    val byGroup = sampled.groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-group counts equal the allocation, capped by group size
    for ((g, alloc) <- mix) {
      val size = docs.filter(col("grp") === g).count()
      assert(byGroup.getOrElse(g, 0L) == math.min(alloc, size), s"group $g")
    }
    // deterministic: a second run draws the identical id set
    val ids1 = sampled.collect().map(_.getLong(0)).toSet
    val ids2 = Corpus.temperatureSample(docs, "doc_id", "grp", 0.5, 20L)
      .collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("temperatureSample on an empty corpus draws nothing instead of failing") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "grp")
    val got = Corpus.temperatureSample(docs, "doc_id", "grp", 0.5, 20L)
    assert(got.columns.toSeq == Seq("doc_id", "grp"))
    assert(got.count() == 0L)
  }

  test("temperatureSample (BudgetSelect form) replays the per-group window draw on a skewed corpus") {
    import org.apache.spark.sql.expressions.Window
    // one dominant group (90%), two tails — the shape the round-7 rewrite
    // exists for; equality against the old window form proves the range-
    // partitioned running count picks the SAME first-alloc rows per group
    val docs = (0L until 1000L).map { i =>
      (i, if (i % 10 == 0) (if (i % 20 == 0) "de" else "fr") else "en")
    }.toDF("doc_id", "grp")
    // budget sized so every group's allocation fits its membership
    // (en≈204 of 900, fr/de≈48 of 50) — the draw then sums EXACTLY
    val budget = 300L
    val mix = Corpus.temperatureMix(docs, "grp", 0.5, budget)
      .select(col("grp"), col("alloc"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(md5(concat(lit("graft-temp|"), col("doc_id").cast("string"))), col("doc_id"))
    val reference = docs.withColumn("_rn", row_number().over(w))
      .join(broadcast(mix), Seq("grp"))
      .filter(col("_rn") <= col("alloc"))
      .select("doc_id").as[Long].collect().toSet
    val got = Corpus.temperatureSample(docs, "doc_id", "grp", 0.5, budget)
      .select("doc_id").as[Long].collect().toSet
    assert(got == reference)
    assert(got.size == budget, "largest-remainder allocations sum exactly to the budget")
  }

  test("curation operators drop null-text rows instead of failing") {
    val docs = Seq((0L, "a b c d", "en"), (1L, null, "en"), (2L, "a b", "de"))
      .toDF("doc_id", "text", "lang")
    // null text → no chunks / null fingerprint / null prefix → absent
    assert(Dedup.boilerplateRemove(docs, "doc_id", "text", 2, 2)
      .select("doc_id").as[Long].collect().toSet == Set(0L, 2L))
    assert(Dedup.incrementalDedup(docs, "doc_id", "text",
        Seq((9L, "a b c d")).toDF("doc_id", "text"), "text")
      .select("doc_id").as[Long].collect().toSet == Set(0L, 2L))
    assert(Dedup.fuzzyDupPairs(docs, "doc_id", "text", Seq(col("lang")), 100, 80)
      .count() == 0) // the null-text doc never pairs, even within its block
    // null text scores null, and the mixing table counts the DOC (its
    // group membership is real even if its text is empty)
    val s = docs.select(graft.ops.TextAnalysis.hashedLinearScore(col("text")).as("s"))
      .filter(col("s").isNull).count()
    assert(s == 1)
    assert(Corpus.temperatureMix(docs, "lang", 0.5, 10L)
      .agg(sum("n_docs")).as[Long].collect()(0) == 3L)
  }

  test("boilerplateRemove agrees with a naive frequency scan on random corpora") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e")
      val docs = (0 until 60).map(i => (i.toLong,
        (0 until (1 + rng.nextInt(8))).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")))
      def chunksOf(t: String): Seq[String] = {
        val w = t.trim.toLowerCase.split("\\s+").toSeq
        (0 until math.ceil(w.size / 2.0).toInt).map(i => w.slice(i * 2, i * 2 + 2).mkString(" "))
      }
      val docFreq = docs.flatMap { case (id, t) => chunksOf(t).distinct.map(_ -> id) }
        .groupBy(_._1).map { case (ch, xs) => ch -> xs.size }
      val boiler = docFreq.filter(_._2 >= 2).keySet
      val want = docs.map { case (id, t) =>
        val ch = chunksOf(t)
        val kept = ch.filterNot(boiler)
        val clean = kept.mkString(" ")
        id -> (ch.size.toLong, kept.size.toLong,
          org.apache.commons.codec.digest.DigestUtils.md5Hex(clean), clean.length.toLong)
      }.toMap
      val got = Dedup.boilerplateRemove(docs.toDF("doc_id", "text"), "doc_id", "text", 2, 2)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("incrementalDedup agrees with a naive verdict scan on random corpora") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      val vocab = Vector("x", "y", "z")
      def doc() = (0 until (1 + rng.nextInt(3))).map(_ => vocab(rng.nextInt(3))).mkString("  ")
      val history = (100L until 130L).map(i => (i, doc()))
      val batch = (0L until 40L).map(i => (i, doc()))
      def fp(t: String) = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(t.replaceAll("\\s+", " ").trim.toLowerCase)
      val histFps = history.map(h => fp(h._2)).toSet
      val firstOf = batch.groupBy(b => fp(b._2)).map { case (k, xs) => k -> xs.map(_._1).min }
      val want = batch.map { case (id, t) =>
        id -> (if (histFps(fp(t))) "dup_history"
               else if (firstOf(fp(t)) == id) "kept"
               else "dup_batch")
      }.toMap
      val got = Dedup.incrementalDedup(batch.toDF("doc_id", "text"), "doc_id", "text",
          history.toDF("doc_id", "text"), "text")
        .as[(Long, String)].collect().toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("sequencePack: offsets equal the naive concat scan, partitioning-invariant, spans correct") {
    import graft.ops.TextAnalysis
    val rng = new scala.util.Random(11)
    val docs = (0L until 200L).map(i =>
      (i, (0 until (1 + rng.nextInt(30))).map(_ => "w").mkString(" ")))
    // shuffled, many-partition input: global order must come from ids,
    // not arrival order
    val df = spark.createDataFrame(rng.shuffle(docs)).toDF("doc_id", "text").repartition(7)
    val got = TextAnalysis.sequencePack(df, "doc_id", "text", seqLen = 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    var off = 0L
    for ((id, t) <- docs) {
      val n = t.split("\\s+").length.toLong
      val want = (n, off, off / 16, (off + n - 1) / 16)
      assert(got(id) == want, s"doc $id")
      off += n
    }
    // spans: a doc crossing a 16-token boundary reports both sequences
    val crossing = got.collect { case (_, (_, o, f, l)) if l > f => (o, f, l) }
    assert(crossing.nonEmpty, "the corpus must contain boundary-crossing docs")
    assert(crossing.forall { case (o, f, l) => o / 16 == f && l >= f })
  }

  test("compressionRatio orders repetitive below diverse text, bounded, deterministic, null-safe") {
    import graft.ops.TextAnalysis
    val rng = new scala.util.Random(5)
    val repetitive = Seq.fill(200)("buy now click here").mkString(" ")
    val diverse = Seq.fill(200)(rng.alphanumeric.take(8).mkString).mkString(" ")
    val docs = Seq((0L, repetitive), (1L, diverse), (2L, null), (3L, ""))
      .toDF("doc_id", "text")
    def run() = docs.select(col("doc_id"),
        TextAnalysis.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val got = run()
    assert(got(0L).get < 0.05, s"looping text compresses hard: ${got(0L)}")
    assert(got(1L).get > 0.5, s"high-entropy text barely compresses: ${got(1L)}")
    assert(got(0L).get > 0 && got(1L).get < 1.2, "ratios in sane bounds")
    assert(got(2L).isEmpty && got(3L).isEmpty, "null and empty text have no ratio")
    assert(run() == got, "deterministic across runs")
  }

  test("temperatureMix: alpha=1 is proportional, alpha=0 is uniform") {
    val docs = (Seq.fill(30)("a") ++ Seq.fill(10)("b")).zipWithIndex
      .map { case (g, i) => (i.toLong, g) }.toDF("id", "grp")
    val prop = Corpus.temperatureMix(docs, "grp", alpha = 1.0, budget = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(prop == Map("a" -> 75L, "b" -> 25L))
    val unif = Corpus.temperatureMix(docs, "grp", alpha = 0.0, budget = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(unif == Map("a" -> 50L, "b" -> 50L))
  }

  // ---- Corpus.waterfillMix / waterfillSample (round-9) ----

  test("waterfillMix: small groups taken whole, excess re-flows, total exactly min(budget, supply)") {
    def mk(sizes: Map[String, Int]) =
      sizes.toSeq.flatMap { case (g, n) => (0 until n).map(i => (s"$g$i", g)) }
        .toDF("id", "grp")
    // uniform weights (alpha=0), budget 30 over supplies (2, 10, 100):
    // ratio order a, b, c; a capped (2 ≤ 30/3·1), b capped (10 ≤ 28/2),
    // c absorbs the rest (18)
    val got = Corpus.waterfillMix(mk(Map("a" -> 2, "b" -> 10, "c" -> 100)),
        "grp", alpha = 0.0, budget = 30L)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(got == Map("a" -> ((2L, 1)), "b" -> ((10L, 1)), "c" -> ((18L, 0))))
    // budget beyond the corpus: every group capped at its supply
    val all = Corpus.waterfillMix(mk(Map("a" -> 3, "b" -> 5)), "grp", 0.5, 100L)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(all == Map("a" -> ((3L, 1)), "b" -> ((5L, 1))))
    // no binding cap → identical to the plain temperature allocation
    val docs = mk(Map("x" -> 100, "y" -> 25))
    val wf = Corpus.waterfillMix(docs, "grp", 0.5, 30L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val tm = Corpus.temperatureMix(docs, "grp", 0.5, 30L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(wf == tm)
  }

  test("waterfill supply collect fails loudly past maxGroups (round-15: bounded driver collects)") {
    // 3 distinct groups against maxGroups = 2: the bounded collect must
    // throw, not silently OOM-risk the driver at scale
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "grp")
    val e = intercept[IllegalArgumentException] {
      Corpus.waterfillMix(docs, "grp", alpha = 0.0, budget = 10L, maxGroups = 2)
        .collect()
    }
    assert(e.getMessage.contains("maxGroups"))
    // the bound is inclusive: exactly maxGroups groups still passes
    val ok = Corpus.waterfillMix(docs, "grp", 0.0, 10L, maxGroups = 3).collect()
    assert(ok.length == 3)
  }

  test("waterfillMixBy allocates token mass with caps; the cost draw respects per-group budgets") {
    // supplies in TOKENS: rare carries 10, big carries 200; uniform
    // weights, budget 100 → rare capped at 10, big absorbs 90
    val docs = ((0 until 5).map(i => (i.toLong, "rare", 2L))
        ++ (5 until 45).map(i => (i.toLong, "big", 5L))).toDF("doc_id", "grp", "cost")
    val mix = Corpus.waterfillMixBy(docs, "grp", "cost", alpha = 0.0, budget = 100L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(mix == Map("rare" -> ((10L, 10L, 1)), "big" -> ((200L, 90L, 0))))
    // the draw: rare taken whole (5 docs × 2), big admits 18 docs × 5 = 90
    val drawn = Corpus.waterfillSampleByCost(docs, "doc_id", "grp", "cost",
      0.0, 100L)
    val byGroup = drawn.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("cost")).as("mass"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byGroup == Map("rare" -> ((5L, 10L)), "big" -> ((18L, 90L))))
    // determinism
    assert(drawn.select("doc_id").as[Long].collect().toSet ==
      Corpus.waterfillSampleByCost(docs, "doc_id", "grp", "cost", 0.0, 100L)
        .select("doc_id").as[Long].collect().toSet)
  }

  test("waterfillSample draws the full budget where temperatureSample under-draws") {
    // one tiny group whose proportional share exceeds its supply
    val docs = ((0 until 4).map(i => (i.toLong, "rare"))
        ++ (4 until 204).map(i => (i.toLong, "big"))).toDF("doc_id", "grp")
    val temp = Corpus.temperatureSample(docs, "doc_id", "grp", 0.0, 100L)
    // uniform alpha: 50 each, but rare has 4 → plain temperature loses 46
    assert(temp.count() == 54L)
    val wf = Corpus.waterfillSample(docs, "doc_id", "grp", 0.0, 100L)
    assert(wf.count() == 100L, "waterfill must re-flow the capped excess")
    val byGroup = wf.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(byGroup == Map("rare" -> 4L, "big" -> 96L))
    // deterministic draw
    assert(wf.select("doc_id").as[Long].collect().toSet ==
      Corpus.waterfillSample(docs, "doc_id", "grp", 0.0, 100L)
        .select("doc_id").as[Long].collect().toSet)
  }

  // ---- Dedup.dupRateCurve (round-9) ----

  test("dupRateCurve: per-threshold drop counts match per-threshold precedence dedup, zero rows kept") {
    // three near-identical docs (one 5-gram apart) + one unrelated:
    // pair jaccards land at distinct values so thresholds discriminate
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val half = (1 to 8).map(i => s"w$i").mkString(" ") + " y1 y2 y3 y4"
    val docs = Seq(
      (0L, base),   // 8 shingles (5-grams of 12 tokens)
      (1L, base + " w13"),   // superset: J(0,1) = 8/9
      (2L, half),   // shares grams 1..4 only: J(0,2) = 4/12, J(1,2) = 4/13
      (3L, "completely different text entirely unrelated words here ok")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 5)
    val got = Dedup.dupRateCurve(sh, Seq(0.2, 0.5, 0.95), maxDf = 10)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // victims (higher id of each pair ≥ t): t=0.2 → {1 (via 0), 2 (via 0)};
    // t=0.5 → {1}; t=0.95 → {}
    assert(got.toSeq == Seq(
      (0.2, 2L, 4L, 0.5), (0.5, 1L, 4L, 0.25), (0.95, 0L, 4L, 0.0)))
    // cross-check each threshold against an independent per-threshold run
    for ((t, nd, _, _) <- got) {
      val pairs = Dedup.ngramJaccardPairsOf(sh, minJaccard = t, maxDf = 10)
      val victims = pairs.select(col("id_b")).distinct().count()
      assert(victims == nd, s"threshold $t")
    }
  }

  // ---- TextAnalysis.packingStats (round-9) ----

  test("packingStats matches the naive per-seqLen model from one offset pass") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (0L, (1 to 5).map(i => s"a$i").mkString(" ")),   // 5 tokens, off 0
      (1L, (1 to 9).map(i => s"b$i").mkString(" ")),   // 9 tokens, off 5
      (2L, "c1 c2"),                                   // 2 tokens, off 14
      (3L, (1 to 20).map(i => s"d$i").mkString(" "))   // 20, off 16
    ).toDF("doc_id", "text")
    val got = TextAnalysis.packingStats(docs, "doc_id", "text", Seq(8, 16))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
      .sortBy(_._1).toSeq
    // T=36. L=8: spans 0-4|5-13|14-15|16-35 → sf/sl = 0/0, 0/1, 1/1, 2/4
    //   n_seqs=5, pad=40-36=4, splits={1,3}=2, touches=1+2+1+3=7
    // L=16: sf/sl = 0/0, 0/0, 0/0, 1/2 → n_seqs=3, pad=48-36=12,
    //   splits={3}=1, touches=1+1+1+2=5
    assert(got == Seq(
      (8L, 4L, 36L, 5L, 4L, 2L, 0.5, 7.0 / 5.0),
      (16L, 4L, 36L, 3L, 12L, 1L, 0.25, 5.0 / 3.0)))
    // and the one-pass sweep agrees with individually-run packs
    for (l <- Seq(8, 16)) {
      val single = TextAnalysis.sequencePack(docs, "doc_id", "text", l)
      val splits = single.filter(col("seq_last") > col("seq_first")).count()
      assert(splits == got.find(_._1 == l).get._6, s"seqLen $l")
    }
  }

  test("groupedSequencePack: independent per-group streams, other groups never move the layout") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (0L, "en", "a b c"),        // en stream: off 0
      (1L, "fr", "x y"),          // fr stream: off 0
      (2L, "en", "d e f g"),      // en: off 3
      (3L, "fr", "z"),            // fr: off 2
      (4L, "en", "h")             // en: off 7
    ).toDF("doc_id", "lang", "text")
    def layout(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.groupedSequencePack(df, "doc_id", "text", "lang", seqLen = 4)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    val got = layout(docs)
    assert(got == Set((0L, "en", 0L), (2L, "en", 3L), (4L, "en", 7L),
      (1L, "fr", 0L), (3L, "fr", 2L)))
    // group independence: growing fr cannot move en's offsets
    val grown = layout(docs.unionByName(
      Seq((9L, "fr", "p q r s t")).toDF("doc_id", "lang", "text")))
    assert(grown.filter(_._2 == "en") == got.filter(_._2 == "en"))
    // partitioning invariance: a scattered input packs identically
    assert(layout(docs.repartition(7)) == got)
    // per-group naive replay on the real corpus
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val packed = TextAnalysis.groupedSequencePack(d, "doc_id", "text", "lang", 512)
      .select("doc_id", "start_off").as[(Long, Long)].collect().toMap
    val naive = d.select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n"))
      .as[(Long, String, Long)].collect()
      .groupBy(_._2).flatMap { case (_, rows) =>
        rows.sortBy(_._1).scanLeft((0L, 0L)) { case ((_, acc), (id, _, n)) =>
          (id, acc + n) }.sliding(2).map { w =>
            // sliding pairs: previous cumulative = this row's offset
            (w(1)._1, w(0)._2) }.toSeq
      }
    assert(naive.forall { case (id, off) => packed(id) == off })
  }

  test("curriculumPack orders the stream by the difficulty key, offsets contiguous") {
    import graft.ops.TextAnalysis
    // difficulty = token count itself: shortest docs must pack first
    val docs = Seq(
      (0L, (1 to 9).map(i => s"a$i").mkString(" ")),  // 9 tokens, packs 3rd
      (1L, "one two"),                                 // 2 tokens, packs 1st
      (2L, "x y z w")                                  // 4 tokens, packs 2nd
    ).toDF("doc_id", "text")
    val got = TextAnalysis.curriculumPack(docs, "doc_id", "text", seqLen = 8,
        orderCol = length(col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 0L), (2L, 4L, 2L), (0L, 9L, 6L)))
    // id order would have produced a different layout — the key matters
    val plain = TextAnalysis.sequencePack(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(plain(0L) == 0L && plain(1L) == 9L)
  }

  // ---- Corpus.topicBalancedSample (round-9) ----

  test("topicBalancedSample = ivfAssign ∘ temperatureSample: balanced across embedding cells") {
    import graft.ops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = emb.select(col("vec_id").as("_cid"),
        col("embedding").cast("array<double>").as("_cv"))
      .orderBy("_cid").limit(8)
    val got = Corpus.topicBalancedSample(emb, "vec_id", "embedding", cents,
      alpha = 0.5, budget = 100L)
    // exactly the composed path, and exactly the budget
    val assigned = Similarity.ivfAssign(cents, emb, "vec_id", "embedding")
    val ref = Corpus.temperatureSample(assigned, "vec_id", "cell_id", 0.5, 100L)
      .as[(Long, Long)].collect().toSet
    assert(got.as[(Long, Long)].collect().toSet == ref)
    assert(got.count() == 100L)
    // the draw follows the temperature allocation over CELLS
    val mix = Corpus.temperatureMix(assigned, "cell_id", 0.5, 100L)
      .select(col("cell_id").cast("long"), col("alloc"))
      .as[(Long, Long)].collect().toMap
    val byCell = got.groupBy("cell_id").count()
      .as[(Long, Long)].collect().toMap
    for ((cell, alloc) <- mix if alloc > 0)
      assert(byCell.getOrElse(cell, 0L) == alloc, s"cell $cell")
  }

  // ---- TextAnalysis.gopherRepetitionGate ----

  test("gopherRepetitionGate hand case: every feature and the verdict") {
    import graft.ops.TextAnalysis
    // 30 distinct 2-char words: every repetition signal near zero
    val okWords = (for { a <- 'a' to 'f'; b <- 'a' to 'e' } yield s"$a$b").mkString(" ")
    val docs = Seq(
      (0, "a b a b a b"),  // heavy within-doc repetition
      (1, okWords),        // clean: passes every rule
      (2, "x\ny\nx\nzz"),  // duplicated line
      (3, "a b"),          // too short for the n>=3 families
      (4, "a")             // too short for every n-gram family
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRepetitionGate(docs, "doc_id", "text",
        topNs = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
        repNs = Seq(3 -> 0.15, 5 -> 0.15))
      .orderBy("doc_id").collect()

    // doc 0 (totchars 6): top2 "a b"x3 -> 6/6; top3 ties break to the
    // sorted-smallest "a b a" x2 -> 6/6; top4 "a b a b"x2 -> 8/6 (overlap
    // over-count, as published); rep3 covers all six positions; rep5 has
    // no within-doc duplicate 5-gram
    assert(got(0).getAs[Double]("top2_char_frac") == 1.0)
    assert(got(0).getAs[Double]("top3_char_frac") == 1.0)
    assert(got(0).getAs[Double]("top4_char_frac") == 8.0 / 6)
    assert(got(0).getAs[Double]("rep3_char_frac") == 1.0)
    assert(got(0).getAs[Double]("rep5_char_frac") == 0.0)
    assert(got(0).getAs[Int]("rep_ok") == 0)

    // doc 1: clean -> top2 4/60, top3 6/60, top4 8/60, reps 0, verdict 1
    assert(got(1).getAs[Double]("top2_char_frac") == 4.0 / 60)
    assert(got(1).getAs[Double]("rep3_char_frac") == 0.0)
    assert(got(1).getAs[Int]("rep_ok") == 1)

    // doc 2: lines [x, y, x, zz] -> dup_line_frac 1/4, char frac 1/5
    assert(got(2).getAs[Long]("n_lines") == 4L)
    assert(got(2).getAs[Double]("dup_line_frac") == 0.25)
    assert(got(2).getAs[Double]("dup_line_char_frac") == 0.2)

    // doc 3: n>=3 families null; the null features cannot fire, but the
    // live top2 (1.0) does
    assert(got(3).isNullAt(got(3).fieldIndex("top3_char_frac")))
    assert(got(3).isNullAt(got(3).fieldIndex("rep3_char_frac")))
    assert(got(3).getAs[Int]("rep_ok") == 0)

    // doc 4: every n-gram family null -> nothing can fire -> pass
    assert(got(4).isNullAt(got(4).fieldIndex("top2_char_frac")))
    assert(got(4).getAs[Int]("rep_ok") == 1)
  }

  test("gopherRepetitionGate paper defaults emit the 5..10 rep family") {
    import graft.ops.TextAnalysis
    val docs = Seq((0, "a b a b a b")).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRepetitionGate(docs, "doc_id", "text").collect()(0)
    // 6 words: rep5 live (no dup 5-gram -> 0), rep6 has one gram (no dup
    // -> 0), rep7..rep10 null (too short)
    assert(got.getAs[Double]("rep5_char_frac") == 0.0)
    assert(got.getAs[Double]("rep6_char_frac") == 0.0)
    assert(got.isNullAt(got.fieldIndex("rep7_char_frac")))
    assert(got.isNullAt(got.fieldIndex("rep10_char_frac")))
    assert(got.getAs[Int]("rep_ok") == 0) // the top-n rules still fire
  }

  test("gopherRepetitionGate: null text yields all-null features and a passing verdict") {
    import graft.ops.TextAnalysis
    val docs = Seq((0, Option("a b a b a b")), (1, Option.empty[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRepetitionGate(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(1).isNullAt(got(1).fieldIndex("n_words")))
    assert(got(1).isNullAt(got(1).fieldIndex("top2_char_frac")))
    assert(got(1).getAs[Int]("rep_ok") == 1) // nothing can fire on null
    assert(got(0).getAs[Int]("rep_ok") == 0) // the non-null row still gates
  }

  test("gopherRepetitionGate survives a verdict filter pushdown at full speed") {
    import graft.ops.TextAnalysis
    // the regression this pins: a filter on rep_ok is pushed below the
    // projection by substitution; with HOF-composed features that
    // re-evaluated captured subtrees per element (minutes for 500 docs) —
    // the native expression form costs one extra single-pass eval
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val t0 = System.nanoTime()
    val n = TextAnalysis.gopherRepetitionGate(docs, "doc_id", "text",
        repNs = Seq(3 -> 0.15, 5 -> 0.15))
      .filter(col("rep_ok") === 1).select("doc_id").count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(n > 0 && n < docs.count(), s"gate must discriminate (passed $n)")
    assert(sec < 60.0, f"filtered gate took $sec%.1f s — pushdown blow-up is back")
  }

  test("gopherRepetitionGate is partitioning-invariant (row-local)") {
    import graft.ops.TextAnalysis
    val docs = Seq.tabulate(40)(i => (i, s"w$i a b a b " + ("z " * (i % 7)).trim))
      .toDF("doc_id", "text")
    val a = TextAnalysis.gopherRepetitionGate(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val b = TextAnalysis.gopherRepetitionGate(docs.repartition(7), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  // ---- TextAnalysis.normalizeForDedup ----

  test("normalizeForDedup folds case, accents, digits, punct, and whitespace") {
    import graft.ops.TextAnalysis
    val got = Seq(
      "H\u00e9llo,   W\u00f6rld! 42",
      "hello world 17",
      "\u00dc\u00f1\u00edqu\u00e9",
      "Price: $42.99!",
      "\u65e5\u672c\u8a9e text"
    ).toDF("t").select(TextAnalysis.normalizeForDedup(col("t")).as("n"))
      .as[String].collect()
    assert(got(0) == "hello world 00")
    assert(got(1) == "hello world 00") // same class: digits fold to 0
    assert(got(2) == "unique")
    assert(got(3) == "price 00 00")
    assert(got(4) == "text") // non-Latin folds to whitespace, then trims
  }

}
