package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CacheScope, Dedup, Similarity, StandingStore}

/** Round-6 ingestion-loop hardening: the standing near-dup indexes
  * (text MinHash-LSH and vector LSH) that let consecutive ingest batches
  * probe ONE materialized history instead of re-shingling/re-bucketing
  * it per batch, and the skew cap wired into fuzzy blocking. */
class StandingIndexSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark
  import spark.implicits._

  // docs where every third id shares one template text (near-dup fodder)
  // and the rest are unique
  private def mkText(i: Int): String =
    if (i % 3 == 0) "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    else s"unique w$i x$i y$i z$i a$i b$i c$i d$i e$i f$i"
  private def docs(ids: Range) =
    ids.map(i => (i.toLong, mkText(i))).toDF("doc_id", "text")

  test("standing text index: two consecutive batches match the per-batch path") {
    CacheScope.withScope { scope =>
      val history = docs(0 until 21)
      val idx = Dedup.buildNearDupIndex(history, "doc_id", "text",
        k = 4, rowsPerBand = 2, n = 5, scope = scope)
      for (batch <- Seq(docs(21 until 30), docs(30 until 42))) {
        val got = Dedup.incrementalNearDupsWith(batch, idx, "doc_id", "text",
            minJaccard = 0.2, scope = scope)
          .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
        val want = Dedup.incrementalNearDups(batch, history, "doc_id", "text",
            k = 4, rowsPerBand = 2, n = 5, minJaccard = 0.2, scope = scope)
          .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
        assert(got == want && got.nonEmpty)
      }
    }
  }

  test("standing text index probe plan never re-shingles history") {
    CacheScope.withScope { scope =>
      val history = docs(0 until 21)
      val idx = Dedup.buildNearDupIndex(history, "doc_id", "text",
        k = 4, rowsPerBand = 2, n = 5, scope = scope)
      // materialize the index (a real ingest loop does this once), then
      // probe a SECOND batch: its plan must band only the batch side
      idx.shingleFrame.count(); idx.bandFrame.count()
      Dedup.incrementalNearDupsWith(docs(21 until 30), idx, "doc_id", "text",
        minJaccard = 0.2, scope = scope).count()
      val probe = Dedup.incrementalNearDupsWith(docs(30 until 42), idx,
        "doc_id", "text", minJaccard = 0.2, scope = scope)
      // traverse the LOGICAL plan: InMemoryRelation is a leaf there (its
      // cached recipe is a field, not a child), so a Generate found in
      // the walk is one that would actually RUN. Exactly one — the
      // batch's band explode; a history re-shingle would add a second.
      val plan = probe.queryExecution.optimizedPlan
      val gens = plan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
      assert(gens.length == 1,
        s"history must not re-band on a second batch\n$plan")
      val caches = plan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }
      assert(caches.length >= 2,
        s"history side must ride the materialized index frames\n$plan")
    }
  }

  test("standing embed index: two consecutive batches match the per-batch path") {
    CacheScope.withScope { scope =>
      def vecs(ids: Range) = ids.map { i =>
        val base = if (i % 3 == 0) Seq(1.0, 0.2, 0.1, 0.0)
          else Seq(-1.0, i.toDouble / 100, 1.0, -0.5)
        (i.toLong, base)
      }.toDF("vec_id", "embedding")
      val history = vecs(0 until 21)
      val idx = Similarity.buildEmbedIndex(history, "vec_id", "embedding",
        dim = 4, nPlanes = 2, scope = scope)
      idx.bucketed.count()
      for (batch <- Seq(vecs(21 until 30), vecs(30 until 42))) {
        val got = Similarity.incrementalEmbedNearDupsWith(batch, idx,
            "vec_id", "embedding", minSim = 0.9)
          .orderBy("vec_id").as[(Long, Long, Double)].collect().toSeq
        val want = Similarity.incrementalEmbedNearDups(batch, history,
            "vec_id", "embedding", dim = 4, nPlanes = 2, minSim = 0.9)
          .orderBy("vec_id").as[(Long, Long, Double)].collect().toSeq
        assert(got == want && got.nonEmpty)
        assert(Similarity.incrementalEmbedNearDupsWith(batch, idx,
          "vec_id", "embedding", minSim = 0.9)
          .queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      }
    }
  }

  test("near-dup index survives save/load and extends batch-by-batch") {
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("ndidx").toString
      val history = docs(0 until 21)
      val built = Dedup.buildNearDupIndex(history, "doc_id", "text",
        k = 4, rowsPerBand = 2, n = 5, scope = scope)
      Dedup.saveNearDupIndex(built, dir)
      // a FRESH session-side load (no lineage back to the corpus) must
      // probe identically to the in-memory build
      val loaded = Dedup.loadNearDupIndex(spark, dir, scope)
      assert((loaded.k, loaded.rowsPerBand, loaded.n) == (4, 2, 5))
      val batch1 = docs(21 until 30)
      def probe(idx: Dedup.NearDupIndex, b: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalNearDupsWith(b, idx, "doc_id", "text",
            minJaccard = 0.2, scope = scope)
          .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
      assert(probe(loaded, batch1) == probe(built, batch1))

      // extend with batch1, then a batch-2 near-dup OF A BATCH-1 DOC must
      // surface (it is absent from the unextended index)
      val extended = Dedup.extendNearDupIndex(loaded, batch1, "doc_id", "text", scope)
      val b1Unique = 22L // 22 % 3 != 0 -> unique text in batch1
      val echo = Seq((99L, mkText(22))).toDF("doc_id", "text")
      assert(probe(loaded, echo).isEmpty, "unextended index cannot know batch1")
      val hits = probe(extended, echo)
      assert(hits == Seq((99L, b1Unique, 1.0)))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("embed index survives save/load and extends batch-by-batch") {
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("embidx").toString
      def vecs(ids: Range) = ids.map { i =>
        (i.toLong, Seq(math.cos(i * 0.7), math.sin(i * 0.7), 0.1 * (i % 3), 0.5))
      }.toDF("vec_id", "embedding")
      val built = Similarity.buildEmbedIndex(vecs(0 until 20), "vec_id", "embedding",
        dim = 4, nPlanes = 3, scope = scope)
      Similarity.saveEmbedIndex(built, dir)
      val loaded = Similarity.loadEmbedIndex(spark, dir, scope)
      assert((loaded.dim, loaded.nPlanes, loaded.seed) == (4, 3, "graft"))
      val batch = vecs(20 until 28)
      def probe(idx: Similarity.EmbedIndex, b: org.apache.spark.sql.DataFrame) =
        Similarity.incrementalEmbedNearDupsWith(b, idx, "vec_id", "embedding",
            minSim = 0.98)
          .orderBy("vec_id").as[(Long, Long, Double)].collect().toSeq
      assert(probe(loaded, batch) == probe(built, batch))
      // extend with batch; an exact echo of a batch vector must now hit it
      val extended = Similarity.extendEmbedIndex(loaded, batch, "vec_id", "embedding")
      val echo = Seq((99L, Seq(math.cos(21 * 0.7), math.sin(21 * 0.7), 0.1 * (21 % 3), 0.5)))
        .toDF("vec_id", "embedding")
      assert(probe(loaded, echo).forall(_._2 != 21L))
      assert(probe(extended, echo).exists(_._2 == 21L))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("phash index: save/load/probe/append/multiprobe/tombstone loop") {
    import graft.ops.Multimodal
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("phidx").toString
      // per-doc texts must be PERCEPTUALLY distinct: repeated-token or
      // 1-char-apart strings genuinely share a dHash (a uniform byte
      // shift flips no adjacent-cell comparison) — so each doc gets its
      // own arithmetic word sequence (verified: 25/25 distinct hashes,
      // nearest non-self >= 21 bits apart)
      val words = Seq("alpha", "Bravo", "chi", "DELTA", "echo2",
        "foxtrot", "Golf77", "hotel", "IndiaInk", "julietX")
      def mkPayloadText(i: Int): String =
        (0 until 60 + (i % 7) * 5).map { k =>
          words((((i + 1) * 2654435761L + k * 40503L + i.toLong * k * 97L) % 10).toInt)
        }.mkString(" ")
      def payloads(ids: Range, text: Int => String) = Multimodal.packBinary(
        ids.map(i => (i.toLong, text(i))).toDF("doc_id", "t"), "doc_id", "t")
      val history = payloads(0 until 20, mkPayloadText)
      val built = Multimodal.buildPHashIndex(history, "doc_id", "payload",
        nBands = 4, scope = scope)
      Multimodal.savePHashIndex(built, dir)
      val loaded = Multimodal.loadPHashIndex(spark, dir, scope)
      assert(loaded.nBands == 4)
      // a first-byte mutant of doc 7 probes back to doc 7 at dist <= 1
      val mutant = payloads(107 to 107, _ => "X" + mkPayloadText(7).drop(1))
      def probe(idx: Multimodal.PHashIndex, b: org.apache.spark.sql.DataFrame,
                multi: Boolean = false) =
        Multimodal.incrementalPerceptualDupsWith(b, idx, "doc_id", "payload",
            maxDist = 6, multiProbe = multi)
          .as[(Long, Long, Int)].collect().toSeq.sorted
      val hit = probe(loaded, mutant)
      assert(hit.size == 1 && hit.head._2 == 7L && hit.head._3 <= 1)
      assert(probe(loaded, mutant) == probe(built, mutant))
      // multiprobe is a candidate superset: never loses the plain hit
      assert(probe(loaded, mutant, multi = true).head._2 == 7L)
      // append a batch on disk; an exact echo of a batch payload now hits
      val batch = payloads(20 until 25, mkPayloadText)
      val echo = payloads(99 to 99, _ => mkPayloadText(22))
      assert(probe(loaded, echo).isEmpty)
      Multimodal.appendPHashIndex(spark, dir, batch, "doc_id", "payload")
      val reloaded = Multimodal.loadPHashIndex(spark, dir, scope)
      val echoHit = probe(reloaded, echo)
      assert(echoHit.size == 1 && echoHit.head._2 == 22L && echoHit.head._3 == 0)
      // stats account for every band row: 25 entries x 4 bands
      val stats = StandingStore.bucketSizes(reloaded.banded, "_b", "_v")
        .as[(Long, Long)].collect()
      assert(stats.map { case (sz, n) => sz * n }.sum == 25L * 4)
      // tombstone doc 22: the echo stops matching after reload; compaction
      // applies physically and clears the sidecar
      StandingStore.tombstone(spark, dir,
        Seq(22L).toDF("doc_id"), "doc_id")
      assert(probe(Multimodal.loadPHashIndex(spark, dir, scope), echo).isEmpty)
      intercept[IllegalArgumentException] {
        Multimodal.appendPHashIndex(spark, dir, echo.select(
          lit(22L).as("doc_id"), col("payload")), "doc_id", "payload")
      }
      StandingStore.compact(spark, dir)
      assert(!new java.io.File(s"$dir/_tombstones").exists())
      assert(probe(Multimodal.loadPHashIndex(spark, dir, scope), echo).isEmpty)
      assert(spark.read.parquet(s"$dir/pbands")
        .filter(col("_hid") === 22L).count() == 0)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("frame index: save/load/probe/append/tombstone/compact loop, founding geometry enforced") {
    import graft.ops.Multimodal
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("fridx").toString
      // 128-byte blocks, pairwise dHash distance >= 7 (the
      // PipelineOpsSpec frame fixture recipe), 4 blocks per clip
      def block(s: Int): String =
        (0 until 128).map(j => ('a' + ((s * 31 + j * 17 + s * j) % 26)).toChar).mkString
      def clip(i: Int): String =
        (0 until 4).map(f => block(1 + (i * 7 + f * 3) % 40)).mkString
      def payloads(rows: Seq[(Long, String)]) = Multimodal.packBinary(
        rows.toDF("doc_id", "t"), "doc_id", "t")
      val history = payloads((0 until 12).map(i => (i.toLong, clip(i))))
      val built = Multimodal.buildFrameIndex(history, "doc_id", "payload",
        frameBytes = 128, stride = 128, maxFrames = 4, nBands = 4, scope = scope)
      Multimodal.saveFrameIndex(built, dir)
      val loaded = Multimodal.loadFrameIndex(spark, dir, scope)
      assert(loaded.nBands == 4 && loaded.frameBytes == 128 &&
        loaded.stride == 128 && loaded.maxFrames == 4)
      def probe(idx: Multimodal.FrameIndex, b: org.apache.spark.sql.DataFrame) =
        Multimodal.incrementalFrameDupsWith(b, idx, "doc_id", "payload",
            maxDist = 2, minMatchedFrames = 3)
          .as[(Long, Long, Long, Int)].collect().toSeq.sorted
      // a one-frame edit of clip 5 (last block swapped) probes back to
      // clip 5 with its other 3 frames matched at distance 0
      val edited = payloads(Seq((105L,
        clip(5).take(384) + block(50))))
      val hit = probe(loaded, edited)
      assert(hit == Seq((105L, 5L, 3L, 0)), s"got $hit")
      assert(probe(loaded, edited) == probe(built, edited))
      // a clean clip produces no row
      assert(probe(loaded, payloads(Seq((106L, clip(30))))).isEmpty)
      // append a batch; an exact echo of it now hits with all 4 frames
      val batch = payloads((20 until 24).map(i => (i.toLong, clip(i))))
      val echo = payloads(Seq((99L, clip(22))))
      assert(probe(loaded, echo).isEmpty)
      Multimodal.appendFrameIndex(spark, dir, batch, "doc_id", "payload")
      val reloaded = Multimodal.loadFrameIndex(spark, dir, scope)
      assert(probe(reloaded, echo) == Seq((99L, 22L, 4L, 0)))
      // stats account for every band row: 16 clips x 4 frames x 4 bands
      val stats = StandingStore.bucketSizes(reloaded.banded, "_fi", "_b", "_v").as[(Long, Long)].collect()
      assert(stats.map { case (sz, n) => sz * n }.sum == 16L * 4 * 4)
      // advice: healthy store reads ok; a 20-copy black-clip flood
      // dominating the band mass reads tombstone_flood (the frame
      // buckets are what a constant-frame corpus floods first)
      assert(Multimodal.frameIndexAdvice(reloaded, hotBucketThreshold = 8)
        .collect().head.getAs[String]("advice") == "ok")
      val flooded = Multimodal.buildFrameIndex(payloads(
          (0 until 12).map(i => (i.toLong, clip(i))) ++
            (100 until 120).map(i => (i.toLong, block(1) * 4))),
        "doc_id", "payload", frameBytes = 128, stride = 128,
        maxFrames = 4, nBands = 4, scope = scope)
      val fAdv = Multimodal.frameIndexAdvice(flooded, hotBucketThreshold = 8)
        .collect().head
      assert(fAdv.getAs[String]("advice") == "tombstone_flood" &&
        fAdv.getAs[Long]("max_bucket") >= 20L)
      // tombstone clip 22; compaction applies physically and clears
      StandingStore.tombstone(spark, dir, Seq(22L).toDF("doc_id"), "doc_id")
      assert(probe(Multimodal.loadFrameIndex(spark, dir, scope), echo).isEmpty)
      StandingStore.compact(spark, dir)
      assert(!new java.io.File(s"$dir/_tombstones").exists())
      assert(spark.read.parquet(s"$dir/fbands")
        .filter(col("_hid") === 22L).count() == 0)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("phash store drift: advice names the remediation; capped probe = probe of the capped store") {
    import graft.ops.Multimodal
    CacheScope.withScope { scope =>
      val words = Seq("alpha", "Bravo", "chi", "DELTA", "echo2",
        "foxtrot", "Golf77", "hotel", "IndiaInk", "julietX")
      def mkText(i: Int): String =
        (0 until 60 + (i % 7) * 5).map { k =>
          words((((i + 1) * 2654435761L + k * 40503L + i.toLong * k * 97L) % 10).toInt)
        }.mkString(" ")
      def payloads(rows: Seq[(Long, String)]) = Multimodal.packBinary(
        rows.toDF("doc_id", "t"), "doc_id", "t")
      def build(rows: Seq[(Long, String)]) = Multimodal.buildPHashIndex(
        payloads(rows), "doc_id", "payload", nBands = 4, scope = scope)
      def adviceRow(idx: Multimodal.PHashIndex) =
        Multimodal.pHashIndexAdvice(idx, hotBucketThreshold = 8).collect().head
      val distinct20 = (0 until 20).map(i => (i.toLong, mkText(i)))
      val blackFrames = "black frame payload " * 16
      def flood(n: Int) = (0 until n).map(i => (1000L + i, blackFrames))

      // healthy store: every bucket small -> 'ok', zero hot buckets
      val okRow = adviceRow(build(distinct20))
      assert(okRow.getAs[String]("advice") == "ok" &&
        okRow.getAs[Long]("n_hot_buckets") == 0L)
      // heavy drift: a 30-copy flood dominates the band mass ->
      // capping would blind most probes; the flood itself must leave
      val heavy = adviceRow(build(distinct20 ++ flood(30)))
      assert(heavy.getAs[String]("advice") == "tombstone_flood")
      assert(heavy.getAs[Long]("max_bucket") == 30L &&
        heavy.getAs[Long]("n_hot_buckets") == 4L)
      // mild drift: hot buckets exist (the flood's 4 plus chance text
      // collisions — 9.1% of the band mass, deterministic fixture) but
      // stay under an 0.15 mass ceiling -> cap the probes, keep serving
      val mild = Multimodal.pHashIndexAdvice(build(
          (0 until 300).map(i => (i.toLong, mkText(i))) ++ flood(9)),
          hotBucketThreshold = 8, hotMassFrac = 0.15)
        .collect().head
      assert(mild.getAs[String]("advice") == "cap_probes",
        s"expected cap_probes, got $mild")
      assert(mild.getAs[Long]("n_hot_buckets") > 4L,
        "chance collisions beyond the flood are part of the census")

      // the probe-time remediation: a capped probe against the flooded
      // store ≡ an uncapped probe against the store REBUILT from only
      // the ids the cap keeps (flood bucket -> its 4 lowest ids;
      // distinct-doc buckets are all under the cap)
      val flooded = build(distinct20 ++ flood(9))
      val reduced = build(distinct20 ++ flood(4))
      val batch = payloads(Seq(
        (9000L, blackFrames),                     // echoes the flood
        (9001L, "X" + mkText(7).drop(1))))        // 1-byte mutant of doc 7
      def probe(idx: Multimodal.PHashIndex, cap: Int) =
        Multimodal.incrementalPerceptualDupsWith(batch, idx, "doc_id",
            "payload", maxDist = 6, maxPerBucket = cap)
          .as[(Long, Long, Int)].collect().toSeq.sorted
      assert(probe(flooded, 4) == probe(reduced, 0))
      assert(probe(flooded, 4).map(_._1).toSet == Set(9000L, 9001L))
      // a non-binding cap is the identity
      assert(probe(flooded, 1000) == probe(flooded, 0))
    }
  }

  test("appendNearDupIndex on disk equals extendNearDupIndex in memory across two batches") {
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("ndappend").toString
      val history = docs(0 until 21)
      val built = Dedup.buildNearDupIndex(history, "doc_id", "text",
        k = 4, rowsPerBand = 2, n = 5, scope = scope)
      Dedup.saveNearDupIndex(built, dir)
      val b1 = docs(21 until 30)
      val b2 = docs(30 until 42)
      def probe(idx: Dedup.NearDupIndex, b: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalNearDupsWith(b, idx, "doc_id", "text",
            minJaccard = 0.2, scope = scope)
          .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
      // batch 1 appended on disk ≡ batch 1 extended in memory
      Dedup.appendNearDupIndex(spark, dir, b1, "doc_id", "text", scope)
      val mem1 = Dedup.extendNearDupIndex(built, b1, "doc_id", "text", scope)
      val got1 = probe(Dedup.loadNearDupIndex(spark, dir, scope), b2)
      assert(got1 == probe(mem1, b2) && got1.nonEmpty)
      // consecutive batch: append b2 too; an echo of a b2-only doc must
      // surface through the RELOADED flat table exactly as in memory
      Dedup.appendNearDupIndex(spark, dir, b2, "doc_id", "text", scope)
      val mem2 = Dedup.extendNearDupIndex(mem1, b2, "doc_id", "text", scope)
      val echo = Seq((99L, mkText(31)), (98L, mkText(22))).toDF("doc_id", "text")
      val got2 = probe(Dedup.loadNearDupIndex(spark, dir, scope), echo)
      assert(got2 == probe(mem2, echo))
      assert(got2.map(r => (r._1, r._2)).toSet == Set((99L, 31L), (98L, 22L)),
        "appended batches must be probe-visible after a reload")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("appendEmbedIndex on disk equals extendEmbedIndex in memory across two batches") {
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("embappend").toString
      def vecs(ids: Range) = ids.map { i =>
        (i.toLong, Seq(math.cos(i * 0.7), math.sin(i * 0.7), 0.1 * (i % 3), 0.5))
      }.toDF("vec_id", "embedding")
      val built = Similarity.buildEmbedIndex(vecs(0 until 20), "vec_id", "embedding",
        dim = 4, nPlanes = 3, scope = scope)
      Similarity.saveEmbedIndex(built, dir)
      val b1 = vecs(20 until 28)
      val b2 = vecs(28 until 35)
      def probe(idx: Similarity.EmbedIndex, b: org.apache.spark.sql.DataFrame) =
        Similarity.incrementalEmbedNearDupsWith(b, idx, "vec_id", "embedding",
            minSim = 0.98)
          .orderBy("vec_id").as[(Long, Long, Double)].collect().toSeq
      Similarity.appendEmbedIndex(spark, dir, b1, "vec_id", "embedding")
      val mem1 = Similarity.extendEmbedIndex(built, b1, "vec_id", "embedding")
      val got1 = probe(Similarity.loadEmbedIndex(spark, dir, scope), b2)
      assert(got1 == probe(mem1, b2))
      Similarity.appendEmbedIndex(spark, dir, b2, "vec_id", "embedding")
      val mem2 = Similarity.extendEmbedIndex(mem1, b2, "vec_id", "embedding")
      val echo = Seq((99L, Seq(math.cos(30 * 0.7), math.sin(30 * 0.7), 0.1 * (30 % 3), 0.5)))
        .toDF("vec_id", "embedding")
      val got2 = probe(Similarity.loadEmbedIndex(spark, dir, scope), echo)
      assert(got2 == probe(mem2, echo))
      assert(got2.exists(_._2 == 30L),
        "the second appended batch must be probe-visible after a reload")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ---- standing IVF-PQ index (round-9): the ANN serving path's
  //      build-once/probe-forever form ----

  private def pqVecs(ids: Range) = ids.map { i =>
    (i.toLong, (0 until 8).map(j => math.cos(i * 0.37 + j * 1.1)).toSeq)
  }.toDF("vec_id", "emb")

  test("standing IVF-PQ index: search equals the one-shot ivfPqTopK") {
    CacheScope.withScope { scope =>
      val corpus = pqVecs(4 until 44)
      val queries = pqVecs(0 until 3).toDF("vec_id", "qv")
      val cents = corpus.select(col("vec_id").as("_cid"),
        col("emb").cast("array<double>").as("_cv")).orderBy("_cid").limit(4)
      val book = Similarity.pqBookConst(8, 2, 4)
      val want = Similarity.ivfPqTopK(cents, corpus, "vec_id", "emb",
          queries, "vec_id", "qv", book, nProbe = 2, topK = 3)
        .orderBy("query_id", "vec_id").as[(Long, Long, Double)].collect().toSeq
      val idx = Similarity.buildIvfPqIndex(corpus, "vec_id", "emb",
        cents, book, dim = 8, scope = scope)
      val got = Similarity.ivfPqTopKWith(idx, queries, "vec_id", "qv",
          nProbe = 2, topK = 3)
        .orderBy("query_id", "vec_id").as[(Long, Long, Double)].collect().toSeq
      assert(got == want && got.nonEmpty)
    }
  }

  test("IVF-PQ index survives save/load/append; a loaded search plan runs zero encode work") {
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
      val corpus = pqVecs(4 until 44)
      val queries = pqVecs(0 until 3).toDF("vec_id", "qv")
      val cents = corpus.select(col("vec_id").as("_cid"),
        col("emb").cast("array<double>").as("_cv")).orderBy("_cid").limit(4)
      val book = Similarity.pqBookConst(8, 2, 4)
      val built = Similarity.buildIvfPqIndex(corpus, "vec_id", "emb",
        cents, book, dim = 8, scope = scope)
      Similarity.saveIvfPqIndex(built, dir)

      def search(idx: Similarity.IvfPqIndex) =
        Similarity.ivfPqTopKWith(idx, queries, "vec_id", "qv",
            nProbe = 2, topK = 3)
          .orderBy("query_id", "vec_id").as[(Long, Long, Double)].collect().toSeq
      val loaded = Similarity.loadIvfPqIndex(spark, dir, scope)
      assert(loaded.dim == 8 && loaded.book == book, "params and codebook round-trip")
      assert(search(loaded) == search(built) && search(built).nonEmpty)

      // the serving contract: a search over the LOADED index performs NO
      // cell assignment or PQ encode — pq_encode appears nowhere in the
      // plan (the logical walk treats the cached coded table as a leaf,
      // so a hit would be work that actually runs), and every file read
      // is under the index dir (corpus floats are never touched)
      val probe = Similarity.ivfPqTopKWith(loaded, queries, "vec_id", "qv",
        nProbe = 2, topK = 3)
      assert(!probe.queryExecution.optimizedPlan.toString.contains("pq_encode"),
        "loaded search must not re-encode")
      val scanPaths = probe.queryExecution.executedPlan.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
      assert(scanPaths.forall(_.contains(dir)),
        s"search must read only the index, got $scanPaths")

      // append on disk ≡ build over the union (the appendEmbedIndex
      // contract): batch encoded under the STORED cents+book
      val b1 = pqVecs(44 until 52)
      Similarity.appendIvfPqIndex(spark, dir, b1, "vec_id", "emb")
      val reloaded = Similarity.loadIvfPqIndex(spark, dir, scope)
      val unioned = Similarity.buildIvfPqIndex(corpus.unionByName(b1),
        "vec_id", "emb", cents, book, dim = 8, scope = scope)
      assert(search(reloaded) == search(unioned))
      assert(reloaded.coded.count() == 48, "40 built + 8 appended rows")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("residual (IVFADC) standing index: same contract in the residual code space") {
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("ivfadcidx").toString
      val corpus = pqVecs(4 until 44)
      val queries = pqVecs(0 until 3).toDF("vec_id", "qv")
      val cents = corpus.select(col("vec_id").as("_cid"),
        col("emb").cast("array<double>").as("_cv")).orderBy("_cid").limit(4)
      val book = Similarity.pqBookConst(8, 2, 4)
      def search(idx: Similarity.IvfPqIndex) =
        Similarity.ivfPqTopKWith(idx, queries, "vec_id", "qv",
            nProbe = 2, topK = 3)
          .orderBy("query_id", "vec_id").as[(Long, Long, Double)].collect().toSeq
      val built = Similarity.buildIvfPqIndex(corpus, "vec_id", "emb",
        cents, book, dim = 8, residual = true, scope = scope)
      val want = Similarity.ivfPqTopKResidual(cents, corpus, "vec_id", "emb",
          queries, "vec_id", "qv", book, nProbe = 2, topK = 3)
        .orderBy("query_id", "vec_id").as[(Long, Long, Double)].collect().toSeq
      assert(search(built) == want && want.nonEmpty)
      // the residual flag must round-trip — a load that lost it would
      // silently search residual codes with raw-vector LUTs
      Similarity.saveIvfPqIndex(built, dir)
      val loaded = Similarity.loadIvfPqIndex(spark, dir, scope)
      assert(loaded.residual, "residual flag must persist")
      assert(search(loaded) == want)
      // appends encode the batch in the SAME (residual) code space
      val b1 = pqVecs(44 until 52)
      Similarity.appendIvfPqIndex(spark, dir, b1, "vec_id", "emb")
      val unioned = Similarity.buildIvfPqIndex(corpus.unionByName(b1),
        "vec_id", "emb", cents, book, dim = 8, residual = true, scope = scope)
      assert(search(Similarity.loadIvfPqIndex(spark, dir, scope)) == search(unioned))
      // and the two code spaces genuinely differ on this data — the flag
      // is load-bearing, not decorative
      val raw = Similarity.buildIvfPqIndex(corpus, "vec_id", "emb",
        cents, book, dim = 8, scope = scope)
      assert(search(raw) != want, "raw and residual ADC should rank differently here")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("store compaction: appended index stores shrink to size-targeted files, probes invariant") {
    CacheScope.withScope { scope =>
      def dataFiles(p: String) = new java.io.File(p).listFiles()
        .map(_.getName).count(f => f.endsWith(".parquet") && !f.startsWith("_"))
      // --- near-dup store: save + 3 appends = 4 file groups in each table
      val nd = java.nio.file.Files.createTempDirectory("ndcompact").toString
      Dedup.saveNearDupIndex(Dedup.buildNearDupIndex(docs(0 until 21),
        "doc_id", "text", k = 4, rowsPerBand = 2, n = 5, scope = scope), nd)
      for (r <- Seq(21 until 30, 30 until 36, 36 until 42))
        Dedup.appendNearDupIndex(spark, nd, docs(r), "doc_id", "text", scope)
      val probeBatch = docs(50 until 60)
      def probe() = Dedup.incrementalNearDupsWith(probeBatch,
          Dedup.loadNearDupIndex(spark, nd, scope), "doc_id", "text",
          minJaccard = 0.2, scope = scope)
        .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
      val before = probe()
      assert(dataFiles(s"$nd/shingles") >= 4, "appends must have left one file group per batch")
      StandingStore.compact(spark, nd)
      assert(dataFiles(s"$nd/shingles") == 1 && dataFiles(s"$nd/bands") == 1,
        "a kilobyte store compacts to one file")
      assert(probe() == before && before.nonEmpty)

      // --- IVF-PQ store: same contract on the coded table
      val pq = java.nio.file.Files.createTempDirectory("pqcompact").toString
      val cents = pqVecs(4 until 44).select(col("vec_id").as("_cid"),
        col("emb").cast("array<double>").as("_cv")).orderBy("_cid").limit(4)
      val book = Similarity.pqBookConst(8, 2, 4)
      Similarity.saveIvfPqIndex(Similarity.buildIvfPqIndex(pqVecs(4 until 44),
        "vec_id", "emb", cents, book, dim = 8, scope = scope), pq)
      for (r <- Seq(44 until 52, 52 until 60))
        Similarity.appendIvfPqIndex(spark, pq, pqVecs(r), "vec_id", "emb")
      def searchPq() = Similarity.ivfPqTopKWith(
          Similarity.loadIvfPqIndex(spark, pq, scope),
          pqVecs(0 until 3).toDF("vec_id", "qv"), "vec_id", "qv", 2, 3)
        .orderBy("query_id", "vec_id").as[(Long, Long, Double)].collect().toSeq
      val wantPq = searchPq()
      assert(dataFiles(s"$pq/coded") >= 3)
      StandingStore.compact(spark, pq)
      assert(dataFiles(s"$pq/coded") == 1)
      assert(searchPq() == wantPq && wantPq.nonEmpty)
      Seq(nd, pq).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    }
  }

  test("ivfPqIndexStats counts per cell, keeps reserved-but-empty cells at zero") {
    CacheScope.withScope { scope =>
      // half-space corpus (all components positive) + one all-negative
      // centroid that can never win a cosine argmax -> a genuinely
      // reserved-but-empty cell
      val corpus = (10 until 40).map { i =>
        (i.toLong, (0 until 8).map(j => math.abs(math.cos(i * 0.37 + j * 1.1)) + 0.1).toSeq)
      }.toDF("vec_id", "emb")
      val cents = corpus.limit(3)
        .select(col("vec_id").as("_cid"), col("emb").cast("array<double>").as("_cv"))
        .unionByName(Seq((999L, Seq.fill(8)(-1.0)))
          .toDF("_cid", "_cv").select(col("_cid"), col("_cv").cast("array<double>")))
      val idx = Similarity.buildIvfPqIndex(corpus, "vec_id", "emb",
        cents, Similarity.pqBookConst(8, 2, 4), dim = 8, scope = scope)
      val got = Similarity.ivfPqIndexStats(idx)
        .as[(Long, Long)].collect().toMap
      assert(got.keySet == Set(10L, 11L, 12L, 999L))
      assert(got(999L) == 0L, "the anti-aligned centroid must be reserved-but-empty")
      assert(got.values.sum == 30L, "every corpus vector lands in exactly one cell")
      // driver argmax model agreement
      val cs = cents.as[(Long, Seq[Double])].collect().toSeq
      def cos(a: Seq[Double], b: Seq[Double]) = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val model = corpus.as[(Long, Seq[Double])].collect().toSeq
        .map { case (_, v) => cs.map { case (cid, cv) => (cid, cos(v, cv)) }
          .minBy { case (cid, s) => (-s, cid) }._1 }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert((10 to 12).forall(c => got(c.toLong) == model.getOrElse(c.toLong, 0L)))
    }
  }

  test("degenerate inputs: empty batches, empty histories, empty blooms") {
    CacheScope.withScope { scope =>
      val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val some = docs(0 until 10)
      // empty batch against a real index → no rows, no error
      val idx = Dedup.buildNearDupIndex(some, "doc_id", "text", scope = scope)
      assert(Dedup.incrementalNearDupsWith(none, idx, "doc_id", "text",
        scope = scope).count() == 0)
      // real batch against an EMPTY history index → no rows
      val emptyIdx = Dedup.buildNearDupIndex(none, "doc_id", "text", scope = scope)
      assert(Dedup.incrementalNearDupsWith(some, emptyIdx, "doc_id", "text",
        scope = scope).count() == 0)
      // extending with an empty batch is the identity on probes
      val ext = Dedup.extendNearDupIndex(idx, none, "doc_id", "text", scope)
      val probe = docs(10 until 15)
      assert(Dedup.incrementalNearDupsWith(probe, ext, "doc_id", "text",
          scope = scope).collect().toSeq
        == Dedup.incrementalNearDupsWith(probe, idx, "doc_id", "text",
          scope = scope).collect().toSeq)
      // bloom of an EMPTY history: everything is definitively kept
      val bloom = Dedup.bloomSnapshot(none, "text", expectedItems = 10)
      val v = Dedup.bloomVerdicts(some, "doc_id", "text", bloom)
        .select(col("verdict")).distinct().as[String].collect().toSeq
      assert(v == Seq("kept"))
      // null text fingerprints to null → probe is null-safe (row kept:
      // a null can't have been ingested before)
      val withNull = Seq((1L, Option.empty[String]), (2L, Some("x y z")))
        .toDF("doc_id", "text")
      assert(Dedup.bloomVerdicts(withNull, "doc_id", "text", bloom).count() == 2)
    }
  }

  // ---- fuzzyDupPairs maxBlockSize ----

  test("fuzzyDupPairs cap bounds the hot block, healthy blocks stay exact") {
    // adversarial skew: 50 near-identical docs share one block key; two
    // healthy blocks of 3. Cap 10 → hot-block work is 10²/2, healthy
    // blocks untouched.
    val hot = (0 until 50).map(i => (i.toLong, "hot", s"the same template text body $i"))
    val healthy = Seq(
      (100L, "a", "apple pie recipe one"), (101L, "a", "apple pie recipe two"),
      (102L, "a", "apple pie recipe ten"),
      (200L, "b", "zebra crossing sign x"), (201L, "b", "zebra crossing sign y"),
      (202L, "b", "totally different content here"))
    val df = (hot ++ healthy).toDF("doc_id", "lang", "text")
    val blocks = Seq(col("lang"))
    val uncapped = Dedup.fuzzyDupPairs(df, "doc_id", "text", blocks, maxEdit = 5)
      .as[(Long, Long, Int)].collect().toSet
    val capped = Dedup.fuzzyDupPairs(df, "doc_id", "text", blocks, maxEdit = 5,
        maxBlockSize = 10)
      .as[(Long, Long, Int)].collect().toSet
    def healthyOnly(s: Set[(Long, Long, Int)]) = s.filter(_._1 >= 100L)
    assert(healthyOnly(capped) == healthyOnly(uncapped),
      "blocks at or under the cap must be untouched")
    assert(healthyOnly(uncapped).nonEmpty)
    // hot block: uncapped = C(50,2) pairs of near-identical text; capped
    // keeps the first 10 ids → exactly C(10,2), and exactly the pairs of
    // the 10 lowest ids (deterministic, not sampled)
    val hotCapped = capped.filter(_._1 < 100L)
    assert(capped.size < uncapped.size)
    assert(hotCapped == uncapped.filter(p => p._1 < 10L && p._2 < 10L))
    assert(hotCapped.size == 45)
  }

  // ---- tombstones (round-9): the right-to-be-forgotten path over the
  //      append-only standing stores ----

  test("IVF-PQ tombstones: sidecar = in-memory drop = fresh build on survivors; compaction applies physically") {
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("ivfpqtomb").toString
      val corpus = pqVecs(4 until 44)
      val queries = pqVecs(0 until 3).toDF("vec_id", "qv")
      val cents = corpus.select(col("vec_id").as("_cid"),
        col("emb").cast("array<double>").as("_cv")).orderBy("_cid").limit(4)
      val book = Similarity.pqBookConst(8, 2, 4)
      val built = Similarity.buildIvfPqIndex(corpus, "vec_id", "emb",
        cents, book, dim = 8, scope = scope)
      Similarity.saveIvfPqIndex(built, dir)
      def search(idx: Similarity.IvfPqIndex) =
        Similarity.ivfPqTopKWith(idx, queries, "vec_id", "qv",
            nProbe = 2, topK = 3)
          .orderBy("query_id", "vec_id").as[(Long, Long, Double)].collect().toSeq
      // forget an id that IS a live search result, so the deletion is
      // observable, plus one that isn't
      val victim = search(built).head._2
      val other = if (victim == 43L) 42L else 43L
      val gone = Seq(victim, other).toDF("vec_id")
      StandingStore.tombstone(spark, dir, gone, "vec_id")

      val loaded = Similarity.loadIvfPqIndex(spark, dir, scope)
      val got = search(loaded)
      assert(got == search(built.copy(coded = StandingStore.without(built.coded, "_id", gone))),
        "tombstone sidecar must equal the in-memory drop")
      val survivors = corpus.filter(!col("vec_id").isin(victim, other))
      assert(got == search(Similarity.buildIvfPqIndex(survivors, "vec_id", "emb",
          cents, book, dim = 8, scope = scope)),
        "tombstoned index must equal a fresh build on the survivors")
      assert(!got.exists(_._2 == victim) && got.nonEmpty,
        "the forgotten id must stop appearing in results")

      // pending tombstone blocks a re-add of the same id, loudly…
      val err = intercept[IllegalArgumentException] {
        Similarity.appendIvfPqIndex(spark, dir,
          pqVecs(victim.toInt to victim.toInt), "vec_id", "emb")
      }
      assert(err.getMessage.contains("pending tombstone"))
      // …but an unrelated batch still appends
      Similarity.appendIvfPqIndex(spark, dir, pqVecs(50 until 54), "vec_id", "emb")

      // compaction applies the deletion physically and clears the sidecar
      StandingStore.compact(spark, dir)
      assert(!new java.io.File(s"$dir/_tombstones").exists,
        "compaction must clear applied tombstones")
      val after = Similarity.loadIvfPqIndex(spark, dir, scope)
      assert(after.coded.filter(col("_id").isin(victim, other)).count() == 0,
        "compaction must drop tombstoned rows from the store")
      assert(after.coded.count() == 42, "40 built - 2 forgotten + 4 appended")
      assert(search(after) == search(Similarity.buildIvfPqIndex(
          survivors.unionByName(pqVecs(50 until 54)), "vec_id", "emb",
          cents, book, dim = 8, scope = scope)),
        "post-compaction search equals a fresh build on survivors + append")
      // the forgotten id may legitimately re-enter after compaction
      Similarity.appendIvfPqIndex(spark, dir,
        pqVecs(victim.toInt to victim.toInt), "vec_id", "emb")
      assert(search(Similarity.loadIvfPqIndex(spark, dir, scope))
        .exists(_._2 == victim), "a re-added id is matchable again")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("refoundIvfPqIndex: retrains geometry from the current corpus and atomically replaces the store") {
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("ivfpqrefound").toString
      val founding = pqVecs(4 until 24)
      val drift = pqVecs(100 until 180) // 4× the founding mass, new region
      val queries = pqVecs(0 until 3).toDF("vec_id", "qv")
      val cents0 = founding.select(col("vec_id").as("_cid"),
        col("emb").cast("array<double>").as("_cv")).orderBy("_cid").limit(2)
      val book = Similarity.pqBookConst(8, 2, 4)
      Similarity.saveIvfPqIndex(Similarity.buildIvfPqIndex(founding, "vec_id",
        "emb", cents0, book, dim = 8, scope = scope), dir)
      Similarity.appendIvfPqIndex(spark, dir, drift, "vec_id", "emb")
      def search(idx: Similarity.IvfPqIndex, nProbe: Int) =
        Similarity.ivfPqTopKWith(idx, queries, "vec_id", "qv", nProbe, topK = 3)
          .orderBy("query_id", "vec_id").as[(Long, Long, Double)].collect().toSeq

      // the drift signal: 100 vectors crammed into the 2 founding cells
      val before = Similarity.loadIvfPqIndex(spark, dir, scope)
      assert(Similarity.ivfPqIndexStats(before).count() == 2)

      // refound from the full current corpus: kmeans cells at constant
      // occupancy (target 16 → ceil(100/16) = 7 cells), stored
      // dim/m/k/residual kept, store replaced in place
      val corpus = founding.unionByName(drift)
      Similarity.refoundIvfPqIndex(spark, dir, corpus, "vec_id", "emb",
        targetPerCell = 16, scope = scope)
      val after = Similarity.loadIvfPqIndex(spark, dir, scope)
      assert(after.cents.count() == 7 && after.dim == 8 && !after.residual)
      assert(after.coded.count() == 100, "the refound encodes exactly the corpus")
      // ≡ a fresh build with the SAME deterministic training calls
      val cents1 = Similarity.ivfTrain(
        corpus.select(col("emb").cast("array<double>").as("_v")), "_v", 7)
      val book1 = Similarity.pqTrain(corpus, "emb", 8, 2, 4)
      assert(search(after, 4) == search(Similarity.buildIvfPqIndex(corpus,
          "vec_id", "emb", cents1, book1, dim = 8, scope = scope), 4),
        "refound store must equal a fresh build on the same corpus")

      // a pending tombstone dies with the old store: the refound corpus
      // IS the statement of what the index now contains
      StandingStore.tombstone(spark, dir, Seq(100L).toDF("vec_id"), "vec_id")
      Similarity.refoundIvfPqIndex(spark, dir, corpus, "vec_id", "emb",
        targetPerCell = 16, scope = scope)
      assert(!new java.io.File(s"$dir/_tombstones").exists)
      assert(Similarity.loadIvfPqIndex(spark, dir, scope).coded
        .filter(col("_id") === 100L).count() == 1)

      // interrupted swap self-repairs: simulate death between the two
      // renames (store renamed aside, replacement never landed)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = new org.apache.hadoop.fs.Path(dir)
      val aside = new org.apache.hadoop.fs.Path(root.getParent,
        "_compact_old_" + root.getName)
      fs.rename(root, aside)
      Similarity.refoundIvfPqIndex(spark, dir, corpus, "vec_id", "emb",
        targetPerCell = 16, scope = scope)
      assert(search(Similarity.loadIvfPqIndex(spark, dir, scope), 4).nonEmpty,
        "repair must restore the aside store before refounding it")

      // refounding a nonexistent store fails loudly (the params read —
      // there is no geometry to keep)
      val err = intercept[Exception] {
        Similarity.refoundIvfPqIndex(spark, s"$dir-nope", corpus, "vec_id", "emb")
      }
      assert(err.getMessage.contains("to refound") ||
        err.getMessage.contains("PATH_NOT_FOUND") ||
        err.getMessage.contains("does not exist"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("near-dup and embed tombstones: forgotten docs stop matching; both frames filtered") {
    CacheScope.withScope { scope =>
      // --- text layer: history templates (ids % 3 == 0) are the only
      //     things a template probe can match; forget them all
      val nd = java.nio.file.Files.createTempDirectory("ndtomb").toString
      Dedup.saveNearDupIndex(Dedup.buildNearDupIndex(docs(0 until 21),
        "doc_id", "text", k = 4, rowsPerBand = 2, n = 5, scope = scope), nd)
      val probeBatch = docs(51 to 51) // template text (51 % 3 == 0)
      def probeNd(idx: Dedup.NearDupIndex) =
        Dedup.incrementalNearDupsWith(probeBatch, idx, "doc_id", "text",
            minJaccard = 0.2, scope = scope)
          .as[(Long, Long, Double)].collect().toSeq
      assert(probeNd(Dedup.loadNearDupIndex(spark, nd, scope)).nonEmpty,
        "template batch matches template history before the deletion")
      val goneDocs = (0 until 21 by 3).map(_.toLong).toDF("doc_id")
      StandingStore.tombstone(spark, nd, goneDocs, "doc_id")
      val ndLoaded = Dedup.loadNearDupIndex(spark, nd, scope)
      assert(probeNd(ndLoaded).isEmpty,
        "every doc the probe could match is forgotten")
      assert(probeNd(ndLoaded) ==
        probeNd {
          val built = Dedup.buildNearDupIndex(docs(0 until 21), "doc_id", "text",
            k = 4, rowsPerBand = 2, n = 5, scope = scope)
          built.copy(shingleFrame = StandingStore.without(built.shingleFrame, "_id", goneDocs),
            bandFrame = StandingStore.without(built.bandFrame, "_id", goneDocs))
        })
      assert(ndLoaded.shingleFrame.filter(col("_id") % 3 === 0).count() == 0
          && ndLoaded.bandFrame.filter(col("_id") % 3 === 0).count() == 0,
        "BOTH standing frames must subtract the tombstones")
      StandingStore.compact(spark, nd)
      assert(!new java.io.File(s"$nd/_tombstones").exists)
      assert(probeNd(Dedup.loadNearDupIndex(spark, nd, scope)).isEmpty)

      // --- vector layer: forget the probe's exact neighbor; the match
      //     disappears (not merely re-ranks)
      val em = java.nio.file.Files.createTempDirectory("embtomb").toString
      def vecs(ids: Range) = ids.map { i =>
        (i.toLong, Seq(math.cos(i * 0.7), math.sin(i * 0.7), 0.1 * (i % 3), 0.5))
      }.toDF("vec_id", "embedding")
      Similarity.saveEmbedIndex(Similarity.buildEmbedIndex(vecs(0 until 20),
        "vec_id", "embedding", dim = 4, nPlanes = 3, scope = scope), em)
      val echo = Seq((99L, Seq(math.cos(7 * 0.7), math.sin(7 * 0.7), 0.1 * (7 % 3), 0.5)))
        .toDF("vec_id", "embedding")
      def probeEm(idx: Similarity.EmbedIndex) =
        Similarity.incrementalEmbedNearDupsWith(echo, idx, "vec_id", "embedding",
            minSim = 0.999)
          .as[(Long, Long, Double)].collect().toSeq
      assert(probeEm(Similarity.loadEmbedIndex(spark, em, scope))
        .exists(_._2 == 7L), "the echo matches its source before the deletion")
      StandingStore.tombstone(spark, em, Seq(7L).toDF("vec_id"), "vec_id")
      val emLoaded = Similarity.loadEmbedIndex(spark, em, scope)
      assert(!probeEm(emLoaded).exists(_._2 == 7L),
        "the forgotten vector must stop matching")
      assert(probeEm(emLoaded) ==
        probeEm {
          val built = Similarity.buildEmbedIndex(vecs(0 until 20), "vec_id", "embedding",
            dim = 4, nPlanes = 3, scope = scope)
          built.copy(bucketed = StandingStore.without(built.bucketed, "_hid",
            Seq(7L).toDF("vec_id")))
        })
      intercept[IllegalArgumentException] {
        Similarity.appendEmbedIndex(spark, em, vecs(7 until 8), "vec_id", "embedding")
      }
      StandingStore.compact(spark, em)
      assert(!new java.io.File(s"$em/_tombstones").exists)
      assert(Similarity.loadEmbedIndex(spark, em, scope).bucketed
        .filter(col("_hid") === 7L).count() == 0,
        "compaction must drop the tombstoned bucket rows")
      Seq(nd, em).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    }
  }

  // ---- occupancy diagnostics ----

  test("nearDupIndexStats / embedIndexStats: histograms account for every row; hot buckets visible") {
    import graft.ops.{Dedup, Similarity}
    // 6 near-identical docs land in shared bands; 4 distinct ones spread
    val docs = (
      (0 until 6).map(i => (i.toLong, "the shared template words and number tail marker alpha beta")) ++
      (10 until 14).map(i => (i.toLong,
        s"wholly distinct content item $i " + (0 until 8).map(j => s"t$i$j").mkString(" ")))
    ).toDF("doc_id", "text")
    val nd = StandingStore.bucketSizes(Dedup.buildNearDupIndex(
        docs, "doc_id", "text", k = 4, rowsPerBand = 2, n = 5).bandFrame, "_bucket")
      .as[(Long, Long)].collect().toMap
    // every (doc, band) row is accounted: sum(size * n_buckets) = docs * bands
    assert(nd.map { case (sz, nb) => sz * nb }.sum == 10L * 2L)
    // the 6 identical docs share their bands: a bucket of size >= 6 exists
    assert(nd.keys.max >= 6L)

    val vecs = (0 until 12).map { i =>
      val v = Array.tabulate(8)(d => if (d == i % 2) 1.0f else 0.1f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val es = StandingStore.bucketSizes(Similarity.buildEmbedIndex(
        vecs, "vec_id", "embedding", dim = 8, nPlanes = 3).bucketed, "_bucket")
      .as[(Long, Long)].collect().toMap
    assert(es.map { case (sz, nb) => sz * nb }.sum == 12L)
  }

  test("ranked probes: rank order, threshold, topK bound, self-exclusion, exact superset") {
    CacheScope.withScope { scope =>
      val history = docs(0 until 30)
      val batch = docs(30 until 45)
      val idx = Dedup.buildNearDupIndex(history, "doc_id", "text",
        k = 4, rowsPerBand = 2, n = 5, scope = scope)
      val approx = Dedup.nearDupTopKWith(batch, idx, "doc_id", "text",
          minJaccard = 0.2, topK = 3, scope = scope)
        .as[(Long, Long, Double)].collect().toSeq
      assert(approx.nonEmpty)
      // threshold + topK bound
      assert(approx.forall(_._3 >= 0.2))
      val byQ = approx.groupBy(_._1).values
      assert(byQ.forall(_.size <= 3))
      // exact ground truth is a SUPERSET of what the bands surface: every
      // approx pair appears in unbounded exact output at the same score
      val exactAll = Dedup.exactJaccardTopK(history, batch, "doc_id", "text",
          n = 5, minJaccard = 0.2, topK = 1000, scope = scope)
        .as[(Long, Long, Double)].collect().toSet
      assert(approx.forall(exactAll.contains), "approx pair missing from exact")
      // template docs (every third id) are identical to history templates
      // 0,3,...,27 at jaccard 1.0: the top-3 CUT keeps the THREE LOWEST
      // history ids — the (jaccard DESC, id) tie order observed through
      // the cut itself
      val t33 = approx.filter(_._1 == 33L)
      assert(t33.map(r => (r._2, r._3)).toSet == Set((0L, 1.0), (3L, 1.0), (6L, 1.0)))
      // self never ranks: probe the history WITH ITSELF — no (i, i) row
      val selfProbe = Dedup.nearDupTopKWith(history, idx, "doc_id", "text",
          minJaccard = 0.2, topK = 3, scope = scope)
        .as[(Long, Long, Double)].collect().toSeq
      assert(selfProbe.nonEmpty && selfProbe.forall { case (q, h, _) => q != h })
      val exactSelf = Dedup.exactJaccardTopK(history, history, "doc_id", "text",
          n = 5, minJaccard = 0.2, topK = 3, scope = scope)
        .as[(Long, Long, Double)].collect().toSeq
      assert(exactSelf.nonEmpty && exactSelf.forall { case (q, h, _) => q != h })
      // self-eval sanity: grading the exact frame against itself is perfect
      val ev = Similarity.rankedEval(
          Dedup.exactJaccardTopK(history, batch, "doc_id", "text", 5, 0.2, 3, scope),
          Dedup.exactJaccardTopK(history, batch, "doc_id", "text", 5, 0.2, 3, scope),
          "query_id", "doc_id", "jaccard", ascending = false, 3)
        .select("recall", "mrr", "ndcg").as[(Double, Double, Double)].collect()
      assert(ev.nonEmpty && ev.forall { case (_, m, n) => m == 1.0 && n == 1.0 })
    }
  }

  test("embed ranked probe: threshold, topK bound, self-exclusion, candidates score exactly") {
    // consecutive (even, odd) pairs share a hot dimension, so every batch
    // vector has a high-cosine partner in history; backgrounds keep the
    // vectors distinct
    val vecs = (0 until 20).map { i =>
      val v = Array.tabulate(8)(d => if (d == (i / 2) % 4) 1.0f else 0.05f * (i % 3))
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val hist = vecs.filter(col("vec_id") % 2 === 0)
    val batch = vecs.filter(col("vec_id") % 2 === 1)
    val idx = Similarity.buildEmbedIndex(hist, "vec_id", "embedding",
      dim = 8, nPlanes = 3)
    val approx = Similarity.embedNearDupTopKWith(batch, idx,
        "vec_id", "embedding", minSim = 0.3, topK = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(approx.nonEmpty)
    assert(approx.forall(_._3 >= 0.3))
    assert(approx.groupBy(_._1).values.forall(_.size <= 2))
    // every surfaced pair carries the EXACT cosine (verify-on-candidates):
    // must match the brute-force score for the same pair
    val exact = Similarity.exactTopK(hist, "vec_id", "embedding",
        batch, "vec_id", "embedding", k = 1000)
      .as[(Long, Long, Double)].collect()
      .map { case (q, h, s) => (q, h) -> s }.toMap
    assert(approx.forall { case (q, h, s) => math.abs(exact((q, h)) - s) == 0.0 })
    // self never ranks when the store is probed with itself
    val selfProbe = Similarity.embedNearDupTopKWith(hist, idx,
        "vec_id", "embedding", minSim = 0.3, topK = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(selfProbe.nonEmpty && selfProbe.forall { case (q, h, _) => q != h })
  }

  test("multi-probe widens the candidate set monotonically, store untouched") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val hist = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val idx = Similarity.buildEmbedIndex(hist, "vec_id", "embedding",
      dim = 64, nPlanes = 4)
    // unbounded pair sets: multi-probe is a SUPERSET of single-bucket at
    // identical scores (the store's buckets are unchanged; only the
    // batch's probe keys widen)
    def pairs(mp: Boolean) = Similarity.embedNearDupTopKWith(batch, idx,
        "vec_id", "embedding", minSim = 0.3, topK = 1000, multiProbe = mp)
      .as[(Long, Long, Double)].collect().toSet
    val single = pairs(mp = false)
    val multi = pairs(mp = true)
    assert(single.subsetOf(multi), "multi-probe must never lose a candidate")
    assert(multi.size > single.size,
      "Hamming-1 probing should surface extra candidates on this corpus")
    // recall against exact ground truth can only improve
    val exact = Similarity.exactTopK(hist, "vec_id", "embedding",
      batch, "vec_id", "embedding", k = 5)
    def meanRecall(mp: Boolean): Double = {
      val ev = Similarity.rankedEval(
          Similarity.embedNearDupTopKWith(batch, idx, "vec_id", "embedding",
            minSim = 0.3, topK = 5, multiProbe = mp),
          exact, "query_id", "vec_id", "sim", ascending = false, 5)
        .agg(avg(col("recall"))).head().getDouble(0)
      ev
    }
    assert(meanRecall(mp = true) >= meanRecall(mp = false))
    // best-match flavor: multiProbe=false is bit-identical to the
    // original single-bucket probe
    val a = Similarity.incrementalEmbedNearDupsWith(batch, idx,
        "vec_id", "embedding", minSim = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val b = Similarity.incrementalEmbedNearDupsWith(batch, idx,
        "vec_id", "embedding", minSim = 0.3, multiProbe = false)
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  // deterministic grayscale PNG/JPEG: each 9×8-grid cell near-constant
  // at luma ((c·37 + r·71) + shift·53) % 200 — the ImageDecodeSpec
  // pattern, adjacent-cell margins far above JPEG noise
  private def img(fmt: String, shift: Int): Array[Byte] = {
    val (w, h) = (63, 48)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = ((((x * 9) / w) * 37 + ((y * 8) / h) * 71) + shift * 53) % 200
      bi.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, fmt, out)
    out.toByteArray
  }

  // the INVERTED pattern: every horizontal comparison flips, so its
  // dHash sits ~64 bits from every `img` shift variant
  private def imgInv(fmt: String): Array[Byte] = {
    val (w, h) = (63, 48)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = 199 - ((((x * 9) / w) * 37 + ((y * 8) / h) * 71) % 200)
      bi.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, fmt, out)
    out.toByteArray
  }

  test("decoded-space phash store: founding decoder persists; PNG/JPEG twins match THROUGH the store; stub store finds nothing") {
    import graft.ops.Multimodal
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("phidx-dec").toString
      val history = (0 until 10).map(i => (i.toLong, img("png", i)))
        .toDF("doc_id", "payload")
      val built = Multimodal.buildPHashIndex(history, "doc_id", "payload",
        nBands = 4, decoder = Multimodal.ImageioDecoder, scope = scope)
      Multimodal.savePHashIndex(built, dir)
      val loaded = Multimodal.loadPHashIndex(spark, dir, scope)
      assert(loaded.decoder == Multimodal.ImageioDecoder && loaded.nBands == 4)
      def probe(idx: Multimodal.PHashIndex, b: org.apache.spark.sql.DataFrame) =
        Multimodal.incrementalPerceptualDupsWith(b, idx, "doc_id", "payload",
            maxDist = 4)
          .as[(Long, Long, Int)].collect().toSeq.sorted
      // THE round-12 verdict case: a JPEG re-encode of image 3 probes
      // back to its PNG twin through the standing store (ImageDecodeSpec
      // proves the twins at <= 2 bits under the real decoder)
      val jpegTwin = Seq((103L, img("jpg", 3))).toDF("doc_id", "payload")
      val hit = probe(loaded, jpegTwin)
      assert(hit.size == 1 && hit.head._2 == 3L && hit.head._3 <= 2, s"got $hit")
      assert(probe(loaded, jpegTwin) == probe(built, jpegTwin))
      // …and the same corpus founded in the STUB space finds NOTHING on
      // the re-encoded twin — the gap that made the decoder a founding
      // constant in the first place
      val stubStore = Multimodal.buildPHashIndex(history, "doc_id", "payload",
        nBands = 4, scope = scope)
      assert(probe(stubStore, jpegTwin).isEmpty,
        "the stub byte-stream space must miss the PNG-vs-JPEG twins")
      // append dispatches on the STORED space: a new PNG lands decoded,
      // its JPEG twin then matches. The appended image INVERTS the
      // pattern (dHash ≈ complement) so it sits ~64 bits from every
      // shift variant — the shift family itself collides (Δshift·53
      // mod 200 can be small), which is fine for best-match asserts
      // but not for the emptiness assert after the tombstone
      Multimodal.appendPHashIndex(spark, dir,
        Seq((20L, imgInv("png"))).toDF("doc_id", "payload"),
        "doc_id", "payload")
      val reloaded = Multimodal.loadPHashIndex(spark, dir, scope)
      assert(reloaded.decoder == Multimodal.ImageioDecoder)
      val hit20 = probe(reloaded, Seq((120L, imgInv("jpg")))
        .toDF("doc_id", "payload"))
      assert(hit20.size == 1 && hit20.head._2 == 20L && hit20.head._3 <= 2)
      // tombstone + compact keep the founding marker intact
      StandingStore.tombstone(spark, dir, Seq(20L).toDF("doc_id"), "doc_id")
      assert(probe(Multimodal.loadPHashIndex(spark, dir, scope),
        Seq((120L, imgInv("jpg"))).toDF("doc_id", "payload")).isEmpty)
      StandingStore.compact(spark, dir)
      assert(Multimodal.loadPHashIndex(spark, dir, scope).decoder ==
        Multimodal.ImageioDecoder)
      // a pre-round-13 store (no decoder column in params) loads as
      // stub-founded — the only space those stores were written in
      Seq(4).toDF("n_bands").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/params")
      assert(Multimodal.loadPHashIndex(spark, dir, scope).decoder ==
        Multimodal.StubDecoder)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("decoded-space frame store: keyframe containers found/probe/append in the imageio space") {
    import graft.ops.Multimodal
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("fridx-dec").toString
      // clip i = 4 keyframes at shifts (i·7+f·3) % 40 — distinct across
      // clips, aligned within a clip
      def clip(fmt: String, i: Int): Array[Byte] =
        Multimodal.packImageFrames((0 until 4).map(f => img(fmt, 1 + (i * 7 + f * 3) % 40)))
      val history = (0 until 8).map(i => (i.toLong, clip("png", i)))
        .toDF("doc_id", "payload")
      Multimodal.saveFrameIndex(Multimodal.buildFrameIndex(history, "doc_id",
        "payload", maxFrames = 4, nBands = 4,
        decoder = Multimodal.ImageioDecoder, scope = scope), dir)
      val loaded = Multimodal.loadFrameIndex(spark, dir, scope)
      assert(loaded.decoder == Multimodal.ImageioDecoder)
      // the JPEG re-encode of clip 5 — every frame re-encoded — probes
      // back aligned, all 4 frames within 2 bits each
      val got = Multimodal.incrementalFrameDupsWith(
          Seq((105L, clip("jpg", 5))).toDF("doc_id", "payload"), loaded,
          "doc_id", "payload", maxDist = 2, minMatchedFrames = 3)
        .as[(Long, Long, Long, Int)].collect().toSeq
      assert(got.size == 1 && got.head._1 == 105L && got.head._2 == 5L &&
        got.head._3 == 4L, s"got $got")
      // append dispatches decoded; the appended clip's JPEG twin hits
      Multimodal.appendFrameIndex(spark, dir,
        Seq((30L, clip("png", 30))).toDF("doc_id", "payload"), "doc_id", "payload")
      val got30 = Multimodal.incrementalFrameDupsWith(
          Seq((130L, clip("jpg", 30))).toDF("doc_id", "payload"),
          Multimodal.loadFrameIndex(spark, dir, scope),
          "doc_id", "payload", maxDist = 2, minMatchedFrames = 3)
        .as[(Long, Long, Long, Int)].collect().toSeq
      assert(got30.size == 1 && got30.head._2 == 30L && got30.head._3 == 4L)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("frame-store multiprobe widens candidates monotonically, store untouched") {
    import graft.ops.Multimodal
    CacheScope.withScope { scope =>
      def block(s: Int): String =
        (0 until 128).map(j => ('a' + ((s * 31 + j * 17 + s * j) % 26)).toChar).mkString
      def clip(i: Int): String =
        (0 until 4).map(f => block(1 + (i * 7 + f * 3) % 40)).mkString
      def payloads(rows: Seq[(Long, String)]) = Multimodal.packBinary(
        rows.toDF("doc_id", "t"), "doc_id", "t")
      val idx = Multimodal.buildFrameIndex(
        payloads((0 until 12).map(i => (i.toLong, clip(i)))),
        "doc_id", "payload", frameBytes = 128, stride = 128,
        maxFrames = 4, nBands = 4, scope = scope)
      val storeRows = idx.banded.count()
      val batch = payloads(Seq((105L, clip(5).take(384) + block(50)),
        (206L, clip(30))))
      def probe(multi: Boolean) = Multimodal.incrementalFrameDupsWith(
          batch, idx, "doc_id", "payload", maxDist = 2,
          minMatchedFrames = 3, maxPerBucket = 0, multiProbe = multi)
        .as[(Long, Long, Long, Int)].collect().toSet
      val plain = probe(multi = false)
      val widened = probe(multi = true)
      // the widened probe is a candidate superset: the plain hit never
      // drops, and here (all matches at distance 0, every band exact)
      // the two are identical; the store itself is never re-bucketed
      assert(plain == Set((105L, 5L, 3L, 0)) && widened == plain)
      assert(idx.banded.count() == storeRows)
    }
  }

  test("wav-space frame store: the audio daily loop probes PCM-sample windows after the RIFF walk") {
    import graft.ops.Multimodal
    CacheScope.withScope { scope =>
      val dir = java.nio.file.Files.createTempDirectory("fridx-wav").toString
      def block(s: Int): String =
        (0 until 128).map(j => ('a' + ((s * 31 + j * 17 + s * j) % 26)).toChar).mkString
      def rec(i: Int): String =
        (0 until 4).map(f => block(1 + (i * 7 + f * 3) % 40)).mkString
      // odd ids carry a LIST chunk: the store and the probe must agree
      // on PCM content regardless of header layout
      def wavs(rows: Seq[(Long, String)]) = Multimodal.packWavCorpus(
        rows.toDF("doc_id", "t"), "doc_id", "t")
      val history = wavs((0 until 10).map(i => (i.toLong, rec(i))))
      Multimodal.saveFrameIndex(Multimodal.buildFrameIndex(history, "doc_id",
        "payload", frameBytes = 128, stride = 128, maxFrames = 4, nBands = 4,
        decoder = Multimodal.WavDecoder, scope = scope), dir)
      val loaded = Multimodal.loadFrameIndex(spark, dir, scope)
      assert(loaded.decoder == Multimodal.WavDecoder)
      // recording 5 with its last 128 samples re-taken: 3 aligned
      // matches at distance 0 — and the probe id (104, bare 44-byte
      // header) differs in PARITY from recording 5 (odd id, LIST
      // chunk): identical PCM must hash identically whatever the
      // header layout, which is exactly what the RIFF walk buys
      val edited = wavs(Seq((104L, rec(5).take(384) + block(50)),
        (206L, rec(30))))
      val got = Multimodal.incrementalFrameDupsWith(edited, loaded,
          "doc_id", "payload", maxDist = 2, minMatchedFrames = 3)
        .as[(Long, Long, Long, Int)].collect().toSeq
      assert(got == Seq((104L, 5L, 3L, 0)), s"got $got")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

}
