package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CacheScope, Dedup}

/** Bloom snapshot layer of the incremental dedup family: one-sided error
  * (no false negatives — a `kept` is definitive), fpp-bounded false
  * positives, row-local probe plan, and exact-path-identical composed
  * verdicts. */
class BloomDedupSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark
  import spark.implicits._

  private def doc(i: Int) = s"document number $i with body text ${i * 7} and tail ${i % 13}"

  test("bloomVerdicts: zero false negatives, fpp-bounded false positives") {
    val history = (0 until 500).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val bloom = Dedup.bloomSnapshot(history, "text", expectedItems = 500, fpp = 0.01)
    // batch: 100 true duplicates of history + 400 novel documents
    val batch = ((0 until 100).map(i => (1000L + i, doc(i))) ++
      (0 until 400).map(i => (2000L + i, s"novel text $i never seen ${i * 31}")))
      .toDF("doc_id", "text")
    val verdicts = Dedup.bloomVerdicts(batch, "doc_id", "text", bloom)
      .as[(Long, String)].collect().toMap
    // every true duplicate MUST be flagged (one-sided error)
    (0 until 100).foreach(i => assert(verdicts(1000L + i) == "maybe_dup", s"dup $i"))
    // novel rows: false positives at ~1% fpp; allow 5x slack
    val fps = (0 until 400).count(i => verdicts(2000L + i) == "maybe_dup")
    assert(fps <= 20, s"$fps false positives out of 400 at fpp 0.01")
  }

  test("bloom probe plan is row-local: no join, no exchange, no history scan") {
    val history = (0 until 50).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val bloom = Dedup.bloomSnapshot(history, "text", expectedItems = 50)
    // range-backed input: a local Seq would constant-fold the whole
    // verdict into a LocalTableScan and hide the plan under test
    val batch = spark.range(10).select(col("id").as("doc_id"),
      concat(lit("document number "), col("id")).as("text"))
    val p = Dedup.bloomVerdicts(batch, "doc_id", "text", bloom)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"the triage verdict must be one codegen'd scan\n$p")
    assert(p.contains("bloom_might_contain"), p)
  }

  test("incrementalDedupBloom verdicts are bit-identical to the exact path") {
    CacheScope.withScope { scope =>
      val history = (0 until 200).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
      // batch mixes history dups, within-batch dups, and novel docs
      val batch = (
        (0 until 40).map(i => (1000L + i, doc(i))) ++                 // dup_history
        (0 until 30).map(i => (2000L + i, s"batch-local text ${i / 2}")) ++ // pairs: kept + dup_batch
        (0 until 50).map(i => (3000L + i, s"fresh content $i"))        // kept
      ).toDF("doc_id", "text")
      val bloom = Dedup.bloomSnapshot(history, "text", expectedItems = 200, fpp = 0.01)
      val exact = Dedup.incrementalDedup(batch, "doc_id", "text", history, "text", scope)
        .as[(Long, String)].collect().toMap
      val bloomed = Dedup.incrementalDedupBloom(batch, "doc_id", "text",
        history, "text", bloom, scope).as[(Long, String)].collect().toMap
      assert(bloomed == exact)
      assert(exact.values.count(_ == "dup_history") == 40)
      assert(exact.values.count(_ == "dup_batch") == 15)
    }
  }

  test("snapshot Bloom sidecar: found-on-nonempty, append maintenance, forget, compact refound") {
    import graft.ops.TextAnalysis
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    CacheScope.withScope { scope =>
      val snap = tmp("bl-snap")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(snap))
      def fps(ids: Range) = ids.map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      // a non-empty store founds a SEEDED sketch — batch-1 content must
      // already be in it, else probes would see false negatives
      Dedup.appendSnapshot(spark, snap, fps(0 until 100), "doc_id")
      Dedup.foundSnapshotBloom(spark, snap, capacity = 10000)
      val bloom1 = Dedup.loadSnapshotBloom(spark, snap)
      assert(bloom1.isDefined)
      def probe(bloom: Option[Array[Byte]]) = Dedup.incrementalDedupSnapshot(
          (90 until 120).map(i => (i.toLong + 1000, doc(i))).toDF("doc_id", "text"),
          "doc_id", "text", Dedup.snapshotLive(spark, snap).select(col("fp")),
          bloomPrefilter = bloom)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val withBloom = probe(bloom1); val without = probe(None)
      assert(withBloom == without &&
        withBloom.count(_._2 == "dup_history") == 10 &&
        withBloom.count(_._2 == "kept") == 20,
        "one-sided error: verdicts bit-identical with and without the prefilter")
      // an appended delta extends the sketch: its content must be
      // dup_history on the NEXT probe through the reloaded sidecar
      Dedup.appendSnapshotBloom(spark, snap, fps(200 until 210), "fp")
      Dedup.appendSnapshot(spark, snap, fps(200 until 210), "doc_id")
      val bloom2 = Dedup.loadSnapshotBloom(spark, snap)
      val probe2 = Dedup.incrementalDedupSnapshot(
          Seq((5000L, doc(205))).toDF("doc_id", "text"),
          "doc_id", "text", Dedup.snapshotLive(spark, snap).select(col("fp")),
          bloomPrefilter = bloom2)
        .as[(Long, String)].collect().toSeq
      assert(probe2 == Seq((5000L, "dup_history")),
        "the sketch must cover every append — a miss here is a false negative")
      // forget: the tombstoned id stops counting as history even though
      // the sketch still contains its fp (false positive — harmless)
      graft.ops.StandingStore.tombstone(spark, snap, Seq(205L).toDF("doc_id"), "doc_id")
      val probe3 = Dedup.incrementalDedupSnapshot(
          Seq((5001L, doc(205))).toDF("doc_id", "text"),
          "doc_id", "text", Dedup.snapshotLive(spark, snap).select(col("fp")),
          bloomPrefilter = Dedup.loadSnapshotBloom(spark, snap))
        .as[(Long, String)].collect().toSeq
      assert(probe3 == Seq((5001L, "kept")),
        "a forgotten doc's re-ingest verdicts kept, sketch false positive or not")
      // compact: tombstone applied physically AND the sidecar refounds
      // from live rows at the stored sizing — same params, fresh sketch
      graft.ops.StandingStore.compact(spark, snap)
      assert(Dedup.snapshotBloomParams(spark, snap).contains((10000L, 0.01)),
        "compaction must carry the sidecar's founding params across the root swap")
      val probe4 = Dedup.incrementalDedupSnapshot(
          Seq((5002L, doc(205)), (5003L, doc(206))).toDF("doc_id", "text"),
          "doc_id", "text", Dedup.snapshotLive(spark, snap).select(col("fp")),
          bloomPrefilter = Dedup.loadSnapshotBloom(spark, snap))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(probe4 == Seq((5002L, "kept"), (5003L, "dup_history")),
        "post-compact probes stay exact through the refounded sketch")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(snap))
    }
  }

  test("dedup --bloom Y: the CLI loop's verdicts equal the plain run, sidecar maintained") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val snapA = tmp("bl-cli-a"); val snapB = tmp("bl-cli-b")
    Seq(snapA, snapB).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    val b1 = tmp("bl-cli-b1"); val b2 = tmp("bl-cli-b2")
    val o = (1 to 4).map(_ => tmp("bl-cli-o"))
    (0 until 80).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(b1)
    (60 until 100).map(i => (i.toLong + 1000, doc(i))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(b2)
    // bloomed store A vs plain store B, same two batches
    CurateCli.run("dedup", Map("--in" -> b1, "--out" -> o(0),
      "--snapshot" -> snapA, "--bloom" -> "Y", "--bloom-capacity" -> "10000"))
    CurateCli.run("dedup", Map("--in" -> b2, "--out" -> o(1),
      "--snapshot" -> snapA))
    CurateCli.run("dedup", Map("--in" -> b1, "--out" -> o(2), "--snapshot" -> snapB))
    CurateCli.run("dedup", Map("--in" -> b2, "--out" -> o(3), "--snapshot" -> snapB))
    def rows(p: String) = spark.read.parquet(p)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows(o(1)) == rows(o(3)) && rows(o(1)).count(_._2 == "dup_history") == 20,
      "bloomed and plain stores must verdict identically")
    // run 2 on the bloomed store maintained the sidecar even without the
    // flag (presence drives maintenance): batch-2 content is in the sketch
    val sk = new java.io.File(s"$snapA/_bloom/sk").list()
    assert(sk != null && sk.count(_.endsWith(".bloom")) >= 2,
      "each updating run appends one sketch")
    intercept[IllegalArgumentException] {
      CurateCli.run("dedup", Map("--in" -> b1, "--out" -> o(0),
        "--snapshot" -> snapA, "--bloom" -> "true"))
    }
    (Seq(snapA, snapB, b1, b2) ++ o).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  test("dedup --bloom Y founds over pending tombstones on a store keyed on another id column") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val snap = tmp("bl-uid"); org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(snap))
    val b = tmp("bl-uid-b"); val ids = tmp("bl-uid-ids"); val o = tmp("bl-uid-o")
    (0 until 5).map(i => (i.toLong, doc(i))).toDF("uid", "text").write.mode("overwrite").parquet(b)
    CurateCli.run("dedup", Map("--in" -> b, "--out" -> o, "--snapshot" -> snap, "--id-col" -> "uid"))
    Seq(1L).toDF("uid").write.mode("overwrite").parquet(ids)
    CurateCli.run("forget", Map("--in" -> ids, "--store" -> snap, "--id-col" -> "uid"))
    CurateCli.run("dedup", Map("--in" -> b, "--out" -> o, "--snapshot" -> snap,
      "--id-col" -> "uid", "--bloom" -> "Y", "--update-snapshot" -> "N"))
    // the forgotten doc's content is novel again; the sketch holds the rest
    assert(spark.read.parquet(o).as[(Long, String)].collect().sortBy(_._1).toSeq
      == (0L until 5L).map(i => i -> (if (i == 1L) "kept" else "dup_history")))
    Seq(snap, b, ids, o).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  // ---- Dedup.contaminationScoreOf ----

  test("contaminationScoreOf grades overlap where the flag only detects it") {
    import graft.ops.{CacheScope, Dedup}
    CacheScope.withScope { scope =>
      val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
      val train = Seq(
        // doc 1: one quoted 5-gram of the benchmark inside fresh prose
        (1L, "alpha beta gamma delta epsilon wholly fresh tail words here"),
        // doc 2: the benchmark embedded verbatim (all grams overlap)
        (2L, "alpha beta gamma delta epsilon zeta"),
        // doc 3: untouched
        (3L, "completely unrelated content with many different words inside")
      ).toDF("doc_id", "text")
      val shT = Dedup.shingleSets(train, "doc_id", "text", 5, scope)
      val shB = Dedup.shingleSets(bench, "doc_id", "text", 5, scope)
      val got = Dedup.contaminationScoreOf(shT, shB)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      // doc 1: 6 shingles, 1 overlapping ("alpha..epsilon")
      assert(got(1L) == ((6L, 1L, 1.0 / 6)))
      // doc 2: both of the benchmark's shingles, nothing else
      assert(got(2L) == ((2L, 2L, 1.0)))
      assert(got(3L) == ((4L, 0L, 0.0)))
      // the binary flag loses exactly this ranking
      val flags = Dedup.contaminationFlagsOf(shT, shB)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(flags(1L) == 1 && flags(2L) == 1 && flags(3L) == 0)
    }
  }

}
