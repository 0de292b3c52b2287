package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Pipeline}

/** The curation CLI front door must reproduce the gate queries it fronts
  * — same defaults, same rows — over both parquet and JSONL, and its
  * `dedup` command must run the standing-snapshot ingest loop
  * (probe → verdicts → append-only delta) across consecutive batches. */
class CurateCliSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark
  import spark.implicits._

  private val docsPath = "/root/testdata/sf0.01/documents.parquet"
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def rm(paths: String*): Unit =
    paths.foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))

  test("curate command reproduces q92's oracled output") {
    val out = tmp("cli-curate")
    CurateCli.run("curate", Map("--in" -> docsPath, "--out" -> out))
    val got = spark.read.parquet(out)
      .select("doc_id", "n_tokens", "lr_micro")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val want = Pipeline.curateCorpus(
        spark.read.parquet(docsPath), "doc_id", "text", "lang")
      .select("doc_id", "n_tokens", "lr_micro")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
    rm(out)
  }

  test("audit command reproduces q117's oracled output") {
    val out = tmp("cli-audit")
    CurateCli.run("audit", Map("--in" -> docsPath, "--out" -> out))
    val got = spark.read.parquet(out)
      .select("split", "n_docs", "n_chunks", "n_leaked", "leak_rate")
      .as[(String, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val want = Pipeline.auditReport(spark.read.parquet(docsPath),
        "doc_id", "text", "source", 50,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "train", 10)
      .select("split", "n_docs", "n_chunks", "n_leaked", "leak_rate")
      .as[(String, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
    rm(out)
  }

  test("clean command reproduces the cleanCorpus pipeline") {
    val out = tmp("cli-clean")
    val benchDir = tmp("cli-bench")
    val docs = spark.read.parquet(docsPath)
    docs.filter(col("doc_id") % 97 === 0).write.mode("overwrite").parquet(benchDir)
    CurateCli.run("clean", Map("--in" -> docsPath, "--out" -> out,
      "--bench" -> s"$benchDir"))
    val got = spark.read.parquet(out)
      .select("doc_id", "chunk_idx", "chunk_hash")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    val want = Pipeline.cleanCorpus(docs, spark.read.parquet(benchDir),
        "doc_id", "text")
      .select("doc_id", "chunk_idx", "chunk_hash")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == want && got.nonEmpty)

    // --contamination excise keeps contaminated docs minus their
    // benchmark spans (q175), equal to the library flavor
    val outEx = tmp("cli-clean-ex")
    CurateCli.run("clean", Map("--in" -> docsPath, "--out" -> outEx,
      "--bench" -> s"$benchDir", "--contamination" -> "excise"))
    val gotEx = spark.read.parquet(outEx)
      .select("doc_id", "chunk_idx", "chunk_hash")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    val wantEx = Pipeline.cleanCorpus(docs, spark.read.parquet(benchDir),
        "doc_id", "text", contamination = "excise")
      .select("doc_id", "chunk_idx", "chunk_hash")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(gotEx == wantEx && gotEx.nonEmpty)
    // excise keeps at least every doc drop keeps (dropped pages return
    // minus their spans; clean pages are untouched)
    assert(gotEx.map(_._1).toSet.size >= got.map(_._1).toSet.size)
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("clean", Map("--in" -> docsPath, "--out" -> outEx,
        "--bench" -> s"$benchDir", "--contamination" -> "redact"))
    }
    assert(e.getMessage.contains("--contamination"))
    rm(out, benchDir, outEx)
  }

  test("dedup command runs the standing-snapshot loop: two batches equal q96's verdict semantics") {
    val snap = tmp("cli-snap"); rm(snap) // must start absent: empty history
    val out1 = tmp("cli-dedup1"); val out2 = tmp("cli-dedup2")
    val evenDir = tmp("cli-even"); val oddDir = tmp("cli-odd")
    val d = spark.read.parquet(docsPath)
    d.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(evenDir)
    d.filter(col("doc_id") % 2 === 1).write.mode("overwrite").parquet(oddDir)
    // batch 1 seeds the snapshot (kept rows only — the q120 delta rule)
    CurateCli.run("dedup", Map("--in" -> evenDir, "--out" -> out1, "--snapshot" -> snap))
    assert(spark.read.parquet(out1).filter(col("verdict") === "dup_history").count() == 0,
      "an empty snapshot cannot produce history duplicates")
    // batch 2 probes the snapshot the CLI itself appended — its verdicts
    // must equal the one-shot q96 path over raw history docs
    CurateCli.run("dedup", Map("--in" -> oddDir, "--out" -> out2, "--snapshot" -> snap))
    val got = spark.read.parquet(out2)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val want = Dedup.incrementalDedup(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        d.filter(col("doc_id") % 2 === 0), "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
    // read-only probe leaves the snapshot untouched
    val before = spark.read.parquet(snap).count()
    val out3 = tmp("cli-dedup3")
    CurateCli.run("dedup", Map("--in" -> oddDir, "--out" -> out3,
      "--snapshot" -> snap, "--update-snapshot" -> "N"))
    assert(spark.read.parquet(snap).count() == before)
    rm(snap, out1, out2, out3, evenDir, oddDir)
  }

  test("neardup command runs the standing-index loop: two batches equal q126's probe semantics") {
    val idx = tmp("cli-ndidx"); rm(idx) // must start absent
    val out1 = tmp("cli-nd1"); val out2 = tmp("cli-nd2")
    val evenDir = tmp("cli-nd-even"); val oddDir = tmp("cli-nd-odd")
    val d = spark.read.parquet(docsPath)
    d.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(evenDir)
    d.filter(col("doc_id") % 2 === 1).write.mode("overwrite").parquet(oddDir)
    // batch 1 founds the index: no history yet, so zero verdicts — but
    // with the probe's schema, and the index dir materializes
    CurateCli.run("neardup", Map("--in" -> evenDir, "--out" -> out1, "--index" -> idx))
    val o1 = spark.read.parquet(out1)
    assert(o1.count() == 0 && o1.columns.toSeq == Seq("doc_id", "hist_id", "jaccard"))
    // batch 2 probes the index batch 1 founded — rows must equal the
    // q126 gate path (standing index over even docs, odd batch probe)
    CurateCli.run("neardup", Map("--in" -> oddDir, "--out" -> out2, "--index" -> idx))
    val got = spark.read.parquet(out2)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val want = Dedup.incrementalNearDups(
        d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", k = 4, rowsPerBand = 2, n = 5, minJaccard = 0.2)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
    // run 2 appended the odd batch: an echo of an odd doc must now hit
    // it at jaccard 1.0; with --update-index N the index stays frozen
    // a corpus-UNIQUE odd text: if the text also lived under an even id,
    // the 1.0 tie could break to the even side and the assert would flap
    val oddDoc = d.groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("c"))
      .filter(col("c") === 1 && col("doc_id") % 2 === 1)
      .orderBy("doc_id").select("text").head().getString(0)
    val echoDir = tmp("cli-nd-echo"); val out3 = tmp("cli-nd3"); val out4 = tmp("cli-nd4")
    Seq((900001L, oddDoc)).toDF("doc_id", "text").write.mode("overwrite").parquet(echoDir)
    CurateCli.run("neardup", Map("--in" -> echoDir, "--out" -> out3,
      "--index" -> idx, "--update-index" -> "N"))
    val hits = spark.read.parquet(out3).as[(Long, Long, Double)].collect().toSeq
    assert(hits.exists(h => h._2 % 2 == 1 && h._3 == 1.0),
      "the appended odd batch must be probe-visible")
    val shingleRows = spark.read.parquet(s"$idx/shingles").count()
    CurateCli.run("neardup", Map("--in" -> echoDir, "--out" -> out4,
      "--index" -> idx, "--update-index" -> "N"))
    assert(spark.read.parquet(s"$idx/shingles").count() == shingleRows,
      "read-only probe must not extend the index")
    // restating a banding parameter that disagrees with the stored index
    // fails loudly instead of being silently overridden
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("neardup", Map("--in" -> echoDir, "--out" -> out4,
        "--index" -> idx, "--minhash-k" -> "6"))
    }
    assert(e.getMessage.contains("--minhash-k") && e.getMessage.contains("stored index"))
    intercept[IllegalArgumentException] {
      CurateCli.run("neardup", Map("--in" -> echoDir, "--out" -> out4,
        "--index" -> idx, "--update-index" -> "yes"))
    }
    rm(idx, out1, out2, out3, out4, evenDir, oddDir, echoDir)
  }

  test("ingest command verdicts equal the composed library gate across two real batches") {
    import graft.ops.TextAnalysis
    val snap = tmp("cli-ing-snap"); val idx = tmp("cli-ing-idx")
    rm(snap, idx) // both stores must start absent
    val out1 = tmp("cli-ing1"); val out2 = tmp("cli-ing2"); val out3 = tmp("cli-ing3")
    val evenDir = tmp("cli-ing-even"); val oddDir = tmp("cli-ing-odd")
    val d = spark.read.parquet(docsPath)
    val even = d.filter(col("doc_id") % 2 === 0)
    even.write.mode("overwrite").parquet(evenDir)
    d.filter(col("doc_id") % 2 === 1).write.mode("overwrite").parquet(oddDir)
    // batch 1 founds both stores; no history, so no terminal-vs-history verdicts
    CurateCli.run("ingest", Map("--in" -> evenDir, "--out" -> out1,
      "--snapshot" -> snap, "--index" -> idx))
    val o1 = spark.read.parquet(out1)
    assert(o1.columns.toSeq == Seq("doc_id", "verdict", "hist_id", "jaccard"),
      "the unified verdict schema must hold from the founding batch on")
    assert(o1.filter(col("verdict").isin("dup_history", "near_dup")).count() == 0)
    // batch 2 probes the stores batch 1 left behind. The library twin:
    // the snapshot holds KEPT evens' fps (== all evens' distinct fps),
    // and the index holds the kept evens — first id per text wins
    CurateCli.run("ingest", Map("--in" -> oddDir, "--out" -> out2,
      "--snapshot" -> snap, "--index" -> idx))
    val evenKept = even.join(
      even.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id")),
      Seq("doc_id", "text"), "left_semi")
    val want = Pipeline.ingestGate(d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text",
        even.select(TextAnalysis.fingerprint(col("text")).as("fp")),
        Dedup.buildNearDupIndex(evenKept, "doc_id", "text",
          k = 4, rowsPerBand = 2, n = 5))
      .as[(Long, String, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    val got = spark.read.parquet(out2)
      .as[(Long, String, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
    assert(got.exists(_._2 == "near_dup"),
      "sf0.01 odd/even halves must produce at least one fuzzy upgrade — " +
        "otherwise this test isn't exercising the second rung")
    // probe-only run: neither store (nor a ledger) may move
    val snapRows = spark.read.parquet(snap).count()
    val shingleRows = spark.read.parquet(s"$idx/shingles").count()
    CurateCli.run("ingest", Map("--in" -> oddDir, "--out" -> out3,
      "--snapshot" -> snap, "--index" -> idx, "--update" -> "N"))
    assert(spark.read.parquet(snap).count() == snapRows &&
      spark.read.parquet(s"$idx/shingles").count() == shingleRows)
    // argv hygiene: a ledger without its batch id fails before any mutation
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("ingest", Map("--in" -> oddDir, "--out" -> out3,
        "--snapshot" -> snap, "--index" -> idx, "--ledger" -> tmp("cli-ing-led0")))
    }
    assert(e.getMessage.contains("--batch-id"))
    intercept[IllegalArgumentException] {
      CurateCli.run("ingest", Map("--in" -> oddDir, "--out" -> out3,
        "--snapshot" -> snap, "--index" -> idx, "--update" -> "yes"))
    }
    rm(snap, idx, out1, out2, out3, evenDir, oddDir)
  }

  test("ingest daily loop: rung order, near-dup upgrade, final-kept write-back, ledger") {
    import graft.ops.Corpus
    val snap = tmp("cli-ing2-snap"); val idx = tmp("cli-ing2-idx"); val led = tmp("cli-ing2-led")
    rm(snap, idx, led)
    val b1Dir = tmp("cli-ing2-b1"); val b2Dir = tmp("cli-ing2-b2")
    val out1 = tmp("cli-ing2-o1"); val out2 = tmp("cli-ing2-o2")
    // a period-5 token pattern repeated 3x vs 4x has the IDENTICAL
    // distinct 5-gram shingle set (the 5 cyclic rotations) but a
    // different full-text fingerprint: jaccard exactly 1.0 with
    // deterministic LSH band collision, yet NOT an exact duplicate —
    // the only hand-constructable guaranteed near-dup
    val pattern = Seq("red", "orange", "yellow", "green", "blue")
    def cyc(times: Int) = Seq.fill(times)(pattern).flatten.mkString(" ")
    val junk1 = "completely unrelated content xyzzy plugh quux foo bar baz"
    val junk2 = "another novel document nothing shared here at all tonight"
    Seq((1L, cyc(3), "web"), (2L, junk1, "web"), (3L, cyc(3), "web"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(b1Dir)
    Seq((10L, cyc(3), "web"), (11L, cyc(4), "web"), (12L, junk2, "web"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(b2Dir)
    CurateCli.run("ingest", Map("--in" -> b1Dir, "--out" -> out1,
      "--snapshot" -> snap, "--index" -> idx, "--ledger" -> led, "--batch-id" -> "0"))
    assert(spark.read.parquet(out1)
      .as[(Long, String, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq ==
      Seq((1L, "kept", None, None), (2L, "kept", None, None),
        (3L, "dup_batch", None, None)),
      "founding batch: first id wins within the batch, no history verdicts")
    CurateCli.run("ingest", Map("--in" -> b2Dir, "--out" -> out2,
      "--snapshot" -> snap, "--index" -> idx, "--ledger" -> led, "--batch-id" -> "1"))
    // doc 10 is BOTH an exact dup and (trivially) a fuzzy match of doc 1:
    // the exact rung is terminal, so it must read dup_history with NULL
    // match columns — the rung-order contract. Doc 11 is the genuine
    // near-dup: fingerprint differs, shingle set identical → (1, 1.0)
    assert(spark.read.parquet(out2)
      .as[(Long, String, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq ==
      Seq((10L, "dup_history", None, None),
        (11L, "near_dup", Some(1L), Some(1.0)),
        (12L, "kept", None, None)))
    // FINAL-kept docs (and only those) extended the stores: {1, 2} from
    // batch 1, {12} from batch 2 — the near-dup's canonical copy (1) was
    // already indexed, so 11 must not be
    assert(spark.read.parquet(snap).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 12L))
    assert(spark.read.parquet(s"$idx/shingles").select("_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 12L))
    // the ledger tracked the same final-kept content: 3 distinct
    // fingerprints under "web", exact at this cardinality (HLL sparse)
    val est = Corpus.cardLedgerEstimate(spark, led)
      .as[(String, Double)].collect().toSeq
    assert(est.map(_._1) == Seq("web") && math.round(est.head._2) == 3L)
    rm(snap, idx, led, b1Dir, b2Dir, out1, out2)
  }

  test("ingest --quality Y runs the Gopher rung first: rejected docs never become history") {
    val snap = tmp("cli-ing3-snap"); val idx = tmp("cli-ing3-idx")
    rm(snap, idx)
    val b1Dir = tmp("cli-ing3-b1"); val b2Dir = tmp("cli-ing3-b2")
    val out1 = tmp("cli-ing3-o1"); val out2 = tmp("cli-ing3-o2")
    // prose passes the gate at --min-words 5; the junk doc has zero
    // stopwords and a sub-3 mean word length — rejected
    val prose = "the results be consistent to the point of and beyond " +
      "that we have measured with care"
    val junk = ("xq zv " * 12).trim
    Seq((1L, prose), (2L, junk)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(b1Dir)
    Seq((10L, junk), (11L, prose)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(b2Dir)
    val base = Map("--snapshot" -> snap, "--index" -> idx,
      "--quality" -> "Y", "--min-words" -> "5")
    CurateCli.run("ingest", base ++ Map("--in" -> b1Dir, "--out" -> out1))
    assert(spark.read.parquet(out1)
      .as[(Long, String, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq ==
      Seq((1L, "kept", None, None), (2L, "low_quality", None, None)))
    // only the quality-passing doc founded the stores
    assert(spark.read.parquet(snap).select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(spark.read.parquet(s"$idx/shingles").select("_id").as[Long].collect().toSeq == Seq(1L))
    // batch 2: the junk RE-ARRIVES verbatim — low_quality again, NOT
    // dup_history (it was never admitted to history); the prose copy IS
    CurateCli.run("ingest", base ++ Map("--in" -> b2Dir, "--out" -> out2))
    assert(spark.read.parquet(out2)
      .as[(Long, String, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq ==
      Seq((10L, "low_quality", None, None), (11L, "dup_history", None, None)))
    intercept[IllegalArgumentException] {
      CurateCli.run("ingest", base ++ Map("--in" -> b2Dir, "--out" -> out2,
        "--quality" -> "yes"))
    }
    rm(snap, idx, b1Dir, b2Dir, out1, out2)
  }

  test("embeddup command runs the standing embed-index loop: two batches equal q127's probe semantics") {
    import graft.ops.Similarity
    val idx = tmp("cli-embidx"); rm(idx)
    val out1 = tmp("cli-emb1"); val out2 = tmp("cli-emb2")
    val evenDir = tmp("cli-emb-even"); val oddDir = tmp("cli-emb-odd")
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    e.filter(col("vec_id") % 2 === 0).write.mode("overwrite").parquet(evenDir)
    e.filter(col("vec_id") % 2 === 1).write.mode("overwrite").parquet(oddDir)
    // batch 1 founds the index under q127's parameters
    CurateCli.run("embeddup", Map("--in" -> evenDir, "--out" -> out1,
      "--index" -> idx, "--dim" -> "64", "--planes" -> "4"))
    val o1 = spark.read.parquet(out1)
    assert(o1.count() == 0 && o1.columns.toSeq == Seq("vec_id", "hist_id", "sim"))
    // batch 2's probe must equal the q127 gate path
    CurateCli.run("embeddup", Map("--in" -> oddDir, "--out" -> out2, "--index" -> idx))
    val got = spark.read.parquet(out2)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val want = Similarity.incrementalEmbedNearDups(
        e.filter(col("vec_id") % 2 === 1), e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", dim = 64, nPlanes = 4, minSim = 0.3)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
    // appended batch probe-visible; read-only freeze; stored params win
    val echoDir = tmp("cli-emb-echo"); val out3 = tmp("cli-emb3")
    e.filter(col("vec_id") === 1).select((col("vec_id") + 900000L).as("vec_id"),
      col("embedding")).write.mode("overwrite").parquet(echoDir)
    CurateCli.run("embeddup", Map("--in" -> echoDir, "--out" -> out3,
      "--index" -> idx, "--update-index" -> "N"))
    val hits = spark.read.parquet(out3).as[(Long, Long, Double)].collect().toSeq
    assert(hits.exists(h => h._2 == 1L && h._3 == 1.0),
      "the appended odd batch must be probe-visible at cosine 1.0")
    val bucketRows = spark.read.parquet(s"$idx/buckets").count()
    CurateCli.run("embeddup", Map("--in" -> echoDir, "--out" -> out3,
      "--index" -> idx, "--update-index" -> "N"))
    assert(spark.read.parquet(s"$idx/buckets").count() == bucketRows)
    val err = intercept[IllegalArgumentException] {
      CurateCli.run("embeddup", Map("--in" -> echoDir, "--out" -> out3,
        "--index" -> idx, "--planes" -> "7"))
    }
    assert(err.getMessage.contains("--planes") && err.getMessage.contains("stored index"))
    rm(idx, out1, out2, out3, evenDir, oddDir, echoDir)
  }

  test("JSONL in and out round-trips the dedup verdicts") {
    val d = spark.read.parquet(docsPath).select("doc_id", "text")
    val inJson = tmp("cli-json-in"); val outJson = tmp("cli-json-out") + "/v.jsonl"
    val outPq = tmp("cli-pq-out"); val snapA = tmp("cli-snapA"); val snapB = tmp("cli-snapB")
    rm(snapA); rm(snapB)
    d.write.mode("overwrite").json(inJson)
    CurateCli.run("dedup", Map("--in" -> inJson, "--in-format" -> "jsonl",
      "--out" -> outJson, "--snapshot" -> snapA))
    CurateCli.run("dedup", Map("--in" -> docsPath, "--out" -> outPq, "--snapshot" -> snapB))
    val got = spark.read.json(outJson)
      .select(col("doc_id").cast("long"), col("verdict"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val want = spark.read.parquet(outPq)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
    rm(inJson, new java.io.File(outJson).getParent, outPq, snapA, snapB)
  }

  test("--update-snapshot rejects anything outside the Y/N set instead of silently mutating") {
    val snap = tmp("cli-snap-yn"); rm(snap)
    val out1 = tmp("cli-yn1")
    CurateCli.run("dedup", Map("--in" -> docsPath, "--out" -> out1, "--snapshot" -> snap))
    val before = spark.read.parquet(snap).count()
    // "n", "no", "false", "0" used to fall through to the MUTATING
    // default — each must now fail loudly, and the snapshot stay intact
    for (bad <- Seq("n", "no", "false", "0", "y", "yes")) {
      val out = tmp(s"cli-yn-bad")
      val e = intercept[IllegalArgumentException] {
        CurateCli.run("dedup", Map("--in" -> docsPath, "--out" -> out,
          "--snapshot" -> snap, "--update-snapshot" -> bad))
      }
      assert(e.getMessage.contains("--update-snapshot"), s"value '$bad'")
      rm(out)
    }
    assert(spark.read.parquet(snap).count() == before,
      "a rejected flag must not have touched the standing snapshot")
    rm(snap, out1)
  }

  test("--bench-format decouples the benchmark file's format from --in-format") {
    val d = spark.read.parquet(docsPath)
    val inJson = tmp("cli-bf-in")
    d.select("doc_id", "text").write.mode("overwrite").json(inJson)
    val benchPq = tmp("cli-bf-bench")
    d.filter(col("doc_id") % 97 === 0).write.mode("overwrite").parquet(benchPq)
    // JSONL corpus + PARQUET benchmark: before round-8 the forced
    // --in-format jsonl leaked onto --bench and misread the parquet
    val out = tmp("cli-bf-out")
    CurateCli.run("clean", Map("--in" -> inJson, "--in-format" -> "jsonl",
      "--out" -> out, "--bench" -> benchPq, "--bench-format" -> "parquet"))
    val got = spark.read.parquet(out)
      .select(col("doc_id").cast("long"), col("chunk_idx").cast("int"), col("chunk_hash"))
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    val want = Pipeline.cleanCorpus(d.select("doc_id", "text"),
        d.filter(col("doc_id") % 97 === 0), "doc_id", "text")
      .select("doc_id", "chunk_idx", "chunk_hash")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == want && got.nonEmpty)
    // and with NO --bench-format, the benchmark falls back to extension
    // sniffing (parquet here), not to --in-format's jsonl
    val out2 = tmp("cli-bf-out2")
    CurateCli.run("clean", Map("--in" -> inJson, "--in-format" -> "jsonl",
      "--out" -> out2, "--bench" -> benchPq))
    val got2 = spark.read.parquet(out2)
      .select(col("doc_id").cast("long"), col("chunk_idx").cast("int"), col("chunk_hash"))
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got2 == want)
    rm(inJson, benchPq, out, out2)
  }

  test("bpe command trains the local vocabulary and writes rules in rank order") {
    val out = tmp("cli-bpe")
    CurateCli.run("bpe", Map("--in" -> docsPath, "--out" -> out, "--merges" -> "30"))
    val got = spark.read.parquet(out)
      .select("rank", "left", "right", "pair_count")
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val want = graft.ops.Corpus.bpeTrainLocal(
        spark.read.parquet(docsPath), "text", 30, 2L)
      .zipWithIndex.map { case ((a, b, n), i) => (i, a, b, n) }
    assert(got == want && got.size == 30)
    // the written vocabulary drives the encoder directly
    val rules = got.map { case (_, a, b, _) => (a, b) }
    val n = graft.ops.Corpus.bpeEncode(
        spark.read.parquet(docsPath).limit(50), "doc_id", "text", rules)
      .count()
    assert(n == 50)
    // …and the tokenize command closes the loop: train → rules table →
    // encoded corpus, equal to the library path on the same rules
    val sub = tmp("cli-bpe-sub"); val enc = tmp("cli-bpe-enc")
    spark.read.parquet(docsPath).limit(50).write.mode("overwrite").parquet(sub)
    CurateCli.run("tokenize", Map("--in" -> sub, "--out" -> enc, "--rules" -> out))
    val gotTok = spark.read.parquet(enc)
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    val wantTok = graft.ops.Corpus.bpeEncode(
        spark.read.parquet(sub), "doc_id", "text", rules)
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(gotTok == wantTok && gotTok.size == 50
      && gotTok.exists(_._2.nonEmpty))
    rm(out, sub, enc)
  }

  test("card command writes the dataset card in exact, approx, and standing-ledger modes") {
    import graft.ops.Corpus
    val out1 = tmp("cli-card1"); val out2 = tmp("cli-card2"); val out3 = tmp("cli-card3")
    val docs = spark.read.parquet(docsPath)
    CurateCli.run("card", Map("--in" -> docsPath, "--out" -> out1))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.head).toSeq
    assert(rows(spark.read.parquet(out1)) ==
      rows(Corpus.datasetCardWeighted(docs, "source", "text", "lang")),
      "exact mode must equal datasetCardWeighted (the q134 card)")
    CurateCli.run("card", Map("--in" -> docsPath, "--out" -> out2, "--approx" -> "Y"))
    assert(rows(spark.read.parquet(out2)) ==
      rows(Corpus.datasetCardApprox(docs, "source", "text", "lang")))
    // standing-ledger mode: two appended batches, estimate without --in
    val ledger = tmp("cli-card-ledger"); rm(ledger)
    val halves = Seq(0, 1).map(h => docs.filter(col("doc_id") % 2 === h)
      .select(col("source"), md5(col("text")).as("fp")))
    halves.zipWithIndex.foreach { case (b, i) =>
      Corpus.cardLedgerAppend(spark, ledger, b, "source", "fp", i.toLong)
    }
    CurateCli.run("card", Map("--ledger" -> ledger, "--out" -> out3))
    assert(rows(spark.read.parquet(out3)) ==
      rows(Corpus.cardLedgerEstimate(spark, ledger)))
    // corpus-shaped flags cannot apply in ledger mode
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("card", Map("--ledger" -> ledger, "--out" -> out3,
        "--in" -> docsPath))
    }
    assert(e.getMessage.contains("--ledger"))
    rm(out1, out2, out3, ledger)
  }

  test("quality command reproduces q140's gate table") {
    import graft.ops.TextAnalysis
    val out = tmp("cli-quality")
    CurateCli.run("quality", Map("--in" -> docsPath, "--out" -> out))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.head).toSeq
    assert(rows(spark.read.parquet(out)) ==
      rows(TextAnalysis.gopherQualityGate(spark.read.parquet(docsPath),
        "doc_id", "text")))
    // thresholds are tunable from the CLI
    val out2 = tmp("cli-quality2")
    CurateCli.run("quality", Map("--in" -> docsPath, "--out" -> out2,
      "--min-words" -> "1", "--min-stop-hits" -> "0", "--min-alpha" -> "0"))
    assert(spark.read.parquet(out2).filter(col("gopher_ok") === 1).count() >
      spark.read.parquet(out).filter(col("gopher_ok") === 1).count())
    rm(out, out2)
  }

  test("quality --vocab-topk adds the OOV rung beside the Gopher features") {
    import graft.ops.{Corpus, TextAnalysis}
    val out = tmp("cli-quality-vocab")
    CurateCli.run("quality", Map("--in" -> docsPath, "--out" -> out,
      "--vocab-topk" -> "24", "--max-oov" -> "0.25"))
    val got = spark.read.parquet(out)
    // both gates' feature columns in one table
    for (c <- Seq("gopher_ok", "oov_frac", "oov_tokens", "vocab_ok"))
      assert(got.columns.contains(c), s"missing $c in ${got.columns.toSeq}")
    // the vocab columns equal the library rung
    def vrows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "oov_tokens", "vocab_ok")
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.head).toSeq
    assert(vrows(got) == vrows(Corpus.vocabCoverage(
      spark.read.parquet(docsPath), "doc_id", "text", 24, 0.25)))
    // and the gopher columns are untouched by the join
    def grows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "gopher_ok")
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.head).toSeq
    assert(grows(got) == grows(TextAnalysis.gopherQualityGate(
      spark.read.parquet(docsPath), "doc_id", "text")))
    // --max-oov without the rung it thresholds fails loudly
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("quality", Map("--in" -> docsPath, "--out" -> out,
        "--max-oov" -> "0.25"))
    }
    assert(e.getMessage.contains("--vocab-topk"))
    rm(out)
  }

  test("argv hygiene: unknown command and malformed options fail loudly") {
    intercept[IllegalArgumentException] {
      CurateCli.run("frobnicate", Map("--in" -> "x", "--out" -> "y"))
    }
    intercept[IllegalArgumentException] {
      CurateCli.main(Array("curate", "--bogus", "x"))
    }
    intercept[IllegalArgumentException] {
      CurateCli.main(Array("curate", "--in"))
    }
  }

  test("annindex/annsearch commands run the standing ANN serving loop: found, search, append, search again") {
    import graft.ops.{CacheScope, Similarity}
    val idx = tmp("cli-annidx"); rm(idx)
    val b1 = tmp("cli-ann-b1"); val b2 = tmp("cli-ann-b2"); val qdir = tmp("cli-ann-q")
    val out1 = tmp("cli-ann1"); val out2 = tmp("cli-ann2")
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    e.filter(col("vec_id") % 2 === 0 && col("vec_id") >= 8)
      .write.mode("overwrite").parquet(b1)
    e.filter(col("vec_id") % 2 === 1 && col("vec_id") >= 8)
      .write.mode("overwrite").parquet(b2)
    e.filter(col("vec_id") < 5).write.mode("overwrite").parquet(qdir)
    // founding: trains cents+book from the batch, encodes, saves
    CurateCli.run("annindex", Map("--in" -> b1, "--index" -> idx,
      "--cells" -> "4", "--subspaces" -> "4", "--codes" -> "8"))
    for (t <- Seq("params", "coded", "cents", "book"))
      assert(new java.io.File(s"$idx/$t").exists, s"founding must write $t")
    def search(out: String) = {
      CurateCli.run("annsearch", Map("--in" -> qdir, "--out" -> out,
        "--index" -> idx, "--topk" -> "5", "--nprobe" -> "2"))
      spark.read.parquet(out).as[(Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._3, r._2)).toSeq
    }
    def lib() = CacheScope.withScope { scope =>
      Similarity.ivfPqTopKWith(Similarity.loadIvfPqIndex(spark, idx, scope),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          nProbe = 2, topK = 5)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    }
    val got1 = search(out1)
    assert(got1 == lib() && got1.nonEmpty,
      "CLI search must equal the library search over the same stored index")
    // append loop: batch 2 encodes under the STORED geometry; the next
    // search ranks the union
    val codedBefore = spark.read.parquet(s"$idx/coded").count()
    CurateCli.run("annindex", Map("--in" -> b2, "--index" -> idx))
    assert(spark.read.parquet(s"$idx/coded").count() ==
      codedBefore + spark.read.parquet(b2).count())
    val got2 = search(out2)
    assert(got2 == lib() && got2 != got1,
      "post-append search must rank the appended rows too")
    // strict geometry: restating a disagreeing build-time value fails
    val e1 = intercept[IllegalArgumentException] {
      CurateCli.run("annindex", Map("--in" -> b2, "--index" -> idx, "--residual" -> "Y"))
    }
    assert(e1.getMessage.contains("--residual"))
    intercept[IllegalArgumentException] {
      CurateCli.run("annindex", Map("--in" -> b2, "--index" -> idx, "--cells" -> "4"))
    }
    // drift remediation through the CLI: refound from the full corpus —
    // cells re-derive (constant occupancy), search serves the new store
    val full = tmp("cli-ann-full"); val out3 = tmp("cli-ann3")
    e.filter(col("vec_id") >= 8).write.mode("overwrite").parquet(full)
    CurateCli.run("annindex", Map("--in" -> full, "--index" -> idx,
      "--refound" -> "Y"))
    assert(spark.read.parquet(s"$idx/coded").count() ==
      spark.read.parquet(full).count())
    assert(search(out3).nonEmpty)
    intercept[IllegalArgumentException] {
      CurateCli.run("annindex", Map("--in" -> full, "--index" -> idx,
        "--refound" -> "Y", "--cells" -> "4"))
    }
    rm(idx, b1, b2, qdir, full, out1, out2, out3)
  }

  test("forget/compact commands: a forgotten snapshot id stops counting as history, then compaction applies it physically") {
    val snap = tmp("cli-fsnap"); rm(snap) // must start absent
    val b1 = tmp("cli-f-b1"); val echo = tmp("cli-f-echo"); val idsDir = tmp("cli-f-ids")
    val outs = (1 to 6).map(i => tmp(s"cli-f-out$i"))
    val d = spark.read.parquet(docsPath)
    d.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(b1)
    CurateCli.run("dedup", Map("--in" -> b1, "--out" -> outs(0), "--snapshot" -> snap))
    // two snapshot rows (distinct content by construction — the kept
    // delta holds one id per fingerprint); echo their TEXT under new ids
    val Array(rowA, rowB) = spark.read.parquet(snap)
      .orderBy("doc_id").limit(2).select("doc_id").as[Long].collect()
    val texts = d.filter(col("doc_id").isin(rowA, rowB))
      .orderBy("doc_id").select("text").as[String].collect()
    Seq((1000001L, texts(0)), (1000002L, texts(1))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(echo)
    def verdicts(out: String) = spark.read.parquet(out)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    CurateCli.run("dedup", Map("--in" -> echo, "--out" -> outs(1),
      "--snapshot" -> snap, "--update-snapshot" -> "N"))
    assert(verdicts(outs(1)).map(_._2) == Seq("dup_history", "dup_history"),
      "both echoes hit history before any deletion")

    // forget rowA: the echo of ITS content verdicts kept again, while a
    // plain flat read of the snapshot dir is unchanged (the sidecar is
    // the hidden _tombstones child)
    val rawRows = spark.read.parquet(snap).count()
    Seq(rowA).toDF("doc_id").write.mode("overwrite").parquet(idsDir)
    CurateCli.run("forget", Map("--in" -> idsDir, "--store" -> snap))
    assert(spark.read.parquet(snap).count() == rawRows,
      "a flat reader of the snapshot dir must not see the sidecar")
    CurateCli.run("dedup", Map("--in" -> echo, "--out" -> outs(2),
      "--snapshot" -> snap, "--update-snapshot" -> "N"))
    assert(verdicts(outs(2)) == Seq(1000001L -> "kept", 1000002L -> "dup_history"),
      "only the forgotten id's content stops counting as history")

    // append guard: re-ingesting the tombstoned ID fails loudly until
    // compaction has applied the deletion
    val readd = tmp("cli-f-readd")
    Seq((rowA, "entirely new text for the forgotten id")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(readd)
    val err = intercept[IllegalArgumentException] {
      CurateCli.run("dedup", Map("--in" -> readd, "--out" -> outs(3), "--snapshot" -> snap))
    }
    assert(err.getMessage.contains("pending tombstone"))

    // compact: physical apply, sidecar gone, verdicts invariant
    CurateCli.run("compact", Map("--store" -> snap))
    assert(!new java.io.File(s"$snap/_tombstones").exists)
    assert(spark.read.parquet(snap).count() == rawRows - 1,
      "compaction must drop the tombstoned row from the store")
    CurateCli.run("dedup", Map("--in" -> echo, "--out" -> outs(4),
      "--snapshot" -> snap, "--update-snapshot" -> "N"))
    assert(verdicts(outs(4)) == verdicts(outs(2)),
      "verdicts must be invariant across compaction")
    // the id may legitimately re-enter now
    CurateCli.run("dedup", Map("--in" -> readd, "--out" -> outs(5), "--snapshot" -> snap))
    assert(verdicts(outs(5)) == Seq(rowA -> "kept"))
    assert(spark.read.parquet(snap).filter(col("doc_id") === rowA).count() == 1)
    rm((Seq(snap, b1, echo, idsDir, readd) ++ outs): _*)
  }

  test("forget/compact dispatch on an index store; maintenance argv stays strict") {
    val idx = tmp("cli-fnidx"); rm(idx)
    val batch = tmp("cli-fn-b"); val idsDir = tmp("cli-fn-ids")
    val out1 = tmp("cli-fn1"); val out2 = tmp("cli-fn2"); val out3 = tmp("cli-fn3")
    val d = spark.read.parquet(docsPath)
    d.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(batch)
    CurateCli.run("neardup", Map("--in" -> batch, "--out" -> out1, "--index" -> idx))
    // echo a shingle-able history doc, probe, and take whatever the
    // index ACTUALLY matched as the deletion victim — robust to 1.0
    // jaccard ties between near-identical templates
    val echoText = d.filter(col("doc_id") % 2 === 0
        && size(split(trim(col("text")), "\\s+")) >= 5)
      .orderBy("doc_id").select("text").as[String].head()
    val echoDir = tmp("cli-fn-echo")
    Seq((900001L, echoText)).toDF("doc_id", "text").write.mode("overwrite").parquet(echoDir)
    CurateCli.run("neardup", Map("--in" -> echoDir, "--out" -> out2,
      "--index" -> idx, "--update-index" -> "N"))
    val victim = spark.read.parquet(out2).select("hist_id").as[Long].head()
    // forget the matched doc: it must stop matching (the layout dispatch
    // picked the neardup family — BOTH frames subtract,
    // StandingIndexSpec's library contract)
    Seq(victim).toDF("doc_id").write.mode("overwrite").parquet(idsDir)
    CurateCli.run("forget", Map("--in" -> idsDir, "--store" -> idx))
    assert(new java.io.File(s"$idx/_tombstones").exists)
    CurateCli.run("neardup", Map("--in" -> echoDir, "--out" -> out3,
      "--index" -> idx, "--update-index" -> "N"))
    assert(spark.read.parquet(out3).filter(col("hist_id") === victim).count() == 0,
      "the forgotten doc must stop matching through the CLI loop")
    CurateCli.run("compact", Map("--store" -> idx))
    assert(!new java.io.File(s"$idx/_tombstones").exists)
    // strict per-command argv: an output path on compact is as loud an
    // error as a typo; forget on a nonexistent store fails, not founds
    intercept[IllegalArgumentException] {
      CurateCli.run("compact", Map("--store" -> idx, "--out" -> out3))
    }
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("forget", Map("--in" -> idsDir, "--store" -> s"$idx-nope"))
    }
    assert(e.getMessage.contains("no standing store"))
    rm(idx, batch, idsDir, echoDir, out1, out2, out3)
  }

  test("options are validated PER COMMAND: another command's flag fails instead of being ignored") {
    // --merges is a bpe flag: on dedup it used to parse fine and do
    // nothing (round-8 advice) — now it fails as loudly as a typo
    val e1 = intercept[IllegalArgumentException] {
      CurateCli.run("dedup", Map("--in" -> "x", "--out" -> "y",
        "--snapshot" -> "s", "--merges" -> "30"))
    }
    assert(e1.getMessage.contains("--merges") && e1.getMessage.contains("dedup"))
    intercept[IllegalArgumentException] {
      CurateCli.main(Array("bpe", "--in", "x", "--out", "y", "--snapshot", "s"))
    }
    intercept[IllegalArgumentException] {
      CurateCli.run("curate", Map("--in" -> "x", "--out" -> "y", "--bench" -> "b"))
    }
  }

  test("drift command runs the standing histogram-ledger loop: found → score → append; grid discipline") {
    import graft.ops.HistLedger
    val led = tmp("cli-drift-led")
    val in0 = tmp("cli-drift-in0"); val in1 = tmp("cli-drift-in1")
    val out0 = tmp("cli-drift-out0"); val out1 = tmp("cli-drift-out1")
    val out2 = tmp("cli-drift-out2")
    val d = spark.read.parquet(docsPath)
    d.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(in0)
    d.filter(col("doc_id") % 2 === 1).write.mode("overwrite").parquet(in1)
    def sk(p: String) = HistLedger.sketch(
      spark.read.parquet(p).select(col("lang"),
        graft.ops.TextAnalysis.tokenCount(col("text")).as("n")),
      "lang", "n", 0.0, 200.0, 20)

    // founding batch: ledger absent → empty report (no fake zero), store founded
    CurateCli.run("drift", Map("--in" -> in0, "--out" -> out0,
      "--ledger" -> led, "--batch-id" -> "0",
      "--lo" -> "0", "--hi" -> "200", "--buckets" -> "20"))
    assert(spark.read.parquet(out0).count() == 0)
    assert(HistLedger.params(spark, led).contains((0.0, 200.0, 20)))

    // second batch scores against history EXACTLY as the library does,
    // with the grid coming from the store (no flags restated)
    CurateCli.run("drift", Map("--in" -> in1, "--out" -> out1,
      "--ledger" -> led, "--batch-id" -> "1"))
    val got = spark.read.parquet(out1).as[(String, Double)].collect().toMap
    val want = HistLedger.tvDistance(sk(in0), sk(in1))
      .as[(String, Double)].collect().toMap
    assert(got == want && got.nonEmpty)

    // read-only probe: --update N needs no batch id, mutates nothing,
    // and now scores b1 against BOTH appended batches
    def batchDirs() = new java.io.File(led).listFiles().map(_.getName)
      .count(_.startsWith("batch="))
    val dirsBefore = batchDirs()
    CurateCli.run("drift", Map("--in" -> in1, "--out" -> out2,
      "--ledger" -> led, "--update" -> "N"))
    assert(batchDirs() == dirsBefore, "--update N must not touch the store")
    val got2 = spark.read.parquet(out2).as[(String, Double)].collect().toMap
    val want2 = HistLedger.tvDistance(
        HistLedger.mergedOf(Seq(sk(in0), sk(in1))), sk(in1))
      .as[(String, Double)].collect().toMap
    assert(got2 == want2)

    // restating a disagreeing grid on a founded ledger fails loudly
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("drift", Map("--in" -> in1, "--out" -> out2,
        "--ledger" -> led, "--update" -> "N", "--hi" -> "100"))
    }
    assert(e.getMessage.contains("grid"))
    // updating without a batch id fails before the store is touched
    intercept[RuntimeException] {
      CurateCli.run("drift", Map("--in" -> in1, "--out" -> out2,
        "--ledger" -> led))
    }
    rm(led, in0, in1, out0, out1, out2)
  }

  test("sample command runs the standing sample loop; --update N dumps read-only; stored k wins") {
    import graft.ops.SampleLedger
    val led = tmp("cli-sample-led")
    val in0 = tmp("cli-sample-in0"); val in1 = tmp("cli-sample-in1")
    val out1 = tmp("cli-sample-out1"); val out2 = tmp("cli-sample-out2")
    val out3 = tmp("cli-sample-out3")
    val d = spark.read.parquet(docsPath)
    d.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(in0)
    d.filter(col("doc_id") % 2 === 1).write.mode("overwrite").parquet(in1)
    def got(p: String) = spark.read.parquet(p)
      .as[(String, String, String, Long)].collect().toSet

    CurateCli.run("sample", Map("--in" -> in0, "--out" -> out1,
      "--ledger" -> led, "--batch-id" -> "0", "--k" -> "5",
      "--payload-col" -> "source"))
    CurateCli.run("sample", Map("--in" -> in1, "--out" -> out2,
      "--ledger" -> led, "--batch-id" -> "1"))
    // corpus-to-date ≡ the in-memory merge of both batch sketches (q154)
    val want = SampleLedger.mergedOf(Seq(
        SampleLedger.sketch(spark.read.parquet(in0), "lang", "doc_id", "source", 5),
        SampleLedger.sketch(spark.read.parquet(in1), "lang", "doc_id", "source", 5)), 5)
      .as[(String, String, String, Long)].collect().toSet
    assert(got(out2) == want && want.nonEmpty)
    // read-only dump: no --in needed, store untouched, same sample
    def batchDirs() = new java.io.File(led).listFiles().map(_.getName)
      .count(_.startsWith("batch="))
    val dirs = batchDirs()
    CurateCli.run("sample", Map("--out" -> out3, "--ledger" -> led,
      "--update" -> "N"))
    assert(batchDirs() == dirs && got(out3) == got(out2))
    // restating a disagreeing k fails loudly even read-only
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("sample", Map("--out" -> out3, "--ledger" -> led,
        "--update" -> "N", "--k" -> "9"))
    }
    assert(e.getMessage.contains("founded"))
    rm(led, in0, in1, out1, out2, out3)
  }

  test("ingest --hist/--sample maintain the distribution and sample ledgers from the kept set") {
    import graft.ops.{HistLedger, SampleLedger}
    val snap = tmp("cli-ihs-snap"); val idx = tmp("cli-ihs-idx"); rm(idx)
    val hist = tmp("cli-ihs-hist"); val samp = tmp("cli-ihs-samp")
    val in0 = tmp("cli-ihs-in0"); val v0 = tmp("cli-ihs-v0")
    val d = spark.read.parquet(docsPath)
    d.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(in0)
    CurateCli.run("ingest", Map("--in" -> in0, "--out" -> v0,
      "--snapshot" -> snap, "--index" -> idx,
      "--hist" -> hist, "--sample" -> samp, "--batch-id" -> "0",
      "--group-col" -> "lang"))
    // both ledgers hold exactly the KEPT docs' contribution
    val keptIds = spark.read.parquet(v0)
      .filter(col("verdict") === "kept").select("doc_id")
    val kept = d.join(keptIds, Seq("doc_id"), "left_semi")
    assert(HistLedger.merged(spark, hist)
        .as[(String, Long, Long)].collect().toSet ==
      HistLedger.sketch(kept.select(col("lang"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("n")),
        "lang", "n", 0.0, 8192.0, 64)
        .as[(String, Long, Long)].collect().toSet)
    assert(SampleLedger.merged(spark, samp)
        .select("group", "id", "payload").as[(String, String, String)].collect().toSet ==
      SampleLedger.sketch(kept, "lang", "doc_id", "text", 20)
        .as[(String, String, String)].collect().toSet)
    // a ledger flag without --batch-id fails before any store mutates
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("ingest", Map("--in" -> in0, "--out" -> v0,
        "--snapshot" -> snap, "--index" -> idx, "--hist" -> hist))
    }
    assert(e.getMessage.contains("--batch-id"))
    rm(snap, idx, hist, samp, in0, v0)
  }

  test("select command draws the water-filled balanced slice, full rows out") {
    import graft.ops.Corpus
    val out = tmp("cli-select-out")
    CurateCli.run("select", Map("--in" -> docsPath, "--out" -> out,
      "--group-col" -> "lang", "--alpha" -> "0.5", "--budget" -> "120"))
    val got = spark.read.parquet(out)
    assert(got.count() == 120L, "the water-filled draw delivers the budget exactly")
    assert(got.columns.toSet == spark.read.parquet(docsPath).columns.toSet,
      "select writes the full document rows")
    val want = Corpus.waterfillSample(spark.read.parquet(docsPath),
        "doc_id", "lang", 0.5, 120L)
      .select("doc_id").as[Long].collect().toSet
    assert(got.select("doc_id").as[Long].collect().toSet == want)
    rm(out)
  }

  test("stats command reports kind, rows, batches, tombstones, horizon, params across store families") {
    import graft.ops.{HistLedger, SampleLedger}
    val d = spark.read.parquet(docsPath)
    def stats(store: String): (String, Long, Long, Long, Option[Long], Option[String], String) = {
      val out = tmp("cli-stats-out")
      CurateCli.run("stats", Map("--store" -> store, "--out" -> out))
      val r = spark.read.parquet(out).head()
      val t = (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getString(6)), r.getString(7))
      rm(out); t
    }

    // sample ledger: 2 batches, founding params visible
    val sled = tmp("cli-stats-sled")
    (0 to 1).foreach(i => SampleLedger.append(spark, sled,
      d.filter(col("doc_id") % 2 === i), "lang", "doc_id", "source", i.toLong, k = 5))
    val s1 = stats(sled)
    assert(s1._1 == "sampleledger" && s1._3 == 2L
      && s1._6.contains("5 graft-sample lang doc_id source"))

    // hist ledger compacted: horizon surfaced
    val hled = tmp("cli-stats-hled")
    (0 to 2).foreach(i => HistLedger.append(spark, hled,
      d.filter(col("doc_id") % 3 === i)
        .select(col("lang"), graft.ops.TextAnalysis.tokenCount(col("text")).as("n")),
      "lang", "n", i.toLong, 0.0, 200.0, 20))
    HistLedger.compact(spark, hled, upTo = 1L)
    val s2 = stats(hled)
    assert(s2._1 == "histledger" && s2._3 == 2L && s2._5.contains(1L)
      && s2._6.exists(_.startsWith("0.0 200.0 20")))

    // fingerprint snapshot with pending tombstones (built via the CLI loop)
    val snap = tmp("cli-stats-snap"); val v = tmp("cli-stats-verdicts")
    val in0 = tmp("cli-stats-in0"); val ids = tmp("cli-stats-ids")
    d.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(in0)
    CurateCli.run("dedup", Map("--in" -> in0, "--out" -> v, "--snapshot" -> snap))
    d.filter(col("doc_id") % 10 === 0).select("doc_id")
      .write.mode("overwrite").parquet(ids)
    CurateCli.run("forget", Map("--in" -> ids, "--store" -> snap))
    val s3 = stats(snap)
    assert(s3._1 == "snapshot" && s3._2 > 0L && s3._4 > 0L && s3._7 == "N")
    // the snapshot's founding fingerprint kind surfaces as its param
    assert(s3._6.contains("fp_kind=raw"))

    // a typo'd path fails loudly
    intercept[IllegalArgumentException] { stats(sled + "/nope") }
    rm(sled, hled, snap, v, in0, ids)
  }

  test("quality --repetition Y adds the q160 rung beside the Gopher features") {
    import graft.ops.TextAnalysis
    val out = tmp("cli-quality-rep")
    CurateCli.run("quality", Map("--in" -> docsPath, "--out" -> out,
      "--repetition" -> "Y"))
    val got = spark.read.parquet(out)
    for (c <- Seq("gopher_ok", "dup_line_frac", "top2_char_frac",
        "rep5_char_frac", "rep10_char_frac", "rep_ok"))
      assert(got.columns.contains(c), s"missing $c in ${got.columns.toSeq}")
    // the repetition columns equal the library rung (paper defaults)
    def rrows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "top2_char_frac", "rep_ok")
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.head).toSeq
    assert(rrows(got) == rrows(TextAnalysis.gopherRepetitionGate(
      spark.read.parquet(docsPath), "doc_id", "text")))
    // gopher's n_words survives the join exactly once
    assert(got.columns.count(_ == "n_words") == 1)
    // strict Y/N
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("quality", Map("--in" -> docsPath, "--out" -> out,
        "--repetition" -> "yes"))
    }
    assert(e.getMessage.contains("--repetition"))
    rm(out)
  }

  test("dedup --normalize Y keys the standing loop on normalized fingerprints; the kind is founding") {
    import graft.ops.TextAnalysis
    val snap = tmp("cli-normsnap"); rm(snap)
    val b1 = tmp("cli-norm-b1"); val b2 = tmp("cli-norm-b2")
    val out1 = tmp("cli-norm-o1"); val out2 = tmp("cli-norm-o2")
    // batch 1: two docs that are the SAME normalized class ("Hello, World!"
    // vs "hello world 42" differ; craft true variants) + one unique
    Seq((1L, "Hello, World! 42"), (2L, "hello world 17"), (3L, "something else"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(b1)
    // batch 2: a punctuation variant of batch 1's class (raw fp differs,
    // normalized fp matches) and a genuinely new doc
    Seq((10L, "HELLO... world 99"), (11L, "brand new content"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(b2)
    CurateCli.run("dedup", Map("--in" -> b1, "--out" -> out1,
      "--snapshot" -> snap, "--normalize" -> "Y"))
    val v1 = spark.read.parquet(out1).as[(Long, String)].collect().toMap
    // 1 and 2 normalize identically ("hello world 00") -> first-wins
    assert(v1(1L) == "kept" && v1(2L) == "dup_batch" && v1(3L) == "kept")
    CurateCli.run("dedup", Map("--in" -> b2, "--out" -> out2,
      "--snapshot" -> snap, "--normalize" -> "Y"))
    val v2 = spark.read.parquet(out2).as[(Long, String)].collect().toMap
    // the punctuation variant hits HISTORY through the normalized class
    assert(v2(10L) == "dup_history" && v2(11L) == "kept")
    // the founding kind is recorded and a disagreeing restatement fails
    assert(graft.ops.Dedup.snapshotFpKind(spark, snap).contains("normalized"))
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("dedup", Map("--in" -> b2, "--out" -> out2,
        "--snapshot" -> snap))
    }
    assert(e.getMessage.contains("normalized"))
    // a raw-founded store rejects --normalize Y the same way
    val rawSnap = tmp("cli-rawsnap"); rm(rawSnap)
    val out3 = tmp("cli-norm-o3")
    CurateCli.run("dedup", Map("--in" -> b1, "--out" -> out3,
      "--snapshot" -> rawSnap))
    assert(graft.ops.Dedup.snapshotFpKind(spark, rawSnap).contains("raw"))
    val e2 = intercept[IllegalArgumentException] {
      CurateCli.run("dedup", Map("--in" -> b2, "--out" -> out3,
        "--snapshot" -> rawSnap, "--normalize" -> "Y"))
    }
    assert(e2.getMessage.contains("raw"))
    rm(snap, rawSnap, b1, b2, out1, out2, out3)
  }

  test("compaction keeps a normalized snapshot's fingerprint-kind marker") {
    val snap = tmp("cli-normcompact"); rm(snap)
    val b1 = tmp("cli-nc-b1"); val b2 = tmp("cli-nc-b2"); val ids = tmp("cli-nc-ids")
    val out = tmp("cli-nc-out")
    Seq((1L, "Hello, World! 42"), (2L, "something else"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(b1)
    Seq((10L, "HELLO... world 99")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(b2)
    CurateCli.run("dedup", Map("--in" -> b1, "--out" -> out,
      "--snapshot" -> snap, "--normalize" -> "Y"))
    Seq(2L).toDF("doc_id").write.mode("overwrite").parquet(ids)
    CurateCli.run("forget", Map("--in" -> ids, "--store" -> snap))
    CurateCli.run("compact", Map("--store" -> snap))
    assert(graft.ops.Dedup.snapshotFpKind(spark, snap).contains("normalized"))
    // the compacted store still probes in its founding identity space…
    CurateCli.run("dedup", Map("--in" -> b2, "--out" -> out,
      "--snapshot" -> snap, "--normalize" -> "Y", "--update-snapshot" -> "N"))
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSeq
      == Seq(10L -> "dup_history"))
    // …and still refuses the other one
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("dedup", Map("--in" -> b2, "--out" -> out, "--snapshot" -> snap))
    }
    assert(e.getMessage.contains("normalized"))
    rm(snap, b1, b2, ids, out)
  }

  test("argv parse rejects a flag-shaped bare value; --key=value passes it") {
    val e = intercept[IllegalArgumentException] {
      CurateCli.main(Array("stats", "--store", "--out"))
    }
    assert(e.getMessage.contains("requires a value"))
    val e2 = intercept[IllegalArgumentException] {
      CurateCli.main(Array("stats", "--store", "--stroe", "--out", "x"))
    }
    assert(e2.getMessage.contains("flag-like value '--stroe'"))
    assert(Argv.parse(Array("--store=--odd", "--out", "x"), Set("--store", "--out"))
      == Map("--store" -> "--odd", "--out" -> "x"))
  }


  test("refine command reproduces the refineCorpus ladder, repetition rung behind its flag") {
    val out1 = tmp("cli-refine1"); val out2 = tmp("cli-refine2")
    CurateCli.run("refine", Map("--in" -> docsPath, "--out" -> out1,
      "--vocab-topk" -> "24", "--max-oov" -> "0.25", "--span-n" -> "3"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "kept_tokens", "text_clean")
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val want = Pipeline.refineCorpus(spark.read.parquet(docsPath),
      "doc_id", "text", vocabTopK = 24, maxOovFrac = 0.25, spanN = 3)
    assert(rows(spark.read.parquet(out1)) == rows(want) && spark.read.parquet(out1).count() > 0)
    // the repetition rung rides the flag (q164's instantiation uses the
    // library defaults here — full paper set)
    CurateCli.run("refine", Map("--in" -> docsPath, "--out" -> out2,
      "--vocab-topk" -> "24", "--max-oov" -> "0.25", "--span-n" -> "3",
      "--repetition" -> "Y"))
    val wantRep = Pipeline.refineCorpus(spark.read.parquet(docsPath),
      "doc_id", "text", vocabTopK = 24, maxOovFrac = 0.25, spanN = 3,
      withRepetition = true)
    assert(rows(spark.read.parquet(out2)) == rows(wantRep))
    rm(out1, out2)
  }

  test("ingest --normalize Y keys both rungs on canonical text; markers guard every command") {
    import graft.ops.TextAnalysis
    val snap = tmp("cli-ing-nsnap"); rm(snap)
    val idx = tmp("cli-ing-nidx"); rm(idx)
    val b1 = tmp("cli-ing-nb1"); val b2 = tmp("cli-ing-nb2")
    val out1 = tmp("cli-ing-no1"); val out2 = tmp("cli-ing-no2")
    Seq((1L, "Hello, World! 42 extra words here", "s1"),
        (2L, "totally different content", "s1"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(b1)
    // batch 2: a punctuation/counter variant of doc 1 (raw fp differs)
    Seq((10L, "HELLO world 99 extra; words here", "s1"),
        (11L, "brand new content", "s1"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(b2)
    CurateCli.run("ingest", Map("--in" -> b1, "--out" -> out1,
      "--snapshot" -> snap, "--index" -> idx, "--normalize" -> "Y"))
    CurateCli.run("ingest", Map("--in" -> b2, "--out" -> out2,
      "--snapshot" -> snap, "--index" -> idx, "--normalize" -> "Y"))
    val v2 = spark.read.parquet(out2)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    // the variant normalizes to doc 1's class -> exact dup_history
    assert(v2(10L) == "dup_history" && v2(11L) == "kept")
    // both stores carry the founding marker...
    assert(graft.ops.Dedup.snapshotFpKind(spark, snap).contains("normalized"))
    assert(graft.ops.Dedup.snapshotFpKind(spark, idx).contains("normalized"))
    // ...and every command that touches them enforces it
    val e1 = intercept[IllegalArgumentException] {
      CurateCli.run("ingest", Map("--in" -> b2, "--out" -> out2,
        "--snapshot" -> snap, "--index" -> idx))
    }
    assert(e1.getMessage.contains("normalized"))
    val e2 = intercept[IllegalArgumentException] {
      CurateCli.run("neardup", Map("--in" -> b2, "--out" -> out2,
        "--index" -> idx))
    }
    assert(e2.getMessage.contains("normalized"))
    val e3 = intercept[IllegalArgumentException] {
      CurateCli.run("dedup", Map("--in" -> b2, "--out" -> out2,
        "--snapshot" -> snap))
    }
    assert(e3.getMessage.contains("normalized"))
    rm(snap, idx, b1, b2, out1, out2)
  }


  test("anneval grades the standing index against exact ground truth, equal to the library path") {
    import graft.ops.Similarity
    val embPath = "/root/testdata/sf0.01/embeddings.parquet"
    val idx = tmp("cli-anneval-idx"); rm(idx)
    val out = tmp("cli-anneval-out")
    CurateCli.run("annindex", Map("--in" -> embPath, "--index" -> idx,
      "--cells" -> "4", "--subspaces" -> "8", "--codes" -> "4"))
    CurateCli.run("anneval", Map("--in" -> embPath, "--index" -> idx,
      "--out" -> out, "--topk" -> "5", "--nprobe" -> "2", "--nqueries" -> "6"))
    val got = spark.read.parquet(out)
      .select("query_id", "n_hit", "recall", "mrr", "ndcg")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    // equal to the composed library path
    val emb = spark.read.parquet(embPath)
    val loaded = Similarity.loadIvfPqIndex(spark, idx)
    val qs = emb.orderBy(col("vec_id")).limit(6)
    val want = Similarity.rankedEval(
        Similarity.ivfPqTopKWith(loaded, qs, "vec_id", "embedding", 2, 5),
        Similarity.exactTopK(emb, "vec_id", "embedding", qs, "vec_id", "embedding", 5),
        "query_id", "vec_id", "adist", ascending = true, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
    // metrics are well-formed
    assert(got.forall { case (_, h, r, m, n) =>
      h >= 0 && r >= 0 && r <= 1 && m >= 0 && m <= 1 && n >= 0 && n <= 1 })
    rm(idx, out)
  }

  test("anneval --store-kind neardup/embeddup grade the fuzzy rungs, equal to the library paths") {
    import graft.ops.{Dedup, Similarity}
    val d = spark.read.parquet(docsPath)
    val evenDir = tmp("cli-ae-even"); val oddDir = tmp("cli-ae-odd")
    d.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(evenDir)
    d.filter(col("doc_id") % 2 === 1).write.mode("overwrite").parquet(oddDir)
    val ndIdx = tmp("cli-ae-ndidx"); rm(ndIdx)
    val ndOut = tmp("cli-ae-ndout")
    // found the standing neardup index from the even half...
    CurateCli.run("neardup", Map("--in" -> evenDir, "--out" -> tmp("cli-ae-nd0"),
      "--index" -> ndIdx))
    // ...then grade it: odd queries, exact-Jaccard ground truth from --in
    CurateCli.run("anneval", Map("--store-kind" -> "neardup",
      "--in" -> evenDir, "--queries" -> oddDir, "--index" -> ndIdx,
      "--out" -> ndOut, "--topk" -> "5"))
    def rows(p: String) = spark.read.parquet(p)
      .select("query_id", "n_hit", "recall", "mrr", "ndcg")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    val ndGot = rows(ndOut)
    val ndLoaded = Dedup.loadNearDupIndex(spark, ndIdx)
    val odd = d.filter(col("doc_id") % 2 === 1)
    val even = d.filter(col("doc_id") % 2 === 0)
    val ndWant = Similarity.rankedEval(
        Dedup.nearDupTopKWith(odd, ndLoaded, "doc_id", "text", 0.2, 5),
        Dedup.exactJaccardTopK(even, odd, "doc_id", "text", 5, 0.2, 5),
        "query_id", "doc_id", "jaccard", ascending = false, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(ndGot == ndWant && ndGot.nonEmpty)

    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val evenEmb = tmp("cli-ae-eeven"); val oddEmb = tmp("cli-ae-eodd")
    e.filter(col("vec_id") % 2 === 0).write.mode("overwrite").parquet(evenEmb)
    e.filter(col("vec_id") % 2 === 1).write.mode("overwrite").parquet(oddEmb)
    val edIdx = tmp("cli-ae-edidx"); rm(edIdx)
    val edOut = tmp("cli-ae-edout")
    CurateCli.run("embeddup", Map("--in" -> evenEmb, "--out" -> tmp("cli-ae-ed0"),
      "--index" -> edIdx, "--dim" -> "64", "--planes" -> "4"))
    CurateCli.run("anneval", Map("--store-kind" -> "embeddup",
      "--in" -> evenEmb, "--queries" -> oddEmb, "--index" -> edIdx,
      "--out" -> edOut, "--topk" -> "5"))
    val edGot = rows(edOut)
    val edLoaded = Similarity.loadEmbedIndex(spark, edIdx)
    val oddV = e.filter(col("vec_id") % 2 === 1)
    val evenV = e.filter(col("vec_id") % 2 === 0)
    val edWant = Similarity.rankedEval(
        Similarity.embedNearDupTopKWith(oddV, edLoaded, "vec_id", "embedding", 0.3, 5),
        Similarity.exactTopK(evenV, "vec_id", "embedding",
          oddV, "vec_id", "embedding", 5),
        "query_id", "vec_id", "sim", ascending = false, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(edGot == edWant && edGot.nonEmpty)

    // --multiprobe Y grades the widened probe (q174 knob), equal to the
    // library's multiProbe path
    val mpOut = tmp("cli-ae-mpout")
    CurateCli.run("anneval", Map("--store-kind" -> "embeddup",
      "--in" -> evenEmb, "--queries" -> oddEmb, "--index" -> edIdx,
      "--out" -> mpOut, "--topk" -> "5", "--multiprobe" -> "Y"))
    val mpGot = rows(mpOut)
    val mpWant = Similarity.rankedEval(
        Similarity.embedNearDupTopKWith(oddV, edLoaded, "vec_id", "embedding",
          0.3, 5, multiProbe = true),
        Similarity.exactTopK(evenV, "vec_id", "embedding",
          oddV, "vec_id", "embedding", 5),
        "query_id", "vec_id", "sim", ascending = false, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(mpGot == mpWant && mpGot.nonEmpty)

    // a NORMALIZED-keyed neardup store is graded under its founding
    // content identity (the _fpkind marker): the eval must normalize the
    // query and ground-truth texts, not probe raw against normalized keys
    val nIdx = tmp("cli-ae-nidx"); rm(nIdx)
    val nOut = tmp("cli-ae-nout")
    CurateCli.run("neardup", Map("--in" -> evenDir, "--out" -> tmp("cli-ae-nd1"),
      "--index" -> nIdx, "--normalize" -> "Y"))
    CurateCli.run("anneval", Map("--store-kind" -> "neardup",
      "--in" -> evenDir, "--queries" -> oddDir, "--index" -> nIdx,
      "--out" -> nOut, "--topk" -> "5"))
    val nGot = rows(nOut)
    val nLoaded = Dedup.loadNearDupIndex(spark, nIdx)
    def norm(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      graft.ops.TextAnalysis.normalizeForDedup(col("text")))
    val nWant = Similarity.rankedEval(
        Dedup.nearDupTopKWith(norm(odd), nLoaded, "doc_id", "text", 0.2, 5),
        Dedup.exactJaccardTopK(norm(even), norm(odd), "doc_id", "text", 5, 0.2, 5),
        "query_id", "doc_id", "jaccard", ascending = false, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(nGot == nWant && nGot.nonEmpty)
    rm(nIdx, nOut)

    // an unknown kind errors instead of silently grading the wrong rung
    val err = intercept[IllegalArgumentException] {
      CurateCli.run("anneval", Map("--store-kind" -> "hnsw",
        "--in" -> evenEmb, "--index" -> edIdx, "--out" -> edOut))
    }
    assert(err.getMessage.contains("--store-kind"))
    // a flag from ANOTHER rung fails as loudly as a typo (per-kind strictness)
    for ((kind, flag) <- Seq("ivfpq" -> "--min-jaccard",
        "embeddup" -> "--nprobe", "neardup" -> "--multiprobe")) {
      val e2 = intercept[IllegalArgumentException] {
        CurateCli.run("anneval", Map("--store-kind" -> kind,
          "--in" -> evenEmb, "--index" -> edIdx, "--out" -> edOut,
          flag -> "1"))
      }
      assert(e2.getMessage.contains(flag) && e2.getMessage.contains(kind), e2.getMessage)
    }
    rm(evenDir, oddDir, ndIdx, ndOut, evenEmb, oddEmb, edIdx, edOut, mpOut)
  }

  test("split command cuts reproducible hive-partitioned splits") {
    import graft.ops.TextAnalysis
    val out = tmp("cli-split"); rm(out)
    CurateCli.run("split", Map("--in" -> docsPath, "--out" -> out,
      "--splits" -> "train=0.8,val=0.1,test=0.1"))
    val back = spark.read.parquet(out)
    val counts = back.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val total = counts.values.sum
    assert(counts.keySet == Set("train", "val", "test"))
    assert(total == spark.read.parquet(docsPath).count())
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // assignment is the library hashSplit, row for row
    val want = spark.read.parquet(docsPath).select(col("doc_id"),
        TextAnalysis.hashSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .as[(Long, String)].collect().toMap
    val gotAssign = back.select(col("doc_id"), col("split").cast("string"))
      .as[(Long, String)].collect().toMap
    assert(gotAssign == want)
    rm(out)
  }

  test("split --leakage-safe Y hashes the resolved cluster, never a doc key") {
    import graft.ops.{Cluster, Dedup, TextAnalysis}
    val out = tmp("cli-lsplit"); rm(out)
    CurateCli.run("split", Map("--in" -> docsPath, "--out" -> out,
      "--leakage-safe" -> "Y"))
    val back = spark.read.parquet(out)
    assert(back.count() == spark.read.parquet(docsPath).count())
    // ≡ the library path with the same (neardup-default) knobs — q176
    val docs = spark.read.parquet(docsPath)
    val pairs = Dedup.minhashLshPairsOf(
      Dedup.shingleSets(docs, "doc_id", "text", 5),
      k = 4, rowsPerBand = 2, minJaccard = 0.5)
    val comps = Cluster.connectedComponents(
      docs.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b")
    val want = Cluster.leakageSafeSplit(comps, "doc_id", "component",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    val got = back.select(col("doc_id"), col("split").cast("string"))
      .as[(Long, String)].collect().toMap
    assert(got == want)
    // every LSH pair lands whole — the leakage the doc-key split permits
    val pairSplits = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairSplits.nonEmpty)
    for ((a, b) <- pairSplits) assert(got(a) == got(b), s"pair ($a,$b)")
    // a --key-col alongside leakage-safe is a contradiction, said loudly
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("split", Map("--in" -> docsPath, "--out" -> out,
        "--leakage-safe" -> "Y", "--key-col" -> "doc_id"))
    }
    assert(e.getMessage.contains("--key-col"))
    // and the clustering knobs require leakage-safe mode
    val e2 = intercept[IllegalArgumentException] {
      CurateCli.run("split", Map("--in" -> docsPath, "--out" -> out,
        "--min-jaccard" -> "0.5"))
    }
    assert(e2.getMessage.contains("--min-jaccard"))
    rm(out)
  }

  test("diversity command reproduces q177's census") {
    import graft.ops.Corpus
    val out = tmp("cli-div"); rm(out)
    CurateCli.run("diversity", Map("--in" -> docsPath, "--out" -> out))
    val got = spark.read.parquet(out)
      .select("source", "n", "n_total", "n_distinct")
      .as[(String, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val want = Corpus.ngramDiversity(
        spark.read.parquet(docsPath), "source", "text")
      .select("source", "n", "n_total", "n_distinct")
      .as[(String, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == want && got.nonEmpty)
    rm(out)
  }

  test("dividend command prices the dedup pass like the library path") {
    import graft.ops.{Cluster, Dedup, TextAnalysis}
    val out = tmp("cli-dividend"); rm(out)
    CurateCli.run("dividend", Map("--in" -> docsPath, "--out" -> out))
    val docs = spark.read.parquet(docsPath)
    val pairs = Dedup.minhashLshPairsOf(
      Dedup.shingleSets(docs, "doc_id", "text", 5),
      k = 4, rowsPerBand = 2, minJaccard = 0.5)
    val comps = Cluster.connectedComponents(
      docs.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b")
    val want = Cluster.dedupDividend(comps, "doc_id", "component",
        docs.select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("_nt")),
        "doc_id", "source", "_nt")
      .select("source", "n_docs", "n_dup_docs", "total_tokens", "dup_tokens")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got = spark.read.parquet(out)
      .select("source", "n_docs", "n_dup_docs", "total_tokens", "dup_tokens")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
    // the pass must be priced non-trivially at sf0.01 (dups exist)
    assert(got.map(_._3).sum > 0, "expected removable doc mass")
    rm(out)
  }

  test("dividend --thresholds writes the q184 curve; diversity --approx runs the sketch") {
    import graft.ops.{Cluster, Corpus, Dedup, TextAnalysis}
    val cOut = tmp("cli-divcurve"); val aOut = tmp("cli-divapprox"); rm(cOut, aOut)
    CurateCli.run("dividend", Map("--in" -> docsPath, "--out" -> cOut,
      "--thresholds" -> "0.5,0.7,0.9"))
    val docs = spark.read.parquet(docsPath)
    val pairs = Dedup.minhashLshPairsOf(
      Dedup.shingleSets(docs, "doc_id", "text", 5),
      k = 4, rowsPerBand = 2, minJaccard = 0.5)
    val want = Cluster.dividendCurve(docs.select(col("doc_id")), "doc_id",
        pairs, "id_a", "id_b", "jaccard",
        docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("_nt")),
        "doc_id", "_nt", Seq(0.5, 0.7, 0.9))
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = spark.read.parquet(cOut)
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want && got.size == 3)
    // curve mode is whole-corpus: a --group-col contradicts, loudly
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("dividend", Map("--in" -> docsPath, "--out" -> cOut,
        "--thresholds" -> "0.5", "--group-col" -> "source"))
    }
    assert(e.getMessage.contains("--group-col"))
    // diversity --approx Y ≡ the library sketch flavor, row for row
    CurateCli.run("diversity", Map("--in" -> docsPath, "--out" -> aOut,
      "--approx" -> "Y"))
    val wantA = Corpus.ngramDiversityApprox(docs, "source", "text")
      .select("source", "n", "n_total", "n_distinct")
      .as[(String, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val gotA = spark.read.parquet(aOut)
      .select("source", "n", "n_total", "n_distinct")
      .as[(String, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(gotA == wantA && gotA.nonEmpty)
    rm(cOut, aOut)
  }

  test("dividend --thresholds below the pair floor deepens the pair table, not the error log") {
    import graft.ops.{Cluster, Dedup, TextAnalysis}
    val out = tmp("cli-divfloor"); rm(out)
    // no explicit --min-jaccard: the pair table must be built down to the
    // LOWEST requested cutoff (0.3), else that curve point under-prices
    CurateCli.run("dividend", Map("--in" -> docsPath, "--out" -> out,
      "--thresholds" -> "0.3,0.7"))
    val docs = spark.read.parquet(docsPath)
    val pairs = Dedup.minhashLshPairsOf(
      Dedup.shingleSets(docs, "doc_id", "text", 5),
      k = 4, rowsPerBand = 2, minJaccard = 0.3)
    val want = Cluster.dividendCurve(docs.select(col("doc_id")), "doc_id",
        pairs, "id_a", "id_b", "jaccard",
        docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("_nt")),
        "doc_id", "_nt", Seq(0.3, 0.7))
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = spark.read.parquet(out)
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want && got.size == 2)
    // the 0.3 point must price MORE than a 0.5-floor table would see
    assert(got(0.3)._1 >= got(0.7)._1)
    // an explicit floor ABOVE a requested cutoff is a contradiction
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("dividend", Map("--in" -> docsPath, "--out" -> out,
        "--thresholds" -> "0.3,0.7", "--min-jaccard" -> "0.5"))
    }
    assert(e.getMessage.contains("under-price"))
    rm(out)
  }

  test("phashdup command finds perceptual pairs like the library path") {
    import graft.ops.Multimodal
    val out = tmp("cli-phash"); rm(out)
    // docsPath carries a STRING text column — the CLI encodes it UTF-8,
    // exactly what packBinary does on the library side
    CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> out,
      "--payload-col" -> "text", "--max-dist" -> "20", "--bands" -> "4"))
    val docs = spark.read.parquet(docsPath)
    val want = Multimodal.perceptualDupPairs(
        Multimodal.packBinary(docs, "doc_id", "text"), "doc_id", "payload",
        maxDist = 20, nBands = 4)
      .as[(Long, Long, Int)].collect().toSet
    val got = spark.read.parquet(out)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want)
    // a payload column that is neither binary nor string fails loudly
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> out,
        "--payload-col" -> "doc_id"))
    }
    assert(e.getMessage.contains("binary or string"))
    val e2 = intercept[IllegalArgumentException] {
      CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> out,
        "--payload-col" -> "nope"))
    }
    assert(e2.getMessage.contains("--payload-col"))
    rm(out)
  }

  test("phashdup --index runs the standing daily loop; store doctor commands dispatch") {
    import graft.ops.Multimodal
    val idx = tmp("cli-phidx"); val o1 = tmp("cli-ph1"); val o2 = tmp("cli-ph2")
    val st = tmp("cli-phstats"); val oc = tmp("cli-phocc"); rm(idx, o1, o2, st, oc)
    // day 1: found-if-absent — empty probe result, store banded
    CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> o1,
      "--payload-col" -> "text", "--index" -> idx))
    assert(spark.read.parquet(o1).count() == 0)
    assert(new java.io.File(s"$idx/pbands").exists())
    // day 2: the SAME corpus probes back — every doc matches itself at 0
    // (multiprobe on: the widened keys must not lose the exact hit)
    CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> o2,
      "--payload-col" -> "text", "--index" -> idx,
      "--update-index" -> "N", "--multiprobe" -> "Y"))
    val docs = spark.read.parquet(docsPath)
    val want = Multimodal.incrementalPerceptualDupsWith(
        Multimodal.packBinary(docs, "doc_id", "text"),
        Multimodal.loadPHashIndex(spark, idx), "doc_id", "payload",
        maxDist = 6, multiProbe = true)
      .as[(Long, Long, Int)].collect().toSet
    val got = spark.read.parquet(o2).as[(Long, Long, Int)].collect().toSet
    assert(got == want && got.nonEmpty)
    assert(got.forall { case (id, hid, d) => !(id == hid) || d == 0 })
    // founding --bands disagreement fails loudly
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> o2,
        "--payload-col" -> "text", "--index" -> idx, "--bands" -> "8"))
    }
    assert(e.getMessage.contains("--bands"))
    // --thresholds: the q197 dedup-rate curve ≡ the library curve;
    // contradictions (single-cutoff knobs, the standing loop) fail loudly
    val oCv = tmp("cli-phcurve"); rm(oCv)
    CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> oCv,
      "--payload-col" -> "text", "--thresholds" -> "0,2,6"))
    val wantCv = Multimodal.perceptualDupRateCurve(
        Multimodal.packBinary(docs, "doc_id", "text"),
        "doc_id", "payload", maxDists = Seq(0, 2, 6))
      .as[(Int, Long, Long, Double)].collect().toSet
    assert(spark.read.parquet(oCv).as[(Int, Long, Long, Double)]
      .collect().toSet == wantCv && wantCv.size == 3)
    val eCv = intercept[IllegalArgumentException] {
      CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> oCv,
        "--payload-col" -> "text", "--thresholds" -> "0,2", "--max-dist" -> "4"))
    }
    assert(eCv.getMessage.contains("--thresholds"))
    val eCv2 = intercept[IllegalArgumentException] {
      CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> oCv,
        "--payload-col" -> "text", "--thresholds" -> "0,2", "--index" -> idx))
    }
    assert(eCv2.getMessage.contains("standing-store"))
    rm(oCv)

    // probe-time hot-bucket cap (occupancy --advice 'cap_probes'
    // remediation): the capped CLI probe ≡ the capped library probe
    val o3 = tmp("cli-ph3"); rm(o3)
    CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> o3,
      "--payload-col" -> "text", "--index" -> idx,
      "--update-index" -> "N", "--max-per-bucket" -> "2"))
    val wantCap = Multimodal.incrementalPerceptualDupsWith(
        Multimodal.packBinary(docs, "doc_id", "text"),
        Multimodal.loadPHashIndex(spark, idx), "doc_id", "payload",
        maxDist = 6, maxPerBucket = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(spark.read.parquet(o3).as[(Long, Long, Int)].collect().toSet
      == wantCap)
    val e3 = intercept[IllegalArgumentException] {
      CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> o2,
        "--payload-col" -> "text", "--multiprobe" -> "Y"))
    }
    assert(e3.getMessage.contains("--multiprobe"))
    // store doctor: stats sees the phash kind + founding params;
    // occupancy reads the band histogram; forget tombstones; compact applies
    CurateCli.run("stats", Map("--store" -> idx, "--out" -> st))
    val row = spark.read.parquet(st).head()
    assert(row.getAs[String]("kind") == "phash")
    assert(row.getAs[String]("params").contains("n_bands=4"))
    CurateCli.run("occupancy", Map("--store" -> idx, "--out" -> oc))
    val occ = spark.read.parquet(oc)
      .agg(sum(col("bucket_size") * col("n_buckets"))).head().getLong(0)
    assert(occ == docs.count() * 4)
    // occupancy --advice: the diagnose half of the remediation loop,
    // ≡ the library advice row; phash-only (other families refound)
    val oadv = tmp("cli-phadv"); rm(oadv)
    CurateCli.run("occupancy", Map("--store" -> idx, "--out" -> oadv,
      "--advice" -> "Y", "--hot-bucket" -> "8"))
    val advGot = spark.read.parquet(oadv).head()
    val advWant = Multimodal.pHashIndexAdvice(
      Multimodal.loadPHashIndex(spark, idx), hotBucketThreshold = 8)
      .head()
    assert(advGot == advWant)
    assert(Set("ok", "cap_probes", "tombstone_flood")
      .contains(advGot.getAs[String]("advice")))
    rm(oadv)
    val someId = docs.select("doc_id").head().getLong(0)
    val ids = Seq(someId).toDF("doc_id")
    ids.write.mode("overwrite").parquet(s"$oc-ids")
    CurateCli.run("forget", Map("--in" -> s"$oc-ids", "--store" -> idx))
    assert(new java.io.File(s"$idx/_tombstones").exists())
    CurateCli.run("compact", Map("--store" -> idx))
    assert(!new java.io.File(s"$idx/_tombstones").exists())
    assert(spark.read.parquet(s"$idx/pbands")
      .filter(col("_hid") === someId).count() == 0)
    rm(idx, o1, o2, st, oc, s"$oc-ids")
  }

  test("framedup command matches the library frame rungs, aligned and shifted") {
    import graft.ops.Multimodal
    val oA = tmp("cli-frA"); val oS = tmp("cli-frS"); rm(oA, oS)
    val docs = spark.read.parquet(docsPath)
    val packed = Multimodal.packBinary(docs, "doc_id", "text")
    CurateCli.run("framedup", Map("--in" -> docsPath, "--out" -> oA,
      "--payload-col" -> "text", "--max-dist" -> "6", "--min-matched" -> "2"))
    val wantA = Multimodal.frameDupPairs(packed, "doc_id", "payload",
        frameBytes = 128, stride = 128, maxFrames = 8,
        maxDist = 6, minMatchedFrames = 2)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(spark.read.parquet(oA).as[(Long, Long, Long, Int)].collect().toSet
      == wantA)
    CurateCli.run("framedup", Map("--in" -> docsPath, "--out" -> oS,
      "--payload-col" -> "text", "--shifted" -> "Y", "--min-matched" -> "2"))
    val wantS = Multimodal.frameDupPairsShifted(packed, "doc_id", "payload",
        frameBytes = 64, stride = 64, maxFrames = 8,
        maxDist = 2, minMatchedFrames = 2)
      .as[(Long, Long, Int, Long, Int)].collect().toSet
    assert(spark.read.parquet(oS).as[(Long, Long, Int, Long, Int)].collect().toSet
      == wantS && wantS.nonEmpty)
    // --index: the standing frame-store daily loop (q199) ≡ the library;
    // founding geometry and contradicting modes fail loudly
    val fIdx = tmp("cli-fridx"); val oD1 = tmp("cli-frd1"); val oD2 = tmp("cli-frd2")
    rm(fIdx, oD1, oD2)
    CurateCli.run("framedup", Map("--in" -> docsPath, "--out" -> oD1,
      "--payload-col" -> "text", "--index" -> fIdx, "--max-frames" -> "4"))
    assert(spark.read.parquet(oD1).count() == 0)
    assert(new java.io.File(s"$fIdx/fbands").exists())
    CurateCli.run("framedup", Map("--in" -> docsPath, "--out" -> oD2,
      "--payload-col" -> "text", "--index" -> fIdx, "--update-index" -> "N",
      "--min-matched" -> "2"))
    val wantD = Multimodal.incrementalFrameDupsWith(
        Multimodal.packBinary(docs, "doc_id", "text"),
        Multimodal.loadFrameIndex(spark, fIdx), "doc_id", "payload",
        maxDist = 2, minMatchedFrames = 2)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(spark.read.parquet(oD2).as[(Long, Long, Long, Int)].collect().toSet
      == wantD && wantD.nonEmpty)
    val eG = intercept[IllegalArgumentException] {
      CurateCli.run("framedup", Map("--in" -> docsPath, "--out" -> oD2,
        "--payload-col" -> "text", "--index" -> fIdx, "--max-frames" -> "8"))
    }
    assert(eG.getMessage.contains("--max-frames"))
    val eSh = intercept[IllegalArgumentException] {
      CurateCli.run("framedup", Map("--in" -> docsPath, "--out" -> oD2,
        "--payload-col" -> "text", "--index" -> fIdx, "--shifted" -> "Y"))
    }
    assert(eSh.getMessage.contains("--shifted"))
    // store doctor dispatch sees the frames kind; occupancy --advice
    // runs the frame advice row ≡ the library
    val fSt = tmp("cli-frstats"); rm(fSt)
    CurateCli.run("stats", Map("--store" -> fIdx, "--out" -> fSt))
    val fRow = spark.read.parquet(fSt).head()
    assert(fRow.getAs[String]("kind") == "frames")
    assert(fRow.getAs[String]("params").contains("frame_bytes=128"))
    val fAdv = tmp("cli-fradv"); rm(fAdv)
    CurateCli.run("occupancy", Map("--store" -> fIdx, "--out" -> fAdv,
      "--advice" -> "Y", "--hot-bucket" -> "8"))
    assert(spark.read.parquet(fAdv).head() ==
      Multimodal.frameIndexAdvice(
        Multimodal.loadFrameIndex(spark, fIdx), hotBucketThreshold = 8).head())
    rm(fIdx, oD1, oD2, fSt, fAdv)

    // features: both decoder flavors ≡ their library extractors
    val oFe = tmp("cli-feat"); rm(oFe)
    CurateCli.run("features", Map("--in" -> docsPath, "--out" -> oFe,
      "--payload-col" -> "text"))
    val wantFe = Multimodal.extractFeatures(
        Multimodal.packBinary(docs, "doc_id", "text"))
      .as[(Long, Int, Int, Int, Double)].collect().toSet
    assert(spark.read.parquet(oFe).as[(Long, Int, Int, Int, Double)]
      .collect().toSet == wantFe && wantFe.nonEmpty)
    val eFe = intercept[IllegalArgumentException] {
      CurateCli.run("features", Map("--in" -> docsPath, "--out" -> oFe,
        "--payload-col" -> "text", "--decoder" -> "imageio"))
    }
    assert(eFe.getMessage.contains("BINARY"))
    rm(oFe)

    // --decoder imageio: the REAL-decoder rungs ≡ the library paths
    val imgIn = tmp("cli-img-in"); val oI = tmp("cli-imgP"); val oF = tmp("cli-imgF")
    rm(imgIn, oI, oF)
    def png(shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(63, 48,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 63) {
        val v = ((((x * 9) / 63) * 37 + ((y * 8) / 48) * 71) + shift * 53) % 200
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val clips = Seq(
      (0L, Multimodal.packImageFrames((1 to 4).map(png))),
      (1L, Multimodal.packImageFrames(Seq(png(1), png(2), png(3), png(9)))),
      (2L, Multimodal.packImageFrames(Seq(png(7), png(8)))))
      .toDF("doc_id", "payload")
    clips.write.parquet(imgIn)
    CurateCli.run("framedup", Map("--in" -> imgIn, "--out" -> oF,
      "--decoder" -> "imageio", "--min-matched" -> "3"))
    val wantF = Multimodal.frameDupPairsDecoded(clips, "doc_id", "payload",
        maxFrames = 8, maxDist = 2, minMatchedFrames = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(spark.read.parquet(oF).as[(Long, Long, Long, Int)].collect().toSet
      == wantF && wantF.nonEmpty)
    val singles = Seq((0L, png(0)), (1L, png(0)), (2L, png(5)))
      .toDF("doc_id", "payload")
    val singlesIn = tmp("cli-img-s"); rm(singlesIn)
    singles.write.parquet(singlesIn)
    CurateCli.run("phashdup", Map("--in" -> singlesIn, "--out" -> oI,
      "--decoder" -> "imageio"))
    val wantP = Multimodal.perceptualDupPairsDecoded(singles, "doc_id",
        "payload", maxDist = 6, nBands = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(spark.read.parquet(oI).as[(Long, Long, Int)].collect().toSet
      == wantP && wantP == Set((0L, 1L, 0)))
    // features --decoder imageio on real image bytes ≡ the library
    val oFi = tmp("cli-feat-img"); rm(oFi)
    CurateCli.run("features", Map("--in" -> singlesIn, "--out" -> oFi,
      "--decoder" -> "imageio"))
    val wantFi = Multimodal.extractImageFeatures(singles)
      .as[(Long, Boolean, Int, Int, Int, Double)].collect().toSet
    assert(spark.read.parquet(oFi).as[(Long, Boolean, Int, Int, Int, Double)]
      .collect().toSet == wantFi && wantFi.nonEmpty && wantFi.forall(_._2))
    rm(oFi)

    // the decoder needs real bytes, not re-encoded strings; byte-window
    // knobs and the stub-founded standing store contradict it
    val eS = intercept[IllegalArgumentException] {
      CurateCli.run("phashdup", Map("--in" -> docsPath, "--out" -> oI,
        "--payload-col" -> "text", "--decoder" -> "imageio"))
    }
    assert(eS.getMessage.contains("BINARY"))
    val eFb = intercept[IllegalArgumentException] {
      CurateCli.run("framedup", Map("--in" -> imgIn, "--out" -> oF,
        "--decoder" -> "imageio", "--frame-bytes" -> "64"))
    }
    assert(eFb.getMessage.contains("--frame-bytes"))
    val eBad = intercept[IllegalArgumentException] {
      CurateCli.run("phashdup", Map("--in" -> singlesIn, "--out" -> oI,
        "--decoder" -> "avif"))
    }
    assert(eBad.getMessage.contains("--decoder"))

    // round-13: the standing store FOUNDS on a stated signature space
    // (--decoder is a founding constant beside --bands, round-12
    // verdict #1): a decoded-founded store hashes every probe decoded
    val imgIdx = tmp("cli-img-idx"); val oI1 = tmp("cli-imgI1")
    val oI2 = tmp("cli-imgI2"); rm(imgIdx, oI1, oI2)
    CurateCli.run("phashdup", Map("--in" -> singlesIn, "--out" -> oI1,
      "--decoder" -> "imageio", "--index" -> imgIdx))
    assert(spark.read.parquet(oI1).count() == 0)
    assert(graft.ops.Multimodal.loadPHashIndex(spark, imgIdx).decoder ==
      graft.ops.Multimodal.ImageioDecoder)
    // a JPEG re-encode of png(0) comes home to its PNG twin THROUGH the
    // store — the exact pair ImageDecodeSpec proves the stub space misses
    val img0 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png(0)))
    val jout = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img0, "jpg", jout)
    val jpegIn = tmp("cli-img-jpeg"); rm(jpegIn)
    Seq((10L, jout.toByteArray)).toDF("doc_id", "payload").write.parquet(jpegIn)
    CurateCli.run("phashdup", Map("--in" -> jpegIn, "--out" -> oI2,
      "--index" -> imgIdx, "--update-index" -> "N"))
    val jHit = spark.read.parquet(oI2).as[(Long, Long, Int)].collect().toSeq
    assert(jHit.size == 1 && Set(0L, 1L).contains(jHit.head._2) &&
      jHit.head._3 <= 2, s"got $jHit")
    // a decoder restatement disagreeing with the founding fails loudly
    val eDec = intercept[IllegalArgumentException] {
      CurateCli.run("phashdup", Map("--in" -> jpegIn, "--out" -> oI2,
        "--index" -> imgIdx, "--decoder" -> "stub"))
    }
    assert(eDec.getMessage.contains("--decoder") &&
      eDec.getMessage.contains("stored index"))
    rm(imgIdx, oI1, oI2, jpegIn)
    rm(imgIn, singlesIn, oI, oF)

    // the skew cap threads through both rungs ≡ the library cap
    val oC = tmp("cli-frC"); rm(oC)
    CurateCli.run("framedup", Map("--in" -> docsPath, "--out" -> oC,
      "--payload-col" -> "text", "--max-dist" -> "6", "--min-matched" -> "2",
      "--max-per-bucket" -> "3"))
    val wantCap = Multimodal.frameDupPairs(packed, "doc_id", "payload",
        frameBytes = 128, stride = 128, maxFrames = 8,
        maxDist = 6, minMatchedFrames = 2, maxPerBucket = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(spark.read.parquet(oC).as[(Long, Long, Long, Int)].collect().toSet
      == wantCap)
    rm(oC)
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("framedup", Map("--in" -> docsPath, "--out" -> oA,
        "--payload-col" -> "text", "--shifted" -> "maybe"))
    }
    assert(e.getMessage.contains("--shifted"))
    rm(oA, oS)
  }

  test("integrity command audits packed payloads; --bad-only filters; unpacked input fails loudly") {
    import graft.ops.Multimodal
    val src = tmp("cli-int-src"); val out = tmp("cli-int"); rm(src, out)
    val packed = Multimodal.packBinary(spark.read.parquet(docsPath), "doc_id", "text")
    // tamper one doc after packing, then persist the packed table
    packed.withColumn("payload",
        when(col("doc_id") === 7L, expr("substring(payload, 1, 5)"))
          .otherwise(col("payload")))
      .write.mode("overwrite").parquet(src)
    CurateCli.run("integrity", Map("--in" -> src, "--out" -> out,
      "--bad-only" -> "Y"))
    val bad = spark.read.parquet(out)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(bad.map(_._1) == Seq(7L) && bad.head._4 == "truncated")
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("integrity", Map("--in" -> docsPath, "--out" -> out))
    }
    assert(e.getMessage.contains("packed input"))
    rm(src, out)
  }

  test("--cc-strategy selects the component engine; all three agree; bogus fails loudly") {
    val outA = tmp("cli-ccauto"); val outS = tmp("cli-ccstar"); rm(outA, outS)
    CurateCli.run("split", Map("--in" -> docsPath, "--out" -> outA,
      "--leakage-safe" -> "Y", "--cc-strategy" -> "auto"))
    CurateCli.run("split", Map("--in" -> docsPath, "--out" -> outS,
      "--leakage-safe" -> "Y", "--cc-strategy" -> "star"))
    def splits(p: String) = spark.read.parquet(p)
      .select(col("doc_id"), col("split").cast("string"))
      .as[(Long, String)].collect().toMap
    val a = splits(outA); val s = splits(outS)
    assert(a == s && a.nonEmpty)
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("split", Map("--in" -> docsPath, "--out" -> outA,
        "--leakage-safe" -> "Y", "--cc-strategy" -> "bogus"))
    }
    assert(e.getMessage.contains("unknown cc strategy"))
    // the knob belongs to leakage-safe mode only
    val e2 = intercept[IllegalArgumentException] {
      CurateCli.run("split", Map("--in" -> docsPath, "--out" -> outA,
        "--cc-strategy" -> "auto"))
    }
    assert(e2.getMessage.contains("--cc-strategy"))
    rm(outA, outS)
  }

  test("labelaudit command reproduces the confusion table over given columns") {
    import graft.ops.TextAnalysis
    val inDir = tmp("cli-la-in"); val out = tmp("cli-la"); rm(inDir, out)
    val scored = spark.read.parquet(docsPath).select(col("lang"),
      TextAnalysis.langId(col("text"), Seq("en" -> Seq("the", "a"))).as("pred_lang"))
    scored.write.mode("overwrite").parquet(inDir)
    CurateCli.run("labelaudit", Map("--in" -> inDir, "--out" -> out))
    val want = TextAnalysis.labelAgreement(scored, "lang", "pred_lang")
      .select("lang", "pred_lang", "n_docs", "share")
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val got = spark.read.parquet(out)
      .select("lang", "pred_lang", "n_docs", "share")
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == want && got.nonEmpty)
    // corpus-shaped flags don't exist here: --text-col is not an option
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("labelaudit", Map("--in" -> inDir, "--out" -> out,
        "--text-col" -> "text"))
    }
    assert(e.getMessage.contains("--text-col"))
    rm(inDir, out)
  }

  test("pii census reproduces q178; default mode masks the corpus in place") {
    import graft.ops.Scrub
    val cOut = tmp("cli-piic"); val mOut = tmp("cli-piim"); rm(cOut, mOut)
    CurateCli.run("pii", Map("--in" -> docsPath, "--out" -> cOut,
      "--census" -> "Y"))
    val got = spark.read.parquet(cOut)
      .select("source", "rule", "n_docs", "n_matches")
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val want = Scrub.piiCensus(spark.read.parquet(docsPath), "source", "text")
      .select("source", "rule", "n_docs", "n_matches")
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == want && got.nonEmpty)
    // mask mode: text column replaced by the sequential q73 mask,
    // every other column untouched
    CurateCli.run("pii", Map("--in" -> docsPath, "--out" -> mOut))
    val masked = spark.read.parquet(mOut)
    assert(masked.columns.sorted.toSeq ==
      spark.read.parquet(docsPath).columns.sorted.toSeq)
    val wantMask = spark.read.parquet(docsPath)
      .select(col("doc_id"), Scrub.piiMask(col("text")).as("text"))
      .as[(Long, String)].collect().toMap
    val gotMask = masked.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(gotMask == wantMask)
    // census-only flags are rejected in mask mode
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("pii", Map("--in" -> docsPath, "--out" -> mOut,
        "--group-col" -> "source"))
    }
    assert(e.getMessage.contains("--group-col"))
    rm(cOut, mOut)
  }

  test("manifest command assigns then manifests; pre-sharded input passes through") {
    import graft.ops.{Shard, TextAnalysis}
    val out = tmp("cli-man"); val out2 = tmp("cli-man2")
    val preDir = tmp("cli-man-pre"); rm(out, out2, preDir)
    CurateCli.run("manifest", Map("--in" -> docsPath, "--out" -> out))
    val docs = spark.read.parquet(docsPath)
    val sized = docs.select(col("doc_id"), col("text"),
      TextAnalysis.tokenCount(col("text")).as("_msz"))
    val want = Shard.manifest(
        Shard.balancedAssign(sized, "doc_id", "_msz", 8),
        "doc_id", "text", "_msz")
      .select("shard", "n_docs", "n_tokens", "content_hash")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got = spark.read.parquet(out)
      .select("shard", "n_docs", "n_tokens", "content_hash")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want && got.size == 8)
    // pre-sharded input: the existing column wins; --shards then
    // contradicts and is rejected
    Shard.balancedAssign(sized, "doc_id", "_msz", 4).drop("_msz")
      .write.mode("overwrite").parquet(preDir)
    CurateCli.run("manifest", Map("--in" -> preDir, "--out" -> out2))
    assert(spark.read.parquet(out2).count() == 4)
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("manifest", Map("--in" -> preDir, "--out" -> out2,
        "--shards" -> "8"))
    }
    assert(e.getMessage.contains("--shards"))
    // --diff against the just-written manifest: same corpus → all equal
    val dOut = tmp("cli-man-diff"); rm(dOut)
    CurateCli.run("manifest", Map("--in" -> docsPath, "--out" -> dOut,
      "--diff" -> out))
    val statuses = spark.read.parquet(dOut)
      .select("status").as[String].collect().toSet
    assert(statuses == Set("equal"))
    rm(out, out2, preDir, dOut)
  }

  test("ingest --repetition Y verdicts repetition-spam as terminal, never history") {
    val snap = tmp("cli-rep-snap"); rm(snap)
    val idx = tmp("cli-rep-idx"); rm(idx)
    val b1 = tmp("cli-rep-b1"); val out1 = tmp("cli-rep-o1"); val out2 = tmp("cli-rep-o2")
    val spam = "the and" + " abc def" * 30          // gopher-ok, repetition-fail
    val clean = "the and of to that have with be " +
      (0 until 48).map(i => f"w$i%02d").mkString(" ")
    Seq((1L, clean, "s1"), (2L, spam, "s1"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(b1)
    CurateCli.run("ingest", Map("--in" -> b1, "--out" -> out1,
      "--snapshot" -> snap, "--index" -> idx,
      "--quality" -> "Y", "--min-words" -> "10", "--repetition" -> "Y"))
    val v1 = spark.read.parquet(out1)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(v1 == Map(1L -> "kept", 2L -> "repetitive"))
    // the spam never became history: an exact copy later is NOT dup_history
    CurateCli.run("ingest", Map("--in" -> b1, "--out" -> out2,
      "--snapshot" -> snap, "--index" -> idx,
      "--quality" -> "Y", "--min-words" -> "10", "--repetition" -> "Y"))
    val v2 = spark.read.parquet(out2)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(v2 == Map(1L -> "dup_history", 2L -> "repetitive"))
    rm(snap, idx, b1, out1, out2)
  }


  test("profile command reproduces the library table profile; --cols and --approx honored") {
    val liPath = "/root/testdata/sf0.01/lineitem.parquet"
    val out = tmp("cli-profile")
    CurateCli.run("profile", Map("--in" -> liPath, "--out" -> out,
      "--cols" -> "l_orderkey,l_returnflag"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.head).toSeq
    assert(rows(spark.read.parquet(out)) == rows(graft.ops.Stats.tableProfile(
      spark.read.parquet(liPath), Seq("l_orderkey", "l_returnflag"))))
    // default = every column; approx flag validated strictly
    val out2 = tmp("cli-profile2")
    CurateCli.run("profile", Map("--in" -> liPath, "--out" -> out2, "--approx" -> "Y"))
    assert(spark.read.parquet(out2).count() ==
      spark.read.parquet(liPath).columns.length.toLong)
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("profile", Map("--in" -> liPath, "--out" -> out2,
        "--approx" -> "maybe"))
    }
    assert(e.getMessage.contains("--approx"))
    rm(out, out2)
  }


  test("drift --max-tv gates a poisoned source into quarantine, out of history") {
    import graft.ops.HistLedger
    val led = tmp("cli-dg-led"); rm(led)
    val quar = tmp("cli-dg-quar"); rm(quar)
    val b1 = tmp("cli-dg-b1"); val b2 = tmp("cli-dg-b2")
    val o1 = tmp("cli-dg-o1"); val o2 = tmp("cli-dg-o2")
    def mk(rows: Seq[(Long, String, Long)], p: String) =
      rows.toDF("doc_id", "lang", "n").write.mode("overwrite").parquet(p)
    // founding batch: two healthy sources near value 20
    mk((0 until 40).map(i => (i.toLong, if (i % 2 == 0) "aa" else "bb", 20L + i % 5)), b1)
    // batch 2: aa stays; bb jumps to 90 (poisoned)
    mk((100 until 140).map(i => (i.toLong,
      if (i % 2 == 0) "aa" else "bb", if (i % 2 == 0) 21L else 90L)), b2)
    CurateCli.run("drift", Map("--in" -> b1, "--out" -> o1, "--ledger" -> led,
      "--val-col" -> "n", "--batch-id" -> "0",
      "--lo" -> "0", "--hi" -> "100", "--buckets" -> "10",
      "--max-tv" -> "0.5", "--quarantine" -> quar))
    // founding: empty report, nothing quarantined, everything appended
    assert(spark.read.parquet(o1).count() == 0)
    assert(!new java.io.File(quar).exists() ||
      new java.io.File(quar).listFiles().isEmpty)
    CurateCli.run("drift", Map("--in" -> b2, "--out" -> o2, "--ledger" -> led,
      "--val-col" -> "n", "--batch-id" -> "1",
      "--max-tv" -> "0.5", "--quarantine" -> quar))
    val scores = spark.read.parquet(o2).as[(String, Double)].collect().toMap
    assert(scores("aa") < 0.5 && scores("bb") > 0.5, s"scores: $scores")
    // bb's poisoned rows sit in quarantine; the ledger never saw them
    val q = spark.read.parquet(quar).as[(Long, String, Long)].collect()
    assert(q.nonEmpty && q.forall(r => r._2 == "bb" && r._3 == 90L))
    val totals = HistLedger.merged(spark, led)
      .groupBy(col("group")).agg(sum(col("cnt")).as("c"))
      .as[(String, Long)].collect().toMap
    assert(totals("aa") == 40L && totals("bb") == 20L)
    // the gate flags are all-or-nothing
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("drift", Map("--in" -> b2, "--out" -> o2, "--ledger" -> led,
        "--val-col" -> "n", "--batch-id" -> "2", "--max-tv" -> "0.5"))
    }
    assert(e.getMessage.contains("--quarantine"))
    rm(led, quar, b1, b2, o1, o2)
  }


  test("occupancy command reads index-store balance off the stored tables") {
    import graft.ops.Similarity
    val embPath = "/root/testdata/sf0.01/embeddings.parquet"
    val d = spark.read.parquet(docsPath)
    // neardup store built via the CLI loop
    val nd = tmp("cli-occ-nd"); rm(nd)
    val v = tmp("cli-occ-v")
    CurateCli.run("neardup", Map("--in" -> docsPath, "--out" -> v, "--index" -> nd))
    val o1 = tmp("cli-occ-o1")
    CurateCli.run("occupancy", Map("--store" -> nd, "--out" -> o1))
    val hist = spark.read.parquet(o1).as[(Long, Long)].collect().toMap
    // every (doc, band) row accounted: docs with shingles x 2 bands
    val nDocs = spark.read.parquet(s"$nd/bands").count()
    assert(hist.map { case (sz, nb) => sz * nb }.sum == nDocs && hist.nonEmpty)
    // ivfpq store: per-cell counts ≡ the library diagnostic
    val ann = tmp("cli-occ-ann"); rm(ann)
    CurateCli.run("annindex", Map("--in" -> embPath, "--index" -> ann,
      "--cells" -> "4", "--subspaces" -> "8", "--codes" -> "4"))
    val o2 = tmp("cli-occ-o2")
    CurateCli.run("occupancy", Map("--store" -> ann, "--out" -> o2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows(spark.read.parquet(o2)) ==
      rows(Similarity.ivfPqIndexStats(Similarity.loadIvfPqIndex(spark, ann))))
    // a non-index store is rejected loudly
    val snap = tmp("cli-occ-snap"); rm(snap)
    val vo = tmp("cli-occ-vo")
    CurateCli.run("dedup", Map("--in" -> docsPath, "--out" -> vo, "--snapshot" -> snap))
    val e = intercept[IllegalArgumentException] {
      CurateCli.run("occupancy", Map("--store" -> snap, "--out" -> o2))
    }
    assert(e.getMessage.contains("occupancy"))
    rm(nd, v, o1, ann, o2, snap, vo)
  }


  test("overlap command writes the contamination report; threshold verdict behind its flag") {
    import graft.ops.{CacheScope, Dedup}
    val bench = tmp("cli-ovl-bench"); val out = tmp("cli-ovl-out")
    val d = spark.read.parquet(docsPath)
    d.filter(col("doc_id") % 19 === 0).write.mode("overwrite").parquet(bench)
    val trainPath = tmp("cli-ovl-train")
    d.filter(col("doc_id") % 19 =!= 0).write.mode("overwrite").parquet(trainPath)
    CurateCli.run("overlap", Map("--in" -> trainPath, "--out" -> out,
      "--bench" -> bench, "--max-overlap" -> "0.5"))
    val got = spark.read.parquet(out)
    for (c <- Seq("doc_id", "n_grams", "n_overlap", "overlap_frac", "contaminated"))
      assert(got.columns.contains(c), s"missing $c")
    // equals the library composition
    val want = CacheScope.withScope { scope =>
      Dedup.contaminationScoreOf(
          Dedup.shingleSets(spark.read.parquet(trainPath), "doc_id", "text", 5, scope),
          Dedup.shingleSets(spark.read.parquet(bench), "doc_id", "text", 5, scope))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    val gotMap = got.select("doc_id", "n_overlap")
      .as[(Long, Long)].collect().toMap
    assert(gotMap == want && gotMap.nonEmpty)
    // the verdict matches the threshold rule
    val bad = got.filter(col("contaminated") === 1)
      .select("overlap_frac").as[Double].collect()
    assert(bad.forall(_ > 0.5))
    rm(bench, out, trainPath)
  }

  test("a missing --index with --update-index N fails loudly on every standing-store command") {
    // round-12 advice: probing a store that doesn't exist while refusing
    // to found one is a pure no-op — a typo'd --index path must throw,
    // never write a silent empty verdict table
    val out = tmp("cli-noidx-out")
    for ((cmd, extra) <- Seq(
        ("neardup", Map.empty[String, String]),
        ("embeddup", Map("--in" -> "/root/testdata/sf0.01/embeddings.parquet")),
        ("phashdup", Map("--payload-col" -> "text")),
        ("framedup", Map("--payload-col" -> "text")))) {
      val e = intercept[IllegalArgumentException] {
        CurateCli.run(cmd, Map("--in" -> docsPath, "--out" -> out,
          "--index" -> tmp(s"cli-noidx-$cmd"),
          "--update-index" -> "N") ++ extra)
      }
      assert(e.getMessage.contains("--update-index N") &&
        e.getMessage.contains("founds nothing"), s"$cmd: ${e.getMessage}")
    }
    rm(out)
  }

  test("framedup --decoder wav ≡ the library audio rung; wav founds a standing frame store") {
    import graft.ops.Multimodal
    def block(s: Int): String =
      (0 until 128).map(j => ('a' + ((s * 31 + j * 17 + s * j) % 26)).toChar).mkString
    def rec(i: Int): String =
      (0 until 4).map(f => block(1 + (i * 7 + f * 3) % 40)).mkString
    val rows = (0 until 8).map(i => (i.toLong, rec(i))) :+
      (105L, rec(5).take(384) + block(50))
    val wavIn = tmp("cli-wav-in"); rm(wavIn)
    val wavs = Multimodal.packWavCorpus(rows.toDF("doc_id", "t"), "doc_id", "t")
    wavs.write.parquet(wavIn)
    // pairs mode ≡ the library call
    val oW = tmp("cli-wavP"); rm(oW)
    CurateCli.run("framedup", Map("--in" -> wavIn, "--out" -> oW,
      "--decoder" -> "wav", "--min-matched" -> "3"))
    val want = Multimodal.frameDupPairsWav(wavs, "doc_id", "payload",
        frameBytes = 128, stride = 128, maxFrames = 8,
        maxDist = 2, minMatchedFrames = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(spark.read.parquet(oW).as[(Long, Long, Long, Int)]
      .collect().toSet == want && want.contains((5L, 105L, 3L, 0)))
    // a wav store FOUNDS with its decoder marker; a stub restatement
    // on the probe fails loudly; the probe dispatches into PCM space
    val wIdx = tmp("cli-wav-idx"); val o1 = tmp("cli-wavI1")
    val o2 = tmp("cli-wavI2"); rm(wIdx, o1, o2)
    val histIn = tmp("cli-wav-hist"); rm(histIn)
    Multimodal.packWavCorpus((0 until 8).map(i => (i.toLong, rec(i)))
      .toDF("doc_id", "t"), "doc_id", "t").write.parquet(histIn)
    CurateCli.run("framedup", Map("--in" -> histIn, "--out" -> o1,
      "--decoder" -> "wav", "--index" -> wIdx))
    assert(Multimodal.loadFrameIndex(spark, wIdx).decoder ==
      Multimodal.WavDecoder)
    val probeIn = tmp("cli-wav-probe"); rm(probeIn)
    Multimodal.packWavCorpus(Seq((104L, rec(5).take(384) + block(50)))
      .toDF("doc_id", "t"), "doc_id", "t").write.parquet(probeIn)
    CurateCli.run("framedup", Map("--in" -> probeIn, "--out" -> o2,
      "--index" -> wIdx, "--update-index" -> "N"))
    assert(spark.read.parquet(o2).as[(Long, Long, Long, Int)]
      .collect().toSeq == Seq((104L, 5L, 3L, 0)))
    val eDec = intercept[IllegalArgumentException] {
      CurateCli.run("framedup", Map("--in" -> probeIn, "--out" -> o2,
        "--index" -> wIdx, "--decoder" -> "stub"))
    }
    assert(eDec.getMessage.contains("--decoder") &&
      eDec.getMessage.contains("stored index"))
    // --multiprobe: the per-probe recall knob ≡ the library widened
    // probe; only meaningful against a standing store
    val o3 = tmp("cli-wavI3"); rm(o3)
    CurateCli.run("framedup", Map("--in" -> probeIn, "--out" -> o3,
      "--index" -> wIdx, "--update-index" -> "N", "--multiprobe" -> "Y"))
    val wantMp = Multimodal.incrementalFrameDupsWith(
        spark.read.parquet(probeIn),
        Multimodal.loadFrameIndex(spark, wIdx),
        "doc_id", "payload", maxDist = 2, minMatchedFrames = 3,
        multiProbe = true)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(spark.read.parquet(o3).as[(Long, Long, Long, Int)]
      .collect().toSet == wantMp && wantMp.nonEmpty)
    val eMp = intercept[IllegalArgumentException] {
      CurateCli.run("framedup", Map("--in" -> wavIn, "--out" -> o3,
        "--decoder" -> "wav", "--multiprobe" -> "Y"))
    }
    assert(eMp.getMessage.contains("--multiprobe"))
    // wav needs real container bytes, not re-encoded strings
    val eStr = intercept[IllegalArgumentException] {
      CurateCli.run("framedup", Map("--in" -> docsPath, "--out" -> oW,
        "--payload-col" -> "text", "--decoder" -> "wav"))
    }
    assert(eStr.getMessage.contains("BINARY"))
    // …and the STORED decoder enforces the same even when --decoder is
    // OMITTED on a probe (the happy path): a string column UTF-8-encoded
    // into a wav-founded store would extract nothing, silently
    val eProbe = intercept[IllegalArgumentException] {
      CurateCli.run("framedup", Map("--in" -> docsPath, "--out" -> o3,
        "--payload-col" -> "text", "--index" -> wIdx,
        "--update-index" -> "N"))
    }
    assert(eProbe.getMessage.contains("founded on the wav"))
    // features --decoder wav ≡ the library audio feature rung
    val oFw = tmp("cli-feat-wav"); rm(oFw)
    CurateCli.run("features", Map("--in" -> wavIn, "--out" -> oFw,
      "--decoder" -> "wav"))
    val wantFw = Multimodal.extractWavFeatures(wavs, "doc_id")
      .as[(Long, Boolean, Int, Int, Int, Long, Double, Double)]
      .collect().toSet
    assert(spark.read.parquet(oFw)
      .as[(Long, Boolean, Int, Int, Int, Long, Double, Double)]
      .collect().toSet == wantFw && wantFw.nonEmpty && wantFw.forall(_._2))
    // audiogate ≡ the library gate; --bad-only keeps the violations
    val oAg = tmp("cli-agate"); val oAgBad = tmp("cli-agate-bad"); rm(oAg, oAgBad)
    val agIn = tmp("cli-agate-in"); rm(agIn)
    val agRows = Seq(
      (0L, Multimodal.packWav(
        Array.tabulate[Byte](200)(j => ((j * 37 + 11) % 251).toByte))),
      (1L, Multimodal.packWav(Array.fill[Byte](100)(128.toByte))))
      .toDF("doc_id", "payload")
    agRows.write.parquet(agIn)
    CurateCli.run("audiogate", Map("--in" -> agIn, "--out" -> oAg))
    val wantAg = Multimodal.wavQualityGate(agRows, "doc_id")
      .as[(Long, Boolean, Long, Double, Double, Boolean)].collect().toSet
    assert(spark.read.parquet(oAg)
      .as[(Long, Boolean, Long, Double, Double, Boolean)]
      .collect().toSet == wantAg && wantAg.size == 2)
    CurateCli.run("audiogate", Map("--in" -> agIn, "--out" -> oAgBad,
      "--bad-only" -> "Y"))
    val bad = spark.read.parquet(oAgBad)
      .as[(Long, Boolean, Long, Double, Double, Boolean)].collect().toSeq
    assert(bad.map(_._1) == Seq(1L) && !bad.head._6,
      "the silence arm is the only violation")
    rm(wavIn, oW, wIdx, o1, o2, o3, oFw, oAg, oAgBad, agIn, histIn, probeIn)
  }

  test("scenes command: each --emit mode ≡ its library path; option discipline holds") {
    import graft.ops.Multimodal
    def block(s: Int): String =
      (0 until 128).map(j => ('a' + ((s * 31 + j * 17 + s * j) % 26)).toChar).mkString
    val scIn = tmp("cli-scenes-in"); rm(scIn)
    val rows = Seq(
      (0L, block(1) * 2 + block(2) + block(3)),
      (1L, block(1) * 2 + block(2) + block(3) + "JUNK"), // same storyboard
      (2L, block(9) + block(2) + block(3))).toDF("doc_id", "text")
    rows.write.parquet(scIn)
    val packed = Multimodal.packBinary(rows, "doc_id", "text")

    val oSeg = tmp("cli-scenes-seg"); val oBrd = tmp("cli-scenes-brd")
    val oDup = tmp("cli-scenes-dup"); rm(oSeg, oBrd, oDup)
    CurateCli.run("scenes", Map("--in" -> scIn, "--out" -> oSeg,
      "--payload-col" -> "text"))
    val wantSeg = Multimodal.sceneSegments(packed, "doc_id", "payload")
      .as[(Long, Int, Int, Int, Long, Long)].collect().toSet
    assert(spark.read.parquet(oSeg).as[(Long, Int, Int, Int, Long, Long)]
      .collect().toSet == wantSeg && wantSeg.nonEmpty)

    CurateCli.run("scenes", Map("--in" -> scIn, "--out" -> oBrd,
      "--payload-col" -> "text", "--emit" -> "boards"))
    val wantBrd = Multimodal.storyboardFingerprints(packed, "doc_id", "payload")
      .as[(Long, String)].collect().toSet
    assert(spark.read.parquet(oBrd).as[(Long, String)].collect().toSet
      == wantBrd && wantBrd.size == 3)

    CurateCli.run("scenes", Map("--in" -> scIn, "--out" -> oDup,
      "--payload-col" -> "text", "--emit" -> "dupgroups"))
    val dup = spark.read.parquet(oDup).as[(String, Long, Long)].collect().toSeq
    assert(dup.map(d => (d._2, d._3)) == Seq((2L, 0L)),
      "clips 0 and 1 share the storyboard, canonical = 0")

    val eEmit = intercept[IllegalArgumentException] {
      CurateCli.run("scenes", Map("--in" -> scIn, "--out" -> oSeg,
        "--payload-col" -> "text", "--emit" -> "spans"))
    }
    assert(eEmit.getMessage.contains("--emit"))
    val eGeo = intercept[IllegalArgumentException] {
      CurateCli.run("scenes", Map("--in" -> scIn, "--out" -> oSeg,
        "--payload-col" -> "text", "--decoder" -> "imageio",
        "--frame-bytes" -> "64"))
    }
    assert(eGeo.getMessage.contains("--frame-bytes"))
    val eStray = intercept[IllegalArgumentException] {
      CurateCli.run("scenes", Map("--in" -> scIn, "--out" -> oSeg,
        "--payload-col" -> "text", "--max-dist" -> "2"))
    }
    assert(eStray.getMessage.contains("not valid for 'scenes'"))

    // --emit overlap ≡ the library pairs; its knobs rejected elsewhere
    val oOvl = tmp("cli-scenes-ovl"); rm(oOvl)
    CurateCli.run("scenes", Map("--in" -> scIn, "--out" -> oOvl,
      "--payload-col" -> "text", "--emit" -> "overlap",
      "--min-shared" -> "2"))
    val wantOvl = Multimodal.sceneOverlapPairs(packed, "doc_id", "payload",
        minShared = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(spark.read.parquet(oOvl).as[(Long, Long, Long, Double)]
      .collect().toSet == wantOvl && wantOvl.nonEmpty)
    val eKnob = intercept[IllegalArgumentException] {
      CurateCli.run("scenes", Map("--in" -> scIn, "--out" -> oSeg,
        "--payload-col" -> "text", "--min-shared" -> "2"))
    }
    assert(eKnob.getMessage.contains("--emit overlap"))

    // --emit chunks ≡ the library slicer
    val oChk = tmp("cli-scenes-chk"); rm(oChk)
    CurateCli.run("scenes", Map("--in" -> scIn, "--out" -> oChk,
      "--payload-col" -> "text", "--emit" -> "chunks"))
    val wantChk = Multimodal.sceneChunks(packed, "doc_id", "payload")
      .select(col("doc_id"), col("scene_idx"), md5(col("chunk")).as("m"))
      .as[(Long, Int, String)].collect().toSet
    assert(spark.read.parquet(oChk)
      .select(col("doc_id"), col("scene_idx"), md5(col("chunk")).as("m"))
      .as[(Long, Int, String)].collect().toSet == wantChk && wantChk.nonEmpty)
    rm(scIn, oSeg, oBrd, oDup, oOvl, oChk)
  }

  test("resize command ≡ the library thumbnail rung; --bad-only keeps undecodables; binary required") {
    import graft.ops.Multimodal
    def png(w: Int, h: Int, v: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val rzIn = tmp("cli-resize-in"); rm(rzIn)
    val rzRows = Seq((0L, png(64, 48, 100)), (1L, "junk".getBytes))
      .toDF("doc_id", "payload")
    rzRows.write.parquet(rzIn)
    val oRz = tmp("cli-resize"); val oRzBad = tmp("cli-resize-bad"); rm(oRz, oRzBad)
    CurateCli.run("resize", Map("--in" -> rzIn, "--out" -> oRz,
      "--max-w" -> "32", "--max-h" -> "32"))
    val want = Multimodal.resizeImages(rzRows, "doc_id", maxW = 32, maxH = 32)
      .as[(Long, Boolean, Boolean, Int, Int, Array[Byte])].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5,
        Option(r._6).map(_.toSeq))).toSet
    assert(spark.read.parquet(oRz)
      .as[(Long, Boolean, Boolean, Int, Int, Array[Byte])].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5,
        Option(r._6).map(_.toSeq))).toSet == want && want.size == 2)
    CurateCli.run("resize", Map("--in" -> rzIn, "--out" -> oRzBad,
      "--bad-only" -> "Y"))
    val bad = spark.read.parquet(oRzBad).select("id").as[Long].collect().toSeq
    assert(bad == Seq(1L), "only the undecodable survives --bad-only")
    val eTxt = intercept[IllegalArgumentException] {
      val txtIn = tmp("cli-resize-txt"); rm(txtIn)
      Seq((0L, "s")).toDF("doc_id", "payload").write.parquet(txtIn)
      try CurateCli.run("resize", Map("--in" -> txtIn, "--out" -> oRz))
      finally rm(txtIn)
    }
    assert(eTxt.getMessage.contains("BINARY"))
    rm(rzIn, oRz, oRzBad)
  }

  test("crossmodal command ≡ the library audit; --bad-only keeps the violations") {
    import graft.ops.Multimodal
    val xmIn = tmp("cli-xm-in"); rm(xmIn)
    // arithmetic blocks, not prose: structurally-similar short strings
    // can genuinely share a dHash (the spec-fixture gotcha)
    def xblock(s: Int): String =
      (0 until 128).map(j => ('a' + ((s * 31 + j * 17 + s * j) % 26)).toChar).mkString
    val xmRows = Seq(
      (0L, xblock(1), "cap one"),
      (1L, xblock(1), "cap one"),
      (2L, xblock(3), "solo caption")
    ).toDF("doc_id", "img", "caption")
    xmRows.write.parquet(xmIn)
    val oXm = tmp("cli-xm"); val oXmBad = tmp("cli-xm-bad"); rm(oXm, oXmBad)
    CurateCli.run("crossmodal", Map("--in" -> xmIn, "--out" -> oXm,
      "--payload-col" -> "img"))
    val want = Multimodal.crossModalDupAudit(
        xmRows.select(col("doc_id"), encode(col("img"), "utf-8").as("p"),
          col("caption")), "doc_id", "p", "caption")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(spark.read.parquet(oXm).as[(Long, Long, Long, Long, String)]
      .collect().toSet == want && want.size == 3)
    CurateCli.run("crossmodal", Map("--in" -> xmIn, "--out" -> oXmBad,
      "--payload-col" -> "img", "--bad-only" -> "Y"))
    assert(spark.read.parquet(oXmBad).select("doc_id").as[Long]
      .collect().toSet == Set(0L, 1L), "only the exact-dup pair survives")
    val eCap = intercept[IllegalArgumentException] {
      CurateCli.run("crossmodal", Map("--in" -> xmIn, "--out" -> oXm,
        "--payload-col" -> "img", "--caption-col" -> "nope"))
    }
    assert(eCap.getMessage.contains("'nope'"))
    rm(xmIn, oXm, oXmBad)
  }

  test("clip-identity standing loop composes: scenes --emit boards into the dedup snapshot") {
    import graft.ops.Multimodal
    def block(s: Int): String =
      (0 until 128).map(j => ('a' + ((s * 31 + j * 17 + s * j) % 26)).toChar).mkString
    val in1 = tmp("cli-sb-in1"); val in2 = tmp("cli-sb-in2")
    val bd1 = tmp("cli-sb-bd1"); val bd2 = tmp("cli-sb-bd2")
    val v1 = tmp("cli-sb-v1"); val v2 = tmp("cli-sb-v2")
    val snap = tmp("cli-sb-snap")
    rm(in1, in2, bd1, bd2, v1, v2, snap)
    Seq((0L, block(1) * 2 + block(2)), (1L, block(3) + block(4)))
      .toDF("doc_id", "text").write.parquet(in1)
    // day 2: clip 0's cut re-uploaded re-containered (tail + padding)
    Seq((10L, block(1) * 3 + block(2) + "JUNK"), (11L, block(5)))
      .toDF("doc_id", "text").write.parquet(in2)
    // day 1: storyboard, then found the snapshot on the board identity
    CurateCli.run("scenes", Map("--in" -> in1, "--out" -> bd1,
      "--payload-col" -> "text", "--emit" -> "boards"))
    CurateCli.run("dedup", Map("--in" -> bd1, "--out" -> v1,
      "--text-col" -> "storyboard", "--snapshot" -> snap))
    assert(spark.read.parquet(v1).as[(Long, String)].collect().toMap
      == Map(0L -> "kept", 1L -> "kept"))
    // day 2: the re-containered cut verdicts dup_history through the
    // storyboard identity even though every raw byte stream differs
    CurateCli.run("scenes", Map("--in" -> in2, "--out" -> bd2,
      "--payload-col" -> "text", "--emit" -> "boards"))
    CurateCli.run("dedup", Map("--in" -> bd2, "--out" -> v2,
      "--text-col" -> "storyboard", "--snapshot" -> snap))
    assert(spark.read.parquet(v2).as[(Long, String)].collect().toMap
      == Map(10L -> "dup_history", 11L -> "kept"))
    rm(in1, in2, bd1, bd2, v1, v2, snap)
  }

  test("utterances command ≡ the library silence split; binary required") {
    import graft.ops.Multimodal
    val utIn = tmp("cli-utt-in"); rm(utIn)
    val loud = Array.tabulate[Byte](128)(j => ((93 + 20 * j) % 251).toByte)
    val body = loud ++ Array.fill[Byte](256)(126.toByte) ++ loud ++ loud
    val utRows = Seq((0L, Multimodal.packWav(body))).toDF("doc_id", "payload")
    utRows.write.parquet(utIn)
    val oUt = tmp("cli-utt"); rm(oUt)
    CurateCli.run("utterances", Map("--in" -> utIn, "--out" -> oUt,
      "--frame-bytes" -> "128"))
    val want = Multimodal.wavUtterances(utRows, "doc_id", "payload",
        frameBytes = 128, stride = 128)
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    assert(spark.read.parquet(oUt).as[(Long, Int, Int, Int, Long)]
      .collect().toSet == want && want.size == 2)
    val eBin = intercept[IllegalArgumentException] {
      val tIn = tmp("cli-utt-txt"); rm(tIn)
      Seq((0L, "text")).toDF("doc_id", "payload").write.parquet(tIn)
      try CurateCli.run("utterances", Map("--in" -> tIn, "--out" -> oUt))
      finally rm(tIn)
    }
    assert(eBin.getMessage.contains("BINARY"))
    rm(utIn, oUt)
  }

  test("mingest loop: founding day gates what founds the store; day two probes and appends") {
    import graft.ops.Multimodal
    def block(s: Int): String =
      (0 until 128).map(j => ('a' + ((s * 31 + j * 17 + s * j) % 26)).toChar).mkString
    val in1 = tmp("cli-mi-in1"); val in2 = tmp("cli-mi-in2")
    val v1 = tmp("cli-mi-v1"); val v2 = tmp("cli-mi-v2")
    val idx = tmp("cli-mi-idx"); rm(in1, in2, v1, v2, idx)
    // day 1: one healthy payload + one corrupted-in-place
    Multimodal.packBinary(Seq((0L, block(1) * 3), (1L, block(2) * 3))
        .toDF("doc_id", "t"), "doc_id", "t")
      .withColumn("payload", when(col("doc_id") === 1L,
        concat(encode(lit("~"), "utf-8"), expr("substring(payload, 2)")))
        .otherwise(col("payload")))
      .write.parquet(in1)
    CurateCli.run("mingest", Map("--in" -> in1, "--out" -> v1,
      "--index" -> idx))
    assert(spark.read.parquet(v1).select("doc_id", "verdict")
      .as[(Long, String)].collect().toMap
      == Map(0L -> "kept", 1L -> "corrupted"))
    // only the kept payload founded the store: day 2's near-mutant of
    // doc 0 probes home; a mutant of the CORRUPTED day-1 payload doesn't
    Multimodal.packBinary(Seq(
        (10L, "Z" + (block(1) * 3).drop(1)),
        (11L, "Z" + (block(2) * 3).drop(1)),
        (12L, block(9) * 3)).toDF("doc_id", "t"), "doc_id", "t")
      .write.parquet(in2)
    CurateCli.run("mingest", Map("--in" -> in2, "--out" -> v2,
      "--index" -> idx))
    val d2 = spark.read.parquet(v2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(d2(10L) == (("dup_history", Some(0L))))
    assert(d2(11L) == (("kept", None)), "the corrupted payload never entered history")
    assert(d2(12L) == (("kept", None)))
    // founding constants enforced on restatement
    val eDec = intercept[IllegalArgumentException] {
      CurateCli.run("mingest", Map("--in" -> in2, "--out" -> v2,
        "--index" -> idx, "--decoder" -> "wav"))
    }
    assert(eDec.getMessage.contains("--decoder"))
    // a typo'd index with no update is loud
    val eIdx = intercept[IllegalArgumentException] {
      CurateCli.run("mingest", Map("--in" -> in2, "--out" -> v2,
        "--index" -> tmp("cli-mi-nope"), "--update-index" -> "N"))
    }
    assert(eIdx.getMessage.contains("founds nothing"))
    rm(in1, in2, v1, v2, idx)
  }

  test("consensus command ≡ the library fusion across two pair tables") {
    import graft.ops.Dedup
    val aIn = tmp("cli-cons-a"); val bIn = tmp("cli-cons-b"); rm(aIn, bIn)
    val aDf = Seq((1L, 2L, 0), (1L, 3L, 2)).toDF("id_a", "id_b", "dist")
    val bDf = Seq((1L, 2L, 0.99)).toDF("id_a", "id_b", "sim")
    aDf.write.parquet(aIn); bDf.write.parquet(bIn)
    val oC = tmp("cli-cons"); rm(oC)
    CurateCli.run("consensus", Map("--in" -> aIn, "--in-b" -> bIn,
      "--out" -> oC, "--a-name" -> "perceptual", "--b-name" -> "embedding"))
    val want = Dedup.pairConsensus(aDf, bDf, "perceptual", "embedding")
      .select("id_a", "id_b", "verdict").as[(Long, Long, String)]
      .collect().toSet
    assert(spark.read.parquet(oC).select("id_a", "id_b", "verdict")
      .as[(Long, Long, String)].collect().toSet == want
      && want == Set((1L, 2L, "confirmed"), (1L, 3L, "perceptual_only")))
    rm(aIn, bIn, oC)
  }

  test("mediacard command ≡ the library rollup; unpacked input fails loudly") {
    import graft.ops.Multimodal
    val mcIn = tmp("cli-mc-in"); rm(mcIn)
    val packed = Multimodal.packBinary(
      Seq((0L, "healthy payload body"), (1L, "another healthy one!"))
        .toDF("doc_id", "t"), "doc_id", "t")
    packed.write.parquet(mcIn)
    val oMc = tmp("cli-mc"); rm(oMc)
    CurateCli.run("mediacard", Map("--in" -> mcIn, "--out" -> oMc))
    val want = Multimodal.mediaDatasetCard(packed)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Double)]
      .collect().toSet
    assert(spark.read.parquet(oMc)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Double)]
      .collect().toSet == want && want.size == 1)
    val eBare = intercept[IllegalArgumentException] {
      val bareIn = tmp("cli-mc-bare"); rm(bareIn)
      Seq((0L, "x")).toDF("doc_id", "text").write.parquet(bareIn)
      try CurateCli.run("mediacard", Map("--in" -> bareIn, "--out" -> oMc))
      finally rm(bareIn)
    }
    assert(eBare.getMessage.contains("payload"))
    rm(mcIn, oMc)
  }

  test("occupancy counts live rows: forgotten neardup docs leave their buckets") {
    val nd = tmp("cli-occ-live"); rm(nd)
    val batch = tmp("cli-occ-live-b"); val ids = tmp("cli-occ-live-ids")
    val v = tmp("cli-occ-live-v"); val o = tmp("cli-occ-live-o")
    spark.read.parquet(docsPath).orderBy("doc_id").limit(20)
      .write.mode("overwrite").parquet(batch)
    CurateCli.run("neardup", Map("--in" -> batch, "--out" -> v, "--index" -> nd))
    def bandRows(): Long = {
      CurateCli.run("occupancy", Map("--store" -> nd, "--out" -> o))
      spark.read.parquet(o).as[(Long, Long)].collect().map { case (sz, nb) => sz * nb }.sum
    }
    val bands = spark.read.parquet(s"$nd/bands")
    val all = bands.count()
    assert(all > 0 && bandRows() == all)
    val docIds = bands.select("_id").distinct().as[Long].collect().sorted
    val gone = docIds.take(docIds.length / 2).toSeq
    gone.toDF("doc_id").write.mode("overwrite").parquet(ids)
    CurateCli.run("forget", Map("--in" -> ids, "--store" -> nd))
    val live = bands.filter(!col("_id").isin(gone: _*)).count()
    assert(live < all && bandRows() == live)
    rm(nd, batch, ids, v, o)
  }

  test("a malformed --splits fails naming the flag on audit and split") {
    val out = tmp("cli-splits-bad")
    for (cmd <- Seq("audit", "split"); bad <- Seq("train=0.8,val", "train=0.8,val=x")) {
      val e = intercept[IllegalArgumentException] {
        CurateCli.run(cmd, Map("--in" -> docsPath, "--out" -> out, "--splits" -> bad))
      }
      assert(e.getMessage.contains("--splits"), s"$cmd $bad: ${e.getMessage}")
    }
    rm(out)
  }

  test("a malformed numeric flag fails naming the flag and the value") {
    val out = tmp("cli-num-bad")
    for ((cmd, flag, extra) <- Seq(
        ("neardup", "--minhash-k", Map("--index" -> tmp("cli-num-idx"))),
        ("select", "--budget", Map.empty[String, String]),
        ("drift", "--batch-id", Map("--ledger" -> tmp("cli-num-led"))),
        ("curate", "--min-chars", Map.empty[String, String]),
        ("diversity", "--ngrams", Map.empty[String, String]))) {
      val e = intercept[IllegalArgumentException] {
        CurateCli.run(cmd, Map("--in" -> docsPath, "--out" -> out, flag -> "abc") ++ extra)
      }
      assert(e.getMessage.contains(flag) && e.getMessage.contains("'abc'"),
        s"$cmd: ${e.getMessage}")
    }
    rm(out)
  }
}
