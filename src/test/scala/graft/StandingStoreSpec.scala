package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CacheScope, Dedup, Multimodal, Similarity, StandingStore, TextAnalysis}
import graft.ops.StandingStore.Family

/** The [[StandingStore]] protocol over all six store families, driven
  * through degenerate inputs (empty founding batch, empty append, deletion
  * of an absent id, compaction with nothing pending, re-add after
  * compaction), plus the rule that no other main file spells out the
  * layout it owns. Family contracts (probes, founding checks) are in
  * `StandingIndexSpec`, `BloomDedupSpec` and `CurateCliSpec`. */
class StandingStoreSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark
  import spark.implicits._

  /** One family's founding build + save and its on-disk append, over a
    * batch of ids in the family's input shape. */
  private case class Fixture(family: Family, batch: Seq[Long] => DataFrame,
                             found: (String, DataFrame) => Unit,
                             append: (String, DataFrame) => Unit)

  private def docs(ids: Seq[Long]) =
    ids.map(i => (i, s"doc $i says w$i x$i y$i z$i a$i b$i")).toDF("doc_id", "text")
  private def vecs(ids: Seq[Long]) =
    ids.map(i => (i, (0 until 8).map(j => math.cos(i * 0.37 + j * 1.1)))).toDF("vec_id", "emb")
  private def payloads(ids: Seq[Long]) = Multimodal.packBinary(
    ids.map(i => (i, (0 until 40).map(k => (i * 31 + k * k) % 97).mkString(" ")))
      .toDF("doc_id", "t"), "doc_id", "t")

  private lazy val fixtures: Seq[Fixture] = {
    val cents = vecs(100L until 104L).select(col("vec_id").as("_cid"),
      col("emb").cast("array<double>").as("_cv"))
    val book = Similarity.pqBookConst(8, 2, 4)
    Seq(
      Fixture(StandingStore.NearDup, docs,
        (dir, b) => Dedup.saveNearDupIndex(Dedup.buildNearDupIndex(b, "doc_id", "text"), dir),
        (dir, b) => Dedup.appendNearDupIndex(spark, dir, b, "doc_id", "text")),
      Fixture(StandingStore.Embed, vecs,
        (dir, b) => Similarity.saveEmbedIndex(
          Similarity.buildEmbedIndex(b, "vec_id", "emb", dim = 8, nPlanes = 3), dir),
        (dir, b) => Similarity.appendEmbedIndex(spark, dir, b, "vec_id", "emb")),
      Fixture(StandingStore.IvfPq, vecs,
        (dir, b) => Similarity.saveIvfPqIndex(
          Similarity.buildIvfPqIndex(b, "vec_id", "emb", cents, book, dim = 8), dir),
        (dir, b) => Similarity.appendIvfPqIndex(spark, dir, b, "vec_id", "emb")),
      Fixture(StandingStore.PHash, payloads,
        (dir, b) => Multimodal.savePHashIndex(
          Multimodal.buildPHashIndex(b, "doc_id", "payload"), dir),
        (dir, b) => Multimodal.appendPHashIndex(spark, dir, b, "doc_id", "payload")),
      Fixture(StandingStore.Frames, payloads,
        (dir, b) => Multimodal.saveFrameIndex(Multimodal.buildFrameIndex(b, "doc_id",
          "payload", frameBytes = 16, stride = 16, maxFrames = 2), dir),
        (dir, b) => Multimodal.appendFrameIndex(spark, dir, b, "doc_id", "payload")),
      Fixture(StandingStore.Snapshot,
        ids => docs(ids).select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp")),
        (dir, b) => Dedup.appendSnapshot(spark, dir, b, "doc_id"),
        (dir, b) => Dedup.appendSnapshot(spark, dir, b, "doc_id")))
  }

  test("every family survives degenerate inputs through the StandingStore protocol") {
    assert(fixtures.map(_.family) == StandingStore.Families)
    for (fx <- fixtures) CacheScope.withScope { scope =>
      val fam = fx.family
      val dir = java.nio.file.Files.createTempDirectory(s"ss-${fam.kind}").toString
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      val idCol = if (fam == StandingStore.Snapshot) "doc_id" else fam.idCol
      def ids(): Set[Long] =
        StandingStore.live(spark, dir, fam.tables.head, scope)
          .select(col(idCol)).as[Long].collect().toSet
      def forget(ids: Long*): Unit =
        StandingStore.tombstone(spark, dir, ids.toDF(fam.cliIdCol), fam.cliIdCol)
      def pending = new java.io.File(s"$dir/_tombstones").exists
      withClue(fam.kind) {
        assert(StandingStore.kindOf(spark, dir).isEmpty && !StandingStore.founded(spark, dir))
        fx.found(dir, fx.batch(Nil))
        assert(StandingStore.kindOf(spark, dir).contains(fam))
        assert(StandingStore.founded(spark, dir))
        assert(ids().isEmpty, "an empty founding batch founds an empty store")
        fx.append(dir, fx.batch(Nil))
        forget()
        assert(ids().isEmpty, "an empty append and an empty deletion change nothing")
        StandingStore.compact(spark, dir)
        assert(ids().isEmpty && !pending, "an empty store compacts to an empty store")

        fx.append(dir, fx.batch(1L to 6L))
        val all = ids()
        assert(all == (1L to 6L).toSet)
        forget(999L)
        assert(ids() == all, "forgetting an absent id removes nothing")
        StandingStore.compact(spark, dir)
        assert(ids() == all && !pending, "compaction is probe-invariant")

        forget(3L)
        assert(ids() == all - 3L)
        val e = intercept[IllegalArgumentException](fx.append(dir, fx.batch(Seq(3L))))
        assert(e.getMessage.contains("pending tombstone"))
        StandingStore.compact(spark, dir)
        assert(ids() == all - 3L && !pending)
        fx.append(dir, fx.batch(Seq(3L)))
        assert(ids() == all, "a compacted-away id may re-enter")
        assert(StandingStore.kindOf(spark, dir).contains(fam))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("an empty perceptual store has no hot buckets: its advice reads ok") {
    val none = payloads(Nil)
    for (row <- Seq(
        Multimodal.pHashIndexAdvice(Multimodal.buildPHashIndex(none, "doc_id", "payload")),
        Multimodal.frameIndexAdvice(Multimodal.buildFrameIndex(none, "doc_id", "payload")))
        .map(_.collect().head)) {
      assert(row.getAs[Long]("n_buckets") == 0L && row.getAs[Long]("n_hot_buckets") == 0L)
      assert(row.getAs[String]("advice") == "ok")
    }
  }

  test("StandingStore.scala is the only main file that spells out the store layout") {
    // the sidecar and staging names as path components (not `n_tombstones`)
    def sidecar(src: String) = """["/](_tombstones|_compact_tmp_)""".r.findFirstIn(src).nonEmpty
    // an existence probe of a marker table or the params table
    def markerProbe(src: String) =
      """(exists|has)\([^\n]*["/](shingles|buckets|coded|pbands|fbands|params)"""".r
        .findFirstIn(src).nonEmpty
    def histogram(src: String) = src.contains("""groupBy(col("_sz"))""")
    for (rule <- Seq[String => Boolean](sidecar, markerProbe, histogram))
      assert(SourceScan.filesWhere("src/main", SourceScan.withoutComments)(rule)
        == Seq("scala/graft/ops/StandingStore.scala"))
    def hits(rule: String => Boolean, src: String) = rule(SourceScan.withoutComments(src))
    assert(hits(sidecar, "spark.read.parquet(s\"$store/_tombstones\")"))
    assert(hits(markerProbe, "fs.exists(new Path(s\"$idxDir/params\"))"))
    assert(hits(markerProbe, "if (has(\"shingles\")) \"neardup\""))
    assert(hits(histogram, "df.groupBy(col(\"_sz\")).agg(count(lit(1)))"))
    // a column named like the sidecar, a ledger's `_params`, a comment
    assert(!hits(sidecar, ".toDF(\"n_tombstones\")"))
    assert(!hits(markerProbe, "fs.exists(new Path(s\"$dir/_params\"))"))
    assert(!hits(sidecar, "// compaction clears $store/_tombstones"))
  }
}
