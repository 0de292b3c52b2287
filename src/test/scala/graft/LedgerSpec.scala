package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Corpus, HistLedger, Ledger, SampleLedger}

/** The [[Ledger]] protocol over the three ledger families: the on-disk
  * text it keeps, founding (card `lgK`; nothing founded by a refused
  * append), crash repair of the staged compaction, degenerate inputs, and
  * the rule that no other main file spells out the layout. Family merge
  * and replay contracts are in `ApproxStatsSpec`, `HistLedgerSpec` and
  * `SampleLedgerSpec`. */
class LedgerSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark
  import spark.implicits._

  private case class R(id: Long, g: Option[String], v: Option[Double], payload: Option[String])

  private def frame(rows: Seq[R]): DataFrame =
    rows.map(r => (r.id, r.g, r.v, r.payload)).toDF("id", "g", "v", "payload")

  private def docs(ids: Seq[Long]): DataFrame =
    frame(ids.map(i => R(i, Some(s"g${i % 4}"), Some((i * 37 % 150).toDouble), Some(s"p$i"))))

  /** One family driven through the [[Ledger]] protocol: append a batch,
    * read its corpus-to-date answer as a row set, compact. */
  private case class Fam(name: String, append: (String, DataFrame, Long) => Unit,
                         read: String => Set[Seq[Any]], compact: (String, Long) => Unit)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }).toSet

  private val fams = Seq(
    Fam("card", (d, b, i) => Corpus.cardLedgerAppend(spark, d, b, "g", "payload", i),
      d => rows(Corpus.cardLedgerEstimate(spark, d)),
      Corpus.cardLedgerCompact(spark, _, _)),
    Fam("hist", (d, b, i) => HistLedger.append(spark, d, b, "g", "v", i, 0.0, 100.0, 10),
      d => rows(HistLedger.merged(spark, d)).map("merged" +: _) ++
        rows(HistLedger.quantiles(spark, d, Seq(0.5, 1.0))).map("q" +: _),
      HistLedger.compact(spark, _, _)),
    Fam("sample", (d, b, i) => SampleLedger.append(spark, d, b, "g", "id", "payload", i, k = 3),
      d => rows(SampleLedger.merged(spark, d)),
      SampleLedger.compact(spark, _, _)))

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
  private def rm(dir: String): Unit = FileUtils.deleteDirectory(new File(dir))
  private def text(path: String) = Files.readString(new File(path).toPath)
  private def names(dir: String) = new File(dir).listFiles().map(_.getName).sorted.toSeq
  private def batchDirs(dir: String) = names(dir).filter(_.startsWith("batch="))

  test("Ledger.scala is the only main file that spells out the ledger layout") {
    // the marker files and the ledger's staging dir as path components;
    // StandingStore's sibling staging (`_compact_tmp_<name>`) is its own
    def layout(src: String) =
      """["/](_horizon|_params|_compact_tmp)(?!\w)""".r.findFirstIn(src).nonEmpty
    assert(SourceScan.filesWhere("src/main", SourceScan.withoutComments)(layout)
      == Seq("scala/graft/ops/Ledger.scala"))
    def hits(src: String) = layout(SourceScan.withoutComments(src))
    assert(hits("val p = new Path(s\"$store/_horizon\")"))
    assert(hits("fs.delete(path(\"_compact_tmp\"), true)"))
    assert(hits("readSmall(spark, s\"$dir/_params\")"))
    assert(!hits("new Path(root.getParent, \"_compact_tmp_\" + root.getName)"))
    assert(!hits(".toDF(\"store\", \"horizon\", \"params\")"))
    assert(!hits("// the horizon marker lives in $dir/_horizon"))
  }

  test("the on-disk text is unchanged: _params per family, _horizon after a compaction, snapshot columns") {
    val want = Map(
      "card" -> ("12", Seq("group" -> "string", "sketch" -> "binary")),
      "hist" -> ("0.0 100.0 10", Seq("group" -> "string", "bucket" -> "bigint", "cnt" -> "bigint")),
      "sample" -> ("3\ngraft-sample\ng\nid\npayload",
        Seq("group" -> "string", "id" -> "string", "payload" -> "string")))
    for (fam <- fams) withClue(fam.name) {
      val dir = tmp(s"ledger-text-${fam.name}")
      (0 to 3).foreach(i => fam.append(dir, docs((0L until 40L).filter(_ % 4 == i)), i.toLong))
      fam.compact(dir, 2L)
      assert(text(s"$dir/_params") == want(fam.name)._1)
      assert(text(s"$dir/_horizon") == "2")
      assert(batchDirs(dir) == Seq("batch=2", "batch=3"))
      assert(spark.read.parquet(s"$dir/batch=2").schema
        .map(f => f.name -> f.dataType.simpleString) == want(fam.name)._2)
      assert(Ledger.kindOf(spark, dir).map(_.kind).contains(s"${fam.name}ledger"))
      rm(dir)
    }
  }

  test("a card-ledger append with another lgK fails before it writes, naming both") {
    val dir = tmp("ledger-lgk")
    Corpus.cardLedgerAppend(spark, dir, docs(0L until 20L), "g", "payload", 0L, lgK = 12)
    val before = rows(Corpus.cardLedgerEstimate(spark, dir))
    val e = intercept[IllegalArgumentException] {
      Corpus.cardLedgerAppend(spark, dir, docs(20L until 40L), "g", "payload", 1L, lgK = 10)
    }
    assert(e.getMessage.contains("founded with lgK 12") && e.getMessage.contains("lgK 10"))
    assert(batchDirs(dir) == Seq("batch=0"), "the refused append must write nothing")
    assert(rows(Corpus.cardLedgerEstimate(spark, dir)) == before)
    // a ledger from before `_params` founds it on its next append
    new File(s"$dir/_params").delete()
    Corpus.cardLedgerAppend(spark, dir, docs(20L until 40L), "g", "payload", 1L, lgK = 12)
    assert(text(s"$dir/_params") == "12")
    intercept[IllegalArgumentException] {
      Corpus.cardLedgerAppend(spark, dir, docs(40L until 60L), "g", "payload", 2L, lgK = 10)
    }
    Corpus.cardLedgerCompact(spark, dir, 1L)
    assert(batchDirs(dir) == Seq("batch=1"))
    rm(dir)
  }

  test("an append its own sketch refuses founds nothing") {
    val hist = tmp("ledger-refused-hist")
    intercept[IllegalArgumentException] {
      HistLedger.append(spark, hist, docs(0L until 20L), "g", "v", 0L, 0.0, 200.0, 0)
    }
    assert(HistLedger.params(spark, hist).isEmpty)
    HistLedger.append(spark, hist, docs(0L until 20L), "g", "v", 0L, 0.0, 200.0, 20)
    assert(HistLedger.params(spark, hist).contains((0.0, 200.0, 20)))
    assert(HistLedger.merged(spark, hist).agg(sum(col("cnt"))).as[Long].head() == 20L)

    val sample = tmp("ledger-refused-sample")
    intercept[AnalysisException] {
      SampleLedger.append(spark, sample, docs(0L until 20L), "lang", "id", "payload", 0L, k = 5)
    }
    assert(SampleLedger.params(spark, sample).isEmpty)
    SampleLedger.append(spark, sample, docs(0L until 20L), "g", "id", "payload", 0L, k = 5)
    assert(SampleLedger.params(spark, sample)
      .contains(SampleLedger.SampleParams(5, "graft-sample", "g", "id", "payload")))
    assert(SampleLedger.merged(spark, sample).count() == 20L)
    Seq(hist, sample).foreach(rm)
  }

  test("compaction self-repairs a crashed swap in every family") {
    def copy(dir: String, from: String, to: String): Unit =
      FileUtils.copyDirectory(new File(s"$dir/$from"), new File(s"$dir/$to"))
    for (fam <- fams) withClue(fam.name) {
      val dir = tmp(s"ledger-repair-${fam.name}")
      (0 to 3).foreach(i => fam.append(dir, docs((0L until 80L).filter(_ % 4 == i)), i.toLong))
      val before = fam.read(dir)
      def repaired(): Unit = {
        fam.compact(dir, 0L) // nothing to fold: repair only
        assert(names(dir).filter(_.startsWith("_compact")).isEmpty)
        assert(batchDirs(dir) == (0 to 3).map(i => s"batch=$i"))
        assert(fam.read(dir) == before)
      }
      // death between the two renames: the survivor is aside, the fold staged
      copy(dir, "batch=3", "_compact_tmp")
      assert(new File(s"$dir/batch=3").renameTo(new File(s"$dir/_compact_old_3")))
      repaired()
      // death before the aside copy was deleted: the survivor is present
      copy(dir, "batch=3", "_compact_old_3")
      assert(fam.read(dir) == before)
      repaired()
      // death before the swap: a stale staged fold
      copy(dir, "batch=0", "_compact_tmp")
      assert(fam.read(dir) == before)
      repaired()
      fam.compact(dir, 2L)
      assert(batchDirs(dir) == Seq("batch=2", "batch=3") && fam.read(dir) == before)
      rm(dir)
    }
  }

  test("every family survives degenerate inputs through two appends and a compaction") {
    val inputs = Seq(
      "empty" -> Seq.empty[R],
      "one row" -> Seq(R(1L, Some("a"), Some(5.0), Some("p1"))),
      "all-null value and group" -> (1L to 6L).map(i =>
        R(i, if (i % 3 == 0) None else Some(s"g${i % 2}"), None, None)),
      "one hot group" -> (1L to 4000L).map(i =>
        R(i, Some("hot"), Some((i * 7 % 130).toDouble), Some(s"p$i"))))
    for (fam <- fams; (name, in) <- inputs) withClue(s"${fam.name} / $name") {
      val dir = tmp(s"ledger-sweep-${fam.name}")
      fam.append(dir, frame(in), 0L)
      fam.append(dir, frame(in), 1L)
      val got = fam.read(dir)
      if (in.isEmpty) assert(got.isEmpty, "empty in gives empty out")
      fam.compact(dir, 1L)
      assert(batchDirs(dir) == Seq("batch=1"))
      assert(fam.read(dir) == got, "the fold moves nothing")
      rm(dir)
    }
  }
}
