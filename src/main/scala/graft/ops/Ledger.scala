package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The on-disk protocol of the three standing ledgers — corpus-to-date
  * answers kept from per-batch sketches, so history is never rescanned:
  * the HLL distinct-count ledger ([[Corpus.cardLedgerAppend]]), the
  * histogram ledger ([[HistLedger]]) and the inspection-sample ledger
  * ([[SampleLedger]]). Each family keeps its sketch, its merge, its
  * founding constants and its wording; this object alone knows the layout
  * they share:
  *
  *  - one `batch=<id>` dir per batch id, overwritten on re-delivery, so
  *    at-least-once replay of the same id is idempotent (ids are microbatch
  *    ids: a re-delivered id carries the same content);
  *  - `_params`, the founding constants as text, written by the first
  *    append that lands a batch; an append restating other constants fails
  *    before it writes, since sketches built under different constants do
  *    not merge;
  *  - `_horizon`, the id of the snapshot dir the last compaction folded
  *    every at-or-below batch into. A re-delivery of that id is a no-op
  *    (overwriting the snapshot with one raw batch would drop every other
  *    folded batch), and an id below it fails loudly instead of being
  *    silently double-counted. Ledgers compacted before the marker existed
  *    get the same refusal for an id below the oldest surviving dir.
  *
  * Compaction ([[compact]]) folds every at-or-below-`upTo` batch into one
  * snapshot under the NEWEST folded id, so the horizon stays visible as the
  * oldest surviving dir. The fold is staged in underscore-invisible
  * `_compact_tmp` (partition discovery skips it), the horizon marker is
  * written before anything is destroyed, then the survivor moves aside to
  * `_compact_old_<id>`, the staged fold takes its name, and the aside and
  * the other folded dirs are deleted. Every window holds a superset of the
  * mass, and the next call self-repairs a crashed one: an aside dir whose
  * survivor is missing is restored, any other aside dir and a stale
  * `_compact_tmp` are dropped. */
object Ledger {

  /** One ledger family: its `stats` kind, a snapshot column only it has
    * (the kind sniff), its founding constants' text form (compared by
    * `P`'s `==`), the refusal for a restated `P` (dir, founded, stated),
    * and its merge of the rows of several batch dirs into one snapshot of
    * the same columns (dir, rows). */
  final case class Family[P](kind: String, marker: String,
                             encode: P => String, decode: String => P,
                             refuse: (String, P, P) => String,
                             fold: (String, DataFrame) => DataFrame)

  /** The three families, in [[kindOf]]'s probe order. */
  lazy val Families: Seq[Family[_]] =
    Seq(Corpus.cardLedger, HistLedger.ledger, SampleLedger.ledger)

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def batchDir(dir: String, id: Long) = s"$dir/batch=$id"

  private def readText(spark: SparkSession, path: String): Option[String] = {
    val (fs, p) = (fsOf(spark, path), new Path(path))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }
  }

  private def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val out = fsOf(spark, path).create(new Path(path), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The `_params` text, or None before the ledger is founded. */
  def founding(spark: SparkSession, dir: String): Option[String] =
    readText(spark, s"$dir/_params")

  /** The founding constants of a `family` ledger, or None. */
  def params[P](spark: SparkSession, dir: String, family: Family[P]): Option[P] =
    founding(spark, dir).map(family.decode)

  /** The compaction horizon, or None before any compaction. */
  def horizon(spark: SparkSession, dir: String): Option[Long] =
    readText(spark, s"$dir/_horizon").map(_.toLong)

  /** The `batch=<id>` ids present under `dir`, ascending. */
  def batchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, p) = (fsOf(spark, dir), new Path(dir))
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).toSeq.sorted
  }

  /** The family of the ledger at `dir`, sniffed from the columns of its
    * oldest batch dir: None when it has no batch dir, a loud failure when
    * no family has those columns. */
  def kindOf(spark: SparkSession, dir: String): Option[Family[_]] =
    batchIds(spark, dir).headOption.map { id =>
      val cols = spark.read.parquet(batchDir(dir, id)).columns.toSet
      Families.find(f => cols.contains(f.marker)).getOrElse(
        throw new IllegalArgumentException(
          s"unrecognized ledger schema at '${batchDir(dir, id)}': $cols"))
    }

  /** Append one batch's `sketch` under `dir/batch=<batchId>`: refuse
    * constants other than the founding ones, no-op a re-delivery of the
    * horizon batch, refuse a replay below the horizon, write the batch
    * dir, found `_params` if the ledger has none, and compact everything
    * at or below `batchId - keepLast` when `keepLast >= 0`. The sketch is
    * built before anything is written, so an append its own sketch
    * refuses (bad geometry, a missing column) leaves the ledger as it
    * was. */
  def append[P](spark: SparkSession, dir: String, family: Family[P], stated: P,
                batchId: Long, keepLast: Int)(sketch: => DataFrame): Unit = {
    val founded = params(spark, dir, family)
    for (p <- founded) require(p == stated, family.refuse(dir, p, stated))
    val hz = horizon(spark, dir)
    if (hz.contains(batchId)) return
    def below(horizon: String) = new IllegalStateException(
      s"batch $batchId is below the ledger's compaction horizon ($horizon) — " +
        "replay only batches at or above the horizon, or compact with a " +
        "wider keepLast")
    for (h <- hz if batchId < h) throw below(h.toString)
    val existing = batchIds(spark, dir)
    if (existing.nonEmpty && !existing.contains(batchId) && batchId < existing.head)
      throw below(s"oldest surviving dir: batch ${existing.head}")
    sketch.coalesce(1).write.mode("overwrite").parquet(batchDir(dir, batchId))
    if (founded.isEmpty) writeText(spark, s"$dir/_params", family.encode(stated))
    if (keepLast >= 0) compact(spark, dir, family, batchId - keepLast)
  }

  /** Fold every batch dir at or below `upTo` into one snapshot under the
    * newest folded id (the class doc's staged protocol). A no-op on a
    * missing dir or with fewer than two dirs to fold, after repair. */
  def compact[P](spark: SparkSession, dir: String, family: Family[P],
                 upTo: Long): Unit = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(new Path(dir))) return
    def path(name: String) = new Path(s"$dir/$name")
    val tmp = path("_compact_tmp")
    Option(fs.globStatus(path("_compact_old_*"))).toSeq.flatten.foreach { s =>
      val survivor = path("batch=" + s.getPath.getName.stripPrefix("_compact_old_"))
      if (!fs.exists(survivor)) fs.rename(s.getPath, survivor)
      else fs.delete(s.getPath, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)

    val folded = batchIds(spark, dir).filter(_ <= upTo)
    if (folded.size <= 1) return
    val survivor = folded.max
    family.fold(dir, spark.read.parquet(folded.map(batchDir(dir, _)): _*))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    writeText(spark, s"$dir/_horizon", survivor.toString)
    fs.rename(path(s"batch=$survivor"), path(s"_compact_old_$survivor"))
    fs.rename(tmp, path(s"batch=$survivor"))
    fs.delete(path(s"_compact_old_$survivor"), true)
    folded.filter(_ < survivor).foreach(id => fs.delete(path(s"batch=$id"), true))
  }
}
