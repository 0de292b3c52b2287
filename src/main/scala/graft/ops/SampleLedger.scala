package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing inspection-sample ledger: a deterministic uniform sample of
  * `k` rows per group over the corpus TO DATE, maintained incrementally —
  * the third leg of the ledger family ([[Corpus.cardLedgerAppend]]
  * counts distincts, [[HistLedger]] keeps distributions; this keeps the
  * rows a human actually looks at). Every data incident ends with
  * "show me 20 random documents from that source" — answering it with a
  * corpus scan at 100 TB costs a full pass exactly when the team is
  * firefighting; the ledger answers from kilobytes.
  *
  * The sample is bottom-k by a salted hash: rank = md5(seed|id), keep
  * the k smallest per group — a uniform without-replacement draw (ids
  * hash uniformly) that is DETERMINISTIC and, crucially, MERGEABLE:
  * bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)), so each batch
  * dir stores only the batch's own per-group bottom-k and reads re-rank
  * the union of survivors (≤ dirs × groups × k rows — metadata). Like
  * the HLL ledger — and unlike the histogram one — the fold is
  * content-idempotent: re-delivered content re-proposes the same
  * (hash, id) candidates and the bottom-k cannot change, so even a
  * double-append under two batch ids leaves the sample bit-identical.
  *
  * Store discipline: the [[Ledger]] protocol (per-batch dirs, horizon
  * guard, staged compaction into one snapshot of ≤ groups × k rows).
  * `k` and `seed` are FOUNDING constants, with the three column choices
  * (k=10 survivors cannot answer a k=20 read; a different seed is a
  * different permutation — neither merges).
  *
  * Ledger schema: (group string, id string, payload string) — the id
  * re-derives the rank (md5 is recomputable), the payload is whatever
  * single column the curator wants to SEE (text head, url, source).
  * Fully oracle-able: the salted-hash draw is the groupCap/q111
  * convention any engine replays.
  *
  * Scale shape: [[sketch]] rides [[TextAnalysis.groupCap]] — one shuffle
  * on the group key with the partial per-group top-k pushed BELOW the
  * exchange (`WindowGroupLimit`, k ≤ the 1000-row limit threshold), so a
  * skewed group never funnels through one task; everything after the
  * sketch is survivor-sized. */
object SampleLedger {

  /** One batch's contribution: the batch's own per-group bottom-k —
    * (group, id, payload), all strings (the ledger's uniform schema). */
  def sketch(batch: DataFrame, groupCol: String, idCol: String,
             payloadCol: String, k: Int,
             seed: String = "graft-sample"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    TextAnalysis.groupCap(
        batch.select(col(groupCol).cast("string").as("group"),
          col(idCol).cast("string").as("id"),
          col(payloadCol).cast("string").as("payload")),
        "group", "id", k, seed)
      .select(col("group"), col("id"), col("payload"))
  }

  /** Merge sketch frames: re-rank the union of survivors and keep the
    * global per-group bottom-k — exact by the bottom-k merge property.
    * Returns (group, id, payload, cap_rank). The input is survivor-sized
    * (≤ frames × groups × k rows), so the re-rank window is metadata. */
  def mergedOf(sketches: Seq[DataFrame], k: Int,
               seed: String = "graft-sample"): DataFrame = {
    require(sketches.nonEmpty, "nothing to merge")
    TextAnalysis.groupCap(
      sketches.reduce(_ unionByName _).distinct(), "group", "id", k, seed)
  }

  // ---- the standing store ----

  /** The ledger's founding constants. `k` and `seed` shape the draw
    * itself; the three COLUMN choices are founding too — a ledger whose
    * batch 0 sampled (lang, doc_id, source) and batch 1 (source, doc_id,
    * text) would still merge arithmetically but mean nothing. */
  final case class SampleParams(k: Int, seed: String, groupCol: String,
                                idCol: String, payloadCol: String)

  /** The sample ledger's [[Ledger.Family]]: [[SampleParams]] one constant
    * per line (seeds may contain spaces), folded by the bottom-k re-rank
    * under the founding `k` and `seed`. */
  private[ops] val ledger = Ledger.Family[SampleParams]("sampleledger", "payload",
    p => s"${p.k}\n${p.seed}\n${p.groupCol}\n${p.idCol}\n${p.payloadCol}",
    { s => val l = s.split("\n").map(_.trim)
      SampleParams(l(0).toInt, l(1), l(2), l(3), l(4)) },
    (dir, founded, stated) => s"sample ledger at $dir was founded with " +
      s"$founded; an append restating $stated cannot merge — use the " +
      "founding constants or a new ledger dir",
    (dir, rows) => mergedAt(dir, rows).select("group", "id", "payload"))

  /** The founding constants, or None before the first append. */
  def params(spark: SparkSession, dir: String): Option[SampleParams] =
    Ledger.params(spark, dir, ledger)

  /** Append one batch's bottom-k under the [[Ledger]] protocol — all five
    * constants founded by the first append and enforced forever after;
    * `keepLast` compacts on the way out. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             groupCol: String, idCol: String, payloadCol: String,
             batchId: Long, k: Int, seed: String = "graft-sample",
             keepLast: Int = -1): Unit =
    Ledger.append(spark, dir, ledger,
        SampleParams(k, seed, groupCol, idCol, payloadCol), batchId, keepLast)(
      sketch(batch, groupCol, idCol, payloadCol, k, seed))

  /** The bottom-k re-rank of ledger `rows` under the ledger's founding
    * `k` and `seed`. */
  private def mergedAt(dir: String, rows: DataFrame): DataFrame = {
    val p = params(rows.sparkSession, dir).getOrElse(
      throw new IllegalStateException(s"no sample ledger at $dir"))
    mergedOf(Seq(rows.select("group", "id", "payload")), p.k, p.seed)
  }

  /** The corpus-to-date sample from the ledger alone: re-rank survivors,
    * keep the global per-group bottom-k — no data rescan. Returns
    * (group, id, payload, cap_rank). */
  def merged(spark: SparkSession, dir: String): DataFrame =
    mergedAt(dir, spark.read.parquet(dir))

  /** Fold at-or-below-horizon dirs into one bottom-k snapshot
    * ([[Ledger.compact]]). The fold is exact by the bottom-k merge
    * property and idempotent on content. */
  def compact(spark: SparkSession, dir: String, upTo: Long): Unit =
    Ledger.compact(spark, dir, ledger, upTo)
}
