package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing score-DISTRIBUTION ledger: the [[Corpus.cardLedgerAppend]]
  * idea applied to histograms instead of distinct counts. A daily
  * 100 TB ingest loop needs "has the quality-score / doc-length / lang-id
  * distribution drifted from the corpus to date?" every batch — the
  * canary that catches a broken extractor or a poisoned source the row
  * counts can't see — but re-scanning history for its distribution costs
  * a full-corpus pass per day.
  *
  * Fixed-bucket histograms are EXACTLY mergeable (bucket counts add), so
  * the ledger stores one (group, bucket, cnt) row-set per batch under
  * `dir/batch=<id>` and every question answers from counts alone:
  * corpus-to-date histograms ([[merged]]), quantile brackets with error
  * bounded by one bucket width ([[quantiles]]), and a drift score
  * against an incoming batch ([[drift]]) — history is NEVER rescanned,
  * and the ledger read is (groups × buckets) rows × batches, metadata by
  * construction. Unlike the HLL card ledger, everything here is exact
  * integer arithmetic — the whole family is DuckDB-oracle-able
  * (q151–q153), not just tolerance-pinned.
  *
  * Store discipline: the [[Ledger]] protocol (per-batch dirs, horizon
  * guard, staged compaction). The bucketing geometry (`lo`, `hi`,
  * `nBuckets`) is the FOUNDING constant — histograms on different grids
  * cannot merge, so an append restating another grid fails loudly.
  *
  * Bucket rule ([[bucketOf]]): underflow → −1, `v >= hi` → nBuckets,
  * else `min(⌊(v−lo)/width⌋, nBuckets−1)` with `width = (hi−lo)/nBuckets`
  * — the `least` guard pins values within an ulp of `hi` to the last
  * real bucket, and the same IEEE expression replays bit-identically in
  * any engine.
  */
object HistLedger {

  /** The bucket index of `v` on the (lo, hi, nBuckets) grid; −1 and
    * nBuckets are the open under/overflow buckets. */
  def bucketOf(v: org.apache.spark.sql.Column, lo: Double, hi: Double,
               nBuckets: Int): org.apache.spark.sql.Column = {
    val width = (hi - lo) / nBuckets
    when(v < lo, lit(-1L))
      .when(v >= hi, lit(nBuckets.toLong))
      .otherwise(least(floor((v - lit(lo)) / lit(width)).cast("long"),
        lit(nBuckets - 1L)))
  }

  /** One batch's histogram: (group, bucket, cnt), null values dropped,
    * group cast to string (the ledger's key type, the card-ledger
    * convention). One narrow groupBy with map-side partials. */
  def sketch(batch: DataFrame, groupCol: String, valCol: String,
             lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    batch.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("group"),
        bucketOf(col(valCol).cast("double"), lo, hi, nBuckets).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge sketch frames by summing bucket counts — exact, associative,
    * idempotent only per-batch-dir (the overwrite discipline), which is
    * why replay overwrites rather than re-appends. */
  def mergedOf(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "nothing to merge")
    sketches.reduce(_ unionByName _)
      .groupBy(col("group"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Quantile BRACKETS from a merged histogram: per (group, q), the
    * first bucket where the cumulative count reaches ⌈q·total⌉, with its
    * value edges (`q_lo`/`q_hi`; null = the open under/overflow edge).
    * The true quantile is inside the bracket — error ≤ one bucket width,
    * the classic equi-width-histogram bound. The cumulative window is
    * keyed by group and bounded by nBuckets+2 rows — a constant, never
    * corpus-shaped. */
  def quantilesOf(merged: DataFrame, qs: Seq[Double],
                  lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    require(qs.nonEmpty, "qs must be non-empty")
    require(qs.forall(q => q > 0 && q <= 1), s"quantiles must be in (0,1], got $qs")
    import org.apache.spark.sql.expressions.Window
    val width = (hi - lo) / nBuckets
    val w = Window.partitionBy(col("group")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = merged.groupBy(col("group")).agg(sum(col("cnt")).as("_tot"))
    merged.withColumn("_cum", sum(col("cnt")).over(w))
      .join(tot, Seq("group"))
      .select(col("group"), col("bucket"), col("_cum"), col("_tot"),
        explode(typedLit(qs.distinct.sorted)).as("q"))
      .filter(col("_cum") >= ceil(col("q") * col("_tot")))
      .groupBy(col("group"), col("q"))
      .agg(min(col("bucket")).as("bucket"))
      .select(col("group"), col("q"), col("bucket"),
        when(col("bucket") === -1L, lit(null).cast("double"))
          .when(col("bucket") === nBuckets.toLong, lit(hi))
          .otherwise(lit(lo) + col("bucket") * lit(width)).as("q_lo"),
        when(col("bucket") === -1L, lit(lo))
          .when(col("bucket") === nBuckets.toLong, lit(null).cast("double"))
          .otherwise(lit(lo) + (col("bucket") + 1L) * lit(width)).as("q_hi"))
  }

  /** Total-variation distance between two sketch frames, per group:
    * `TV = ½ Σ_b |a_b/T_A − b_b/T_B|` — 0 for identical distributions,
    * 1 for disjoint support, and defined as 1.0 when a group exists on
    * only one side (a brand-new group IS maximal drift). Computed in
    * EXACT cross-multiplied integers — `Σ|a_b·T_B − b_b·T_A|` as
    * decimal(38,0) sums (counts × totals overflow int64 at corpus
    * scale) — with ONE double division at the end, so the score is
    * deterministic and oracle-able, immune to float summation order. */
  def tvDistance(a: DataFrame, b: DataFrame): DataFrame = {
    val ta = a.groupBy(col("group")).agg(sum(col("cnt")).as("_ta"))
    val tb = b.groupBy(col("group")).agg(sum(col("cnt")).as("_tb"))
    val tot = ta.join(tb, Seq("group"), "full_outer")
    val diffs = a.select(col("group"), col("bucket"), col("cnt").as("_ca"))
      .join(b.select(col("group"), col("bucket"), col("cnt").as("_cb")),
        Seq("group", "bucket"), "full_outer")
      .select(col("group"),
        coalesce(col("_ca"), lit(0L)).cast("decimal(19,0)").as("_ca"),
        coalesce(col("_cb"), lit(0L)).cast("decimal(19,0)").as("_cb"))
    val num = diffs.join(tot, Seq("group"))
      .groupBy(col("group"))
      .agg(sum(abs(col("_ca") * col("_tb").cast("decimal(19,0)")
        - col("_cb") * col("_ta").cast("decimal(19,0)"))).as("_num"))
    tot.join(num, Seq("group"), "left")
      .select(col("group"),
        when(col("_ta").isNull || col("_tb").isNull, lit(1.0))
          .otherwise(col("_num").cast("double")
            / (lit(2.0) * col("_ta").cast("double") * col("_tb").cast("double")))
          .as("tv_dist"))
  }

  // ---- the standing store ----

  /** The histogram ledger's [[Ledger.Family]]: the founding geometry as
    * its exact textual doubles `"lo hi n"`, so a restated geometry
    * compares by VALUE, not by bits-of-formatting; folded by summing
    * counts. */
  private[ops] val ledger = Ledger.Family[(Double, Double, Int)](
    "histledger", "bucket",
    { case (lo, hi, n) => s"$lo $hi $n" },
    { s => val a = s.split("\\s+"); (a(0).toDouble, a(1).toDouble, a(2).toInt) },
    { case (dir, (plo, phi, pn), (lo, hi, n)) =>
      s"histogram ledger at $dir was founded with geometry [$plo, $phi)×$pn; " +
        s"an append restating [$lo, $hi)×$n cannot merge — use the founding " +
        "geometry or a new ledger dir" },
    (_, rows) => mergedOf(Seq(rows)))

  /** The founding bucket geometry, or None for a store with no appends
    * yet. */
  def params(spark: SparkSession, dir: String): Option[(Double, Double, Int)] =
    Ledger.params(spark, dir, ledger)

  /** True once at least one batch dir exists — the founding test the
    * drift-gated ingest sink uses (a founding batch has no history to
    * drift against and must be admitted, or nothing ever founds). */
  def hasHistory(spark: SparkSession, dir: String): Boolean =
    Ledger.batchIds(spark, dir).nonEmpty

  /** Append one batch's histogram under the [[Ledger]] protocol: geometry
    * founded by the first append and enforced forever after; optional
    * `keepLast` compacts on the way out. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             groupCol: String, valCol: String, batchId: Long,
             lo: Double, hi: Double, nBuckets: Int,
             keepLast: Int = -1): Unit =
    Ledger.append(spark, dir, ledger, (lo, hi, nBuckets), batchId, keepLast)(
      sketch(batch, groupCol, valCol, lo, hi, nBuckets))

  /** Corpus-to-date histogram from the ledger alone: one sum per
    * (group, bucket) over per-batch counts — no data rescan. */
  def merged(spark: SparkSession, dir: String): DataFrame =
    mergedOf(Seq(spark.read.parquet(dir)))

  /** Corpus-to-date quantile brackets from the ledger alone. */
  def quantiles(spark: SparkSession, dir: String, qs: Seq[Double]): DataFrame = {
    val (lo, hi, n) = params(spark, dir).getOrElse(
      throw new IllegalStateException(s"no histogram ledger at $dir"))
    quantilesOf(merged(spark, dir), qs, lo, hi, n)
  }

  /** Drift gate: TV distance of an incoming batch against the corpus to
    * date, per group — ONE batch-sized scan plus a ledger read; the
    * geometry comes from the store, so the batch is bucketed on exactly
    * the grid history was. */
  def drift(spark: SparkSession, dir: String, batch: DataFrame,
            groupCol: String, valCol: String): DataFrame = {
    val (lo, hi, n) = params(spark, dir).getOrElse(
      throw new IllegalStateException(s"no histogram ledger at $dir"))
    tvDistance(merged(spark, dir), sketch(batch, groupCol, valCol, lo, hi, n))
  }

  /** Fold every batch dir at-or-below `upTo` into one summed snapshot
    * ([[Ledger.compact]]). Counts sum exactly, so estimates are invariant
    * across the fold. */
  def compact(spark: SparkSession, dir: String, upTo: Long): Unit =
    Ledger.compact(spark, dir, ledger, upTo)
}
