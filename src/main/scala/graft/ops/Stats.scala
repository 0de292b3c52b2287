package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distribution-based row filters: flag or drop rows whose metric is an
  * outlier within its group — the numeric cousin of the text quality
  * gates in [[TextAnalysis]] (drop anomalous event values, absurd
  * document lengths, corrupt sensor readings before they skew training).
  */
object Stats {

  /** Tukey-fence outliers per group: rows whose `valCol` falls outside
    * `[p25 − k·IQR, p75 + k·IQR]` of their `groupCol` group (k = 1.5 is
    * Tukey's classic fence).
    *
    * Quartiles are EXACT (`percentile`, linear interpolation — the q43
    * cross-engine semantics) so the fences are bit-identical across
    * engines: both engines sort the group, pick the same two neighbors,
    * and run the same IEEE interpolation/fence arithmetic. Exact
    * per-group percentiles sort each group's values; at 100 TB call
    * [[iqrOutliersApprox]] (bounded-memory rank sketch, same plan
    * shape) — fences move by the sketch error but the operator is
    * otherwise unchanged.
    *
    * Plan shape: one groupBy over the narrow (group, value) projection
    * producing a tiny per-group fence table (rows = groups), broadcast
    * back onto the fact scan — the data never shuffles, only the
    * fences do. */
  def iqrOutliers(df: DataFrame, groupCol: String, valCol: String,
                  k: Double = 1.5): DataFrame =
    iqrOutliersImpl(df, groupCol, valCol, k, accuracy = 0)

  /** [[iqrOutliers]] on `approx_percentile` — the SELECTABLE 100 TB
    * flavor (round-5 verdict #6): per-group quartiles come from a
    * bounded-memory rank sketch (state ∝ `accuracy`, ~accuracy values
    * per group) instead of the exact percentile's sort of each group's
    * full value list (state ∝ |group| — fine for gate-sized groups,
    * executor-memory-bound at 100 TB). Same plan shape; fences move by
    * at most the sketch's 1/accuracy rank error, so borderline rows near
    * a fence may flip — the tolerance spec quantifies it at sf0.01. */
  def iqrOutliersApprox(df: DataFrame, groupCol: String, valCol: String,
                        k: Double = 1.5, accuracy: Int = 10000): DataFrame = {
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    iqrOutliersImpl(df, groupCol, valCol, k, accuracy)
  }

  private def iqrOutliersImpl(df: DataFrame, groupCol: String, valCol: String,
                              k: Double, accuracy: Int): DataFrame = {
    val fences = df.groupBy(col(groupCol))
      .agg(pct(valCol, "0.25", accuracy).as("_p25"),
           pct(valCol, "0.75", accuracy).as("_p75"))
      .select(col(groupCol),
        (col("_p25") - lit(k) * (col("_p75") - col("_p25"))).as("_lo"),
        (col("_p75") + lit(k) * (col("_p75") - col("_p25"))).as("_hi"))
    df.join(broadcast(fences), Seq(groupCol))
      .filter(col(valCol) < col("_lo") || col(valCol) > col("_hi"))
      .drop("_lo", "_hi")
  }

  /** `percentile` (exact, accuracy = 0) or `approx_percentile` with the
    * given sketch accuracy. approx_percentile returns the value type
    * (not double) — cast so both flavors produce identical schemas. */
  private def pct(c: String, probs: String, accuracy: Int) = {
    val castTo = if (probs.startsWith("array")) "array<double>" else "double"
    if (accuracy <= 0) expr(s"percentile(`$c`, $probs)").cast(castTo)
    else expr(s"approx_percentile(`$c`, $probs, $accuracy)").cast(castTo)
  }

  /** Quartile scores 1–4 for each of `valCols`, appended as
    * `<col>_score`: `1 + (v > q25) + (v > q50) + (v > q75)` against the
    * column's own global quartiles — the building block of RFM-style
    * segmentation (score each metric by its distribution, not by fixed
    * thresholds).
    *
    * ONE tiny aggregate row holds every column's quartiles and is
    * broadcast onto the input — the data itself never shuffles, and the
    * scoring comparisons are codegen'd row-local predicates. Strict `>`
    * makes boundary rows deterministic: a value exactly equal to a
    * quartile takes the lower score in every engine. */
  def quartileScores(df: DataFrame, valCols: Seq[String]): DataFrame =
    quartileScoresImpl(df, valCols, accuracy = 0)

  /** [[quartileScores]] on `approx_percentile` (bounded-memory sketch;
    * see [[iqrOutliersApprox]] for the state-size argument). Scores of
    * rows whose value sits within the sketch's rank error of a quartile
    * may shift by one step; the tolerance spec bounds the disagreement
    * fraction at sf0.01. */
  def quartileScoresApprox(df: DataFrame, valCols: Seq[String],
                           accuracy: Int = 10000): DataFrame = {
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    quartileScoresImpl(df, valCols, accuracy)
  }

  private def quartileScoresImpl(df: DataFrame, valCols: Seq[String],
                                 accuracy: Int): DataFrame = {
    require(valCols.nonEmpty, "need at least one column to score")
    val qs = df.select(valCols.map(c =>
      pct(c, "array(0.25, 0.5, 0.75)", accuracy).as(s"_q_$c")): _*)
    val scored = valCols.foldLeft(df.crossJoin(broadcast(qs))) { (d, c) =>
      d.withColumn(s"${c}_score", lit(1)
        + (col(c) > element_at(col(s"_q_$c"), 1)).cast("int")
        + (col(c) > element_at(col(s"_q_$c"), 2)).cast("int")
        + (col(c) > element_at(col(s"_q_$c"), 3)).cast("int"))
    }
    scored.drop(valCols.map(c => s"_q_$c"): _*)
  }

  /** Equi-depth histogram: `k` buckets holding ~equal row counts, each
    * reported with its count and observed [lo, hi] — the data-profiling
    * primitive behind range-partition boundary picking and skew
    * diagnosis (an equi-WIDTH histogram collapses under heavy tails;
    * equi-depth adapts).
    *
    * Boundaries are the exact `(i/k)`-quantiles computed in one tiny
    * aggregate and broadcast; bucket assignment is `1 + Σ (v > qᵢ)` —
    * row-local, no global sort, no `ntile` window (an `ntile` over the
    * corpus is ONE partition at any scale). At 100 TB call
    * [[equiDepthHistogramApprox]] (same plan, sketch-bounded memory);
    * counts then wobble by the sketch error instead of being exactly
    * k-quantile splits. */
  def equiDepthHistogram(df: DataFrame, valCol: String, k: Int): DataFrame =
    equiDepthHistogramImpl(df, valCol, k, accuracy = 0)

  /** [[equiDepthHistogram]] on `approx_percentile` (bounded-memory
    * sketch; see [[iqrOutliersApprox]]). Bucket counts wobble by the
    * sketch's rank error instead of being exact k-quantile splits — the
    * documented "100 TB swap", now a call instead of a rewrite. */
  def equiDepthHistogramApprox(df: DataFrame, valCol: String, k: Int,
                               accuracy: Int = 10000): DataFrame = {
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    equiDepthHistogramImpl(df, valCol, k, accuracy)
  }

  private def equiDepthHistogramImpl(df: DataFrame, valCol: String, k: Int,
                                     accuracy: Int): DataFrame = {
    require(k >= 2, "need at least 2 buckets")
    val ps = (1 until k).map(i => i.toDouble / k)
    // drop nulls explicitly: percentile already ignores them, and a null
    // value would otherwise surface as a confusing null bucket row
    val vals = df.filter(col(valCol).isNotNull)
    val bounds = vals.select(
      pct(valCol, s"array(${ps.mkString(", ")})", accuracy).as("_bs"))
    vals.crossJoin(broadcast(bounds))
      .select(col(valCol).as("_v"),
        (lit(1) + ps.indices.map(i =>
          (col(valCol) > element_at(col("_bs"), i + 1)).cast("int")).reduce(_ + _)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("_v")), 2).as("lo"), round(max(col("_v")), 2).as("hi"))
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between a slice's and
    * the rest's distribution of `valCol`: `D = max_x |F_A(x) − F_B(x)|`
    * — the numeric drift gate next to [[graft.ops.Corpus.termDrift]]'s
    * text one (did a new crawl snapshot / filter change shift the length
    * or score distribution?).
    *
    * Bit-exact across engines by INTEGER arithmetic throughout:
    * `D = max |cA·nB − cB·nA| / (nA·nB)` where cA/cB are cumulative
    * counts at each distinct value — the max runs over exact int64
    * numerators, and the single IEEE division happens once at the end.
    * (The float form `max |cA/nA − cB/nB|` accumulates division
    * differences across engines at every step.)
    *
    * Scale shape: one groupBy on the value (map-side partials, output
    * VALUE-DOMAIN-sized), then the cumulative counts as a [[RangeScan]] of
    * the distinct-value table in value order: per-partition (ca, cb)
    * totals prefix-summed on the driver, each partition's CDF segment from
    * a window keyed by the partition id. A CONTINUOUS metric (quality
    * scores, losses: distinct values ≈ row count) stays multi-partition
    * instead of funneling the corpus through one task.
    *
    * Degenerate inputs return ZERO rows, not a null row: KS between an
    * empty sample and anything is undefined (the n_a·n_b denominator is
    * 0), and the all-null row Spark's global agg would produce disagrees
    * with a SQL GROUP BY oracle that yields no groups — so the operator
    * requires both samples non-empty and says so with an empty frame.
    *
    * Eager: the scan's collect runs at call time, and every action on the
    * result must run inside `scope` ([[RangeScan]]'s cache-lifetime
    * contract). Returns ONE row: (n_a, n_b, d_num, ks). */
  def ksDistance(df: DataFrame, valCol: String,
                 isA: org.apache.spark.sql.Column,
                 scope: CacheScope = CacheScope.noop): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    val scan = RangeScan(df.filter(col(valCol).isNotNull)
        .select(col(valCol).as("_v"), isA.as("_a"))
        .groupBy(col("_v"))
        .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_ca"),
          sum(when(col("_a"), 0L).otherwise(1L)).as("_cb")),
      "_pid", scope, None, Seq(col("_v")))
    val cells = scan.cells[(Long, Long)](col("_ca"), col("_cb"))
    val (na, nb) = RangeScan.totals(cells).getOrElse(None, (0L, 0L))
    if (na == 0L || nb == 0L)
      Seq.empty[(Long, Long, Long, Double)].toDF("n_a", "n_b", "d_num", "ks")
    else
      scan.withOffsets(cells, "_offa", "_offb")
        .withColumn("_cuma", scan.running(col("_ca"), inclusive = true) + col("_offa"))
        .withColumn("_cumb", scan.running(col("_cb"), inclusive = true) + col("_offb"))
        .withColumn("_dnum",
          abs(col("_cuma") * lit(nb) - col("_cumb") * lit(na)))
        .agg(max(col("_dnum")).as("d_num"))
        .select(lit(na).as("n_a"), lit(nb).as("n_b"), col("d_num"),
          (col("d_num").cast("double")
            / (lit(na) * lit(nb)).cast("double")).as("ks"))
  }

  /** Per-group score calibration: appends `<scoreCol>_cal` =
    * `percent_rank` of the score WITHIN its `groupCol` group — the
    * position of the row in its own group's score distribution, in
    * [0, 1].
    *
    * Why a pipeline needs it: quality scores are not comparable across
    * heterogeneous sources (a web-crawl dump's "0.6" and a curated
    * corpus's "0.6" mean different things — the distributions differ in
    * location and spread), so one global threshold over-prunes the harsh
    * source and under-prunes the lenient one. Rank-normalizing within
    * source first (the FineWeb/CCNet per-dump practice) makes "keep the
    * top 30 % of EACH source" a single global predicate `cal >= 0.7`.
    *
    * Rank calibration, not z-scores, deliberately: quality-signal
    * distributions are skewed and heavy-tailed, where mean/stddev are
    * dominated by the tail; percent_rank is distribution-free and lands
    * in [0,1] for every source.
    *
    * Scale shape: no per-group rank window (it would put each group
    * through ONE task, a mega-source exposure); ranks ride the DISTINCT
    * (group, score) tally table, not the rows. percent_rank of a row is
    * `(# strictly smaller scores in its group) / (n_g − 1)` — tie-stable
    * by construction — so the tally table (vocabulary-sized: one row per
    * distinct score per group) carries everything.
    * Cumulative tallies over it are a [[RangeScan]] grouped by group and
    * ordered by score: windows bounded by one partition's share of one
    * group. The corpus itself pays one groupBy and one equi-join on
    * (group, score); no task ever holds a whole group. The division
    * replays Spark's percent_rank bit-for-bit (same longs, one IEEE
    * division; singleton groups pin 0.0).
    *
    * Eager at call time; finish every action on the result inside `scope`
    * ([[RangeScan]]'s cache-lifetime contract). */
  def calibrateScores(df: DataFrame, groupCol: String, scoreCol: String,
                      scope: CacheScope = CacheScope.noop): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, FloatType, LongType}
    // float group keys: + 0.0 folds IEEE −0.0 into +0.0 BEFORE the string
    // cast ("−0.0" and "0.0" would otherwise split one group in two —
    // the window percent_rank this op replays partitions them together)
    val g = (df.schema(groupCol).dataType match {
      case DoubleType => col(groupCol) + lit(0.0d)
      case FloatType  => col(groupCol) + lit(0.0f)
      case _          => col(groupCol)
    }).cast("string")
    val scan = RangeScan(df
        .groupBy(g.as("_cs_g"), col(scoreCol).as("_cs_s"))
        .agg(count(lit(1)).as("_cs_n")),
      "_cs_pid", scope, Some(col("_cs_g")), Seq(col("_cs_s")))
    val cells = scan.cells[Long](col("_cs_n"))
    val totals = RangeScan.totals(cells)
    // strictly-before tally inside the cell plus the cell's group offset
    // = # scores strictly smaller in the group
    val ranks = scan.withCells(cells.map(c => c -> Seq(c.offset, totals(c.group))),
        "_cs_off" -> LongType, "_cs_tot" -> LongType)
      .withColumn("_cs_before",
        coalesce(scan.running(col("_cs_n"), inclusive = false), lit(0L)) + col("_cs_off"))
      .select(col("_cs_g"), col("_cs_s"),
        when(col("_cs_tot") > 1L,
          col("_cs_before").cast("double") / (col("_cs_tot") - 1L).cast("double"))
          .otherwise(lit(0.0)).as(s"${scoreCol}_cal"))
    df.join(ranks, g <=> col("_cs_g") && (col(scoreCol) <=> col("_cs_s")))
      .drop("_cs_g", "_cs_s")
  }

  /** Multi-signal quality ENSEMBLE — the mean of each signal's
    * within-group percentile rank ([[calibrateScores]] per column), the
    * rank-fusion ensemble (the reciprocal-rank-fusion family, Cormack et
    * al. 2009; percentile averaging is its dense-corpus form) that turns
    * N incomparable quality signals (length, fluency, repetition,
    * OOV…) into ONE [0,1] selection score. Why fuse ranks, not raw
    * scores: the signals live on unrelated scales and skewed
    * distributions, so any weighted sum of raw values is dominated by
    * whichever signal has the fattest tail; each signal's percentile is
    * distribution-free, and their mean weights every signal equally.
    * `ensemble_score >= t` then composes directly with
    * [[graft.ops.BudgetSelect]] ranking or a plain filter.
    *
    * Appends `<col>_cal` per signal plus `ensemble_score`. Determinism:
    * each calibrated rank replays percent_rank bit-for-bit
    * ([[calibrateScores]]'s contract), and the mean folds the `_cal`
    * columns in the CALLER-GIVEN column order — one IEEE sum of N
    * doubles in a fixed order, then one division — so the ensemble is
    * reproducible across engines and partitionings.
    *
    * Scale shape: one [[calibrateScores]] pass per signal — tallies and
    * offsets stay metadata-sized per its discipline; the rows pay one
    * (group, score)-keyed equi-join per signal (unavoidable: each
    * signal's rank key differs). No window ever sees a whole group.
    * Inherits calibrateScores' EAGER driver prefix sums and
    * cache-lifetime hazard — finish all actions inside the owning
    * `scope`. */
  def ensembleScore(df: DataFrame, groupCol: String, scoreCols: Seq[String],
                    scope: CacheScope = CacheScope.noop): DataFrame = {
    require(scoreCols.nonEmpty, "at least one score column required")
    // round 14: the scored input is cached — each signal's calibration
    // runs its own tally aggregation AND join-back over it, so an
    // expensive scored projection (q145 tokenizes the corpus for two of
    // its three signals) was re-evaluated once per signal per consumer
    val base = scope.track(df.cache())
    val calibrated = scoreCols.foldLeft(base)((acc, c) =>
      calibrateScores(acc, groupCol, c, scope))
    calibrated.withColumn("ensemble_score",
      scoreCols.map(c => col(s"${c}_cal")).reduce(_ + _)
        / lit(scoreCols.size.toDouble))
  }

  /** Per-group WEIGHTED lower quantiles: for each group and each `q` in
    * `qs`, the smallest value `v` such that the summed weight of rows at
    * or below `v` reaches `q` × the group's total weight.
    *
    * Why a pipeline needs it: corpus statistics that matter are usually
    * token-mass-weighted, not row-weighted — "half the TOKENS sit in
    * documents shorter than X" is a different (and more actionable)
    * number than the median document length, because a handful of
    * megadocs carry most of the mass. Weighted quantiles answer sizing
    * questions (context-window coverage, per-source token budgets,
    * shard balance) that `percentile`/`approx_percentile` — both
    * row-weighted — cannot.
    *
    * Exactness across engines: cumulative weights ride decimal(38,6)
    * (weights cast once; sums are exact far beyond corpus scale), and
    * the `q × total` thresholds are computed on the DRIVER with exact
    * BigDecimal arithmetic, then ceiling-rounded to the cum grid's
    * scale-6 — `cum >= ceil6(q·total)` is equivalent to the real-number
    * `cum >= q·total` because cums are scale-6 multiples, so the plan
    * contains a pure decimal COMPARE, no float arithmetic anywhere.
    * The exactness contract therefore covers weights REPRESENTABLE AT
    * SCALE 6 — integers (token counts, byte sizes: the intended use) and
    * fractions down to 1e-6. A fractional weight below ~5e-7 passes the
    * `> 0` filter but rounds to zero mass in the decimal cast; if you
    * have sub-micro weights, rescale them (quantiles are scale-free in
    * the weights) rather than expecting sub-scale-6 exactness.
    *
    * Scale shape: cumulative weights ride a [[RangeScan]] of the DISTINCT
    * (group, value) tally table, not the rows — windows bounded by one
    * partition's share of one group, so a dominant source cannot funnel
    * the sort through one task. Thresholds and offsets broadcast
    * (groups × qs rows). Rows with null or non-positive weight are
    * excluded (a ≤0 weight would break cum monotonicity); groups left with
    * no rows produce no output.
    *
    * Eager at call time (prefix sums + thresholds); finish every action on
    * the result inside `scope` ([[RangeScan]]'s cache-lifetime contract). */
  def weightedQuantiles(df: DataFrame, groupCol: String, valCol: String,
                        weightCol: String, qs: Seq[Double],
                        scope: CacheScope = CacheScope.noop): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    require(qs.nonEmpty, "qs must be non-empty")
    require(qs.forall(q => q > 0.0 && q <= 1.0), s"each q must be in (0, 1], got $qs")
    val sess = df.sparkSession
    import sess.implicits._
    // float group keys: fold IEEE −0.0 into +0.0 before the string cast
    // (the calibrateScores rule — one group must not split in two)
    val gFolded = df.schema(groupCol).dataType match {
      case DoubleType => col(groupCol) + lit(0.0d)
      case FloatType  => col(groupCol) + lit(0.0f)
      case _          => col(groupCol)
    }
    val g = gFolded.cast("string")
    val scan = RangeScan(df
        .filter(col(valCol).isNotNull && col(weightCol).isNotNull
          && col(weightCol) > lit(0))
        .groupBy(g.as("_wq_g"), col(valCol).as("_wq_v"))
        // the output label is the FOLDED key, not first(raw): a ±0.0 float
        // group folds into one group either way, but first() across
        // partitions would flap between the two sign representations
        // run-to-run — the folded value is the one deterministic
        // representative
        .agg(sum(col(weightCol).cast("decimal(38,6)")).as("_wq_w"),
          first(gFolded).as("_wq_orig")),
      "_wq_pid", scope, Some(col("_wq_g")), Seq(col("_wq_v")))
    implicit val weights: RangeScan.Sum[java.math.BigDecimal] =
      RangeScan.Sum.decimals(DecimalType(38, 6))
    val cells = scan.cells[java.math.BigDecimal](col("_wq_w"))
    // exact q·total per (group, q), ceiling-rounded onto the scale-6 cum
    // grid — preserves `cum >= q·total` exactly (see doc above)
    val thrRows = RangeScan.totals(cells).toSeq.flatMap { case (gv, total) =>
      qs.map { q =>
        val thr = total.multiply(new java.math.BigDecimal(q.toString))
          .setScale(6, java.math.RoundingMode.CEILING)
        (gv.orNull, q, BigDecimal(thr))
      }
    }
    val thrDf = broadcast(thrRows.toDF("_wq_tg", "q", "_wq_thr")
      .withColumn("_wq_thr", col("_wq_thr").cast("decimal(38,6)")))
    scan.withOffsets(cells, "_wq_off")
      .withColumn("_wq_cum", scan.running(col("_wq_w"), inclusive = true) + col("_wq_off"))
      .join(thrDf, (col("_wq_g") <=> col("_wq_tg")) && col("_wq_cum") >= col("_wq_thr"))
      .groupBy(col("_wq_g"), col("q"))
      .agg(min(col("_wq_v")).as("wq"), first(col("_wq_orig")).as("_wq_o2"))
      .select(col("_wq_o2").as(groupCol), col("q"), col("wq"))
  }

  /** Bounded-state approximation of [[weightedQuantiles]] for POSITIVE
    * values — the honest 100 TB flavor: values fold into logarithmic
    * bins (`binsPerOctave` per power of two), per-(group, bin) mass is
    * ONE groupBy over ≤ ~64·binsPerOctave bins per group (constant
    * aggregation state, map-side partials; the exact operator's tally
    * table is instead as large as the distinct-value set), and the
    * driver prefix-sums the kilobyte bin table. The reported quantile is
    * the UPPER edge of the bin holding the exact answer, so
    * `exact ≤ approx ≤ exact · 2^(1/binsPerOctave)` — a ≤ 9.1% one-sided
    * relative error at the default 8 bins/octave (spec-pinned against
    * the exact operator). Same null/non-positive-weight exclusions;
    * rows with `value ≤ 0` are rejected (no log bin) rather than
    * silently dropped.
    *
    * Returns (groupCol, q, wq double). Eager at call time. */
  def weightedQuantilesApprox(df: DataFrame, groupCol: String, valCol: String,
                              weightCol: String, qs: Seq[Double],
                              binsPerOctave: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    require(qs.nonEmpty, "qs must be non-empty")
    require(qs.forall(q => q > 0.0 && q <= 1.0), s"each q must be in (0, 1], got $qs")
    require(binsPerOctave >= 1, s"binsPerOctave must be >= 1, got $binsPerOctave")
    val spark = df.sparkSession
    val nNonPos = df.filter(col(valCol).isNotNull && col(valCol) <= 0)
      .limit(1).count()
    require(nNonPos == 0L,
      s"weightedQuantilesApprox: $valCol has non-positive values — log bins " +
        "need positive values (shift or use the exact weightedQuantiles)")
    val gFolded = df.schema(groupCol).dataType match {
      case DoubleType => col(groupCol) + lit(0.0d)
      case FloatType  => col(groupCol) + lit(0.0f)
      case _          => col(groupCol)
    }
    val cells = df
      .filter(col(valCol).isNotNull && col(weightCol).isNotNull
        && col(weightCol) > lit(0))
      .groupBy(gFolded.cast("string").as("_wqa_g"),
        floor(log2(col(valCol).cast("double")) * binsPerOctave).cast("long").as("_wqa_bin"))
      .agg(sum(col(weightCol).cast("decimal(38,6)")).as("_wqa_w"),
        first(gFolded).as("_wqa_orig"))
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getDecimal(2), r.get(3)))
    val rows = cells.groupBy(_._1).toSeq.flatMap { case (_, cs) =>
      val ordered = cs.sortBy(_._2)
      val total = ordered.map(_._3).foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      val orig = ordered.head._4
      qs.map { q =>
        val thr = total.multiply(new java.math.BigDecimal(q.toString))
        var cum = java.math.BigDecimal.ZERO
        val bin = ordered.collectFirst {
          case (_, b, w, _) if { cum = cum.add(w); cum.compareTo(thr) >= 0 } => b
        }.get
        org.apache.spark.sql.Row(orig, q,
          math.pow(2.0, (bin + 1).toDouble / binsPerOctave))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(groupCol, df.schema(groupCol).dataType),
      org.apache.spark.sql.types.StructField("q", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("wq", DoubleType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Column-level table profile — the data-doctor row a release/ingest
    * gate reads per column (the Deequ-style basics): row count, null
    * count, EXACT distinct count, and min/max rendered as strings (one
    * schema for every column type). One wide aggregate over the table —
    * Spark plans the multiple DISTINCT aggregates as a single pass with
    * an Expand (rows × |cols| intermediate, one shuffle); the result is
    * ONE row, collected (the 1-row scalar exception) and pivoted to a
    * row per column on the driver.
    *
    * At corpus scale the Expand's ×|cols| row multiplication is the
    * price of EXACT distincts; [[tableProfileApprox]] swaps them for
    * HLL sketches — constant agg state, no Expand, the 100 TB default.
    *
    * String rendering note: min/max are computed in the COLUMN's type
    * and cast to string after (casting first would rank "10" < "9").
    * Gate queries profile integer/string columns, where the rendering
    * is engine-exact; floating/decimal/timestamp columns profile fine
    * but their string forms are engine-specific. */
  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileCore(df, cols, exact = true)

  /** [[tableProfile]] with approximate distinct counts
    * (`approx_count_distinct`, HLL±~2%): constant aggregation state per
    * column and NO Expand — the shape that profiles 100 TB in one
    * shuffle-free-then-reduce pass. */
  def tableProfileApprox(df: DataFrame, cols: Seq[String]): DataFrame =
    profileCore(df, cols, exact = false)

  private def profileCore(df: DataFrame, cols: Seq[String],
                          exact: Boolean): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"_n_$c"),
        (if (exact) count_distinct(col(c))
         else approx_count_distinct(col(c))).as(s"_d_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"))
    }
    val r = df.agg(count(lit(1)).as("_total"), aggs: _*).head()
    val total = r.getAs[Long]("_total")
    val rows = cols.map { c =>
      org.apache.spark.sql.Row(c, total,
        total - r.getAs[Long](s"_n_$c"),
        r.getAs[Long](s"_d_$c"),
        r.getAs[String](s"_min_$c"),
        r.getAs[String](s"_max_$c"))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("col_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_nulls",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_distinct",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("min_val",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("max_val",
        org.apache.spark.sql.types.StringType)))
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(rows.asJava, schema)
  }
}
