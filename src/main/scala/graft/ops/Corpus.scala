package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level term statistics: operators whose inputs are whole-corpus
  * aggregates (document frequency, corpus size), unlike the row-local
  * [[TextAnalysis]] columns.
  */
object Corpus {

  /** Okapi BM25 score of every document against a FIXED term list — the
    * retrieval scorer behind keyword-based corpus selection and
    * retrieval-shaped decontamination (score docs against benchmark
    * prompts, drop high scorers). Standard parameters k1 (term-frequency
    * saturation) and b (length normalization); idf is the
    * `ln((N − df + ½)/(df + ½) + 1)` Robertson–Spärck Jones form.
    *
    * Unlike [[tfidfTopTerm]] (linear idf, bit-exact), BM25's definition
    * IS logarithmic — the last-ulp libm differences across engines are
    * absorbed by rounding the emitted score (the [[graft.functions
    * .EntropyExprs]] q103 precedent), and the per-term partial scores are
    * summed in QUERY-TERM ORDER via fixed-order conditional aggregates,
    * never a partitioning-dependent float sum.
    *
    * Scale shape: tokens explode → filter to the broadcast term list
    * (the corpus shrinks to matching tokens BEFORE any shuffle) → one
    * (doc, term) count agg; df and the corpus length stats are
    * vocabulary-/1-row-sized broadcast frames. Returns one row per doc
    * with ≥ 1 matching term: (idCol, n_matched, bm25). */
  def bm25Score(docs: DataFrame, idCol: String, textCol: String,
                terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                roundTo: Int = 4,
                scope: CacheScope = CacheScope.noop): DataFrame = {
    require(terms.nonEmpty, "bm25Score needs at least one query term")
    // ONE corpus scan: project each doc to (length, matching tokens) and
    // cache that narrow frame — the length/count stats and the tf table
    // both read it, so the text is tokenized once. The cached rows carry
    // only the query terms' occurrences (duplicates kept for tf), a
    // vanishing fraction of corpus bytes for any real keyword list.
    val base = scope.track(Parallelize.ensure(
        docs.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"), TextAnalysis.tokens(col("_t")).as("_w"))
      .select(col("_id"), size(col("_w")).cast("long").as("_dl"),
        filter(col("_w"), t => t.isin(terms: _*)).as("_m"))
      .cache())
    val stats = base.agg(count(lit(1)).as("_n"), sum(col("_dl")).as("_sl"))
    val tf = base.select(col("_id"), col("_dl"), explode(col("_m")).as("_term"))
      .groupBy(col("_id"), col("_dl"), col("_term"))
      .agg(count(lit(1)).as("_tf"))
    val dfq = tf.groupBy(col("_term")).agg(count(lit(1)).as("_df"))
    val scored = tf.join(broadcast(dfq), Seq("_term"))
      .crossJoin(broadcast(stats))
      .withColumn("_avgdl", col("_sl").cast("double") / col("_n"))
      .withColumn("_idf",
        log((col("_n") - col("_df") + 0.5) / (col("_df") + 0.5) + 1.0))
      .withColumn("_s",
        col("_idf") * (col("_tf") * lit(k1 + 1.0)) /
          (col("_tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("_dl") / col("_avgdl"))))
    scored.groupBy(col("_id"))
      .agg(count(lit(1)).as("n_matched"),
        round(terms.map(t =>
            coalesce(max(when(col("_term") === lit(t), col("_s"))), lit(0.0)))
          .reduce(_ + _), roundTo).as("bm25"))
      .withColumnRenamed("_id", idCol)
  }

  /** Bigram collocation strength as LIFT — observed bigram probability
    * over the independence expectation:
    * `(c_ab/N_bigrams) / ((c_a/N_tokens) · (c_b/N_tokens))`. The linear
    * cousin of PMI (PMI = log₂ lift): same ranking, but exactly
    * reproducible across engines — see [[tfidfTopTerm]] for the
    * linear-vs-log rationale. The standard phrase-mining signal
    * (word2vec's phrase pass, n-gram vocabulary induction).
    *
    * Scale shape: two explode→count aggregations (map-side partials),
    * unigram counts joined back twice on the narrow term key, corpus
    * totals as broadcast 1-row frames. `minCount` prunes the bigram tail
    * BEFORE the joins — at corpus scale the join input shrinks from
    * O(distinct bigrams) to the phrases worth ranking. */
  def bigramLift(docs: DataFrame, textCol: String, minCount: Long,
                 scope: CacheScope = CacheScope.noop): DataFrame = {
    val base = Parallelize.ensure(docs.select(col(textCol).as("_t")))
    // both count tables are cached (vocabulary-sized) so their totals
    // derive from them instead of re-exploding the corpus — the naive
    // form paid FOUR corpus explodes (uni×2 for counts+total, big×2);
    // this one pays two, one per gram shape
    val uni = base.select(explode(TextAnalysis.tokens(col("_t"))).as("_w"))
      .filter(col("_w") =!= "")
    val uc = scope.track(uni.groupBy(col("_w")).agg(count(lit(1)).as("_c")).cache())
    val nUni = uc.agg(sum(col("_c")).as("_nu"))
    val big = base.select(explode(TextAnalysis.rawNgrams(col("_t"), 2)).as("_bg"))
    val bcAll = scope.track(big.groupBy(col("_bg")).agg(count(lit(1)).as("_cab")).cache())
    val bc = bcAll.filter(col("_cab") >= minCount)
    val nBig = bcAll.agg(sum(col("_cab")).as("_nb"))
    bc.withColumn("w1", element_at(split(col("_bg"), " "), 1))
      .withColumn("w2", element_at(split(col("_bg"), " "), 2))
      .join(uc.select(col("_w").as("w1"), col("_c").as("_c1")), Seq("w1"))
      .join(uc.select(col("_w").as("w2"), col("_c").as("_c2")), Seq("w2"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBig))
      .select(col("w1"), col("w2"), col("_cab").as("n_pair"),
        ((col("_cab") / col("_nb")) /
          ((col("_c1") / col("_nu")) * (col("_c2") / col("_nu")))).as("lift"))
  }

  /** Corpus-LM fluency signal: per document, the fraction of its word
    * bigrams that occur at least `minCount` times in the WHOLE corpus.
    * Garbled/boilerplate-free natural text scores high (its transitions
    * are common), shredded or machine-mangled text scores low — the
    * integer-exact cousin of the CCNet/Gopher perplexity filter. This
    * repo's linear-not-log convention (see [[tfidfTopTerm]]): counts are
    * exact integers and the score is ONE IEEE division, so results are
    * bit-identical across engines — a log-prob LM score would differ in
    * the last ulp per libm and break exact comparison.
    *
    * Scale shape: bigrams are hashed to 8-byte xxhash64 keys at the scan
    * (strings never shuffle — q21's discipline; counts collide only at
    * the 2⁻⁶⁴ hash level), counted with map-side partials, pruned to the
    * ≥ minCount survivors BEFORE the membership join, then one narrow-key
    * left join marks each document bigram and one groupBy(doc) folds the
    * flags. Three shuffles, all on 8-byte keys. Documents with fewer than
    * two tokens have no bigrams and produce no row. */
  def knownBigramRatio(docs: DataFrame, idCol: String, textCol: String,
                       minCount: Long,
                       scope: CacheScope = CacheScope.noop): DataFrame = {
    // (id, hash) stream cached: consumed by the known-count aggregation
    // AND the membership join — 16 bytes/row vs re-shingling the text
    val bg = scope.track(
      hashedBigrams(docs, idCol, textCol).select(col("_id"), col("_hb").as("_h"))
        .cache())
    knownBigramRatioOf(bg, idCol, minCount)
  }

  /** [[knownBigramRatio]] over a pre-exploded hashed-bigram stream `bg` =
    * (_id, _h) — the shared-explode entry point: one [[hashedBigrams]]
    * cache serves this op AND [[bigramLmScoreOf]] (SparkEntry's
    * docBigrams memo), so a multi-query run tokenizes the corpus once per
    * family instead of once per query. The caller owns `bg`'s caching —
    * it is consumed twice here. */
  def knownBigramRatioOf(bg: DataFrame, idCol: String,
                         minCount: Long): DataFrame = {
    val known = bg.groupBy(col("_h")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount)
      .select(col("_h"), lit(1L).as("_k"))
    bg.join(known, Seq("_h"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("_k"), lit(0L))).as("_nk"))
      .select(col("_id").as(idCol), col("n_bigrams"),
        (col("_nk").cast("double") / col("n_bigrams").cast("double")).as("known_ratio"))
  }

  /** Dataset card: the per-source summary table a corpus ships with —
    * document/token/char volumes, language spread, and the exact-dup rate
    * (1 − distinct-content/docs, the q13 fingerprint diagnostic rolled
    * up). The first artifact anyone asks for before mixing a source into
    * a training run, and the cheapest: ONE groupBy on the source key.
    *
    * Scale shape: token/char counts are row-local columns folded with
    * map-side partials; the two DISTINCT aggregates (languages, content
    * fingerprints) make Spark plan an Expand (3 rows per input — narrow,
    * metadata-width) feeding the same single source-key shuffle. Content
    * identity is md5 (deletion-adjacent diagnostic, q85's discipline).
    * All counts integer; `dup_frac` is the one IEEE division. At 100 TB
    * swap the fingerprint distinct for `approx_count_distinct` (HLL,
    * bounded memory) — the card is a diagnostic, the 2% error is free;
    * the exact form here keeps the oracle gate exact. */
  def datasetCard(docs: DataFrame, groupCol: String, textCol: String,
                  langCol: String): DataFrame =
    docs.select(col(groupCol).as("source"), col(langCol).as("_lang"),
        TextAnalysis.tokenCount(col(textCol)).as("_nt"),
        length(col(textCol)).cast("long").as("_nc"),
        md5(col(textCol)).as("_fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("n_tokens"),
        sum(col("_nc")).as("n_chars"),
        count_distinct(col("_lang")).as("n_langs"),
        count_distinct(col("_fp")).as("n_distinct"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_distinct")).cast("double") / col("n_docs").cast("double"))

  /** [[datasetCard]]'s bounded-memory sibling — the honest 100 TB path:
    * the exact card's `count_distinct(fingerprint)` holds every distinct
    * md5 in aggregation state (fine at gate scale, corpus-sized at
    * 100 TB), while this one rides HyperLogLog++ sketches
    * (`approx_count_distinct`, default rsd 5 %) and a KLL-style quantile
    * sketch (`percentile_approx`) — per-group state is CONSTANT
    * (kilobytes) regardless of corpus size, sketches merge map-side, and
    * the one shuffle carries sketch buffers, not value sets. Counts and
    * sums stay exact (they always were constant-state).
    *
    * Adds token-length p50/p90 (the packing/truncation planning numbers)
    * — affordable here precisely because the sketch is bounded.
    * Deliberately NOT oracle-able: HLL/KLL estimates are
    * implementation-defined, so it is pinned by a tolerance spec against
    * the exact card (the [[graft.functions.DeflateRatio]] evidence
    * discipline). */
  def datasetCardApprox(docs: DataFrame, groupCol: String, textCol: String,
                        langCol: String, rsd: Double = 0.05): DataFrame =
    docs.select(col(groupCol).as("source"), col(langCol).as("_lang"),
        TextAnalysis.tokenCount(col(textCol)).as("_nt"),
        length(col(textCol)).cast("long").as("_nc"),
        md5(col(textCol)).as("_fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("n_tokens"),
        sum(col("_nc")).as("n_chars"),
        approx_count_distinct(col("_lang"), rsd).as("n_langs"),
        approx_count_distinct(col("_fp"), rsd).as("n_distinct"),
        percentile_approx(col("_nt"), lit(0.5), lit(10000)).as("p50_tokens"),
        percentile_approx(col("_nt"), lit(0.9), lit(10000)).as("p90_tokens"))
      .withColumn("dup_frac",
        greatest(col("n_docs") - col("n_distinct"), lit(0L)).cast("double")
          / col("n_docs").cast("double"))

  /** [[datasetCard]] plus the TOKEN-MASS document-length quantiles
    * (round-8 verdict #7): `p50_tokens_mass` / `p90_tokens_mass` are the
    * smallest doc length (in tokens) at which the source's cumulative
    * TOKEN mass reaches 50% / 90% — "half the tokens sit in docs shorter
    * than X". That is the number a context-window or packing decision
    * actually needs: the row-weighted medians in [[datasetCardApprox]]
    * say where the typical DOCUMENT is, but a handful of megadocs carry
    * most of the mass, and it's mass a token budget buys.
    *
    * One cached narrow projection (the token-count scan is the cost)
    * feeds both the card aggregate and the weighted-quantile tally;
    * the quantile frames are groups×2 rows and broadcast back onto the
    * card. Zero-token docs are counted in the card but carry no mass.
    * Eager at call time ([[graft.ops.Stats.weightedQuantiles]]'s driver
    * prefix sums); finish actions before `scope` closes. The bounded-
    * state approx flavor at 100 TB is
    * [[graft.ops.Stats.weightedQuantilesApprox]] over the same columns
    * (spec-pinned tolerance, the [[datasetCardApprox]] discipline). */
  def datasetCardWeighted(docs: DataFrame, groupCol: String, textCol: String,
                          langCol: String,
                          scope: CacheScope = CacheScope.noop): DataFrame = {
    val base = scope.track(docs.select(col(groupCol).as("source"),
        col(langCol).as("_lang"),
        TextAnalysis.tokenCount(col(textCol)).as("_nt"),
        length(col(textCol)).cast("long").as("_nc"),
        md5(col(textCol)).as("_fp")).cache())
    val card = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("n_tokens"),
        sum(col("_nc")).as("n_chars"),
        count_distinct(col("_lang")).as("n_langs"),
        count_distinct(col("_fp")).as("n_distinct"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_distinct")).cast("double") / col("n_docs").cast("double"))
    val wq = Stats.weightedQuantiles(base, "source", "_nt", "_nt",
      Seq(0.5, 0.9), scope)
    card
      .join(broadcast(wq.filter(col("q") === 0.5)
        .select(col("source"), col("wq").as("p50_tokens_mass"))), Seq("source"), "left")
      .join(broadcast(wq.filter(col("q") === 0.9)
        .select(col("source"), col("wq").as("p90_tokens_mass"))), Seq("source"), "left")
  }

  /** Count–min-sketch watchlist counting: estimated corpus frequency for
    * each term of a given CANDIDATE list, from ONE pass with CONSTANT
    * aggregation state — the third sketch next to the dataset card's HLL
    * and KLL. The exact path (explode → groupBy term) shuffles the whole
    * distinct-term table; the sketch path's state is the fixed
    * `d×w` counter array (Cormode–Muthukrishnan: w = ⌈e/ε⌉, d =
    * ⌈ln(1/δ)⌉), merged map-side like any typed aggregate. Use when the
    * question is "how often do THESE terms occur" (watchlist, blocklist,
    * probe vocabulary) over a corpus too large to justify a full term
    * count — the estimate never undercounts, and overcounts by at most
    * ε·N tokens with probability 1−δ.
    *
    * Estimation probes the merged sketch once on the driver (it is
    * kilobytes); the corpus never shuffles. Honestly not oracle-able —
    * the sketch layout is implementation-defined — so the gate is a
    * tolerance spec against exact counts, the [[datasetCardApprox]]
    * discipline. */
  def cmsWatchlistCounts(docs: DataFrame, textCol: String,
                         watchlist: Seq[String], eps: Double = 0.001,
                         confidence: Double = 0.99,
                         seed: Int = 42): Seq[(String, Long)] = {
    require(watchlist.nonEmpty, "watchlist must be non-empty")
    val sketchBytes = Parallelize.ensure(docs.select(col(textCol).as("_t")))
      .select(explode(TextAnalysis.tokens(col("_t"))).as("_term"))
      .agg(count_min_sketch(col("_term"), lit(eps), lit(confidence), lit(seed))
        .as("_cms"))
      .collect()(0).getAs[Array[Byte]](0)
    if (sketchBytes == null) watchlist.map(_ -> 0L)   // empty corpus
    else {
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(sketchBytes))
      watchlist.map(t => t -> cms.estimateCount(t))
    }
  }

  /** One batch's contribution to the standing distinct-count ledger: a
    * DataSketches HLL sketch of `valueCol` per group (2^lgK bytes,
    * mergeable). See [[cardLedgerAppend]] for the ledger discipline. */
  def cardLedgerSketch(batch: DataFrame, groupCol: String, valueCol: String,
                       lgK: Int = 12): DataFrame =
    batch.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("group"))
      .agg(hll_sketch_agg(col(valueCol), lgK).as("sketch"))

  /** Standing distinct-count ledger (round-8): the incremental sibling of
    * [[datasetCardApprox]]'s one-shot HLL counts. A daily 100 TB loop
    * needs "distinct fingerprints / tokens per source, corpus-to-date"
    * every batch, but re-aggregating history for it costs a full-corpus
    * pass per day. HLL sketches are MERGEABLE (union of per-batch
    * sketches ≡ sketch of the unioned data — the DataSketches set
    * property), so the ledger stores one (group, sketch) row-set per
    * batch and [[cardLedgerEstimate]] answers from sketch bytes alone:
    * per-batch cost rides the batch, history is NEVER rescanned, and the
    * ledger read is kilobytes × batches × groups. The batch dirs, replay
    * guards and compaction are the [[Ledger]] protocol.
    *
    * HLL union is itself idempotent (unioning a sketch with itself
    * changes nothing), so even a DOUBLE-append of identical content under
    * two batch ids cannot inflate the estimate. `lgK` is the founding
    * constant: unions reject mismatched lgK rather than silently degrade
    * to the coarser sketch, so an append restating another lgK fails
    * before it writes (a ledger from before `_params` founds it on its
    * next append).
    *
    * Honestly not oracle-able (estimates are implementation-defined);
    * pinned by tolerance specs against exact distincts, the
    * [[datasetCardApprox]] discipline. */
  def cardLedgerAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
                       batch: DataFrame, groupCol: String, valueCol: String,
                       batchId: Long, lgK: Int = 12, keepLast: Int = -1): Unit =
    Ledger.append(spark, dir, cardLedger, lgK, batchId, keepLast)(
      cardLedgerSketch(batch, groupCol, valueCol, lgK))

  /** The card ledger's [[Ledger.Family]]: founding `lgK`, folded by HLL
    * union (register-wise max — associative, so estimates are invariant
    * across a compaction). */
  private[ops] val cardLedger = Ledger.Family[Int]("cardledger", "sketch",
    _.toString, _.toInt,
    (dir, founded, stated) => s"card ledger at $dir was founded with lgK " +
      s"$founded; an append restating lgK $stated cannot merge (HLL unions " +
      "reject mixed lgK) — use the founding lgK or a new ledger dir",
    (_, rows) => rows.groupBy(col("group"))
      .agg(hll_union_agg(col("sketch")).as("sketch")))

  /** Corpus-to-date distinct estimates from the ledger alone: one union
    * per group over per-batch sketch bytes — no data rescan. Returns
    * (group, distinct_est). */
  def cardLedgerEstimate(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(col("group"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("distinct_est"))

  /** Fold every ledger dir at-or-below `upTo` into ONE snapshot dir
    * ([[Ledger.compact]]): without it a year of 1-minute batches is
    * ~500 k parquet dirs LISTED per estimate. Unlike an offset ledger, old
    * records here can't just be deleted — their sketches carry distinct
    * mass — but HLL union makes the fold exact. */
  def cardLedgerCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
                        upTo: Long): Unit =
    Ledger.compact(spark, dir, cardLedger, upTo)

  /** Smoothed bigram-LM fluency score: for each document, the mean
    * add-one-smoothed conditional transition probability of its word
    * bigrams under a LM trained on the whole corpus —
    * `p̂(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V)`, where `c(w₁·)` is the count
    * of bigrams STARTING with w₁ (the conditional-MLE denominator) and V
    * the bigram-stream vocabulary. This is [[knownBigramRatio]]'s
    * grown-up sibling: instead of a binary known/unknown flag per
    * transition, each transition contributes its actual corpus
    * probability, so the score separates "common transitions" from
    * "merely attested" ones — the CCNet/Gopher perplexity-filter signal.
    *
    * The linear-not-log convention (see [[tfidfTopTerm]]): perplexity's
    * geometric mean needs logs, whose last-ulp libm differences break
    * exact cross-engine comparison, so the transition probabilities are
    * micro-scaled to exact integers — `q(b) = ⌊10⁶·(c_b+1)/(c(w₁·)+V)⌋`,
    * one int64 product and one TRUE integral division (SQL `div`) —
    * summed exactly, with ONE IEEE division per document at the end.
    * Ranking differs from true perplexity only in arithmetic-vs-
    * geometric aggregation. Int64 exact while the hottest bigram's count
    * stays under 2⁶³/10⁶ ≈ 9·10¹²; beyond that lift to decimal(38,0).
    *
    * Scale shape — TWO corpus passes, everything else vocabulary-sized:
    * bigram pairs come straight off the token array as (w1, w2) structs
    * (exploding pre-joined "w1 w2" strings and re-splitting doubled the
    * per-row string work, measured on 8×-replay), hashed to 8-byte keys
    * at the scan. ONE cached groupBy(bigram-hash) count table carries
    * `max` of both word hashes, so the leading-word totals (`c(w₁·)` =
    * sum of bigram counts by first word) and the vocabulary scalar both
    * derive from it WITHOUT re-reading the corpus — the naive
    * formulation re-exploded the corpus four times (measured: zero
    * exchange reuse). One narrow-key join back onto the per-doc stream,
    * one groupBy(doc) fold. Returns (idCol, n_bigrams, p_micro);
    * documents with fewer than two tokens produce no row. */
  /** The hashed bigram stream shared by the corpus-LM family: one row per
    * positional word bigram, 24 bytes wide, text left behind at the scan —
    * `_hb` hashes the joined "w1 w2" string (so it equals `xxhash64` of
    * [[TextAnalysis.rawNgrams]](text, 2) elements), `_h1`/`_h2` hash the
    * endpoints. [[bigramLmScoreOf]] consumes all three columns,
    * [[knownBigramRatioOf]] just (_id, _hb); cache ONE of these per
    * session (SparkEntry's docBigrams memo) and the whole family explodes
    * the corpus once. The interpreted pair-transform is the dominant
    * per-row cost (measured on 8×-replay), which is exactly why it should
    * run once, not once per query. */
  def hashedBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = Parallelize.ensure(
      docs.select(col(idCol).as("_id"), col(textCol).as("_t")))
    val w = TextAnalysis.tokens(col("_t"))
    val pairs = when(size(w) >= 2,
      transform(sequence(lit(0), size(w) - 2),
        i => struct(element_at(w, i + 1).as("w1"), element_at(w, i + 2).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    base.select(col("_id"), explode(pairs).as("_p"))
      .select(col("_id"),
        xxhash64(concat_ws(" ", col("_p.w1"), col("_p.w2"))).as("_hb"),
        xxhash64(col("_p.w1")).as("_h1"), xxhash64(col("_p.w2")).as("_h2"))
  }

  /** Distinct-n-gram diversity census: per (group, n) the total n-gram
    * mass, the distinct n-gram count, and their ratio — the standard
    * corpus diversity report (distinct-1/2/3 of the generation-diversity
    * literature, Li et al. 2016 "A Diversity-Promoting Objective
    * Function"). Read it per source before mixing: a source whose
    * distinct-2 ratio sits far below its peers is template/boilerplate
    * mass that token counts alone cannot see, and the per-n slope
    * (how fast the ratio climbs from 1-grams to 3-grams) separates
    * small-vocabulary-but-fresh text from literal repetition.
    *
    * Scale shape: the TOTAL side never materializes a gram — per-doc
    * n-gram mass is `max(len − n + 1, 0)`, row-local arithmetic off the
    * token count. Only the DISTINCT side explodes, and it explodes the
    * per-doc DISTINCT shingle arrays ([[graft.functions.ShingleExprs]]'
    * native single-pass expression, the q19/q45 machinery), so
    * within-doc repetition is collapsed before the shuffle; the
    * count_distinct then shuffles 8-byte xxhash64 gram hashes, never the
    * gram strings (the q21 discipline — counts identical up to 2⁻⁶⁴
    * collisions). Distinct-class state grows with distinct CONTENT, not
    * corpus size. Returns (groupCol, n, n_total, n_distinct,
    * distinct_ratio) — ratio null when the group has no n-gram mass. */
  def ngramDiversity(docs: DataFrame, groupCol: String, textCol: String,
                     ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "n-gram orders must be >= 1")
    val base = Parallelize.ensure(
      docs.select(col(groupCol).as("_g"), col(textCol).as("_t")))
    // token count including empty tokens — the split()/NGramShingles
    // tokenization (empty text = one empty token), so totals and the
    // n=1 gram universe agree with the shingle expression bit-for-bit
    val nTok = size(TextAnalysis.tokens(col("_t")))
    val totals = base
      .select(col("_g"), explode(array(ns.map { n =>
        struct(lit(n).as("_n"),
          greatest(nTok - (n - 1), lit(0)).cast("long").as("_c"))
      }: _*)).as("_s"))
      .groupBy(col("_g"), col("_s._n").as("_n"))
      .agg(sum(col("_s._c")).as("n_total"))
    val grams = base
      .select(col("_g"), explode(flatten(array(ns.map { n =>
        transform(graft.functions.ShingleExprs.ngramShingles(col("_t"), n),
          g => struct(lit(n).as("_n"), xxhash64(g).as("_h")))
      }: _*))).as("_s"))
      .groupBy(col("_g"), col("_s._n").as("_n"))
      .agg(count_distinct(col("_s._h")).as("n_distinct"))
    totals.join(grams, Seq("_g", "_n"), "left")
      .select(col("_g").as(groupCol), col("_n").as("n"),
        col("n_total"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(col("n_total") > 0,
          round(coalesce(col("n_distinct"), lit(0L)) /
            col("n_total"), 6)).as("distinct_ratio"))
  }

  /** [[ngramDiversity]]'s sketch flavor — the 100-TB shape. The exact
    * census's distinct-class state grows with distinct CONTENT (billions
    * of distinct grams per big group); `approx_count_distinct` (HLL++)
    * buffers O(1/rsd²) per (group, n) regardless, the
    * [[graft.ops.Stats]] tableProfileApprox discipline. Totals stay
    * EXACT (they were arithmetic all along); only the distinct column
    * and the ratio inherit the sketch's relative error. Same schema as
    * the exact flavor; tolerance-spec'd against it, not oracled (HLL
    * estimates are engine-specific). */
  def ngramDiversityApprox(docs: DataFrame, groupCol: String, textCol: String,
                           ns: Seq[Int] = Seq(1, 2, 3),
                           rsd: Double = 0.05): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "n-gram orders must be >= 1")
    val base = Parallelize.ensure(
      docs.select(col(groupCol).as("_g"), col(textCol).as("_t")))
    val nTok = size(TextAnalysis.tokens(col("_t")))
    val totals = base
      .select(col("_g"), explode(array(ns.map { n =>
        struct(lit(n).as("_n"),
          greatest(nTok - (n - 1), lit(0)).cast("long").as("_c"))
      }: _*)).as("_s"))
      .groupBy(col("_g"), col("_s._n").as("_n"))
      .agg(sum(col("_s._c")).as("n_total"))
    val grams = base
      .select(col("_g"), explode(flatten(array(ns.map { n =>
        transform(graft.functions.ShingleExprs.ngramShingles(col("_t"), n),
          g => struct(lit(n).as("_n"), xxhash64(g).as("_h")))
      }: _*))).as("_s"))
      .groupBy(col("_g"), col("_s._n").as("_n"))
      .agg(approx_count_distinct(col("_s._h"), rsd).as("n_distinct"))
    totals.join(grams, Seq("_g", "_n"), "left")
      .select(col("_g").as(groupCol), col("_n").as("n"),
        col("n_total"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(col("n_total") > 0,
          round(coalesce(col("n_distinct"), lit(0L)) /
            col("n_total"), 6)).as("distinct_ratio"))
  }

  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                    scope: CacheScope = CacheScope.noop): DataFrame = {
    // the hashed bigram stream (text left behind) feeds the count table
    // AND the per-doc score join — cache it so the corpus is exploded ONCE
    val bg = scope.track(hashedBigrams(docs, idCol, textCol).cache())
    bigramLmScoreOf(bg, idCol, scope)
  }

  /** [[bigramLmScore]] over a pre-exploded [[hashedBigrams]] stream the
    * caller owns (and should have cached — it is consumed twice here on
    * top of the count-table build). */
  def bigramLmScoreOf(bg: DataFrame, idCol: String,
                      scope: CacheScope = CacheScope.noop): DataFrame = {
    // _h1/_h2 are functions of _hb (same bigram string), so max() just
    // picks the value; carrying them makes every later table derivable
    // from this ONE vocabulary-sized frame
    val bc = scope.track(bg.groupBy(col("_hb"))
      .agg(count(lit(1)).as("_cb"), max(col("_h1")).as("_h1"),
        max(col("_h2")).as("_h2")).cache())
    val lead = bc.groupBy(col("_h1")).agg(sum(col("_cb")).as("_c1"))
    val vocab = bc.select(explode(array(col("_h1"), col("_h2"))).as("_h"))
      .agg(count_distinct(col("_h")).as("_v"))
    val num = lit(1000000L) * (col("_cb") + 1L)
    val den = col("_c1") + col("_v")
    bg.select(col("_id"), col("_hb"))
      .join(bc.select(col("_hb"), col("_cb"), col("_h1")), Seq("_hb"))
      .join(lead, Seq("_h1"))
      .crossJoin(broadcast(vocab))
      .withColumn("_num", num).withColumn("_den", den)
      .select(col("_id"), expr("_num div _den").as("_q"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_q")).as("_sq"))
      .select(col("_id").as(idCol), col("n_bigrams"),
        (col("_sq").cast("double") / col("n_bigrams").cast("double")).as("p_micro"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, Data Selection via
    * Importance Resampling): score every document by how much more likely
    * its unigrams are under a TARGET distribution (the rows where
    * `isTarget` holds — a trusted high-quality slice) than under the full
    * corpus, with add-one smoothing on both sides. Documents scoring high
    * are "target-like" and get resampled into the training mix; compose
    * with [[graft.ops.BudgetSelect]] (rank by the weight) or
    * `TextAnalysis.hashSplit` for the actual selection pass.
    *
    * This repo's linear-not-log convention (see [[tfidfTopTerm]]): the
    * paper's log-likelihood-ratio feature is replaced by the per-token
    * MICRO-SCALED LINEAR ratio
    * `q(w) = ⌊10⁶ · p̂_target(w) / p̂_corpus(w)⌋`, computed entirely in
    * int64 (`(10⁶·(ct+1)·(Ts+V)) div ((cs+1)·(Tt+V))` — exact integer
    * products, one integer division), so per-doc sums are order-
    * independent exact integers and the final per-doc mean is ONE IEEE
    * division — bit-identical across engines. Rankings agree with the
    * log form whenever per-token ratios agree in order (monotone map);
    * the mean-of-ratios vs mean-of-logs aggregation difference is the
    * price of exact reproducibility. Int64 bound: the product
    * `(ct+1)·(Ts+V)` must stay under 2⁶³/10⁶ ≈ 9·10¹² — corpus total
    * TIMES the hottest target-token count, which a ~10⁹-token corpus
    * with a frequent target token already exceeds. Beyond it lift the
    * factors to decimal(38,0) — same plan shape, Spark and DuckDB both
    * compute 128-bit exact.
    *
    * Scale shape: tokens collapse to 8-byte xxhash64 keys at the scan
    * (strings never shuffle — q21's discipline); ONE groupBy(hash) counts
    * target and corpus occurrences together (map-side partials) and is
    * CACHED — it is vocabulary-sized, and both its consumers (the totals
    * row and the per-token score join) would otherwise re-explode the
    * whole corpus (measured: zero exchange reuse, the subtrees differ).
    * Two corpus passes total: one builds the counts, one streams tokens
    * into the score join. The corpus totals (Ts, Tt, V) are a broadcast
    * 1-row frame; one groupBy(doc) folds exact integer sums. A hash
    * collision merges two tokens' counts on BOTH sides of the ratio —
    * the 2⁻⁶⁴ risk the repo accepts everywhere.
    *
    * Returns (idCol, n_tokens, lr_micro): the mean micro-ratio, ~10⁶ for
    * corpus-average documents, higher for target-like ones. Documents
    * with no non-empty token produce no row. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: org.apache.spark.sql.Column,
                  scope: CacheScope = CacheScope.noop): DataFrame = {
    // hashed token stream cached (17 bytes/row): consumed by the count
    // build and the score join — one corpus explode, not two
    val toks = scope.track(Parallelize.ensure(
        docs.select(col(idCol).as("_id"), col(textCol).as("_t"), isTarget.as("_tgt")))
      .select(col("_id"), col("_tgt"), explode(TextAnalysis.tokens(col("_t"))).as("_w"))
      .filter(col("_w") =!= "")
      .select(col("_id"), col("_tgt"), xxhash64(col("_w")).as("_h"))
      .cache())
    dsirWeightsOf(toks, idCol, scope)
  }

  /** [[dsirWeights]] over a pre-exploded hashed token stream `toks` =
    * (_id, _tgt, _h) the caller owns (and should have cached — consumed
    * by the count build and the score join; SparkEntry's docToks memo
    * shares one explode across the corpus-LM family). */
  def dsirWeightsOf(toks: DataFrame, idCol: String,
                    scope: CacheScope = CacheScope.noop): DataFrame = {
    val counts = scope.track(toks.groupBy(col("_h"))
      .agg(count(lit(1)).as("_cs"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("_ct")).cache())
    val totals = counts.agg(sum(col("_cs")).as("_ts"),
      sum(col("_ct")).as("_tt"), count(lit(1)).as("_v"))
    val num = lit(1000000L) * (col("_ct") + 1L) * (col("_ts") + col("_v"))
    val den = (col("_cs") + 1L) * (col("_tt") + col("_v"))
    // SQL `div`: TRUE integral division on longs. The (num - num % den) /
    // den idiom runs as IEEE double division, which goes inexact once num
    // crosses 2^53 — far below the int64 overflow bound
    val scored = counts.crossJoin(broadcast(totals))
      .withColumn("_num", num).withColumn("_den", den)
      .select(col("_h"), expr("_num div _den").as("_q"))
    toks.join(scored, Seq("_h"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_q")).as("_sq"))
      .select(col("_id").as(idCol), col("n_tokens"),
        (col("_sq").cast("double") / col("n_tokens").cast("double")).as("lr_micro"))
  }

  /** Term-drift report — [[dsirWeights]]'s per-TERM quotient table
    * surfaced for humans: the `topK` most over- and under-represented
    * terms in the target slice vs the whole corpus, scored by the
    * add-one-smoothed micro-ratio `10⁶·(ct+1)(ts+v) / (cs+1)(tt+v)` —
    * numerator and denominator exact in decimal(38,0), one IEEE division
    * at the end (still bit-identical across engines: exact-int-to-double
    * is correctly rounded in both, no logs involved). The dataset-diff
    * diagnostic run between crawl snapshots,
    * before/after a filter, or across sources: "what did this change
    * amplify or suppress".
    *
    * Scale shape: one explode → one term-keyed count agg (map-side
    * partials; the table is VOCABULARY-sized — the term strings shuffle
    * here, unlike dsir's hashed scoring path, because a drift report
    * keyed by hashes is unreadable), totals broadcast, two
    * `TakeOrderedAndProject` heads. Ties order by (ratio, term). */
  def termDrift(docs: DataFrame, textCol: String,
                isTarget: org.apache.spark.sql.Column, topK: Int): DataFrame = {
    val toks = Parallelize.ensure(
        docs.select(col(textCol).as("_t"), isTarget.as("_tgt")))
      .select(col("_tgt"), explode(TextAnalysis.tokens(col("_t"))).as("_w"))
      .filter(col("_w") =!= "")
    val counts = toks.groupBy(col("_w"))
      .agg(count(lit(1)).as("_cs"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("_ct"))
    val totals = counts.agg(sum(col("_cs")).as("_ts"),
      sum(col("_ct")).as("_tt"), count(lit(1)).as("_v"))
    // decimal(38,0) intermediates, ONE double division at the end: the
    // int64 form overflows once (ct+1)·(ts+v) passes ~9.2e18/1e6 — a
    // ~1e10-token corpus with a ~1e3-frequency term, reachable in the
    // 100 TB domain this report targets. This is the human-facing report
    // path (dsirWeights keeps the bit-exact integer quotient for
    // scoring); exact-int → nearest-double is correctly rounded in both
    // engines, so the ratio still compares bit-identically.
    val scored = counts.crossJoin(broadcast(totals))
      .withColumn("_num", lit(1000000L).cast("decimal(38,0)")
        * (col("_ct") + 1L).cast("decimal(38,0)")
        * (col("_ts") + col("_v")).cast("decimal(38,0)"))
      .withColumn("_den", (col("_cs") + 1L).cast("decimal(38,0)")
        * (col("_tt") + col("_v")).cast("decimal(38,0)"))
      .select(col("_w").as("term"), col("_cs").as("n_total"),
        col("_ct").as("n_target"),
        (col("_num").cast("double") / col("_den").cast("double")).as("lr_micro"))
    val over = scored.orderBy(col("lr_micro").desc, col("term")).limit(topK)
      .withColumn("direction", lit("over"))
    val under = scored.orderBy(col("lr_micro").asc, col("term")).limit(topK)
      .withColumn("direction", lit("under"))
    over.unionByName(under)
      .select(col("direction"), col("term"), col("n_total"),
        col("n_target"), col("lr_micro"))
  }

  /** Vocabulary-coverage (out-of-vocabulary) quality gate — the model-free
    * rung of the CCNet idea (Wenzek et al. 2020 score documents with an LM
    * over a fixed vocabulary; the vocabulary-coverage ratio is the same
    * signal without the model): build the corpus's `topK` most frequent
    * tokens ONCE, then score every document by the fraction of its tokens
    * NOT in that vocabulary. Keyword spam, encoding mojibake, wrong-language
    * and template junk all surface as high `oov_frac` long before the
    * expensive dedup rungs run — this is the cheap filter that protects
    * them. (The reference has no text operators — carrottransform is OMOP
    * ETL; this extends the engine's curation family.)
    *
    * Returns (idCol, n_tokens, oov_tokens, oov_frac, vocab_ok) — every
    * feature beside the verdict (the
    * [[graft.ops.TextAnalysis.gopherQualityGate]] discipline) so thresholds
    * tune from one table instead of re-scanning the corpus per candidate
    * rule. `oov_frac` is one raw IEEE division of exact integer counts —
    * bit-identical on any engine (the q98 no-rounding discipline). Top-K
    * ties break by (count desc, token asc) — fully deterministic across
    * runs, partitionings and engines. Documents with no non-empty token
    * produce no row (the [[dsirWeights]] contract).
    *
    * Scale shape: the vocab build is one token-keyed count agg (map-side
    * partials; the aggregated table is VOCABULARY-sized, not corpus-sized)
    * topped by one `TakeOrderedAndProject` head — `topK` rows, bounded by
    * construction, so the probe side joins it BROADCAST. The probe explodes
    * docs row-locally, left-joins the broadcast vocab, and one
    * groupBy(doc) whose map-side partials collapse each doc's tokens in
    * place leaves a shuffle of one narrow row per document; the document
    * text itself never moves. The token stream is cached (id + token) so
    * the corpus explodes once, not twice. */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    topK: Int, maxOovFrac: Double = 0.1,
                    scope: CacheScope = CacheScope.noop): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val toks = scope.track(Parallelize.ensure(
        docs.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"), explode(TextAnalysis.tokens(col("_t"))).as("_w"))
      .filter(col("_w") =!= "").cache())
    val vocab = toks.groupBy(col("_w")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_w")).limit(topK)
      .select(col("_w"), lit(1).as("_in"))
    toks.join(broadcast(vocab), Seq("_w"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .select(col("_id").as(idCol), col("n_tokens"), col("oov_tokens"),
        (col("oov_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("oov_frac"))
      .withColumn("vocab_ok",
        when(col("oov_frac") <= maxOovFrac, 1).otherwise(0))
  }

  /** The highest-weighted term per document by tf·idf, with idf as the
    * LINEAR inverse document frequency N/df.
    *
    * Why linear rather than log: N/df is one IEEE division and one
    * multiply — bit-identical across engines, so the scores (and the
    * argmax) are exactly reproducible and cross-engine checkable. Log-idf
    * is a one-line swap (`log(nDocs / df)`) whose last-ulp libm
    * differences across engines make exact score comparison impossible;
    * rankings are unaffected for any monotone idf when comparing terms of
    * equal tf, but tf·idf mixes the two, so the conservative choice is the
    * exactly-reproducible weighting.
    *
    * Scale shape: explode → (doc, term) count → term df join → per-doc
    * argmax via max_by — three hash shuffles on narrow keys, map-side
    * partials everywhere, no window over the corpus. The corpus size is an
    * aggregate scalar cross-joined as a broadcast 1-row frame (never a
    * driver-side collect).
    *
    * Returns (idCol, top_term, score); documents with no non-empty token
    * produce no row. Ties break toward the lexicographically greatest
    * term (deterministic). */
  def tfidfTopTerm(docs: DataFrame, idCol: String, textCol: String,
                   scope: CacheScope = CacheScope.noop): DataFrame = {
    val toks = Parallelize.ensure(
        docs.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"), explode(TextAnalysis.tokens(col("_t"))).as("_term"))
      .filter(col("_term") =!= "")
    tfidfTopTermOf(toks, idCol,
      docs.select(count_distinct(col(idCol)).as("_n")), scope)
  }

  /** [[tfidfTopTerm]] over a pre-exploded token stream `toks` =
    * (_id, _term string, empties filtered) — the shared-explode entry
    * point (SparkEntry's docToks memo). `nDocs` is the idf numerator as a
    * 1-row (_n) frame, supplied separately because token-less documents
    * never reach the stream but still count toward N (a pruned two-column
    * scan of the corpus — cheap). */
  def tfidfTopTermOf(toks: DataFrame, idCol: String, nDocs: DataFrame,
                     scope: CacheScope = CacheScope.noop): DataFrame = {
    // tf feeds both the df aggregation and the score join — cache it (per-
    // doc vocabulary sized, the post-aggregation frame, NOT the raw token
    // stream) so the corpus explodes once instead of twice
    val tf = scope.track(
      toks.groupBy(col("_id"), col("_term")).agg(count(lit(1)).as("_tf")).cache())
    val dfreq = tf.groupBy(col("_term")).agg(count(lit(1)).as("_df"))
    tf.join(dfreq, Seq("_term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("_score",
        col("_tf") * (col("_n").cast("double") / col("_df").cast("double")))
      .groupBy(col("_id"))
      .agg(max_by(struct(col("_term"), col("_score")),
        struct(col("_score"), col("_term"))).as("_best"))
      .select(col("_id").as(idCol), col("_best._term").as("top_term"),
        col("_best._score").as("score"))
  }

  /** Pairwise vocabulary Jaccard between dataset partitions (sources,
    * snapshots, languages): for every pair of `groupCol` values, the
    * overlap of their distinct token vocabularies — the cheap
    * dataset-diff diagnostic run before mixing corpora (two crawls with
    * ~identical vocabulary are probably the same source twice; a shard
    * with near-zero overlap is probably mislabeled or another language).
    *
    * Scale shape: one distinct over (group, token-hash) — tokens collapse
    * to 8-byte xxhash64 keys at the scan, strings never shuffle — then an
    * inverted self-join on the hash to count common tokens per pair, and
    * a broadcast of the tiny per-group vocabulary sizes. Costs
    * O(pairs-per-token): each token contributes rows only for the groups
    * it appears in, so with G groups a universal stopword fans out G²/2 —
    * fine for dataset-level diagnostics (G in the tens/hundreds); for
    * thousands of groups switch to MinHash signatures per group and
    * estimate the same Jaccard from G small sketches instead.
    *
    * Integer counts and ONE final IEEE division (the repo's linear
    * reproducibility convention) — bit-identical across engines. */
  /** Cache + cut lineage (Cluster's iteration discipline): each BPE round
    * rewrites the symbol arrays, and an uncut plan after R rounds is R
    * nested fold expressions — Catalyst analysis cost grows per round
    * until planning, not data, dominates. */
  private def snapshot(df: DataFrame, scope: CacheScope): DataFrame =
    scope.track(df.sparkSession.createDataFrame(df.rdd, df.schema).cache())

  /** [[snapshot]] that ALSO truncates the physical RDD lineage with an
    * eager localCheckpoint. The per-round snapshots cut the LOGICAL plan,
    * but each round still appends a few frames to the task-serialized
    * RDD chain, and ~50+ rounds overflow the deserialization stack
    * (StackOverflowError, measured at the round-7 1k-merge BPE bench).
    * Interposed every 16 rounds — cheap, the words table is
    * vocabulary-sized and already materialized each round. (The
    * checkpointed blocks free on RDD GC rather than through the scope —
    * bounded: one vocab-sized copy per 16 rounds, superseded as the
    * previous one goes unreachable.) */
  private def snapshotCut(df: DataFrame, scope: CacheScope): DataFrame = {
    val rdd = df.rdd
    rdd.localCheckpoint()
    rdd.count() // first job materializes the checkpoint and cuts the chain
    scope.track(df.sparkSession.createDataFrame(rdd, df.schema).cache())
  }

  /** Distributed byte-pair-encoding vocabulary training (Sennrich et al.):
    * learn `numMerges` symbol merges from the corpus, most-frequent
    * adjacent pair first — the tokenizer-training step of an LLM data
    * pipeline, run where the data already lives instead of sampling it
    * out to a single machine.
    *
    * Returns the merge rules in rank order as (left, right, pairCount);
    * stops early when the best remaining pair drops under `minPairCount`.
    * Deterministic: ties break by (left, right) lexicographically, so the
    * learned vocabulary is independent of partitioning and run order.
    *
    * Scale shape: the corpus collapses ONCE to a (word, freq) table —
    * pair statistics are weighted by word frequency, so each round's cost
    * is O(distinct words), not O(corpus). Each round is (a) one
    * pair-count aggregation over exploded adjacent symbol pairs
    * (map-side partials, narrow struct keys) feeding
    * `TakeOrderedAndProject(1)` — only the ONE winning rule reaches the
    * driver, the classic bounded-driver-state exception (IdAssign's
    * discipline); and (b) a row-local fold that rewrites each word's
    * symbol array, greedy leftmost non-overlapping. The vocab table is
    * snapshot-cached per round to cut fold-expression lineage.
    *
    * Variant notes: initial symbols are characters with no end-of-word
    * marker (merges cannot cross word boundaries by construction);
    * adjacent pairs count overlapping occurrences ("aaa" → (a,a) twice),
    * matching the reference implementation's counting.
    *
    * `batchMerges` > 1 (round-5 verdict #5) amortizes the driver
    * round-trips: a 32k-merge production vocabulary at one Spark job per
    * merge is 32k scheduling round-trips — hours of pure latency at the
    * measured 0.3–0.7 s/round. Each round collects the top
    * `4·batchMerges` pairs once and accepts, in rank order, the longest
    * PREFIX of pairwise-disjoint pairs, stopping at the FIRST candidate
    * that shares a symbol with an accepted one; all accepted folds then
    * apply in ONE rewrite job (rule order immaterial on disjoint rules).
    *
    * Why prefix-until-conflict and not skip-and-continue: disjoint
    * pairs' adjacency counts are invariant under each other's merges (a
    * merge only consumes its own two symbols and only creates
    * adjacencies involving its output), so an accepted prefix replays
    * the sequential recounts — any pair that could STRICTLY outrank a
    * prefix member after the earlier merges (including newly CREATED
    * compound pairs, whose count is bounded by some pre-existing
    * OVERLAPPING pair's count) would itself rank above that member in
    * the collected list and trigger the stop first. Skipping a
    * conflicting candidate and continuing instead REORDERS the learned
    * vocabulary arbitrarily (measured: on a seeded 4-letter corpus the
    * skip heuristic diverged from sequential at merge 5, electing
    * (d,b,32) where the sequential recount chooses (b,c,37)).
    *
    * The exact-tie leak, and how the TIE-GROUP SCAN closes it (round-7;
    * round 6 shipped this as a documented residual divergence): a
    * compound pair CREATED by an earlier merge of the same batch can tie
    * a later batch member at EXACTLY equal count and win the
    * lexicographic tie-break — on the regenerated sf corpus the batch
    * accepted (lu,m) where sequential elects the (c,o)-enabled compound
    * (co,lu) at the same count, a different rule SET (the "column"
    * ladder forks), not just a swap. The compound is invisible to the
    * list (it doesn't exist until the merge applies), but its count is
    * BOUNDED by a pre-batch pair that overlaps the accepted merge
    * ((x·ab) by (x,a); (ab·x) by (b,x)) — and that bounding pair IS in
    * the list, at-or-above the tied candidate. Strictly above → the
    * prefix iteration hits it and stops before the candidate; exactly
    * tied → it may sort lexicographically after the candidate, so the
    * accept loop scans the candidate's ENTIRE tie group (before
    * accepting from it, and again after every acceptance) and ends the
    * batch on any conflict — with a degrade-to-1 fallback when the tie
    * group is truncated by the collect limit. With the scan, batched
    * training reproduces the sequential rule SEQUENCE exactly
    * (BpeBenchMain pins it on the real corpus at 1k merges; the spec on
    * seeded corpora at M>1). */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int,
               minPairCount: Long = 2L,
               scope: CacheScope = CacheScope.noop,
               batchMerges: Int = 1): Seq[(String, String, Long)] =
    bpeTrainWithRounds(docs, textCol, numMerges, minPairCount, scope, batchMerges)._1

  /** [[bpeTrain]] exposing the Spark-round count alongside the rules —
    * the batching win is rounds, and the bench pins it. */
  def bpeTrainWithRounds(docs: DataFrame, textCol: String, numMerges: Int,
                         minPairCount: Long = 2L,
                         scope: CacheScope = CacheScope.noop,
                         batchMerges: Int = 1): (Seq[(String, String, Long)], Int) = {
    require(numMerges >= 1, "numMerges must be positive")
    require(batchMerges >= 1, "batchMerges must be positive")
    val words0 = Parallelize.ensure(docs.select(col(textCol).as("_t")))
      .select(explode(TextAnalysis.tokens(col("_t"))).as("_w"))
      .filter(col("_w") =!= "")
      .groupBy(col("_w")).agg(count(lit(1)).as("_f"))
      .select(filter(split(col("_w"), ""), s => s =!= "").as("_sym"), col("_f"))
    var words = snapshot(words0, scope)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var rounds = 0
    var continue = true
    while (continue && merges.size < numMerges) {
      val want = math.min(batchMerges, numMerges - merges.size)
      // sequence(1, 0) counts DOWN in Spark — guard 1-symbol words
      val pairs = when(size(col("_sym")) >= 2,
        transform(sequence(lit(1), size(col("_sym")) - 1), j =>
          struct(element_at(col("_sym"), j).as("a"),
            element_at(col("_sym"), j + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
      // top 4·want rows (oversampled so overlap rejections can still fill
      // the batch) — still TakeOrderedAndProject, still bounded driver state
      val top = words.select(col("_f"), explode(pairs).as("_p"))
        .groupBy(col("_p.a").as("a"), col("_p.b").as("b"))
        .agg(sum(col("_f")).as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(math.max(4 * want, 4)).collect()
      rounds += 1
      if (top.isEmpty || top(0).getAs[Long]("cnt") < minPairCount) continue = false
      else {
        // longest disjoint PREFIX in rank order; the first conflicting
        // candidate ends the batch (see the docstring's exactness
        // argument — skipping it would reorder the vocabulary)
        val entries = top.map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
          r.getAs[Long]("cnt"))).toSeq
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val acceptedPairs = scala.collection.mutable.Set.empty[(String, String)]
        // used(a + b): a candidate whose OUTPUT equals an accepted symbol
        // is a conflict too — its merge mints fresh copies of that
        // symbol, changing accepted pairs' adjacency counts (the reverse
        // order was always caught via used += a+b; the guard is
        // symmetric)
        def conflicts(a: String, b: String): Boolean =
          used(a) || used(b) || used(a + b)
        // the TIE-GROUP scan (round-7; closes what round 6 documented as
        // the residual divergence class): a compound pair CREATED by an
        // accepted merge (a,b) — (x·ab) or (ab·x) — is bounded by a
        // pre-batch pair that OVERLAPS (a,b) ((x,a) resp. (b,x)), so a
        // compound can only outrank a later candidate if some conflicting
        // entry sits at-or-above that candidate's count in THIS collected
        // list. Strictly above → the iteration hits it first and stops;
        // EXACTLY TIED → it may sit after the candidate in lex order,
        // which is the leak: the batch accepts the candidate while the
        // sequential recount elects the lex-smaller compound (measured on
        // the regenerated sf corpus: batch took (lu,m) where sequential
        // takes the (c,o)-enabled compound (co,lu) at the same count —
        // a different rule SET, not just a swap). So before touching a
        // tie group, scan the WHOLE group for conflicts, and rescan
        // after every acceptance; any hit ends the batch at the group.
        // With it, batched == sequential as a SEQUENCE — the earlier
        // "every sound static guard collapses to batch size 1" claim was
        // wrong, because the bounding pair is always visible in the list.
        def groupConflicted(cnt: Long): Boolean =
          entries.exists(e => e._3 == cnt && !acceptedPairs((e._1, e._2))
            && conflicts(e._1, e._2))
        // a tie group running into the collect limit may be TRUNCATED —
        // its unseen tail can't be scanned, so it can't be accepted from
        def groupTruncated(cnt: Long): Boolean =
          entries.length == math.max(4 * want, 4) && entries.last._3 == cnt
        val it = entries.iterator
        var stop = false
        var curCnt = -1L
        while (it.hasNext && accepted.size < want && !stop) {
          val (a, b, cnt) = it.next()
          if (cnt < minPairCount) stop = true
          else {
            if (cnt != curCnt) {
              curCnt = cnt
              if (groupConflicted(cnt) || groupTruncated(cnt)) stop = true
            }
            if (!stop) {
              if (conflicts(a, b)) stop = true
              else {
                accepted += ((a, b, cnt))
                acceptedPairs += ((a, b))
                used += a; used += b; used += (a + b)
                if (groupConflicted(cnt)) stop = true
              }
            }
          }
        }
        if (accepted.isEmpty && top(0).getAs[Long]("cnt") >= minPairCount) {
          // the head's own tie group was truncated by the collect limit:
          // degrade to batch size 1 for this round — the list head IS the
          // sequential election, so accepting it alone is always exact
          val r = top(0)
          accepted += ((r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[Long]("cnt")))
        }
        merges ++= accepted
        // ONE rewrite job applies every accepted fold, rank order first:
        // greedy leftmost per rule (a just-merged "aa" no longer equals
        // "a", so overlaps resolve left-to-right like reference BPE);
        // disjointness makes the rule order immaterial across rules
        val folded = accepted.foldLeft(col("_sym")) { case (c, (a, b, _)) =>
          aggregate(c, array().cast("array<string>"), (acc, s) =>
            when((size(acc) > 0) && (element_at(acc, -1) === lit(a)) && (s === lit(b)),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(s))))
        }
        val rewritten = words.withColumn("_sym", folded)
        val next =
          if (rounds % 16 == 0) snapshotCut(rewritten, scope)
          else snapshot(rewritten, scope)
        words.unpersist()
        words = next
      }
    }
    (merges.toSeq, rounds)
  }

  /** Driver-LOCAL BPE trainer — the production-vocabulary fast path
    * (round-7). The economics: [[bpeTrain]] pays one Spark job per round
    * and prefix batching fills only ~1.8 merges/round on realistic
    * corpora (BASELINE.md), so a 32k-merge production vocabulary is
    * ~18k scheduling round-trips — hours of pure latency — while the
    * data those rounds iterate over is just the (word, freq) table,
    * which is VOCABULARY-sized: it grows with distinct words (~10⁷ rows
    * even for a 100 TB corpus), not corpus bytes. So: ONE distributed
    * reduction collapses the corpus to that table (the only part of
    * training that touches the data), it collects to the driver —
    * bounded by `maxDistinctWords`, crossing it fails loudly — and the
    * merge loop runs in-process over the standard fast-BPE structure: a
    * pair→count map, a pair→containing-words index, and a lazy-deletion
    * max-heap, so each merge touches only the words that contain its
    * pair instead of re-aggregating the whole table.
    *
    * Semantics are [[bpeTrain]]'s at batchMerges = 1 EXACTLY (equality
    * spec-pinned): same tokenization (the same distributed collapse),
    * same overlapping adjacent-pair counts weighted by word frequency,
    * same (count desc, left asc, right asc) tie-break, same greedy
    * leftmost non-overlapping rewrite, same `minPairCount` stop.
    * [[bpeTrain]] remains the fallback when the distinct-word table
    * exceeds driver memory — raise `maxDistinctWords` deliberately, not
    * reflexively. */
  def bpeTrainLocal(docs: DataFrame, textCol: String, numMerges: Int,
                    minPairCount: Long = 2L,
                    maxDistinctWords: Int = 20000000): Seq[(String, String, Long)] = {
    require(numMerges >= 1, "numMerges must be positive")
    val rows = Parallelize.ensure(docs.select(col(textCol).as("_t")))
      .select(explode(TextAnalysis.tokens(col("_t"))).as("_w"))
      .filter(col("_w") =!= "")
      .groupBy(col("_w")).agg(count(lit(1)).as("_f"))
      .limit(maxDistinctWords + 1)
      .collect()
    require(rows.length <= maxDistinctWords,
      s"distinct-word table exceeds maxDistinctWords=$maxDistinctWords — " +
        "use the distributed bpeTrain, or raise the bound if the driver has headroom")

    import scala.collection.mutable
    // split per CODE POINT, not UTF-16 code unit: the distributed side's
    // `split(col, "")` is a Java-regex zero-width split, which never cuts
    // inside a surrogate pair — a per-char split here would hand non-BMP
    // text (emoji, rare CJK) to the trainer as lone-surrogate symbols and
    // silently break the spec-pinned bpeTrain equality
    val words = rows.map(r =>
      r.getString(0).codePoints().toArray.map(cp => new String(Character.toChars(cp))))
    val freq = rows.map(_.getLong(1))
    val counts = mutable.HashMap.empty[(String, String), Long]
    // pair → indexes of words that contained it at SOME point; entries go
    // stale after rewrites and are re-validated at merge time (cheaper
    // than eagerly pruning sets on every removal)
    val occur = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def tally(i: Int, sign: Long, touched: mutable.Set[(String, String)]): Unit = {
      val s = words(i)
      var j = 0
      while (j + 1 < s.length) {
        val p = (s(j), s(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * freq(i)
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (sign > 0) occur.getOrElseUpdate(p, mutable.BitSet.empty) += i
        touched += p
        j += 1
      }
    }
    val noTouch = mutable.Set.empty[(String, String)]
    for (i <- words.indices) tally(i, 1L, noTouch)

    // lazy-deletion heap: entries are (count, a, b) snapshots; an entry is
    // valid iff its count still equals the live map's. Max order = count
    // desc, then (a, b) ASC — the exact distributed tie-break
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val ca = y._2.compareTo(x._2)
          if (ca != 0) ca else y._3.compareTo(x._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    counts.foreach { case ((a, b), c) => heap.enqueue((c, a, b)) }

    def rewrite(sym: Array[String], a: String, b: String): Array[String] = {
      // greedy leftmost non-overlapping — bpeTrain's fold verbatim
      val out = mutable.ArrayBuffer.empty[String]
      for (s <- sym) {
        if (out.nonEmpty && out.last == a && s == b) out(out.length - 1) = a + b
        else out += s
      }
      out.toArray
    }
    def containsPair(sym: Array[String], a: String, b: String): Boolean = {
      var j = 0
      while (j + 1 < sym.length) {
        if (sym(j) == a && sym(j + 1) == b) return true
        j += 1
      }
      false
    }

    val merges = mutable.ArrayBuffer.empty[(String, String, Long)]
    var continue = true
    while (continue && merges.size < numMerges) {
      var best: Option[(Long, String, String)] = None
      while (best.isEmpty && heap.nonEmpty) {
        val top = heap.dequeue()
        if (counts.getOrElse((top._2, top._3), 0L) == top._1) best = Some(top)
      }
      best match {
        case Some((c, a, b)) if c >= minPairCount =>
          merges += ((a, b, c))
          val touched = mutable.Set.empty[(String, String)]
          occur.remove((a, b)).foreach(_.foreach { i =>
            if (containsPair(words(i), a, b)) {
              tally(i, -1L, touched)
              words(i) = rewrite(words(i), a, b)
              tally(i, 1L, touched)
            }
          })
          touched.foreach { p =>
            counts.get(p).foreach(c2 => heap.enqueue((c2, p._1, p._2)))
          }
        case _ => continue = false
      }
    }
    merges.toSeq
  }

  /** Apply learned [[bpeTrain]] merges to text: (id, tokens). The
    * per-word segmentation loop (apply the lowest-rank applicable merge
    * until none applies — provably equivalent to replaying merges in
    * rank order) is data-dependent iteration with no Catalyst
    * counterpart, so it runs as `mapPartitions` over a broadcast rank
    * table — the Multimodal-codec justification: one tiny lookup
    * structure per partition, rows streamed. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranks = merges.zipWithIndex.map { case (p, r) => p -> r }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    df.select(col(idCol).cast("long").as("_id"), col(textCol).as("_t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val rk = bc.value
        it.map { case (id, t) =>
          (id, t.toLowerCase.trim.split("\\s+").toSeq
            .filter(_.nonEmpty).flatMap(w => segmentWord(w, rk)))
        }
      }.toDF(idCol, "tokens")
  }

  /** Reference BPE segmentation of one word under a merge-rank table. */
  private[ops] def segmentWord(w: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var sym = w.map(_.toString).toVector
    var done = sym.size < 2
    while (!done) {
      val best = sym.zip(sym.tail).flatMap(p => ranks.get(p).map(_ -> p))
        .sortBy(_._1).headOption
      best match {
        case None => done = true
        case Some((_, (a, b))) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < sym.size) {
            if (i + 1 < sym.size && sym(i) == a && sym(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += sym(i); i += 1 }
          }
          sym = out.result()
          done = sym.size < 2
      }
    }
    sym
  }

  def sourceOverlap(docs: DataFrame, groupCol: String, textCol: String,
                    scope: CacheScope = CacheScope.noop): DataFrame = {
    val toks = Parallelize.ensure(
        docs.select(col(groupCol).as("_g"), col(textCol).as("_t")))
      .select(col("_g"), explode(TextAnalysis.tokens(col("_t"))).as("_w"))
      .filter(col("_w") =!= "")
      .select(col("_g"), xxhash64(col("_w")).as("_h"))
    sourceOverlapOf(toks, scope)
  }

  /** [[sourceOverlap]] over a pre-exploded hashed token stream `toks` =
    * (_g, _h), duplicates allowed — the shared-explode entry point
    * (SparkEntry's docToks memo): the distinct lands here, on top of a
    * cached stream, instead of re-exploding the corpus. */
  def sourceOverlapOf(toks: DataFrame,
                      scope: CacheScope = CacheScope.noop): DataFrame = {
    // the distinct (group, token-hash) vocabulary is consumed three times
    // (sizes + both sides of the pair join) and is group×vocab-sized —
    // cache it rather than re-derive per consumer (measured on sibling
    // ops: duplicated aggregation subtrees never reuse exchanges)
    val vocab = scope.track(toks.distinct().cache())
    val sizes = vocab.groupBy(col("_g")).agg(count(lit(1)).as("_n"))
    val common = vocab.select(col("_g").as("group_a"), col("_h"))
      .join(vocab.select(col("_g").as("group_b"), col("_h")), Seq("_h"))
      .filter(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(broadcast(sizes.select(col("_g").as("group_a"), col("_n").as("_na"))), Seq("group_a"))
      .join(broadcast(sizes.select(col("_g").as("group_b"), col("_n").as("_nb"))), Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("common"),
        (col("common") / (col("_na") + col("_nb") - col("common"))).as("jaccard"))
  }

  /** Sketch-based cross-source similarity — the SCALE path for source
    * overlap matrices, graded against the exact answer in one table.
    * Per unordered source pair: the exact shingle-Jaccard (the
    * [[sourceOverlap]] machinery at n-gram level) BESIDE the k-seed
    * MinHash estimate (fraction of seeds whose per-source minimum md5
    * agrees — the classic unbiased Jaccard estimator) and the absolute
    * error. This is the decision table for `k`: the exact pair join is
    * the co-occurrence blowup at large source counts (a shingle shared
    * by m sources emits O(m²) pair rows), while the sketch needs only
    * the (sources × k) mins table — metadata-sized at any corpus scale.
    * Production at thousands of sources reads the estimate; the exact
    * columns exist to SIZE k before trusting it.
    *
    * md5-derived mins (the repo's RNG-free constant discipline) make
    * the estimate itself exactly reproducible cross-engine — the DuckDB
    * oracle replays sketch AND exact bit-for-bit. Pairs sharing zero
    * shingles are omitted (their exact and estimated Jaccard are both
    * identically zero — min equality needs a shared shingle).
    *
    * Returns (source_a, source_b, common, jaccard, est_jaccard,
    * abs_err) — ratios raw IEEE divisions of exact integers. */
  def sourceJaccardSketch(docs: DataFrame, groupCol: String, textCol: String,
                          n: Int = 5, k: Int = 8,
                          scope: CacheScope = CacheScope.noop): DataFrame = {
    require(k >= 1, s"need at least one sketch seed, got $k")
    // distinct (source, shingle) vocabulary — consumed by the mins agg
    // (strings, group-local) and the exact pair join (8-byte hashes)
    val vocab = scope.track(Parallelize.ensure(
        docs.select(col(groupCol).as("_g"), col(textCol).as("_t")))
      .select(col("_g"),
        explode(graft.functions.ShingleExprs.ngramShingles(col("_t"), n)).as("_s"))
      .distinct().cache())
    // round 14: sizes + mins fused into ONE per-source aggregation over
    // the vocab (they were two separate passes + four broadcast joins);
    // same values, two broadcast attachments instead of four
    val stats = vocab.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        min(md5(concat(lit("0|"), col("_s")))).as("_m0") +:
          (1 until k).map(i =>
            min(md5(concat(lit(s"$i|"), col("_s")))).as(s"_m$i")): _*)
    val hv = vocab.select(col("_g"), xxhash64(col("_s")).as("_h"))
    val common = hv.select(col("_g").as("source_a"), col("_h"))
      .join(hv.select(col("_g").as("source_b"), col("_h")), Seq("_h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("common"))
    val matches = (0 until k).map(i =>
      when(col(s"_ma$i") === col(s"_mb$i"), 1).otherwise(0)).reduce(_ + _)
    common
      .join(broadcast(stats.select(col("_g").as("source_a") +: col("_n").as("_na") +:
        (0 until k).map(i => col(s"_m$i").as(s"_ma$i")): _*)), Seq("source_a"))
      .join(broadcast(stats.select(col("_g").as("source_b") +: col("_n").as("_nb") +:
        (0 until k).map(i => col(s"_m$i").as(s"_mb$i")): _*)), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("common"),
        (col("common") / (col("_na") + col("_nb") - col("common"))).as("jaccard"),
        (matches.cast("double") / lit(k)).as("est_jaccard"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
  }

  /** Temperature-weighted corpus mixing — the multilingual/multi-source
    * sampling-rate table (the `p_i ∝ n_i^α` rule of multilingual LM
    * training: α < 1 up-samples tail groups, α = 1 is proportional,
    * α = 0 uniform). For each group: its document count, its normalized
    * temperature weight `n^α / Σ n^α`, and an integer per-group
    * allocation of `budget` documents by largest-remainder rounding
    * (floor everyone, then hand the leftover units to the largest
    * fractional parts, frac-desc / group-asc deterministic) — so the
    * allocations always sum EXACTLY to the budget, which floor or
    * round alone cannot guarantee.
    *
    * Scale shape: one narrow count shuffle over the corpus; everything
    * after runs on the GROUP-cardinality table (dozens of rows — a mixing
    * table is driver-scale metadata by definition), which is why the
    * single-partition ranking window over it is not a scale hazard: the
    * window's input is the group list, never corpus rows. */
  def temperatureMix(docs: DataFrame, groupCol: String, alpha: Double,
                     budget: Long): DataFrame = {
    require(alpha >= 0, s"alpha must be non-negative, got $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy(col(groupCol).as("_g")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(pow(col("n_docs"), alpha)).as("_tot"))
    val based = counts.crossJoin(broadcast(tot))
      .withColumn("_w", pow(col("n_docs"), alpha) / col("_tot"))
      .withColumn("_base", floor(col("_w") * budget).cast("long"))
      .withColumn("_frac", col("_w") * budget - col("_base"))
    // group-table-only windows: rank by fractional part, and the total
    // floored allocation (the remainder is budget minus it)
    val wAll = Window.partitionBy()
    val rk = Window.partitionBy().orderBy(col("_frac").desc, col("_g"))
    based
      .withColumn("_rem", lit(budget) - sum(col("_base")).over(wAll))
      .withColumn("_rk", row_number().over(rk))
      .select(col("_g").as(groupCol), col("n_docs"),
        round(col("_w"), 6).as("weight"),
        (col("_base") + when(col("_rk") <= col("_rem"), 1L).otherwise(0L)).as("alloc"))
  }

  /** Water-filling mixture allocation — [[temperatureMix]] with SUPPLY
    * CAPS and redistribution: the plain temperature formula can allocate
    * a group more documents than it has, and [[temperatureSample]] then
    * silently under-draws (the shortfall just vanishes — a 400-doc
    * budget can come back with 380). Real mixing pipelines instead
    * water-fill: each group gets `min(supply, λ·w)` with λ raised until
    * the budget is spent, so small groups are taken WHOLE and their
    * unused share re-flows to groups that can absorb it — the total is
    * exactly `min(budget, Σ supply)` by construction.
    *
    * Computed by the classic closed form on the GROUP table (mixing-table
    * metadata, the [[temperatureMix]] exception — every window here is
    * over one row per group): sort by supply/weight ascending; a group
    * is capped iff its supply fits under the water level implied by the
    * budget left after taking every smaller-ratio group whole
    * (`s_i · V_i ≤ R_i · w_i`, prefix sums); the uncapped groups split
    * the remaining budget by the q95 largest-remainder rule. All
    * comparisons are the same IEEE expressions in any engine; the
    * aggregate totals come from ORDERED prefix sums (their max — sums of
    * positive terms are increasing), never an unordered float fold, so
    * the plan is bit-replayable.
    *
    * Returns (groupCol, n_docs, alloc, capped) — `capped` = 1 for groups
    * taken whole. */
  def waterfillMix(docs: DataFrame, groupCol: String, alpha: Double,
                   budget: Long,
                   maxGroups: Int = waterfillMaxGroups): DataFrame =
    waterfillCore(
      docs.groupBy(col(groupCol).as("_g")).agg(count(lit(1)).as("_s")),
      alpha, budget, maxGroups)
      .select(col("_g").as(groupCol), col("_s").as("n_docs"),
        col("alloc"), col("capped"))

  /** [[waterfillMix]] with the supply measured in a COST column instead
    * of document counts — "give each group λ·w TOKENS, capped at the
    * tokens it actually has": the budget and allocations are token (or
    * byte, or any cost) masses, which is the unit a training-mix budget
    * is actually stated in. Same closed form, same founding properties:
    * allocations sum to exactly min(budget, total cost mass). Returns
    * (groupCol, supply, alloc, capped). */
  def waterfillMixBy(docs: DataFrame, groupCol: String, costCol: String,
                     alpha: Double, budget: Long,
                     maxGroups: Int = waterfillMaxGroups): DataFrame =
    waterfillCore(
      docs.groupBy(col(groupCol).as("_g"))
        .agg(sum(col(costCol).cast("long")).as("_s")),
      alpha, budget, maxGroups)
      .select(col("_g").as(groupCol), col("_s").as("supply"),
        col("alloc"), col("capped"))

  /** Spark-compatible ordering for collected group keys — the driver-side
    * twin of a window `orderBy(col)` on one scalar column: nulls FIRST
    * ascending; strings in UTF8String binary order (UTF-8 byte compare =
    * code-point order, not Java's UTF-16 compareTo); numerics/NaN per
    * IEEE total order (NaN greatest, Spark's convention); everything else
    * (date, timestamp, decimal) via its natural Comparable, which is what
    * Spark's interpreted ordering uses for those external types. */
  private[ops] def sparkKeyCompare(x: Any, y: Any): Int = (x, y) match {
    case (null, null) => 0
    case (null, _)    => -1
    case (_, null)    => 1
    case (a: String, b: String) =>
      val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < ab.length && i < bb.length) {
        val c = java.lang.Integer.compare(ab(i) & 0xff, bb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(ab.length, bb.length)
    case (a: java.lang.Double, b: java.lang.Double) =>
      java.lang.Double.compare(a, b)
    case (a: java.lang.Float, b: java.lang.Float) =>
      java.lang.Float.compare(a, b)
    // BEFORE the generic Number case (round-14 advice): BigDecimal IS a
    // java.lang.Number, and longValue() truncates the fraction — equal
    // integer parts would compare as ties, diverging from Spark's
    // Decimal ordering for fractional group keys
    case (a: java.math.BigDecimal, b: java.math.BigDecimal) => a.compareTo(b)
    case (a: java.math.BigInteger, b: java.math.BigInteger) => a.compareTo(b)
    case (a: java.lang.Number, b: java.lang.Number) =>
      java.lang.Long.compare(a.longValue(), b.longValue())
    case (a: java.lang.Boolean, b: java.lang.Boolean) =>
      java.lang.Boolean.compare(a, b)
    case (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** The closed-form waterfill, computed ON THE DRIVER over the collected
    * supply table (group-cardinality metadata — a row per source/bucket,
    * the [[temperatureMix]] exception). Round 14: the previous form
    * round-tripped the collected rows through a LocalRelation and ran the
    * closed form as ~10 tiny Spark jobs (three broadcast exchanges + the
    * windows); guide §5's "the driver should do the metadata-scale work"
    * — a dozen rows of prefix sums is exactly that, so the arithmetic now
    * runs as plain Scala with the SAME IEEE operation order (pow, the
    * ordered running sums, wprev = cumw − w, the (w/vf)·rf product, the
    * floor/largest-remainder rounding), verified value-identical against
    * the q155/q156/q159 DuckDB oracles. Input rows: (_g, _s nullable
    * long); output: (_g, _s, alloc, capped) with the exact null semantics
    * of the previous SQL form (null supply ⇒ null alloc). */
  private[ops] def waterfillLocal(rows: Array[(Any, Option[Long])],
                                  alpha: Double, budget: Long)
      : Array[(Any, Option[Long], Option[Long], Int)] = {
    require(alpha >= 0, s"alpha must be non-negative, got $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    // _w = pow(_s, alpha); _r = _s / _w  (null-propagating, NaN possible)
    case class P(g: Any, s: Option[Long], w: Option[Double], r: Option[Double])
    val ps = rows.map { case (g, s) =>
      val w = s.map(v => math.pow(v.toDouble, alpha))
      val r = for (sv <- s; wv <- w) yield sv.toDouble / wv
      P(g, s, w, r)
    }
    // window order: (_r asc nulls first, _g asc nulls first)
    val sorted = ps.sortWith { (a, b) =>
      val c = (a.r, b.r) match {
        case (None, None)       => 0
        case (None, _)          => -1
        case (_, None)          => 1
        case (Some(x), Some(y)) => java.lang.Double.compare(x, y)
      }
      if (c != 0) c < 0 else sparkKeyCompare(a.g, b.g) < 0
    }
    // ordered running sums (SQL sum semantics: null until first non-null)
    var cs: Option[Long] = None
    var cw: Option[Double] = None
    case class Q(p: P, pos: Int, cums: Option[Long], cumw: Option[Double])
    val qs = sorted.zipWithIndex.map { case (p, i) =>
      cs = p.s.map(_ + cs.getOrElse(0L)).orElse(cs)
      cw = p.w.map(_ + cw.getOrElse(0.0)).orElse(cw)
      Q(p, i + 1, cs, cw)
    }
    val totw = qs.flatMap(_.cumw).reduceOption((a, b) => math.max(a, b))
    // capped test: s·(totw − wprev) <= (budget − sprev)·w, prefix rule
    def ok(q: Q): Option[Boolean] = for {
      sv <- q.p.s; wv <- q.p.w; tw <- totw
      cums <- q.cums; cumw <- q.cumw
    } yield sv.toDouble * (tw - (cumw - wv)) <= (budget - (cums - sv)).toDouble * wv
    val ff = qs.filter(q => ok(q).contains(false)).map(_.pos).minOption
    val (capped, uncapped) = qs.partition(q => ff.forall(q.pos < _))
    val csMax = capped.flatMap(_.cums).lastOption
    val cwMax = capped.flatMap(_.cumw).reduceOption((a, b) => math.max(a, b))
    val rf = budget - csMax.getOrElse(0L)
    val vf = totw.map(_ - cwMax.getOrElse(0.0))
    val cappedOut = capped.map(q => (q.p.g, q.p.s, q.p.s, 1))
    // uncapped: largest-remainder rounding of (w/vf)·rf
    case class U(q: Q, exact: Option[Double], base: Option[Long], frac: Option[Double])
    val us = uncapped.map { q =>
      val exact = for (wv <- q.p.w; v <- vf) yield (wv / v) * rf.toDouble
      val base = exact.map(e => math.floor(e).toLong)
      val frac = for (e <- exact; b <- base) yield e - b
      U(q, exact, base, frac)
    }
    val rem = rf - us.flatMap(_.base).sum
    // rank: (_frac desc nulls last — NaN first under desc, Spark's order —
    // then _g asc)
    val ranked = us.sortWith { (a, b) =>
      val c = (a.frac, b.frac) match {
        case (None, None)       => 0
        case (None, _)          => 1
        case (_, None)          => -1
        case (Some(x), Some(y)) => -java.lang.Double.compare(x, y)
      }
      if (c != 0) c < 0 else sparkKeyCompare(a.q.p.g, b.q.p.g) < 0
    }
    val uncappedOut = ranked.zipWithIndex.map { case (u, i) =>
      val alloc = u.base.map(b => b + (if ((i + 1) <= rem) 1L else 0L))
      (u.q.p.g, u.q.p.s, alloc, 0)
    }
    cappedOut ++ uncappedOut
  }

  /** Shared bounded-collect guard for the waterfill family's supply
    * tables (round-14 verdict #3): the group table is supposed to be
    * mixing-table metadata (dozens of rows); a caller grouping on a
    * high-cardinality column would otherwise OOM the driver at scale.
    * The [[bpeTrainLocal]] discipline — limit(max+1) + loud require —
    * costs nothing when under the bound. */
  private[ops] val waterfillMaxGroups = 1000000

  private def collectSupply(counts: DataFrame, maxGroups: Int)
      : Array[org.apache.spark.sql.Row] = {
    val rows = counts.limit(maxGroups + 1).collect()
    require(rows.length <= maxGroups,
      s"waterfill group table exceeds maxGroups=$maxGroups — the group " +
        "column is not mixing-table metadata; raise the bound deliberately " +
        "if the driver has headroom")
    rows
  }

  /** [[waterfillLocal]] with the collect: one Spark job over the prepared
    * (_g, _s) supply frame, driver math, back as a LocalRelation with the
    * schema (group type) preserved. */
  private def waterfillCore(counts: DataFrame, alpha: Double,
                            budget: Long,
                            maxGroups: Int = waterfillMaxGroups): DataFrame = {
    require(alpha >= 0, s"alpha must be non-negative, got $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    val collected = collectSupply(counts, maxGroups).map(r =>
      (r.get(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val out = waterfillLocal(collected, alpha, budget)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      counts.schema(0).copy(name = "_g"),
      counts.schema(1).copy(name = "_s"),
      org.apache.spark.sql.types.StructField("alloc",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("capped",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val rows: Seq[org.apache.spark.sql.Row] = out.toSeq.map { case (g, s, a, c) =>
      org.apache.spark.sql.Row(g, s.map(Long.box).orNull, a.map(Long.box).orNull, c)
    }
    counts.sparkSession.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
  }


  /** [[waterfillMixBy]] APPLIED — the per-group token-budget draw with
    * the water-filled allocations: each group admits documents in
    * salted-md5 order while its cumulative cost stays within its
    * allocation (the q82 admission rule), so capped groups are taken
    * (nearly) whole and the re-flowed token budget lands where there is
    * supply. The draw can undershoot an allocation by at most one
    * document's cost per group (a doc is atomic — the integral-prefix
    * rule both engines replay). */
  def waterfillSampleByCost(docs: DataFrame, idCol: String, groupCol: String,
                            costCol: String, alpha: Double, budget: Long,
                            seed: String = "graft-temp",
                            scope: CacheScope = CacheScope.noop): DataFrame = {
    require(alpha >= 0, s"alpha must be non-negative, got $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    waterfillSampleByCostImpl(docs, idCol, groupCol, costCol, alpha,
      (_: Long) => budget, seed, scope)
  }

  /** [[waterfillSampleByCost]] with the budget stated as a FRACTION of the
    * corpus's total cost mass (`tot · num / den`, exact long arithmetic) —
    * round 14: the fraction form lets one supply aggregation serve both
    * the total (previously a separate corpus pass in callers) and the
    * per-group waterfill, halving the eager passes of the q159 shape. */
  def waterfillSampleByCostFrac(docs: DataFrame, idCol: String,
                                groupCol: String, costCol: String,
                                alpha: Double, num: Long, den: Long,
                                seed: String = "graft-temp",
                                scope: CacheScope = CacheScope.noop): DataFrame = {
    require(num > 0 && den > 0, "budget fraction must be positive")
    waterfillSampleByCostImpl(docs, idCol, groupCol, costCol, alpha,
      tot => tot * num / den, seed, scope)
  }

  private def waterfillSampleByCostImpl(docs: DataFrame, idCol: String,
                                        groupCol: String, costCol: String,
                                        alpha: Double, budgetOf: Long => Long,
                                        seed: String,
                                        scope: CacheScope): DataFrame = {
    // round 15 (r14 verdict #6): the draw's own per-cell collect IS the
    // supply aggregation — per-group supplies are exact long sums, so
    // deriving them from the cells is bit-identical to the previous
    // separate groupBy pass over `base`, which is gone along with its
    // cache (the draw is now the base projection's only consumer). The
    // corpus total for fraction-stated budgets is the same sum. The
    // alloc map is keyed by SPARK's cast-to-string of the key (round-14
    // advice), which the cells carry natively.
    waterfillDraw(docs.select(col(idCol), col(groupCol), col(costCol)),
      idCol, groupCol, costCol, alpha, budgetOf, seed, scope)
      .select(col(idCol), col(groupCol), col(costCol))
  }

  /** Shared waterfill draw: [[BudgetSelect.selectByBudgetPerGroupByValue]]
    * with the closed form over the cell-derived supplies. */
  private def waterfillDraw(base: DataFrame, idCol: String, groupCol: String,
                            costCol: String, alpha: Double,
                            budgetOf: Long => Long, seed: String,
                            scope: CacheScope): DataFrame = {
    require(alpha >= 0, s"alpha must be non-negative, got $alpha")
    BudgetSelect.selectByBudgetPerGroupByValue(base, groupCol, costCol,
      supplies => {
        require(supplies.size <= waterfillMaxGroups,
          s"waterfill group table exceeds maxGroups=$waterfillMaxGroups — " +
            "the group column is not mixing-table metadata")
        val tot = supplies.flatMap(_._2.supply).sum
        val gsOf = supplies.collect {
          case (raw, BudgetSelect.GroupSupply(Some(gs), _)) if raw != null => raw -> gs }.toMap
        waterfillLocal(supplies.map { case (raw, s) => (raw, s.supply) }.toArray,
          alpha, budgetOf(tot))
          .flatMap { case (g, _, alloc, _) =>
            Option(g).map(v => gsOf(v) -> alloc.getOrElse(0L))
          }.toMap
      },
      scope,
      md5(concat(lit(s"$seed|"), col(idCol).cast("string"))), col(idCol))
  }

  /** [[waterfillMix]] APPLIED — [[temperatureSample]] with the
    * water-filled allocation, so the draw totals EXACTLY
    * `min(budget, corpus size)`: capped groups are taken whole, the
    * re-flowed budget lands in groups that can absorb it, and the draw
    * itself rides the same salted-md5 [[graft.ops.BudgetSelect]]
    * discipline. */
  def waterfillSample(docs: DataFrame, idCol: String, groupCol: String,
                      alpha: Double, budget: Long,
                      seed: String = "graft-temp",
                      scope: CacheScope = CacheScope.noop): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    // round 15: supplies (= group counts, the unit-cost sums) come from
    // the draw's own cell collect — the separate supply pass and the
    // shared cache are gone (see waterfillSampleByCostImpl)
    waterfillDraw(
      docs.select(col(idCol), col(groupCol)).withColumn("_ts_one", lit(1L)),
      idCol, groupCol, "_ts_one", alpha, _ => budget, seed, scope)
      .select(col(idCol), col(groupCol))
  }

  /** [[temperatureMix]] APPLIED: draw exactly each group's allocation of
    * documents, deterministically — per group, the first `alloc` docs in
    * md5(id) order (a seedable random permutation that every engine and
    * every re-run agrees on; the md5-threshold samplers give exact RATES,
    * this gives exact COUNTS, which is what a mixing budget demands). A
    * group whose allocation exceeds its size contributes all its docs.
    *
    * Scale shape (round-7: the per-group rank window removed — the
    * allocation limit is a COLUMN, so `WindowGroupLimit` can never prune
    * below the shuffle the way [[TextAnalysis.groupCap]]'s literal cap
    * does, and the op's intended use is corpus mixing where the DOMINANT
    * source's allocation is millions of docs: a window partitioned by
    * group would funnel most of the corpus through one task's sort).
    * Instead: the mixing table from [[temperatureMix]] is GROUP-
    * cardinality metadata (dozens of rows — collected), and the draw is
    * [[BudgetSelect.selectByBudgetPerGroup]] with unit cost — running
    * COUNT ≤ alloc in salted-md5 order is exactly "first alloc rows per
    * group". The corpus pays one range exchange on (group, md5, id);
    * per-(partition, group) counts are driver metadata; whole cells pass
    * with a codegen'd filter and only each group's single boundary cell
    * runs a window, keyed by (partition, group) — a dominant group's
    * draw spans MANY partitions instead of one task
    * (CurationScaleMain's dominant-group replay row pins it).
    *
    * Driver note: the collected mix table and BudgetSelect's prefix sums
    * make this operator EAGER at call time (like [[Stats.calibrateScores]]).
    * Complete actions on the result before `scope` closes. */
  /** Topic-balanced selection: [[temperatureSample]] with the group
    * played by the EMBEDDING-SPACE cluster instead of a metadata column
    * — the "don't let one topic dominate the mix" rung of a training-mix
    * pipeline (language/source tags catch provenance skew; half the web
    * being product pages is invisible to them and obvious to any coarse
    * clustering of the embeddings). Cells come from a caller-supplied
    * codebook frame (`_cid`, `_cv`) — `ivfTrain` k-means, a standing
    * IVF-PQ index's centroids, or the deterministic first-k anchor the
    * gate query uses — so the op composes with the serving stack's
    * cluster structure instead of re-training its own.
    *
    * Shape: [[graft.ops.Similarity.ivfAssign]]'s broadcast argmax (one
    * hash shuffle on the id, no corpus window) labels each vector with
    * its cell; the temperature draw then rides the
    * [[graft.ops.BudgetSelect.selectByBudgetPerGroup]] discipline over
    * (cell, salted md5) — the same zero-mega-group shape as q99.
    * Returns (idCol, cell_id) for the selected vectors. */
  def topicBalancedSample(vecs: DataFrame, idCol: String, vecCol: String,
                          cents: DataFrame, alpha: Double, budget: Long,
                          seed: String = "graft-temp",
                          scope: CacheScope = CacheScope.noop): DataFrame = {
    val assigned = graft.ops.Similarity.ivfAssign(cents, vecs, idCol, vecCol)
    temperatureSample(assigned, idCol, "cell_id", alpha, budget, seed, scope)
  }

  def temperatureSample(docs: DataFrame, idCol: String, groupCol: String,
                        alpha: Double, budget: Long,
                        seed: String = "graft-temp",
                        scope: CacheScope = CacheScope.noop): DataFrame = {
    require(alpha >= 0, s"alpha must be non-negative, got $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    // narrow (id, group) cache: still TWO consumers — the draw's range
    // exchange and the temperature total's count subtree (for
    // topicBalancedSample each would otherwise re-run ivfAssign's whole
    // broadcast-argmax shuffle)
    val base = scope.track(docs.select(col(idCol), col(groupCol)).cache())
    // round 15 (r14 verdict #6): group counts come from the draw's own
    // cell collect (exact longs — bit-identical to the previous separate
    // mix collect); the largest-remainder arithmetic replays on the
    // driver in the same IEEE order; ONLY the temperature total
    // `Σ pow(n,α)` stays a Spark aggregation over the VERBATIM previous
    // subtree — it is an UNORDERED float sum, and a driver re-summation
    // in a different order could flip an allocation by one ulp (the
    // documented temperatureMix exception).
    // Salted permutation (the groupCap lesson): ranking by unsalted
    // md5(id) would keep exactly the below-threshold hashes hashSplit
    // puts in train. A null group gets no budget — dropped, as the old
    // mix-table equi-join dropped it.
    BudgetSelect.selectByBudgetPerGroupByValue(
        base.withColumn("_ts_one", lit(1L)),
        groupCol, "_ts_one",
        // an empty corpus has no groups to allocate to (and its Σ over
        // zero groups is SQL null, not 0)
        supplies => if (supplies.isEmpty) Map.empty[String, Long] else {
          val tot = base.groupBy(col(groupCol).as("_g"))
            .agg(count(lit(1)).as("n_docs"))
            .agg(sum(pow(col("n_docs"), alpha)).as("_tot"))
            .collect()(0).getDouble(0)
          temperatureAllocsLocal(supplies, alpha, budget, tot)
        },
        scope,
        md5(concat(lit(s"$seed|"), col(idCol).cast("string"))), col(idCol))
      .select(col(idCol), col(groupCol))
  }

  /** Driver-side replication of [[temperatureMix]]'s per-group
    * allocation arithmetic over cell-derived group counts — the same
    * IEEE expressions in the same order (`_w = pow(n,α)/tot`,
    * `_base = floor(_w·budget)`, `_frac = _w·budget − _base`, rank by
    * (_frac desc, group asc) in Spark's sort semantics, largest-remainder
    * distribution of `budget − Σ_base`), with `tot` computed BY SPARK
    * over the previous plan's verbatim subtree (see temperatureSample).
    * The null group participates in the arithmetic (as it did in the mix
    * table) and is dropped from the returned map (no string key). */
  private def temperatureAllocsLocal(
      supplies: Seq[(Any, BudgetSelect.GroupSupply)],
      alpha: Double, budget: Long, tot: Double): Map[String, Long] = {
    case class R(gs: Option[String], raw: Any, w: Double, base: Long, frac: Double)
    val rs = supplies.map { case (raw, BudgetSelect.GroupSupply(gs, s)) =>
      val n = s.getOrElse(0L) // unit costs: None impossible, count >= 1
      val w = math.pow(n.toDouble, alpha) / tot
      val b = math.floor(w * budget).toLong
      R(gs, raw, w, b, w * budget - b)
    }
    val rem = budget - rs.map(_.base).sum
    // (_frac desc, _g asc): Double.compare puts NaN greatest, so negating
    // it yields NaN-first under desc — Spark's window order
    val ranked = rs.sortWith { (a, b) =>
      val c = -java.lang.Double.compare(a.frac, b.frac)
      if (c != 0) c < 0 else sparkKeyCompare(a.raw, b.raw) < 0
    }
    ranked.zipWithIndex.flatMap { case (r, i) =>
      r.gs.map(_ -> (r.base + (if ((i + 1) <= rem) 1L else 0L)))
    }.toMap
  }
}
