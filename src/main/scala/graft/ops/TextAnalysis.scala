package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, and document
  * fingerprinting. All are codegen-friendly compositions of built-in
  * functions (no UDFs) and operate row-local — they scale linearly with no
  * shuffle.
  *
  * Hash choice: md5 — bit-identical across engines (used by the DuckDB
  * oracle), content-stable across runs/partitions.
  */
object TextAnalysis {

  /** Whitespace tokenization of the lower-cased, trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Characters per token ratio, punctuation density, and a simple
    * quality gate — the usual cheap pre-filters before expensive dedup. */
  def punctRatio(text: Column, punct: String = "[.,!?;:]"): Column =
    // nullif: an empty document must yield null, not an ANSI DIVIDE_BY_ZERO
    // (Spark 4 runs with ANSI mode on by default)
    (length(text) - length(regexp_replace(text, punct, ""))) / nullif(length(text), lit(0))

  /** Ratio of tokens found in a stopword list — the building block of the
    * n-gram/stopword language-ID heuristic. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(text)
    size(filter(t, w => array_contains(lit(stopwords.toArray), w))) / size(t)
  }

  /** Stopword-scored language ID: the language whose stopword list scores
    * the highest ratio, or "und" below `minRatio`. Scores tie-break by
    * list order. */
  def langId(text: Column, lists: Seq[(String, Seq[String])], minRatio: Double = 0.05): Column = {
    val scored = lists.map { case (lang, words) => lang -> stopwordRatio(text, words) }
    val best = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bl, bs), (lang, s)) =>
        (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(best._2 >= minRatio, best._1).otherwise(lit("und"))
  }

  /** Label-vs-content agreement audit: the confusion table between a
    * METADATA label column (a crawl's declared `lang`, a vendor's topic
    * tag) and a content-derived prediction (e.g. [[langId]]) — the
    * label-quality check run before any pipeline TRUSTS the metadata
    * (per-language mixing, lang-filtered dedup, per-topic quotas all
    * silently inherit label errors). Each (label, predicted) cell
    * carries its doc count and its share WITHIN the label row — a
    * healthy label has one dominant cell; mass spread across a row is
    * the mislabeled-source symptom.
    *
    * One narrow two-key aggregation over (label, pred); the share
    * window runs on the AGGREGATED confusion table, which is
    * labels × predictions — metadata-sized at any corpus scale (the
    * repo's group-table window discipline). Returns (labelCol, predCol,
    * n_docs, share). */
  def labelAgreement(docs: org.apache.spark.sql.DataFrame,
                     labelCol: String, predCol: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(labelCol))
    docs.groupBy(col(labelCol), col(predCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share", round(col("n_docs") / sum(col("n_docs")).over(w), 6))
  }

  /** Whitespace-normalized content fingerprint (exact-dup key). */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Deflate compression ratio — see [[graft.functions.DeflateRatio]];
    * the Gopher-style repetitiveness filter drops docs below `minRatio`
    * (templated/looping junk compresses hard). */
  def compressionRatio(text: Column, level: Int = 6): Column =
    graft.functions.CompressExprs.deflateRatio(text, level)

  /** Hashed-feature linear quality score — the deterministic skeleton of
    * a fasttext-style quality classifier: each token hashes to a signed
    * integer micro-weight (md5-derived — engine-independent, the repo's
    * RNG-free constant discipline; a TRAINED model ships its weights the
    * same way, as a seed→table swap), the document score is the mean
    * token weight. The per-token weights are exact int64s and the sum is
    * integer (order-independent — the q86/q88 micro-ratio trick), so the
    * only float op is the final division and cross-engine oracles agree
    * bit-for-bit. Row-local, shuffle-free, one md5 per token.
    *
    * Score = Σ w(tok) / (n_tokens · microScale) ∈ ~[-1, 1], where
    * w(tok) = (first 6 md5 hex digits of "seed|tok") mod (2·scale+1)
    * − scale. */
  def hashedLinearScore(text: Column, seed: String = "graft-q",
                        microScale: Long = 1000000L): Column = {
    val t = filter(tokens(text), w => w =!= "")
    val w = aggregate(t, lit(0L), (acc, tok) => acc +
      conv(substring(md5(concat(lit(seed + "|"), tok)), 1, 6), 16, 10).cast("long")
        % lit(2 * microScale + 1) - lit(microScale))
    when(size(t) > 0, w.cast("double") / size(t) / microScale)
  }

  /** A BPE-ish subword count approximation: words plus punctuation marks
    * (cheap token-count estimate for budget accounting). Punctuation is
    * counted by length difference — a codegen'd string op — instead of a
    * per-character split+filter walk. */
  def subwordCount(text: Column, punct: String = "[.,!?;:]"): Column =
    (size(split(trim(text), "\\s+"))
      + (length(text) - length(regexp_replace(text, punct, "")))).cast("long")

  /** The stopword tripwire of [[gopherQualityGate]] — the paper's exact
    * list: a document of real English prose almost cannot avoid two of
    * these; keyword spam, code dumps and lorem-noise routinely do. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The published Gopher document-quality rule set (Rae et al. 2021,
    * §A1.1.2 — the filter FineWeb/Dolma-style pipelines reuse) as ONE
    * row-local projection: word count inside [minWords, maxWords], mean
    * word length inside [minMeanLen, maxMeanLen], fraction of words
    * containing an alphabetic character ≥ minAlphaFrac, at least
    * minStopHits occurrences from [[GopherStopwords]], and a '#'/'...'
    * symbol-to-word ratio ≤ maxSymbolRatio. Emits every feature beside
    * the verdict so a curator tunes thresholds from the same table
    * instead of re-scanning the corpus per candidate rule. (The
    * reference has no text operators — carrottransform is OMOP ETL;
    * this extends the engine's curation family.)
    *
    * Scale shape: ZERO shuffles — every feature is an expression over
    * the doc's own token array, so the gate composes into any scan
    * stage and costs one map pass at any corpus size. Ratios are raw
    * IEEE divisions of exact integers (the q98 discipline: identical
    * integers divide to bit-identical doubles on any engine; it is
    * ROUNDING that desyncs engines at decimal boundaries). */
  /** The verdict column of [[gopherQualityGate]] ALONE — the same
    * row-local rule set as a single Column, for composing the gate
    * directly into a scan-stage `filter` (round 14, guide §2.4: the
    * frame-returning form forces an id⋈id semi join back onto the corpus
    * when only the verdict is needed — a whole extra shuffle of the
    * corpus at scale; a filter is free). Kept expression-identical to
    * the gate so both paths admit exactly the same documents. */
  def gopherOkCol(text: Column,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
                  maxSymbolRatio: Double = 0.1,
                  stopwords: Seq[String] = GopherStopwords): Column = {
    val t = trim(text)
    val w = split(t, "\\s+")
    val lw = split(lower(t), "\\s+")
    val n = size(w)
    val meanLen = length(regexp_replace(t, "\\s+", "")).cast("double") / n
    val alphaFrac = size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") / n
    val stopHits = size(filter(lw, x => array_contains(lit(stopwords.toArray), x)))
    val hashes = length(t) - length(regexp_replace(t, "#", ""))
    val ellipses = (length(t) - length(replace(t, lit("..."), lit("")))) / lit(3)
    val symbolRatio = (hashes + ellipses) / n
    when(n >= minWords && n <= maxWords &&
        meanLen >= minMeanLen && meanLen <= maxMeanLen &&
        alphaFrac >= minAlphaFrac && stopHits >= minStopHits &&
        symbolRatio <= maxSymbolRatio, 1).otherwise(0)
  }

  def gopherQualityGate(df: DataFrame, idCol: String, textCol: String,
                        minWords: Int = 50, maxWords: Int = 100000,
                        minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                        minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
                        maxSymbolRatio: Double = 0.1,
                        stopwords: Seq[String] = GopherStopwords): DataFrame = {
    val t = trim(col(textCol))
    val w = split(t, "\\s+")           // raw-case words: lengths, alpha test
    val lw = split(lower(t), "\\s+")   // lowered words: stopword hits
    val n = size(w)
    val meanLen = length(regexp_replace(t, "\\s+", "")).cast("double") / n
    val alphaFrac = size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") / n
    val stopHits = size(filter(lw, x => array_contains(lit(stopwords.toArray), x)))
    val hashes = length(t) - length(regexp_replace(t, "#", ""))
    val ellipses = (length(t) - length(replace(t, lit("..."), lit("")))) / lit(3)
    val symbolRatio = (hashes + ellipses) / n
    df.select(col(idCol),
      n.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      alphaFrac.as("alpha_frac"),
      stopHits.cast("long").as("stop_hits"),
      symbolRatio.as("symbol_ratio"),
      gopherOkCol(col(textCol), minWords, maxWords, minMeanLen, maxMeanLen,
        minAlphaFrac, minStopHits, maxSymbolRatio, stopwords).as("gopher_ok"))
  }

  /** The published Gopher REPETITION rule set (Rae et al. 2021, §A1.1.1 —
    * [[gopherQualityGate]] covers the quality half, this the within-doc
    * repetition half the same pipelines run beside it): duplicate-line
    * fraction and duplicate-line CHARACTER fraction, the character share
    * of the single most frequent word n-gram (`topNs`, paper 2→0.20,
    * 3→0.18, 4→0.16 — occurrences × gram chars can over-count overlaps,
    * as in the paper), and the character share COVERED by word n-grams
    * repeating within the doc (`repNs`, paper 5→0.15 … 10→0.10 —
    * position-coverage, no double counting, the Lee-et-al accounting
    * [[graft.ops.Dedup.dupSpanRemove]] uses corpus-wide). Every feature
    * is emitted beside the verdict (the [[gopherQualityGate]] discipline)
    * so thresholds tune from one table; a doc too short for an n-gram
    * family yields null there, and a null feature cannot fire its rule.
    *
    * Scale shape: ZERO shuffles — every feature comes from ONE native
    * single-pass expression per row ([[graft.functions.RepetitionStats]];
    * hash-map gram tallies, O(text · |families|)), so the gate composes
    * into any scan stage. Fractions are raw IEEE divisions of exact
    * integers (the q98 discipline). */
  def gopherRepetitionGate(df: DataFrame, idCol: String, textCol: String,
                           maxDupLineFrac: Double = 0.30,
                           maxDupLineCharFrac: Double = 0.20,
                           topNs: Seq[(Int, Double)] =
                             Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
                           repNs: Seq[(Int, Double)] =
                             Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13,
                                 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)): DataFrame = {
    require((topNs.map(_._1) ++ repNs.map(_._1)).forall(_ >= 2),
      "n-gram sizes must be >= 2")
    // ONE native single-pass expression per row
    // ([[graft.functions.RepetitionStats]]) — the features are NOT a HOF
    // composition on purpose: interpreted lambdas re-evaluate any
    // captured subtree per element, and Catalyst predicate pushdown
    // SUBSTITUTES aliases into a pushed filter, so even a carefully
    // level-materialized HOF form collapses back into a per-element
    // re-evaluation monster the moment anyone filters on `rep_ok`
    // (measured: minutes for 500 short docs). A single expression node
    // is substitution-proof — a pushed-down verdict filter costs at most
    // one extra single-pass eval per row. The struct lands as its own
    // column and the fields are extracted in a second projection
    // (multi-consumption keeps CollapseProject from inlining the
    // expression once per field).
    val stats = graft.functions.RepetitionExprs.repetitionStats(
      col(textCol), maxDupLineFrac, maxDupLineCharFrac, topNs, repNs)
    val fieldNames =
      Seq("n_words", "n_lines", "dup_line_frac", "dup_line_char_frac") ++
        topNs.map { case (n, _) => s"top${n}_char_frac" } ++
        repNs.map { case (n, _) => s"rep${n}_char_frac" } :+ "rep_ok"
    df.select(col(idCol), stats.as("_rg"))
      .select(col(idCol) +: fieldNames.map(f => col("_rg")(f).as(f)): _*)
  }


  /** Deterministic hash-based dataset split (train/val/test): the split of
    * a row is a pure function of its key's md5 — stable across runs,
    * repartitionings, cluster sizes and engines, which rand()-based
    * sampling can never be. Membership is decided by comparing the first 8
    * md5 hex chars (lower-case, lexicographic == numeric for fixed-width
    * hex) against cumulative-fraction thresholds, so fractions are honored
    * to 2⁻³² granularity. The standard way to cut reproducible training
    * splits at corpus scale: no shuffle, no state, row-local. */
  def hashSplit(key: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "positive split fractions required")
    val h = substring(md5(key.cast("string")), 1, 8)
    val total = splits.map(_._2).sum
    val cum = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f / total }.tail
    val bounds = splits.map(_._1).zip(cum)
    bounds.init.foldRight(lit(bounds.last._1): Column) { case ((name, c), acc) =>
      val hex = "%08x".format(math.min((c * 4294967296.0).toLong, 0xffffffffL))
      when(h < lit(hex), lit(name)).otherwise(acc)
    }
  }

  /** Latin-1 accented letters and their ASCII folds — the translate
    * table of [[normalizeForDedup]] (codepoint-for-codepoint, both
    * engines' `translate` semantics). */
  private[graft] val AccentFrom = "áàâäãåéèêëíìîïóòôöõúùûüçñý"
  private[graft] val AccentTo   = "aaaaaaeeeeiiiiooooouuuucny"

  /** Aggressive text canonicalization BEFORE hashing — the CCNet/Dolma
    * normalize-then-dedup rung (Wenzek et al. 2020 normalize before
    * paragraph hashing): lowercase, fold Latin-1 accents to ASCII
    * ([[AccentFrom]]→[[AccentTo]]), fold every digit to `0` (prices,
    * dates and counters stop distinguishing otherwise-identical
    * boilerplate), replace everything outside `[a-z0 ]` with a space,
    * collapse whitespace, trim. Exact-dup classes over the normalized
    * text catch the near-identical boilerplate raw fingerprints miss
    * (punctuation variants, "© 2023" vs "© 2024" footers) at exact-dedup
    * cost — one hash groupBy, no pair generation.
    *
    * Row-local, zero-shuffle, no UDFs: a lower + translate + three
    * regexp_replace chain, all codegen'd, all RE2-safe (no lookaround,
    * no backreferences) so the DuckDB oracle replays it verbatim. */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          translate(lower(text), AccentFrom, AccentTo),
          "[0-9]", "0"),
        "[^a-z0 ]", " "),
      "\\s+", " "))

  /** Token-length bucket for batch packing / curriculum bucketing: docs of
    * similar length batch together so padding waste stays bounded. Bucket
    * `i` holds token counts in [i·width, (i+1)·width), capped at
    * `maxBucket` (the long tail shares the last bucket). Row-local. */
  def lengthBucket(text: Column, width: Int, maxBucket: Int): Column =
    least(floor(size(split(trim(text), "\\s+")) / lit(width.toDouble)), lit(maxBucket.toLong))
      .cast("long")

  /** Word n-grams of the lower-cased text in positional order, duplicates
    * KEPT — the denominator of repetition metrics (unlike
    * [[graft.ops.Dedup.shingles]], which distincts for set similarity).
    * Texts shorter than n words yield an empty array. */
  def rawNgrams(text: Column, n: Int): Column = {
    val w = split(lower(trim(text)), "\\s+")
    val grams = transform(sequence(lit(0), size(w) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*))
    when(size(w) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /** Fraction of tokens that are repeats of an earlier token:
    * 1 − |distinct| / |total|. The cheap Gopher/RefinedWeb-style repetition
    * signal — template/boilerplate pages score high and get filtered before
    * the expensive dedup stages. Null for empty texts (never a
    * divide-by-zero under ANSI mode). Row-local, shuffle-free. */
  def dupTokenFrac(text: Column): Column = {
    val t = tokens(text)
    lit(1.0) - size(array_distinct(t)) / nullif(size(t), lit(0))
  }

  /** Fraction of word n-grams that are repeats (1 − distinct/total over
    * POSITIONAL n-grams) — catches phrase-level boilerplate that token-level
    * repetition misses. Null when the text has fewer than n words. */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val g = rawNgrams(text, n)
    lit(1.0) - size(array_distinct(g)) / nullif(size(g), lit(0))
  }

  /** Deterministic per-stratum hash sampling: keep a row iff the first 8 md5
    * hex chars of its key fall under its stratum's cumulative-fraction
    * threshold. The standard corpus-rebalancing primitive (e.g. downsample
    * the dominant language, keep the tail) — a pure row-local filter:
    * reproducible across runs/partitionings/engines, no shuffle, no
    * per-group state, unlike `df.stat.sampleBy` (seeded RNG, not
    * cross-engine stable). Strata absent from `fractions` use
    * `defaultFraction`. */
  def stratifiedSampleFilter(key: Column, stratum: Column,
                             fractions: Map[String, Double],
                             defaultFraction: Double,
                             seed: String = "graft-strat"): Column = {
    // salted keyspace (the groupCap lesson): an unsalted threshold on
    // md5(key) is the same function hashSplit thresholds, so a fraction
    // f ≤ the train share selects ONLY train-split rows when composed
    val h = substring(md5(concat(lit(s"$seed|"), key.cast("string"))), 1, 8)
    def hex(f: Double) = "%08x".format(
      math.max(0L, math.min((f * 4294967296.0).toLong, 0xffffffffL)))
    // deterministic build order so the generated plan is stable run-to-run
    fractions.toSeq.sortBy(_._1).foldLeft(h < lit(hex(defaultFraction))) {
      case (acc, (s, f)) => when(stratum === lit(s), h < lit(hex(f))).otherwise(acc)
    }
  }

  /** Per-group cap: keep at most `cap` rows per group, chosen by a
    * deterministic md5 priority over the row key (ties → the key itself).
    * The "at most N pages per domain" rule every crawl-curation pipeline
    * applies so no single domain dominates the mixture (RefinedWeb/C4
    * practice) — with a content-stable choice of WHICH rows survive, so
    * reruns and engines agree (a `rand()`-ranked cap is neither).
    *
    * The priority hash is SALTED (`md5(seed|key)`), and that salt is
    * load-bearing: an unsalted `md5(key)` is the SAME function
    * [[hashSplit]] thresholds, so "keep the cap lowest hashes" selects
    * exactly the keys whose hash falls below the train boundary — a
    * binding cap then lands 100% of survivors in the train split
    * (observed at sf0.1: 1000/1000 capped docs in train, zero eval).
    * Every deterministic-hash operator that composes with another must
    * hash a DIFFERENT keyspace; the seed makes that explicit.
    *
    * Scale shape: one shuffle on the group key and a per-group
    * `row_number` window — no global window. What protects a SKEWED
    * group is `WindowGroupLimit`: the literal `cap_rank <= cap` filter
    * lets Spark push a partial per-group top-`cap` BELOW the exchange
    * (each map task forwards at most `cap` rows per group it sees), so a
    * million-row group never funnels through one task's sort. That
    * pushdown only fires while `cap` stays at or under
    * `spark.sql.window.group.limit.threshold` (default 1000) — keep the
    * cap within it, or raise the conf alongside; PlanSpec pins the
    * partial limit below the exchange so a regression is caught. (AQE
    * does NOT split window partitions — the limit rule is the actual
    * mechanism.) Returns the surviving rows with their `cap_rank`
    * (1-based priority order within the group). */
  def groupCap(df: DataFrame, groupCol: String, keyCol: String,
               cap: Int, seed: String = "graft-cap"): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(concat(lit(s"$seed|"), col(keyCol).cast("string"))), col(keyCol))
    df.withColumn("cap_rank", row_number().over(w).cast("long"))
      .filter(col("cap_rank") <= cap)
  }

  /** Deterministic WEIGHTED sampling: keep a row with probability
    * `weight` (clamped to [0,1]) as a pure function of its key — the
    * quality-weighted variant of [[stratifiedSampleFilter]] (sample
    * high-quality documents preferentially, keep a trickle of the rest;
    * the usual soft-filter stage between quality scoring and training).
    * Compares the key's first 8 md5 hex chars against the weight scaled
    * to 2³² — row-local, reproducible, cross-engine. */
  def weightedSampleFilter(key: Column, weight: Column,
                           seed: String = "graft-weight"): Column = {
    // salted keyspace — see stratifiedSampleFilter/groupCap
    val h = conv(substring(md5(concat(lit(s"$seed|"), key.cast("string"))), 1, 8),
      16, 10).cast("long")
    // floor before the integer compare: Spark's double→long cast truncates
    // but DuckDB's rounds, so the explicit floor is the cross-engine form
    h < floor(least(greatest(weight, lit(0.0)), lit(1.0)) * lit(4294967296.0)).cast("long")
  }

  /** Sliding-window document chunking: split a document into token windows
    * of `chunkSize` with `overlap` tokens shared between consecutive chunks
    * — the context-window preprocessing step of every LLM training
    * pipeline. Returns `array<struct<idx: int, chunk: string>>`; documents
    * at most `chunkSize` tokens long yield one chunk (the whole text).
    * Row-local, shuffle-free; the caller explodes. Chunk count for n
    * tokens is 1 + ⌈(n − chunkSize) / (chunkSize − overlap)⌉ — every
    * token is covered, the final chunk may be short. */
  def chunkTokens(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > overlap && overlap >= 0, "need chunkSize > overlap >= 0")
    val stride = chunkSize - overlap
    val t = tokens(text)
    val extra = greatest(size(t) - chunkSize, lit(0))
    // ceil(extra / stride) as floor over non-negative ints — exact, and
    // the intermediate double is exact too (token counts << 2^53)
    val nc = (lit(1) + floor((extra + (stride - 1)) / lit(stride))).cast("int")
    transform(sequence(lit(0), nc - 1), i => struct(
      i.cast("int").as("idx"),
      concat_ws(" ", slice(t, i * stride + 1, lit(chunkSize))).as("chunk")))
  }

  /** Winnowing document fingerprints (the standard k-gram/window scheme from
    * the MOSS local-fingerprinting literature): hash every word k-gram in
    * ORDER (not a distinct set), slide a window of `w` consecutive hashes,
    * keep each window's minimum, and return the distinct selected hashes.
    * Guarantees any shared run of ≥ w+k-1 words contributes a shared
    * fingerprint — positional, unlike MinHash's set sketch.
    *
    * md5 as the hash family: bit-identical in the DuckDB oracle. Row-local,
    * shuffle-free; built only from codegen-friendly array functions. */
  def winnowingFingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    // one-pass custom expression: the composable form — transform(sequence)
    // over array_min(slice(grams, j, w)) — re-evaluates the whole gram
    // array inside the window lambda (no common-subexpression elimination
    // across higher-order-function boundaries), going O(n²) in md5 calls
    graft.functions.ShingleExprs.winnowingFingerprints(text, k, w)

  /** Fixed-length sequence packing — the GPT-pretraining concat-and-chunk
    * layout: the corpus token stream, concatenated in id order, is cut
    * into sequences of exactly `seqLen` tokens, and each document learns
    * which sequences it lands in: its global starting offset and the
    * first/last sequence indexes it touches ([[chunkTokens]] cuts WITHIN
    * a document; this packs ACROSS documents, so short docs share
    * sequences and long docs span several).
    *
    * The global running offset is a [[RangeScan]] of the documents in id
    * order, not a single-partition window: each row takes its partition's
    * offset plus a WITHIN-partition exclusive running sum, so window state
    * is bounded by one partition's rows at any corpus size and all
    * partitions run in parallel.
    *
    * Returns (idCol, n_tokens, start_off, seq_first, seq_last). Integral
    * arithmetic throughout — offsets are exact and engine-independent. */
  def sequencePack(df: DataFrame, idCol: String, textCol: String, seqLen: Int,
                   scope: CacheScope = CacheScope.noop): DataFrame =
    sequencePackBy(df, idCol, textCol, seqLen, None, scope)

  /** [[sequencePack]] resuming from a prior global token offset — the
    * incremental-ingestion form: a new slice of corpus packs as the
    * CONTINUATION of the stream already packed (offsets, sequence
    * indexes continue where the last slice stopped), without touching
    * the packed history. `startOffset` is the token total packed so far
    * (the previous call's `max(start_off + n_tokens)`). Used by the
    * streaming packing sink, where each microbatch extends the stream. */
  def sequencePackFrom(df: DataFrame, idCol: String, textCol: String,
                       seqLen: Int, startOffset: Long,
                       scope: CacheScope = CacheScope.noop): DataFrame = {
    require(startOffset >= 0, s"startOffset must be >= 0, got $startOffset")
    sequencePackBy(df, idCol, textCol, seqLen, None, scope, startOffset)
  }

  /** [[sequencePack]] with the stream order shuffled per training epoch:
    * the concatenation order is `md5(seed|epoch|id)` instead of id — a
    * deterministic pseudorandom permutation, so every epoch presents the
    * corpus in a different sequence layout (the standard pretraining
    * practice: re-shuffle between epochs so batch composition differs)
    * WITHOUT materializing a shuffled copy of the corpus. Changing
    * `epoch` re-keys the range exchange only; token totals, sequence
    * count, and per-doc spans' coverage are invariant. Any engine can
    * replay the order (md5 of a plain string), so the result stays
    * oracle-able. */
  def epochShuffledPack(df: DataFrame, idCol: String, textCol: String,
                        seqLen: Int, epoch: Int, seed: String = "graft-epoch",
                        scope: CacheScope = CacheScope.noop): DataFrame =
    sequencePackBy(df, idCol, textCol, seqLen,
      Some(md5(concat_ws("|", lit(seed), lit(epoch.toString),
        col(idCol).cast("string")))), scope)

  /** Materializes the packed TRAINING SEQUENCES [[sequencePack]] only
    * indexes: every document is exploded into the (few) sequences its
    * span touches, each fragment is the token slice that lands there,
    * and sequences reassemble by fragment offset — the actual
    * fixed-`seqLen` examples a trainer reads, with documents crossing
    * sequence boundaries exactly as the concat-and-chunk layout
    * dictates. Returns (seq_id, seq_text, n_docs, n_tokens); every
    * sequence has exactly `seqLen` tokens except the final remainder.
    *
    * Scale shape: the span index is the proven pack (range exchange +
    * driver prefix sums); fragments are ≤ n_tokens/seqLen + 1 rows per
    * doc (the explode multiplies rows, not bytes — each token is
    * emitted once); assembly is ONE shuffle on seq_id with bounded
    * groups (a group holds at most seqLen tokens), the
    * [[graft.ops.Dedup.chunkDedupRebuild]] collect-sort-concat pattern.
    * Token text moves through exactly one exchange — there is no way to
    * build cross-document sequences without moving the tokens once. */
  def sequenceAssemble(df: DataFrame, idCol: String, textCol: String,
                       seqLen: Int,
                       scope: CacheScope = CacheScope.noop): DataFrame = {
    val spans = sequencePack(df, idCol, textCol, seqLen, scope)
    val toks = df.select(col(idCol), tokens(col(textCol)).as("_w"))
    spans.join(toks, Seq(idCol))
      .select(col("start_off"), col("n_tokens"), col("_w"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .withColumn("_fs", greatest(col("seq_id") * seqLen, col("start_off")))
      .withColumn("_fe", least((col("seq_id") + 1) * seqLen,
        col("start_off") + col("n_tokens")))
      .select(col("seq_id"), col("_fs"), (col("_fe") - col("_fs")).as("_fl"),
        (col("_fs") - col("seq_id") * seqLen).as("_rel"),
        concat_ws(" ", slice(col("_w"),
          (col("_fs") - col("start_off") + 1).cast("int"),
          (col("_fe") - col("_fs")).cast("int"))).as("_frag"))
      .groupBy(col("seq_id"))
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_fs"), col("_frag")))),
          s => s.getField("_frag"))).as("seq_text"),
        count(lit(1)).as("n_docs"),
        sum(col("_fl")).as("n_tokens"),
        // fragment starts RELATIVE to the sequence, dash-joined — the
        // attention-mask metadata a trainer needs to stop cross-document
        // attention inside a packed sequence (a scalar string, not an
        // array: comparators sort rows by value — the q65 lesson)
        concat_ws("-", transform(
          array_sort(collect_list(struct(col("_fs"), col("_rel")))),
          s => s.getField("_rel"))).as("boundaries"))
  }

  /** Grouped sequence packing — one INDEPENDENT token stream per group:
    * "never pack two languages (or sources, or modalities) into one
    * training sequence". Each group's documents concatenate in id order
    * into that group's own stream, with offsets and sequence indexes
    * counted from that group's zero — adding documents to one group
    * cannot move another group's layout (spec-pinned), which is what
    * makes per-group re-packs incremental.
    *
    * Scale shape: a [[RangeScan]] grouped by group and ordered by id, so
    * every window is keyed by (partition, group): window state is bounded
    * by one partition regardless of group size, and a giant group still
    * parallelizes across its partitions.
    *
    * Returns (idCol, groupCol, n_tokens, start_off, seq_first,
    * seq_last), offsets within the group's stream. */
  def groupedSequencePack(df: DataFrame, idCol: String, textCol: String,
                          groupCol: String, seqLen: Int,
                          scope: CacheScope = CacheScope.noop): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val scan = RangeScan(df.select(col(idCol).as("_id"), col(groupCol).as("_g"),
        tokenCount(col(textCol)).as("n_tokens")),
      "_gp_pid", scope, Some(col("_g")), Seq(col("_id")))
    scan.withOffsets(scan.cells[Long](col("n_tokens")), "_gp_off")
      .withColumn("start_off",
        col("_gp_off") + coalesce(scan.running(col("n_tokens"), inclusive = false), lit(0L)))
      .select(col("_id").as(idCol), col("_g").as(groupCol), col("n_tokens"),
        col("start_off"),
        expr(s"start_off div $seqLen").as("seq_first"),
        expr(s"(start_off + n_tokens - 1) div $seqLen").as("seq_last"))
  }

  /** Curriculum packing — [[sequencePack]] with the stream order given
    * by a caller-chosen DIFFICULTY key instead of the id: easy documents
    * (short, high-quality, low-perplexity — whatever `orderCol` encodes)
    * pack into the early sequences, hard ones into the late, so a
    * curriculum-learning schedule falls out of sequence order with no
    * extra shuffle beyond the pack's own range exchange. Ties break by
    * id (the [[epochShuffledPack]] total-order contract), so the layout
    * is deterministic and oracle-able for any engine-replayable key.
    * Same scale discipline as the siblings: range partition on the
    * order key, driver prefix sums, bounded per-partition windows. */
  def curriculumPack(df: DataFrame, idCol: String, textCol: String,
                     seqLen: Int, orderCol: org.apache.spark.sql.Column,
                     scope: CacheScope = CacheScope.noop): DataFrame =
    sequencePackBy(df, idCol, textCol, seqLen, Some(orderCol), scope)

  /** Packing-efficiency report — the seqLen decision table run BEFORE a
    * corpus-scale pack: for each candidate sequence length, how many
    * training sequences does the concat-and-chunk layout produce, how
    * much tail padding, and — the number that actually moves the
    * choice — what fraction of documents get SPLIT across a sequence
    * boundary (each split truncates attention mid-document). Sweeping
    * this by re-running [[sequencePack]] per candidate pays the
    * token-count scan and the offset exchange |seqLens| times; one pass
    * instead: the global running offset is seqLen-INDEPENDENT (it is
    * just the cumulative token count in stream order), so the proven
    * pack runs once and every candidate length is pure row-local
    * arithmetic over its (n_tokens, start_off) output, fanned out over
    * the literal seqLen array and re-aggregated.
    *
    * Returns one row per distinct seqLen: (seq_len, n_docs, tok_total,
    * n_seqs, pad_tokens, n_split, split_frac, docs_per_seq) where
    * `pad_tokens` is the final-sequence remainder (concat-and-chunk has
    * no interior padding), `n_split` counts documents whose span crosses
    * a boundary, and `docs_per_seq` is the mean number of documents a
    * sequence touches (fragments per sequence — the attention-mask
    * complexity knob). The two fractions are raw IEEE quotients of
    * exact integers (the q98 discipline).
    *
    * Scale shape: downstream of the one pack, rows are three ints wide;
    * the explode multiplies that narrow frame by |seqLens| and the
    * aggregate combines map-side (count/sum/max all partial-aggregable)
    * into |seqLens| rows. */
  def packingStats(df: DataFrame, idCol: String, textCol: String,
                   seqLens: Seq[Int],
                   scope: CacheScope = CacheScope.noop): DataFrame = {
    require(seqLens.nonEmpty, "seqLens must be non-empty")
    require(seqLens.forall(_ > 0), s"seqLens must be positive, got $seqLens")
    val ls = seqLens.distinct.sorted.map(_.toLong)
    val packed = sequencePack(df, idCol, textCol, ls.head.toInt, scope)
      .select(col("n_tokens"), col("start_off"))
    packed
      .select(col("n_tokens"), col("start_off"),
        explode(typedLit(ls)).as("seq_len"))
      .withColumn("_sf", expr("start_off div seq_len"))
      .withColumn("_sl", expr("(start_off + n_tokens - 1) div seq_len"))
      .groupBy(col("seq_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tok_total"),
        (max(col("_sl")) + 1L).as("n_seqs"),
        sum(when(col("_sl") > col("_sf"), 1L).otherwise(0L)).as("n_split"),
        sum(col("_sl") - col("_sf")).as("_extra"))
      .select(col("seq_len"), col("n_docs"), col("tok_total"), col("n_seqs"),
        (col("n_seqs") * col("seq_len") - col("tok_total")).as("pad_tokens"),
        col("n_split"),
        (col("n_split").cast("double") / col("n_docs")).as("split_frac"),
        ((col("_extra") + col("n_docs")).cast("double") / col("n_seqs"))
          .as("docs_per_seq"))
  }

  /** Core packing with a pluggable stream order. `orderKey` (evaluated
    * against `df`'s columns) defines the concatenation order, tie-broken
    * by id for a total order; None = id order. A [[RangeScan]] in that
    * order, offsets counted from `startOffset`. */
  private def sequencePackBy(df: DataFrame, idCol: String, textCol: String,
                             seqLen: Int, orderKey: Option[org.apache.spark.sql.Column],
                             scope: CacheScope, startOffset: Long = 0L): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val scan = RangeScan(df.select(col(idCol).as("_id"), tokenCount(col(textCol)).as("n_tokens"),
        orderKey.getOrElse(col(idCol)).as("_ok")),
      "_sp_pid", scope, None, Seq(col("_ok"), col("_id")))
    scan.withOffsets(scan.cells[Long](col("n_tokens")), "_sp_off")
      .withColumn("start_off", lit(startOffset) + col("_sp_off")
        + coalesce(scan.running(col("n_tokens"), inclusive = false), lit(0L)))
      .select(col("_id").as(idCol), col("n_tokens"), col("start_off"),
        expr(s"start_off div $seqLen").as("seq_first"),
        expr(s"(start_off + n_tokens - 1) div $seqLen").as("seq_last"))
  }
}
