package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape:
  *
  *  - exact: hash-groupBy on a content fingerprint (one shuffle on the
  *    fingerprint — never on the full text).
  *  - MinHash + LSH: shingle → k minhashes → band keys → bucket join.
  *    Candidate generation shuffles on small band keys; only candidate
  *    pairs pay the exact-similarity verification.
  *  - n-gram Jaccard: exact pairwise similarity via an inverted shingle
  *    index (explode + self-join on shingle, count-based Jaccard) — no
  *    O(n²) cross join.
  *  - SimHash: bit-majority signature; near-dups differ in few bits.
  *
  * The minhash and simhash families use md5 (bit-identical in the DuckDB
  * oracle).
  */
object Dedup {

  /** Materialized (_id, _sh, _shh, _size) shingle sets: the string shingles
    * plus a SORTED `array<long>` of xxhash64(shingle) (`_shh`), which is
    * what the pairwise verify stages intersect — a codegen'd merge-count
    * over 8-byte keys instead of a per-pair hash set of n-gram strings.
    * |intersect(h(A), h(B))| == |intersect(A, B)| up to a 2⁻⁶⁴ per-pair
    * hash collision (which could only over-count), so Jaccard values are
    * unchanged and cross-engine oracles that intersect the string sets
    * still agree.
    *
    * Two scale measures: (1) repartition to full parallelism BEFORE the
    * CPU-heavy shingling — a handful of input splits would otherwise
    * single-thread it (higher-order-function expressions are interpreted,
    * not codegen'd, so this stage dominates); (2) cache — every consumer
    * (inverted index, df filter, candidate verify) reuses the sets instead
    * of re-shingling the corpus. Public so callers running SEVERAL dedup
    * flavors over one corpus (LSH + exact Jaccard) shingle it exactly once
    * and pass the result to the `*Of` variants. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int,
                  scope: CacheScope = CacheScope.noop): DataFrame = {
    scope.track(Parallelize.ensure(df.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"), graft.functions.ShingleExprs.ngramShingles(col("_t"), n).as("_sh"))
      .withColumn("_shh", array_sort(transform(col("_sh"), s => xxhash64(s))))
      .withColumn("_size", size(col("_sh")))
      .cache())
  }

  /** Distinct word n-gram shingles of the lower-cased text. */
  def shingles(text: Column, n: Int = 3): Column = {
    val w = split(lower(trim(text)), "\\s+")
    val grams = transform(sequence(lit(0), size(w) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*))
    array_distinct(when(size(w) >= n, grams).otherwise(array().cast("array<string>")))
  }

  /** The i-th minhash of a shingle array: min over md5(i || "|" || shingle)
    * (lexicographic min over hex strings — stable across engines). */
  def minhash(sh: Column, i: Int): Column =
    array_min(transform(sh, s => md5(concat(lit(i.toString), lit("|"), s))))

  /** k minhash signature columns named sig0..sig{k-1}. */
  def minhashSignature(sh: Column, k: Int): Seq[(String, Column)] =
    (0 until k).map(i => s"sig$i" -> minhash(sh, i))

  /** LSH banding: concatenate `rowsPerBand` signature values per band into
    * one bucket key per band. Docs sharing any bucket are candidates. */
  def bandKeys(sigs: Seq[Column], rowsPerBand: Int): Seq[Column] =
    sigs.grouped(rowsPerBand).zipWithIndex
      .map { case (g, b) => concat_ws("#", lit(b.toString) +: g: _*) }.toSeq

  /** Exact n-gram Jaccard for near-dup pairs via an inverted shingle index.
    *
    * Scale design: the naive explode→self-join blows up on hot shingles
    * (a shingle shared by d docs contributes d² join rows — quadratic on
    * the most common phrase). Instead: candidate pairs come only from RARE
    * shingles (document frequency ≤ `maxDf` — near-dups always share rare
    * shingles), deduped to distinct (id_a, id_b) BEFORE the shingle arrays
    * are re-attached, then the exact Jaccard is computed once per candidate
    * from the full sets. A pair with jaccard ≥ 1/(maxDf any rare shingle…)
    * sharing no rare shingle cannot be a near-dup of interest when minJaccard
    * is meaningful. Returns (id_a, id_b, jaccard), id_a < id_b. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJaccard: Double = 0.0, maxDf: Int = 100,
                        scope: CacheScope = CacheScope.noop): DataFrame =
    ngramJaccardPairsOf(shingleSets(df, idCol, textCol, n, scope), minJaccard, maxDf)

  /** `ngramJaccardPairs` over pre-built [[shingleSets]] output.
    *
    * The inverted index is keyed on xxhash64(shingle), NOT the shingle
    * string: the index is exploded one row per (doc, shingle) and shuffled
    * twice (df count + candidate self-join), so at corpus scale the keys
    * dominate shuffle bytes — 8-byte hashes vs whole n-grams. A hash
    * collision can only (a) merge two shingles' df counts, dropping a
    * genuinely-rare shingle from the index, or (b) over-generate candidate
    * pairs / over-count one common shingle in the merge-count verify; at
    * 2^-64 per pair all are vanishingly rare and (b) is harmless anyway. */
  def ngramJaccardPairsOf(withSh: DataFrame, minJaccard: Double = 0.0,
                          maxDf: Int = 100,
                          scope: CacheScope = CacheScope.noop): DataFrame =
    ngramJaccardPairsFrom(rareShingleCands(withSh, maxDf, scope), withSh,
      minJaccard)

  /** The shared PROPOSAL stage of the exact n-gram pair family: distinct
    * candidate pairs (id_a < id_b) sharing at least one RARE shingle
    * (document frequency ≤ `maxDf`) — threshold- and metric-independent,
    * so ONE build serves the Jaccard rung, the containment rung, the
    * subset dedup and the dup-rate curve over the same shingled corpus
    * (round 14: those four each rebuilt it). The rare inverted index is
    * scope-cached — the self-join consumes it twice, and without the
    * cache the corpus explode + df-count aggregation run once per side
    * (the q21 plan showed the df-count subtree planned twice). */
  def rareShingleCands(withSh: DataFrame, maxDf: Int = 100,
                       scope: CacheScope = CacheScope.noop): DataFrame = {
    // exploding an empty set yields no rows, so empty-shingle docs can never
    // become candidates here — the guard just documents the invariant that
    // keeps the jaccard denominator nonzero. The index explodes the cached
    // hash array directly — the 8-byte keys the index shuffles on are the
    // same hashes the verify stage intersects.
    val inv = withSh.filter(col("_size") > 0)
      .select(col("_id"), explode(col("_shh")).as("_h"))
    val rare = inv.groupBy(col("_h")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select(col("_h"))
    val rareInv = scope.track(inv.join(rare, Seq("_h")).cache())
    rareInv.select(col("_id").as("id_a"), col("_h"))
      .join(rareInv.select(col("_id").as("id_b"), col("_h")), Seq("_h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** [[ngramJaccardPairsOf]]'s VERIFY stage over a prebuilt candidate
    * pair table ([[rareShingleCands]]) — exact Jaccard from the full
    * shingle sets, one candidate row per pair. */
  def ngramJaccardPairsFrom(cands: DataFrame, withSh: DataFrame,
                            minJaccard: Double = 0.0): DataFrame = {
    val a = withSh.select(col("_id").as("id_a"), col("_shh").as("sh_a"), col("_size").as("size_a"))
    val b = withSh.select(col("_id").as("id_b"), col("_shh").as("sh_b"), col("_size").as("size_b"))
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("common", graft.functions.ArrayExprs.sortedLongIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("common") / (col("size_a") + col("size_b") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram CONTAINMENT pairs — the asymmetric cousin of
    * [[ngramJaccardPairsOf]]: `|A∩B| / |A|`, the fraction of the SMALLER
    * side's shingles the other document carries. Jaccard misses
    * subsumption (a paragraph quoted inside a 100× longer page scores
    * |∩|/|∪| ≈ 1%); containment scores it ≈ 100% — the signal for quote
    * extraction, subset-document dedup, and "is this doc just a wrapper
    * around that one". Emitted per ordered role: `id_small` is the
    * contained side (ties on size → lower id), with both directions'
    * sizes kept so the caller can post-filter.
    *
    * Same scale shape as the Jaccard op: rare-shingle inverted index on
    * 8-byte hashes proposes, sorted-merge intersect verifies, candidates
    * dedupe before the wide arrays re-attach. (A doc fully contained in
    * a hot page still shares its RARE shingles with it — rarity is a
    * corpus property, not a pair property — so the index proposes
    * subsumption pairs as readily as near-dup pairs.) Size ties make
    * the HIGHER id the contained side, so [[subsetDedup]]'s drop of
    * `id_small` keeps the LOWEST id — the repo's canonical min-id
    * survivor convention (round-5 advice: the previous `<=` split kept
    * the higher id on mutual containment). */
  def ngramContainmentPairsOf(withSh: DataFrame, minContainment: Double = 0.0,
                              maxDf: Int = 100,
                              scope: CacheScope = CacheScope.noop): DataFrame =
    ngramContainmentPairsFrom(rareShingleCands(withSh, maxDf, scope), withSh,
      minContainment)

  /** [[ngramContainmentPairsOf]]'s VERIFY stage over a prebuilt candidate
    * pair table ([[rareShingleCands]]). */
  def ngramContainmentPairsFrom(cands: DataFrame, withSh: DataFrame,
                                minContainment: Double = 0.0): DataFrame = {
    val a = withSh.select(col("_id").as("id_a"), col("_shh").as("sh_a"), col("_size").as("size_a"))
    val b = withSh.select(col("_id").as("id_b"), col("_shh").as("sh_b"), col("_size").as("size_b"))
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("common", graft.functions.ArrayExprs.sortedLongIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("containment",
        col("common") / least(col("size_a"), col("size_b")))
      .filter(col("containment") >= minContainment)
      .select(
        when(col("size_a") < col("size_b"), col("id_a")).otherwise(col("id_b")).as("id_small"),
        when(col("size_a") < col("size_b"), col("id_b")).otherwise(col("id_a")).as("id_big"),
        least(col("size_a"), col("size_b")).as("size_small"),
        greatest(col("size_a"), col("size_b")).as("size_big"),
        col("containment"))
  }

  /** Subset dedup — [[ngramContainmentPairsOf]] made actionable: drop
    * every document whose shingles are ≥ `minContainment` contained in a
    * LARGER document (the quote, the excerpt, the wrapper page's inner
    * article), keep the big side. Size ties drop the HIGHER id (the
    * containment op's `<` role split makes the higher id the contained
    * side on ties), so mutual containment (near-identical docs) keeps
    * exactly one copy — the lowest id, the repo's canonical survivor. Returns surviving (_id)s from
    * the shingle frame — join back to the corpus for the rows.
    *
    * One extra step over the pair op: a LEFT-ANTI of the shingle ids
    * against the distinct contained side. A doc contained in several
    * bigger docs appears in the drop set once (distinct); chains (A ⊂ B
    * ⊂ C) drop A and B — both are genuinely contained in C by
    * transitivity of the subset relation at containment 1.0, and at
    * lower thresholds each drop is still individually justified by its
    * own witness pair. */
  def subsetDedup(withSh: DataFrame, minContainment: Double,
                  maxDf: Int = 100,
                  scope: CacheScope = CacheScope.noop): DataFrame =
    subsetDedupFrom(rareShingleCands(withSh, maxDf, scope), withSh,
      minContainment)

  /** [[subsetDedup]] over a prebuilt candidate pair table
    * ([[rareShingleCands]]). */
  def subsetDedupFrom(cands: DataFrame, withSh: DataFrame,
                      minContainment: Double): DataFrame = {
    val dropped = ngramContainmentPairsFrom(cands, withSh, minContainment)
      .select(col("id_small").as("_id")).distinct()
    withSh.select(col("_id")).join(dropped, Seq("_id"), "left_anti")
  }

  /** Dedup census — the threshold-sweep decision table run BEFORE a
    * corpus-scale dedup: "at Jaccard cutoff t, what fraction of the
    * corpus would the near-dup pass remove?" Real pipelines pick the
    * cutoff from exactly this curve (too loose deletes paraphrases, too
    * tight keeps boilerplate; the C4/RefinedWeb appendices publish this
    * sweep for their corpora) — and picking it by re-running the full
    * dedup once per candidate threshold pays the dominant pairing cost
    * |thresholds| times. One pass instead:
    *
    * 1. pairs are generated ONCE at the LOOSEST threshold
    *    (`thresholds.min`) via [[ngramJaccardPairsOf]] — the inverted
    *    rare-shingle index is threshold-independent, so every tighter
    *    cutoff's pair set is a subset by construction;
    * 2. pair multiplicity collapses to one row per potential victim
    *    (`max(jaccard)` over partners that would SURVIVE it — the
    *    lower id of each pair, the repo's canonical min-id rule), so
    *    the sweep expansion below is bounded by docs, not pairs;
    * 3. the per-victim best scores fan out over the literal threshold
    *    array (≤ |victims| × |thresholds| rows of two numeric columns)
    *    and aggregate to one row per threshold.
    *
    * Returns (threshold, n_dropped, n_docs, drop_frac) — one row per
    * distinct threshold, zero-count thresholds included. `drop_frac`
    * is the raw IEEE quotient of two exact counts (the q98 no-rounding
    * discipline). Chains are counted by the PAIR rule (B drops to A,
    * C drops to B even though B itself drops): the census measures the
    * single-pass near-dup verdict, matching [[precedenceDedup]]'s
    * drop set, not the transitively-resolved cluster election.
    *
    * Scale shape: everything downstream of the pair op is metadata-thin
    * — 8-byte ids and doubles; text and shingle arrays never re-enter.
    * The thresholds and corpus-total frames are literal/single-row and
    * broadcast. */
  def dupRateCurve(withSh: DataFrame, thresholds: Seq[Double],
                   maxDf: Int = 100,
                   scope: CacheScope = CacheScope.noop): DataFrame =
    dupRateCurveFrom(rareShingleCands(withSh, maxDf, scope), withSh,
      thresholds)

  /** [[dupRateCurve]] over a prebuilt candidate pair table
    * ([[rareShingleCands]]). */
  def dupRateCurveFrom(cands: DataFrame, withSh: DataFrame,
                       thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val ts = thresholds.distinct.sorted
    val best = ngramJaccardPairsFrom(cands, withSh, ts.head)
      .groupBy(col("id_b"))
      .agg(max(col("jaccard")).as("_bestj"))
    val spark = withSh.sparkSession
    val thr = spark.range(1)
      .select(explode(typedLit(ts)).as("threshold"))
    val counts = best
      .select(col("_bestj"), explode(typedLit(ts)).as("threshold"))
      .filter(col("_bestj") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("_nd"))
    val total = withSh.agg(count(lit(1)).as("n_docs"))
    thr.join(counts, Seq("threshold"), "left")
      .crossJoin(broadcast(total))
      .select(col("threshold"),
        coalesce(col("_nd"), lit(0L)).as("n_dropped"),
        col("n_docs"),
        (coalesce(col("_nd"), lit(0L)).cast("double") / col("n_docs"))
          .as("drop_frac"))
  }

  /** Multi-signal near-dup consensus — fuse the pair tables of two
    * INDEPENDENT fuzzy rungs (n-gram vs embedding, perceptual vs
    * embedding, MinHash vs SimHash …) into one decision table: pairs
    * flagged by BOTH read `confirmed` (corroborated evidence — the
    * high-precision set a drop decision wants), pairs only one rung
    * found read `<name>_only` (tune that rung's threshold, or accept
    * the modality it alone can see). Inputs are any two pair frames
    * keyed (id_a, id_b); every other column passes through, so each
    * rung's score rides beside the verdict.
    *
    * Scale shape: ONE full-outer equi-join on the narrow pair key —
    * pair tables are already the banded rungs' bounded outputs, so the
    * fusion costs less than either input did. Returns both frames'
    * columns + `verdict`. */
  def pairConsensus(a: DataFrame, b: DataFrame,
                    aName: String = "a", bName: String = "b"): DataFrame = {
    for (s <- Seq(a, b); c <- Seq("id_a", "id_b"))
      require(s.columns.contains(c), s"pair frames need ($c); got ${s.columns.mkString(",")}")
    require(aName != bName, "the two rungs need distinct names")
    val others = a.columns.toSet.intersect(b.columns.toSet) -- Set("id_a", "id_b")
    require(others.isEmpty,
      s"score columns must not collide across rungs: ${others.mkString(",")}")
    a.withColumn("_ina", lit(true))
      .join(b.withColumn("_inb", lit(true)), Seq("id_a", "id_b"), "full_outer")
      .withColumn("verdict",
        when(col("_ina").isNotNull && col("_inb").isNotNull, lit("confirmed"))
          .when(col("_ina").isNotNull, lit(s"${aName}_only"))
          .otherwise(lit(s"${bName}_only")))
      .drop("_ina", "_inb")
  }

  /** MinHash-LSH candidate pairs verified with exact Jaccard. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, rowsPerBand: Int = 2, n: Int = 3,
                      minJaccard: Double = 0.0,
                      scope: CacheScope = CacheScope.noop): DataFrame =
    minhashLshPairsOf(shingleSets(df, idCol, textCol, n, scope), k, rowsPerBand, minJaccard)

  /** `minhashLshPairs` over pre-built [[shingleSets]] output. */
  def minhashLshPairsOf(base: DataFrame, k: Int = 8, rowsPerBand: Int = 2,
                        minJaccard: Double = 0.0): DataFrame = {
    // docs shorter than n words have EMPTY shingle sets: every minhash is
    // null, concat_ws skips nulls, and all such docs would collide into the
    // same band buckets — then jaccard's 0/0 throws under ANSI mode. An
    // empty set can't be a near-dup of anything; drop before banding.
    val withSigs = base.filter(col("_size") > 0).withColumn("_sigs",
      graft.functions.ShingleExprs.minhashSignature(col("_sh"), k))
    val sigCols = (0 until k).map(i => element_at(col("_sigs"), i + 1))
    // bucket join on the narrow (bucket, id) projection — the wide shingle
    // arrays are re-attached only to the deduped candidate pairs
    val banded = withSigs.select(col("_id"),
      explode(array(bandKeys(sigCols, rowsPerBand): _*)).as("_bucket"))
    val cands = banded.select(col("_bucket"), col("_id").as("id_a"))
      .join(banded.select(col("_bucket"), col("_id").as("id_b")), Seq("_bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val a = base.select(col("_id").as("id_a"), col("_shh").as("sh_a"), col("_size").as("size_a"))
    val b = base.select(col("_id").as("id_b"), col("_shh").as("sh_b"), col("_size").as("size_b"))
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("common", graft.functions.ArrayExprs.sortedLongIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("common") / (col("size_a") + col("size_b") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Benchmark decontamination flags: mark every training document that
    * shares at least one word n-gram with the held-out/benchmark corpus —
    * the standard guard against test-set leakage into training data
    * (the GPT-3/PaLM "13-gram overlap" procedure, parameterized n).
    *
    * Scale design: the benchmark side collapses to its DISTINCT n-gram
    * hashes — benchmarks are tiny relative to a training corpus, so that
    * set broadcasts and the contamination probe is a map-side semi join on
    * 8-byte keys; the training corpus is never shuffled at all (flags come
    * back via a second broadcast of the contaminated-id set's parent —
    * here a plain left join on the doc id, which AQE turns into a
    * broadcast when the hit set is small). Set `broadcastBench = false`
    * for a benchmark too large to broadcast — same plan, shuffle semi-join.
    *
    * A 2⁻⁶⁴ xxhash64 collision can only over-flag (claim contamination
    * that isn't there) — the conservative direction for leakage control.
    *
    * Returns (idCol, contaminated 0/1) for every training row. */
  def contaminationFlags(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, n: Int = 5,
                         broadcastBench: Boolean = true,
                         scope: CacheScope = CacheScope.noop): DataFrame =
    contaminationFlagsOf(shingleSets(train, idCol, textCol, n, scope),
      shingleSets(bench, idCol, textCol, n, scope), broadcastBench)
      .withColumnRenamed("_id", idCol)

  /** [[contaminationFlags]] over pre-built [[shingleSets]] outputs (so a
    * pipeline already shingling for dedup reuses the same cached sets). */
  def contaminationFlagsOf(trainSh: DataFrame, benchSh: DataFrame,
                           broadcastBench: Boolean = true): DataFrame = {
    val benchGrams = benchSh.filter(col("_size") > 0)
      .select(explode(col("_shh")).as("_h")).distinct()
    val probe = if (broadcastBench) broadcast(benchGrams) else benchGrams
    val hits = trainSh.filter(col("_size") > 0)
      .select(col("_id"), explode(col("_shh")).as("_h"))
      .join(probe, Seq("_h"), "left_semi")
      .select(col("_id")).distinct()
      .withColumn("_c", lit(1))
    trainSh.select(col("_id"))
      .join(hits, Seq("_id"), "left")
      .select(col("_id"), coalesce(col("_c"), lit(0)).as("contaminated"))
  }

  /** Benchmark-overlap SCORE — [[contaminationFlagsOf]]'s graded form,
    * the GPT-3/PaLM-style contamination accounting: per training doc,
    * the fraction of its distinct n-gram shingles that appear anywhere
    * in the benchmark set. The binary flag answers "touch the eval at
    * all?"; the fraction separates a quoted sentence (2% overlap) from
    * an embedded test item (80%) — the number a contamination REPORT
    * ranks by, and the threshold knob a release gate tunes.
    *
    * Same scale shape as the flag: the benchmark's distinct gram hashes
    * broadcast (a benchmark is small by definition — pass
    * `broadcastBench = false` if not), the semi join runs in the train
    * scan, and one narrow (id, hash) groupBy counts hits; text never
    * moves. overlap_frac is a raw IEEE division of exact counts (null
    * for shingle-less docs). 8-byte hash collisions only over-count —
    * conservative, the q21 discipline. */
  def contaminationScoreOf(trainSh: DataFrame, benchSh: DataFrame,
                           broadcastBench: Boolean = true): DataFrame = {
    val benchGrams = benchSh.filter(col("_size") > 0)
      .select(explode(col("_shh")).as("_h")).distinct()
    val probe = if (broadcastBench) broadcast(benchGrams) else benchGrams
    val hits = trainSh.filter(col("_size") > 0)
      .select(col("_id"), explode(col("_shh")).as("_h"))
      .join(probe, Seq("_h"), "left_semi")
      .groupBy(col("_id")).agg(count(lit(1)).as("_nh"))
    trainSh.select(col("_id"), col("_size"))
      .join(hits, Seq("_id"), "left")
      .select(col("_id"),
        col("_size").cast("long").as("n_grams"),
        coalesce(col("_nh"), lit(0L)).as("n_overlap"),
        when(col("_size") > 0,
          coalesce(col("_nh"), lit(0L)).cast("double") / col("_size"))
          .as("overlap_frac"))
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash over the md5 hash family (cross-engine reproducible, unlike
    * xxhash64): token bit j = parity of hex digit j of md5(token); simhash
    * bit j = majority vote across tokens. */
  def simhashMd5(text: Column, bits: Int = 16): Column = {
    val md5s = transform(split(lower(trim(text)), "\\s+"), w => md5(w))
    val n = size(md5s)
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    val bitCols: Seq[Column] = (0 until bits).map { j =>
      val ones = size(filter(md5s, m => substring(m, j + 1, 1).isin(oddHex: _*)))
      when(ones * 2 >= n, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Per-document duplicated-span fraction: the share of a document's
    * POSITIONAL word n-grams that also occur in at least one OTHER
    * document — the corpus-level signal behind exact-substring
    * deduplication (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): a doc scoring near 1.0 is boilerplate or a
    * near-copy even when no single whole-doc fingerprint matches.
    * Complements [[TextAnalysis.dupNgramFrac]] (repeats WITHIN a doc) —
    * this measures repeats ACROSS docs.
    *
    * Scale shape: n-gram strings collapse to 8-byte xxhash64 keys at the
    * scan and everything downstream rides those — (doc, hash) distinct →
    * per-hash doc count (map-side partial) → ≥2 survivors joined back
    * onto the positional gram stream → one groupBy(doc) fold. Two narrow
    * hash shuffles plus the final doc-key shuffle; the text itself never
    * shuffles. A 2⁻⁶⁴ collision can only over-count a span as duplicated
    * — the conservative direction for a dedup signal.
    *
    * Returns (idCol, n_grams, dup_frac); documents shorter than n words
    * have no n-grams and produce no row. */
  def dupSpanFrac(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 5,
                  scope: CacheScope = CacheScope.noop): DataFrame = {
    // (id, hash) stream cached: consumed by the doc-count aggregation AND
    // the flag join — 16 bytes/row vs re-reading and re-shingling the text
    val grams = scope.track(Parallelize.ensure(
        df.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"),
        explode(TextAnalysis.rawNgrams(col("_t"), n)).as("_g"))
      .select(col("_id"), xxhash64(col("_g")).as("_h"))
      .cache())
    val dup = grams.distinct()
      .groupBy(col("_h")).agg(count(lit(1)).as("_docs"))
      .filter(col("_docs") >= 2)
      .select(col("_h"), lit(1).as("_dup"))
    grams.join(dup, Seq("_h"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_grams"),
        (sum(coalesce(col("_dup"), lit(0))) / count(lit(1))).as("dup_frac"))
      .withColumnRenamed("_id", idCol)
  }

  /** Cross-document duplicated-span REMOVAL — [[dupSpanFrac]]'s surgical
    * twin, the ExactSubstr rule of Lee et al. 2021 ("Deduplicating
    * Training Data Makes Language Models Better") at n-token granularity:
    * every occurrence of a corpus-duplicated n-gram EXCEPT the first is
    * removed, and each document's text is rebuilt from its surviving
    * tokens in order. Where [[dupSpanFrac]] measures and a caller drops
    * whole documents, this keeps the document and excises just the
    * repeated material — the behavior the paper actually ships. "First"
    * is the occurrence with the least (doc id, position) — the corpus-wide
    * first-wins election of [[chunkDedup]]/[[graft.ops.Similarity.semDedup]]
    * — so one copy of every span always survives, and the survivor set is
    * deterministic under any partitioning. Within-doc repeats count toward
    * the ≥2 threshold too (the paper's self-repeat case;
    * [[intraDocDedup]] remains the cheaper within-page-only flavor).
    *
    * A token is removed iff ANY duplicated non-winning n-gram window
    * covers it, so a long shared span disappears wholesale from every
    * non-first document: overlapping stride-1 windows chain across its
    * full length. Shorter-than-n documents have no windows and pass
    * through verbatim.
    *
    * Returns (idCol, n_tokens, kept_tokens, text_clean) — counts exact
    * integers for cross-engine comparison, `text_clean` possibly empty
    * (never null) when everything was repeated material.
    *
    * Scale shape: the gram stream collapses to (id, pos, xxhash64) at the
    * scan — 20 bytes/row, text never enters the election. One hash-keyed
    * count+min(struct) agg elects winners (map-side partials), the
    * non-winner join reuses the same gram key, and covered positions fold
    * to ONE int-array row per affected doc (bounded by doc length). The
    * rebuild costs exactly one text-carrying movement — the id-keyed join
    * of documents onto their covered-position arrays, inherent because
    * the output IS the text (the [[chunkDedupRebuild]] budget, minus its
    * second movement: the filter itself is a row-local higher-order
    * expression, no re-assembly shuffle). An 8-byte hash collision can
    * only over-remove a span — the conservative direction, same 2⁻⁶⁴
    * acceptance as [[dupSpanFrac]]. */
  def dupSpanRemove(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 5,
                    scope: CacheScope = CacheScope.noop): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val grams = scope.track(Parallelize.ensure(
        df.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"),
        posexplode(TextAnalysis.rawNgrams(col("_t"), n)).as(Seq("_p0", "_g")))
      .select(col("_id"), (col("_p0") + 1).as("_pos"), xxhash64(col("_g")).as("_h"))
      .cache())
    val elect = grams.groupBy(col("_h"))
      .agg(count(lit(1)).as("_cnt"),
        min(struct(col("_id").as("i"), col("_pos").as("p"))).as("_win"))
      .filter(col("_cnt") >= 2)
      .select(col("_h"), col("_win"))
    val covered = grams.join(elect, Seq("_h"))
      .filter(!(col("_id") === col("_win.i") && col("_pos") === col("_win.p")))
      .select(col("_id"),
        explode(sequence(col("_pos"), col("_pos") + lit(n - 1))).as("_i"))
      .groupBy(col("_id")).agg(collect_set(col("_i")).as("_cov"))
      // own name, so an input already keyed "_id" never makes the
      // rebuild join ambiguous (decontaminateSpans discipline)
      .withColumnRenamed("_id", "_cov_id")
    val joined = df.join(covered, df(idCol) === covered("_cov_id"), "left")
    val w = TextAnalysis.tokens(col(textCol))
    val cov = coalesce(col("_cov"), array().cast("array<int>"))
    val kept = filter(w, (tok, i) => !array_contains(cov, i + 1))
    joined.select(df(idCol),
      size(w).cast("long").as("n_tokens"),
      size(kept).cast("long").as("kept_tokens"),
      concat_ws(" ", kept).as("text_clean"))
  }

  /** Span-level DECONTAMINATION — the surgical twin of [[decontaminate]]
    * (which drops whole documents) and the benchmark-facing flavor of
    * [[dupSpanRemove]]: every occurrence of a training n-gram that
    * appears ANYWHERE in the benchmark is excised — ALL occurrences,
    * there is no first-wins winner here, the "first copy" lives in the
    * benchmark, which is not ours to keep — and each document's text is
    * rebuilt from its surviving tokens in order. The middle ground
    * between shipping contamination and losing the page (the GPT-3/PaLM
    * appendix accounting made surgical): an embedded test item
    * disappears wholesale (overlapping stride-1 windows chain across its
    * full length), the surrounding prose survives. Completes the
    * decontamination family: flag ([[contaminationFlags]], q49) → graded
    * score ([[contaminationScoreOf]], q171) → semantic
    * ([[graft.ops.Similarity.semanticDecontaminate]], q119) → REMOVAL.
    *
    * Returns (idCol, n_tokens, kept_tokens, text_clean) —
    * [[dupSpanRemove]]'s exact shape, so the two compose into the same
    * audits; shorter-than-n documents pass through verbatim.
    *
    * Scale shape: benchmark grams collapse to DISTINCT 8-byte xxhash64
    * keys and BROADCAST (the [[contaminationFlags]] probe shape —
    * benchmarks are small by definition); the training gram stream
    * (id, pos, hash — 20 B/row) joins map-side in the scan stage, covered
    * positions fold to ONE int-array row per affected doc, and the only
    * text-carrying movement is the final id-keyed rebuild join, inherent
    * because the output IS the text. The training corpus never shuffles
    * for the verdict. An 8-byte collision can only over-remove — the
    * conservative direction. */
  def decontaminateSpans(train: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         n: Int = 5): DataFrame = {
    // no internal cache: unlike dupSpanRemove's gram stream (consumed by
    // both the election and the join-back), every frame here is consumed
    // exactly once
    require(n > 0, s"n must be positive, got $n")
    val benchGrams = Parallelize.ensure(
        bench.select(col(benchTextCol).as("_t")))
      .select(explode(TextAnalysis.rawNgrams(col("_t"), n)).as("_g"))
      .select(xxhash64(col("_g")).as("_h"))
      .distinct()
    val grams = Parallelize.ensure(
        train.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"),
        posexplode(TextAnalysis.rawNgrams(col("_t"), n)).as(Seq("_p0", "_g")))
      .select(col("_id"), (col("_p0") + 1).as("_pos"), xxhash64(col("_g")).as("_h"))
    // the covered side's id gets its own name so composition with an
    // input already keyed "_id" (e.g. cleanCorpus's internal frames)
    // never makes the rebuild join ambiguous
    val covered = grams.join(broadcast(benchGrams), Seq("_h"))
      .select(col("_id"),
        explode(sequence(col("_pos"), col("_pos") + lit(n - 1))).as("_i"))
      .groupBy(col("_id")).agg(collect_set(col("_i")).as("_cov"))
      .withColumnRenamed("_id", "_cov_id")
    val joined = train.join(covered, train(idCol) === covered("_cov_id"), "left")
    val w = TextAnalysis.tokens(col(textCol))
    val cov = coalesce(col("_cov"), array().cast("array<int>"))
    val kept = filter(w, (tok, i) => !array_contains(cov, i + 1))
    joined.select(train(idCol),
      size(w).cast("long").as("n_tokens"),
      size(kept).cast("long").as("kept_tokens"),
      concat_ws(" ", kept).as("text_clean"))
  }

  /** Chunk-level exact dedup (the CCNet shape, Wenzek et al.: dedup at
    * paragraph granularity rather than whole documents): the token stream
    * of each document is cut into consecutive fixed-size chunks, and a
    * chunk survives iff it is the corpus-wide FIRST occurrence of its
    * normalized content — ordered by (doc id, chunk index), the same
    * deterministic first-wins rule as [[graft.ops.Similarity.semDedup]].
    *
    * Scale shape: chunks collapse to a 128-bit md5 fingerprint at the scan
    * and only (id, chunk_idx, fingerprint) ever shuffles — the chunk text
    * stays in the scan stage. First-occurrence election is one
    * groupBy(fingerprint) with a map-side `min(struct(id, idx))` partial;
    * the winners join back onto the same fingerprint key, so AQE reuses
    * the exchange rather than re-shuffling. md5 (not xxhash64) because a
    * collision here silently DELETES data — at 2⁻¹²⁸ per pair that risk is
    * negligible even at 100 TB, where 8-byte hashes would not be.
    *
    * Returns one row per document: (idCol, n_chunks, kept_chunks) — both
    * integer counts, engine-exact for cross-oracle comparison. Callers
    * reconstructing cleaned text instead keep the surviving (idx, chunk)
    * pairs and re-aggregate ordered by idx. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 10,
                 scope: CacheScope = CacheScope.noop): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    val flags = chunkDedupFlags(df, idCol, textCol, chunkTokens, scope)
    flags.groupBy(col("_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("_keep").cast("long")).as("kept_chunks"))
      .withColumnRenamed("_id", idCol)
  }

  /** [[chunkDedup]]'s rebuild flavor: the cleaned documents themselves —
    * surviving chunks re-joined in positional order. The counts flavor
    * never moves text; reconstruction inherently must (kept chunk text
    * re-groups into documents), so this costs exactly two text-carrying
    * movements: the survivor election's hash join on the md5 key, and the
    * final groupBy(doc) that reassembles the text — both unavoidable
    * given the output IS the text. Election still combines map-side on
    * the fingerprint, and dropped chunks exit before the doc shuffle.
    *
    * Returns (idCol, clean_text); documents whose every chunk was a
    * duplicate produce no row (nothing survives to rebuild). */
  def chunkDedupRebuild(df: DataFrame, idCol: String, textCol: String,
                        chunkTokens: Int = 10,
                        scope: CacheScope = CacheScope.noop): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    val c = chunkTokens
    val w = split(lower(trim(col("_t"))), "\\s+")
    // cached: the election and the probe would otherwise each re-read,
    // re-split, and re-hash the text. Unlike the counts flavor this
    // stream carries the chunk STRINGS (the output is the text), so the
    // cache is corpus-sized — the same bytes the rebuild must move anyway
    val chunks = scope.track(Parallelize.ensure(
        df.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"), posexplode(
        transform(sequence(lit(0), ceil(size(w) / lit(c.toDouble)).cast("int") - 1),
          i => concat_ws(" ", slice(w, i * c + 1, lit(c))))))
      .select(col("_id"), col("pos").as("_ci"), col("col").as("_chunk"),
        md5(col("col")).as("_k"))
      .cache())
    val firsts = chunks.select(col("_id"), col("_ci"), col("_k"))
      .groupBy(col("_k"))
      .agg(min(struct(col("_id"), col("_ci"))).as("_first"))
    chunks.join(firsts, Seq("_k"))
      .filter(col("_first._id") === col("_id") && col("_first._ci") === col("_ci"))
      .groupBy(col("_id"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("_ci"), col("_chunk")))),
          s => s.getField("_chunk"))).as("clean_text"))
      .withColumnRenamed("_id", idCol)
  }

  /** Per-chunk survival flags behind [[chunkDedup]]: one row per
    * (_id, _ci) positional chunk with `_keep` = corpus-first occurrence. */
  def chunkDedupFlags(df: DataFrame, idCol: String, textCol: String,
                      chunkTokens: Int,
                      scope: CacheScope = CacheScope.noop): DataFrame = {
    // the (id, idx, fingerprint) stream is ~10% of corpus bytes (the text
    // stays behind) and feeds BOTH the election and the probe side —
    // cache it instead of re-reading and re-hashing the full text per
    // consumer (duplicated subtrees never reuse exchanges, measured).
    // ChunkMd5s: one tokenize+digest pass per row (the composable
    // transform/slice/md5 form walks an interpreted tree per chunk)
    val chunks = scope.track(Parallelize.ensure(
        df.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"), posexplode(
        graft.functions.ShingleExprs.chunkMd5s(col("_t"), chunkTokens)))
      .select(col("_id"), col("pos").as("_ci"), col("col").as("_k"))
      .cache())
    val firsts = chunks.groupBy(col("_k"))
      .agg(min(struct(col("_id"), col("_ci"))).as("_first"))
    chunks.join(firsts, Seq("_k"))
      .select(col("_id"), col("_ci"),
        (col("_first._id") === col("_id") && col("_first._ci") === col("_ci"))
          .as("_keep"))
  }

  /** Train→eval split-leakage audit: for every NON-train document, how
    * many of its `chunkTokens`-token chunks also appear anywhere in the
    * train split. The decontamination check run BETWEEN a corpus's own
    * splits (the within-corpus twin of [[decontaminate]]'s corpus-vs-
    * benchmark gate): chunk-level exact overlap is the signal Lee et al.
    * and the GPT-3 appendix use to detect eval answers memorized from
    * train.
    *
    * Scale shape: one [[graft.functions.ShingleExprs.chunkMd5s]] pass per
    * row (text never moves again), train-side chunk keys `distinct` on
    * the 16-byte digest (map-side combine), then ONE equi-join eval-chunks
    * ⋈ train-keys on the digest and a per-doc count. At 100 TB both sides
    * of the join are ~3% of corpus bytes (hashes + ids only). */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
                   splitCol: String, trainSplit: String,
                   chunkTokens: Int,
                   scope: CacheScope = CacheScope.noop): DataFrame = {
    // cache the digest stream: BOTH the train-key build and the eval
    // probe consume it, and re-reading means tokenizing + digesting the
    // full corpus twice (the chunkDedupFlags lesson — duplicated
    // subtrees never reuse exchanges). The cached frame is ~3% of corpus
    // bytes (ids + 16-byte digests; the text stays behind).
    val chunks = scope.track(Parallelize.ensure(
        df.select(col(idCol).as("_id"), col(splitCol).as("_split"), col(textCol).as("_t")))
      .select(col("_id"), col("_split"),
        explode(graft.functions.ShingleExprs.chunkMd5s(col("_t"), chunkTokens)).as("_k"))
      .cache())
    val trainKeys = chunks.filter(col("_split") === trainSplit)
      .select(col("_k")).distinct()
    chunks.filter(col("_split") =!= trainSplit)
      .join(trainKeys.withColumn("_hit", lit(1L)), Seq("_k"), "left")
      .groupBy(col("_id"), col("_split"))
      .agg(count(lit(1)).as("n_chunks"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_leaked"))
      .withColumn("leak_frac", col("n_leaked").cast("double") / col("n_chunks"))
      .withColumnRenamed("_id", idCol)
      .withColumnRenamed("_split", splitCol)
  }

  /** Cross-group duplication matrix: near-dup pairs (any generator —
    * [[minhashLshPairs]], [[ngramJaccardPairsOf]], fuzzy blocking) rolled
    * up to the GROUP level (source, domain, crawl snapshot, …): per
    * unordered group pair, how many verified near-dup pairs cross it and
    * the worst similarity seen. The dataset-diff diagnostic that tells a
    * curator WHICH sources re-host each other's content before choosing
    * [[precedenceDedup]] priorities.
    *
    * Scale shape: the pair stream is already candidate-verified and
    * narrow (two ids + a score); two equi-joins attach the group labels
    * (shuffle on id), and the matrix agg combines map-side to at most
    * |groups|² rows. `max` (not avg) keeps the score order-independent —
    * bit-identical under any partitioning. */
  def crossGroupMatrix(pairs: DataFrame, labels: DataFrame,
                       idCol: String, groupCol: String): DataFrame = {
    val la = labels.select(col(idCol).as("id_a"), col(groupCol).as("_ga"))
    val lb = labels.select(col(idCol).as("id_b"), col(groupCol).as("_gb"))
    pairs.join(la, Seq("id_a")).join(lb, Seq("id_b"))
      .select(least(col("_ga"), col("_gb")).as("group_a"),
        greatest(col("_ga"), col("_gb")).as("group_b"), col("jaccard"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(max(col("jaccard")), 4).as("max_jaccard"))
  }

  /** Source-precedence exact dedup — when the same content appears in
    * several sources, keep the copy from the MOST TRUSTED source instead
    * of the lowest id (the Pile/Dolma practice: a curated corpus's copy
    * beats the web crawl's, which may carry extraction noise around the
    * same text). Survivor per content group = lowest (priority, id) —
    * min-id dedup is the special case where every priority ties.
    *
    * `prioCol`: a numeric column, LOWER = more trusted. In production a
    * broadcast-joined source→priority dim or a literal map; any
    * row-local expression works.
    *
    * Returns one row per distinct content: fingerprint, surviving id and
    * its priority, copy count, distinct priority-level count. Scale
    * shape = [[TextAnalysis.fingerprint]] exact dedup: ONE shuffle on
    * the md5 fingerprint carrying (id, prio) — the text never moves;
    * `min_by` aggregates map-side. */
  def precedenceDedup(df: DataFrame, idCol: String, textCol: String,
                      prioCol: String): DataFrame =
    electByPrecedence(df.select(
      TextAnalysis.fingerprint(col(textCol)).as("fp"),
      col(idCol).as("_id"), col(prioCol).as("_prio")))

  /** [[precedenceDedup]] at CHUNK granularity: the same boilerplate
    * paragraph appearing under several sources keeps its most-trusted
    * occurrence (ties → lowest id, then earliest position). The chunk
    * stream rides [[graft.functions.ShingleExprs.chunkMd5s]] (one
    * tokenize+digest pass per row); the election shuffles only
    * (fingerprint, id, prio, idx) — ~10% of corpus bytes. */
  def chunkPrecedenceDedup(df: DataFrame, idCol: String, textCol: String,
                           prioCol: String, chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    electByPrecedence(Parallelize.ensure(
        df.select(col(idCol).as("_id"), col(prioCol).as("_prio"), col(textCol).as("_t")))
      .select(col("_id"), col("_prio"), posexplode(
        graft.functions.ShingleExprs.chunkMd5s(col("_t"), chunkTokens)))
      .select(col("col").as("fp"), col("_id"), col("_prio"), col("pos").as("_ci")))
  }

  /** Election core: per fp, the winner is min (prio, id[, idx]). */
  private def electByPrecedence(keyed: DataFrame): DataFrame = {
    // order struct: (_prio, _id[, _ci]) — priority first, id tie-break
    val ord = struct(col("_prio") +: col("_id") +:
      (if (keyed.columns.contains("_ci")) Seq(col("_ci")) else Nil): _*)
    keyed.groupBy(col("fp"))
      .agg(min_by(struct(col("_id"), col("_prio")), ord).as("_win"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("_prio")).as("n_prios"))
      .select(col("fp"), col("_win._id").as("keep_id"),
        col("_win._prio").as("keep_prio"), col("n_copies"), col("n_prios"))
  }

  /** Incremental exact dedup — the PRODUCTION ingestion shape: a new
    * batch arrives, everything already ingested lives only as a
    * fingerprint snapshot, and each new document gets one of three
    * verdicts: `dup_history` (content already in the snapshot),
    * `dup_batch` (a non-first repeat WITHIN the new batch), `kept`
    * (first sight ever). Within-batch election is the same deterministic
    * first-wins (min id) rule as the corpus-wide operators, and content
    * identity is [[graft.ops.TextAnalysis.fingerprint]] — the SAME
    * identity the batch dedup and the streaming decontamination gate use,
    * so all three agree on what "the same document" means.
    *
    * Scale shape — the asymmetry is the whole point: history is the HUGE
    * side (every fingerprint ever ingested) and the new batch is small,
    * so the batch's distinct fingerprints BROADCAST onto the history scan
    * and only matching fingerprints (≤ batch-sized) come back — history
    * never shuffles, never moves text, and is read once. The new batch
    * pays one narrow fingerprint shuffle for its first-wins election.
    * 100 TB of history vs a 10 GB daily batch is exactly this plan. */
  def incrementalDedup(newDocs: DataFrame, idCol: String, textCol: String,
                       history: DataFrame, historyTextCol: String,
                       scope: CacheScope = CacheScope.noop): DataFrame =
    incrementalVerdicts(newDocs, idCol, textCol, history, historyTextCol, scope)
      .select(col("_id").as(idCol), col("verdict"))

  /** Shared verdict core of [[incrementalDedup]]/[[snapshotDelta]]:
    * one row per batch doc as (_id, _fp, verdict). With a
    * `bloomPrefilter`, only fingerprints the sketch says MIGHT be in
    * history join the probe set — definitive-novel rows (the common case
    * on a healthy ingest) never reach the history scan's broadcast, and
    * Bloom's one-sided error (no false negatives) keeps the verdicts
    * bit-identical to the unfiltered path. */
  private def incrementalVerdicts(newDocs: DataFrame, idCol: String,
                                  textCol: String, history: DataFrame,
                                  historyTextCol: String,
                                  scope: CacheScope,
                                  bloomPrefilter: Option[Array[Byte]] = None): DataFrame = {
    val nfp = scope.track(Parallelize.ensure(newDocs.select(
        col(idCol).as("_id"),
        TextAnalysis.fingerprint(col(textCol)).as("_fp")))
      .cache())
    verdictsCoreFromFps(nfp,
      history.select(TextAnalysis.fingerprint(col(historyTextCol)).as("_fp")),
      bloomPrefilter)
  }

  /** The verdict core over PRE-FINGERPRINTED frames: `nfp` = (_id, _fp)
    * of the batch (caller owns its caching), `histFps` = a one-column
    * (_fp) stream of history fingerprints.
    *
    * Batch fingerprints broadcast ONTO history; the semi join keeps only
    * history fingerprints the batch actually mentions — a tiny set. The
    * first-wins election is a window `min(_id)` over the batch's ONE
    * fingerprint exchange — round 15: the previous groupBy + join-back
    * planned a SECOND exchange of the batch (the agg and the join could
    * not share one under AQE), for identical rows. Null-fingerprint rows
    * are dropped explicitly, exactly as the previous inner join on `_fp`
    * dropped them (null keys never equi-join). */
  private def verdictsCoreFromFps(nfp: DataFrame, histFps: DataFrame,
                                  bloomPrefilter: Option[Array[Byte]]): DataFrame = {
    val probeFps = bloomPrefilter match {
      case Some(bytes) => nfp
        .filter(graft.functions.BloomExprs.mightContain(col("_fp"), bytes))
        .select(col("_fp")).distinct()
      case None => nfp.select(col("_fp")).distinct()
    }
    val hits = histFps.select(col("_fp"))
      .join(broadcast(probeFps), Seq("_fp"), "left_semi")
      .distinct()
      .withColumn("_inHist", lit(true))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_fp"))
    nfp.filter(col("_fp").isNotNull)
      .join(broadcast(hits), Seq("_fp"), "left")
      .withColumn("_first", min(col("_id")).over(w))
      .select(col("_id"), col("_fp"),
        when(col("_inHist"), lit("dup_history"))
          .when(col("_id") === col("_first"), lit("kept"))
          .otherwise(lit("dup_batch")).as("verdict"))
  }

  /** [[incrementalDedup]] / [[incrementalDedupSnapshot]] over a
    * pre-fingerprinted batch frame `batchFps` = (idCol, fpCol) and a
    * history fingerprint stream `histFps` (a raw-history fingerprint
    * projection, or a materialized snapshot's fp column — the core is
    * the same) — the entry point for callers that share one fingerprint
    * pass across the whole incremental family (SparkEntry's session
    * memo: q96/q120/q129/q131/q138/q141 each re-scanned and re-hashed
    * the same history per call before round 15). Verdicts are
    * bit-identical to the from-text paths by construction. */
  def incrementalDedupFromFps(batchFps: DataFrame, idCol: String, fpCol: String,
                              histFps: DataFrame, histFpCol: String,
                              bloomPrefilter: Option[Array[Byte]] = None): DataFrame =
    verdictsCoreFromFps(
      batchFps.select(col(idCol).as("_id"), col(fpCol).as("_fp")),
      histFps.select(col(histFpCol).as("_fp")), bloomPrefilter)
      .select(col("_id").as(idCol), col("verdict"))

  /** [[snapshotDelta]] over pre-fingerprinted frames — see
    * [[incrementalDedupFromFps]]. */
  def snapshotDeltaFromFps(batchFps: DataFrame, idCol: String, fpCol: String,
                           histFps: DataFrame, histFpCol: String): DataFrame =
    verdictsCoreFromFps(
      batchFps.select(col(idCol).as("_id"), col(fpCol).as("_fp")),
      histFps.select(col(histFpCol).as("_fp")), None)
      .filter(col("verdict") === "kept")
      .select(col("_id").as(idCol), col("_fp").as("fp"))

  /** [[incrementalDedup]] against a MATERIALIZED fingerprint snapshot —
    * the (id, fp) table [[snapshotDelta]] writes — instead of raw history
    * documents. This is the loop a production ingest actually runs: the
    * snapshot IS the history (no corpus text is ever re-read, 16-byte
    * fingerprints stand in for 100 TB of documents), each batch probes
    * it and appends its own delta. Same three verdicts, same broadcast
    * asymmetry (the batch's distinct fingerprints broadcast onto the
    * snapshot scan; the snapshot never shuffles), gated against q96's
    * oracle (one oracle, two paths — the q126-q129 discipline).
    *
    * `bloomPrefilter` (the [[loadSnapshotBloom]] sidecar, or any
    * [[bloomSnapshot]] bytes): only fingerprints the sketch says MIGHT
    * be in the snapshot join the probe set — the q129 broadcast cut on
    * the standing-store path; one-sided error keeps verdicts
    * bit-identical (a fp the sketch rejects is definitively novel, so
    * `_inHist` could never have been true for it). */
  def incrementalDedupSnapshot(newDocs: DataFrame, idCol: String, textCol: String,
                               snapshot: DataFrame, fpCol: String = "fp",
                               scope: CacheScope = CacheScope.noop,
                               bloomPrefilter: Option[Array[Byte]] = None): DataFrame = {
    val nfp = scope.track(Parallelize.ensure(newDocs.select(
        col(idCol).as("_id"),
        TextAnalysis.fingerprint(col(textCol)).as("_fp")))
      .cache())
    verdictsCoreFromFps(nfp, snapshot.select(col(fpCol).as("_fp")), bloomPrefilter)
      .select(col("_id").as(idCol), col("verdict"))
  }

  /** Live rows of a standing fingerprint-snapshot DIR — the flat
    * (id, fp) parquet table the [[incrementalDedupSnapshot]] loop (the
    * CurateCli `dedup` command) appends, with pending
    * [[tombstoneSnapshot]] deletions subtracted (one broadcast
    * anti-join on the id — the snapshot never shuffles). The sidecar is
    * the hidden `_tombstones` child ([[graft.ops.Tombstones]]), so a
    * plain `spark.read.parquet(snapDir)` reader still sees exactly the
    * appended rows — this accessor is the one that honors deletions. */
  def snapshotLive(spark: org.apache.spark.sql.SparkSession, snapDir: String,
                   idCol: String = "doc_id"): DataFrame =
    Tombstones.applyTo(spark, snapDir, spark.read.parquet(snapDir), idCol)

  /** Append a batch's kept (id, fp) delta to a snapshot dir — the
    * write-back half of the [[incrementalDedupSnapshot]] loop, with the
    * re-add guard: a pending-tombstoned id would be silently swallowed
    * by the next [[snapshotLive]] subtract, so it fails loudly here
    * until [[compactSnapshot]] has applied and cleared its tombstone
    * (the same discipline as [[appendNearDupIndex]]). */
  def appendSnapshot(spark: org.apache.spark.sql.SparkSession, snapDir: String,
                     delta: DataFrame, idCol: String): Unit = {
    Tombstones.requireNotTombstoned(spark, snapDir, delta, idCol)
    delta.write.mode("append").parquet(snapDir)
  }

  /** Record deletions against a snapshot dir — the exact layer's
    * right-to-be-forgotten path: O(ids) append under
    * `snapDir/_tombstones`; [[snapshotLive]] subtracts it, so a
    * re-ingest of the forgotten document's CONTENT verdicts `kept`
    * again (unless the same content survives under another id —
    * identity is the fingerprint, deletion is by id). */
  def tombstoneSnapshot(spark: org.apache.spark.sql.SparkSession, snapDir: String,
                        ids: DataFrame, idCol: String): Unit =
    Tombstones.append(spark, snapDir, ids, idCol)

  /** Compact a snapshot dir ([[graft.ops.StoreCompact]]): rewrite the
    * per-batch append deltas into ~128 MB files with pending
    * [[tombstoneSnapshot]] deletions applied physically. The staged
    * root swap carries the applied `_tombstones` sidecar away with the
    * old files — no separate clear step, and a crash before the swap
    * leaves both store and sidecar intact (the subtract-on-read stays
    * correct). Offline maintenance, never in the ingest loop. */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession, snapDir: String,
                      idCol: String = "doc_id"): Unit = {
    // the staged root swap carries the `_bloom` sidecar away with the old
    // files (underscore children are invisible to the rewrite's parquet
    // read) — refound it from the compacted live rows afterwards. This is
    // also the sketch-can't-forget remediation: tombstoned fingerprints
    // leave the sketch here, riding the rewrite the store was paying for
    // anyway, exactly like the tombstone apply itself
    val bloomParams = snapshotBloomParams(spark, snapDir)
    StoreCompact.compactParquetDir(spark, snapDir,
      Tombstones.readOpt(spark, snapDir).map((_, idCol)))
    bloomParams.foreach { case (capacity, fpp) =>
      foundSnapshotBloom(spark, snapDir, capacity, fpp)
    }
  }

  // ---- The snapshot store's persisted Bloom sidecar ----------------
  //
  // q129's triage made STANDING: the broadcast-size cut (definitive-novel
  // batch fps never reach the history scan's broadcast) requires a sketch
  // of ALL history fps, and rebuilding one per ingest run costs the full
  // history pass the standing store exists to avoid. The sidecar keeps
  // one serialized sketch PER APPEND BATCH under `snapDir/_bloom`
  // (underscore dir — invisible to parquet readers of the snapshot);
  // loads merge them driver-side (sketch union is lossless). Sketch
  // sizing is a FOUNDING constant stored in `_bloom/params` — Spark's
  // BloomFilter.mergeInPlace rejects mismatched bit sizes, so per-batch
  // sizing cannot merge; the stored-params-win discipline again. As
  // history outgrows the capacity the fpp degrades toward 1 — verdicts
  // stay exact by one-sided error, the prefilter just stops helping;
  // [[compactSnapshot]] refounds the sketch from live rows (which also
  // flushes tombstoned fps — a sketch cannot forget, so the remediation
  // rides the same rewrite that applies deletions).
  //
  // Crash discipline: append the DELTA's sketch BEFORE the delta's rows
  // (CurateCli does) — dying between the two leaves a sketch with extra
  // fps, which is false-positive-only and therefore safe; the reverse
  // order could leave snapshot rows missing from the sketch, and a
  // Bloom false NEGATIVE turns a duplicate into `kept`.

  // ---- Fingerprint-kind founding marker --------------------------------
  // A snapshot keyed on RAW fingerprints and one keyed on NORMALIZED
  // fingerprints (md5 of [[graft.ops.TextAnalysis.normalizeForDedup]]
  // text, the q161 identity) are different identity spaces: probing one
  // with the other silently verdicts every known duplicate `kept`. The
  // kind is therefore a FOUNDING constant of the store (the _bloom/params
  // discipline): recorded when the store is founded, read back by every
  // later run, and a disagreeing restatement fails loudly. Stores founded
  // before the marker existed read as raw (None → caller treats as
  // "raw", and cannot be retrofitted to normalized).

  private def fpKindSidecar(snapDir: String) = s"$snapDir/_fpkind"

  /** The founding fingerprint kind of a snapshot store, if recorded. */
  def snapshotFpKind(spark: org.apache.spark.sql.SparkSession,
                     snapDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(fpKindSidecar(snapDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(p.toString).head().getAs[String]("kind"))
  }

  /** Record the store's fingerprint kind ("raw" | "normalized") —
    * called exactly once, when the store is founded. */
  def foundSnapshotFpKind(spark: org.apache.spark.sql.SparkSession,
                          snapDir: String, kind: String): Unit = {
    require(kind == "raw" || kind == "normalized",
      s"fingerprint kind must be raw or normalized, got '$kind'")
    require(snapshotFpKind(spark, snapDir).isEmpty,
      s"snapshot at '$snapDir' already has a founded fingerprint kind")
    val sess = spark
    import sess.implicits._
    Seq(kind).toDF("kind")
      .coalesce(1).write.parquet(fpKindSidecar(snapDir))
  }

  private def bloomSidecar(snapDir: String) = s"$snapDir/_bloom"

  /** Founding sizing of a snapshot's Bloom sidecar, if one exists. */
  def snapshotBloomParams(spark: org.apache.spark.sql.SparkSession,
                          snapDir: String): Option[(Long, Double)] = {
    val p = new org.apache.hadoop.fs.Path(s"${bloomSidecar(snapDir)}/params")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val r = spark.read.parquet(p.toString).head()
      Some((r.getAs[Long]("capacity"), r.getAs[Double]("fpp")))
    }
  }

  /** Found (or refound) the sidecar: write the sizing params and ONE
    * sketch seeded from the snapshot's CURRENT live rows — founding on a
    * non-empty store must not start the sketch empty (a later probe
    * would see false negatives for everything already ingested). */
  def foundSnapshotBloom(spark: org.apache.spark.sql.SparkSession,
                         snapDir: String, capacity: Long,
                         fpp: Double = 0.01): Unit = {
    require(capacity > 0 && fpp > 0 && fpp < 1,
      s"need capacity > 0 and fpp in (0,1), got $capacity / $fpp")
    val side = new org.apache.hadoop.fs.Path(bloomSidecar(snapDir))
    val fs = side.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // decide data-presence BEFORE the params write: writing the sidecar
    // creates the store dir as a side effect, and a dir holding only
    // hidden (underscore) children has no inferable parquet schema
    val root = new org.apache.hadoop.fs.Path(snapDir)
    val hasData = fs.exists(root) && fs.listStatus(root).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    fs.delete(side, true)
    val sess = spark
    import sess.implicits._
    Seq((capacity, fpp)).toDF("capacity", "fpp")
      .coalesce(1).write.parquet(s"${bloomSidecar(snapDir)}/params")
    val live =
      if (hasData) snapshotLive(spark, snapDir).select(col("fp"))
      else Seq.empty[String].toDF("fp")
    appendSnapshotBloom(spark, snapDir, live, "fp")
  }

  /** Append one delta-sized sketch to the sidecar (no-op without a
    * founded sidecar, and on an empty delta — Spark 4's stat.bloomFilter
    * NPEs on zero rows). Call BEFORE [[appendSnapshot]]. */
  def appendSnapshotBloom(spark: org.apache.spark.sql.SparkSession,
                          snapDir: String, fps: DataFrame,
                          fpCol: String): Unit =
    snapshotBloomParams(spark, snapDir).foreach { case (capacity, fpp) =>
      val src = fps.select(col(fpCol).as("_fp")).na.drop(Seq("_fp"))
      if (!src.isEmpty) {
        val bf = src.stat.bloomFilter("_fp", capacity, fpp)
        val out = new org.apache.hadoop.fs.Path(
          s"${bloomSidecar(snapDir)}/sk/${java.util.UUID.randomUUID()}.bloom")
        val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val os = fs.create(out, false)
        try bf.writeTo(os) finally os.close()
      }
    }

  /** Merge the sidecar's sketches into one serialized filter for the
    * probe's broadcast — driver-side, KBs–MBs per sketch, one pass over
    * tiny files (compaction folds them back to one). None without a
    * sidecar: probes simply skip the prefilter. */
  def loadSnapshotBloom(spark: org.apache.spark.sql.SparkSession,
                        snapDir: String): Option[Array[Byte]] =
    snapshotBloomParams(spark, snapDir).map { case (capacity, fpp) =>
      val merged = org.apache.spark.util.sketch.BloomFilter.create(capacity, fpp)
      val skDir = new org.apache.hadoop.fs.Path(s"${bloomSidecar(snapDir)}/sk")
      val fs = skDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(skDir))
        fs.listStatus(skDir).filter(_.getPath.getName.endsWith(".bloom"))
          .foreach { st =>
            val in = fs.open(st.getPath)
            try merged.mergeInPlace(
              org.apache.spark.util.sketch.BloomFilter.readFrom(in))
            finally in.close()
          }
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos)
      bos.toByteArray
    }

  /** Corpus snapshot DIFF — the release-audit question "what changed
    * between corpus v1 and v2" answered at CONTENT granularity: one row
    * per distinct fingerprint with each version's copy count and a
    * verdict — `added` (only in new), `removed` (only in old), `kept`
    * (in both; counts may still differ — dedup ran, copies shifted).
    * Identity is [[TextAnalysis.fingerprint]], the same identity the
    * whole exact-dedup family uses. The summary a curator reads next to
    * [[graft.ops.Corpus.termDrift]] (what the change did to content) and
    * [[graft.ops.Stats.ksDistance]] (what it did to distributions).
    *
    * Scale shape: each side collapses to its distinct-fingerprint count
    * table with map-side partials (text never shuffles — only 16-byte
    * fingerprints move), then ONE full-outer equi-join on the
    * fingerprint. Both inputs at 100 TB cost two fingerprint shuffles
    * total. */
  def corpusDiff(oldDocs: DataFrame, oldTextCol: String,
                 newDocs: DataFrame, newTextCol: String): DataFrame = {
    def side(df: DataFrame, c: String, as: String) =
      df.select(TextAnalysis.fingerprint(col(c)).as("fp"))
        .groupBy(col("fp")).agg(count(lit(1)).as(as))
    side(oldDocs, oldTextCol, "_no").join(
        side(newDocs, newTextCol, "_nn"), Seq("fp"), "full_outer")
      .select(col("fp"),
        when(col("_no").isNull, lit("added"))
          .when(col("_nn").isNull, lit("removed"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("_no"), lit(0L)).as("n_old"),
        coalesce(col("_nn"), lit(0L)).as("n_new"))
  }

  /** Bloom SNAPSHOT of a corpus's content fingerprints — the O(bits)
    * sidecar of the exact fingerprint snapshot (q96/q120 discipline):
    * `n·ln(1/fpp)·1.44` bits regardless of corpus bytes (~120 MB for
    * 100 M documents at 1 % fpp), built in one distributed pass
    * (`stat.bloomFilter` merges per-partition sketches) and small enough
    * to live beside the ingest job like any broadcast dim. Identity is
    * [[TextAnalysis.fingerprint]] — the SAME identity every exact-layer
    * operator uses, so the sketch and the snapshot always agree on what
    * "the same document" means. Returns the serialized sketch. */
  def bloomSnapshot(history: DataFrame, textCol: String,
                    expectedItems: Long, fpp: Double = 0.01): Array[Byte] =
    bloomSnapshotFps(
      history.select(TextAnalysis.fingerprint(col(textCol)).as("_fp")),
      "_fp", expectedItems, fpp)

  /** [[bloomSnapshot]] over a pre-fingerprinted frame — identical bytes
    * (Bloom insertion is an order-independent OR of bits over the same
    * item set), one history scan fewer when the caller already owns a
    * cached fingerprint frame. */
  def bloomSnapshotFps(fps: DataFrame, fpCol: String,
                       expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"need expectedItems > 0 and fpp in (0,1), got $expectedItems / $fpp")
    val src = fps
      .select(col(fpCol).as("_fp"))
      .na.drop(Seq("_fp"))
    // Spark 4's stat.bloomFilter NPEs on zero rows (the underlying agg
    // yields a null buffer); an empty history legitimately means "no
    // content ever seen" — hand back an empty sketch of the same sizing
    val bf =
      if (src.isEmpty) org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
      else src.stat.bloomFilter("_fp", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Row-local Bloom verdicts for a new batch against a
    * [[bloomSnapshot]]: `kept` (definitively never seen — Bloom has no
    * false negatives) or `maybe_dup` (in the sketch: a true duplicate,
    * or a false positive at ≈ the build fpp). ZERO data movement: the
    * probe is one codegen'd expression per row against the plan-shipped
    * sketch — no history I/O, no shuffle, no join. The triage stage of
    * a 100 TB ingest front door: most of a healthy batch resolves to
    * `kept` here, and only the maybes proceed to the exact check
    * ([[incrementalDedupBloom]] composes both). */
  def bloomVerdicts(newDocs: DataFrame, idCol: String, textCol: String,
                    bloom: Array[Byte]): DataFrame =
    newDocs.select(col(idCol),
      when(graft.functions.BloomExprs.mightContain(
          TextAnalysis.fingerprint(col(textCol)), bloom),
        lit("maybe_dup")).otherwise(lit("kept")).as("verdict"))

  /** [[incrementalDedup]] with a [[bloomSnapshot]] prefilter: verdicts
    * BIT-IDENTICAL to the exact path (one-sided Bloom error — spec-
    * pinned), but only fingerprints the sketch flags ever reach the
    * history scan's broadcast probe set. On a healthy ingest (mostly
    * novel content) that set shrinks from |batch| to the duplicate
    * count + fpp·|batch| — the difference between broadcasting a
    * 10 GB batch's fingerprints and broadcasting a few MB. */
  def incrementalDedupBloom(newDocs: DataFrame, idCol: String, textCol: String,
                            history: DataFrame, historyTextCol: String,
                            bloom: Array[Byte],
                            scope: CacheScope = CacheScope.noop): DataFrame =
    incrementalVerdicts(newDocs, idCol, textCol, history, historyTextCol,
      scope, Some(bloom))
      .select(col("_id").as(idCol), col("verdict"))

  /** Snapshot DELTA — the write-back half of the [[incrementalDedup]]
    * ingestion loop: the batch rows that extend the fingerprint snapshot,
    * as (id, fp). The new snapshot is `old ∪ delta`; returning ONLY the
    * delta is deliberate — production appends these rows to the snapshot
    * table (one partition per ingest batch), it never rewrites 100 TB of
    * history to add a day's data. The q96 verdict stream tells you what
    * was dropped; this is what the next batch dedupes against.
    *
    * Scale shape: the verdict path is [[incrementalDedup]]'s (batch
    * fingerprints broadcast onto the history scan, history never
    * shuffles); the delta derives from the SAME cached fingerprint frame
    * the verdicts rode — no second corpus read, no join back. (The first
    * cut re-fingerprinted `newDocs` and semi-joined against the verdict
    * subtree; at 16× replay that duplicated the whole verdict pipeline
    * inside one plan and ran 50× slower than the verdicts alone —
    * measured, which is why the shared core exists.) */
  def snapshotDelta(newDocs: DataFrame, idCol: String, textCol: String,
                    history: DataFrame, historyTextCol: String,
                    scope: CacheScope = CacheScope.noop): DataFrame =
    incrementalVerdicts(newDocs, idCol, textCol, history, historyTextCol, scope)
      .filter(col("verdict") === "kept")
      .select(col("_id").as(idCol), col("_fp").as("fp"))

  /** Standing MinHash-LSH index over a historical corpus: the history
    * side's shingle-hash sets ([[shingleSets]] output, `_size > 0`) and
    * its exploded (bucket, id) band stream, both MATERIALIZED (cached;
    * at cluster scale write both frames to storage and read them back) —
    * the fuzzy layer's answer to the exact layer's fingerprint snapshot
    * (q96/q120 discipline). Build once, probe every ingest batch with
    * [[incrementalNearDupsWith]]: the daily cost becomes shingling the
    * BATCH, not re-shingling 100 TB of history per probe.
    *
    * `shingleFrame` is what the verify stage re-attaches (id, sorted
    * hashes, size); `bandFrame` is what candidates equi-join on. The
    * banding parameters ride along so probes band the new side
    * identically. */
  final case class NearDupIndex private[ops] (
      shingleFrame: DataFrame, bandFrame: DataFrame,
      k: Int, rowsPerBand: Int, n: Int)

  /** Materialize a [[NearDupIndex]] for `history`. One pass: shingle
    * sets cached by [[shingleSets]], signatures banded once, the band
    * stream cached on top — consumers across batches hit the caches
    * instead of recomputing either. */
  def buildNearDupIndex(history: DataFrame, idCol: String, textCol: String,
                        k: Int = 4, rowsPerBand: Int = 2, n: Int = 5,
                        scope: CacheScope = CacheScope.noop): NearDupIndex = {
    val base = shingleSets(history, idCol, textCol, n, scope).filter(col("_size") > 0)
    NearDupIndex(base, scope.track(bandStream(base, k, rowsPerBand).cache()),
      k, rowsPerBand, n)
  }

  /** Banding-balance diagnostic for a [[NearDupIndex]] —
    * [[graft.ops.Similarity.ivfPqIndexStats]]'s MinHash twin: the
    * bucket-SIZE histogram of the band stream. Candidate generation is
    * QUADRATIC in a bucket's size (why [[lshNearDupPairs]]-family ops
    * grow a `maxPerBucket` cap), so append-only drift — a template farm
    * piling into a few bands — shows up here as mass moving toward
    * large sizes, the "rebuild with fresh banding params" signal.
    * Two narrow groupBys over the 8-byte bucket keys; ids and text
    * never move. Returns (bucket_size, n_buckets). */
  def nearDupIndexStats(index: NearDupIndex): DataFrame =
    index.bandFrame
      .groupBy(col("_bucket")).agg(count(lit(1)).as("_sz"))
      .groupBy(col("_sz")).agg(count(lit(1)).as("n_buckets"))
      .select(col("_sz").as("bucket_size"), col("n_buckets"))

  /** Persist a [[NearDupIndex]]: the shingle-HASH frame (the string
    * shingles are build-time scaffolding — probes intersect `_shh` and
    * band only the batch side, so they don't ship), the band stream, and
    * a one-row params table, each as parquet under `path`. This is the
    * "at cluster scale write both frames to storage" half of the
    * standing-index contract: the index survives the JVM, and tomorrow's
    * ingest job [[loadNearDupIndex]]s it instead of re-shingling 100 TB. */
  def saveNearDupIndex(index: NearDupIndex, path: String): Unit = {
    val sess = index.shingleFrame.sparkSession
    import sess.implicits._
    index.shingleFrame.select(col("_id"), col("_shh"), col("_size"))
      .write.mode("overwrite").parquet(s"$path/shingles")
    index.bandFrame.write.mode("overwrite").parquet(s"$path/bands")
    Seq((index.k, index.rowsPerBand, index.n))
      .toDF("k", "rows_per_band", "n")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** APPEND a newly-ingested batch to a [[saveNearDupIndex]]'d index ON
    * DISK — the persistence half [[extendNearDupIndex]] only promised:
    * shingle/band ONLY the batch under the saved banding parameters and
    * `mode("append")` its projections onto the stored parquet. History is
    * never rewritten (the `snapshotDelta` append-never-rewrite
    * discipline, now for the fuzzy layer): a daily loop over a 100 TB
    * history writes one batch-sized parquet delta per day, where
    * re-`save`-ing the extended index would rewrite the WHOLE history
    * every batch — and, worse, holds an ever-growing union lineage in
    * memory across batches. Probes after a reload see one flat table.
    *
    * The batch is shingled ONCE (cached via `scope`) for both writes —
    * complete the call before the scope closes. Parameters ride the
    * stored params table, so the batch is banded identically to the
    * build; callers never re-state k/rowsPerBand/n (and cannot get them
    * wrong). */
  def appendNearDupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                         newDocs: DataFrame, idCol: String, textCol: String,
                         scope: CacheScope = CacheScope.noop): Unit = {
    Tombstones.requireNotTombstoned(spark, path, newDocs, idCol)
    val p = spark.read.parquet(s"$path/params").head()
    val (k, rpb, n) =
      (p.getAs[Int]("k"), p.getAs[Int]("rows_per_band"), p.getAs[Int]("n"))
    val base = shingleSets(newDocs, idCol, textCol, n, scope).filter(col("_size") > 0)
    base.select(col("_id"), col("_shh"), col("_size"))
      .write.mode("append").parquet(s"$path/shingles")
    bandStream(base, k, rpb).write.mode("append").parquet(s"$path/bands")
  }

  /** Compact an appended [[saveNearDupIndex]] store's shingle and band
    * tables into ~128 MB files ([[graft.ops.StoreCompact]]): append-only
    * ingest leaves one file group per batch; probes pay the listing/open
    * cost. Pending [[tombstoneNearDupIndex]] deletions are applied
    * PHYSICALLY to BOTH tables during the rewrite, then cleared (after
    * both — a crash in between re-applies the idempotent anti-join on
    * the next load). Offline maintenance, probe-invariant
    * (spec-pinned). */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit = {
    val tombs = Tombstones.readOpt(spark, path)
    StoreCompact.compactParquetDir(spark, s"$path/shingles", tombs.map((_, "_id")))
    StoreCompact.compactParquetDir(spark, s"$path/bands", tombs.map((_, "_id")))
    Tombstones.clear(spark, path)
  }

  /** Load a [[saveNearDupIndex]]'d index; frames come back cached (the
    * point of a standing index — every batch of the day probes them).
    * Pending [[tombstoneNearDupIndex]] deletions are subtracted from
    * both frames (broadcast anti-joins). */
  def loadNearDupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       scope: CacheScope = CacheScope.noop): NearDupIndex = {
    val p = spark.read.parquet(s"$path/params").head()
    NearDupIndex(
      scope.track(Tombstones.applyTo(spark, path,
        spark.read.parquet(s"$path/shingles"), "_id").cache()),
      scope.track(Tombstones.applyTo(spark, path,
        spark.read.parquet(s"$path/bands"), "_id").cache()),
      p.getAs[Int]("k"), p.getAs[Int]("rows_per_band"), p.getAs[Int]("n"))
  }

  /** Delete documents from an in-memory [[NearDupIndex]]: broadcast
    * anti-joins on both frames — a forgotten doc stops matching future
    * batches immediately. On-disk twin: [[tombstoneNearDupIndex]]. */
  def dropFromNearDupIndex(index: NearDupIndex, ids: DataFrame,
                           idCol: String): NearDupIndex = {
    val tombs = ids.select(col(idCol).as("_tid")).distinct()
    def minus(df: DataFrame) =
      df.join(broadcast(tombs), df("_id") === tombs("_tid"), "left_anti")
    index.copy(shingleFrame = minus(index.shingleFrame),
      bandFrame = minus(index.bandFrame))
  }

  /** Record deletions against a [[saveNearDupIndex]]'d store — the
    * right-to-be-forgotten write path ([[graft.ops.Tombstones]]):
    * O(ids) append under `path/_tombstones`, subtracted by
    * [[loadNearDupIndex]], applied physically by
    * [[compactNearDupIndex]]. A tombstoned id cannot be re-appended
    * until then (fail-loud). */
  def tombstoneNearDupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                            ids: DataFrame, idCol: String): Unit =
    Tombstones.append(spark, path, ids, idCol)

  /** Extend a [[NearDupIndex]] with a newly-ingested batch — the fuzzy
    * layer's write-back half, mirroring [[snapshotDelta]]'s exact-layer
    * discipline: shingle/band ONLY the batch and union it onto the
    * standing frames — the IN-MEMORY form; [[appendNearDupIndex]] is the
    * on-disk form (append the same projections to the saved parquet,
    * never rewrite history). Typical loop per batch:
    * probe with [[incrementalNearDupsWith]], drop/flag, then extend the
    * index with the kept rows for the next batch. */
  def extendNearDupIndex(index: NearDupIndex, newDocs: DataFrame,
                         idCol: String, textCol: String,
                         scope: CacheScope = CacheScope.noop): NearDupIndex = {
    val base = shingleSets(newDocs, idCol, textCol, index.n, scope)
      .filter(col("_size") > 0)
    index.copy(
      shingleFrame = index.shingleFrame.select(col("_id"), col("_shh"), col("_size"))
        .unionByName(base.select(col("_id"), col("_shh"), col("_size"))),
      bandFrame = index.bandFrame
        .unionByName(scope.track(bandStream(base, index.k, index.rowsPerBand).cache())))
  }

  /** (_id, _bucket) band stream of a `_size > 0` [[shingleSets]] frame. */
  private def bandStream(base: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val withSigs = base.withColumn("_sigs",
      graft.functions.ShingleExprs.minhashSignature(col("_sh"), k))
    val sigCols = (0 until k).map(i => element_at(col("_sigs"), i + 1))
    withSigs.select(col("_id"),
      explode(array(bandKeys(sigCols, rowsPerBand): _*)).as("_bucket"))
  }

  /** Incremental NEAR-dup probe — [[incrementalDedup]]'s fuzzy layer: for
    * each new document, its best near-duplicate in the historical corpus
    * by MinHash-LSH candidates verified with exact n-gram Jaccard. New
    * docs with no history collision above `minJaccard` produce no row
    * (they are clean; the exact layer already handled identity).
    *
    * Same banding discipline as [[minhashLshPairsOf]]: candidates come
    * from a band-bucket equi-join between the two sides' narrow
    * (bucket, id) projections — never a cross join — and only candidates
    * pay the sorted-hash merge-count verify. Best match per new doc is
    * deterministic: highest Jaccard, ties to the lowest history id.
    *
    * This convenience overload shingles the history per call — fine for
    * a one-off. A PRODUCTION ingest loop probing the same history every
    * batch should [[buildNearDupIndex]] once and call
    * [[incrementalNearDupsWith]] per batch instead. */
  def incrementalNearDups(newDocs: DataFrame, history: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 4, rowsPerBand: Int = 2, n: Int = 5,
                          minJaccard: Double = 0.2,
                          scope: CacheScope = CacheScope.noop): DataFrame =
    incrementalNearDupsWith(newDocs,
      buildNearDupIndex(history, idCol, textCol, k, rowsPerBand, n, scope),
      idCol, textCol, minJaccard, scope)

  /** [[incrementalNearDups]] against a prebuilt [[NearDupIndex]]: only
    * the NEW batch is shingled and banded — the history side rides the
    * index's materialized frames, so consecutive batches never trigger a
    * history re-shingle (plan-asserted in the spec). */
  def incrementalNearDupsWith(newDocs: DataFrame, index: NearDupIndex,
                              idCol: String, textCol: String,
                              minJaccard: Double = 0.2,
                              scope: CacheScope = CacheScope.noop): DataFrame =
    nearDupScored(newDocs, index, idCol, textCol, minJaccard, scope)
      .groupBy(col("new_id"))
      // min_by over (-jaccard, hist_id): best match, ties to the lowest
      // history id — ids never negated, so string doc ids work too
      .agg(min_by(struct(col("hist_id"), col("_j")),
        struct(negate(col("_j")), col("hist_id"))).as("_best"))
      .select(col("new_id").as(idCol),
        col("_best.hist_id").as("hist_id"),
        round(col("_best._j"), 4).as("jaccard"))

  /** The verified-candidate table both probe shapes rank: LSH band-bucket
    * candidates between the batch and the index, exact-Jaccard scored,
    * thresholded — (new_id, hist_id, _j). */
  private def nearDupScored(newDocs: DataFrame, index: NearDupIndex,
                            idCol: String, textCol: String,
                            minJaccard: Double,
                            scope: CacheScope): DataFrame = {
    val newBase = shingleSets(newDocs, idCol, textCol, index.n, scope)
      .filter(col("_size") > 0)
    val newBands = bandStream(newBase, index.k, index.rowsPerBand)
    val cands = newBands.select(col("_bucket"), col("_id").as("new_id"))
      .join(index.bandFrame.select(col("_bucket"), col("_id").as("hist_id")),
        Seq("_bucket"))
      .select(col("new_id"), col("hist_id"))
      .distinct()
    val nv = newBase.select(col("_id").as("new_id"), col("_shh").as("sh_n"), col("_size").as("sz_n"))
    val hv = index.shingleFrame.select(col("_id").as("hist_id"), col("_shh").as("sh_h"), col("_size").as("sz_h"))
    cands.join(nv, Seq("new_id")).join(hv, Seq("hist_id"))
      .withColumn("_common", graft.functions.ArrayExprs.sortedLongIntersectCount(col("sh_n"), col("sh_h")))
      .withColumn("_j", col("_common") / (col("sz_n") + col("sz_h") - col("_common")))
      .filter(col("_j") >= minJaccard)
  }

  /** Ranked near-dup probe — [[incrementalNearDupsWith]] with RANK KEPT:
    * per batch document, its top-`topK` historical near-duplicates by
    * exact n-gram Jaccard over the LSH candidate set (jaccard DESC, ties
    * to the lowest history id), as (query_id, idCol, jaccard). Feed it
    * with [[exactJaccardTopK]] ground truth into
    * [[graft.ops.Similarity.rankedEval]] and the per-query
    * recall/MRR/NDCG table is the decision surface for a standing
    * neardup store's banding/threshold knobs (`anneval --store-kind
    * neardup`): recall says what the bands MISS, MRR/NDCG whether what
    * they return ranks the truly-nearest first.
    *
    * Same scale shape as the probe it ranks: bucket equi-join candidates
    * (never all-pairs), merge-count verify on candidates only, and a
    * |Q|-partition top-k window over rows already bounded by the
    * candidate set. */
  def nearDupTopKWith(newDocs: DataFrame, index: NearDupIndex,
                      idCol: String, textCol: String,
                      minJaccard: Double, topK: Int,
                      scope: CacheScope = CacheScope.noop): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("_j").desc, col("hist_id"))
    nearDupScored(newDocs, index, idCol, textCol, minJaccard, scope)
      // self never ranks: an eval whose queries come FROM the store must
      // not credit each query for finding itself (exactTopK discipline);
      // a true ingest batch is disjoint from history, so this is free
      .filter(col("new_id") =!= col("hist_id"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= topK)
      // UNROUNDED score: rankedEval re-ranks by this column, and both
      // engines compute the identical IEEE division of exact ints — a
      // rounded score could reorder ties at a rounding boundary
      .select(col("new_id").as("query_id"), col("hist_id").as(idCol),
        col("_j").as("jaccard"))
  }

  /** Exact n-gram-Jaccard top-k ground truth —
    * [[graft.ops.Similarity.exactTopK]]'s text twin: brute-force
    * batch×history Jaccard with the QUERY side broadcast (eval query
    * sets are small by design), thresholded and ranked exactly like
    * [[nearDupTopKWith]]. Zero-overlap pairs never rank (no shared
    * shingle = not a near-duplicate by definition — ranking Jaccard-0
    * fillers by id would make the ground truth arbitrary). This is the
    * eval-only full scan an eval is FOR; the dedup path itself stays on
    * the LSH probe. */
  def exactJaccardTopK(history: DataFrame, queries: DataFrame,
                       idCol: String, textCol: String, n: Int,
                       minJaccard: Double, topK: Int,
                       scope: CacheScope = CacheScope.noop): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    import org.apache.spark.sql.expressions.Window
    val h = shingleSets(history, idCol, textCol, n, scope)
      .filter(col("_size") > 0)
      .select(col("_id").as("hist_id"), col("_shh").as("sh_h"), col("_size").as("sz_h"))
    val q = shingleSets(queries, idCol, textCol, n, scope)
      .filter(col("_size") > 0)
      .select(col("_id").as("new_id"), col("_shh").as("sh_n"), col("_size").as("sz_n"))
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("_j").desc, col("hist_id"))
    h.crossJoin(broadcast(q))
      .filter(col("new_id") =!= col("hist_id")) // self never ranks (see nearDupTopKWith)
      .withColumn("_common", graft.functions.ArrayExprs.sortedLongIntersectCount(col("sh_n"), col("sh_h")))
      .filter(col("_common") > 0)
      .withColumn("_j", col("_common") / (col("sz_n") + col("sz_h") - col("_common")))
      .filter(col("_j") >= minJaccard)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= topK)
      // unrounded, as in [[nearDupTopKWith]]
      .select(col("new_id").as("query_id"), col("hist_id").as(idCol),
        col("_j").as("jaccard"))
  }

  /** Boilerplate removal — the FREQUENCY-threshold complement of
    * [[chunkDedup]]'s first-wins rule (CCNet, Wenzek et al.: drop
    * paragraphs repeated across many pages — headers, footers, nav,
    * license blurbs). A segment is boilerplate iff it occurs in at least
    * `minDocs` DISTINCT documents, and then EVERY occurrence is removed —
    * including the first, which is what distinguishes boilerplate
    * stripping from dedup (dedup keeps one copy; boilerplate is noise in
    * all copies). Segments are the same normalized fixed-size token
    * windows as [[chunkDedup]] (paragraph-delimiter segmentation drops in
    * by swapping the splitter; this corpus has no newlines).
    *
    * Scale shape: the doc-frequency count shuffles only (md5, doc id) —
    * 20-byte rows, text stays in the scan stage. The boilerplate set is
    * then SMALL BY CONSTRUCTION (segments repeated across ≥ minDocs docs
    * are rare in any non-degenerate corpus — the distinct-segment tail is
    * what's huge), so it broadcasts and marking is a map-side join: the
    * corpus-sized chunk stream never shuffles for the verdict. The only
    * text-carrying movement is the final per-doc rebuild, which is the
    * output. Every doc yields a row (a fully-boilerplate doc keeps
    * kept_chunks = 0 and the empty string), so downstream joins never
    * silently lose documents.
    *
    * Returns (idCol, n_chunks, kept_chunks, clean_md5, clean_chars):
    * counts plus the rebuilt text compared as scalars (md5 + length). */
  def boilerplateRemove(df: DataFrame, idCol: String, textCol: String,
                        chunkTokens: Int = 10, minDocs: Int = 2,
                        scope: CacheScope = CacheScope.noop): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(minDocs >= 2, s"minDocs must be >= 2 (1 would drop everything), got $minDocs")
    val c = chunkTokens
    val w = split(lower(trim(col("_t"))), "\\s+")
    // text-carrying chunk stream (the rebuild needs the strings), cached:
    // it feeds both the doc-frequency count and the rebuild
    val chunks = scope.track(Parallelize.ensure(
        df.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"), posexplode(
        transform(sequence(lit(0), ceil(size(w) / lit(c.toDouble)).cast("int") - 1),
          i => concat_ws(" ", slice(w, i * c + 1, lit(c))))))
      .select(col("_id"), col("pos").as("_ci"), col("col").as("_chunk"),
        md5(col("col")).as("_k"))
      .cache())
    val boiler = chunks.select(col("_k"), col("_id"))
      .groupBy(col("_k"))
      .agg(countDistinct(col("_id")).as("_df"))
      .filter(col("_df") >= minDocs)
      .select(col("_k"), lit(true).as("_bp"))
    chunks.join(broadcast(boiler), Seq("_k"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_bp").isNull, 1L).otherwise(0L)).as("kept_chunks"),
        // collect_list drops nulls, so only surviving chunks re-assemble;
        // zero survivors → empty array → concat_ws gives "" (md5-defined)
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("_bp").isNull,
            struct(col("_ci"), col("_chunk"))))),
          s => s.getField("_chunk"))).as("_ct"))
      .select(col("_id").as(idCol), col("n_chunks"), col("kept_chunks"),
        md5(col("_ct")).as("clean_md5"),
        length(col("_ct")).cast("long").as("clean_chars"))
  }

  /** INTRA-document segment dedup — the within-page twin of
    * [[boilerplateRemove]]'s cross-doc rule (the C4/FineWeb "remove
    * duplicated spans inside a page" heuristic; scraped pages repeat
    * nav blocks, quoted replies, and listing rows WITHIN themselves,
    * which inflates the repetition signal and wastes token budget
    * before any cross-doc dedup even looks at the page). A segment is
    * kept iff it is the FIRST occurrence of its content within its own
    * document; later copies are dropped and the text reassembles in
    * original order. Segments are the same normalized fixed-size token
    * windows as [[chunkDedup]]/[[boilerplateRemove]] (reference
    * semantics: carrottransform has no text ops — this extends the
    * curation family; paragraph segmentation drops in by swapping the
    * splitter, this corpus has no newlines).
    *
    * Scale shape: ZERO shuffles — the whole operator is one row-local
    * projection (higher-order `filter` with an `array_position`
    * first-occurrence probe over the doc's own chunk array), so it
    * composes under any partitioning and costs one map pass at any
    * corpus size. The first-occurrence probe is O(chunks²) per doc in
    * the worst case, bounded by per-doc length, never by corpus size —
    * the exact trade [[boilerplateRemove]] cannot make (its rule needs
    * cross-doc frequencies; this one deliberately doesn't).
    *
    * Returns the [[boilerplateRemove]] contract: (idCol, n_chunks,
    * kept_chunks, clean_md5, clean_chars) — rebuilt text compared as
    * scalars. */
  def intraDocDedup(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    val c = chunkTokens
    val w = split(lower(trim(col(textCol))), "\\s+")
    df.select(col(idCol),
        transform(sequence(lit(0), ceil(size(w) / lit(c.toDouble)).cast("int") - 1),
          i => concat_ws(" ", slice(w, i * c + 1, lit(c)))).as("_chs"))
      // keep a chunk iff its first occurrence is its own slot; staging
      // _chs (and then _kept) as columns keeps the chunking from being
      // re-derived inside the lambda's position probe
      .select(col(idCol), col("_chs"),
        filter(col("_chs"),
          (x, i) => array_position(col("_chs"), x) === i + 1).as("_kept"))
      .select(col(idCol),
        size(col("_chs")).cast("long").as("n_chunks"),
        size(col("_kept")).cast("long").as("kept_chunks"),
        md5(array_join(col("_kept"), " ")).as("clean_md5"),
        length(array_join(col("_kept"), " ")).cast("long").as("clean_chars"))
  }

  /** Blocked fuzzy duplicate pairs — record-linkage dedup for
    * NEAR-IDENTICAL strings that hash differently (OCR noise, whitespace
    * drift, trailing edits), where set-similarity (minhash/Jaccard) is
    * overkill and edit distance is the right metric. Classic blocking:
    * candidates are pairs agreeing on a cheap deterministic block key
    * (here `blockCols`, e.g. language + first token), and only
    * within-block pairs pay the Levenshtein verify on a bounded
    * `prefixChars` prefix — the BANDED 3-arg form, whose DP abandons a
    * pair the moment every path exceeds `maxEdit`, so each verify is
    * O(prefixChars·maxEdit), not O(prefixChars²). Pairs are emitted once
    * (id1 < id2) with their exact distance ≤ maxEdit.
    *
    * Scale shape: one shuffle on the block key; block sizes bound the
    * quadratic term (the operator never cross-joins the corpus), and the
    * prefix cap bounds each verify at O(prefixChars²) regardless of
    * document length. Skewed blocks are the operator's known hazard —
    * `maxBlockSize` > 0 is the wired-in escape (the `maxPerBucket`
    * pattern from [[graft.ops.Similarity.lshNearDupPairs]]): each block
    * keeps only its first `maxBlockSize` members in id order, so the
    * per-task pair count is capped at maxBlockSize²/2 even when a
    * template farm funnels a million near-identical records into one
    * block key. Deterministic, and an explicit recall trade on oversize
    * blocks only — blocks at or under the cap are untouched. With the
    * cap off, tighten the key (more columns) when a block concentrates;
    * both sides of the self-join ride the same exchange, so AQE reuses
    * it. */
  def fuzzyDupPairs(df: DataFrame, idCol: String, textCol: String,
                    blockCols: Seq[Column], maxEdit: Int,
                    prefixChars: Int = 80, maxBlockSize: Int = 0,
                    scope: CacheScope = CacheScope.noop): DataFrame = {
    require(maxEdit >= 0, s"maxEdit must be non-negative, got $maxEdit")
    require(prefixChars > 0, s"prefixChars must be positive, got $prefixChars")
    val base = Parallelize.ensure(df.select(
      col(idCol).as("_id"),
      substring(lower(trim(col(textCol))), 1, prefixChars).as("_pfx"),
      struct(blockCols: _*).as("_blk")))
    val capped =
      if (maxBlockSize <= 0) base
      else {
        // rank within block, keep the first maxBlockSize by id: one
        // shuffle on the block key; the rank itself is
        // O(|block| log |block|) per task — linearithmic, vs the
        // quadratic join it guards. CACHED: both self-join sides consume
        // this frame, and a duplicated window subtree not only runs
        // twice but repels the join from clean reuse (measured 5.7 s
        // warm vs 0.96 s uncapped at sf0.1 until the cache; ~1.0 s
        // after, matching uncapped — the lshNearDupPairs lesson again)
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("_blk")).orderBy(col("_id"))
        scope.track(base.withColumn("_bn", row_number().over(w))
          .filter(col("_bn") <= maxBlockSize).drop("_bn")
          .cache())
      }
    val l = capped.select(col("_id").as("id1"), col("_pfx").as("_p1"), col("_blk"))
    val r = capped.select(col("_id").as("id2"), col("_pfx").as("_p2"), col("_blk"))
    l.join(r, Seq("_blk"))
      .filter(col("id1") < col("id2"))
      // 3-arg banded levenshtein: the DP early-exits once a row's minimum
      // exceeds maxEdit, turning each verify from O(prefix²) into
      // O(prefix·maxEdit) — on the hottest loop of the operator, for free
      // (distance > maxEdit returns −1, which the >= 0 filter drops; a
      // within-band distance is EXACT, so outputs are unchanged)
      .select(col("id1"), col("id2"),
        levenshtein(col("_p1"), col("_p2"), maxEdit).as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }
}
