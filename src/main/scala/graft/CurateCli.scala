package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.ops.{CacheScope, Cluster, Corpus, Dedup, Ledger, Multimodal, Pipeline, Shard, StandingStore, TextAnalysis}

/** CLI front door for the curation surface — the reference is a CLI tool
  * end-to-end (`cli/command.py:9-21`, which fronts the ETL the same way
  * [[graft.etl.CarrotCli]] does); the 100+ dedup/curation operators here
  * deserve the same: a data engineer runs `clean`/`curate`/`audit`/`dedup`
  * over JSONL or parquet without writing a line of Scala.
  *
  * Usage:
  *   runMain graft.CurateCli <command> --in PATH --out PATH [options]
  *
  * Commands (each a composed pipeline already proven by a gate query):
  *   curate  — [[Pipeline.curateCorpus]]: length gate → chunk-dedup
  *             rebuild → DSIR weights → token-budget selection (q92)
  *   clean   — [[Pipeline.cleanCorpus]]: quality gate → exact dedup →
  *             benchmark decontamination → chunking (needs `--bench`).
  *             `--contamination excise` removes just the overlapping
  *             spans (q175) instead of dropping the whole page
  *   refine  — [[Pipeline.refineCorpus]] (q146/q164): the published
  *             web-pipeline ladder — Gopher gate → optional repetition
  *             gate (`--repetition Y`, q160) → survivor-built vocab
  *             gate → ExactSubstr span removal; writes the rebuilt
  *             (id, n_tokens, kept_tokens, text_clean) table
  *   audit   — [[Pipeline.auditReport]]: domain cap → split assignment →
  *             train→eval leakage rollup (q117)
  *   bpe     — tokenizer training over the corpus: the driver-local
  *             fast path ([[graft.ops.Corpus.bpeTrainLocal]] — one
  *             distributed (word, freq) collapse, in-process merges),
  *             writing the learned rules as (rank, left, right,
  *             pair_count) in rank order
  *   tokenize — apply a learned `bpe` rules table (`--rules`, the (rank,
  *             left, right, pair_count) output) to the corpus:
  *             [[graft.ops.Corpus.bpeEncode]] — rules collect to a
  *             driver rank table (vocabulary-sized by construction) and
  *             ride one broadcast; each doc row-locally segments to its
  *             token array
  *   dedup   — incremental ingest dedup against a STANDING fingerprint
  *             snapshot dir ([[Dedup.incrementalDedupSnapshot]], q96/q120
  *             discipline): probes the snapshot, writes per-doc verdicts,
  *             and appends the batch's kept (id, fp) delta back to the
  *             snapshot (append-only — history is never rewritten;
  *             `--update-snapshot N` to probe read-only). `--normalize Y`
  *             keys the loop on NORMALIZED fingerprints
  *             ([[TextAnalysis.normalizeForDedup]], q161) — the kind is
  *             a FOUNDING constant of the store; raw and normalized are
  *             different identity spaces and restating the wrong one
  *             fails loudly
  *   ingest  — the COMPOSED daily loop ([[Pipeline.ingestGate]], q138):
  *             optionally the Gopher quality gate first (`--quality Y`,
  *             row-local, q140 — failing docs verdict `low_quality`,
  *             never touch a store, and are NOT history for later
  *             copies), then the exact rung against the standing
  *             fingerprint snapshot, then the fuzzy rung against the
  *             standing MinHash index for the exact survivors — ONE
  *             unified (id, verdict, hist_id, jaccard) verdict table
  *             in escalating rung-cost order; unless `--update N`, the
  *             FINAL-kept docs (and only those — a near-dup's canonical
  *             copy is already in history) extend BOTH stores, and the
  *             standing ledgers ride the same kept set: `--ledger DIR`
  *             appends distinct content counts (card), `--hist DIR` the
  *             token-length histogram (drift-gate history), `--sample
  *             DIR` the k-per-group inspection sample — each keyed by
  *             `--batch-id N`. Absent stores are founded from the
  *             first batch. `--normalize Y` keys BOTH rungs' content
  *             identity on the q161 canonical form (a founding constant
  *             of each store; quality features, histogram signal, and
  *             sample payloads stay on the raw text); `--repetition Y`
  *             adds the q160 gate over the quality survivors — failing
  *             docs verdict `repetitive`, terminal like `low_quality`
  *   neardup — the FUZZY layer of the same loop: probe the batch against
  *             a STANDING MinHash-LSH index dir
  *             ([[Dedup.incrementalNearDupsWith]], q97/q126 discipline),
  *             writing (id, hist_id, jaccard) best-match rows, then
  *             [[Dedup.appendNearDupIndex]] the batch (append-only;
  *             `--update-index N` to probe read-only). An absent index
  *             dir is founded from the first batch; banding parameters
  *             (`--minhash-k`/`--rows-per-band`/`--ngram`) are fixed at
  *             build time and restating a disagreeing value fails
  *             loudly; `--normalize Y` shingles the canonical form,
  *             under the same founding content-identity marker
  *   embeddup — the VECTOR rung of the loop: probe the batch's
  *             embeddings against a standing LSH bucket index
  *             ([[graft.ops.Similarity.incrementalEmbedNearDupsWith]],
  *             q115/q127 discipline), then append the batch's buckets
  *             (`--update-index N` read-only). Founded from the first
  *             batch (`--dim` defaults to the data's width, `--planes`
  *             to the occupancy rule); stored hashing params win.
  *             `--multiprobe Y` widens each probe to its Hamming-1
  *             bucket neighbors (q174) — a per-probe recall knob, not
  *             a founding constant: the store never re-buckets
  *   annindex — the SERVING-index daily loop (q133/q135 discipline): an
  *             absent `--index` dir is FOUNDED from the batch — coarse
  *             centroids k-means-trained at constant occupancy
  *             (`--cells` defaults to the [[graft.ops.Similarity.autoCells]]
  *             rule), PQ codebook trained per sub-space, corpus encoded
  *             once; an existing dir gets the batch APPENDED, encoded
  *             under the STORED geometry (restating a disagreeing
  *             `--dim`/`--residual` fails loudly — stored params win);
  *             `--refound Y` retrains from `--in` as the CURRENT full
  *             corpus and atomically swaps the store — the remediation
  *             when the q136 occupancy diagnostic says the founding
  *             geometry no longer fits the drifted corpus
  *   annsearch — top-k search against a standing `annindex` dir
  *             ([[graft.ops.Similarity.ivfPqTopKWith]]): ranks coded
  *             rows only, zero corpus-float reads; `--nprobe` defaults
  *             to the autoProbe scan-fraction rule
  *   anneval — grade a standing store against exact ground truth
  *             ([[graft.ops.Similarity.rankedEval]], q163): per-query
  *             recall@k, MRR@k, NDCG@k — run beside the occupancy
  *             diagnostic to decide whether `--refound Y` is due
  *             (occupancy says the geometry drifted; this says what the
  *             drift costs). `--store-kind` picks the rung: `ivfpq`
  *             (default, an `annindex` dir vs exact cosine), `neardup`
  *             (q172: vs brute-force exact n-gram Jaccard — the
  *             --minhash-k/--rows-per-band/--min-jaccard decision
  *             table), `embeddup` (q173: vs unthresholded exact cosine —
  *             the --planes/--min-sim decision table). Queries from
  *             `--queries` (own `--queries-format`) or the first
  *             `--nqueries` corpus rows by id
  *   profile — the data-doctor for ANY table (q167,
  *             [[graft.ops.Stats.tableProfile]]): per-column rows,
  *             nulls, distincts, min/max; `--approx Y` swaps exact
  *             distincts for HLL sketches (no Expand — the 100 TB
  *             shape)
  *   split   — reproducible train/val/test splits
  *             ([[TextAnalysis.hashSplit]], q46): `--splits
  *             train=0.8,val=0.1,test=0.1` assigns each row by the md5
  *             of `--key-col` (stable across runs, partitionings, and
  *             engines) and writes ONE hive-partitioned tree,
  *             `split=<name>/` per split. `--leakage-safe Y` (q176,
  *             [[graft.ops.Cluster.leakageSafeSplit]]) first resolves
  *             near-dup clusters inline (`--ngram`/`--minhash-k`/
  *             `--rows-per-band`/`--min-jaccard`, the neardup knobs)
  *             and hashes the CLUSTER id — near-dup pairs cannot
  *             straddle train/eval (the q109 leakage, fixed rather
  *             than measured)
  *   dividend — what a dedup pass would buy (q181,
  *             [[graft.ops.Cluster.dedupDividend]]): resolve near-dup
  *             clusters inline (same knobs as `neardup`/`split
  *             --leakage-safe`) and report, per `--group-col`, the doc
  *             count and token mass on non-canonical members — the
  *             table that prices a 100-TB dedup before it runs;
  *             `--thresholds 0.5,0.7,0.9` writes the q184 CURVE instead
  *             (whole-corpus pricing per cutoff, one pair-table
  *             component resolution per threshold — the --min-jaccard
  *             decision table after transitive closure)
  *   labelaudit — metadata-vs-content confusion table (q182,
  *             [[graft.ops.TextAnalysis.labelAgreement]]): per
  *             (`--label-col`, `--pred-col`) doc counts and
  *             within-label shares — run before any pipeline trusts a
  *             label for mixing/filtering/quotas
  *   diversity — the distinct-n-gram census (q177,
  *             [[graft.ops.Corpus.ngramDiversity]]): per (`--group-col`,
  *             n ∈ `--ngrams`) total vs distinct gram mass + ratio —
  *             boilerplate mass shows as a ratio cliff no token count
  *             sees; `--approx Y` swaps exact distincts for HLL
  *             sketches (bounded agg state per group, totals stay
  *             exact — the 100 TB shape)
  *   pii     — `--census Y` writes the per-(group, rule) exposure
  *             report (q178, [[graft.ops.Scrub.piiCensus]] — each rule
  *             counted independently on RAW text, the diagnostic upper
  *             bound); default applies the q73 sequential mask
  *             ([[graft.ops.Scrub.piiMask]]) and rewrites `--text-col`
  *             in place
  *   manifest — the release manifest (q179, [[graft.ops.Shard.manifest]]):
  *             per-shard doc count, token mass, and the order-invariant
  *             additive content hash; input with a `--shard-col` is
  *             manifested as-is, else size-balance-assigned first
  *             (`--shards`, weight `--size-col` or the token count of
  *             `--text-col`). Two builds prove content identity by
  *             comparing manifests, never re-reading shards; `--diff
  *             PRIOR` (own `--diff-format`) writes the release-gate
  *             diff instead — added/removed/changed/equal per shard,
  *             with the counts-equal-hash-differs silent-edit flag
  *   card    — the corpus dataset card without Scala: exact
  *             [[graft.ops.Corpus.datasetCardWeighted]] (q134 — counts,
  *             lang mix, dup rate, token-mass length quantiles) or the
  *             sketch flavor (`--approx Y`,
  *             [[graft.ops.Corpus.datasetCardApprox]] — one pass,
  *             constant agg state); `--ledger DIR` instead reads a
  *             standing [[graft.ops.Corpus.cardLedgerEstimate]] ledger —
  *             corpus-to-date distinct counts with ZERO data rescans
  *             (no `--in` needed; grouping was fixed at append time)
  *   quality — the Gopher gate standalone (q140,
  *             [[graft.ops.TextAnalysis.gopherQualityGate]]): per-doc
  *             features beside the verdict, for threshold tuning before
  *             wiring `ingest --quality Y`; `--repetition Y` adds the
  *             q160 within-doc repetition rung's columns
  *             ([[TextAnalysis.gopherRepetitionGate]], paper defaults)
  *             to the same table
  *   drift   — distribution-drift gate against a STANDING histogram
  *             ledger ([[graft.ops.HistLedger]], q153 discipline): the
  *             batch's per-group total-variation distance vs the corpus
  *             to date (the broken-extractor/poisoned-source canary),
  *             then the batch appends under `--batch-id` as history for
  *             the next one (`--update N` to probe read-only). The
  *             signal defaults to token count of `--text-col`
  *             (`--val-col` scores any numeric column); the bucket grid
  *             is a FOUNDING constant — an absent ledger is founded
  *             from this batch, a stored grid wins and restating a
  *             disagreeing one fails loudly. `--max-tv X --quarantine
  *             DIR` turns the report into a GATE (the
  *             [[graft.streaming.EventStream.driftGatedHistSink]]
  *             discipline batch-side): groups past the threshold divert
  *             their rows to the quarantine dir and never become
  *             history
  *   sample  — the standing inspection-sample loop
  *             ([[graft.ops.SampleLedger]]): append the batch's
  *             per-group bottom-k under `--batch-id`, then write the
  *             corpus-to-date k-per-group uniform sample — the "show me
  *             20 random documents from that source" answer with zero
  *             data rescans (`--update N` dumps the current sample
  *             without touching the store, no `--in` needed); k and
  *             seed are FOUNDING constants, stored values win
  *   select  — balanced corpus selection ([[graft.ops.Corpus.waterfillSample]],
  *             q156 discipline): draw exactly `--budget` documents with
  *             per-group shares temperature-weighted (`--alpha`) and
  *             WATER-FILLED — small groups taken whole, their unused
  *             share re-flowed, so the draw never silently under-delivers;
  *             writes the selected document ROWS
  *   stats   — the store doctor: one summary row for ANY standing store
  *             or ledger dir (layout auto-detected — fingerprint
  *             snapshot, neardup/embeddup/ivfpq index, card/histogram/
  *             sample ledger): kind, main-table rows, batch-dir count,
  *             pending tombstones, compaction horizon, founding params,
  *             Bloom sidecar presence. Run it before forget/compact to
  *             see what maintenance is owed
  *   overlap — the benchmark-contamination report (q171,
  *             [[Dedup.contaminationScoreOf]]): per training doc, the
  *             fraction of its `--ngram` shingles found in `--bench`
  *             (own `--bench-format`); `--max-overlap X` adds the
  *             release gate's contaminated verdict column
  *   occupancy — the balance diagnostic for any standing INDEX store
  *             (q136/q169/q170): per-cell counts (ivfpq) or bucket-size
  *             histograms (neardup/embeddup) read straight off the
  *             stored tables — drift shows as mass moving toward hot
  *             cells/buckets, and the remediation is the family's
  *             rebuild/refound loop
  *   forget  — right-to-be-forgotten deletions against ANY standing
  *             store (`--store`): the ids in `--in` are appended to the
  *             store's tombstone sidecar ([[graft.ops.StandingStore]]
  *             — O(ids), history untouched); loads subtract them, the
  *             next `compact` applies them physically. The store family
  *             (snapshot / neardup / embeddup / ivfpq / phash / frames)
  *             is detected from its tables, so a typo'd path fails
  *             loudly instead of founding a stray sidecar
  *   compact — offline store maintenance (`--store`, same layout
  *             detection): rewrite per-batch append deltas into
  *             ~128 MB files with pending tombstones applied and
  *             cleared. Run on a cadence, never in the ingest loop
  *
  * I/O: `--in`/`--out`/`--bench` take a parquet path or JSONL
  * (`.json`/`.jsonl` extension, or force with `--in-format`/`--out-format`/
  * `--bench-format jsonl|parquet` — each path has its OWN override, so a
  * JSONL corpus can decontaminate against a parquet benchmark). Output is
  * written as a directory of part files (the scale path — these corpora
  * don't fit one file).
  *
  * Defaults mirror the gate queries so a bare `curate`/`audit` run on the
  * documents table reproduces q92/q117 exactly (spec-pinned). */
object CurateCli {

  private val IoOptions = Set("--in", "--out", "--in-format", "--out-format")
  /** The base set of the media commands: I/O plus the id column. */
  private val MediaOptions = IoOptions + "--id-col"
  private val CommonOptions = MediaOptions + "--text-col"

  /** Per-COMMAND allowed-option sets (round-8 advice): a global known set
    * silently accepted `--merges` on `dedup` — syntactically valid,
    * semantically ignored, exactly the quiet-misconfiguration class the
    * strict parse exists to kill. Now `curate --merges 30` fails as
    * loudly as a typo'd flag. */
  private val CommandOptions: Map[String, Set[String]] = Map(
    "curate" -> (CommonOptions ++ Set("--lang-col", "--target-lang",
      "--min-chars", "--chunk-tokens", "--budget-num", "--budget-den")),
    "clean" -> (CommonOptions ++ Set("--bench", "--bench-format",
      "--min-tokens", "--ngram", "--chunk-size", "--overlap",
      "--contamination")),
    "audit" -> (CommonOptions ++ Set("--group-col", "--cap", "--splits",
      "--train-split", "--chunk-tokens")),
    "bpe" -> (CommonOptions ++ Set("--merges", "--min-pair-count",
      "--max-distinct-words")),
    "tokenize" -> (CommonOptions ++ Set("--rules", "--rules-format")),
    "card" -> (CommonOptions ++ Set("--group-col", "--lang-col",
      "--approx", "--ledger")),
    "quality" -> (CommonOptions ++ Set("--min-words", "--max-words",
      "--min-alpha", "--min-stop-hits", "--max-symbol-ratio",
      "--vocab-topk", "--max-oov", "--repetition")),
    "dedup" -> (CommonOptions ++ Set("--snapshot", "--update-snapshot",
      "--bloom", "--bloom-capacity", "--normalize")),
    "refine" -> (CommonOptions ++ Set("--min-words", "--vocab-topk",
      "--max-oov", "--span-n", "--repetition")),
    "ingest" -> (CommonOptions ++ Set("--snapshot", "--index", "--update",
      "--min-jaccard", "--minhash-k", "--rows-per-band", "--ngram",
      "--ledger", "--hist", "--sample", "--batch-id", "--group-col",
      "--quality", "--min-words", "--bloom", "--bloom-capacity",
      "--normalize", "--repetition")),
    "neardup" -> (CommonOptions ++ Set("--index", "--update-index",
      "--min-jaccard", "--minhash-k", "--rows-per-band", "--ngram",
      "--normalize")),
    "embeddup" -> (CommonOptions ++ Set("--index", "--update-index",
      "--min-sim", "--vec-col", "--dim", "--planes", "--multiprobe")),
    "annindex" -> Set("--in", "--in-format", "--index", "--id-col",
      "--vec-col", "--dim", "--cells", "--subspaces", "--codes", "--residual",
      "--refound"),
    "annsearch" -> (MediaOptions ++ Set("--index", "--vec-col", "--topk",
      "--nprobe")),
    "anneval" -> (CommonOptions ++ Set("--index",
      "--vec-col", "--topk", "--nprobe", "--queries", "--queries-format",
      "--nqueries", "--store-kind", "--min-jaccard", "--min-sim",
      "--multiprobe")),
    "split" -> (CommonOptions ++ Set("--key-col", "--splits",
      "--leakage-safe", "--ngram", "--minhash-k", "--rows-per-band",
      "--min-jaccard", "--cc-strategy")),
    "diversity" -> (CommonOptions ++ Set("--group-col", "--ngrams",
      "--approx")),
    "dividend" -> (CommonOptions ++ Set("--group-col", "--ngram",
      "--minhash-k", "--rows-per-band", "--min-jaccard", "--thresholds",
      "--cc-strategy")),
    "labelaudit" -> (IoOptions ++ Set("--label-col", "--pred-col")),
    "phashdup" -> (MediaOptions ++ Set("--payload-col", "--max-dist",
      "--bands", "--max-per-bucket", "--index", "--update-index",
      "--multiprobe", "--decoder", "--thresholds")),
    "framedup" -> (MediaOptions ++ Set("--payload-col", "--frame-bytes",
      "--stride", "--max-frames", "--max-dist", "--bands", "--min-matched",
      "--shifted", "--max-per-bucket", "--decoder", "--index",
      "--update-index", "--multiprobe")),
    "integrity" -> (MediaOptions + "--bad-only"),
    "features" -> (MediaOptions ++ Set("--payload-col", "--decoder")),
    "audiogate" -> (MediaOptions ++ Set("--payload-col", "--max-clip",
      "--max-silence", "--silence-tol", "--bad-only")),
    "scenes" -> (MediaOptions ++ Set("--payload-col", "--frame-bytes",
      "--stride", "--max-frames", "--cut-threshold", "--decoder", "--emit",
      "--min-shared", "--max-per-bucket")),
    "resize" -> (MediaOptions ++ Set("--payload-col", "--max-w", "--max-h",
      "--format", "--bad-only")),
    "crossmodal" -> (MediaOptions ++ Set("--payload-col", "--caption-col",
      "--decoder", "--bad-only")),
    "mediacard" -> IoOptions,
    "utterances" -> (MediaOptions ++ Set("--payload-col", "--frame-bytes",
      "--stride", "--max-frames", "--silence-tol", "--min-silent-frac")),
    "consensus" -> (IoOptions ++ Set("--in-b", "--in-b-format", "--a-name",
      "--b-name")),
    "mingest" -> (MediaOptions ++ Set("--index", "--update-index",
      "--max-dist", "--bands", "--decoder", "--audio", "--max-clip",
      "--max-silence", "--silence-tol")),
    "pii" -> (CommonOptions ++ Set("--group-col", "--census",
      "--min-digits")),
    "manifest" -> (CommonOptions ++ Set("--shards", "--size-col",
      "--shard-col", "--diff", "--diff-format")),
    "profile" -> (IoOptions ++ Set("--cols", "--approx")),
    "overlap" -> (CommonOptions ++ Set("--bench", "--bench-format",
      "--ngram", "--max-overlap")),
    "drift" -> (CommonOptions ++ Set("--ledger", "--group-col", "--val-col",
      "--update", "--batch-id", "--lo", "--hi", "--buckets",
      "--max-tv", "--quarantine")),
    "sample" -> (CommonOptions ++ Set("--ledger", "--group-col",
      "--payload-col", "--k", "--seed", "--update", "--batch-id")),
    "select" -> (CommonOptions ++ Set("--group-col", "--alpha", "--budget",
      "--seed")),
    "stats" -> Set("--store", "--out", "--out-format"),
    "occupancy" -> Set("--store", "--out", "--out-format", "--advice",
      "--hot-bucket"),
    // maintenance commands take no --out (forget's input IS the id list);
    // their sets are deliberately minimal so e.g. `compact --out X` fails
    // as loudly as a typo'd flag
    "forget" -> Set("--in", "--in-format", "--store", "--id-col"),
    "compact" -> Set("--store", "--id-col"))

  private def optionsFor(command: String): Set[String] =
    CommandOptions.getOrElse(command, throw new IllegalArgumentException(
      s"unknown command '$command' (expected ${CommandOptions.keys.toSeq.sorted.mkString(", ")})"))

  /** `--bloom Y`: the capacity (`--bloom-capacity`, a FOUNDING constant —
    * sketches of mismatched sizing cannot merge) to found the snapshot
    * store's Bloom sidecar with if it has none. `N`/absent never removes
    * one, and an existing sidecar is probed and maintained regardless of
    * the flag. */
  private def bloomToFound(argv: Argv.Flags): Option[Long] = {
    val capacity = argv.long("--bloom-capacity", 1000000L)
    Option.when(argv.yesNo("--bloom", default = false))(capacity)
  }

  private def maybeFoundBloom(spark: SparkSession, snapDir: String,
                              capacity: Option[Long], idCol: String): Unit =
    for (c <- capacity if Dedup.snapshotBloomParams(spark, snapDir).isEmpty)
      Dedup.foundSnapshotBloom(spark, snapDir, c, idCol = idCol)

  /** `--splits train=0.8,val=0.1,test=0.1` as (name, fraction) pairs in
    * declaration order (split boundaries stack in that order, like the
    * gate query). */
  private def splits(argv: Argv.Flags): Seq[(String, Double)] =
    argv.list("--splits").getOrElse(Seq("train=0.8", "val=0.1", "test=0.1")).map { part =>
      (part.split("=", 2).map(_.trim) match {
        case Array(name, frac) if name.nonEmpty => frac.toDoubleOption.map(name -> _)
        case _ => None
      }).getOrElse(throw new IllegalArgumentException(
        s"--splits takes name=fraction pairs, got '$part'"))
    }

  /** The `--batch-id` a standing-ledger command appends under, or None
    * for a read-only `--update N` probe. */
  private def appendBatch(argv: Argv.Flags): Option[Long] = {
    val update = argv.yesNo("--update", default = true)
    val batch = argv.long("--batch-id")
    if (!update) None
    else Some(batch.getOrElse(throw new IllegalArgumentException(
      "--update Y (the default) needs --batch-id")))
  }

  /** The MinHash-LSH knobs the fuzzy commands share (neardup, ingest,
    * `split --leakage-safe`, dividend), defaults applied. */
  private final case class Banding(k: Int, rowsPerBand: Int, ngram: Int)

  private def banding(argv: Argv.Flags): Banding =
    Banding(argv.int("--minhash-k", 4), argv.int("--rows-per-band", 2),
      argv.int("--ngram", 5))

  /** A founded MinHash index keeps its banding: a restated knob must agree. */
  private def checkBanding(argv: Argv.Flags, idx: Dedup.NearDupIndex): Unit =
    for ((flag, stored) <- Seq("--minhash-k" -> idx.k,
        "--rows-per-band" -> idx.rowsPerBand, "--ngram" -> idx.n))
      agrees(flag, argv.int(flag), stored, "banding parameters are")

  /** A restated founding constant must equal the stored one: the probe
    * runs under the stored value, not the stated one, so a disagreement
    * is the quiet misconfiguration the strict parse exists to kill. */
  private def agrees(flag: String, stated: Option[Any], stored: Any,
                     fixed: String): Unit =
    for (s <- stated if s != stored) throw new IllegalArgumentException(
      s"$flag $s disagrees with the stored index ($stored) — $fixed fixed at build time")

  /** A missing index is founded from the batch, which needs
    * `--update-index Y`: with N nothing is probed and nothing built, so a
    * typo'd `--index` path fails loudly instead of writing a silent empty
    * verdict table. */
  private def requireFoundable(idxDir: String, founded: Boolean, update: Boolean): Unit =
    if (!founded && !update) throw new IllegalArgumentException(
      s"--index $idxDir does not exist and --update-index N founds nothing: " +
        "nothing to probe, nothing would be built — check the index path")

  /** `--normalize`: the content-identity kind (raw or q161-normalized
    * text) is a FOUNDING constant of a dedup store — the two are
    * different identity spaces. A stored kind must match; a store founded
    * before the `_fpkind` marker is raw and cannot be retrofitted; an
    * unmarked store gets the marker only when this run may write
    * (`found`), since a read-only probe of an absent store must not pin
    * the kind of a store holding no data. */
  private def checkContentKind(spark: SparkSession, what: String, dir: String,
                               normalize: Boolean, found: Boolean): Unit = {
    val kind = if (normalize) "normalized" else "raw"
    Dedup.snapshotFpKind(spark, dir) match {
      case Some(stored) =>
        if (stored != kind) throw new IllegalArgumentException(
          s"$what at '$dir' is keyed on $stored content identity; " +
            s"--normalize ${if (normalize) "Y" else "N"} disagrees")
      case None =>
        if (normalize && StandingStore.founded(spark, dir))
          throw new IllegalArgumentException(
            s"$what at '$dir' predates the content-identity marker and is " +
              "keyed on raw text; --normalize Y cannot retrofit it (found a " +
              "fresh store instead)")
        if (found) Dedup.foundSnapshotFpKind(spark, dir, kind)
    }
  }

  /** `df` with its text column in the q161 canonical form when
    * `normalize`: every fingerprint and shingle downstream then keys on
    * it. */
  private def keyedText(df: DataFrame, textCol: String, normalize: Boolean): DataFrame =
    if (normalize) df.withColumn(textCol, TextAnalysis.normalizeForDedup(col(textCol)))
    else df

  /** The `--payload-col` column (default `payload`), checked present. */
  private def payloadCol(argv: Argv.Flags, in: DataFrame): String = {
    val pc = argv.str("--payload-col", "payload")
    require(in.columns.contains(pc),
      s"--payload-col '$pc' not in input columns ${in.columns.mkString(",")}")
    pc
  }

  /** The payload as bytes: a binary column passes through and a string
    * column is UTF-8-encoded (the q68 stub-decode discipline — real media
    * bytes swap in without CLI changes). */
  private def payloadBytes(in: DataFrame, pc: String): Column = in.schema(pc).dataType match {
    case BinaryType => col(pc)
    case StringType => encode(col(pc), "utf-8")
    case other => throw new IllegalArgumentException(
      s"--payload-col must be binary or string, got $other")
  }

  private def requireBinary(in: DataFrame, pc: String, who: String, holds: String): Unit =
    require(in.schema(pc).dataType == BinaryType,
      s"$who needs a BINARY payload column ($holds)")

  /** `--decoder stub|imageio|wav`: a media command's signature space. The
    * real decoders read BINARY bytes — a string re-encoded to bytes would
    * decode as nothing. `frames`: the payload is a clip, so `imageio`
    * reads length-prefixed encoded frames and the byte-window knobs
    * cannot apply to it. */
  private def decoderOf(argv: Argv.Flags, in: DataFrame, pc: String,
                        frames: Boolean = false): String = {
    val d = argv.choice("--decoder", "stub", "stub", "imageio", "wav")
    if (frames && d == "imageio")
      for (o <- Seq("--frame-bytes", "--stride") if argv.has(o))
        throw new IllegalArgumentException(
          s"$o applies to byte-window decoders (stub/wav); --decoder " +
            "imageio reads length-prefixed encoded frames")
    if (d != "stub") requireBinary(in, pc, s"--decoder $d",
      if (d == "wav") "RIFF/WAVE bytes"
      else if (frames) "encoded image frames, packImageFrames layout"
      else "encoded image bytes")
    d
  }

  /** A perceptual store's signature space is a FOUNDING constant: a
    * restated `--decoder` must match it, and the STORED decoder governs
    * the probe even when `--decoder` is omitted, so the payload check
    * follows the store, not the flag. */
  private def checkSignatureSpace(argv: Argv.Flags, in: DataFrame, pc: String,
                                  stored: String): Unit = {
    agrees("--decoder", argv.get("--decoder"), stored, "the signature space is")
    if (stored != "stub") requireBinary(in, pc,
      s"probing an index founded on the $stored signature space",
      "re-encoded strings would extract nothing, silently")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: CurateCli <${CommandOptions.keys.toSeq.sorted.mkString("|")}> " +
      "--in PATH --out PATH [options]")
    run(args.head, Argv.parse(args.tail, optionsFor(args.head)))
  }

  /** Testable entry: command + parsed options against the current (or a
    * fresh) session. Re-validates keys against the command's option set
    * (specs call this directly, bypassing [[Argv.parse]]). Every handler
    * reads its flags before its first write, so a malformed one fails
    * before any output or store changes. */
  def run(command: String, opts: Map[String, String]): Unit = {
    val stray = opts.keySet -- optionsFor(command)
    if (stray.nonEmpty)
      throw new IllegalArgumentException(
        s"option${if (stray.size > 1) "s" else ""} not valid for '$command': ${stray.toSeq.sorted.mkString(", ")}")
    val argv = Argv.Flags(opts)
    val preexisting = SparkSession.getDefaultSession.isDefined
    val spark = GraftSession.cli("graft-curate")

    def fmt(path: String, key: String): String = argv.choice(key,
      if (path.endsWith(".json") || path.endsWith(".jsonl")) "jsonl" else "parquet",
      "jsonl", "parquet")
    // `--in-format` governs ONLY `--in`; the benchmark file gets its own
    // `--bench-format` (else extension sniffing) so forcing the corpus to
    // JSONL cannot silently misread a parquet benchmark, and vice versa
    def readAs(path: String, fmtKey: String): DataFrame = fmt(path, fmtKey) match {
      case "jsonl" => spark.read.json(path)
      case _       => spark.read.parquet(path)
    }
    def read(path: String): DataFrame = readAs(path, "--in-format")
    def write(df: DataFrame, path: String): Unit = fmt(path, "--out-format") match {
      case "jsonl" => df.write.mode("overwrite").json(path)
      case _       => df.write.mode("overwrite").parquet(path)
    }

    val idCol   = argv.str("--id-col", "doc_id")
    val textCol = argv.str("--text-col", "text")
    // lazy: the maintenance commands (forget/compact) have no --out, and
    // compact no --in — a missing option only errors on a command that
    // actually requires it
    lazy val in = read(argv.req("--in"))
    lazy val out = argv.req("--out")

    CacheScope.withScope { scope =>
      command match {
        case "curate" =>
          write(Pipeline.curateCorpus(in, idCol, textCol,
            argv.str("--lang-col", "lang"),
            argv.str("--target-lang", "en"),
            argv.int("--min-chars", 200),
            argv.int("--chunk-tokens", 10),
            argv.long("--budget-num", 1L),
            argv.long("--budget-den", 2L), scope), out)

        case "clean" =>
          // `--contamination excise` keeps contaminated docs and removes
          // just the benchmark-overlapping spans (q175) instead of
          // dropping whole pages; strict vocabulary, typos fail loudly
          val contamination = argv.choice("--contamination", "drop", "drop", "excise")
          write(Pipeline.cleanCorpus(in, readAs(argv.req("--bench"), "--bench-format"), idCol, textCol,
            argv.int("--min-tokens", 20),
            argv.int("--ngram", 5),
            argv.int("--chunk-size", 16),
            argv.int("--overlap", 4), contamination, scope), out)

        case "audit" =>
          write(Pipeline.auditReport(in, idCol, textCol,
            argv.str("--group-col", "source"),
            argv.int("--cap", 50),
            splits(argv), argv.str("--train-split", "train"),
            argv.int("--chunk-tokens", 10), scope), out)

        case "bpe" =>
          import spark.implicits._
          // rank order IS the vocabulary: encoders must apply rules in
          // learned order, so it is materialized as an explicit column
          val rules = graft.ops.Corpus.bpeTrainLocal(in, textCol,
            argv.int("--merges", 1000),
            argv.long("--min-pair-count", 2L),
            argv.int("--max-distinct-words", 20000000))
          write(rules.zipWithIndex
            .map { case ((a, b, n), i) => (i, a, b, n) }
            .toDF("rank", "left", "right", "pair_count")
            .coalesce(1), out)

        case "tokenize" =>
          // rank order IS the vocabulary (the `bpe` contract): apply
          // rules in learned order; the table is vocabulary-sized, so
          // the collect is driver-bounded by construction
          val rulesPath = argv.req("--rules")
          val rules = readAs(rulesPath, "--rules-format")
            .orderBy(col("rank")).select(col("left"), col("right"))
            .collect().map(r => (r.getString(0), r.getString(1))).toSeq
          require(rules.nonEmpty, s"empty rules table at $rulesPath")
          write(graft.ops.Corpus.bpeEncode(in, idCol, textCol, rules), out)

        case "dedup" =>
          import spark.implicits._
          // every flag is read BEFORE any work touches the standing
          // snapshot: "n"/"no"/"false" must not fall through to APPEND
          val updateSnapshot = argv.yesNo("--update-snapshot", default = true)
          val snapDir = argv.req("--snapshot")
          // `--normalize Y` keys the whole loop on NORMALIZED fingerprints
          // (md5 of normalizeForDedup text, q161): punctuation/counter
          // variants of the same boilerplate dedup at exact cost
          val normalize = argv.yesNo("--normalize", default = false)
          val bloomCapacity = bloomToFound(argv)
          checkContentKind(spark, "snapshot", snapDir, normalize, found = updateSnapshot)
          // normalized runs rewrite the text column ONCE here; every
          // downstream fingerprint (probe + write-back delta) then hashes
          // the canonical form — fingerprint() of already-canonical text
          // is exactly md5(text), the q161 identity
          val keyed = keyedText(in, textCol, normalize)
          // snapshotLive, not a raw read: pending `forget` tombstones
          // must stop counting as history (a re-ingest of forgotten
          // content verdicts `kept` again)
          // presence = non-hidden content, not bare dir existence: a
          // probe-only `--bloom Y` founding run leaves a store holding
          // only the `_bloom` sidecar, which has no inferable schema
          val snapshot =
            if (StandingStore.founded(spark, snapDir))
              Dedup.snapshotLive(spark, snapDir, idCol, scope).select(col("fp"))
            else Seq.empty[String].toDF("fp")
          // `--bloom Y` FOUNDS the Bloom sidecar (q141 path) if absent —
          // seeded from the snapshot's current live rows; once a sidecar
          // exists, probes use it and appends maintain it regardless of
          // the flag (an unmaintained sketch would grow false NEGATIVES,
          // which turn duplicates into `kept`)
          maybeFoundBloom(spark, snapDir, bloomCapacity, idCol)
          val bloom = Dedup.loadSnapshotBloom(spark, snapDir)
          val verdicts = scope.track(
            Dedup.incrementalDedupSnapshot(keyed, idCol, textCol, snapshot,
              scope = scope, bloomPrefilter = bloom).cache())
          write(verdicts, out)
          if (updateSnapshot) {
            // the write-back half (q120): ONLY the kept rows' (id, fp)
            // extend the snapshot, appended — never rewritten; the
            // append guard rejects a pending-tombstoned id until
            // `compact` has applied its deletion. Sketch BEFORE rows:
            // a crash between the two leaves false positives, never
            // false negatives
            val delta = keyed
              .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
              .join(verdicts.filter(col("verdict") === "kept").select(col(idCol)),
                Seq(idCol), "left_semi")
            Dedup.appendSnapshotBloom(spark, snapDir, delta, "fp")
            Dedup.appendSnapshot(spark, snapDir, delta, idCol)
          }

        case "ingest" =>
          // the COMPOSED daily loop (q138): both standing stores probed
          // in rung order by Pipeline.ingestGate, one unified verdict
          // table out, final-kept docs extending both stores — what the
          // separate `dedup` + `neardup` commands do, minus the glue the
          // data engineer would otherwise hand-write (filtering the
          // exact survivors between rungs, appending only final-kept)
          import spark.implicits._
          val update = argv.yesNo("--update", default = true)
          val snapDir = argv.req("--snapshot")
          val idxDir = argv.req("--index")
          val minJ = argv.double("--min-jaccard", 0.2)
          // the CHEAPEST rung runs first: `--quality Y` drops documents
          // failing the Gopher gate (row-local, q140) before anything is
          // hashed — verdict `low_quality`, terminal, and such docs never
          // enter the stores (a later exact copy of a rejected doc is NOT
          // dup_history; it was never history)
          val qualityOn = argv.yesNo("--quality", default = false)
          val minWords = argv.int("--min-words", 50)
          // `--repetition Y`: the q160 gate (paper defaults, RAW text —
          // canonicalization would erase the punctuation/case structure
          // the rules read) over the QUALITY survivors, so a doc failing
          // both rungs verdicts once; same terminal contract as
          // low_quality — never history, row-local, native single pass
          val repOn = argv.yesNo("--repetition", default = false)
          // `--normalize Y`: content identity for BOTH rungs (exact fp
          // and near-dup shingles) is the q161 canonical form, a founding
          // constant of EACH store; the quality gate, histogram signal,
          // and sample payload stay on the RAW text (features and the
          // rows a human reads must not be canonicalized)
          val ingNorm = argv.yesNo("--normalize", default = false)
          val band = banding(argv)
          val bloomCapacity = bloomToFound(argv)
          val grpCol = argv.str("--group-col", "source")
          val ledger = argv.get("--ledger")
          val histDir = argv.get("--hist")
          val sampleDir = argv.get("--sample")
          val ledgerBatch = ledger.orElse(histDir).orElse(sampleDir).map { _ =>
            argv.long("--batch-id").getOrElse(throw new IllegalArgumentException(
              "--ledger/--hist/--sample require --batch-id (ledgers are " +
                "keyed per ingest batch)"))
          }
          // presence = non-hidden content, not bare dir existence: a
          // probe-only `--bloom Y` founding run leaves a store holding
          // only the `_bloom` sidecar, which has no inferable schema
          val snapshot =
            if (StandingStore.founded(spark, snapDir))
              Dedup.snapshotLive(spark, snapDir, idCol, scope).select(col("fp"))
            else Seq.empty[String].toDF("fp")
          val haveIdx = StandingStore.founded(spark, idxDir)
          for (dir <- Seq(snapDir, idxDir))
            checkContentKind(spark, "store", dir, ingNorm, found = update)
          def keyed(df: DataFrame): DataFrame = keyedText(df, textCol, ingNorm)
          // the same sidecar contract as `dedup`: `--bloom Y` founds,
          // presence drives probe + maintenance (loadSnapshotBloom gives
          // driver-side BYTES, so the prefilter is immune to the
          // write-back cache invalidation below)
          maybeFoundBloom(spark, snapDir, bloomCapacity, idCol)
          val bloom = Dedup.loadSnapshotBloom(spark, snapDir)
          val lowQ =
            if (!qualityOn) None
            else Some(TextAnalysis.gopherQualityGate(in, idCol, textCol,
                minWords = minWords)
              .filter(col("gopher_ok") === 0).select(col(idCol)))
          val gated0 = lowQ.fold(in)(bad => in.join(bad, Seq(idCol), "left_anti"))
          val repBad =
            if (!repOn) None
            else Some(TextAnalysis.gopherRepetitionGate(gated0, idCol, textCol)
              .filter(col("rep_ok") === 0).select(col(idCol)))
          val gated = repBad.fold(gated0)(bad =>
            gated0.join(bad, Seq(idCol), "left_anti"))
          val rungVerdicts = if (haveIdx) {
            val idx = Dedup.loadNearDupIndex(spark, idxDir, scope)
            checkBanding(argv, idx)
            Pipeline.ingestGate(keyed(gated), idCol, textCol, snapshot, idx, minJ,
              scope, bloomPrefilter = bloom)
          } else {
            // founding batch: no fuzzy history — exact verdicts only, in
            // the unified shape (hist_id a typed null of the id column,
            // so the verdict table's schema never changes across batches)
            Dedup.incrementalDedupSnapshot(keyed(gated), idCol, textCol, snapshot,
                scope = scope, bloomPrefilter = bloom)
              .select(col(idCol), col("verdict"),
                when(lit(false), col(idCol)).as("hist_id"),
                lit(null).cast("double").as("jaccard"))
          }
          def terminalRows(ids: DataFrame, verdict: String): DataFrame =
            ids.select(col(idCol), lit(verdict).as("verdict"),
              when(lit(false), col(idCol)).as("hist_id"),
              lit(null).cast("double").as("jaccard"))
          val withLowQ = lowQ.fold(rungVerdicts)(bad =>
            rungVerdicts.unionByName(terminalRows(bad, "low_quality")))
          val verdicts = scope.track(repBad.fold(withLowQ)(bad =>
            withLowQ.unionByName(terminalRows(bad, "repetitive"))).cache())
          write(verdicts, out)
          if (update) {
            // the kept set derives from the WRITTEN verdict table, not the
            // live plan: the first store append mutates a dir the verdict
            // plan reads, which drops the verdict cache — every later
            // write-back would recompute against the already-extended
            // snapshot and see its own batch as dup_history (measured: the
            // index append landed zero rows). The out dir is immutable
            // once written, so all three write-backs see one committed
            // decision.
            val kept = in.join(
              readAs(out, "--out-format")
                .filter(col("verdict") === "kept").select(col(idCol)),
              Seq(idCol), "left_semi")
            val delta = keyed(kept).select(col(idCol),
              TextAnalysis.fingerprint(col(textCol)).as("fp"))
            // sketch BEFORE rows: a crash between the two is
            // false-positive-only
            Dedup.appendSnapshotBloom(spark, snapDir, delta, "fp")
            Dedup.appendSnapshot(spark, snapDir, delta, idCol)
            if (haveIdx)
              Dedup.appendNearDupIndex(spark, idxDir, keyed(kept), idCol, textCol, scope)
            else
              Dedup.saveNearDupIndex(Dedup.buildNearDupIndex(keyed(kept), idCol, textCol,
                band.k, band.rowsPerBand, band.ngram, scope), idxDir)
            for (ledgerDir <- ledger)
              graft.ops.Corpus.cardLedgerAppend(spark, ledgerDir,
                keyed(kept).select(col(grpCol),
                  TextAnalysis.fingerprint(col(textCol)).as("_fp")),
                grpCol, "_fp", ledgerBatch.get)
            // the other two standing ledgers ride the same kept set: the
            // token-length distribution (drift gate history) and the
            // k-per-group inspection sample — the corpus-to-date card,
            // distribution, and eyeball sample all stay current as a
            // side effect of the one ingest run. Founding uses the
            // `drift`/`sample` defaults; an existing store's constants
            // win (the library fails loudly on a grid/param mismatch)
            for (d <- histDir)
              graft.ops.HistLedger.append(spark, d,
                kept.select(col(grpCol),
                  TextAnalysis.tokenCount(col(textCol)).as("_n")),
                grpCol, "_n", ledgerBatch.get, 0.0, 8192.0, 64)
            for (d <- sampleDir)
              graft.ops.SampleLedger.append(spark, d, kept, grpCol, idCol,
                textCol, ledgerBatch.get, k = 20)
          }

        case "neardup" =>
          // the fuzzy layer's daily loop (round-8 verdict #3): probe the
          // batch against the STANDING MinHash index, then append the
          // batch's shingle/band projections — history is never
          // re-shingled or rewritten (the exact layer's `dedup`
          // discipline one rung up)
          val updateIndex = argv.yesNo("--update-index", default = true)
          val idxDir = argv.req("--index")
          val minJ = argv.double("--min-jaccard", 0.2)
          // content-identity marker, shared with `dedup`/`ingest`: an
          // index keyed on normalized shingles must not be probed with
          // raw text (or vice versa)
          val ndNorm = argv.yesNo("--normalize", default = false)
          val band = banding(argv)
          val ndHaveIdx = StandingStore.founded(spark, idxDir)
          requireFoundable(idxDir, ndHaveIdx, updateIndex)
          checkContentKind(spark, "index", idxDir, ndNorm, found = updateIndex)
          val ndIn = keyedText(in, textCol, ndNorm)
          if (ndHaveIdx) {
            val idx = Dedup.loadNearDupIndex(spark, idxDir, scope)
            checkBanding(argv, idx)
            write(Dedup.incrementalNearDupsWith(ndIn, idx, idCol, textCol,
              minJ, scope), out)
            if (updateIndex)
              Dedup.appendNearDupIndex(spark, idxDir, ndIn, idCol, textCol, scope)
          } else {
            // first batch: no history to probe — zero verdicts (with the
            // probe's schema, so downstream readers see one shape), and
            // the batch founds the index
            write(ndIn.select(col(idCol), col(idCol).as("hist_id"),
              lit(0.0).as("jaccard")).limit(0), out)
            Dedup.saveNearDupIndex(Dedup.buildNearDupIndex(ndIn, idCol, textCol,
              band.k, band.rowsPerBand, band.ngram, scope), idxDir)
          }

        case "embeddup" =>
          // the VECTOR rung of the same loop (q115/q127 discipline):
          // probe the batch's embeddings against the standing LSH bucket
          // index, append the batch's buckets unless read-only
          val S = graft.ops.Similarity
          val updateIndex = argv.yesNo("--update-index", default = true)
          val idxDir = argv.req("--index")
          val minSim = argv.double("--min-sim", 0.3)
          val vecCol = argv.str("--vec-col", "embedding")
          val eidCol = argv.str("--id-col", "vec_id")
          // `--multiprobe Y` widens each batch vector's probe to its
          // Hamming-1 bucket neighbors (q174): a PER-PROBE recall knob,
          // deliberately NOT a founding constant — the store's buckets
          // are unchanged, only this batch's candidate set widens
          val ndMulti = argv.yesNo("--multiprobe", default = false)
          val dim = argv.int("--dim")
          val planes = argv.int("--planes")
          val founded = StandingStore.founded(spark, idxDir)
          requireFoundable(idxDir, founded, updateIndex)
          if (founded) {
            val idx = S.loadEmbedIndex(spark, idxDir, scope)
            agrees("--dim", dim, idx.dim, "hashing parameters are")
            agrees("--planes", planes, idx.nPlanes, "hashing parameters are")
            write(S.incrementalEmbedNearDupsWith(in, idx,
              eidCol, vecCol, minSim, multiProbe = ndMulti), out)
            if (updateIndex)
              S.appendEmbedIndex(spark, idxDir, in, eidCol, vecCol)
          } else {
            write(in.select(col(eidCol), col(eidCol).as("hist_id"),
              lit(0.0).as("sim")).limit(0), out)
            // dim defaults to the data's own width; plane count to the
            // occupancy-targeting rule on the founding batch's size
            S.saveEmbedIndex(S.buildEmbedIndex(in, eidCol, vecCol,
              dim.getOrElse(in.select(size(col(vecCol))).head().getInt(0)),
              planes.getOrElse(S.autoPlanes(in.count())), scope = scope), idxDir)
          }

        case "annindex" =>
          // the serving rung's daily loop: found-if-absent (train +
          // encode the founding batch), else append encoded under the
          // STORED geometry — history is never re-encoded
          val S = graft.ops.Similarity
          val idxDir = argv.req("--index")
          val vecCol = argv.str("--vec-col", "embedding")
          val aidCol = argv.str("--id-col", "vec_id")
          val refound = argv.yesNo("--refound", default = false)
          val residual = argv.yesNo("--residual", default = false)
          val dim = argv.int("--dim")
          val cells = argv.int("--cells")
          val subspaces = argv.int("--subspaces")
          val codes = argv.int("--codes")
          if (refound) {
            // drift remediation (the ivfPqIndexStats signal): retrain
            // geometry from --in as the CURRENT full corpus and swap the
            // store atomically — stored dim/subspaces/codes/residual kept
            for (flag <- Seq("--dim", "--cells", "--subspaces", "--codes", "--residual")
                 if argv.has(flag))
              throw new IllegalArgumentException(
                s"$flag does not apply with --refound Y (stored geometry is " +
                  "kept; the cell count re-derives from the corpus size)")
            S.refoundIvfPqIndex(spark, idxDir, in, aidCol, vecCol, scope = scope)
          } else if (StandingStore.founded(spark, idxDir)) {
            // geometry lives in the stored index (the append would
            // otherwise encode under stored params the caller didn't state)
            val p = StandingStore.params(spark, idxDir)
            agrees("--dim", dim, p.getAs[Int]("dim"), "index geometry is")
            agrees("--residual", argv.get("--residual"),
              if (p.getAs[Boolean]("residual")) "Y" else "N", "the code space is")
            for (flag <- Seq("--cells", "--subspaces", "--codes") if argv.has(flag))
              throw new IllegalArgumentException(
                s"$flag is a build-time option; the stored index already has its geometry")
            S.appendIvfPqIndex(spark, idxDir, in, aidCol, vecCol)
          } else {
            val d = dim.getOrElse(in.select(size(col(vecCol))).head().getInt(0))
            val cents = S.ivfTrain(
              in.select(col(vecCol).cast("array<double>").as("_v")), "_v",
              cells.getOrElse(S.autoCells(in.count())))
            // sub-space count must divide dim; default to the widest of
            // the usual powers of two that does
            val book = S.pqTrain(in, vecCol, d,
              subspaces.getOrElse(Seq(8, 4, 2, 1).find(d % _ == 0).get),
              codes.getOrElse(16))
            S.saveIvfPqIndex(S.buildIvfPqIndex(in, aidCol, vecCol, cents, book,
              d, residual, scope), idxDir)
          }

        case "annsearch" =>
          val S = graft.ops.Similarity
          val nprobe = argv.int("--nprobe")
          val idx = S.loadIvfPqIndex(spark, argv.req("--index"), scope)
          write(S.ivfPqTopKWith(idx, in,
            argv.str("--id-col", "vec_id"),
            argv.str("--vec-col", "embedding"),
            nprobe.getOrElse(S.autoProbe(idx.cents.count().toInt)),
            argv.int("--topk", 10)), out)

        case "anneval" =>
          // the serving-quality loop closer: search a STANDING store
          // with a query set, compute exact ground truth from the corpus
          // (`--in` — the one full read, which an eval is FOR), and
          // grade the store with recall@k + the order-sensitive MRR@k /
          // NDCG@k (q163 machinery). Run beside the q136 occupancy
          // diagnostic: occupancy says the geometry drifted, this says
          // what the drift COSTS. `--store-kind` picks the rung:
          //   ivfpq (default) — an `annindex` dir vs exact cosine
          //     (whether `annindex --refound Y` is due);
          //   neardup — a `neardup` index dir vs brute-force exact
          //     n-gram Jaccard (q172: the --minhash-k/--rows-per-band/
          //     --min-jaccard decision table);
          //   embeddup — an `embeddup` index dir vs UNthresholded exact
          //     cosine (q173: the --planes/--min-sim decision table —
          //     the threshold's cost lands in recall, not hidden)
          val S = graft.ops.Similarity
          val k = argv.int("--topk", 10)
          val kind = argv.choice("--store-kind", "ivfpq", "ivfpq", "neardup", "embeddup")
          // a flag from ANOTHER rung fails as loudly as a typo — the
          // per-command option-set discipline applied per KIND (silently
          // ignoring --min-jaccard on an ivfpq eval is the quiet
          // misconfiguration class this CLI exists to kill)
          val inapplicable: Seq[String] = kind match {
            case "ivfpq"    => Seq("--min-jaccard", "--min-sim", "--multiprobe")
            case "neardup"  => Seq("--nprobe", "--min-sim", "--multiprobe", "--vec-col")
            case _          => Seq("--nprobe", "--min-jaccard")
          }
          for (flag <- inapplicable if argv.has(flag))
            throw new IllegalArgumentException(
              s"$flag does not apply to --store-kind $kind")
          val idxDir = argv.req("--index")
          val aid = argv.str("--id-col", "vec_id")
          val vecCol = argv.str("--vec-col", "embedding")
          val nprobe = argv.int("--nprobe")
          val minJ = argv.double("--min-jaccard", 0.2)
          val minSim = argv.double("--min-sim", 0.3)
          // grade the widened probe when asked — the eval half of the
          // q174 multi-probe knob
          val mp = argv.yesNo("--multiprobe", default = false)
          // queries: an explicit frame, or the first --nqueries corpus
          // rows by id (deterministic); --queries-format is its own
          // flag (the --bench-format lesson — formats must not leak
          // between inputs)
          val nQueries = argv.int("--nqueries", 10)
          def queriesFrom(keyCol: String): DataFrame =
            argv.get("--queries") match {
              case Some(p) => readAs(p, "--queries-format")
              case None => in.orderBy(col(keyCol)).limit(nQueries)
            }
          kind match {
            case "ivfpq" =>
              val idx = S.loadIvfPqIndex(spark, idxDir, scope)
              val queries = queriesFrom(aid)
              val approx = S.ivfPqTopKWith(idx, queries, aid, vecCol,
                nprobe.getOrElse(S.autoProbe(idx.cents.count().toInt)), k)
              val exact = S.exactTopK(in, aid, vecCol, queries, aid, vecCol, k)
              write(S.rankedEval(approx, exact, "query_id", "vec_id",
                "adist", ascending = true, k), out)
            case "neardup" =>
              val idx = Dedup.loadNearDupIndex(spark, idxDir, scope)
              // honor the store's FOUNDING content-identity marker: a
              // normalized-keyed index probed with raw text would grade
              // garbage silently — the exact failure the _fpkind marker
              // exists to prevent on the probe commands
              def keyed(df: DataFrame): DataFrame = keyedText(df, textCol,
                Dedup.snapshotFpKind(spark, idxDir).contains("normalized"))
              val queries = keyed(queriesFrom(idCol))
              val approx = Dedup.nearDupTopKWith(queries, idx,
                idCol, textCol, minJ, k, scope)
              val exact = Dedup.exactJaccardTopK(keyed(in), queries, idCol,
                textCol, idx.n, minJ, k, scope)
              write(S.rankedEval(approx, exact, "query_id", idCol,
                "jaccard", ascending = false, k), out)
            case _ =>
              val idx = S.loadEmbedIndex(spark, idxDir, scope)
              val queries = queriesFrom(aid)
              val approx = S.embedNearDupTopKWith(queries, idx,
                aid, vecCol, minSim, k, multiProbe = mp)
              val exact = S.exactTopK(in, aid, vecCol, queries, aid, vecCol, k)
              write(S.rankedEval(approx, exact, "query_id", aid,
                "sim", ascending = false, k), out)
          }

        case "split" =>
          // reproducible dataset splits without Scala: the md5-hash split
          // (q46 discipline — a pure function of the key, stable across
          // runs, partitionings and engines) written as one
          // hive-partitioned tree, split=<name>/ per split.
          // `--leakage-safe Y` (q176): resolve near-dup clusters inline
          // (the q45 MinHash-LSH + connected-components machinery, knobs
          // shared with `neardup`) and hash the CLUSTER id instead — a
          // resolved component takes one draw, so near-dup pairs cannot
          // straddle train/eval
          val sp = splits(argv)
          val assigned = if (argv.yesNo("--leakage-safe", default = false)) {
            // the key IS the resolved component — a --key-col here would
            // be silently ignored, so reject it loudly
            if (argv.has("--key-col")) throw new IllegalArgumentException(
              "--key-col does not apply with --leakage-safe Y (the hash " +
                "key is the resolved cluster id)")
            val band = banding(argv)
            val sh = Dedup.shingleSets(in, idCol, textCol, band.ngram, scope)
            val pairs = Dedup.minhashLshPairsOf(sh, k = band.k,
              rowsPerBand = band.rowsPerBand,
              minJaccard = argv.double("--min-jaccard", 0.5))
            // --cc-strategy defaults to auto: an unattended split job on a
            // boilerplate megacluster should degrade to the logarithmic
            // star rounds, not die at label propagation's diameter cap
            val comps = Cluster.resolveComponents(
              argv.str("--cc-strategy", "auto"),
              in.select(col(idCol)), idCol, pairs, "id_a", "id_b",
              scope = scope)
            in.join(Cluster.leakageSafeSplit(comps, idCol, "component", sp)
              .drop("component"), Seq(idCol))
          } else {
            for (o <- Seq("--ngram", "--minhash-k", "--rows-per-band",
                "--min-jaccard", "--cc-strategy") if argv.has(o))
              throw new IllegalArgumentException(
                s"$o only applies with --leakage-safe Y")
            in.withColumn("split",
              TextAnalysis.hashSplit(col(argv.str("--key-col", idCol)), sp))
          }
          fmt(out, "--out-format") match {
            case "jsonl" => assigned.write.mode("overwrite")
              .partitionBy("split").json(out)
            case _ => assigned.write.mode("overwrite")
              .partitionBy("split").parquet(out)
          }

        case "dividend" =>
          // what a dedup pass would BUY, per group (q181): resolve
          // near-dup clusters inline (the split --leakage-safe
          // machinery, same neardup knobs) and price the non-canonical
          // doc/token mass
          val band = banding(argv)
          val ccStrategy = argv.str("--cc-strategy", "auto")
          // with --thresholds the pair table must reach DOWN to the
          // lowest requested cutoff: pairs with jaccard in
          // [cutoff, minJaccard) would otherwise never be emitted and
          // every curve point below --min-jaccard silently under-prices
          // (round-10 advice). An explicit --min-jaccard above the lowest
          // cutoff is a contradiction — fail loudly, don't guess.
          val curveCuts = argv.doubles("--thresholds")
          val minJ = argv.double("--min-jaccard") match {
            case Some(mj) =>
              for (cuts <- curveCuts if cuts.min < mj)
                throw new IllegalArgumentException(
                  s"--thresholds includes ${cuts.min} below --min-jaccard $mj: " +
                    "pairs under the floor are never generated, so that curve " +
                    "point would silently under-price; lower --min-jaccard or " +
                    "raise the threshold")
              mj
            case None => curveCuts.map(_.min).getOrElse(0.5).min(0.5)
          }
          if (curveCuts.isDefined && argv.has("--group-col"))
            throw new IllegalArgumentException(
              "--group-col does not apply with --thresholds (the " +
                "curve prices the whole corpus per cutoff)")
          val pairs = Dedup.minhashLshPairsOf(
            Dedup.shingleSets(in, idCol, textCol, band.ngram, scope),
            k = band.k, rowsPerBand = band.rowsPerBand, minJaccard = minJ)
          // `--thresholds 0.5,0.7,0.9` writes the q184 CURVE (the
          // cutoff decision table, one CC per cutoff on the same pair
          // table) instead of the per-group q181 report
          write(curveCuts match {
            case Some(cuts) =>
              Cluster.dividendCurve(in.select(col(idCol)), idCol,
                pairs, "id_a", "id_b", "jaccard",
                in.select(col(idCol),
                  TextAnalysis.tokenCount(col(textCol)).as("_nt")),
                idCol, "_nt", cuts, scope, strategy = ccStrategy)
            case None =>
              val comps = Cluster.resolveComponents(ccStrategy,
                in.select(col(idCol)), idCol, pairs, "id_a", "id_b",
                scope = scope)
              val g = argv.str("--group-col", "source")
              Cluster.dedupDividend(comps, idCol, "component",
                in.select(col(idCol), col(g),
                  TextAnalysis.tokenCount(col(textCol)).as("_nt")),
                idCol, g, "_nt")
          }, out)

        case "labelaudit" =>
          // metadata-vs-content confusion table (q182): the input
          // already carries both columns (the prediction is whatever
          // upstream scored — langId, a topic model, a vendor tag)
          write(TextAnalysis.labelAgreement(in,
            argv.str("--label-col", "lang"),
            argv.str("--pred-col", "pred_lang")), out)

        case "integrity" =>
          // payload integrity audit (q193): verify each binary payload
          // against its ingest-time meta struct (byte_len +
          // content_hash); `--bad-only Y` keeps the violations
          for (c <- Seq("payload", "meta"))
            require(in.columns.contains(c),
              s"integrity expects a packed input with a '$c' column " +
                s"(packBinary's layout); got ${in.columns.mkString(",")}")
          val badOnly = argv.yesNo("--bad-only", default = false)
          val report = Multimodal.payloadIntegrity(in, idCol)
          write(if (badOnly) report.filter(col("verdict") =!= "ok") else report, out)

        case "features" =>
          // partition-batched media feature extraction (q68): one
          // decoder instance per partition. --decoder stub = the
          // deterministic q68 fake (DuckDB-oracled); imageio = the REAL
          // decoder (true dims/channels/mean-luma brightness,
          // undecodables kept with decoded=false — the audit shape);
          // wav = AUDIO features (q202): fmt facts + samples + duration +
          // mean amplitude, malformed containers audit valid=false
          val mpc = payloadCol(argv, in)
          val min = in.select(col(idCol), payloadBytes(in, mpc).as("payload"))
          write(decoderOf(argv, in, mpc) match {
            case "stub" => Multimodal.extractFeatures(min, idCol)
            case "imageio" => Multimodal.extractImageFeatures(min, idCol)
            case _ => Multimodal.extractWavFeatures(min, idCol)
          }, out)

        case "audiogate" =>
          // the audio quality gate (q203): clipping + digital-silence
          // fractions per recording with the keep verdict — the Gopher
          // gate's analogue for the third modality; --bad-only Y keeps
          // the violations (the integrity command's discipline)
          val apc = payloadCol(argv, in)
          requireBinary(in, apc, "audiogate", "RIFF/WAVE bytes")
          val badOnly = argv.yesNo("--bad-only", default = false)
          val gated = Multimodal.wavQualityGate(
            in.select(col(idCol), col(apc).as("payload")), idCol,
            maxClipFrac = argv.double("--max-clip", 0.2),
            maxSilenceFrac = argv.double("--max-silence", 0.5),
            silenceTol = argv.int("--silence-tol", 2))
          write(if (badOnly) gated.filter(!col("keep")) else gated, out)

        case "mingest" =>
          // the MEDIA ingest daily loop (the `ingest` command's
          // multimodal twin): integrity → optional audio quality →
          // standing perceptual probe, verdicts out, final-kept
          // payloads appended to the store (--update-index Y).
          // Founding day probes an EMPTY index — the quality rungs
          // still gate what founds the store.
          for (c <- Seq("payload", "meta"))
            require(in.columns.contains(c),
              s"mingest needs a packed payload+meta table, missing '$c'")
          val giDir = argv.req("--index")
          val giUpd = argv.yesNo("--update-index", default = true)
          val giAudio = argv.yesNo("--audio", default = false)
          val giMaxDist = argv.int("--max-dist", 6)
          val bands = argv.int("--bands")
          val decoder = decoderOf(argv, in, "payload")
          val maxClip = argv.double("--max-clip", 0.2)
          val maxSilence = argv.double("--max-silence", 0.5)
          val silenceTol = argv.int("--silence-tol", 2)
          val giExists = StandingStore.founded(spark, giDir)
          requireFoundable(giDir, giExists, giUpd)
          val giIdx =
            if (giExists) {
              val idx = Multimodal.loadPHashIndex(spark, giDir, scope)
              agrees("--bands", bands, idx.nBands, "banding is")
              checkSignatureSpace(argv, in, "payload", idx.decoder)
              idx
            } else Multimodal.buildPHashIndex(in.limit(0), idCol, "payload",
              bands.getOrElse(4), decoder, scope)
          val giVerdicts = scope.track(Pipeline.mediaIngestGate(in, idCol,
            giIdx, giMaxDist, giAudio, maxClip, maxSilence, silenceTol, scope).cache())
          write(giVerdicts, out)
          if (giUpd) {
            val kept = in.join(giVerdicts.filter(col("verdict") === "kept")
              .select(col(idCol)), Seq(idCol), "left_semi")
            if (giExists)
              Multimodal.appendPHashIndex(spark, giDir, kept, idCol, "payload")
            else
              Multimodal.savePHashIndex(Multimodal.buildPHashIndex(kept,
                idCol, "payload", giIdx.nBands, giIdx.decoder, scope), giDir)
          }

        case "consensus" =>
          // multi-signal near-dup fusion (q212): full-outer join two
          // rungs' pair tables on (id_a, id_b) — confirmed /
          // <rung>_only verdicts with both scores riding through
          val bIn = readAs(argv.req("--in-b"), "--in-b-format")
          write(Dedup.pairConsensus(in, bIn,
            argv.str("--a-name", "a"),
            argv.str("--b-name", "b")), out)

        case "utterances" =>
          // silence-run utterance segmentation (q210): maximal
          // non-silent frame runs over the RIFF-extracted PCM — the
          // pre-transcription split; row-local, zero shuffles
          val upc = payloadCol(argv, in)
          requireBinary(in, upc, "utterances", "RIFF/WAVE bytes")
          val ufb = argv.int("--frame-bytes", 160)
          write(Multimodal.wavUtterances(
            in.select(col(idCol), col(upc).as("payload")), idCol, "payload",
            frameBytes = ufb,
            stride = argv.int("--stride", ufb),
            maxFrames = argv.int("--max-frames", 8),
            silenceTol = argv.int("--silence-tol", 2),
            minSilentFrac = argv.double("--min-silent-frac", 0.9)),
            out)

        case "mediacard" =>
          // the per-format media release card (q208) over a packed
          // payload+meta table — the integrity verdict census rolled up
          // with byte mass and bounds, one row per format
          for (c <- Seq("payload", "meta"))
            require(in.columns.contains(c),
              s"mediacard needs a packed payload+meta table, missing '$c'")
          write(Multimodal.mediaDatasetCard(in), out)

        case "crossmodal" =>
          // the paired image↔caption dedup audit (q207): verdicts
          // exact_dup / recaptioned / stock_caption / ok per pair row;
          // --bad-only Y keeps the violations (the integrity shape)
          val xpc = payloadCol(argv, in)
          val xcc = argv.str("--caption-col", "caption")
          require(in.columns.contains(xcc),
            s"--caption-col '$xcc' not in input columns ${in.columns.mkString(",")}")
          val xpayload = payloadBytes(in, xpc)
          val xDecoder = decoderOf(argv, in, xpc)
          val badOnly = argv.yesNo("--bad-only", default = false)
          val audited = Multimodal.crossModalDupAudit(
            in.select(col(idCol), xpayload.as("_payload"), col(xcc)),
            idCol, "_payload", xcc, xDecoder)
          write(if (badOnly) audited.filter(col("verdict") =!= "ok") else audited, out)

        case "resize" =>
          // the thumbnail rung: bound every decodable image inside
          // (--max-w, --max-h), aspect-preserving, verbatim pass-through
          // when already within bounds, lossless re-encode otherwise;
          // --bad-only Y keeps only the undecodables (the audit shape)
          val rpc = payloadCol(argv, in)
          requireBinary(in, rpc, "resize", "encoded image bytes")
          val badOnly = argv.yesNo("--bad-only", default = false)
          val sized = Multimodal.resizeImages(
            in.select(col(idCol), col(rpc).as("payload")), idCol,
            maxW = argv.int("--max-w", 256),
            maxH = argv.int("--max-h", 256),
            format = argv.str("--format", "png"))
          write(if (badOnly) sized.filter(!col("valid")) else sized, out)

        case "scenes" =>
          // shot-boundary segmentation (q204) and the storyboard
          // identity / dedup census built on it (q205): --emit segments
          // is the per-scene span table with the first-frame keyframe
          // signature; boards = one storyboard fingerprint per clip;
          // dupgroups = the clip-level dedup census (groups > 1, lowest
          // id canonical). Same string→UTF-8 payload door and the same
          // founding signature spaces as phashdup/framedup.
          val spc = payloadCol(argv, in)
          val sin = in.select(col(idCol), payloadBytes(in, spc).as("_payload"))
          val sDecoder = decoderOf(argv, in, spc, frames = true)
          val sfb = argv.int("--frame-bytes", 128)
          val sst = argv.int("--stride", sfb)
          val smf = argv.int("--max-frames", 8)
          val sct = argv.int("--cut-threshold", 10)
          val sEmit = argv.choice("--emit", "segments",
            "segments", "boards", "dupgroups", "overlap", "chunks")
          // the pairing knobs only mean something for the overlap pairs
          if (sEmit != "overlap")
            for (o <- Seq("--min-shared", "--max-per-bucket") if argv.has(o))
              throw new IllegalArgumentException(
                s"$o applies to --emit overlap only")
          write(sEmit match {
            case "segments" => Multimodal.sceneSegments(sin, idCol,
              "_payload", sfb, sst, smf, sct, sDecoder)
            case "boards" => Multimodal.storyboardFingerprints(sin, idCol,
              "_payload", sfb, sst, smf, sct, sDecoder)
            case "dupgroups" => Multimodal.storyboardDupGroups(sin, idCol,
              "_payload", sfb, sst, smf, sct, sDecoder)
            case "overlap" => Multimodal.sceneOverlapPairs(sin, idCol,
              "_payload", sfb, sst, smf, sct,
              argv.int("--min-shared", 2),
              argv.int("--max-per-bucket", 0), sDecoder)
            case _ => Multimodal.sceneChunks(sin, idCol,
              "_payload", sfb, sst, smf, sct, sDecoder)
          }, out)

        case "framedup" =>
          // frame-level perceptual near-dup over a BINARY payload
          // (q191/q192): sampled frames dHashed individually; aligned
          // matching by default, `--shifted Y` for offset voting (the
          // trimmed-clip shape). Same string→UTF-8 door as phashdup.
          val fpc = payloadCol(argv, in)
          val fin = in.select(col(idCol), payloadBytes(in, fpc).as("_payload"))
          val shifted = argv.yesNo("--shifted", default = false)
          val fb = argv.int("--frame-bytes", if (shifted) 64 else 128)
          val st = argv.int("--stride", fb)
          val mf = argv.int("--max-frames", 8)
          val fMaxDist = argv.int("--max-dist", 2)
          val fBands = argv.int("--bands", 4)
          val mm = argv.int("--min-matched", if (shifted) 4 else 3)
          // the frame rungs are MORE flood-exposed than phashdup (black
          // frames all hash alike), so they carry the same skew cap
          val fCap = argv.int("--max-per-bucket", 0)
          // the signature space: stub byte windows, RIFF-extracted PCM
          // windows (wav), or decoded keyframes (imageio). With --index
          // it is a FOUNDING constant (round-12 verdict #1): stated at
          // build, stored in _params, and a disagreeing restatement
          // fails as loudly as a --bands mismatch — a probe hashed in
          // the wrong space silently finds nothing.
          val fDecoder = decoderOf(argv, in, fpc, frames = true)
          val update = argv.yesNo("--update-index", default = true)
          // q174's recall knob: widen each frame's band keys to their
          // Hamming-1 neighbors, batch-side only — a per-probe choice,
          // deliberately NOT a founding constant
          val fMulti = argv.yesNo("--multiprobe", default = false)
          argv.get("--index") match { case Some(idxDir) =>
            // the standing frame-store daily loop (q199): found-if-
            // absent under the stated geometry + signature space, else
            // probe under the STORED founding constants — restating a
            // disagreeing sampling knob or decoder fails loudly (a
            // probe sampled or hashed differently cannot be answered)
            if (argv.has("--shifted"))
              throw new IllegalArgumentException(
                "--shifted does not apply with --index (the standing " +
                  "loop is aligned)")
            val founded = StandingStore.founded(spark, idxDir)
            requireFoundable(idxDir, founded, update)
            if (founded) {
              val idx = Multimodal.loadFrameIndex(spark, idxDir, scope)
              checkSignatureSpace(argv, in, fpc, idx.decoder)
              for ((flag, stored) <- Seq("--bands" -> idx.nBands,
                  "--frame-bytes" -> idx.frameBytes, "--stride" -> idx.stride,
                  "--max-frames" -> idx.maxFrames))
                agrees(flag, argv.int(flag), stored, "the sampling geometry is")
              write(Multimodal.incrementalFrameDupsWith(fin, idx, idCol,
                "_payload", fMaxDist, mm, fCap, fMulti), out)
              if (update)
                Multimodal.appendFrameIndex(spark, idxDir, fin, idCol, "_payload")
            } else {
              write(fin.select(col(idCol), col(idCol).as("hist_id"),
                lit(0L).as("n_matched"), lit(0).as("min_dist")).limit(0), out)
              Multimodal.saveFrameIndex(Multimodal.buildFrameIndex(
                fin, idCol, "_payload", fb, st, mf, fBands, fDecoder, scope),
                idxDir)
            }
          case None =>
          for (o <- Seq("--update-index", "--multiprobe") if argv.has(o))
            throw new IllegalArgumentException(
              s"$o only applies with --index (the standing-store loop)")
          write(fDecoder match {
            case "stub" =>
              if (shifted) Multimodal.frameDupPairsShifted(fin, idCol, "_payload",
                fb, st, mf, fMaxDist, fBands, mm, fCap)
              else Multimodal.frameDupPairs(fin, idCol, "_payload",
                fb, st, mf, fMaxDist, fBands, mm, fCap)
            case "wav" =>
              // AUDIO: fixed-duration PCM sample windows after the
              // RIFF-aware offset — real signal, scan-stage extraction
              if (shifted) Multimodal.frameDupPairsShiftedWav(fin, idCol,
                "_payload", fb, st, mf, fMaxDist, fBands, mm, fCap)
              else Multimodal.frameDupPairsWav(fin, idCol, "_payload",
                fb, st, mf, fMaxDist, fBands, mm, fCap)
            case "imageio" =>
              // REAL keyframe decode over a length-prefixed container
              if (shifted) Multimodal.frameDupPairsShiftedDecoded(fin, idCol,
                "_payload", mf, fMaxDist, fBands, mm, fCap)
              else Multimodal.frameDupPairsDecoded(fin, idCol, "_payload",
                mf, fMaxDist, fBands, mm, fCap)
          }, out)
          }

        case "phashdup" =>
          // perceptual near-dup rung over a BINARY payload column
          // (q187/q190): dHash signatures, Hamming-band candidate join;
          // a string column is encoded UTF-8 first. Without --index: the
          // one-shot PAIRS table. With --index: the standing-store daily
          // loop (probe the batch against the stored band table, append
          // unless read-only — the neardup/embeddup discipline; --bands
          // is a founding constant)
          val pc = payloadCol(argv, in)
          val pin = in.select(col(idCol), payloadBytes(in, pc).as("_payload"))
          val maxDist = argv.int("--max-dist", 6)
          val decoder = decoderOf(argv, in, pc)
          val bands = argv.int("--bands", 4)
          val maxPerBucket = argv.int("--max-per-bucket", 0)
          val cuts = argv.ints("--thresholds")
          val update = argv.yesNo("--update-index", default = true)
          val multi = argv.yesNo("--multiprobe", default = false)
          argv.get("--index") match {
            case None if cuts.isDefined =>
              // the q197 dedup-rate curve: one pairing pass at the
              // loosest cutoff, fanned over the literal cutoffs — the
              // dividend/--thresholds discipline for the binary rung
              for (o <- Seq("--max-dist", "--update-index", "--multiprobe") if argv.has(o))
                throw new IllegalArgumentException(
                  s"$o contradicts --thresholds (the curve sweeps cutoffs)")
              // the curve prices cutoffs in ANY signature space — the
              // banding is content-agnostic, --decoder picks the space
              write(Multimodal.perceptualDupRateCurve(pin, idCol, "_payload",
                maxDists = cuts.get, nBands = bands,
                maxPerBucket = maxPerBucket, decoder = decoder), out)
            case None =>
              for (o <- Seq("--update-index", "--multiprobe") if argv.has(o))
                throw new IllegalArgumentException(
                  s"$o only applies with --index (the standing-store loop)")
              write(decoder match {
                case "imageio" => Multimodal.perceptualDupPairsDecoded(pin, idCol,
                  "_payload", maxDist = maxDist, nBands = bands, maxPerBucket = maxPerBucket)
                case "wav" => Multimodal.perceptualDupPairsWav(pin, idCol,
                  "_payload", maxDist = maxDist, nBands = bands, maxPerBucket = maxPerBucket)
                case _ => Multimodal.perceptualDupPairs(pin, idCol,
                  "_payload", maxDist = maxDist, nBands = bands, maxPerBucket = maxPerBucket)
              }, out)
            case Some(idxDir) =>
              if (cuts.isDefined)
                throw new IllegalArgumentException(
                  "--thresholds is the one-shot curve; the standing-store " +
                    "loop probes at a single --max-dist")
              val founded = StandingStore.founded(spark, idxDir)
              requireFoundable(idxDir, founded, update)
              if (founded) {
                // the signature space is a FOUNDING constant of the store
                // (round-12 verdict #1): stated at build, stored in
                // _params beside --bands, enforced on every later probe —
                // a stub-space probe against a decoded-space store (or
                // vice versa) would silently find nothing
                val idx = Multimodal.loadPHashIndex(spark, idxDir, scope)
                agrees("--bands", argv.int("--bands"), idx.nBands, "banding is")
                checkSignatureSpace(argv, in, pc, idx.decoder)
                // probe-time hot-bucket remediation (the occupancy
                // --advice 'cap_probes' answer): store buckets capped at
                // their lowest ids before the join, binding is loud
                write(Multimodal.incrementalPerceptualDupsWith(pin, idx,
                  idCol, "_payload", maxDist, multiProbe = multi,
                  maxPerBucket = maxPerBucket), out)
                if (update)
                  Multimodal.appendPHashIndex(spark, idxDir, pin, idCol, "_payload")
              } else {
                write(pin.select(col(idCol), col(idCol).as("hist_id"),
                  lit(0).as("dist")).limit(0), out)
                Multimodal.savePHashIndex(Multimodal.buildPHashIndex(
                  pin, idCol, "_payload", bands, decoder, scope), idxDir)
              }
          }

        case "diversity" =>
          // the distinct-n-gram census (q177): per (group, n) total vs
          // distinct gram mass — boilerplate shows up as a ratio cliff;
          // `--approx Y` swaps exact distincts for HLL sketches (bounded
          // agg state per group — the 100 TB shape, the profile
          // command's discipline)
          val ns = argv.ints("--ngrams").getOrElse(Seq(1, 2, 3))
          val g = argv.str("--group-col", "source")
          write(if (argv.yesNo("--approx", default = false))
              Corpus.ngramDiversityApprox(in, g, textCol, ns)
            else Corpus.ngramDiversity(in, g, textCol, ns), out)

        case "pii" =>
          // `--census Y` (q178): the per-(group, rule) exposure report
          // read BEFORE committing to a masking pass; default applies
          // the q73 sequential mask and writes the corpus with textCol
          // replaced in place
          val minDigits = argv.int("--min-digits", 6)
          if (argv.yesNo("--census", default = false))
            write(graft.ops.Scrub.piiCensus(in,
              argv.str("--group-col", "source"), textCol, minDigits), out)
          else {
            if (argv.has("--group-col"))
              throw new IllegalArgumentException(
                "--group-col only applies with --census Y")
            write(in.withColumn(textCol,
              graft.ops.Scrub.piiMask(col(textCol), minDigits = minDigits)), out)
          }

        case "manifest" =>
          // the release manifest (q179): per-shard doc/token counts +
          // the order-invariant content hash. Input with a shard column
          // (`--shard-col`, default `shard`) is manifested as-is; else
          // rows are size-balance-assigned first (`--shards`, weight
          // `--size-col` or the token count of textCol)
          val shardCol = argv.str("--shard-col", "shard")
          val shards = argv.int("--shards")
          val sized = argv.get("--size-col") match {
            case Some(c) => in.withColumn("_msz", col(c).cast("long"))
            case None => in.withColumn("_msz",
              TextAnalysis.tokenCount(col(textCol)))
          }
          val assigned =
            if (in.columns.contains(shardCol)) {
              if (shards.isDefined)
                throw new IllegalArgumentException(
                  s"--shards does not apply when the input already has " +
                    s"a '$shardCol' column")
              sized
            } else Shard.balancedAssign(sized, idCol, "_msz",
              shards.getOrElse(8), shardCol)
          val mf = Shard.manifest(assigned, idCol, textCol, "_msz", shardCol)
          // `--diff PRIOR` writes the release-gate diff against a prior
          // manifest (own `--diff-format` — the --bench-format lesson)
          // instead of the manifest itself
          write(argv.get("--diff") match {
            case Some(prior) =>
              Shard.manifestDiff(mf, readAs(prior, "--diff-format"), shardCol)
            case None => mf
          }, out)

        case "overlap" =>
          // the contamination REPORT (q171): per training doc, the
          // fraction of its n-gram shingles found in the benchmark
          // (`--bench`, own `--bench-format` — the clean command's
          // lesson). `--max-overlap X` adds a contaminated verdict
          // column for the release gate's threshold
          val benchDocs = readAs(argv.req("--bench"), "--bench-format")
          val n = argv.int("--ngram", 5)
          val maxOverlap = argv.double("--max-overlap")
          val shT = Dedup.shingleSets(in, idCol, textCol, n, scope)
          val shB = Dedup.shingleSets(benchDocs, idCol, textCol, n, scope)
          val scores = Dedup.contaminationScoreOf(shT, shB)
            .withColumnRenamed("_id", idCol)
          write(maxOverlap.fold(scores) { t =>
            scores.withColumn("contaminated",
              when(coalesce(col("overlap_frac") > t, lit(false)), 1)
                .otherwise(0))
          }, out)

        case "profile" =>
          // the data-doctor for ANY table (q167): per-column rows, nulls,
          // distincts, min/max — `--cols` to pick columns (default all),
          // `--approx Y` for the HLL-distinct 100 TB shape (no Expand)
          val pCols = argv.list("--cols").getOrElse(in.columns.toSeq)
          val pApprox = argv.yesNo("--approx", default = false)
          write(if (pApprox) graft.ops.Stats.tableProfileApprox(in, pCols)
            else graft.ops.Stats.tableProfile(in, pCols), out)

        case "card" =>
          argv.get("--ledger") match {
            case Some(ledgerDir) =>
              // standing-ledger mode: corpus-to-date distinct counts
              // from the mergeable sketches — no corpus read at all, so
              // corpus-shaped flags cannot apply and say so loudly
              for (bad <- Seq("--approx", "--group-col", "--lang-col", "--in",
                  "--in-format", "--id-col", "--text-col") if argv.has(bad))
                throw new IllegalArgumentException(
                  s"$bad does not apply with --ledger (the ledger fixed its " +
                    "grouping at append time and never rescans data)")
              write(graft.ops.Corpus.cardLedgerEstimate(spark, ledgerDir), out)
            case None =>
              val g = argv.str("--group-col", "source")
              val l = argv.str("--lang-col", "lang")
              val approx = argv.yesNo("--approx", default = false)
              write(
                if (approx) graft.ops.Corpus.datasetCardApprox(in, g, textCol, l)
                else graft.ops.Corpus.datasetCardWeighted(in, g, textCol, l, scope),
                out)
          }

        case "refine" =>
          // the published quality ladder end-to-end (q146/q164,
          // Pipeline.refineCorpus): Gopher gate → optional repetition
          // gate → survivor-built vocab gate → ExactSubstr span removal,
          // writing the (id, n_tokens, kept_tokens, text_clean) rebuild
          write(Pipeline.refineCorpus(in, idCol, textCol,
            minWords = argv.int("--min-words", 50),
            vocabTopK = argv.int("--vocab-topk", 10000),
            maxOovFrac = argv.double("--max-oov", 0.1),
            spanN = argv.int("--span-n", 5),
            withRepetition = argv.yesNo("--repetition", default = false),
            scope = scope), out)

        case "quality" =>
          // the Gopher gate standalone (q140): per-doc features + verdict,
          // so a curator tunes thresholds from the written table before
          // wiring `ingest --quality Y`
          val gopher = TextAnalysis.gopherQualityGate(in, idCol, textCol,
            argv.int("--min-words", 50),
            argv.int("--max-words", 100000),
            minAlphaFrac = argv.double("--min-alpha", 0.8),
            minStopHits = argv.int("--min-stop-hits", 2),
            maxSymbolRatio = argv.double("--max-symbol-ratio", 0.1))
          // `--vocab-topk K` adds the vocabulary-coverage rung (q142): the
          // OOV features + verdict land BESIDE the Gopher ones in the same
          // table, so a curator tunes both gates from one scan. Left join:
          // a tokenless doc has no coverage row but keeps its Gopher row
          if (argv.has("--max-oov") && !argv.has("--vocab-topk"))
            throw new IllegalArgumentException(
              "--max-oov requires --vocab-topk (it thresholds the vocab rung)")
          val withVocab = argv.int("--vocab-topk").fold(gopher) { k =>
            gopher.join(
              graft.ops.Corpus.vocabCoverage(in, idCol, textCol, k,
                argv.double("--max-oov", 0.1))
                .drop("n_tokens"),
              Seq(idCol), "left")
          }
          // `--repetition Y` adds the q160 within-doc repetition rung
          // (paper-default thresholds) beside the Gopher/OOV columns —
          // the third gate tuned from the same one-scan table. Its own
          // n_words duplicates the Gopher one and is dropped
          write(if (!argv.yesNo("--repetition", default = false)) withVocab
            else withVocab.join(
              TextAnalysis.gopherRepetitionGate(in, idCol, textCol)
                .drop("n_words"),
              Seq(idCol), "left"), out)

        case "drift" =>
          // the distribution-drift gate against a STANDING histogram
          // ledger (q153 discipline, graft.ops.HistLedger): score the
          // arriving batch's per-group TV distance vs the corpus to
          // date, THEN (unless --update N) append the batch under
          // --batch-id so it becomes history for the next one. The
          // signal defaults to the token count of --text-col (the
          // sizing/extractor-health canary); --val-col scores any
          // numeric column instead. Grid flags are FOUNDING constants:
          // an absent ledger is founded from this batch ([0,8192)×64
          // token-length default), an existing ledger's stored grid
          // wins and restating a disagreeing one fails loudly
          import spark.implicits._
          val ledger = argv.req("--ledger")
          val groupCol = argv.str("--group-col", "lang")
          val batch = argv.get("--val-col") match {
            case Some(v) => in.select(col(groupCol).as("_hg"), col(v).as("_hv"))
            case None    => in.select(col(groupCol).as("_hg"),
              TextAnalysis.tokenCount(col(textCol)).as("_hv"))
          }
          val appendAs = appendBatch(argv)
          val (statedLo, statedHi, statedNb) =
            (argv.double("--lo"), argv.double("--hi"), argv.int("--buckets"))
          // `--max-tv X` turns the report into a GATE (driftGatedHistSink's
          // batch twin): groups past the threshold divert their ROWS to
          // `--quarantine DIR` and are excluded from the history append —
          // a poisoned source cannot normalize itself. Founding batches
          // (empty report) gate nothing
          val maxTv = argv.double("--max-tv")
          val quarantine = argv.get("--quarantine")
          if (maxTv.isDefined && quarantine.isEmpty)
            throw new IllegalArgumentException(
              "--max-tv requires --quarantine (gated groups' rows must land somewhere)")
          if (quarantine.isDefined && maxTv.isEmpty)
            throw new IllegalArgumentException(
              "--quarantine requires --max-tv (the gate's threshold)")
          val stored = graft.ops.HistLedger.params(spark, ledger)
          val (lo, hi, nb) = stored match {
            case Some((slo, shi, snb)) =>
              if (statedLo.exists(_ != slo) || statedHi.exists(_ != shi)
                  || statedNb.exists(_ != snb))
                throw new IllegalArgumentException(
                  s"histogram ledger at $ledger was founded with grid " +
                    s"[$slo, $shi)×$snb; restating a different grid cannot " +
                    "merge — drop the grid flags or use a new ledger dir")
              (slo, shi, snb)
            case None =>
              (statedLo.getOrElse(0.0), statedHi.getOrElse(8192.0),
                statedNb.getOrElse(64))
          }
          val report = stored match {
            case Some(_) =>
              graft.ops.HistLedger.tvDistance(
                  graft.ops.HistLedger.merged(spark, ledger),
                  graft.ops.HistLedger.sketch(batch, "_hg", "_hv", lo, hi, nb))
                .select(col("group").as(groupCol), col("tv_dist"))
            case None =>
              // founding batch: there is no history to drift against —
              // an EMPTY report, not a fake zero
              Seq.empty[(String, Double)].toDF(groupCol, "tv_dist")
          }
          write(report, out)
          val badGroups = maxTv.fold(Seq.empty[String]) { t =>
            report.filter(col("tv_dist") > t)
              .select(col(groupCol).cast("string")).collect()
              .flatMap(r => Option(r.getString(0))).toSeq
          }
          val gkey = col(groupCol).cast("string")
          if (badGroups.nonEmpty)
            write(in.filter(gkey.isin(badGroups: _*)), quarantine.get)
          // same CASTED key as the quarantine filter above: isin() over the
          // native column would coerce the collected strings back to the
          // native type, so quarantined rows and ledger-excluded rows could
          // diverge (values that render identically but differ natively)
          val passBatch =
            if (badGroups.isEmpty) batch
            else batch.filter(
              !coalesce(col("_hg").cast("string").isin(badGroups: _*), lit(false)))
          for (b <- appendAs)
            graft.ops.HistLedger.append(spark, ledger, passBatch, "_hg", "_hv",
              b, lo, hi, nb)

        case "sample" =>
          // the standing inspection-sample loop (graft.ops.SampleLedger,
          // q154 discipline): append the batch's per-group bottom-k,
          // then dump the corpus-to-date sample. k/seed are FOUNDING
          // constants — stored values win; explicitly restating
          // disagreeing ones fails loudly
          val ledger = argv.req("--ledger")
          val appendAs = appendBatch(argv)
          val k = argv.int("--k")
          // ALL five constants are founding (k, seed, and the three
          // column choices — a ledger whose batches sampled different
          // columns merges arithmetically but means nothing): stored
          // values win, an explicitly restated disagreeing one fails
          val p = graft.ops.SampleLedger.params(spark, ledger) match {
            case Some(p0) =>
              val restated = Seq(
                k.exists(_ != p0.k),
                argv.get("--seed").exists(_ != p0.seed),
                argv.get("--group-col").exists(_ != p0.groupCol),
                argv.get("--id-col").exists(_ != p0.idCol),
                argv.get("--payload-col").exists(_ != p0.payloadCol))
              if (restated.exists(identity))
                throw new IllegalArgumentException(
                  s"sample ledger at $ledger was founded with $p0; " +
                    "restating different constants cannot merge — drop " +
                    "the flags or use a new ledger dir")
              p0
            case None => graft.ops.SampleLedger.SampleParams(
              k.getOrElse(20),
              argv.str("--seed", "graft-sample"),
              argv.str("--group-col", "lang"), idCol,
              argv.str("--payload-col", textCol))
          }
          for (b <- appendAs)
            graft.ops.SampleLedger.append(spark, ledger, in, p.groupCol,
              p.idCol, p.payloadCol, b, p.k, p.seed)
          write(graft.ops.SampleLedger.merged(spark, ledger), out)

        case "select" =>
          // the water-filled balanced draw (q156): exact per-group
          // allocations with capped-supply redistribution, applied as
          // the salted-md5 prefix, then the selected ids pull their
          // full rows — the "give me a balanced N-doc slice" front door
          val picked = graft.ops.Corpus.waterfillSample(in, idCol,
            argv.str("--group-col", "lang"),
            argv.double("--alpha", 0.5),
            argv.long("--budget", 1000L),
            argv.str("--seed", "graft-temp"), scope)
          write(in.join(picked.select(col(idCol)), Seq(idCol), "left_semi"), out)

        case "stats" =>
          // the store doctor: ONE summary row for any standing store or
          // ledger dir — what maintenance is owed, before forget/compact.
          // Index stores are identified by the table only they have;
          // ledger dirs by the schema of their batch dirs; the flat
          // fingerprint snapshot is the gated fallback
          import spark.implicits._
          val store = argv.req("--store")
          val index = StandingStore.kindOf(spark, store)
            .filter(_ != StandingStore.Snapshot)
          val ledger = if (index.isEmpty) Ledger.kindOf(spark, store) else None
          val kind = index.map(_.kind).orElse(ledger.map(_.kind)).getOrElse {
            if (StandingStore.founded(spark, store)) "snapshot"
            else throw new IllegalArgumentException(
              s"no standing store at '$store'")
          }
          // an index's marker table; the flat snapshot / ledger batch dirs
          val nRows = spark.read.parquet(index.fold(store)(f =>
            StandingStore.tableDir(store, f.tables.head))).count()
          val nTombs = StandingStore.pending(spark, store).fold(0L)(_.count())
          val paramsStr: Option[String] =
            if (ledger.nonEmpty)
              // one-per-line founding constants render space-joined
              Ledger.founding(spark, store)
                .map(_.split("\n").map(_.trim).mkString(" "))
            else if (index.nonEmpty) {
              val row = StandingStore.params(spark, store)
              Some(row.schema.fieldNames.zipWithIndex
                .map { case (f, i) => s"$f=${row.get(i)}" }.mkString(" "))
            }
            // the snapshot's founding param is its fingerprint kind
            // (pre-marker stores have none and read as raw)
            else Dedup.snapshotFpKind(spark, store).map(k => s"fp_kind=$k")
          write(Seq((store, kind, nRows,
              Ledger.batchIds(spark, store).size.toLong, nTombs,
              Ledger.horizon(spark, store), paramsStr,
              if (Dedup.snapshotBloomParams(spark, store).isDefined) "Y" else "N"))
            .toDF("store", "kind", "n_rows", "n_batches", "n_tombstones",
              "horizon", "params", "bloom"), out)

        case "occupancy" =>
          // the balance diagnostic for any standing INDEX store (q136/
          // q169/q170): per-cell counts for an IVF-PQ store, bucket-size
          // histograms for the MinHash/LSH stores — read straight off
          // the stored tables, no index struct rebuilt. Drift shows as
          // mass moving toward hot cells/buckets; the remediation is the
          // family's rebuild/refound loop
          val store = argv.req("--store")
          val fam = StandingStore.familyAt(spark, store)
          val perceptual = fam == StandingStore.PHash || fam == StandingStore.Frames
          for (o <- Seq("--advice", "--hot-bucket") if argv.has(o) && !perceptual)
            throw new IllegalArgumentException(
              s"$o applies to the perceptual stores (phash/frames) — the " +
                "other families' remediation is the rebuild/refound loop")
          // `--advice Y` (phash/frames): the diagnose half of the q136
          // loop — one row naming the remediation (ok | cap_probes |
          // tombstone_flood) against `--hot-bucket` (default 64);
          // 'cap_probes' answers with `phashdup --index
          // --max-per-bucket`, 'tombstone_flood' with forget+compact
          val wantAdvice = argv.yesNo("--advice", default = false)
          val hot = argv.int("--hot-bucket", 64)
          if (fam == StandingStore.IvfPq)
            write(graft.ops.Similarity.ivfPqIndexStats(
              graft.ops.Similarity.loadIvfPqIndex(spark, store, scope)), out)
          else if (wantAdvice && fam == StandingStore.PHash)
            write(Multimodal.pHashIndexAdvice(
              Multimodal.loadPHashIndex(spark, store, scope), hot), out)
          else if (wantAdvice)
            write(Multimodal.frameIndexAdvice(
              Multimodal.loadFrameIndex(spark, store, scope), hot), out)
          else if (fam.bucketKeys.nonEmpty)
            // live rows: a pending `forget` tombstone occupies no bucket
            // (the ivfpq branch's load subtracts them too)
            write(StandingStore.bucketSizes(StandingStore.live(spark, store,
              fam.tables.last, scope), fam.bucketKeys: _*), out)
          else throw new IllegalArgumentException(
            s"occupancy reads index stores (neardup/embeddup/ivfpq/phash/frames), " +
              s"not '${fam.kind}' — the snapshot and ledgers have no buckets")

        case "forget" =>
          // deletion is by ID against any standing store; `--in` is the
          // id list. The id column defaults per store family (the vector
          // stores key on vec_id) unless stated
          val store = argv.req("--store")
          val fam = StandingStore.familyAt(spark, store)
          StandingStore.tombstone(spark, store, in,
            argv.str("--id-col", fam.cliIdCol))

        case "compact" =>
          StandingStore.compact(spark, argv.req("--store"), argv.get("--id-col"))

        case other => throw new IllegalStateException(s"unreachable: $other")
      }
    }
    if (!preexisting) spark.stop()
  }
}

