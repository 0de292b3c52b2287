package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: the same event analytics the batch ops
  * provide, expressed as streaming queries — windowed aggregation with
  * watermarks, and stateful gap-based sessionization via
  * flatMapGroupsWithState (the streaming twin of ops.Sessionize).
  *
  * The reference has no streaming at all (its "mapstream" is bounded-file
  * iteration — SURVEY §2.6 declares the category absent); this module is
  * part of the engine's scale surface: the same code shape runs on an
  * unbounded source (kafka/files) on a cluster.
  */
object EventStream {

  /** Watermarked sliding-window counts/sums per event type. */
  def windowedAgg(events: DataFrame, watermark: String = "10 minutes",
                  window_ : String = "5 minutes", slide: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup for a document/event stream: first occurrence
    * of each key within the watermark horizon survives, later copies are
    * dropped, and per-key state EXPIRES once the watermark passes it —
    * bounded state, unlike a bare dropDuplicates (which keeps every key
    * forever and OOMs an unbounded stream). Pair the key with
    * `TextAnalysis.fingerprint` for streaming content dedup. */
  def dedupStream(docs: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stateless quality gate + content fingerprint for a text stream —
    * column expressions only, so it runs identically on batch and
    * streaming DataFrames (no state, no shuffle). */
  def qualityGate(docs: DataFrame, textCol: String,
                  minTokens: Int = 5, maxPunctRatio: Double = 0.1): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_tokens", graft.ops.TextAnalysis.tokenCount(t))
      .withColumn("punct_ratio", graft.ops.TextAnalysis.punctRatio(t))
      .withColumn("fp", graft.ops.TextAnalysis.fingerprint(t))
      .filter(col("n_tokens") >= minTokens &&
        (col("punct_ratio").isNull || col("punct_ratio") <= maxPunctRatio))
  }

  /** Stream-static decontamination gate: drop stream documents whose
    * normalized content fingerprint already exists in a static seen-set —
    * a benchmark corpus (never train on eval data), or everything ingested
    * in earlier runs. The ingest-time half of the dedup stack: this gate
    * keeps history out, [[dedupStream]] keeps within-stream repeats out.
    *
    * Stateless by construction: a stream-static LEFT ANTI join re-probes
    * the static side per microbatch (Spark plans it as a normal batch
    * join inside the microbatch — broadcast when small), so there is no
    * state store, no watermark, and the seen-set can be swapped by
    * restarting the query. md5, not xxhash64, because a false positive
    * here silently DROPS a good document (q85's collision discipline —
    * deletion decisions get 128 bits).
    *
    * Build `seen` with [[seenFingerprints]] over the historical corpus
    * (or the benchmark tables for eval decontamination); gram-level
    * decontamination (q49) stays a batch op — its doc-level verdict needs
    * a per-doc aggregate that would be stateful here. */
  def decontaminateStream(docs: DataFrame, textCol: String, seen: DataFrame): DataFrame =
    docs.withColumn("_fp", graft.ops.TextAnalysis.fingerprint(col(textCol)))
      .join(seen, Seq("_fp"), "left_anti")
      .drop("_fp")

  /** The static side of [[decontaminateStream]]: distinct content
    * fingerprints of a historical/benchmark corpus (one narrow shuffle,
    * run as batch). Uses `TextAnalysis.fingerprint` — the SAME identity
    * the batch dedup half uses (internal whitespace collapsed, not just
    * trimmed), so the two halves of the dedup stack agree on what "the
    * same document" means. */
  def seenFingerprints(docs: DataFrame, textCol: String): DataFrame =
    docs.select(graft.ops.TextAnalysis.fingerprint(col(textCol)).as("_fp")).distinct()

  /** Bloom front door for a stream — [[decontaminateStream]] with the
    * seen-set collapsed to a [[graft.ops.Dedup.bloomSnapshot]] sketch:
    * drops every document the sketch flags. NO join at all, not even
    * stream-static: the probe is one codegen'd row-local expression, so
    * the microbatch never touches the historical corpus and the gate
    * costs the same at 100 TB of history as at 100 rows.
    *
    * The trade vs the exact gate, stated plainly: Bloom's error is
    * one-sided in the WRONG direction for a drop decision — a false
    * positive (≈ the build fpp) drops a GOOD document. Use this gate
    * where ingest volume dwarfs the value of any single document (web
    * crawl front door) and the exact gate where it doesn't; or run this
    * first and route its drops through the exact check instead of
    * discarding (the [[graft.ops.Dedup.incrementalDedupBloom]]
    * composition).
    *
    * Null text KEEPS the row (`coalesce(..., true)`): a null fingerprint
    * makes the probe null, and a bare filter would silently drop the row
    * — where [[decontaminateStream]]'s left-anti join keeps it (null
    * never equi-joins). The two gates are documented as drop-in
    * replacements, so they must agree on null text. */
  def bloomGateStream(docs: DataFrame, textCol: String,
                      bloom: Array[Byte]): DataFrame =
    docs.filter(coalesce(!graft.functions.BloomExprs.mightContain(
      graft.ops.TextAnalysis.fingerprint(col(textCol)), bloom), lit(true)))

  /** Ingest-time boilerplate scrub: strip a KNOWN boilerplate-chunk set
    * (mined from history by [[boilerplateKeys]]) out of every arriving
    * document — headers, footers, license blurbs removed before a byte of
    * noise lands in the lake. The streaming half of
    * [[graft.ops.Dedup.boilerplateRemove]]: the batch op DISCOVERS the
    * frequent chunks over a corpus; this gate APPLIES a mined set to the
    * live stream, where frequency counting is impossible without
    * unbounded state.
    *
    * Stateless and row-local by construction: the chunk set is gate
    * METADATA (small by construction — segments repeating across many
    * docs are rare; same argument as the batch op's broadcast), embedded
    * as a literal array, so the scrub is pure column expressions in the
    * stream's scan stage — no state store, no watermark, no join, and an
    * updated set ships by restarting the query, exactly like
    * [[budgetGate]]'s budgets and [[outlierGate]]'s fences.
    *
    * Segmentation and normalization are the batch op's exactly (lowered,
    * trimmed, `\s+`-split, fixed token windows, md5 keys), so a doc
    * scrubbed here equals the batch rebuild of the same doc —
    * spec-pinned. Appends (n_chunks, kept_chunks, clean_text). */
  def boilerplateScrub(docs: DataFrame, textCol: String,
                       boilerKeys: Seq[String], chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    val c = chunkTokens
    val w = split(lower(trim(col(textCol))), "\\s+")
    val chunks = transform(
      sequence(lit(0), ceil(size(w) / lit(c.toDouble)).cast("int") - 1),
      i => concat_ws(" ", slice(w, i * c + 1, lit(c))))
    val kept = filter(chunks, ch => !array_contains(
      lit(boilerKeys.toArray), md5(ch)))
    docs
      .withColumn("n_chunks", size(chunks).cast("long"))
      .withColumn("kept_chunks", size(kept).cast("long"))
      .withColumn("clean_text", concat_ws(" ", kept))
  }

  /** The mined side of [[boilerplateScrub]]: the batch op's frequent-chunk
    * keys, collected. Driver-side collect is the POINT here — the set is
    * gate configuration for a long-running stream (like a benchmark list
    * or a budget map), and it is small by the same argument that lets the
    * batch op broadcast it. `maxKeys` guards the degenerate corpus where
    * "boilerplate" would be corpus-sized (a template farm): crossing it
    * fails loudly rather than silently building a driver-sized gate. */
  def boilerplateKeys(history: DataFrame, idCol: String, textCol: String,
                      chunkTokens: Int, minDocs: Int,
                      maxKeys: Int = 1000000): Seq[String] = {
    val c = chunkTokens
    val w = split(lower(trim(col(textCol))), "\\s+")
    val keys = history
      .select(col(idCol).as("_id"), explode(transform(
        sequence(lit(0), ceil(size(w) / lit(c.toDouble)).cast("int") - 1),
        i => md5(concat_ws(" ", slice(w, i * c + 1, lit(c)))))).as("_k"))
      .groupBy(col("_k")).agg(countDistinct(col("_id")).as("_df"))
      .filter(col("_df") >= minDocs)
      .limit(maxKeys + 1)
      .collect().map(_.getString(0)).toSeq
    require(keys.size <= maxKeys,
      s"boilerplate set exceeds maxKeys=$maxKeys — this corpus's 'frequent' " +
        "chunks are not rare; raise minDocs or use the batch op's broadcast path")
    keys
  }

  final case class BudgetDoc(group: String, doc_id: Long, cost: Long)
  final case class BudgetState(spent: Long, closed: Boolean)
  final case class BudgetAdmit(group: String, doc_id: Long, cost: Long, spent: Long)

  /** Streaming flavor of [[graft.ops.BudgetSelect]]: per-group token-budget
    * admission for a live document stream ("stop ingesting a source once
    * its budget is spent"). Semantics mirror the batch prefix rule
    * exactly: docs are admitted in arrival rank (doc_id) order while the
    * running cost fits the group's budget, and the FIRST overflow CLOSES
    * the group — later, smaller docs do not slip in (first-fit would
    * diverge from the batch operator and make results arrival-order
    * dependent). Per-group state is two scalars (spent, closed), bounded
    * by group cardinality, never by stream volume. Admitted docs emit in
    * Append mode with the running spend. Groups absent from `budgets`
    * admit nothing (budget 0), same as batch.
    *
    * Equivalence contract (ModulesSpec): streaming admissions over any
    * microbatch split == batch `selectByBudgetPerGroup` ranked by doc_id,
    * as long as each group's docs arrive in doc_id order across batches
    * (within a batch they are sorted — the same cross-batch caveat the
    * NoTimeout sessionize documents). */
  def budgetGate(docs: Dataset[BudgetDoc], budgets: Map[String, Long]): Dataset[BudgetAdmit] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (group: String, it: Iterator[BudgetDoc], state: GroupState[BudgetState]) => {
          val budget = budgets.getOrElse(group, 0L)
          // starts open even at budget 0: zero-cost docs fit (spent stays
          // 0 ≤ 0), matching the batch rule's treatment of free rows
          var s = state.getOption.getOrElse(BudgetState(0L, closed = false))
          val out = Seq.newBuilder[BudgetAdmit]
          for (d <- it.toSeq.sortBy(_.doc_id) if !s.closed) {
            if (s.spent + d.cost <= budget) {
              s = s.copy(spent = s.spent + d.cost)
              out += BudgetAdmit(group, d.doc_id, d.cost, s.spent)
            } else s = s.copy(closed = true)
          }
          state.update(s)
          out.result().iterator
        })
  }

  /** Watermarked stream-stream interval join: each left event pairs with
    * right events of the same key whose time falls in
    * [left.ts, left.ts + maxDelay]. Both sides carry watermarks so the
    * join state is BOUNDED — Spark drops buffered rows once the watermark
    * passes the interval (an un-watermarked stream-stream join buffers
    * forever). Right-side columns must be pre-renamed to avoid collisions:
    * pass the right frame with `keyCol`/`tsCol` names of its own. */
  def intervalJoin(left: DataFrame, leftKey: String, leftTs: String,
                   right: DataFrame, rightKey: String, rightTs: String,
                   maxDelay: String, watermark: String = "10 minutes"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$leftKey = $rightKey AND $rightTs >= $leftTs " +
          s"AND $rightTs <= $leftTs + interval $maxDelay"))

  /** Stream-side Tukey-fence outlier gate: fences are TRAINED ON HISTORY
    * by the batch side ([[graft.ops.Stats.iqrOutliers]]'s quartile
    * computation over the archived table) and applied to the live stream
    * as a stateless broadcast join + filter — the standard split for
    * distribution-based monitoring: the expensive distributional fit runs
    * where the history lives, the stream pays one codegen'd comparison
    * per row, no state store, no watermark. `keep = "inliers"` drops
    * anomalies (ingest guard); `"outliers"` keeps only them (alerting).
    * Keys absent from the fence table pass through when keeping inliers
    * (no history yet ⇒ nothing to judge against) and never alert. */
  def outlierGate(stream: DataFrame, history: DataFrame, keyCol: String,
                  valCol: String, k: Double = 1.5,
                  keep: String = "inliers"): DataFrame = {
    require(keep == "inliers" || keep == "outliers", s"bad keep=$keep")
    val fences = history.groupBy(col(keyCol))
      .agg(expr(s"percentile(`$valCol`, 0.25)").as("_p25"),
        expr(s"percentile(`$valCol`, 0.75)").as("_p75"))
      .select(col(keyCol),
        (col("_p25") - lit(k) * (col("_p75") - col("_p25"))).as("_lo"),
        (col("_p75") + lit(k) * (col("_p75") - col("_p25"))).as("_hi"))
    val joined = stream.join(broadcast(fences), Seq(keyCol), "left")
    val outlier = col(valCol) < col("_lo") || col(valCol) > col("_hi")
    val kept =
      if (keep == "inliers") joined.filter(col("_lo").isNull || !outlier)
      else joined.filter(outlier === true)
    kept.drop("_lo", "_hi")
  }

  /** Stream-static enrichment join: attach reference-table attributes to a
    * stream. Stream-static inner joins are STATELESS — no watermark, no
    * buffered state; every microbatch joins against the current static
    * side — and `broadcast` keeps the stream side shuffle-free. The
    * standard shape for decorating a high-volume stream with a small dim
    * (user profile, concept map) at cluster scale. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys)

  /** Streaming ingestion with per-batch relational logic: `foreachBatch`
    * hands each microbatch to ordinary BATCH DataFrame code (here: exact
    * dedup within the batch against nothing but itself, then append), so
    * any operator in this library — dedup, quality gate, chunking — runs
    * unchanged inside a stream. The (batchId, path) pair plus parquet's
    * atomic task commit gives effectively-once appends on restart: a
    * replayed batch overwrites its own directory instead of duplicating.
    * Combine with [[dedupStream]] upstream for cross-batch key dedup. */
  def sinkBatches(stream: DataFrame, path: String, checkpoint: String)
                 (transform: DataFrame => DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        transform(batch).write.mode("overwrite").parquet(s"$path/batch=$batchId")
        ()
      }
      .start()

  /** Continuous sequence packing — the ingest-time half of the
    * concat-and-chunk layout: each microbatch packs as the CONTINUATION
    * of the token stream packed so far
    * ([[graft.ops.TextAnalysis.sequencePackFrom]] with the running
    * offset), so the union of all batch outputs is one gapless global
    * stream of fixed-`seqLen` sequence spans — documents arriving later
    * simply extend it. Per batch: the proven pack plan (range exchange,
    * driver prefix sums, bounded windows) plus ONE narrow count — the
    * offset advance is the batch's exact token total.
    *
    * The running offset is CHECKPOINT-RECOVERABLE: every batch writes a
    * one-row (batch_id, start_off, n_tokens) record to
    * `<path>/_offsets/batch=<id>` AFTER its data commit
    * ([[PackOffsetStore]]). A restarted query re-seeds from
    * `max(start_off + n_tokens)` over the recorded batches, and a
    * REPLAYED batch (foreachBatch re-delivery after a crash between data
    * and record, or a restart that re-runs the last uncommitted epoch)
    * finds its own record — or recomputes the same start from its
    * predecessors — and overwrites its own directory at the ORIGINAL
    * offset: the union stays gapless across any stop/start sequence.
    * `initialOffset` only seeds an empty store (continuing an externally
    * packed history). */
  def packingSink(stream: DataFrame, idCol: String, textCol: String,
                  seqLen: Int, path: String, checkpoint: String,
                  initialOffset: Long = 0L): org.apache.spark.sql.streaming.StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sess = batch.sparkSession
        val start = PackOffsetStore.startFor(
          PackOffsetStore.read(sess, path), batchId, initialOffset)
        val packed = graft.ops.TextAnalysis.sequencePackFrom(
          batch.toDF(), idCol, textCol, seqLen, start)
        packed.write.mode("overwrite").parquet(s"$path/batch=$batchId")
        val batchTokens = batch.toDF()
          .agg(coalesce(sum(graft.ops.TextAnalysis.tokenCount(col(textCol))), lit(0L)))
          .head().getLong(0)
        // record LAST: a record's existence implies its data committed,
        // so a crash between the two replays the batch into the same
        // directory at the same start
        PackOffsetStore.record(sess, path, batchId, start, batchTokens)
        ()
      }
      .start()
  }

  /** Maintain the corpus-to-date distinct-count ledger AT INGEST TIME —
    * [[graft.ops.Corpus.cardLedgerAppend]] as a streaming sink (round-8
    * verdict #6): every microbatch contributes its (group, HLL sketch)
    * row-set under `ledgerDir/batch=<id>`, so "distinct fingerprints per
    * source, corpus-to-date" ([[graft.ops.Corpus.cardLedgerEstimate]])
    * is answerable at any moment WITHOUT ever rescanning ingested data —
    * the dataset card stays current as a side effect of ingest.
    *
    * Exactly-once is free here: foreachBatch's at-least-once re-delivery
    * overwrites the same `batch=<id>` dir (idempotent), and even a
    * re-delivery under a different id cannot inflate the estimate — HLL
    * union is idempotent on content. `keepLast` bounds the ledger dir
    * count via [[graft.ops.Corpus.cardLedgerCompact]] (default 8, the
    * PackOffsetStore margin: far wider than foreachBatch's one-epoch
    * replay horizon). */
  def cardLedgerSink(stream: DataFrame, groupCol: String, valueCol: String,
                     ledgerDir: String, checkpoint: String,
                     lgK: Int = 12, keepLast: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Corpus.cardLedgerAppend(batch.sparkSession, ledgerDir,
          batch.toDF(), groupCol, valueCol, batchId, lgK, keepLast)
        ()
      }
      .start()

  /** Maintain the corpus-to-date DISTRIBUTION ledger at ingest time —
    * [[graft.ops.HistLedger.append]] as a streaming sink, the
    * [[cardLedgerSink]] twin for histograms: every microbatch contributes
    * its (group, bucket, cnt) rows under `ledgerDir/batch=<id>`, so the
    * drift gate ([[graft.ops.HistLedger.drift]]) and the quantile
    * brackets ([[graft.ops.HistLedger.quantiles]]) answer at any moment
    * without rescanning ingested data. Same exactly-once argument:
    * re-delivery overwrites the same `batch=<id>` dir; `keepLast` bounds
    * the dir count via the staged-swap compaction, whose horizon guard
    * keeps a post-compaction replay loud instead of double-counted.
    * The bucket grid is the ledger's FOUNDING geometry — the first
    * microbatch founds it; callers restating a different grid on an
    * existing ledger fail at the first trigger. */
  def histLedgerSink(stream: DataFrame, groupCol: String, valCol: String,
                     ledgerDir: String, checkpoint: String,
                     lo: Double, hi: Double, nBuckets: Int,
                     keepLast: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.HistLedger.append(batch.sparkSession, ledgerDir,
          batch.toDF(), groupCol, valCol, batchId, lo, hi, nBuckets, keepLast)
        ()
      }
      .start()

  /** DRIFT-GATED ingest — [[histLedgerSink]] with a quarantine: each
    * microbatch is SCORED against the corpus-to-date distribution
    * ([[graft.ops.HistLedger.drift]], per-group TV distance) BEFORE it
    * becomes history, and groups past `maxTv` are quarantined — their
    * rows land under `quarantineDir/batch=<id>` for review and never
    * enter the ledger, so a poisoned source (broken extractor, dumped
    * spam feed) cannot normalize ITSELF by shifting the distribution it
    * is judged against. Passing groups append as usual. Per-group
    * granularity: one bad source must not block the healthy sources
    * sharing its microbatch.
    *
    * Verdict stability under at-least-once replay: scores are computed
    * EXACTLY ONCE per batch id — written to `scoresDir/batch=<id>`
    * before any store mutation, and a re-delivered batch REUSES the
    * stored scores (recomputing would judge the batch against a history
    * that already contains its own passing groups). The quarantine
    * write and the ledger append are per-batch-dir overwrites —
    * idempotent like every ledger sink.
    *
    * Founding: a ledger with no history admits the whole first batch
    * (scores written as tv 0.0 — there is nothing to drift against).
    * A brand-new group arriving LATER scores 1.0 by definition and is
    * quarantined: admitting a never-seen source is an explicit
    * maintenance decision ([[graft.ops.HistLedger.append]] or the CLI
    * `drift` loop), not something a stream does silently. Rows with a
    * null group cannot be quarantined (no score row to match) and pass. */
  def driftGatedHistSink(stream: DataFrame, groupCol: String, valCol: String,
                         ledgerDir: String, scoresDir: String,
                         quarantineDir: String, checkpoint: String,
                         maxTv: Double, lo: Double, hi: Double, nBuckets: Int,
                         keepLast: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF()
        val scoresPath = s"$scoresDir/batch=$batchId"
        val fsys = new org.apache.hadoop.fs.Path(scoresPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // _SUCCESS, not bare dir existence: a crash mid-write leaves an
        // uncommitted dir, which a replay must overwrite, not trust
        val committed = fsys.exists(
          new org.apache.hadoop.fs.Path(s"$scoresPath/_SUCCESS"))
        val scores =
          if (committed) spark.read.parquet(scoresPath)
          else {
            val s =
              if (graft.ops.HistLedger.hasHistory(spark, ledgerDir))
                graft.ops.HistLedger.drift(spark, ledgerDir, b, groupCol, valCol)
              else b.select(col(groupCol).cast("string").as("group")).distinct()
                .withColumn("tv_dist", lit(0.0))
            s.coalesce(1).write.mode("overwrite").parquet(scoresPath)
            spark.read.parquet(scoresPath)
          }
        // group-cardinality metadata (one score row per source)
        val bad = scores.filter(col("tv_dist") > maxTv)
          .select(col("group")).collect()
          .flatMap(r => Option(r.getString(0))).toSeq
        val gkey = col(groupCol).cast("string")
        if (bad.nonEmpty)
          b.filter(gkey.isin(bad: _*))
            .write.mode("overwrite").parquet(s"$quarantineDir/batch=$batchId")
        val pass =
          if (bad.isEmpty) b
          else b.filter(!coalesce(gkey.isin(bad: _*), lit(false)))
        graft.ops.HistLedger.append(spark, ledgerDir, pass, groupCol, valCol,
          batchId, lo, hi, nBuckets, keepLast)
        ()
      }
      .start()

  /** Maintain the corpus-to-date INSPECTION SAMPLE at ingest time —
    * [[graft.ops.SampleLedger.append]] as a streaming sink, completing
    * the ledger-sink family (counts, distributions, and now the rows a
    * human looks at). Safe under at-least-once twice over: same-id
    * re-delivery overwrites its dir, and the bottom-k fold is
    * CONTENT-idempotent — even a replay under a new id cannot change
    * the sample. */
  def sampleLedgerSink(stream: DataFrame, groupCol: String, idCol: String,
                       payloadCol: String, ledgerDir: String,
                       checkpoint: String, k: Int,
                       seed: String = "graft-sample",
                       keepLast: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.SampleLedger.append(batch.sparkSession, ledgerDir,
          batch.toDF(), groupCol, idCol, payloadCol, batchId, k, seed, keepLast)
        ()
      }
      .start()

  /** Probe every arriving microbatch against a STANDING MinHash-LSH
    * index ([[graft.ops.Dedup.loadNearDupIndex]]) AT INGEST TIME — the
    * fuzzy layer of the ingest front door, one rung past
    * [[bloomGateStream]]'s exact triage: per-doc best historical
    * near-duplicate verdicts land under `verdictsDir/batch=<id>`
    * (overwrite per batch — foreachBatch replay is idempotent).
    *
    * PROBE-ONLY by design: foreachBatch is at-least-once, and a replayed
    * APPEND would duplicate the batch's shingle/band rows inside the
    * store's flat tables — which have no per-batch directory to
    * overwrite precisely so that daily probes scan one flat table
    * (the [[graft.ops.Dedup.appendNearDupIndex]] layout). Index
    * extension therefore stays on the batch maintenance side
    * (CurateCli `neardup`, whose caller sequences batches); the stream
    * picks up an extended index by restarting the query — exactly
    * [[decontaminateStream]]'s seen-set discipline.
    *
    * The index loads ONCE per query start and its frames are cached
    * (the point of a standing index): every microbatch probes the same
    * in-memory band/shingle tables; only batch-sized data moves. */
  def nearDupGateSink(stream: DataFrame, idCol: String, textCol: String,
                      indexDir: String, verdictsDir: String, checkpoint: String,
                      minJaccard: Double = 0.2,
                      scope: graft.ops.CacheScope = graft.ops.CacheScope.noop)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = graft.ops.Dedup.loadNearDupIndex(stream.sparkSession, indexDir, scope)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Dedup.incrementalNearDupsWith(batch.toDF(), idx, idCol,
            textCol, minJaccard)
          .write.mode("overwrite").parquet(s"$verdictsDir/batch=$batchId")
        ()
      }
      .start()
  }

  /** [[nearDupGateSink]]'s VECTOR twin: probe each microbatch's
    * embeddings against a standing LSH bucket index
    * ([[graft.ops.Similarity.loadEmbedIndex]]), verdicts per batch dir.
    * Same probe-only reasoning, same restart-to-extend contract. */
  def embedGateSink(stream: DataFrame, idCol: String, vecCol: String,
                    indexDir: String, verdictsDir: String, checkpoint: String,
                    minSim: Double = 0.3,
                    multiProbe: Boolean = false,
                    scope: graft.ops.CacheScope = graft.ops.CacheScope.noop)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = graft.ops.Similarity.loadEmbedIndex(stream.sparkSession, indexDir, scope)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // multiProbe widens each arriving vector's probe to its Hamming-1
        // bucket neighbors (q174) — probe-key explode on the microbatch
        // side only, the standing store is untouched (probe-only contract)
        graft.ops.Similarity.incrementalEmbedNearDupsWith(batch.toDF(), idx,
            idCol, vecCol, minSim, multiProbe)
          .write.mode("overwrite").parquet(s"$verdictsDir/batch=$batchId")
        ()
      }
      .start()
  }

  /** The BINARY-payload rung of the gate-sink family: probe each
    * microbatch's payloads against a standing perceptual-hash store
    * ([[graft.ops.Multimodal.loadPHashIndex]]) — "has a perceptually
    * near-identical image/clip arrived before". Same probe-only
    * contract and restart-to-extend discipline as [[nearDupGateSink]];
    * `multiProbe` widens probe keys to Hamming-1 band neighbors on the
    * microbatch side only. */
  def phashGateSink(stream: DataFrame, idCol: String, payloadCol: String,
                    indexDir: String, verdictsDir: String, checkpoint: String,
                    maxDist: Int = 6,
                    multiProbe: Boolean = false,
                    scope: graft.ops.CacheScope = graft.ops.CacheScope.noop)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = graft.ops.Multimodal.loadPHashIndex(stream.sparkSession, indexDir, scope)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Multimodal.incrementalPerceptualDupsWith(batch.toDF(), idx,
            idCol, payloadCol, maxDist, multiProbe)
          .write.mode("overwrite").parquet(s"$verdictsDir/batch=$batchId")
        ()
      }
      .start()
  }

  /** The VIDEO member of the gate-sink family: probe each microbatch's
    * clip payloads against a standing frame-signature store
    * ([[graft.ops.Multimodal.loadFrameIndex]]) — "has a clip whose
    * aligned frames match this one arrived before". The batch is
    * sampled+hashed under the store's FOUNDING geometry (loaded, never
    * restated), verdicts (id, hist_id, n_matched, min_dist) land per
    * `batch=` dir; same probe-only contract and restart-to-extend
    * discipline as [[phashGateSink]]. `maxPerBucket` is the probe-time
    * hot-bucket cap (binding is loud — see
    * [[graft.ops.Multimodal.incrementalFrameDupsWith]]). */
  def frameGateSink(stream: DataFrame, idCol: String, payloadCol: String,
                    indexDir: String, verdictsDir: String, checkpoint: String,
                    maxDist: Int = 2, minMatchedFrames: Int = 3,
                    maxPerBucket: Int = 0,
                    multiProbe: Boolean = false,
                    scope: graft.ops.CacheScope = graft.ops.CacheScope.noop)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = graft.ops.Multimodal.loadFrameIndex(stream.sparkSession, indexDir, scope)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Multimodal.incrementalFrameDupsWith(batch.toDF(), idx,
            idCol, payloadCol, maxDist, minMatchedFrames, maxPerBucket,
            multiProbe)
          .write.mode("overwrite").parquet(s"$verdictsDir/batch=$batchId")
        ()
      }
      .start()
  }

  /** The CLIP-IDENTITY member of the gate-sink family: storyboard each
    * arriving payload ([[graft.ops.Multimodal.storyboardFingerprints]] —
    * the ordered scene-keyframe sequence in the stated signature space)
    * and probe the fingerprint against a standing storyboard SNAPSHOT —
    * "has this CUT arrived before, under any container, tail padding or
    * within-scene frame churn". The snapshot is the plain
    * fingerprint-snapshot store the batch loop founds (`scenes --emit
    * boards` piped into the `dedup` command — storyboards are text, so
    * the exact layer IS the store; no new store machinery), read through
    * [[graft.ops.Dedup.snapshotLive]] so tombstoned clips stop matching.
    * Verdicts (id, verdict ∈ dup_history | kept | dup_batch) land per
    * `batch=` dir; probe-only, restart-to-extend like every gate sink.
    * The scene knobs here must restate the snapshot's founding
    * convention — they are recorded by the BATCH loop's discipline, not
    * in the flat snapshot, so the caller owns the agreement (the price
    * of reusing the exact layer verbatim). */
  def storyboardGateSink(stream: DataFrame, idCol: String, payloadCol: String,
                         snapDir: String, verdictsDir: String, checkpoint: String,
                         frameBytes: Int = 128, stride: Int = 128,
                         maxFrames: Int = 8, cutThreshold: Int = 10,
                         decoder: String = graft.ops.Multimodal.StubDecoder,
                         scope: graft.ops.CacheScope = graft.ops.CacheScope.noop)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // idCol forwarded (round-13 advice): snapshotLive's tombstone
    // subtraction anti-joins on the snapshot's id column — defaulting it
    // to "doc_id" broke (or silently skipped) tombstones for any store
    // founded under another id name, contradicting the doc's "tombstoned
    // clips stop matching" contract
    val snap = graft.ops.Dedup.snapshotLive(stream.sparkSession, snapDir, idCol, scope)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val boards = graft.ops.Multimodal.storyboardFingerprints(
          batch.toDF(), idCol, payloadCol, frameBytes, stride, maxFrames,
          cutThreshold, decoder)
        // scope forwarded: the callee caches its per-batch fingerprint
        // frame — untracked, a long-running stream would leak one cached
        // plan per microbatch (round-13 self-review)
        graft.ops.Dedup.incrementalDedupSnapshot(boards, idCol, "storyboard",
            snap, scope = scope)
          .write.mode("overwrite").parquet(s"$verdictsDir/batch=$batchId")
        ()
      }
      .start()
  }

  /** Arrival-time payload health check — the STATELESS member of the
    * gate-sink family: every arriving packed payload re-verified against
    * its ingest metadata ([[graft.ops.Multimodal.payloadIntegrity]] —
    * truncated / corrupted / ok), verdicts per `batch=` dir. No standing
    * store, no state: the verdict is a row-local projection, so the sink
    * is trivially replay-idempotent (overwrite per batch). Catch the
    * failed transfer the day it arrives, not when a training run
    * dereferences the blob. */
  def integrityGateSink(stream: DataFrame, idCol: String,
                        verdictsDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Multimodal.payloadIntegrity(batch.toDF(), idCol)
          .write.mode("overwrite").parquet(s"$verdictsDir/batch=$batchId")
        ()
      }
      .start()

  /** The AUDIO member of the stateless gate-sink family: every arriving
    * recording gets its clip/silence verdict at ingest time
    * ([[graft.ops.Multimodal.wavQualityGate]] — rail-pinned clipping,
    * midpoint digital silence, keep under both thresholds; malformed
    * containers audit `valid = false`). No standing store, no state —
    * row-local verdicts per `batch=` dir, trivially replay-idempotent
    * (the [[integrityGateSink]] discipline). Catch the dead-mic feed
    * the hour it starts, not after a month of silence lands in the
    * corpus. */
  def audioGateSink(stream: DataFrame, idCol: String,
                    verdictsDir: String, checkpoint: String,
                    maxClipFrac: Double = 0.2, maxSilenceFrac: Double = 0.5,
                    silenceTol: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Multimodal.wavQualityGate(batch.toDF(), idCol,
            maxClipFrac, maxSilenceFrac, silenceTol)
          .write.mode("overwrite").parquet(s"$verdictsDir/batch=$batchId")
        ()
      }
      .start()

  /** The SERVING-shape rung of the gate-sink family: probe each
    * microbatch's embeddings against a standing IVF-PQ index
    * ([[graft.ops.Similarity.loadIvfPqIndex]] — the production 100-TB
    * ANN store), top-k coded-row matches per arriving vector landing
    * under `verdictsDir/batch=<id>`. Where [[embedGateSink]] answers
    * "has something this similar arrived before" via LSH buckets, this
    * rung gives RANKED approximate-distance matches against the full
    * corpus-to-date index — retrieval at ingest time, zero corpus-float
    * reads, zero history encode per trigger (the q133 discipline).
    *
    * Same probe-only contract as its siblings: index extension stays on
    * the batch maintenance side (CurateCli `annindex`), a restart ships
    * the extended index. `nProbe = 0` (default) resolves to the
    * [[graft.ops.Similarity.autoProbe]] scan-fraction rule at query
    * start. */
  def ivfPqGateSink(stream: DataFrame, idCol: String, vecCol: String,
                    indexDir: String, verdictsDir: String, checkpoint: String,
                    nProbe: Int = 0, topK: Int = 1,
                    scope: graft.ops.CacheScope = graft.ops.CacheScope.noop)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = graft.ops.Similarity.loadIvfPqIndex(stream.sparkSession, indexDir, scope)
    val probes =
      if (nProbe > 0) nProbe
      else graft.ops.Similarity.autoProbe(idx.cents.count().toInt)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Similarity.ivfPqTopKWith(idx, batch.toDF(), idCol, vecCol,
            probes, topK)
          .write.mode("overwrite").parquet(s"$verdictsDir/batch=$batchId")
        ()
      }
      .start()
  }

  /** The COMPOSED streaming front door — [[graft.ops.Pipeline.ingestGate]]
    * as a sink: every microbatch gets the full batch-mode verdict ladder in
    * escalating rung-cost order against the two STANDING stores — optional
    * row-local Gopher quality gate (`low_quality`, terminal), exact
    * fingerprint dedup vs the snapshot (with its Bloom sidecar as a
    * broadcast prefilter when present — `dup_history`/`dup_batch`), then
    * MinHash-LSH near-dup vs the standing index for the exact SURVIVORS
    * only (`near_dup`), else `kept`. One unified (id, verdict, hist_id,
    * jaccard) row per arriving doc under `verdictsDir/batch=<id>`
    * (overwrite per batch — foreachBatch replay is idempotent). This is
    * the CurateCli `ingest` loop's verdict half as a standing query: the
    * separate [[bloomGateStream]]/[[nearDupGateSink]] rungs fused so the
    * cheap rung's semi join gates the expensive shingle/band work.
    *
    * PROBE-ONLY, like every gate sink in this family: foreachBatch is
    * at-least-once, and a replayed APPEND would duplicate rows inside the
    * stores' flat tables (the [[nearDupGateSink]] reasoning). Store
    * extension stays on the batch maintenance side (CurateCli `ingest
    * --update Y`, whose caller sequences batches); a restart ships the
    * extended stores — the [[decontaminateStream]] seen-set discipline.
    *
    * Both stores load ONCE per query start: the snapshot's live
    * fingerprints and the index's band/shingle tables are cached for the
    * query's lifetime, the Bloom bytes ride the driver; per trigger only
    * batch-sized data moves (the batch's distinct fps broadcast ONTO the
    * snapshot scan — history never shuffles). */
  def ingestGateSink(stream: DataFrame, idCol: String, textCol: String,
                     snapDir: String, indexDir: String,
                     verdictsDir: String, checkpoint: String,
                     minJaccard: Double = 0.2,
                     quality: Boolean = false, minWords: Int = 50,
                     repetition: Boolean = false,
                     normalize: Boolean = false,
                     scope: graft.ops.CacheScope = graft.ops.CacheScope.noop)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val sess = stream.sparkSession
    // the CLI ingest's content-identity discipline at the stream front
    // door: a store keyed on one identity space must not be probed with
    // the other. Probe-only sinks never FOUND the marker (founding is a
    // batch-maintenance decision); a store without one reads as raw
    for ((dir, stated) <- Seq(snapDir -> normalize, indexDir -> normalize)) {
      val stored = graft.ops.Dedup.snapshotFpKind(sess, dir).getOrElse("raw")
      val want = if (stated) "normalized" else "raw"
      require(stored == want,
        s"store at '$dir' is keyed on $stored content identity; " +
          s"the sink was started with normalize = $stated")
    }
    val snap = graft.ops.Dedup.snapshotLive(sess, snapDir, idCol, scope).select(col("fp"))
    val bloom = graft.ops.Dedup.loadSnapshotBloom(sess, snapDir)
    val idx = graft.ops.Dedup.loadNearDupIndex(sess, indexDir, scope)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // per-trigger caches (the gate's verdict snapshot) live exactly as
        // long as the trigger: the terminal write happens inside the scope
        graft.ops.CacheScope.withScope { bScope =>
          val b = batch.toDF()
          def terminal(ids: DataFrame, verdict: String): DataFrame =
            ids.select(col(idCol), lit(verdict).as("verdict"),
              when(lit(false), col(idCol)).as("hist_id"),
              lit(null).cast("double").as("jaccard"))
          val lowQ =
            if (!quality) None
            else Some(graft.ops.TextAnalysis.gopherQualityGate(b, idCol, textCol,
                minWords = minWords)
              .filter(col("gopher_ok") === 0).select(col(idCol)))
          val gated0 = lowQ.fold(b)(bad => b.join(bad, Seq(idCol), "left_anti"))
          // repetition rides the quality survivors (RAW text — the CLI
          // ingest's rung order and rationale), verdict `repetitive`
          val repBad =
            if (!repetition) None
            else Some(graft.ops.TextAnalysis
              .gopherRepetitionGate(gated0, idCol, textCol)
              .filter(col("rep_ok") === 0).select(col(idCol)))
          val gated = repBad.fold(gated0)(bad =>
            gated0.join(bad, Seq(idCol), "left_anti"))
          // normalized identity: the dedup rungs hash/shingle the q161
          // canonical form; verdict ids and raw-text consumers unchanged
          val keyed =
            if (normalize) gated.withColumn(textCol,
              graft.ops.TextAnalysis.normalizeForDedup(col(textCol)))
            else gated
          val rungs = graft.ops.Pipeline.ingestGate(keyed, idCol, textCol,
            snap, idx, minJaccard, bScope, bloomPrefilter = bloom)
          val withLowQ = lowQ.fold(rungs)(bad =>
            rungs.unionByName(terminal(bad, "low_quality")))
          val verdicts = repBad.fold(withLowQ)(bad =>
            withLowQ.unionByName(terminal(bad, "repetitive")))
          verdicts.write.mode("overwrite").parquet(s"$verdictsDir/batch=$batchId")
        }
        ()
      }
      .start()
  }

  /** [[packingSink]]'s transactional offset ledger: one tiny parquet per
    * batch under `<path>/_offsets/batch=<id>`, written after the batch's
    * data commit. State per batch is ONE (batch_id, start_off, n_tokens)
    * row — driver metadata, read back in one small scan per microbatch.
    * Overwrite-on-replay keeps the ledger idempotent under foreachBatch's
    * at-least-once batch delivery.
    *
    * The ledger is COMPACTED opportunistically by [[record]] (round-7):
    * without it a year of 1-minute batches is ~500k parquet dirs scanned
    * every microbatch. Compaction needs no rewrite at all — batch starts
    * are `max(end of priors)`, and ends are NONDECREASING in batch id
    * (every start is the max end of its predecessors), so among records
    * at or below any horizon the LARGEST batch id alone determines every
    * later start: the older records are pure history and their dirs can
    * simply be DELETED. [[compact]] keeps the newest record at-or-below
    * the horizon and drops the rest; per-batch rows ABOVE the horizon
    * are preserved untouched, so any batch foreachBatch can still
    * re-deliver (its replay horizon is the last uncommitted epoch; the
    * default `keepLast` margin is far wider) finds its own recorded
    * start. The scan cost per microbatch is then bounded at
    * ~`keepLast + 1` dirs regardless of stream lifetime. */
  private[graft] object PackOffsetStore {
    /** All recorded (batch_id, start_off, n_tokens), unordered. */
    def read(spark: SparkSession, path: String): Seq[(Long, Long, Long)] = {
      val dir = new org.apache.hadoop.fs.Path(s"$path/_offsets")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) Seq.empty
      else spark.read.parquet(dir.toString)
        .select(col("batch_id"), col("start_off"), col("n_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }

    /** The pack start for `batchId`: its own recorded start on replay
      * (idempotent re-delivery), else the max end of every PRIOR batch —
      * max-of, not sum-of, so a replayed predecessor's overwritten record
      * cannot double-count. */
    def startFor(records: Seq[(Long, Long, Long)], batchId: Long,
                 initialOffset: Long): Long =
      records.find(_._1 == batchId).map(_._2).getOrElse {
        // a batch BELOW the compaction horizon whose own record was
        // folded away has lost its original offset: recomputing from
        // "predecessors" would find none and silently restart the pack
        // at initialOffset, overwriting offset 0. Structured streaming
        // only replays the last uncommitted epoch (always at-or-above
        // the horizon at keepLast >= 1), so hitting this is a direct
        // caller misusing the ledger — fail loudly instead of corrupting
        if (records.nonEmpty && batchId < records.map(_._1).min)
          throw new IllegalStateException(
            s"batch $batchId is below the ledger's compaction horizon " +
              s"(oldest surviving record: batch ${records.map(_._1).min}) — " +
              "its original start offset is unrecoverable; replay only " +
              "batches at or above the horizon, or record() with a wider keepLast")
        records.collect { case (b, s, n) if b < batchId => s + n }
          .foldLeft(initialOffset)(math.max)
      }

    /** Record a committed batch, then opportunistically [[compact]]
      * everything `keepLast` batches behind it (skip with
      * `keepLast < 0`). */
    def record(spark: SparkSession, path: String, batchId: Long,
               start: Long, nTokens: Long, keepLast: Int = 8): Unit = {
      import spark.implicits._
      Seq((batchId, start, nTokens)).toDF("batch_id", "start_off", "n_tokens")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/_offsets/batch=$batchId")
      if (keepLast >= 0) compact(spark, path, batchId - keepLast)
    }

    /** Drop every ledger dir STRICTLY below the newest record at-or-below
      * `upTo` (see the object doc for why deletion alone is sound —
      * monotone ends make the survivor carry all its predecessors'
      * information). Records above `upTo` are never touched. Deleting a
      * dir is atomic per-batch and crash-safe: a compaction interrupted
      * midway just leaves extra still-valid records for the next call. */
    def compact(spark: SparkSession, path: String, upTo: Long): Unit = {
      val dir = new org.apache.hadoop.fs.Path(s"$path/_offsets")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) return
      val ids = fs.listStatus(dir).iterator
        .map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
        .toSeq
      val folded = ids.filter(_ <= upTo)
      if (folded.size > 1) {
        val survivor = folded.max
        folded.filter(_ < survivor).foreach { id =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/_offsets/batch=$id"), true)
        }
      }
    }
  }

  final case class Event(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class Session(user_id: Long, n_events: Long, sum_value: Double,
                           start_ms: Long, end_ms: Long)

  /** Production flavor of [[sessionize]]: EventTimeTimeout + watermark.
    *
    * The NoTimeout flavor below only closes a session when a LATER event for
    * the same key arrives — on an unbounded stream, a key that goes quiet
    * never emits its final session. Here every open session arms an
    * event-time timeout at `last + gapMs`; when the watermark (driven by
    * OTHER keys' events) passes that point, Spark invokes the function with
    * `state.hasTimedOut` and the session is emitted and its state REMOVED —
    * per-key state is bounded by activity, not key cardinality.
    *
    * `events` must carry a watermark on `ts` (`withWatermark`) before the
    * groupByKey — required by EventTimeTimeout. */
  def sessionizeEventTime(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed last + gap with no new events: close and forget
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.n, s.sum, s.start, s.last))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.value))
            val out = Seq.newBuilder[Session]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  out += Session(user, s.n, s.sum, s.start, s.last)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout must sit strictly past the current watermark; a
              // session whose gap horizon the watermark already passed
              // (late-arriving tail) times out at the next microbatch
              state.setTimeoutTimestamp(math.max(s.last + gapMs, state.getCurrentWatermarkMs + 1))
            }
            out.result().iterator
          }
        })
  }

  final case class TypedEvent(user_id: Long, ts: Timestamp, event_type: String)
  final case class FunnelState(reached: Int, tMicros: Long)
  final case class FunnelProgress(user_id: Long, reached: Int)

  /** Streaming flavor of [[graft.ops.Sessionize.funnel]]: per-user funnel
    * progression maintained as keyed state, one `FunnelProgress` row
    * emitted whenever a user advances (Append mode — dashboards see each
    * conversion as it happens). Advancement rule is IDENTICAL to batch:
    * next step strictly after the step that preceded it and inside the
    * conversion window, first-touch, no re-anchoring — so per-user state
    * is two scalars (stage, timestamp), bounded by user cardinality and
    * never by event volume. Matches the batch operator exactly when each
    * user's events arrive in event-time order across microbatches (within
    * a batch they are sorted; the cross-batch caveat is the same one the
    * NoTimeout sessionize documents). */
  def funnelStream(events: Dataset[TypedEvent], steps: Seq[String],
                   maxGapSeconds: Option[Long] = None): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    def micros(t: Timestamp): Long = (t.getTime / 1000) * 1000000L + t.getNanos / 1000
    val gapUs = maxGapSeconds.map(_ * 1000000L)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[TypedEvent], state: GroupState[FunnelState]) => {
          val sorted = it.filter(e => steps.contains(e.event_type)).toSeq
            .sortBy(e => (micros(e.ts), e.event_type))
          var s = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val before = s.reached
          for (e <- sorted if s.reached < steps.size) {
            val t = micros(e.ts)
            val inWindow = gapUs.forall(g => t <= s.tMicros + g)
            if (e.event_type == steps(s.reached) &&
                (s.reached == 0 || (t > s.tMicros && inWindow)))
              s = FunnelState(s.reached + 1, t)
          }
          if (sorted.isEmpty) Iterator.empty // no step events: no state, no row
          else if (s.reached != before || state.getOption.isEmpty) {
            state.update(s)
            Iterator.single(FunnelProgress(user, s.reached))
          } else Iterator.empty
        })
  }

  /** Stateful gap-based sessionization: emits a session when `gapMs` of
    * event-time silence passes for a user (processing-time timeout flavor
    * for bounded tests; [[sessionizeEventTime]] is the unbounded-stream
    * production flavor). */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[Event], state: GroupState[SessionState]) => {
          // bounded-batch flavor: events for the group arrive together;
          // sort by time and cut on gaps (state kept for cross-batch runs)
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.value))
          val out = Seq.newBuilder[Session]
          var cur = state.getOption
          for (e <- sorted) {
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(s.copy(last = t, n = s.n + 1, sum = s.sum + e.value))
              case Some(s) =>
                out += Session(user, s.n, s.sum, s.start, s.last)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach(s => state.update(s))
          out.result().iterator
        })
  }
}
