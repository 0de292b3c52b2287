package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: image/audio/video payloads as opaque `binary`
  * columns beside a typed metadata struct, with feature extraction running
  * batched per partition.
  *
  * The Spark-side plumbing — schema, partitioning, batch shape — is real and
  * tested. The decode step comes in two flavors: a deterministic STUB
  * (`decodeStub` / the byte-stream [[dHash]]) that the synthetic gate corpus
  * uses so DuckDB can replay every hash, and a REAL image decoder
  * ([[decodeImage]] — JDK `javax.imageio`, PNG/JPEG/BMP/GIF, zero new jars)
  * behind [[dHashImage]] / [[extractImageFeatures]] / the `*Decoded` pair
  * rungs, spec-pinned over deterministically generated images. Audio/video
  * codecs beyond keyframe images would still arrive as a decoder swap
  * (JNI/javacv/etc.) without touching the plumbing.
  */
object Multimodal {

  /** The signature-space names a standing perceptual store is FOUNDED on
    * (round-12 verdict #1): `stub` = the byte-stream [[dHash]] (the
    * DuckDB-replayable gate space), `imageio` = real JDK image decode
    * ([[dHashImage]] over the luma plane), `wav` = RIFF-aware PCM
    * extraction ([[graft.functions.WavPcm]]) with byte-window frames
    * over the SAMPLES (real signal, not a stub — PCM bytes ARE the
    * waveform). A store keyed on one space cannot answer probes hashed
    * in another (ImageDecodeSpec: the stub space finds NOTHING on
    * PNG-vs-JPEG re-encoded twins), so the decoder is carried in
    * `_params` exactly like `nBands` and a disagreeing probe fails as
    * loudly as a `--bands` mismatch. */
  val StubDecoder = "stub"
  val ImageioDecoder = "imageio"
  val WavDecoder = "wav"

  private[ops] val Decoders = Seq(StubDecoder, ImageioDecoder, WavDecoder)

  private[ops] def checkDecoder(decoder: String): Unit =
    require(Decoders.contains(decoder),
      s"decoder must be one of ${Decoders.mkString("|")}, got '$decoder'")

  /** media metadata struct carried beside the payload */
  val MetaType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("byte_len", LongType),
    StructField("content_hash", StringType)))

  /** Wrap a string column as an opaque binary payload + metadata struct
    * (stand-in for reading real media bytes). */
  def packBinary(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val bin = encode(col(payloadCol), "utf-8")
    df.select(col(idCol),
      bin.as("payload"),
      struct(lit("fake/raw").as("format"), octet_length(bin).cast("long").as("byte_len"),
        md5(bin).as("content_hash")).as("meta"))
  }

  /** Frame sampling over a binary payload: fixed-size byte windows at a
    * fixed stride, capped at `maxFrames` per row — the video-keyframe /
    * audio-clip sampling shape. Pure column expressions (`substr` on
    * binary is codegen'd), so sampling runs INSIDE the scan stage and only
    * the sampled frames — not whole payloads — flow into downstream
    * decode. Returns `array<struct<frame_idx: int, frame: binary>>`;
    * payloads shorter than one frame yield an empty array. */
  def sampleFrames(payload: org.apache.spark.sql.Column,
                   frameBytes: Int, stride: Int, maxFrames: Int): org.apache.spark.sql.Column = {
    require(frameBytes > 0 && stride > 0 && maxFrames > 0, "positive frame params")
    val n = octet_length(payload)
    val available = greatest(
      floor((n - frameBytes).cast("double") / stride).cast("int") + 1, lit(0))
    val nf = least(available, lit(maxFrames))
    when(nf > 0,
      transform(sequence(lit(0), nf - 1), i => struct(
        i.cast("int").as("frame_idx"),
        substr(payload, i * stride + 1, lit(frameBytes)).as("frame"))))
      .otherwise(array().cast("array<struct<frame_idx:int,frame:binary>>"))
  }

  /** Perceptual difference hash of a binary payload — 64-bit signature,
    * small Hamming distance ⇔ perceptually near ([[graft.functions.DHash64]];
    * the decode step is the q68 deterministic stub, the grid/compare/pack
    * structure is real dHash). Native codegen'd: runs in the scan stage,
    * only 8-byte signatures leave it. */
  def dHash(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.DHash64.dhash64(payload)

  /** Hamming distance between two [[dHash]] signatures (0–64). */
  def dHashDistance(a: org.apache.spark.sql.Column,
                    b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  private def checkBandParams(nBands: Int, maxDist: Int): Unit = {
    require(nBands >= 2 && 64 % nBands == 0,
      s"nBands must be >= 2 and divide 64, got $nBands")
    require(maxDist >= 0 && maxDist <= 64, s"maxDist in [0,64], got $maxDist")
  }

  /** Deterministic per-bucket skew cap: keep the `maxPerBucket` LOWEST
    * `idCol` values per `keys` bucket, drop the rest. `maxPerBucket <= 0`
    * disables the cap. This is the discipline every banded candidate
    * join in the engine carries (the MinHash banding cap, q128's fuzzy
    * block cap): a pathological bucket — a constant-frame flood of
    * black frames, color bars, digital silence — otherwise makes the
    * downstream equi-join quadratic in ONE task. The rank-then-filter
    * shape compiles to WindowGroupLimit with a PARTIAL pass below the
    * exchange (PlanSpec-pinned), so map tasks forward at most
    * `maxPerBucket` rows per bucket and the flood never assembles.
    * That rule fires only while the cap ≤
    * `spark.sql.window.group.limit.threshold` (default 1000): a larger
    * cap compiles to a full Window — same sort, no map-side pruning —
    * so production caps belong at or under the threshold (the gate
    * queries' deliberately non-binding 1000000 caps accept the full
    * Window on their ~100k-row band tables; q194 pins the pruned
    * plan at a binding cap). */
  private def capBuckets(df: DataFrame, keys: Seq[String],
                         order: Seq[String], maxPerBucket: Int): DataFrame =
    if (maxPerBucket <= 0) df
    else df.withColumn("_rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)))
      .filter(col("_rn") <= maxPerBucket).drop("_rn")

  /** The shifted rung's cap: its (band, value) buckets hold MULTIPLE
    * frames per payload, so the deterministic order is (id, frame_idx)
    * — id alone would tie and the kept set would vary run to run. */
  private def capShiftedBuckets(banded: DataFrame, maxPerBucket: Int): DataFrame =
    capBuckets(banded, Seq("_b", "_v"), Seq("_id", "_fi"), maxPerBucket)

  /** Explode a frame carrying a `_sig` long into its `nBands` equal
    * bit-bands as (_b, _v) rows — the Hamming-ball bucket keys every
    * perceptual shape joins on. All other columns pass through. */
  private def withBands(df: DataFrame, nBands: Int): DataFrame = {
    val bandBits = 64 / nBands
    val mask = (1L << bandBits) - 1
    val kept = df.columns.map(col)
    df.select(kept :+ explode(array((0 until nBands).map(b => struct(
        lit(b).as("_b"),
        shiftright(col("_sig"), b * bandBits).bitwiseAND(lit(mask)).as("_v"))): _*))
        .as("_band"): _*)
      .select(kept :+ col("_band._b").as("_b") :+ col("_band._v").as("_v"): _*)
  }

  /** Perceptual near-dup pairs over a binary payload column — the
    * multimodal rung beside the text side's eleven: all payload pairs
    * within Hamming distance `maxDist` of each other's [[dHash]], found
    * WITHOUT an all-pairs pass.
    *
    * Candidate generation is the banded Hamming-ball trick the text side
    * already uses for MinHash/SimHash (split the 64-bit signature into
    * `nBands` equal bit-bands; two signatures within Hamming distance
    * < nBands MUST agree exactly on at least one band — pigeonhole — so
    * candidates come from a band-value EQUI-JOIN, never a cross join).
    * Distances in [nBands, maxDist] are found only when a band happens
    * to agree — the standard LSH recall trade, identical on the oracle
    * side because the gate replays the same banding.
    *
    * Scale shape: signatures are computed once in the scan stage (8
    * bytes/row), the band frame is `nBands` rows × ~24 bytes, and the
    * equi-join shuffles on (band, value) — at 100 TB only signature
    * slivers move, payloads never do. `maxPerBucket` caps pathological
    * buckets (a constant-payload flood collides everywhere): keep the
    * `maxPerBucket` LOWEST ids per bucket, a deterministic skew bound —
    * same discipline as the MinHash banding cap. Returns
    * (id_a, id_b, dist), id_a < id_b, each pair once. */
  def perceptualDupPairs(df: DataFrame, idCol: String, payloadCol: String,
                         maxDist: Int = 6, nBands: Int = 4,
                         maxPerBucket: Int = 0): DataFrame = {
    checkBandParams(nBands, maxDist)
    sigDupPairsCore(df.select(col(idCol).as("_id"),
      dHash(col(payloadCol)).as("_sig")), maxDist, nBands, maxPerBucket)
  }

  /** The whole-payload pair core over a prepared (_id, _sig) frame —
    * shared by the stub-decode rung ([[perceptualDupPairs]]) and the
    * real-decoder rung ([[perceptualDupPairsDecoded]]): banding, skew
    * cap, candidate equi-join, Hamming verify. */
  private def sigDupPairsCore(sig: DataFrame, maxDist: Int, nBands: Int,
                              maxPerBucket: Int,
                              scope: CacheScope = CacheScope.noop): DataFrame = {
    val banded = withBands(sig, nBands)
    // cached: BOTH sides of the self-join read the banded/capped table,
    // and the two aliased subtrees never share an exchange (round 14 —
    // the q21 rareInv lesson), so uncached the payload hash + banding
    // explode ran twice per call
    val capped = scope.track(
      capBuckets(banded, Seq("_b", "_v"), Seq("_id"), maxPerBucket).cache())
    val a = capped.select(col("_b"), col("_v"),
      col("_id").as("id_a"), col("_sig").as("_sa"))
    val b = capped.select(col("_b"), col("_v"),
      col("_id").as("id_b"), col("_sig").as("_sb"))
    a.join(b, Seq("_b", "_v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        dHashDistance(col("_sa"), col("_sb")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Frame-aligned perceptual near-dup pairs — the VIDEO shape: sample
    * frames from each payload ([[sampleFrames]] — fixed stride, capped),
    * dHash each frame, and pair payloads whose aligned frames match.
    * Two clips differing by a re-encode artifact or one edited frame
    * agree on most (frame_idx, signature) pairs; whole-payload dHash
    * would smear the edit across the global grid instead.
    *
    * Candidates come from a (frame_idx, band, value) equi-join — the
    * [[perceptualDupPairs]] pigeonhole per aligned frame, never
    * all-pairs; matched frames (Hamming ≤ `maxDist`) then count per
    * pair, and only pairs with ≥ `minMatchedFrames` survive. Scale
    * shape: `maxFrames × nBands` ~32-byte rows per payload; frame bytes
    * stay in the scan stage (sampleFrames + dHash both run there) and
    * only signatures shuffle. `maxPerBucket` caps a (frame_idx, band,
    * value) bucket at the `maxPerBucket` lowest ids — the frame rungs
    * are MORE exposed to the constant-payload flood than the
    * whole-payload rung (real video corpora are full of black frames
    * and color bars that all hash alike), so the cap matters more here
    * (round-11 verdict #1). Returns (id_a, id_b, n_matched, min_dist),
    * id_a < id_b. */
  def frameDupPairs(df: DataFrame, idCol: String, payloadCol: String,
                    frameBytes: Int = 128, stride: Int = 128, maxFrames: Int = 8,
                    maxDist: Int = 2, nBands: Int = 4,
                    minMatchedFrames: Int = 3,
                    maxPerBucket: Int = 0): DataFrame = {
    checkBandParams(nBands, maxDist)
    require(minMatchedFrames >= 1, "minMatchedFrames >= 1")
    alignedFramePairsCore(df.select(col(idCol).as("_id"),
        explode(sampleFrames(col(payloadCol), frameBytes, stride, maxFrames)).as("_f"))
      .select(col("_id"), col("_f.frame_idx").as("_fi"),
        dHash(col("_f.frame")).as("_sig")),
      maxDist, nBands, minMatchedFrames, maxPerBucket)
  }

  /** The aligned-frame pair core over a prepared (_id, _fi, _sig) frame
    * table — shared by the byte-window rung ([[frameDupPairs]]) and the
    * decoded-keyframe rung ([[frameDupPairsDecoded]]). */
  private def alignedFramePairsCore(frames: DataFrame, maxDist: Int,
                                    nBands: Int, minMatchedFrames: Int,
                                    maxPerBucket: Int,
                                    scope: CacheScope = CacheScope.noop): DataFrame = {
    // cached: the self-join's two aliased sides re-ran the frame
    // sampling + dHash + banding subtree twice (round 14)
    val banded = scope.track(capBuckets(withBands(frames, nBands),
      Seq("_fi", "_b", "_v"), Seq("_id"), maxPerBucket).cache())
    val a = banded.select(col("_fi"), col("_b"), col("_v"),
      col("_id").as("id_a"), col("_sig").as("_sa"))
    val b = banded.select(col("_fi"), col("_b"), col("_v"),
      col("_id").as("id_b"), col("_sig").as("_sb"))
    a.join(b, Seq("_fi", "_b", "_v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("_fi"),
        dHashDistance(col("_sa"), col("_sb")).as("_d"))
      .distinct()
      .filter(col("_d") <= maxDist)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_matched"), min(col("_d")).as("min_dist"))
      .filter(col("n_matched") >= minMatchedFrames)
  }

  /** Shift-tolerant perceptual near-dup pairs — the TRIMMED-CLIP shape:
    * where [[frameDupPairs]] requires frames to match at the SAME index,
    * real video dups are offset (an intro trimmed, a re-cut start), so
    * here frame signatures join on (band, value) alone and each matched
    * frame pair VOTES for its offset `fi_a − fi_b`; a pair survives when
    * its best offset collects ≥ `minMatchedFrames` consistent votes.
    * Random cross-matches scatter across offsets and never assemble a
    * block; a genuine shifted copy lines its matches up on one offset.
    *
    * Scale shape: identical to the aligned rung — `maxFrames × nBands`
    * signature slivers per payload, one (band, value) equi-join (hotter
    * by the missing frame-idx key: bucket size × maxFrames — still
    * signature-sliver sized), then two narrow aggregations (offset vote,
    * best offset per pair). Because this rung's buckets drop the
    * frame-idx key they run `maxFrames`× hotter than the aligned
    * rung's, so `maxPerBucket` — the `maxPerBucket` lowest (id,
    * frame_idx) rows kept per (band, value) bucket, deterministic —
    * is the knob that keeps a black-frame flood from going quadratic
    * in one task (round-11 verdict #1). Returns (id_a, id_b,
    * frame_offset, n_matched, min_dist): the winning offset (ties to
    * the smallest), its vote count, and the closest frame distance at
    * that offset. */
  def frameDupPairsShifted(df: DataFrame, idCol: String, payloadCol: String,
                           frameBytes: Int = 64, stride: Int = 64,
                           maxFrames: Int = 8, maxDist: Int = 2,
                           nBands: Int = 4,
                           minMatchedFrames: Int = 4,
                           maxPerBucket: Int = 0): DataFrame = {
    checkBandParams(nBands, maxDist)
    require(minMatchedFrames >= 1, "minMatchedFrames >= 1")
    shiftedFramePairsCore(df.select(col(idCol).as("_id"),
        explode(sampleFrames(col(payloadCol), frameBytes, stride, maxFrames)).as("_f"))
      .select(col("_id"), col("_f.frame_idx").as("_fi"),
        dHash(col("_f.frame")).as("_sig")),
      maxDist, nBands, minMatchedFrames, maxPerBucket)
  }

  /** The offset-voting pair core over a prepared (_id, _fi, _sig) frame
    * table — shared by the byte-window rung ([[frameDupPairsShifted]])
    * and the decoded-keyframe rung ([[frameDupPairsShiftedDecoded]]). */
  private def shiftedFramePairsCore(frames: DataFrame, maxDist: Int,
                                    nBands: Int, minMatchedFrames: Int,
                                    maxPerBucket: Int,
                                    scope: CacheScope = CacheScope.noop): DataFrame = {
    // cached: see alignedFramePairsCore
    val banded = scope.track(
      capShiftedBuckets(withBands(frames, nBands), maxPerBucket).cache())
    val a = banded.select(col("_b"), col("_v"),
      col("_id").as("id_a"), col("_fi").as("_fa"), col("_sig").as("_sa"))
    val b = banded.select(col("_b"), col("_v"),
      col("_id").as("id_b"), col("_fi").as("_fb"), col("_sig").as("_sb"))
    val votes = a.join(b, Seq("_b", "_v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("_fa"), col("_fb"),
        dHashDistance(col("_sa"), col("_sb")).as("_d"))
      .distinct()
      .filter(col("_d") <= maxDist)
      .groupBy(col("id_a"), col("id_b"),
        (col("_fa") - col("_fb")).as("frame_offset"))
      .agg(count(lit(1)).as("n_matched"), min(col("_d")).as("min_dist"))
    votes.groupBy(col("id_a"), col("id_b"))
      .agg(min_by(struct(col("frame_offset"), col("n_matched"), col("min_dist")),
        struct(negate(col("n_matched")), col("frame_offset"))).as("_best"))
      .select(col("id_a"), col("id_b"),
        col("_best.frame_offset").as("frame_offset"),
        col("_best.n_matched").as("n_matched"), col("_best.min_dist").as("min_dist"))
      .filter(col("n_matched") >= minMatchedFrames)
  }

  // --------------------------------------------------------------------
  // Temporal structure: scene-change segmentation + storyboard identity.
  // The pair rungs above ask "are these two clips near-dups?"; these ask
  // "where does ONE clip's content change?" — the shot-boundary question
  // every video curation pipeline answers before keyframe extraction,
  // per-scene captioning, or clip-level dedup of re-cut uploads.
  // --------------------------------------------------------------------

  /** Scene-change segmentation — consecutive-frame signature deltas cut
    * a clip into scenes (shot-boundary detection, the dHash flavor):
    * frame i starts a new scene iff it is the first frame or
    * `Hamming(sig_i, sig_{i-1}) > cutThreshold`. Runs in any founding
    * signature space (`stub` byte windows / `wav` PCM sample windows /
    * `imageio` decoded keyframes — [[FrameIndex]]'s dispatch).
    *
    * Scale shape: sampling + hashing run in the scan stage ([[sampleFrames]]
    * + [[dHash]] are codegen'd column expressions), so only ~16-byte
    * (id, frame_idx, signature) rows reach the window — and the window
    * is partitioned BY CLIP ID over at most `maxFrames` rows per clip
    * (hash-partitioned across executors, never a single-partition
    * global window; lag and the running cut-sum share one sort). At
    * 100 TB the payload bytes never shuffle, and no task ever holds
    * more than one clip's frame count. Returns one row per
    * (clip, scene): (idCol, scene_idx, start_frame, end_frame,
    * n_frames, keyframe_sig) where `keyframe_sig` is the scene's FIRST
    * frame signature — the deterministic representative downstream
    * captioning or dedup keys on. */
  def sceneSegments(df: DataFrame, idCol: String, payloadCol: String,
                    frameBytes: Int = 128, stride: Int = 128,
                    maxFrames: Int = 8, cutThreshold: Int = 10,
                    decoder: String = StubDecoder): DataFrame = {
    require(cutThreshold >= 0 && cutThreshold <= 64,
      s"cutThreshold in [0,64], got $cutThreshold")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("_fi"))
    frameSigsOf(df, idCol, payloadCol, frameBytes, stride, maxFrames,
        "_id", decoder)
      .withColumn("_ph", lag(col("_sig"), 1).over(w))
      .withColumn("_cut",
        when(col("_ph").isNull
          || dHashDistance(col("_sig"), col("_ph")) > cutThreshold, 1L)
          .otherwise(0L))
      .withColumn("scene_idx", (sum(col("_cut")).over(w) - 1).cast("int"))
      .groupBy(col("_id").as(idCol), col("scene_idx"))
      .agg(min(col("_fi")).cast("int").as("start_frame"),
        max(col("_fi")).cast("int").as("end_frame"),
        count(lit(1)).as("n_frames"),
        min_by(col("_sig"), col("_fi")).as("keyframe_sig"))
  }

  /** Storyboard fingerprint — a clip-level content identity that is
    * ROBUST to changes outside the sampled window and to within-scene
    * padding: the ordered sequence of [[sceneSegments]] keyframe
    * signatures, hashed. Two uploads of the same cut (a re-container,
    * a tail-append, extra within-scene duplicate frames under the same
    * keyframes) agree on the storyboard even when whole-payload hashes
    * differ. One extra per-clip aggregation over the scene rows
    * (collect at most `maxFrames` 8-byte signatures per clip — bounded
    * state, map-side combinable). Returns (idCol, storyboard). */
  def storyboardFingerprints(df: DataFrame, idCol: String, payloadCol: String,
                             frameBytes: Int = 128, stride: Int = 128,
                             maxFrames: Int = 8, cutThreshold: Int = 10,
                             decoder: String = StubDecoder): DataFrame =
    sceneSegments(df, idCol, payloadCol, frameBytes, stride, maxFrames,
        cutThreshold, decoder)
      .groupBy(col(idCol))
      .agg(md5(encode(concat_ws(",",
        transform(array_sort(collect_list(struct(col("scene_idx"),
            col("keyframe_sig")))),
          s => s.getField("keyframe_sig").cast("string"))),
        "utf-8")).as("storyboard"))

  /** Storyboard dedup census — the clip-level dedup decision table:
    * group clips by [[storyboardFingerprints]] identity, report every
    * group holding more than one clip with its size and canonical
    * (lowest-id) survivor. A plain hash-groupBy over 32-byte
    * fingerprints — the exact-dedup scale shape, one shuffle on the
    * fingerprint. Returns (storyboard, n_clips, canonical_id). */
  def storyboardDupGroups(df: DataFrame, idCol: String, payloadCol: String,
                          frameBytes: Int = 128, stride: Int = 128,
                          maxFrames: Int = 8, cutThreshold: Int = 10,
                          decoder: String = StubDecoder): DataFrame =
    storyboardFingerprints(df, idCol, payloadCol, frameBytes, stride,
        maxFrames, cutThreshold, decoder)
      .groupBy(col("storyboard"))
      .agg(count(lit(1)).as("n_clips"), min(col(idCol)).as("canonical_id"))
      .filter(col("n_clips") > 1)

  /** Scene census — the corpus's temporal-structure dashboard: how many
    * clips have 1, 2, … scenes, and how much frame mass each stratum
    * carries. The number a cut-threshold tune reads first (threshold
    * too low → every clip degenerates to per-frame scenes; too high →
    * one scene per clip). Two count-shaped aggregations over
    * [[sceneSegments]]' already-narrow span rows — the heavy lifting
    * happened in the scan stage. Returns (n_scenes, n_clips,
    * total_frames). */
  def sceneCensus(df: DataFrame, idCol: String, payloadCol: String,
                  frameBytes: Int = 128, stride: Int = 128,
                  maxFrames: Int = 8, cutThreshold: Int = 10,
                  decoder: String = StubDecoder): DataFrame =
    sceneSegments(df, idCol, payloadCol, frameBytes, stride, maxFrames,
        cutThreshold, decoder)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scenes"), sum(col("n_frames")).as("_nf"))
      .groupBy(col("n_scenes"))
      .agg(count(lit(1)).as("n_clips"), sum(col("_nf")).as("total_frames"))

  /** Scene-overlap pairs — the RE-CUT / COMPILATION detector:
    * [[storyboardDupGroups]] finds clips whose scene SEQUENCE matches
    * exactly; this finds clips that merely SHARE scenes — a re-ordered
    * cut, a highlights reel, a compilation lifting scenes from a longer
    * upload. Clips pair on shared scene keyframe signatures (set
    * semantics — duplicate scenes within a clip count once), with
    * `containment = n_shared / min(|scenes_a|, |scenes_b|)` so a short
    * excerpt fully contained in a long clip reads 1.0.
    *
    * Scale shape: the join side is the DISTINCT (clip, keyframe_sig)
    * table — at most `maxFrames` 16-byte rows per clip — equi-joined on
    * the 8-byte signature, never all-pairs. A keyframe shared by a
    * pathological number of clips (black frames, title cards, color
    * bars — scene detection makes these MORE likely than raw frames,
    * every fade-to-black becomes a scene) floods its bucket quadratic:
    * `maxPerBucket` keeps the lowest `maxPerBucket` clip ids per
    * signature, the [[perceptualDupPairs]] cap discipline, and the
    * containment denominator counts the CAPPED sets so the quotient
    * stays consistent with the pairs actually generated. Returns
    * (id_a, id_b, n_shared, containment), id_a < id_b, n_shared >=
    * `minShared`. */
  def sceneOverlapPairs(df: DataFrame, idCol: String, payloadCol: String,
                        frameBytes: Int = 128, stride: Int = 128,
                        maxFrames: Int = 8, cutThreshold: Int = 10,
                        minShared: Int = 2, maxPerBucket: Int = 0,
                        decoder: String = StubDecoder,
                        scope: CacheScope = CacheScope.noop): DataFrame = {
    require(minShared >= 1, s"minShared >= 1, got $minShared")
    val kf = sceneSegments(df, idCol, payloadCol, frameBytes, stride,
        maxFrames, cutThreshold, decoder)
      .select(col(idCol).as("_id"), col("keyframe_sig").as("_ks"))
      .distinct()
    // cached: the capped keyframe table feeds both self-join sides AND
    // the per-clip denominator count — uncached, the whole
    // scan+window+rollup chain above would run once per branch
    val capped = scope.track(
      capBuckets(kf, Seq("_ks"), Seq("_id"), maxPerBucket).cache())
    val n = capped.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    val a = capped.select(col("_ks"), col("_id").as("id_a"))
    val b = capped.select(col("_ks"), col("_id").as("id_b"))
    a.join(b, Seq("_ks"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(n.select(col("_id").as("id_a"), col("_n").as("_na")), Seq("id_a"))
      .join(n.select(col("_id").as("id_b"), col("_n").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double")
          / least(col("_na"), col("_nb"))).as("containment"))
  }

  // --------------------------------------------------------------------
  // Real image decode (round-12): the JDK ships javax.imageio
  // (PNG/JPEG/BMP/GIF) — no new jars, no egress — so the perceptual
  // rungs' decode step no longer needs the deterministic stub when the
  // payloads really are images. The stub stays for the synthetic gate
  // corpus (the oracle replays its byte arithmetic in DuckDB); the
  // decoded rungs are spec-pinned over deterministically GENERATED
  // PNGs/JPEGs (identity, 1-px edit, re-encode) — honestly not
  // DuckDB-oracle-able, the streaming/sketch honesty class.
  // --------------------------------------------------------------------

  /** A decoded image: dimensions, source channel count, and the 8-bit
    * grayscale luma plane in row-major order (BT.601 integer weights —
    * deterministic). */
  final case class DecodedImage(width: Int, height: Int, channels: Int,
                                luma: Array[Byte])

  /** Decode an encoded image (PNG/JPEG/BMP/GIF — whatever the JVM's
    * ImageIO readers accept) to its luma plane. Returns None for bytes
    * no reader accepts or corrupt streams — callers decide whether an
    * undecodable payload is dropped (pairing) or reported (audit).
    * Luma = (299·R + 587·G + 114·B) / 1000, integer math. */
  def decodeImage(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes == null || bytes.length == 0) return None
    try {
      javax.imageio.ImageIO.setUseCache(false) // never spill to temp files
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val luma = new Array[Byte](w * h)
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var i = 0
        while (i < px.length) {
          val p = px(i)
          val y = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
            114 * (p & 0xff)) / 1000
          luma(i) = y.toByte
          i += 1
        }
        Some(DecodedImage(w, h, img.getColorModel.getNumComponents, luma))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** REAL dHash over a decoded luma plane — the image-dedup standard
    * the stub approximates: area-average the plane onto a 9×8 grid
    * (cell (r, c) = mean luma of pixel block rows [r·H/8, (r+1)·H/8) ×
    * cols [c·W/9, (c+1)·W/9)), then the SAME 64 horizontal comparisons
    * and bit packing as [[graft.functions.DHash64]] (bit r·8+c set iff
    * cell[r][c+1] > cell[r][c]; an empty block — W < 9 or H < 8 —
    * means 0.0, the stub's absent-cell convention). A re-encode or
    * resize moves cell means slightly; a different image re-orders
    * them — exactly the property the banded Hamming join needs. */
  private[graft] def dHashLuma(luma: Array[Byte], w: Int, h: Int): Long = {
    val mean = Array.ofDim[Double](8, 9)
    var r = 0
    while (r < 8) {
      val y0 = r * h / 8; val y1 = (r + 1) * h / 8
      var c = 0
      while (c < 9) {
        val x0 = c * w / 9; val x1 = (c + 1) * w / 9
        var sum = 0L; var n = 0L; var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += (luma(y * w + x) & 0xff); n += 1; x += 1 }
          y += 1
        }
        mean(r)(c) = if (n > 0) sum.toDouble / n else 0.0
        c += 1
      }
      r += 1
    }
    var hsh = 0L; r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (mean(r)(c + 1) > mean(r)(c)) hsh |= (1L << (r * 8 + c))
        c += 1
      }
      r += 1
    }
    hsh
  }

  /** Decode + [[dHashLuma]]: the real 64-bit perceptual hash of an
    * encoded image, None when no reader accepts the bytes. */
  def dHashImage(bytes: Array[Byte]): Option[Long] =
    decodeImage(bytes).map(d => dHashLuma(d.luma, d.width, d.height))

  /** (_id, _sig) signatures via the REAL decoder, batched per partition
    * (one reader setup per partition — the mapPartitions codec contract
    * [[extractFeatures]] established); undecodable payloads drop. Not
    * a Catalyst expression by nature (ImageIO is JVM library code) but
    * the scale shape holds: runs beside the scan, only 16-byte
    * (id, sig) rows leave it, payloads never shuffle. */
  private def imageSigs(df: DataFrame, idCol: String, payloadCol: String,
                        as: String = "_id"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) => dHashImage(bytes).map(id -> _) }
      }
      .toDF(as, "_sig")
  }

  /** (as, _sig) whole-payload signatures in the named signature space —
    * the dispatch every [[PHashIndex]] path (found/probe/append) runs
    * through, so a store founded on one space can never be extended or
    * probed in another. Input is fanned out BEFORE hashing (a
    * single-split batch would decode on one core). */
  private def pHashSigsOf(df: DataFrame, idCol: String, payloadCol: String,
                          decoder: String, as: String): DataFrame = {
    checkDecoder(decoder)
    val fanned = Parallelize.ensure(df.select(col(idCol), col(payloadCol)))
    decoder match {
      case StubDecoder =>
        fanned.select(col(idCol).as(as), dHash(col(payloadCol)).as("_sig"))
      case WavDecoder =>
        // whole-recording signature over the RIFF-extracted PCM: two
        // byte-identical recordings saved with different header
        // layouts (LIST chunks, fmt variants) hash identically.
        // Un-extractable payloads DROP (the imageio discipline) —
        // otherwise every non-WAV would collide at the empty-PCM
        // signature and pair with every other
        fanned.select(col(idCol).as(as),
            graft.functions.WavPcm.wavPcm(col(payloadCol)).as("_pcm"))
          .filter(octet_length(col("_pcm")) > 0)
          .select(col(as), dHash(col("_pcm")).as("_sig"))
      case ImageioDecoder => imageSigs(fanned, idCol, payloadCol, as)
    }
  }

  /** [[perceptualDupPairs]] with the decode step REAL: signatures from
    * [[dHashImage]] over encoded image payloads, the same banded
    * Hamming pipeline after (skew cap included). Undecodable payloads
    * produce no pairs — run [[payloadIntegrity]] first to find them. */
  def perceptualDupPairsDecoded(df: DataFrame, idCol: String, payloadCol: String,
                                maxDist: Int = 6, nBands: Int = 4,
                                maxPerBucket: Int = 0): DataFrame = {
    checkBandParams(nBands, maxDist)
    sigDupPairsCore(imageSigs(df, idCol, payloadCol), maxDist, nBands, maxPerBucket)
  }

  /** [[perceptualDupPairs]] for AUDIO: whole-recording signatures over
    * the RIFF-extracted PCM ([[wavPcm]] — scan-stage expression, real
    * samples), then the same banded Hamming pipeline. Header layout is
    * invisible: identical PCM in different containers pairs at 0.
    * Un-extractable payloads drop (the imageio discipline) — run
    * [[payloadIntegrity]] first to find them. */
  def perceptualDupPairsWav(df: DataFrame, idCol: String, payloadCol: String,
                            maxDist: Int = 6, nBands: Int = 4,
                            maxPerBucket: Int = 0): DataFrame = {
    checkBandParams(nBands, maxDist)
    // the same signature dispatch the standing store runs through —
    // one definition of the wav extract-filter-hash recipe, not two
    sigDupPairsCore(pHashSigsOf(df, idCol, payloadCol, WavDecoder, "_id"),
      maxDist, nBands, maxPerBucket)
  }

  /** Perceptual dedup census — [[graft.ops.Dedup.dupRateCurve]] /
    * [[graft.ops.Similarity.semanticDupRateCurve]]'s twin on the BINARY
    * side: the decision table a Hamming cutoff is picked from before a
    * deduplication pass over a media corpus. Candidate pairs are
    * generated ONCE at the LOOSEST cutoff (the band join is
    * cutoff-independent — banding is fixed by `nBands`, tighter cutoffs
    * only filter), collapsed to one best-distance row per potential
    * victim (the higher id of a pair — first-wins, the exact-dedup
    * rule), then fanned over the literal cutoff array: (max_dist,
    * n_dropped, n_docs, drop_frac) answers "what does Hamming ≤ 2 cost
    * vs ≤ 6" at one pairing pass. Zero-count cutoffs kept; drop_frac a
    * raw IEEE quotient of exact counts.
    *
    * CAVEAT (round-13 advice): `n_docs` counts every input row, while
    * under `decoder = wav|imageio` undecodable payloads are dropped
    * before pairing — on a dirty corpus the curve's drop_frac denominator
    * is then larger than the pairable population and understates the dup
    * rate. Run [[payloadIntegrity]] (and the decoder's validity gate)
    * first, or read drop_frac as a fraction of the RAW feed. */
  def perceptualDupRateCurve(df: DataFrame, idCol: String, payloadCol: String,
                             maxDists: Seq[Int], nBands: Int = 4,
                             maxPerBucket: Int = 0,
                             decoder: String = StubDecoder): DataFrame = {
    require(maxDists.nonEmpty, "maxDists must be non-empty")
    checkBandParams(nBands, maxDists.max)
    val ds = maxDists.distinct.sorted
    // the pairs source signatures in the requested space (stub byte
    // stream | decoded luma | RIFF-extracted PCM) — the decision table
    // works identically for all three, banding is content-agnostic
    val best = sigDupPairsCore(pHashSigsOf(df, idCol, payloadCol, decoder,
        "_id"), ds.last, nBands, maxPerBucket)
      .groupBy(col("id_b")).agg(min(col("dist")).as("_bestd"))
    val thr = df.sparkSession.range(1)
      .select(explode(typedLit(ds)).as("max_dist"))
    val counts = best
      .select(col("_bestd"), explode(typedLit(ds)).as("max_dist"))
      .filter(col("_bestd") <= col("max_dist"))
      .groupBy(col("max_dist")).agg(count(lit(1)).as("_nd"))
    val total = df.agg(count(lit(1)).as("n_docs"))
    thr.join(counts, Seq("max_dist"), "left")
      .crossJoin(broadcast(total))
      .select(col("max_dist"),
        coalesce(col("_nd"), lit(0L)).as("n_dropped"),
        col("n_docs"),
        (coalesce(col("_nd"), lit(0L)).cast("double") / col("n_docs"))
          .as("drop_frac"))
  }

  /** Banding-recall decision table — the q172/q173 eval discipline for
    * the THIRD index family: ground truth is EXACT Hamming over every
    * signature pair (a broadcast cross join over 8-byte sig slivers —
    * the EVAL-scale shape: run it on a sample, never the corpus; the
    * banded rung exists precisely so production never does this),
    * the engine side is the banded candidate set. Per cutoff:
    * (max_dist, n_true, n_found, recall). The pigeonhole guarantees
    * recall 1.0 strictly below `nBands`; this table PRICES the recall
    * trade above it, which is how `nBands` is chosen. `n_true = 0`
    * reads recall 1.0 (nothing to find).
    *
    * The eval-scale bound is ENFORCED, not advisory (round-12 verdict
    * #3): the ground truth is all-pairs — wiring this to a corpus buys
    * exactly the quadratic blowup the banded rung exists to avoid — so
    * inputs over `maxEvalRows` fail loudly (one narrow count, trivial
    * beside the eval). Raise the knob only to accept the quadratic
    * bill deliberately. */
  def perceptualBandingEval(df: DataFrame, idCol: String, payloadCol: String,
                            maxDists: Seq[Int], nBands: Int = 4,
                            maxEvalRows: Long = 100000L): DataFrame = {
    require(maxDists.nonEmpty, "maxDists must be non-empty")
    val ds = maxDists.distinct.sorted
    checkBandParams(nBands, ds.last)
    // bounded check: counts at most maxEvalRows+1 rows, so the guard
    // never pays a full second evaluation of the input plan
    val lim = math.min(maxEvalRows, Int.MaxValue - 1L).toInt
    require(df.limit(lim + 1).count() <= maxEvalRows,
      s"perceptualBandingEval ground truth is ALL-PAIRS exact Hamming — " +
        s"the input exceeds maxEvalRows=$maxEvalRows (quadratic " +
        "comparisons). Run it on a sample; raise maxEvalRows only to " +
        "accept the quadratic cost deliberately.")
    val sig = df.select(col(idCol).as("_id"), dHash(col(payloadCol)).as("_sig"))
    val a = sig.select(col("_id").as("id_a"), col("_sig").as("_sa"))
    val b = sig.select(col("_id").as("id_b"), col("_sig").as("_sb"))
    val exact = a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .select(dHashDistance(col("_sa"), col("_sb")).as("_d"))
      .filter(col("_d") <= ds.last)
    val found = perceptualDupPairs(df, idCol, payloadCol, ds.last, nBands)
      .select(col("dist").as("_d"))
    def cnt(t: DataFrame, name: String) = t
      .select(col("_d"), explode(typedLit(ds)).as("max_dist"))
      .filter(col("_d") <= col("max_dist"))
      .groupBy(col("max_dist")).agg(count(lit(1)).as(name))
    df.sparkSession.range(1).select(explode(typedLit(ds)).as("max_dist"))
      .join(cnt(exact, "_nt"), Seq("max_dist"), "left")
      .join(cnt(found, "_nf"), Seq("max_dist"), "left")
      .select(col("max_dist"),
        coalesce(col("_nt"), lit(0L)).as("n_true"),
        coalesce(col("_nf"), lit(0L)).as("n_found"))
      .withColumn("recall",
        when(col("n_true") === 0, lit(1.0))
          .otherwise(col("n_found").cast("double") / col("n_true")))
  }

  /** Pack encoded frames (keyframe JPEGs/PNGs) into ONE binary payload
    * as 4-byte big-endian length prefixes + bytes — the container shape
    * [[imageFrameSigs]] reads. The inverse of [[splitImageFrames]]. */
  def packImageFrames(frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    frames.foreach { f => d.writeInt(f.length); d.write(f) }
    d.flush(); out.toByteArray
  }

  /** Split a length-prefixed frame container into (frame_idx, bytes);
    * parsing stops at the first malformed/truncated prefix (frames
    * before it are kept — the failed-transfer tail behaves like a
    * shorter clip, the [[payloadIntegrity]] audit names the damage). */
  def splitImageFrames(bytes: Array[Byte], maxFrames: Int): Seq[(Int, Array[Byte])] = {
    val out = Seq.newBuilder[(Int, Array[Byte])]
    var off = 0; var fi = 0
    while (fi < maxFrames && off + 4 <= bytes.length) {
      val len = ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
        ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
      // overflow-safe form: `off + 4 + len` wraps negative for a corrupt
      // length prefix near 2^31 (first byte 0x7F), slipping past a
      // naive `> bytes.length` and crashing copyOfRange instead of
      // stopping at the malformed prefix as documented
      if (len < 0 || len > bytes.length - off - 4) return out.result()
      out += fi -> java.util.Arrays.copyOfRange(bytes, off + 4, off + 4 + len)
      off += 4 + len; fi += 1
    }
    out.result()
  }

  /** (_id, _fi, _sig) per decoded frame of a length-prefixed container
    * ([[packImageFrames]]); frames that fail decode keep their index
    * and drop — alignment stays stable. */
  private def imageFrameSigs(df: DataFrame, idCol: String, payloadCol: String,
                             maxFrames: Int, as: String = "_id"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          if (bytes == null) Iterator.empty
          else splitImageFrames(bytes, maxFrames).iterator.flatMap {
            case (fi, f) => dHashImage(f).map(s => (id, fi, s))
          }
        }
      }
      .toDF(as, "_fi", "_sig")
  }

  /** [[frameDupPairs]] with the decode step REAL: payloads are
    * length-prefixed keyframe containers, each frame decoded and
    * [[dHashLuma]]'d, then the same aligned (frame_idx, band, value)
    * pipeline (skew cap included). */
  def frameDupPairsDecoded(df: DataFrame, idCol: String, payloadCol: String,
                           maxFrames: Int = 8, maxDist: Int = 2,
                           nBands: Int = 4, minMatchedFrames: Int = 3,
                           maxPerBucket: Int = 0): DataFrame = {
    checkBandParams(nBands, maxDist)
    require(minMatchedFrames >= 1, "minMatchedFrames >= 1")
    alignedFramePairsCore(imageFrameSigs(df, idCol, payloadCol, maxFrames),
      maxDist, nBands, minMatchedFrames, maxPerBucket)
  }

  /** [[frameDupPairsShifted]] with the decode step REAL — trimmed-clip
    * offset voting over decoded keyframe signatures. */
  def frameDupPairsShiftedDecoded(df: DataFrame, idCol: String, payloadCol: String,
                                  maxFrames: Int = 8, maxDist: Int = 2,
                                  nBands: Int = 4, minMatchedFrames: Int = 4,
                                  maxPerBucket: Int = 0): DataFrame = {
    checkBandParams(nBands, maxDist)
    require(minMatchedFrames >= 1, "minMatchedFrames >= 1")
    shiftedFramePairsCore(imageFrameSigs(df, idCol, payloadCol, maxFrames),
      maxDist, nBands, minMatchedFrames, maxPerBucket)
  }

  // --------------------------------------------------------------------
  // Audio (round-13): the THIRD modality over the same perceptual core.
  // WAV is a header walk, not a codec — PCM samples are IN the byte
  // stream — so the decode step is a native scan-stage expression
  // ([[graft.functions.WavPcm]]) and the signal the frames hash is
  // REAL. Frame = fixed-duration sample window (frameBytes over the
  // PCM stream: for 8-bit mono at 8 kHz, 160 bytes = 20 ms), the q191
  // geometry applied after the RIFF-aware offset.
  // --------------------------------------------------------------------

  /** [[graft.functions.WavPcm]] as a column: the PCM `data` payload of
    * a WAV container; not-a-WAV extracts empty (zero frames). */
  def wavPcm(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.WavPcm.wavPcm(payload)

  /** Wrap raw PCM samples (8-bit mono unsigned, `sampleRate` Hz) as a
    * canonical WAV container; `withListChunk` inserts a LIST metadata
    * chunk BEFORE fmt/data — the header-layout variance real encoders
    * produce, which [[wavPcm]]'s chunk walk (not a fixed-44-byte
    * offset) must step over. The audio twin of [[packImageFrames]]. */
  def packWav(pcm: Array[Byte], sampleRate: Int = 8000,
              withListChunk: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def tag(t: String): Unit = t.foreach(c => out.write(c.toInt))
    val listLen = 12 // "INFO" + one 4-byte-payload sub-chunk shape, even
    val extra = if (withListChunk) 8 + listLen else 0
    tag("RIFF"); le32(4 + extra + 24 + 8 + pcm.length); tag("WAVE")
    if (withListChunk) {
      tag("LIST"); le32(listLen)
      tag("INFO"); tag("IGFT"); le32(0) // empty vendor sub-chunk
    }
    tag("fmt "); le32(16)
    le16(1) /* PCM */ ; le16(1) /* mono */
    le32(sampleRate); le32(sampleRate) /* byte rate */
    le16(1) /* block align */ ; le16(8) /* bits per sample */
    tag("data"); le32(pcm.length)
    out.write(pcm)
    out.toByteArray
  }

  /** Build a (id, payload) WAV corpus from a text column — the gate
    * fixture door: each document's UTF-8 bytes become the 8-bit PCM
    * samples of a well-formed WAV (deterministic, so the oracle can
    * replay the frame hashes from the text bytes), and ODD ids carry a
    * LIST metadata chunk so the RIFF walk — not a fixed header offset —
    * is load-bearing for half the corpus. */
  def packWavCorpus(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, t) =>
        (id, packWav(t.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          withListChunk = (id % 2 != 0)))
      }
      .toDF(idCol, "payload")
  }

  /** [[frameDupPairs]] for AUDIO: aligned fixed-duration sample windows
    * over the RIFF-extracted PCM stream — two recordings differing by a
    * localized edit agree on every other window; whole-stream hashing
    * would smear the edit. Same candidate geometry ((frame_idx, band,
    * value) equi-join, skew cap, Hamming verify) and the same scale
    * shape: extraction + sampling + hashing all run in the scan stage,
    * only 8-byte signatures shuffle. */
  def frameDupPairsWav(df: DataFrame, idCol: String, payloadCol: String,
                       frameBytes: Int = 160, stride: Int = 160,
                       maxFrames: Int = 8, maxDist: Int = 2,
                       nBands: Int = 4, minMatchedFrames: Int = 3,
                       maxPerBucket: Int = 0): DataFrame = {
    checkBandParams(nBands, maxDist)
    require(minMatchedFrames >= 1, "minMatchedFrames >= 1")
    alignedFramePairsCore(frameSigsOf(df, idCol, payloadCol, frameBytes,
        stride, maxFrames, "_id", WavDecoder),
      maxDist, nBands, minMatchedFrames, maxPerBucket)
  }

  /** [[frameDupPairsShifted]] for AUDIO — the trimmed-recording shape:
    * offset voting over PCM sample windows (an intro clipped off, a
    * re-cut start), RIFF-aware extraction first. */
  def frameDupPairsShiftedWav(df: DataFrame, idCol: String, payloadCol: String,
                              frameBytes: Int = 160, stride: Int = 160,
                              maxFrames: Int = 8, maxDist: Int = 2,
                              nBands: Int = 4, minMatchedFrames: Int = 4,
                              maxPerBucket: Int = 0): DataFrame = {
    checkBandParams(nBands, maxDist)
    require(minMatchedFrames >= 1, "minMatchedFrames >= 1")
    shiftedFramePairsCore(frameSigsOf(df, idCol, payloadCol, frameBytes,
        stride, maxFrames, "_id", WavDecoder),
      maxDist, nBands, minMatchedFrames, maxPerBucket)
  }

  /** Payload integrity audit — the corrupted-media detector: every
    * binary payload re-verified against the typed metadata captured at
    * ingest ([[packBinary]]'s `meta` struct). A length mismatch is a
    * TRUNCATED transfer (the classic failed-download tail); a matching
    * length with a differing content hash is CORRUPTION (bit rot, a
    * partial overwrite). Run it before a training run reads the blobs —
    * a 100-TB media corpus always carries a few thousand of each.
    *
    * Row-local (octet_length + md5 per row, both codegen'd) — ZERO
    * shuffles; at scale this rides the scan stage of a column-pruned
    * read (payload + meta only). Returns (idCol, expected_len,
    * actual_len, verdict ∈ ok | missing | truncated | corrupted).
    *
    * The NULL payload gets its own leading branch: with payload null,
    * actual_len is null and every length/hash comparison evaluates to
    * null — without the branch the entirely-failed transfer (blob
    * missing altogether, the worst case) would fall through
    * `otherwise` and read "ok" (round-11 advice). */
  def payloadIntegrity(packed: DataFrame, idCol: String): DataFrame =
    packed.select(col(idCol),
        col("meta.byte_len").as("expected_len"),
        octet_length(col("payload")).cast("long").as("actual_len"),
        (md5(col("payload")) === col("meta.content_hash")).as("_hok"))
      .withColumn("verdict", integrityVerdict(
        col("actual_len"), col("expected_len"), col("_hok")))
      .select(col(idCol), col("expected_len"), col("actual_len"), col("verdict"))

  /** The one integrity verdict ladder, shared by [[payloadIntegrity]]
    * (per-row audit) and [[mediaDatasetCard]] (per-format rollup) so
    * the two can never disagree: missing ≻ truncated ≻ corrupted ≻ ok. */
  private def integrityVerdict(actualLen: org.apache.spark.sql.Column,
                               expectedLen: org.apache.spark.sql.Column,
                               hashOk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(actualLen.isNull, lit("missing"))
      .when(actualLen =!= expectedLen, lit("truncated"))
      .when(!hashOk, lit("corrupted"))
      .otherwise(lit("ok"))

  /** Media dataset card — the per-format release-audit rollup a
    * multimodal corpus ships beside its text card: payload counts, byte
    * mass and bounds, and the [[payloadIntegrity]] verdict census
    * (missing / truncated / corrupted / ok, the SAME ladder — shared
    * expression, the audits cannot drift apart), with `health_frac` =
    * ok share as the one-glance number. ONE count-shaped aggregation
    * over the format column — row-local expressions feeding a hash agg,
    * payload bytes never shuffle (only per-format partials do), so the
    * card costs a single scan at any corpus size. Returns one row per
    * format: (format, n_payloads, total_bytes, min_bytes, max_bytes,
    * n_missing, n_truncated, n_corrupted, n_ok, health_frac). */
  def mediaDatasetCard(packed: DataFrame): DataFrame =
    packed.select(col("meta.format").as("format"),
        col("meta.byte_len").as("_exp"),
        octet_length(col("payload")).cast("long").as("_act"),
        (md5(col("payload")) === col("meta.content_hash")).as("_hok"))
      .withColumn("_v", integrityVerdict(col("_act"), col("_exp"), col("_hok")))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_payloads"),
        sum(coalesce(col("_act"), lit(0L))).as("total_bytes"),
        min(col("_act")).as("min_bytes"),
        max(col("_act")).as("max_bytes"),
        sum(when(col("_v") === "missing", 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("_v") === "truncated", 1L).otherwise(0L)).as("n_truncated"),
        sum(when(col("_v") === "corrupted", 1L).otherwise(0L)).as("n_corrupted"),
        sum(when(col("_v") === "ok", 1L).otherwise(0L)).as("n_ok"))
      .withColumn("health_frac",
        col("n_ok").cast("double") / col("n_payloads"))

  /** Standing perceptual-hash index: the banded (band, value, id, sig)
    * store MATERIALIZED plus its founding band count, so daily ingest
    * probes band the BATCH only — the binary-column member of the
    * standing-store family ([[Dedup.NearDupIndex]] / MinHash,
    * [[Similarity.EmbedIndex]] / hyperplanes, the dHash bands here).
    * `nBands` is a FOUNDING constant: a store banded one way cannot
    * answer probes banded another. So is `decoder` (round-12 verdict
    * #1): signatures from the stub byte stream and from decoded luma
    * live in DIFFERENT spaces — a probe hashed in the wrong one finds
    * nothing, silently, which is exactly the failure the founding
    * check exists to make loud. */
  final case class PHashIndex private[ops] (banded: DataFrame, nBands: Int,
                                            decoder: String = Multimodal.StubDecoder) {
    /** The (bucket_size → n_buckets) histogram, collected ONCE per index
      * instance and memoized (round-12 advice: the probe-time hot-bucket
      * check was an eager full-store aggregation per call — in a gate
      * sink that is one extra Spark job per microbatch; the store is
      * probe-only within an instance's lifetime, so the census cannot go
      * stale). Driver-side size is the number of DISTINCT bucket sizes —
      * bounded small. */
    private[ops] lazy val sizeHistogram: Map[Long, Long] =
      StandingStore.bucketSizes(banded, StandingStore.PHash.bucketKeys: _*)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    /** Buckets larger than `threshold`, answered from the memoized
      * histogram — no Spark job after the first call. */
    private[ops] def hotBuckets(threshold: Int): Long =
      sizeHistogram.collect { case (sz, n) if sz > threshold => n }.sum
  }

  /** Materialize a [[PHashIndex]] over the historical corpus: one
    * signature pass in the founding `decoder` space (scan stage),
    * `nBands` ~28-byte rows per payload — the store holds signatures,
    * never payloads. */
  def buildPHashIndex(history: DataFrame, idCol: String, payloadCol: String,
                      nBands: Int = 4, decoder: String = StubDecoder,
                      scope: CacheScope = CacheScope.noop): PHashIndex = {
    checkBandParams(nBands, 0)
    checkDecoder(decoder)
    PHashIndex(scope.track(withBands(
        pHashSigsOf(history, idCol, payloadCol, decoder, "_hid"), nBands)
      .cache()), nBands, decoder)
  }

  /** The diagnose half of the q136 diagnose-then-remediate loop for the
    * perceptual store (round-11 verdict #4): ONE advice row —
    * (n_buckets, max_bucket, n_hot_buckets, hot_row_frac, advice) —
    * against a hot-bucket threshold. Probe cost is quadratic in bucket
    * size, so the decision signal is how much of the store's band mass
    * sits in buckets above `hotBucketThreshold`:
    * `ok` (no hot buckets), `cap_probes` (hot buckets exist — probe
    * with `maxPerBucket`, [[incrementalPerceptualDupsWith]]), or
    * `tombstone_flood` (hot buckets carry over `hotMassFrac` of all
    * band rows — capping would blind most probes, so the flood itself
    * must leave: tombstone + [[StandingStore.compact]]). Unlike the IVF
    * family there is no refound rung: dHash banding is
    * content-determined — identical payloads collide under ANY band
    * count, so re-founding cannot rebalance what a flood floods. */
  def pHashIndexAdvice(index: PHashIndex, hotBucketThreshold: Int = 64,
                       hotMassFrac: Double = 0.05): DataFrame =
    bucketAdvice(StandingStore.bucketSizes(index.banded,
      StandingStore.PHash.bucketKeys: _*), hotBucketThreshold, hotMassFrac)

  /** [[pHashIndexAdvice]] for the FRAME store — same census, same
    * remediations (cap the probe / tombstone the flood), over the
    * (frame_idx, band, value) buckets, which a constant-frame corpus
    * floods FIRST. */
  def frameIndexAdvice(index: FrameIndex, hotBucketThreshold: Int = 64,
                       hotMassFrac: Double = 0.05): DataFrame =
    bucketAdvice(StandingStore.bucketSizes(index.banded,
      StandingStore.Frames.bucketKeys: _*), hotBucketThreshold, hotMassFrac)

  /** The advice row over a [[StandingStore.bucketSizes]] histogram; an
    * empty store has no buckets, hence none hot: `ok`. */
  private def bucketAdvice(hist: DataFrame, hotBucketThreshold: Int,
                           hotMassFrac: Double): DataFrame = {
    require(hotBucketThreshold >= 1, "hotBucketThreshold >= 1")
    val hot = col("bucket_size") > hotBucketThreshold
    val rows = col("bucket_size") * col("n_buckets")
    hist.agg(
        coalesce(sum(col("n_buckets")), lit(0L)).as("n_buckets"),
        max(col("bucket_size")).as("max_bucket"),
        coalesce(sum(when(hot, col("n_buckets")).otherwise(0L)), lit(0L))
          .as("n_hot_buckets"),
        (sum(when(hot, rows).otherwise(0L)) / sum(rows)).as("hot_row_frac"))
      .withColumn("advice",
        when(col("n_hot_buckets") === 0, lit("ok"))
          .when(col("hot_row_frac") > hotMassFrac, lit("tombstone_flood"))
          .otherwise(lit("cap_probes")))
  }

  /** Persist a [[PHashIndex]] (band table + founding params — band
    * count AND signature space) as parquet. */
  def savePHashIndex(index: PHashIndex, path: String): Unit = {
    val sess = index.banded.sparkSession
    import sess.implicits._
    index.banded.write.mode("overwrite").parquet(s"$path/pbands")
    Seq((index.nBands, index.decoder)).toDF("n_bands", "decoder")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Load a [[savePHashIndex]]'d store; pending deletions
    * ([[StandingStore.tombstone]]) are subtracted (broadcast anti-join).
    * A pre-round-13 store without a `decoder` params column loads as
    * stub-founded — the only space those stores were ever written in. */
  def loadPHashIndex(spark: SparkSession, path: String,
                     scope: CacheScope = CacheScope.noop): PHashIndex = {
    val (nBands, dec) = loadPHashIndexParams(spark, path)
    PHashIndex(StandingStore.live(spark, path, "pbands", scope), nBands, dec)
  }

  /** APPEND a newly-ingested batch to an on-disk store: signature the
    * batch in the STORED founding space, band it under the STORED band
    * count, and `mode("append")` — history is never rewritten, no
    * cross-batch union lineage accumulates. */
  def appendPHashIndex(spark: SparkSession, path: String,
                       batch: DataFrame, idCol: String, payloadCol: String): Unit = {
    val idx = loadPHashIndexParams(spark, path)
    StandingStore.append(spark, path, batch, idCol)("pbands" ->
      withBands(pHashSigsOf(batch, idCol, payloadCol, idx._2, "_hid"), idx._1))
  }

  /** (nBands, decoder) of an on-disk store without loading its bands;
    * a pre-round-13 store without a `decoder` column reads stub — the
    * only space those stores were ever written in. */
  private def loadPHashIndexParams(spark: SparkSession, path: String): (Int, String) = {
    val p = StandingStore.params(spark, path)
    (p.getAs[Int]("n_bands"), storedDecoder(p))
  }

  /** A params row's signature space; a pre-round-13 row without a
    * `decoder` column reads stub. */
  private def storedDecoder(p: Row): String =
    if (p.schema.fieldNames.contains("decoder")) p.getAs[String]("decoder")
    else StubDecoder

  /** Incremental perceptual near-dup probe against a standing
    * [[PHashIndex]] — the binary-column member of the daily-loop family
    * ([[Dedup.incrementalNearDupsWith]], [[Similarity
    * .incrementalEmbedNearDupsWith]]): for each batch payload, its best
    * store match (lowest Hamming distance, ties to the lowest store id)
    * within `maxDist`; clean payloads produce no row.
    *
    * `multiProbe` widens each batch row's probe keys to every Hamming-1
    * NEIGHBOR of each band value (64/nBands extra keys per band — the
    * q174 recall knob): a true near-dup hidden because every band
    * carries at least one differing bit is recovered at bounded extra
    * candidate cost, and the STORE never re-buckets — the explode is
    * batch-side only.
    *
    * `maxPerBucket` is the probe-time HOT-BUCKET remediation the
    * [[StandingStore.bucketSizes]] diagnostic calls for (the q136
    * diagnose-then-remediate loop, round-11 verdict #4): when > 0,
    * each store (band, value) bucket is capped at its `maxPerBucket`
    * lowest history ids before the join, so a constant-payload flood
    * in HISTORY (black frames accumulated over months of ingest)
    * cannot make every probe against that bucket quadratic. The cap
    * binding is LOUD — one warning naming the hot-bucket count and the
    * durable remediations (tombstone the flood, then
    * [[StandingStore.compact]]) — because a capped bucket can hide a true
    * best match: an explicit recall trade, never a silent one. The
    * check is one narrow aggregate over the (cached) band store.
    * Returns (idCol, hist_id, dist). */
  def incrementalPerceptualDupsWith(batch: DataFrame, index: PHashIndex,
                                    idCol: String, payloadCol: String,
                                    maxDist: Int = 6,
                                    multiProbe: Boolean = false,
                                    maxPerBucket: Int = 0): DataFrame = {
    checkBandParams(index.nBands, maxDist)
    if (maxPerBucket > 0) {
      // answered from the index's memoized histogram — one census job
      // per index INSTANCE, not per probe call (round-12 advice: a gate
      // sink probes every microbatch; the store is probe-only, so the
      // census cannot go stale within the instance's lifetime)
      val hot = index.hotBuckets(maxPerBucket)
      if (hot > 0) System.err.println(
        s"[graft] phash probe: $hot store bucket(s) exceed maxPerBucket=" +
          s"$maxPerBucket and are capped to their lowest ids — matches " +
          "inside the overflow are NOT probed; tombstone the flooding " +
          "payloads and compact the store to remediate durably")
    }
    val store = capBuckets(index.banded, Seq("_b", "_v"), Seq("_hid"), maxPerBucket)
    val bandBits = 64 / index.nBands
    // the batch is hashed in the store's FOUNDING signature space — a
    // stub-space probe against a decoded-space store (or vice versa)
    // would silently find nothing
    val base = withBands(
      pHashSigsOf(batch, idCol, payloadCol, index.decoder, "_nid"), index.nBands)
      .withColumnRenamed("_sig", "_nsig")
    val probed =
      if (!multiProbe) base
      else {
        val probes = (lit(0L) +: (0 until bandBits).map(k => lit(1L << k)))
          .map(m => col("_v").bitwiseXOR(m))
        base.select(col("_nid"), col("_nsig"), col("_b"),
          explode(array(probes: _*)).as("_pv"))
          .drop("_v").withColumnRenamed("_pv", "_v")
      }
    probed
      .join(store.select(col("_b"), col("_v"), col("_hid"),
        col("_sig").as("_hsig")), Seq("_b", "_v"))
      .select(col("_nid"), col("_hid"),
        dHashDistance(col("_nsig"), col("_hsig")).as("_dist"))
      .filter(col("_dist") <= maxDist)
      .groupBy(col("_nid"))
      .agg(min_by(struct(col("_hid"), col("_dist")),
        struct(col("_dist"), col("_hid"))).as("_best"))
      .select(col("_nid").as(idCol), col("_best._hid").as("hist_id"),
        col("_best._dist").as("dist"))
  }

  /** Standing FRAME-signature index — the VIDEO rung's daily loop:
    * the aligned-frame band store MATERIALIZED ([[frameDupPairs]]'
    * candidate geometry as a standing table), so daily clip ingest
    * bands only the BATCH. FOUR founding constants — `nBands` plus the
    * whole sampling geometry (frameBytes, stride, maxFrames) — because
    * frame indices are only comparable between clips sampled the same
    * way; a probe sampled differently would align frame 2 against a
    * different byte range and the store cannot answer it. The `decoder`
    * (round-12 verdict #1) is the FIFTH founding constant — the
    * signature space frames are hashed in (`stub` byte windows, `wav`
    * PCM-sample windows, `imageio` decoded keyframes; for `imageio`
    * the byte-window geometry does not apply — container frames carry
    * their own boundaries — so `frameBytes`/`stride` are recorded but
    * inert). */
  final case class FrameIndex private[ops] (banded: DataFrame, nBands: Int,
                                            frameBytes: Int, stride: Int,
                                            maxFrames: Int,
                                            decoder: String = Multimodal.StubDecoder) {
    /** (bucket_size → n_buckets) over the (frame_idx, band, value)
      * buckets, collected once per instance — [[PHashIndex.sizeHistogram]]'s
      * frame twin, same probe-only staleness argument. */
    private[ops] lazy val sizeHistogram: Map[Long, Long] =
      StandingStore.bucketSizes(banded, StandingStore.Frames.bucketKeys: _*)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    private[ops] def hotBuckets(threshold: Int): Long =
      sizeHistogram.collect { case (sz, n) if sz > threshold => n }.sum
  }

  /** (as, _fi, _sig) frame signatures in the named signature space —
    * the dispatch every [[FrameIndex]] path runs through. `stub` windows
    * the raw payload bytes; `wav` windows the RIFF-extracted PCM
    * samples ([[graft.functions.WavPcm]] — a non-WAV payload extracts
    * empty and yields no frames); `imageio` splits a length-prefixed
    * keyframe container and decodes each frame (byte-window geometry
    * does not apply — frames carry their own boundaries). */
  private def frameSigsOf(df: DataFrame, idCol: String, payloadCol: String,
                          frameBytes: Int, stride: Int, maxFrames: Int,
                          as: String,
                          decoder: String = StubDecoder): DataFrame = {
    checkDecoder(decoder)
    decoder match {
      case ImageioDecoder => imageFrameSigs(df, idCol, payloadCol, maxFrames, as)
      case _ =>
        val src = if (decoder == WavDecoder)
          graft.functions.WavPcm.wavPcm(col(payloadCol)) else col(payloadCol)
        df.select(col(idCol).as(as),
            explode(sampleFrames(src, frameBytes, stride, maxFrames)).as("_f"))
          .select(col(as), col("_f.frame_idx").as("_fi"),
            dHash(col("_f.frame")).as("_sig"))
    }
  }

  /** Materialize a [[FrameIndex]] over the historical clip corpus: one
    * sampling+hash pass (scan stage), `maxFrames × nBands` ~32-byte
    * rows per clip — the store holds frame signatures, never frames. */
  def buildFrameIndex(history: DataFrame, idCol: String, payloadCol: String,
                      frameBytes: Int = 128, stride: Int = 128,
                      maxFrames: Int = 8, nBands: Int = 4,
                      decoder: String = StubDecoder,
                      scope: CacheScope = CacheScope.noop): FrameIndex = {
    checkBandParams(nBands, 0)
    checkDecoder(decoder)
    require(frameBytes > 0 && stride > 0 && maxFrames > 0, "positive frame params")
    FrameIndex(scope.track(withBands(Parallelize.ensure(
        frameSigsOf(history, idCol, payloadCol, frameBytes, stride, maxFrames,
          "_hid", decoder)), nBands).cache()),
      nBands, frameBytes, stride, maxFrames, decoder)
  }

  /** Persist a [[FrameIndex]] (band table + the five founding params). */
  def saveFrameIndex(index: FrameIndex, path: String): Unit = {
    val sess = index.banded.sparkSession
    import sess.implicits._
    index.banded.write.mode("overwrite").parquet(s"$path/fbands")
    Seq((index.nBands, index.frameBytes, index.stride, index.maxFrames,
        index.decoder))
      .toDF("n_bands", "frame_bytes", "stride", "max_frames", "decoder")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** The five founding params of an on-disk frame store (a pre-round-13
    * store without a `decoder` column reads stub — the only space those
    * stores were written in; same rule as [[loadPHashIndexParams]]). */
  private def loadFrameIndexParams(spark: SparkSession, path: String)
      : (Int, Int, Int, Int, String) = {
    val p = StandingStore.params(spark, path)
    (p.getAs[Int]("n_bands"), p.getAs[Int]("frame_bytes"),
      p.getAs[Int]("stride"), p.getAs[Int]("max_frames"), storedDecoder(p))
  }

  /** Load a [[saveFrameIndex]]'d store; pending tombstones subtracted. */
  def loadFrameIndex(spark: SparkSession, path: String,
                     scope: CacheScope = CacheScope.noop): FrameIndex = {
    val (nBands, fb, st, mf, dec) = loadFrameIndexParams(spark, path)
    FrameIndex(StandingStore.live(spark, path, "fbands", scope),
      nBands, fb, st, mf, dec)
  }

  /** APPEND a newly-ingested clip batch under the STORED geometry and
    * signature space — history never rewritten, `mode("append")`. */
  def appendFrameIndex(spark: SparkSession, path: String,
                       batch: DataFrame, idCol: String, payloadCol: String): Unit = {
    val (nBands, fb, st, mf, dec) = loadFrameIndexParams(spark, path)
    StandingStore.append(spark, path, batch, idCol)("fbands" ->
      withBands(Parallelize.ensure(frameSigsOf(batch, idCol, payloadCol,
        fb, st, mf, "_hid", dec)), nBands))
  }

  /** Incremental frame-aligned probe against a standing [[FrameIndex]]
    * — the daily video-ingest loop: each batch clip sampled+hashed
    * under the STORED geometry, aligned (frame_idx, band, value)
    * equi-join against the store, matched frames (Hamming ≤ `maxDist`)
    * counted per (batch, history) pair, pairs below `minMatchedFrames`
    * dropped, then ONE best history clip per batch id (most matched
    * frames, ties to closest then lowest id). Clean clips produce no
    * row. `maxPerBucket` is the probe-time hot-bucket cap
    * ([[incrementalPerceptualDupsWith]]'s discipline — binding is
    * loud, an explicit recall trade). `multiProbe` widens each frame's
    * band keys to their Hamming-1 neighbors (64/nBands extra keys per
    * band, batch-side explode only — the store never re-buckets): the
    * q174 recall knob for clips whose every band carries a differing
    * bit. Returns (idCol, hist_id, n_matched, min_dist). */
  def incrementalFrameDupsWith(batch: DataFrame, index: FrameIndex,
                               idCol: String, payloadCol: String,
                               maxDist: Int = 2, minMatchedFrames: Int = 3,
                               maxPerBucket: Int = 0,
                               multiProbe: Boolean = false): DataFrame = {
    checkBandParams(index.nBands, maxDist)
    require(minMatchedFrames >= 1, "minMatchedFrames >= 1")
    if (maxPerBucket > 0) {
      // memoized census — one job per index instance, not per probe
      val hot = index.hotBuckets(maxPerBucket)
      if (hot > 0) System.err.println(
        s"[graft] frame probe: $hot store bucket(s) exceed maxPerBucket=" +
          s"$maxPerBucket and are capped to their lowest ids — matches " +
          "inside the overflow are NOT probed; tombstone the flooding " +
          "clips and compact the store to remediate durably")
    }
    val store = capBuckets(index.banded, Seq("_fi", "_b", "_v"), Seq("_hid"),
      maxPerBucket)
    // sampled + hashed under the STORED founding geometry AND space
    val probe = withBands(Parallelize.ensure(frameSigsOf(batch, idCol,
        payloadCol, index.frameBytes, index.stride, index.maxFrames, "_nid",
        index.decoder)),
      index.nBands).withColumnRenamed("_sig", "_nsig")
    val probed =
      if (!multiProbe) probe
      else {
        val bandBits = 64 / index.nBands
        val probes = (lit(0L) +: (0 until bandBits).map(k => lit(1L << k)))
          .map(m => col("_v").bitwiseXOR(m))
        probe.select(col("_nid"), col("_fi"), col("_nsig"), col("_b"),
          explode(array(probes: _*)).as("_pv"))
          .withColumnRenamed("_pv", "_v")
      }
    probed
      .join(store.select(col("_fi"), col("_b"), col("_v"), col("_hid"),
        col("_sig").as("_hsig")), Seq("_fi", "_b", "_v"))
      .select(col("_nid"), col("_hid"), col("_fi"),
        dHashDistance(col("_nsig"), col("_hsig")).as("_d"))
      .distinct()
      .filter(col("_d") <= maxDist)
      .groupBy(col("_nid"), col("_hid"))
      .agg(count(lit(1)).as("n_matched"), min(col("_d")).as("min_dist"))
      .filter(col("n_matched") >= minMatchedFrames)
      .groupBy(col("_nid"))
      .agg(min_by(struct(col("_hid"), col("n_matched"), col("min_dist")),
        struct(negate(col("n_matched")), col("min_dist"), col("_hid"))).as("_best"))
      .select(col("_nid").as(idCol), col("_best._hid").as("hist_id"),
        col("_best.n_matched").as("n_matched"),
        col("_best.min_dist").as("min_dist"))
  }

  final case class MediaFeature(id: Long, width: Int, height: Int, channels: Int, brightness: Double)

  /** STUB decoder — deterministic fake deriving pseudo-dimensions from the
    * payload bytes. Replace with a real image decode; the signature (bytes →
    * features) and the partition-batched driver below are the real contract. */
  def decodeStub(id: Long, payload: Array[Byte]): MediaFeature = {
    val len = payload.length
    val sum = payload.foldLeft(0L)((a, b) => a + (b & 0xff))
    MediaFeature(id, width = 64 + len % 577, height = 64 + (len * 31) % 577,
      channels = 3, brightness = (sum % 256).toDouble / 255.0)
  }

  /** Feature extraction over the payloads, batched per partition (the shape
    * a vectorized/pandas-style UDF would take): one decoder instance per
    * partition, records streamed through it. The stub flavor — see
    * [[extractImageFeatures]] for the REAL decoder behind the same
    * contract. */
  def extractFeatures(packed: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition setup would initialize the real codec here
        it.map { case (id, bytes) => decodeStub(id, bytes) }
      }
      .toDF()
  }

  final case class WavFeature(id: Long, valid: Boolean, sample_rate: Int,
                              channels: Int, bits_per_sample: Int,
                              n_samples: Long, duration_sec: Double,
                              mean_amp: Double)

  /** [[extractFeatures]] for AUDIO — the third modality's feature rung:
    * fmt-chunk facts (sample rate, channels, bit depth), the sample
    * count (data length / frame size, truncation-clamped), the duration
    * they imply, and the mean amplitude (mean PCM byte / 255 — EXACT
    * for the 8-bit-mono corpus shape, a byte-level envelope proxy for
    * wider samples). Payloads that aren't well-formed WAVE keep their
    * row with `valid = false` (the audit shape, `extractImageFeatures`'s
    * discipline). Same contract: row-local work beside the scan, only
    * ~50-byte feature rows leave. */
  def extractWavFeatures(packed: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          graft.functions.WavPcm.info(bytes) match {
            case Some(i) =>
              val frameBytes = math.max(1, i.channels * (i.bitsPerSample / 8))
              val n = i.dataLen / frameBytes
              // ONE container walk (info carries the data span), mean
              // summed in place over the original array — no PCM copy
              var sum = 0L; var j = i.dataOff
              val end = i.dataOff + i.dataLen
              while (j < end) { sum += (bytes(j) & 0xff); j += 1 }
              val mean =
                if (i.dataLen == 0) 0.0
                else sum.toDouble / i.dataLen / 255.0
              WavFeature(id, valid = true, i.sampleRate, i.channels,
                i.bitsPerSample, n,
                if (i.sampleRate > 0) n.toDouble / i.sampleRate else 0.0, mean)
            case None =>
              WavFeature(id, valid = false, 0, 0, 0, 0L, 0.0, -1.0)
          }
        }
      }
      .toDF()
  }

  final case class WavQuality(id: Long, valid: Boolean, n_samples: Long,
                              clip_frac: Double, silence_frac: Double,
                              keep: Boolean)

  /** Audio quality gate — the Gopher-gate analogue for the third
    * modality: per recording, the fraction of samples pinned to the
    * 8-bit rails (0/255 — CLIPPING: a too-hot capture or a broken
    * gain stage) and the fraction within `silenceTol` of the unsigned
    * midpoint 128 (DIGITAL SILENCE: dead mics, padding, failed
    * transfers that zero-fill). `keep` applies both thresholds.
    * Validity is the SAME contract [[extractWavFeatures]] audits
    * ([[graft.functions.WavPcm.info]] — a well-formed container
    * carrying fmt + data), so the two audit rungs can never contradict
    * each other on one payload; an invalid payload audits
    * `valid = false, keep = false` with -1 fracs (the
    * extractImageFeatures discipline), and a valid but EMPTY recording
    * (zero data bytes) audits `valid = true, keep = false` with 0.0
    * fracs — nothing to train on, nothing to divide by.
    *
    * Counts are exact integers; fracs their IEEE quotients (the q98
    * no-rounding rule, so the DuckDB oracle replays them bit-for-bit).
    * Row-local — ZERO shuffles, rides a column-pruned scan; at 100 TB
    * this is the cheap first rung that keeps dead air out of the
    * expensive perceptual passes. Sample counting is byte-level
    * (exact for the 8-bit-mono corpus shape; a byte-level proxy for
    * wider samples, same convention as [[extractWavFeatures]]). */
  def wavQualityGate(packed: DataFrame, idCol: String = "doc_id",
                     maxClipFrac: Double = 0.2, maxSilenceFrac: Double = 0.5,
                     silenceTol: Int = 2): DataFrame = {
    require(silenceTol >= 0, "silenceTol >= 0")
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          graft.functions.WavPcm.info(bytes) match {
            case None =>
              WavQuality(id, valid = false, 0L, -1.0, -1.0, keep = false)
            case Some(i) if i.dataLen == 0 =>
              WavQuality(id, valid = true, 0L, 0.0, 0.0, keep = false)
            case Some(i) =>
              // counted in place over the data span — no PCM copy
              var clip = 0L; var sil = 0L; var j = i.dataOff
              val end = i.dataOff + i.dataLen
              while (j < end) {
                val v = bytes(j) & 0xff
                if (v == 0 || v == 255) clip += 1
                if (math.abs(v - 128) <= silenceTol) sil += 1
                j += 1
              }
              val cf = clip.toDouble / i.dataLen
              val sf = sil.toDouble / i.dataLen
              WavQuality(id, valid = true, i.dataLen.toLong, cf, sf,
                keep = cf <= maxClipFrac && sf <= maxSilenceFrac)
          }
        }
      }
      .toDF()
  }

  final case class SceneChunk(id: Long, scene_idx: Int, start_frame: Int,
                              end_frame: Int, chunk: Array[Byte])

  /** Scene-boundary chunk extraction — [[sceneSegments]] made
    * ACTIONABLE: slice each clip's byte stream at its scene boundaries
    * and emit one binary chunk per scene, the media analogue of text
    * chunking (store scenes once, dedup re-cut compilations at the
    * scene level, caption per scene). Byte-window spaces only
    * (`stub` raw bytes / `wav` RIFF-extracted PCM): `imageio`
    * containers carry their own frame boundaries — [[splitImageFrames]]
    * already IS their chunker — so restating it here fails loudly.
    *
    * Chunk f spans bytes [start·stride, end·stride + frameBytes) of the
    * (extracted) stream — with stride == frameBytes that tiles the
    * sampled window exactly, and a trailing partial frame stays
    * unchunked (the sampling geometry's contract). Scale shape: one
    * clip's chunks derive from ONE row, so this is a row-local flatMap
    * (frame hashes computed in place via the same [[dHash]] arithmetic
    * — spec-pinned ≡ [[sceneSegments]]' spans): ZERO shuffles, and
    * chunk bytes are emitted once, never joined. Returns (id,
    * scene_idx, start_frame, end_frame, chunk). */
  def sceneChunks(df: DataFrame, idCol: String, payloadCol: String,
                  frameBytes: Int = 128, stride: Int = 128,
                  maxFrames: Int = 8, cutThreshold: Int = 10,
                  decoder: String = StubDecoder): DataFrame = {
    checkDecoder(decoder)
    require(decoder != ImageioDecoder,
      "sceneChunks slices byte-window spaces (stub/wav); imageio frames " +
        "carry their own boundaries — splitImageFrames is their chunker")
    require(frameBytes > 0 && stride > 0 && maxFrames > 0, "positive frame params")
    require(cutThreshold >= 0 && cutThreshold <= 64,
      s"cutThreshold in [0,64], got $cutThreshold")
    requireIntegralId(df, idCol, "sceneChunks")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val src =
          if (decoder == WavDecoder) graft.functions.WavPcm.extract(bytes)
          else if (bytes == null) Array.emptyByteArray
          else bytes
        val n = src.length
        val nf = if (n >= frameBytes)
          math.min((n - frameBytes) / stride + 1, maxFrames) else 0
        val sigs = Array.tabulate(nf)(f => graft.functions.DHash64.hash(
          java.util.Arrays.copyOfRange(src, f * stride, f * stride + frameBytes)))
        val out = Seq.newBuilder[SceneChunk]
        var scene = -1; var start = 0
        def emit(endF: Int): Unit =
          out += SceneChunk(id, scene, start, endF,
            java.util.Arrays.copyOfRange(src, start * stride,
              endF * stride + frameBytes))
        var f = 0
        while (f < nf) {
          if (f == 0 ||
              java.lang.Long.bitCount(sigs(f) ^ sigs(f - 1)) > cutThreshold) {
            if (f > 0) emit(f - 1)
            scene += 1; start = f
          }
          f += 1
        }
        if (nf > 0) emit(nf - 1)
        out.result()
      }
      .toDF()
      .withColumnRenamed("id", idCol)
  }

  /** The typed row-local rungs ([[sceneChunks]], [[wavUtterances]])
    * encode ids as Long — a string id would cast to NULL and crash the
    * encoder mid-job with an unhelpful message, so refuse it loudly up
    * front (their window-based siblings keep the id type as-is). */
  private[ops] def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(dt == LongType || dt == IntegerType || dt == ShortType,
      s"$op needs an integral $idCol (its row-local encoder carries " +
        s"Long ids); got $dt — sceneSegments/storyboard keep arbitrary id types")
  }

  final case class Utterance(id: Long, utter_idx: Int, start_frame: Int,
                             end_frame: Int, n_frames: Long)

  /** Silence-run utterance segmentation — [[sceneSegments]]' audio twin
    * with the cut criterion inverted: frames classify SILENT when the
    * fraction of PCM samples within `silenceTol` of the 8-bit midpoint
    * reaches `minSilentFrac`, and utterances are the maximal NON-silent
    * frame runs — VAD's deterministic little sibling, the
    * pre-transcription split every speech corpus runs before chunking
    * audio for training. Not-a-WAV payloads extract empty and yield no
    * rows ([[graft.functions.WavPcm]]'s RIFF walk).
    *
    * Scale shape: unlike sceneSegments (whose signature spaces need the
    * generalized frame table + window), one clip's utterances derive
    * from ONE row — so this runs as a row-local flatMap counting in
    * place over the extracted PCM span: ZERO shuffles, no window, no
    * per-frame rows ever materialize, and the output is at most
    * ⌈maxFrames/2⌉ span rows per clip. Returns (id, utter_idx,
    * start_frame, end_frame, n_frames). */
  def wavUtterances(df: DataFrame, idCol: String, payloadCol: String,
                    frameBytes: Int = 160, stride: Int = 160,
                    maxFrames: Int = 8, silenceTol: Int = 2,
                    minSilentFrac: Double = 0.9): DataFrame = {
    require(frameBytes > 0 && stride > 0 && maxFrames > 0, "positive frame params")
    require(silenceTol >= 0 && silenceTol <= 127,
      s"silenceTol in [0,127], got $silenceTol")
    require(minSilentFrac > 0.0 && minSilentFrac <= 1.0,
      s"minSilentFrac in (0,1], got $minSilentFrac")
    requireIntegralId(df, idCol, "wavUtterances")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val pcm = graft.functions.WavPcm.extract(bytes)
        val n = pcm.length
        val nf = if (n >= frameBytes)
          math.min((n - frameBytes) / stride + 1, maxFrames) else 0
        val out = Seq.newBuilder[Utterance]
        var utter = -1; var start = -1; var prevSilent = true
        var f = 0
        while (f < nf) {
          var s = 0; var j = f * stride; val end = j + frameBytes
          while (j < end) {
            if (math.abs((pcm(j) & 0xff) - 128) <= silenceTol) s += 1
            j += 1
          }
          val silent = s.toDouble / frameBytes >= minSilentFrac
          if (!silent && prevSilent) { utter += 1; start = f }
          if (silent && !prevSilent)
            out += Utterance(id, utter, start, f - 1, (f - start).toLong)
          prevSilent = silent
          f += 1
        }
        if (!prevSilent)
          out += Utterance(id, utter, start, nf - 1, (nf - start).toLong)
        out.result()
      }
      .toDF()
      .withColumnRenamed("id", idCol)
  }

  final case class ImageFeature(id: Long, decoded: Boolean, width: Int,
                                height: Int, channels: Int, brightness: Double)

  /** [[extractFeatures]] with the decode step REAL ([[decodeImage]] —
    * javax.imageio, no new jars): true dimensions, channel count and
    * mean-luma brightness per payload. Undecodable payloads keep their
    * row with `decoded = false` (the audit shape — a pairing pipeline
    * filters, a data doctor counts). Same mapPartitions contract: one
    * reader setup per partition, only ~40-byte feature rows leave. */
  def extractImageFeatures(packed: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          decodeImage(bytes) match {
            case Some(d) =>
              val mean =
                if (d.luma.isEmpty) 0.0
                else d.luma.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble /
                  d.luma.length / 255.0
              ImageFeature(id, decoded = true, d.width, d.height, d.channels, mean)
            case None => ImageFeature(id, decoded = false, 0, 0, 0, -1.0)
          }
        }
      }
      .toDF()
  }

  /** Cross-modal consistency audit — the paired image↔caption dedup
    * verdict table every multimodal training corpus runs (the
    * LAION-style curation step): content identity on BOTH sides of the
    * pair, because the duplication classes need different remedies.
    * Image identity = the whole-payload signature in the founding
    * `decoder` space; caption identity = the whitespace-normalized
    * [[TextAnalysis.fingerprint]]. Per pair row:
    *
    *   - `exact_dup`       same (image, caption) appears > 1× — drop all
    *                       but one, pure redundancy;
    *   - `recaptioned`     the image also ships under OTHER captions —
    *                       keep one caption or the model memorizes the
    *                       image with contradictory supervision;
    *   - `stock_caption`   the caption also ships under OTHER images
    *                       ("image may contain...", alt-text boilerplate)
    *                       — a caption-quality signal, not an image one;
    *   - `ok`              both sides unique.
    *
    * Scale shape: three COUNT-shaped aggregations over 8/16-byte keys
    * (signature, fingerprint, and the pair) joined back to the narrow
    * (id, sig, cfp) rows — counts only, never pair enumeration, so a
    * million-row stock-caption flood costs one hash-agg bucket, not a
    * quadratic join. Payloads the non-stub spaces cannot decode DROP
    * (the [[perceptualDupPairsDecoded]] discipline — run
    * [[payloadIntegrity]] first to find them). Returns (idCol, n_exact,
    * n_captions_for_image, n_images_for_caption, verdict). */
  def crossModalDupAudit(df: DataFrame, idCol: String, payloadCol: String,
                         captionCol: String,
                         decoder: String = StubDecoder,
                         scope: CacheScope = CacheScope.noop): DataFrame = {
    val sig = pHashSigsOf(df, idCol, payloadCol, decoder, "_id")
    val cap = df.select(col(idCol).as("_id"),
      TextAnalysis.fingerprint(col(captionCol)).as("_cfp"))
    // cached: the narrow (id, sig, cfp) frame feeds THREE aggregations
    // plus the final join — without the cache each branch would re-scan
    // (and, under imageio/wav, re-decode) every payload
    val rows = scope.track(sig.join(cap, Seq("_id")).cache())
    // a NULL on either side of the pair can never equi-join into the
    // count groups — it would vanish from the audit silently. Surface
    // it as 'missing' instead (the payloadIntegrity discipline: a null
    // never falls through to a healthy verdict). In the stub space a
    // NULL payload or caption lands here; the decoded spaces DROP
    // undecodable payloads before this point (documented above).
    val missing = rows.filter(col("_sig").isNull || col("_cfp").isNull)
      .select(col("_id").as(idCol), lit(0L).as("n_exact"),
        lit(0L).as("n_captions_for_image"),
        lit(0L).as("n_images_for_caption"), lit("missing").as("verdict"))
    val good = rows.filter(col("_sig").isNotNull && col("_cfp").isNotNull)
    val img = good.groupBy(col("_sig"))
      .agg(countDistinct(col("_cfp")).as("n_captions_for_image"))
    val capg = good.groupBy(col("_cfp"))
      .agg(countDistinct(col("_sig")).as("n_images_for_caption"))
    val pair = good.groupBy(col("_sig"), col("_cfp"))
      .agg(count(lit(1)).as("n_exact"))
    good.join(img, Seq("_sig")).join(capg, Seq("_cfp"))
      .join(pair, Seq("_sig", "_cfp"))
      .select(col("_id").as(idCol), col("n_exact"),
        col("n_captions_for_image"), col("n_images_for_caption"),
        when(col("n_exact") > 1, "exact_dup")
          .when(col("n_captions_for_image") > 1, "recaptioned")
          .when(col("n_images_for_caption") > 1, "stock_caption")
          .otherwise("ok").as("verdict"))
      .unionByName(missing)
  }

  final case class ResizedImage(id: Long, valid: Boolean, resized: Boolean,
                                width: Int, height: Int, payload: Array[Byte])

  /** Thumbnail / resize rung — the last of the brief's multimodal
    * plumbing quartet (decode / feature-extract / RESIZE /
    * frame-sample), and the rung a 100-TB image corpus runs before
    * anything else: training pipelines consume bounded-resolution
    * inputs, and shipping original 4K payloads through every
    * downstream pass wastes 10–100× the bytes.
    *
    * Fits each decodable payload inside (maxW, maxH) PRESERVING aspect
    * ratio, bilinear interpolation, and NEVER upscales: an
    * already-fitting payload passes through VERBATIM (original encoded
    * bytes, zero re-encode cost or quality loss — the common case once
    * a corpus has been bounded before). Resized payloads re-encode in
    * `format` (png/bmp — the JDK's LOSSLESS writers, so the operation
    * is deterministic and idempotent; lossy JPEG would re-degrade on
    * every pass). Undecodables keep their row with `valid = false` and
    * a NULL payload (the audit shape).
    *
    * Scale shape: row-local mapPartitions (one ImageIO context per
    * partition, never per row), ZERO shuffles — decode, scale and
    * re-encode all run inside the scan stage's task, and the output
    * bytes are bounded by maxW·maxH·3 per row regardless of input
    * size, so every downstream stage moves less data than this one
    * read. */
  def resizeImages(packed: DataFrame, idCol: String = "doc_id",
                   maxW: Int = 256, maxH: Int = 256,
                   format: String = "png"): DataFrame = {
    require(maxW > 0 && maxH > 0, s"positive bounds, got ${maxW}x$maxH")
    require(Seq("png", "bmp").contains(format),
      s"format must be png or bmp (lossless, idempotent), got '$format'")
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img =
            if (bytes == null || bytes.isEmpty) None
            else try {
              Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes)))
            } catch { case scala.util.control.NonFatal(_) => None }
          img match {
            case None => ResizedImage(id, valid = false, resized = false,
              0, 0, null)
            case Some(src) =>
              val (w, h) = (src.getWidth, src.getHeight)
              if (w <= maxW && h <= maxH)
                ResizedImage(id, valid = true, resized = false, w, h, bytes)
              else {
                val scale = math.min(maxW.toDouble / w, maxH.toDouble / h)
                val nw = math.max(1, math.floor(w * scale).toInt)
                val nh = math.max(1, math.floor(h * scale).toInt)
                // an alpha-bearing source keeps its alpha channel —
                // rendering RGBA onto an opaque RGB canvas would turn
                // every transparent region black, which is exactly the
                // quality loss the lossless contract rules out (PNG
                // round-trips ARGB; BMP sources never carry alpha)
                val dstType =
                  if (src.getColorModel.hasAlpha)
                    java.awt.image.BufferedImage.TYPE_INT_ARGB
                  else java.awt.image.BufferedImage.TYPE_INT_RGB
                val dst = new java.awt.image.BufferedImage(nw, nh, dstType)
                val g = dst.createGraphics()
                g.setRenderingHint(
                  java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(src, 0, 0, nw, nh, null)
                g.dispose()
                val out = new java.io.ByteArrayOutputStream()
                // ImageIO.write returns FALSE when no writer accepts the
                // image (the JDK BMP writer rejects TYPE_INT_ARGB) — the
                // round-13 advice hole: the row came back valid=true with
                // an EMPTY payload, silent corruption in the thumbnail
                // rung. A refused or throwing encode now audits as an
                // invalid row instead.
                val ok =
                  try javax.imageio.ImageIO.write(dst, format, out)
                  catch { case scala.util.control.NonFatal(_) => false }
                if (ok)
                  ResizedImage(id, valid = true, resized = true, nw, nh,
                    out.toByteArray)
                else
                  ResizedImage(id, valid = false, resized = false, 0, 0, null)
              }
          }
        }
      }
      .toDF()
  }
}
