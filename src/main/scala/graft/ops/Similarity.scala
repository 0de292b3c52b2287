package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`Array[Float]`), with a brute-force cosine baseline and an LSH-bucketed
  * scale path.
  *
  * Scale shape: brute force is one broadcast of the query vectors + a
  * map-side score/top-k (no shuffle but O(n·q)); the random-hyperplane LSH
  * variant buckets both sides and only scores within matching buckets —
  * the standard recall/throughput trade at 100 TB.
  */
object Similarity {

  /** Codegen'd scalar loop (graft.functions.DotProduct) — same sequential
    * summation order as the interpreted zip_with/aggregate fold it replaced,
    * so results (and LSH bucket signs) are bit-identical. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  // nullif: a zero vector yields null similarity, not an ANSI DIVIDE_BY_ZERO
  def cosine(a: Column, b: Column): Column = dot(a, b) / nullif(norm(a) * norm(b), lit(0.0))

  /** Brute-force cosine top-k of `df` against one query vector (broadcast). */
  def topK(df: DataFrame, idCol: String, vecCol: String,
           query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    // fan out first: the per-row dot products are the cost here, and a
    // single-split input would run them on one core
    val e = Parallelize.ensure(df.select(col(idCol), col(vecCol).cast("array<double>").as("_v")))
    val q = query.select(col(queryVecCol).cast("array<double>").as("_q"))
    e.crossJoin(broadcast(q))
      .withColumn("_sim", cosine(col("_v"), col("_q")))
      .orderBy(col("_sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("_sim").as("sim"))
  }

  /** Element-wise mean of embedding vectors per group — chunk→document
    * pooling, per-class centroids, cluster summaries. ONE groupBy with
    * `dim` scalar `avg(element_at(...))` aggregates: map-side partials
    * combine before the single narrow shuffle on the group key, and the
    * plan stays in whole-stage codegen. The alternatives both fail at
    * scale — `posexplode` inflates the shuffle `dim`×, and
    * `collect_list`-then-average holds every vector of a group in one
    * task's memory. Vectors shorter than `dim` contribute nulls (ignored
    * per element, SQL avg semantics); the result is `array<double>`. */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    // try_element_at: a vector shorter than dim yields null for the
    // missing element (ANSI element_at would abort the whole job)
    val avgs = (0 until dim).map(i =>
      avg(try_element_at(col(vecCol), lit(i + 1)).cast("double")).as(s"_mp_$i"))
    df.groupBy(col(groupCol))
      .agg(avgs.head, avgs.tail: _*)
      .select(col(groupCol),
        array((0 until dim).map(i => col(s"_mp_$i")): _*).as("pooled"))
  }

  /** Per-query exact cosine top-k — [[topK]] generalized to a QUERY SET:
    * queries broadcast, similarities map-side in the corpus scan, ONE
    * shuffle for the per-query top-k window (|Q| partitions). The ground
    * truth every approximate rung ([[lshTopK]]/[[ivfTopK]]/[[pqTopK]]) is
    * measured against via [[recallAtK]]. */
  def exactTopK(df: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qIdCol: String, qVecCol: String,
                k: Int, maxQueries: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Parallelize.ensure(
      df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v")))
    val q = queries.select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<double>").as("_q"))
    // eval-scale bound ENFORCED (round-12 verdict #3 sweep): this is the
    // GROUND-TRUTH rung — corpus × |Q| exact cosines. A query set the
    // size of the corpus is the all-pairs blowup the approximate ladder
    // exists to avoid, so it fails loudly here; raise maxQueries only to
    // accept that bill deliberately. The check itself counts at most
    // maxQueries+1 rows (limit-then-count) so the guard never pays a
    // full second evaluation of an expensive query-side plan.
    val lim = math.min(maxQueries, Int.MaxValue - 1L).toInt
    require(q.limit(lim + 1).count() <= maxQueries,
      s"exactTopK is the eval-scale ground truth — the query set exceeds " +
        s"maxQueries=$maxQueries (corpus × |Q| exact cosines). Evaluate " +
        "on a query sample; raise maxQueries only to accept the " +
        "quadratic cost deliberately.")
    val w = Window.partitionBy(col("_qid")).orderBy(col("_sim").desc, col("_id"))
    e.crossJoin(broadcast(q))
      .filter(col("_id") =!= col("_qid"))
      .withColumn("_sim", cosine(col("_v"), col("_q")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_qid").as("query_id"), col("_id").as("vec_id"), col("_sim").as("sim"))
  }

  /** Johnson–Lindenstrauss random projection: `outDim` components, each
    * the dot product of the vector with a deterministic md5-derived
    * hyperplane ([[planeComponent]] — the same family [[lshBucket]] signs,
    * kept un-signed here). The cheap dimensionality-reduction front-end of
    * the ANN/clustering ladder: at 100 TB the projection runs row-local in
    * the scan stage (codegen'd [[graft.functions.VectorExprs.DotProduct]]
    * per component, no shuffle, no trained state to ship), and every
    * downstream distance on the 8–32-dim sketch costs `outDim/dim` of the
    * original FLOPs with JL-bounded distortion.
    *
    * `+ 0.0` normalizes a −0.0 projection (the engines agree on every
    * other bit: both sides sum left-associated from the same constants). */
  def randomProject(vec: Column, dim: Int, outDim: Int,
                    seed: String = "graft-rp"): Column = {
    require(outDim > 0 && dim > 0, s"dims must be positive, got $dim->$outDim")
    array((0 until outDim).map { p =>
      val plane = typedLit((0 until dim).map(j => planeComponent(p, j, seed)))
      dot(vec, plane) + lit(0.0)
    }: _*)
  }

  /** Recall@k of an approximate neighbor result against the exact one:
    * per query, the fraction of true top-k ids the approximate search
    * returned. The evaluation harness every ANN deployment needs before
    * trading recall for probe count — both inputs are (query, id) frames
    * from any rung of the ladder ([[lshTopK]], [[ivfTopK]], [[pqTopK]],
    * [[ivfPqTopK]] vs [[topK]]-per-query ground truth).
    *
    * Scale shape: ONE equi-join on narrow (query, id) keys, then a
    * per-query count — no vectors move. Division by the literal k is one
    * IEEE op, bit-exact across engines. */
  def recallAtK(approx: DataFrame, exact: DataFrame,
                qCol: String, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    exact.select(col(qCol), col(idCol))
      .join(approx.select(col(qCol), col(idCol), lit(1L).as("_hit")),
        Seq(qCol, idCol), "left")
      .groupBy(col(qCol))
      .agg(coalesce(sum(col("_hit")), lit(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / lit(k.toDouble))
  }

  /** NDCG gain table for rank i = 1..k: 1/log₂(i+1), plus their ordered
    * sum (the ideal DCG under binary relevance with k relevant items).
    * Computed ONCE on the driver and embedded as literals on both
    * engines — shortest-roundtrip decimal parsing reproduces the exact
    * double bits, so no runtime log() (and no libm variance) is in any
    * engine's hot path. */
  private[graft] def ndcgGains(k: Int): (Seq[Double], Double) = {
    val gains = (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
    (gains, gains.foldLeft(0.0)(_ + _))
  }

  /** Ranked-retrieval evaluation beside [[recallAtK]] — per query,
    * recall@k, MRR@k and NDCG@k of an approximate ANN result against the
    * exact top-k (binary relevance: membership in the true top-k):
    *  - `recall`: fraction of true neighbors the approx run returned;
    *  - `mrr`: reciprocal rank of the FIRST true neighbor in the approx
    *    ORDERING (1/rank — order-sensitivity recall can't see: an index
    *    that buries its one good hit at rank k scores 1/k, not 1);
    *  - `ndcg`: rank-discounted gain over all hits, normalized by the
    *    ideal ([[ndcgGains]] literals; round(6) absorbs the ≤k-term
    *    float-sum order).
    * The approx frame is ranked here by (`scoreCol`, id) — pass the
    * score the rung emits (`sim` desc for cosine rungs, `adist` asc for
    * ADC) so the eval sees exactly the ordering a consumer would.
    *
    * Scale shape: one |Q|-partition rank window over the (already
    * k-bounded) approx rows, one narrow (query, id) equi-join, one
    * per-query agg — no vectors move; the eval costs nothing next to
    * the searches it grades. Queries absent from `approx` don't emit a
    * row (an empty result set is visible as the missing query, not a
    * fabricated zero). */
  def rankedEval(approx: DataFrame, exact: DataFrame,
                 qCol: String, idCol: String,
                 scoreCol: String, ascending: Boolean, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val (gains, idcg) = ndcgGains(k)
    val ord = if (ascending) col(scoreCol).asc else col(scoreCol).desc
    val w = Window.partitionBy(col(qCol)).orderBy(ord, col(idCol))
    val ranked = approx.select(col(qCol), col(idCol), col(scoreCol))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
    val rel = exact.select(col(qCol), col(idCol)).withColumn("_rel", lit(1))
    ranked.join(rel, Seq(qCol, idCol), "left")
      .groupBy(col(qCol))
      .agg(
        coalesce(sum(col("_rel")), lit(0)).cast("long").as("n_hit"),
        (coalesce(sum(col("_rel")), lit(0)).cast("double") / lit(k.toDouble))
          .as("recall"),
        coalesce(max(when(col("_rel") === 1,
          lit(1.0) / col("_rk").cast("double"))), lit(0.0)).as("mrr"),
        round(coalesce(sum(when(col("_rel") === 1,
          element_at(typedLit(gains), col("_rk")))), lit(0.0)) / lit(idcg), 6)
          .as("ndcg"))
  }

  /** Max-abs symmetric quantization scale for an embedding: `levels /
    * max|v_i|` (null for the zero vector). The first step of any
    * int8/PQ compression pass over an embedding store. */
  def quantScale(vec: Column, levels: Int = 127): Column =
    lit(levels.toDouble) / nullif(array_max(transform(vec, x => abs(x))), lit(0.0))

  /** Quantize to integers with the EXACT-arithmetic rounding form
    * `floor(x·scale + 0.5)` — floor is bit-deterministic across engines,
    * where `round()`'s half-way tie rules differ (HALF_UP vs banker's).
    * Dequantize with `q / scale`; max abs error = 0.5/scale. */
  def quantizeMaxAbs(vec: Column, levels: Int = 127): Column = {
    val s = quantScale(vec, levels)
    transform(vec, x => floor(x * s + lit(0.5)).cast("long"))
  }

  /** Product quantization encode: split a dim-d vector into `m` sub-vectors
    * and encode each by the index of its nearest sub-codebook centroid
    * (squared-L2, first-min tie-break) — the memory layout behind IVF-PQ
    * ANN indexes: d floats become m small ints, and distance evaluation
    * against a query becomes m table lookups.
    *
    * Centroids here are md5-derived deterministic constants (the same
    * scheme as the LSH hyperplanes — engine-independent, RNG-free); a
    * production index trains them per sub-space with k-means exactly like
    * [[ivfTrain]] and substitutes the literal table. Row-local,
    * shuffle-free, one pass. Returns `array<int>` of length `m`. */
  def pqEncode(vec: Column, dim: Int, m: Int, k: Int, seed: String = "graft-pq"): Column = {
    require(dim % m == 0 && k > 1, "dim must split evenly into m sub-vectors")
    pqEncodeWith(vec, pqBookConst(dim, m, k, seed))
  }

  /** The md5-derived constant codebook as an m×k×(dim/m) literal table —
    * the default for [[pqEncode]]/[[pqTopK]]; [[pqTrain]] produces the
    * trained replacement. */
  def pqBookConst(dim: Int, m: Int, k: Int, seed: String = "graft-pq"): Seq[Seq[Seq[Double]]] = {
    val sd = dim / m
    (0 until m).map(s => (0 until k).map(c => (0 until sd).map(j => pqCentroid(s, c, j, seed))))
  }

  /** PQ encode against an EXPLICIT codebook (m sub-spaces × k centroids ×
    * dim/m components) — the trained-codebook path the md5-constant
    * [[pqEncode]] stands in for. The codebook is literal data inside the
    * expression tree (a codebook is index METADATA, like a broadcast dim —
    * m·k·(d/m) doubles, kilobytes), so encoding stays row-local,
    * shuffle-free and codegen'd. */
  def pqEncodeWith(vec: Column, book: Seq[Seq[Seq[Double]]]): Column =
    // native expression: the codebook is ONE reference object and the
    // nearest-centroid search one codegen'd loop. The previous composable
    // form (m unrolled distance arrays of k·(dim/m) scalar terms, argmin
    // via array_position(array_min)) was bit-identical but put ~512 leaf
    // terms in the tree at (64,4,8) — Catalyst analysis+codegen cost
    // scaled with k·dim and dominated every PQ query's wall time
    // (measured: q65–q69 each paid seconds of plan time per call).
    // Arithmetic order and first-min tie-break are unchanged, so the
    // DuckDB oracles and every downstream ADC shape agree bit-for-bit.
    graft.functions.VectorExprs.pqEncode(vec, book)

  /** Train a real PQ codebook: an independent seeded k-means per sub-space
    * over that sub-space's slice of the corpus (the construction in Jégou
    * et al.'s product-quantization paper; same MLlib path as [[ivfTrain]]).
    * Returns the m×k×(dim/m) table for [[pqEncodeWith]]/[[pqTopKWith]].
    * Production shape: train once offline on a sample, embed the table in
    * every encode/search after — m small k-means fits, each one pass over
    * an sd-wide slice, never the full vectors. */
  def pqTrain(df: DataFrame, vecCol: String, dim: Int, m: Int, k: Int,
              seed: Long = 42L, maxIter: Int = 10): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0 && k > 1, "dim must split evenly into m sub-vectors")
    val sd = dim / m
    val v = df.select(col(vecCol).cast("array<double>").as("_v"))
    (0 until m).map { s =>
      // seed varies per sub-space so sub-codebooks are independent draws
      ivfTrain(v.select(slice(col("_v"), s * sd + 1, sd).as("_sv")), "_sv", k,
          seed + s, maxIter)
        .orderBy(col("_cid")).collect()
        .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    }
  }

  /** Deterministic PQ centroid component — the hyperplane scheme with a
    * disjoint index space per (sub, code). */
  private[graft] def pqCentroid(sub: Int, code: Int, j: Int, seed: String): Double =
    planeComponent(sub * 1000 + code, j, seed)

  /** PQ asymmetric-distance (ADC) top-k: rank the corpus against each
    * query using ONLY the PQ codes. Per query, an m×k lookup table of
    * squared sub-distances to every centroid is computed ONCE; a corpus
    * row's approximate distance is then m array lookups summed — the
    * standard ADC scan of an IVF-PQ index, where the corpus never touches
    * its original floats at query time.
    *
    * Scale shape: the code table is the only corpus-wide input (m small
    * ints per row); queries + LUTs broadcast; the scan is map-side with a
    * per-query top-k window over the (tiny) query partition count. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qIdCol: String, qVecCol: String,
             dim: Int, m: Int, k: Int, topK: Int,
             seed: String = "graft-pq"): DataFrame =
    pqTopKWith(df, idCol, vecCol, queries, qIdCol, qVecCol,
      pqBookConst(dim, m, k, seed), topK)

  /** Per-query LUT columns `_lut0.._lut{m-1}` over a query-vector column:
    * `_lutS[c]` = squared L2 from the vector's sub-vector S to centroid c
    * — computed ONCE per query, then every corpus distance is m lookups.
    *
    * Deliberately a SMALL higher-order-function tree (codebook as a
    * nested-array literal, `transform` + `aggregate` fold) rather than
    * k·(dim/m) unrolled scalar terms per sub-space: the LUT evaluates on
    * |Q| rows only, where interpreted HOF cost is nil, while the unrolled
    * form made Catalyst analysis/codegen the dominant cost of every ADC
    * query (seconds per plan, worse for the residual variant's per-cell
    * LUT copies). The fold's summation order is the same left-to-right
    * chain as before — the leading `0.0 +` is bit-exact because squared
    * terms are non-negative — so the DuckDB oracle replay still agrees
    * bit-for-bit. */
  private def pqLutCols(book: Seq[Seq[Seq[Double]]], vec: Column = col("_q")): Seq[Column] = {
    val sd = book.head.head.size
    book.zipWithIndex.map { case (cents, s) =>
      val centsLit = typedLit(cents.map(_.toIndexedSeq).toIndexedSeq)
      transform(centsLit, cent =>
        aggregate(
          zip_with(slice(vec, s * sd + 1, sd), cent, (x, cv) => (x - cv) * (x - cv)),
          lit(0.0), (acc, d) => acc + d)
      ).as(s"_lut$s")
    }
  }

  /** ADC distance from the LUT columns: m array lookups, summed. */
  private def pqAdcDist(m: Int): Column = (0 until m)
    .map(s => element_at(col(s"_lut$s"), element_at(col("_codes"), s + 1) + 1))
    .reduce(_ + _)

  /** [[pqTopK]] against an explicit codebook (from [[pqTrain]] or any
    * other source). Same dataflow: corpus → codes once, per-query m×k LUT
    * broadcast, map-side ADC scan, per-query top-k window. */
  def pqTopKWith(df: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 book: Seq[Seq[Seq[Double]]], topK: Int): DataFrame =
    pqTopKFromCodes(pqCodesOf(df, idCol, vecCol, book),
      queries, qIdCol, qVecCol, book, topK)

  /** The PQ code table (_id, _codes) of a corpus under `book` — the
    * row-local encode pass exposed on its own (round 14) so one encode
    * serves every ADC consumer (plain ADC scan, rerank shortlist,
    * column-extracted code dumps) instead of each re-encoding the
    * corpus. */
  def pqCodesOf(df: DataFrame, idCol: String, vecCol: String,
                book: Seq[Seq[Seq[Double]]]): DataFrame =
    Parallelize.ensure(
      df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v")))
      .select(col("_id"), pqEncodeWith(col("_v"), book).as("_codes"))

  /** [[pqTopKWith]]'s SEARCH half over a prebuilt [[pqCodesOf]] table. */
  def pqTopKFromCodes(codes: DataFrame,
                      queries: DataFrame, qIdCol: String, qVecCol: String,
                      book: Seq[Seq[Seq[Double]]], topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<double>").as("_q"))
      .select(col("_qid") +: pqLutCols(book): _*)
    val w = Window.partitionBy(col("_qid")).orderBy(col("_dist"), col("_id"))
    codes.crossJoin(broadcast(q))
      .filter(col("_id") =!= col("_qid"))
      .withColumn("_dist", pqAdcDist(book.size))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= topK)
      .select(col("_qid").as("query_id"), col("_id").as("vec_id"), col("_dist").as("adist"))
  }

  /** Contrastive hard-negative mining: for every query vector, the top-k
    * most-similar corpus vectors whose LABEL DIFFERS from the query's —
    * the near-misses a contrastive loss (SimCLR/CLIP-style, triplet)
    * learns the most from. Easy negatives (random different-label rows)
    * are plentiful and uninformative; the hard ones are exactly the
    * different-label rows the similarity function confuses.
    *
    * Scale shape: identical to [[topK]]'s broadcast scan — queries (with
    * their labels) broadcast, the label-mismatch filter and cosine run
    * map-side in the corpus scan stage, and the only shuffle is the
    * per-query top-k window over |Q| partitions. For mining negatives
    * for EVERY corpus row (|Q| = corpus), swap the broadcast for the
    * bucketed LSH/IVF candidate generators and apply the same
    * different-label filter on candidates. */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
                    queries: DataFrame, qIdCol: String, qVecCol: String,
                    qLabelCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    import org.apache.spark.sql.expressions.Window
    val corp = Parallelize.ensure(df.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("_cv"), col(labelCol).as("_cl")))
    val qv = queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).cast("array<double>").as("_qv"), col(qLabelCol).as("_ql"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("_cos").desc, col("vec_id"))
    corp.crossJoin(broadcast(qv))
      .filter(col("_cl") =!= col("_ql"))
      .withColumn("_cos", cosine(col("_cv"), col("_qv")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= topK)
      .select(col("query_id"), col("vec_id"), col("_cl").as("neg_label"),
        col("_cos").as("cos_sim"))
  }

  /** Two-stage retrieval — ADC shortlist, exact rerank: the production
    * serving shape for a PQ index. Stage 1 ranks the WHOLE corpus by PQ
    * codes only ([[pqTopKWith]] — m array lookups per row, floats never
    * read) and keeps a `shortlist`-sized candidate set per query; stage 2
    * re-reads original floats for the shortlist ONLY and reranks by exact
    * cosine. Compression error affects recall (a true neighbor missing
    * from the shortlist) but never the final ordering — the standard
    * accuracy/cost split (Jégou et al., IVFADC + rerank).
    *
    * Scale shape: stage 1 is the proven ADC scan (broadcast LUTs,
    * map-side, per-query top-k window). Stage 2's float re-read is a
    * BROADCAST of the |Q|·shortlist id set against the corpus scan — the
    * corpus never shuffles, and only matching rows carry their vector
    * into the |Q|·shortlist-row rerank, whose window partitions by query.
    * (At petabyte scale this is the "fetch by rowid from the vector
    * store" step; here the store is the same parquet scan.) */
  def pqRerankTopK(df: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, qIdCol: String, qVecCol: String,
                   book: Seq[Seq[Seq[Double]]], shortlist: Int, topK: Int): DataFrame =
    pqRerankTopKFromCodes(pqCodesOf(df, idCol, vecCol, book),
      df, idCol, vecCol, queries, qIdCol, qVecCol, book, shortlist, topK)

  /** [[pqRerankTopK]] over a prebuilt [[pqCodesOf]] table — the standing
    * serving shape: stage 1 scans the stored codes, stage 2 re-reads
    * floats for the shortlist only. */
  def pqRerankTopKFromCodes(codes: DataFrame,
                            df: DataFrame, idCol: String, vecCol: String,
                            queries: DataFrame, qIdCol: String, qVecCol: String,
                            book: Seq[Seq[Seq[Double]]], shortlist: Int, topK: Int): DataFrame = {
    require(shortlist >= topK, s"shortlist ($shortlist) must cover topK ($topK)")
    import org.apache.spark.sql.expressions.Window
    val short = pqTopKFromCodes(codes, queries, qIdCol, qVecCol, book, shortlist)
      .select(col("query_id"), col("vec_id"))
    val corp = df.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val qv = queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).cast("array<double>").as("_qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("_cos").desc, col("vec_id"))
    corp.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("_cos", cosine(col("_cv"), col("_qv")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= topK)
      .select(col("query_id"), col("vec_id"), col("_cos").as("cos_sim"))
  }

  /** IVF×PQ — the production ANN index shape: coarse IVF cells route each
    * query to its `nProbe` most promising cells, and ONLY those cells'
    * rows are ranked, by PQ codes (ADC), never by their original floats.
    * The two halves ([[ivfTopKWith]] routing, [[pqTopKWith]] ADC) each
    * existed alone; this is their composition (round-4 verdict #3).
    *
    * Scale shape: ONE corpus pass assigns the coarse cell (argmax over the
    * broadcast centroid table, map-side partials + one hash shuffle on id)
    * and PQ-encodes (row-local) — after it the corpus is (id, cell,
    * m small ints). Queries broadcast with their probe cells and m×k LUTs;
    * the cell equi-join touches only probed cells; the top-k window runs
    * per query. Probing ALL cells degrades to exactly [[pqTopKWith]]
    * (spec-proven), the same graceful-exactness check as ivf.
    *
    * @param cents (_cid, _cv) coarse codebook — [[ivfTrain]] output or any
    *              deterministic stand-in
    * @param book  m×k×(dim/m) PQ codebook — [[pqTrain]] or [[pqBookConst]] */
  def ivfPqTopK(cents: DataFrame, df: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qIdCol: String, qVecCol: String,
                book: Seq[Seq[Seq[Double]]], nProbe: Int, topK: Int): DataFrame =
    ivfPqSearch(ivfPqEncode(cents, df, idCol, vecCol, book), cents,
      queries, qIdCol, qVecCol, book, nProbe, topK)

  /** The IVF-PQ CORPUS pass: one scan assigns the coarse cell (argmax
    * over the broadcast centroid table — max_by with map-side partials,
    * never a corpus-wide window) and PQ-encodes (row-local); after it
    * the corpus is (_id, _cid, _codes) — m small ints per row, floats
    * dropped. This is the expensive half of every IVF-PQ search and the
    * thing a STANDING index ([[buildIvfPqIndex]]) pays exactly once. */
  private def ivfPqEncode(cents: DataFrame, df: DataFrame,
                          idCol: String, vecCol: String,
                          book: Seq[Seq[Seq[Double]]]): DataFrame = {
    val e = Parallelize.ensure(
      df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v")))
    e.crossJoin(broadcast(cents))
      .withColumn("_csim", cosine(col("_v"), col("_cv")))
      .groupBy(col("_id"))
      .agg(min_by(struct(col("_cid"), col("_v")), struct(negate(col("_csim")), col("_cid"))).as("_best"))
      .select(col("_id"), col("_best._cid").as("_cid"),
        pqEncodeWith(col("_best._v"), book).as("_codes"))
  }

  /** The IVF-PQ SEARCH half over an already-encoded corpus: queries
    * broadcast with their probe cells and m×k LUTs, the cell equi-join
    * touches only probed cells, ADC is m array lookups per candidate,
    * top-k per query. Corpus floats are never touched — `cells` carries
    * codes only. */
  private def ivfPqSearch(cells: DataFrame, cents: DataFrame,
                          queries: DataFrame, qIdCol: String, qVecCol: String,
                          book: Seq[Seq[Seq[Double]]],
                          nProbe: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = {
      val w = Window.partitionBy(col("_qid")).orderBy(col("_csim").desc, col("_cid"))
      queries.select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<double>").as("_q"))
        .crossJoin(broadcast(cents))
        .withColumn("_csim", cosine(col("_q"), col("_cv")))
        .withColumn("_crn", row_number().over(w))
        .filter(col("_crn") <= nProbe)
        .select(col("_qid") +: col("_cid") +: pqLutCols(book): _*)
    }

    val w = Window.partitionBy(col("_qid")).orderBy(col("_dist"), col("_id"))
    cells.join(broadcast(probes), Seq("_cid"))
      .filter(col("_id") =!= col("_qid"))
      .withColumn("_dist", pqAdcDist(book.size))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= topK)
      .select(col("_qid").as("query_id"), col("_id").as("vec_id"), col("_dist").as("adist"))
  }

  /** Residual IVF-PQ (IVFADC, the construction in Jégou et al.'s PQ
    * paper): PQ encodes the RESIDUAL `v − coarseCentroid(cell)` instead of
    * the raw vector. Residuals are smaller and more isotropic than raw
    * vectors, so the same m×k code budget quantizes them with less error —
    * this is why production IVF-PQ indexes encode residuals.
    *
    * Same dataflow as [[ivfPqTopK]], two deltas, neither changing the
    * scale shape:
    *  - corpus pass: the residual (`zip_with(v, cv, _-_)`, row-local) is
    *    computed in the same single pass that assigns the cell; floats
    *    still dropped after.
    *  - query side: the LUT is per (query, probed cell) — distances from
    *    the QUERY's residual in that cell to the book — so the broadcast
    *    carries nProbe × m×k doubles per query instead of m×k. Still
    *    kilobytes; ADC stays m lookups per corpus row.
    *
    * With ONE coarse cell this is exactly [[pqTopKWith]] on vectors
    * shifted by that centroid (spec-proven identity). */
  def ivfPqTopKResidual(cents: DataFrame, df: DataFrame, idCol: String, vecCol: String,
                        queries: DataFrame, qIdCol: String, qVecCol: String,
                        book: Seq[Seq[Seq[Double]]], nProbe: Int, topK: Int): DataFrame =
    ivfPqSearchResidual(ivfPqEncodeResidual(cents, df, idCol, vecCol, book),
      cents, queries, qIdCol, qVecCol, book, nProbe, topK)

  /** [[ivfPqEncode]]'s residual twin: the SAME single corpus pass, but
    * the PQ codes cover `v − coarseCentroid(cell)`. */
  private def ivfPqEncodeResidual(cents: DataFrame, df: DataFrame,
                                  idCol: String, vecCol: String,
                                  book: Seq[Seq[Seq[Double]]]): DataFrame = {
    val e = Parallelize.ensure(
      df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v")))
    e.crossJoin(broadcast(cents))
      .withColumn("_csim", cosine(col("_v"), col("_cv")))
      .groupBy(col("_id"))
      .agg(min_by(struct(col("_cid"), col("_v"), col("_cv")),
        struct(negate(col("_csim")), col("_cid"))).as("_best"))
      // materialize the residual as its OWN attribute before encoding:
      // inlining the zip_with into pqEncodeWith would substitute the
      // 64-element subtraction subtree into every one of the k·dim encode
      // terms (~500 copies — megabytes of expression tree, seconds of
      // analysis+codegen, measured). CollapseProject keeps the split: it
      // never re-inlines a non-cheap expression consumed many times.
      .select(col("_id"), col("_best._cid").as("_cid"),
        zip_with(col("_best._v"), col("_best._cv"), _ - _).as("_rv"))
      .select(col("_id"), col("_cid"), pqEncodeWith(col("_rv"), book).as("_codes"))
  }

  /** [[ivfPqSearch]]'s residual twin: the LUT is per (query, probed
    * cell) — distances from the QUERY's residual in that cell — so the
    * broadcast carries nProbe × m×k doubles per query instead of m×k.
    * Still kilobytes; ADC stays m lookups per coded row. */
  private def ivfPqSearchResidual(cells: DataFrame, cents: DataFrame,
                                  queries: DataFrame, qIdCol: String, qVecCol: String,
                                  book: Seq[Seq[Seq[Double]]],
                                  nProbe: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = {
      val w = Window.partitionBy(col("_qid")).orderBy(col("_csim").desc, col("_cid"))
      queries.select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<double>").as("_q"))
        .crossJoin(broadcast(cents))
        .withColumn("_csim", cosine(col("_q"), col("_cv")))
        .withColumn("_crn", row_number().over(w))
        .filter(col("_crn") <= nProbe)
        .withColumn("_rq", zip_with(col("_q"), col("_cv"), _ - _))
        .select(col("_qid") +: col("_cid") +: pqLutCols(book, col("_rq")): _*)
    }

    val w = Window.partitionBy(col("_qid")).orderBy(col("_dist"), col("_id"))
    cells.join(broadcast(probes), Seq("_cid"))
      .filter(col("_id") =!= col("_qid"))
      .withColumn("_dist", pqAdcDist(book.size))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= topK)
      .select(col("_qid").as("query_id"), col("_id").as("vec_id"), col("_dist").as("adist"))
  }

  /** Standing IVF-PQ index — the build-once/probe-forever form of the
    * rung this file calls the production 100 TB ANN shape (round-8
    * verdict #1). [[ivfPqTopK]] re-runs its corpus pass (cell argmax +
    * PQ encode over every vector) per CALL; at corpus scale that pass IS
    * the search cost, and it produces the same (id, cell, codes) table
    * every time. This index materializes that table once, alongside the
    * coarse centroids and PQ codebook that define the encoding, so a
    * search session touches corpus floats ZERO times — the
    * [[graft.ops.Dedup.NearDupIndex]] / [[EmbedIndex]] discipline on the
    * ANN serving path.
    *
    * `coded` is (_id, _cid, _codes): m small ints per corpus row — at
    * m=8, ~40 bytes/vector vs 512 for 64 raw doubles, the 10×+ memory
    * squeeze that lets a 100 TB vector corpus serve from RAM-adjacent
    * storage. `cents`/`book` are kilobytes and ride broadcasts.
    * `residual = true` stores IVFADC codes ([[ivfPqTopKResidual]]'s
    * construction — PQ over `v − coarseCentroid(cell)`, the actual
    * production encoding); the flag persists in the params table so
    * appends and searches can never mix the two code spaces. */
  final case class IvfPqIndex private[ops] (
      coded: DataFrame, cents: DataFrame,
      book: Seq[Seq[Seq[Double]]], dim: Int, residual: Boolean = false)

  /** Materialize an [[IvfPqIndex]]: ONE corpus pass ([[ivfPqEncode]] —
    * broadcast-centroid argmax + row-local PQ encode, one hash shuffle
    * on id), cached. At cluster scale follow with [[saveIvfPqIndex]] and
    * serve from the stored table. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      cents: DataFrame, book: Seq[Seq[Seq[Double]]], dim: Int,
                      residual: Boolean = false,
                      scope: CacheScope = CacheScope.noop): IvfPqIndex =
    IvfPqIndex(scope.track((if (residual) ivfPqEncodeResidual(cents, corpus, idCol, vecCol, book)
        else ivfPqEncode(cents, corpus, idCol, vecCol, book)).cache()),
      scope.track(cents.cache()), book, dim, residual)

  /** IVF-PQ search against a prebuilt [[IvfPqIndex]]: the query side of
    * [[ivfPqTopK]] (probe routing + LUT broadcast + ADC + per-query
    * top-k) with the corpus side played by the index's coded table — no
    * cell assignment, no PQ encode, no corpus-float read. Probing all
    * cells still degrades gracefully to exact ADC ranking. */
  def ivfPqTopKWith(index: IvfPqIndex, queries: DataFrame,
                    qIdCol: String, qVecCol: String,
                    nProbe: Int, topK: Int): DataFrame =
    if (index.residual)
      ivfPqSearchResidual(index.coded, index.cents, queries, qIdCol, qVecCol,
        index.book, nProbe, topK)
    else
      ivfPqSearch(index.coded, index.cents, queries, qIdCol, qVecCol,
        index.book, nProbe, topK)

  /** Persist an [[IvfPqIndex]]: the coded corpus, the coarse centroids,
    * the PQ codebook (flattened to (sub, code, comps) rows), and a
    * one-row params table, each as parquet under `path`. The index
    * survives the JVM; tomorrow's search session [[loadIvfPqIndex]]s it
    * instead of re-encoding 100 TB of vectors. */
  def saveIvfPqIndex(index: IvfPqIndex, path: String): Unit = {
    val sess = index.coded.sparkSession
    import sess.implicits._
    index.coded.write.mode("overwrite").parquet(s"$path/coded")
    index.cents.select(col("_cid"), col("_cv"))
      .write.mode("overwrite").parquet(s"$path/cents")
    val rows = for {
      (codes, sub) <- index.book.zipWithIndex
      (comps, code) <- codes.zipWithIndex
    } yield (sub, code, comps)
    rows.toDF("sub", "code", "comps")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/book")
    Seq((index.dim, index.book.size, index.book.head.size, index.residual))
      .toDF("dim", "m", "k", "residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Read back a [[saveIvfPqIndex]]'d codebook as the m×k×(dim/m) nested
    * Seq the encode/LUT builders take. Driver-sized by construction. */
  private def readPqBook(spark: org.apache.spark.sql.SparkSession,
                         path: String): Seq[Seq[Seq[Double]]] =
    spark.read.parquet(s"$path/book")
      .select(col("sub"), col("code"), col("comps"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)

  /** Load a [[saveIvfPqIndex]]'d index; the coded table and centroids
    * come back cached (every query batch of the day probes them).
    * Pending [[tombstoneIvfPqIndex]] deletions are subtracted here —
    * one broadcast anti-join on the coded table; the centroids and
    * codebook are corpus-independent and stay as built. */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     scope: CacheScope = CacheScope.noop): IvfPqIndex = {
    val p = spark.read.parquet(s"$path/params").head()
    IvfPqIndex(scope.track(Tombstones.applyTo(spark, path,
        spark.read.parquet(s"$path/coded"), "_id").cache()),
      scope.track(spark.read.parquet(s"$path/cents").cache()),
      readPqBook(spark, path), p.getAs[Int]("dim"), p.getAs[Boolean]("residual"))
  }

  /** Delete vectors from an in-memory [[IvfPqIndex]]: broadcast
    * anti-join on the coded table — O(|ids|) shipped, history never
    * shuffled. The on-disk twin is [[tombstoneIvfPqIndex]]. */
  def dropFromIvfPqIndex(index: IvfPqIndex, ids: DataFrame,
                         idCol: String): IvfPqIndex = {
    val tombs = ids.select(col(idCol).as("_tid")).distinct()
    index.copy(coded = index.coded.join(broadcast(tombs),
      index.coded("_id") === tombs("_tid"), "left_anti"))
  }

  /** Record deletions against a [[saveIvfPqIndex]]'d store — the
    * right-to-be-forgotten write path ([[Tombstones]]): appends the ids
    * under `path/_tombstones`, O(ids) regardless of history size.
    * [[loadIvfPqIndex]] subtracts pending tombstones;
    * [[compactIvfPqIndex]] applies them physically and clears them. A
    * tombstoned id cannot be re-appended until then (fail-loud). */
  def tombstoneIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                          ids: DataFrame, idCol: String): Unit =
    Tombstones.append(spark, path, ids, idCol)

  /** APPEND a newly-ingested batch to a [[saveIvfPqIndex]]'d index ON
    * DISK — the [[appendEmbedIndex]] discipline on the ANN serving path:
    * encode ONLY the batch under the STORED centroids and codebook (read
    * back, so the batch is coded exactly as the build was) and
    * `mode("append")` it onto the stored coded table. History is never
    * re-encoded or rewritten; a daily 100 TB loop writes one batch-sized
    * parquet delta per day, and a reload probes one flat table. */
  def appendIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       newVecs: DataFrame, idCol: String, vecCol: String): Unit = {
    Tombstones.requireNotTombstoned(spark, path, newVecs, idCol)
    val cents = spark.read.parquet(s"$path/cents")
    val book = readPqBook(spark, path)
    val residual = spark.read.parquet(s"$path/params").head()
      .getAs[Boolean]("residual")
    (if (residual) ivfPqEncodeResidual(cents, newVecs, idCol, vecCol, book)
     else ivfPqEncode(cents, newVecs, idCol, vecCol, book))
      .write.mode("append").parquet(s"$path/coded")
  }

  /** Compact an appended [[saveIvfPqIndex]] store's coded table into
    * ~128 MB files ([[StoreCompact]]): append-only ingest leaves one
    * file group per batch; probes pay the listing/open cost. Pending
    * [[tombstoneIvfPqIndex]] deletions are applied PHYSICALLY during
    * the rewrite (the anti-join rides the compaction scan) and the
    * tombstone dir cleared — a crash between swap and clear only
    * re-applies the (idempotent) anti-join on the next load. Offline
    * maintenance, probe-invariant (spec-pinned). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    StoreCompact.compactParquetDir(spark, s"$path/coded",
      Tombstones.readOpt(spark, path).map((_, "_id")))
    Tombstones.clear(spark, path)
  }

  /** REBUILD a [[saveIvfPqIndex]]'d index from the current corpus — the
    * remediation for [[ivfPqIndexStats]] drift: append-only ingest
    * encodes every batch under the FOUNDING centroids and codebook, so a
    * corpus that drifts (new modality, new embedding mix) piles into a
    * few hot cells and probe cost/recall degrade. When the occupancy
    * diagnostic says so, refound: retrain the coarse centroids at
    * constant occupancy ([[autoCells]] on the CURRENT corpus size — the
    * cell count is the one geometry parameter that MUST move with n),
    * retrain the PQ book, re-encode, and atomically replace the store
    * via the [[StoreCompact.stagedSwap]] discipline — a concurrent
    * probe sees the old index or the new one, never a half-written mix,
    * and a crash mid-swap self-repairs on the next maintenance call.
    *
    * dim / sub-space count / code count / residual-ness stay as stored
    * (changing those is a different index — build one); pending
    * tombstones vanish with the old store: the refound encodes exactly
    * the corpus passed in, which is the caller's statement of what the
    * index should now contain. Offline maintenance — this IS the full
    * corpus pass the standing discipline amortizes away, paid only when
    * the drift signal says the geometry no longer fits. */
  def refoundIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        corpus: DataFrame, idCol: String, vecCol: String,
                        targetPerCell: Long = 1024L,
                        scope: CacheScope = CacheScope.noop): Unit = {
    StoreCompact.repairSwap(spark, path)
    val p = spark.read.parquet(s"$path/params").head()
    val (dim, m, k, residual) = (p.getAs[Int]("dim"), p.getAs[Int]("m"),
      p.getAs[Int]("k"), p.getAs[Boolean]("residual"))
    val n = corpus.count()
    require(n > 0, "refusing to refound an index from an empty corpus")
    val cents = ivfTrain(
      corpus.select(col(vecCol).cast("array<double>").as("_v")), "_v",
      autoCells(n, targetPerCell))
    val book = pqTrain(corpus, vecCol, dim, m, k)
    val swapped = StoreCompact.stagedSwap(spark, path) { tmpDir =>
      saveIvfPqIndex(
        buildIvfPqIndex(corpus, idCol, vecCol, cents, book, dim, residual, scope),
        tmpDir)
    }
    require(swapped, s"no standing index at '$path' to refound")
  }

  /** Compact an appended [[saveEmbedIndex]] store's bucket table —
    * [[compactIvfPqIndex]]'s LSH twin, same physical tombstone apply. */
  def compactEmbedIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    StoreCompact.compactParquetDir(spark, s"$path/buckets",
      Tombstones.readOpt(spark, path).map((_, "_hid")))
    Tombstones.clear(spark, path)
  }

  /** Delete vectors from an in-memory [[EmbedIndex]]: broadcast
    * anti-join on the bucket table. On-disk twin:
    * [[tombstoneEmbedIndex]]. */
  def dropFromEmbedIndex(index: EmbedIndex, ids: DataFrame,
                         idCol: String): EmbedIndex = {
    val tombs = ids.select(col(idCol).as("_tid")).distinct()
    index.copy(bucketed = index.bucketed.join(broadcast(tombs),
      index.bucketed("_hid") === tombs("_tid"), "left_anti"))
  }

  /** Record deletions against a [[saveEmbedIndex]]'d store
    * ([[Tombstones]] — O(ids), history untouched; subtracted by
    * [[loadEmbedIndex]], applied physically by [[compactEmbedIndex]]). */
  def tombstoneEmbedIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                          ids: DataFrame, idCol: String): Unit =
    Tombstones.append(spark, path, ids, idCol)

  /** Routing-balance diagnostic for an [[IvfPqIndex]]: vectors per
    * coarse cell, INCLUDING empty cells (a cell the codebook reserves
    * but no vector lands in is the staleness signal). Append-only
    * ingest degrades balance as the corpus drifts away from the
    * centroids the index was built with — probed-cell cost is
    * Σ|probed cells|, so a hot cell is a hot probe. Watch
    * `max(n_vectors) / (n_total / n_cells)`; when the imbalance factor
    * drifts past a few ×, rebuild ([[buildIvfPqIndex]] with fresh
    * [[ivfTrain]] centroids) — the build cost the standing index
    * amortizes anyway. One narrow groupBy on the coded table; the
    * centroid side broadcasts. Returns (cell_id, n_vectors). */
  def ivfPqIndexStats(index: IvfPqIndex): DataFrame =
    index.cents.select(col("_cid"))
      .join(index.coded.groupBy(col("_cid"))
        .agg(count(lit(1)).as("_n")), Seq("_cid"), "left")
      .select(col("_cid").as("cell_id"),
        coalesce(col("_n"), lit(0L)).as("n_vectors"))

  /** Semantic dedup census — [[graft.ops.Dedup.dupRateCurve]]'s twin on
    * the EMBEDDING side: the decision table a SemDeDup-style cosine
    * cutoff is picked from. Candidate pairs are generated ONCE at the
    * LOOSEST threshold ([[lshNearDupPairs]] — the pair op is
    * threshold-independent above its floor), collapsed to one
    * best-similarity row per potential victim (bounding the sweep by
    * vectors, not pairs), then fanned over the literal threshold array:
    * (threshold, n_dropped, n_vecs, drop_frac) answers "what does a 0.9
    * cutoff cost vs 0.8" at ONE cutoff's pairing cost. Zero-count
    * thresholds kept; drop_frac a raw IEEE quotient of exact counts.
    * Victim election = the pair op's id order (the higher id of a pair
    * is the candidate drop — first-wins, the exact-dedup rule). */
  def semanticDupRateCurve(vecs: DataFrame, idCol: String, vecCol: String,
                           dim: Int, nPlanes: Int, thresholds: Seq[Double],
                           maxPerBucket: Int = 0,
                           scope: CacheScope = CacheScope.noop): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val ts = thresholds.distinct.sorted
    val best = lshNearDupPairs(vecs, idCol, vecCol, dim, nPlanes,
        ts.head, maxPerBucket, scope)
      .groupBy(col("id_b"))
      .agg(max(col("sim")).as("_bests"))
    val thr = vecs.sparkSession.range(1)
      .select(explode(typedLit(ts)).as("threshold"))
    val counts = best
      .select(col("_bests"), explode(typedLit(ts)).as("threshold"))
      .filter(col("_bests") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("_nd"))
    val total = vecs.agg(count(lit(1)).as("n_vecs"))
    thr.join(counts, Seq("threshold"), "left")
      .crossJoin(broadcast(total))
      .select(col("threshold"),
        coalesce(col("_nd"), lit(0L)).as("n_dropped"),
        col("n_vecs"),
        (coalesce(col("_nd"), lit(0L)).cast("double") / col("n_vecs"))
          .as("drop_frac"))
  }

  /** Deterministic pseudo-random hyperplane: component j of plane p is
    * derived from md5(seed|p|j) — reproducible with no RNG state, and
    * computable by any engine. Values in [-0.5, 0.5). */
  private[graft] def planeComponent(p: Int, j: Int, seed: String): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed|$p|$j".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 0xffffffffL.toDouble - 0.5
  }

  /** Plane count that keeps EXPECTED LSH bucket occupancy near
    * `targetPerBucket` for a corpus of `n` vectors: p = ⌈log₂(n/target)⌉,
    * clamped to [1, 62] (the bucket key is a long of sign bits). Use for
    * [[lshNearDupPairs]]/[[lshTopK]] instead of a fixed plane count — a
    * constant p is O(n²/2^p) in the self-join as the corpus grows, while
    * auto-scaled p keeps per-bucket work flat (the standard LSH sizing
    * rule). Callers know n from their own pipeline (or pay one count()). */
  def autoPlanes(n: Long, targetPerBucket: Long = 1024L): Int = {
    val buckets = n.toDouble / math.max(1L, targetPerBucket).toDouble
    math.min(62, math.max(1, math.ceil(math.log(math.max(1.0, buckets)) / math.log(2.0)).toInt))
  }

  /** Shortlist size that scales WITH the corpus — the frontier rule
    * (BASELINE.md §ANN frontier, measured): recall at a FIXED shortlist
    * decays as the corpus grows (0.940 → 0.860 at 4× for m=16 rerank,
    * shortlist 100) because a constant candidate set is a shrinking
    * FRACTION of the ranking. Hold `shortlist/n ≈ frac` instead; the
    * default 0.2 is the measured 0.94-recall operating point (shortlist
    * 100 of n=500), floored at `topK` so tiny corpora stay valid.
    * AnnFrontierSpec pins the flatness: auto-sized recall moves ≤ 0.05
    * across the same 4× where the fixed setting loses 0.08. */
  def autoShortlist(n: Long, topK: Int, frac: Double = 0.2): Int = {
    require(topK > 0 && frac > 0 && frac <= 1,
      s"need topK > 0 and frac in (0,1], got $topK / $frac")
    math.max(topK, math.ceil(frac * math.max(0L, n)).toInt)
  }

  /** Probe count that scales with the codebook — the IVF half of the
    * same rule: with cells sized for constant occupancy (nCells ∝ n,
    * the [[autoPlanes]] discipline), holding the probed fraction
    * `probes/cells ≈ scanFrac` holds the SCANNED SHARE of the corpus,
    * and with it recall, flat as both grow; a fixed probe count shrinks
    * to nothing as the codebook multiplies. Default 0.5 is the measured
    * 0.815-recall point (probe 8 of 16). Clamped to [1, nCells]. */
  def autoProbe(nCells: Int, scanFrac: Double = 0.5): Int = {
    require(nCells > 0 && scanFrac > 0 && scanFrac <= 1,
      s"need nCells > 0 and scanFrac in (0,1], got $nCells / $scanFrac")
    math.min(nCells, math.max(1, math.ceil(scanFrac * nCells).toInt))
  }

  /** Coarse-cell count that scales WITH the corpus — constant occupancy
    * (cells ≈ n / target): [[autoPlanes]]'s IVF analog and
    * [[autoProbe]]'s prerequisite (holding the probes/cells FRACTION
    * only holds recall if the cell count tracks n; a fixed cell count
    * makes each cell grow linearly and every probe scan more corpus).
    * Floored at 2: a 1-cell IVF is a flat scan wearing a codebook (and
    * below the k-means trainer's minimum k). Callers know n from their
    * own pipeline, or pay one count(). */
  def autoCells(n: Long, targetPerCell: Long = 1024L): Int =
    math.max(2, math.ceil(
      math.max(0L, n).toDouble / math.max(1L, targetPerCell).toDouble).toInt)

  /** [[ivfTopKWith]] with the probe count [[autoProbe]]-sized from the
    * codebook (which is small — the count is metadata). */
  def ivfTopKAuto(cents: DataFrame, df: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qIdCol: String, qVecCol: String,
                  k: Int, scanFrac: Double = 0.5): DataFrame =
    ivfTopKWith(cents, df, idCol, vecCol, queries, qIdCol, qVecCol,
      autoProbe(cents.count().toInt, scanFrac), k)

  /** Sign-of-projection bucket key over `nPlanes` deterministic random
    * hyperplanes (a bit per plane). The plane is a literal array and the
    * projection a zip_with/aggregate fold — a compact expression tree
    * (a 512-term scalar sum makes Catalyst's optimizer crawl). */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int, seed: String = "graft"): Column = {
    val bits: Seq[Column] = (0 until nPlanes).map { p =>
      val plane = typedLit((0 until dim).map(j => planeComponent(p, j, seed)))
      val proj = dot(vec, plane)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** IVF (inverted-file) ANN: partition vectors into coarse cells, search
    * only the `nProbe` most promising cells per query — the other standard
    * scale path next to LSH (`lshTopK`).
    *
    * Cells are anchored on the first `nCentroids` vectors by id — a
    * deterministic stand-in for a k-means codebook (production systems
    * train centroids offline; the assignment/probe dataflow is identical).
    * Assignment = argmax cosine to a BROADCAST centroid table (map-side,
    * no shuffle on the big side beyond the cell-key join); probing scores
    * only the probed cells' lists — never the full corpus.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              nCentroids: Int, nProbe: Int, k: Int): DataFrame = {
    val cents = df.select(col(idCol).as("_cid"), col(vecCol).cast("array<double>").as("_cv"))
      .orderBy(col("_cid")).limit(nCentroids)
    ivfTopKWith(cents, df, idCol, vecCol, queries, qIdCol, qVecCol, nProbe, k)
  }

  /** Nearest-centroid cell assignment against a broadcast codebook —
    * the corpus half of every IVF op exposed on its own, so cluster
    * structure can feed non-search consumers too: cluster-quota
    * diversity sampling ([[graft.ops.TextAnalysis.groupCap]] per cell),
    * per-cluster dataset cards, SemDeDup-style cell partitioning.
    * Argmax = `max_by` over the broadcast cross join (map-side partials
    * + ONE hash shuffle on id, no corpus-wide window); ties break to the
    * lowest cell id. Returns (idCol, cell_id). */
  def ivfAssign(cents: DataFrame, df: DataFrame,
                idCol: String, vecCol: String): DataFrame = {
    val e = Parallelize.ensure(
      df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v")))
    e.crossJoin(broadcast(cents))
      .withColumn("_csim", cosine(col("_v"), col("_cv")))
      .groupBy(col("_id"))
      .agg(min_by(col("_cid"), struct(negate(col("_csim")), col("_cid"))).as("cell_id"))
      .withColumnRenamed("_id", idCol)
  }

  /** Embedding OUTLIER gate — the `topN` vectors FARTHEST from their own
    * coarse cell's centroid, per cell: the "prune far-from-centroid noise"
    * rung that SemDeDup-style pipelines (Abbas et al. 2023 prune by
    * within-cluster similarity structure) run right after clustering —
    * mislabeled points, mojibake embeddings and off-manifold junk land in
    * some cell but sit at its edge, and this surfaces exactly those rows
    * for review or removal before they poison dedup/selection downstream.
    *
    * Returns (idCol, cell_id, sim, far_rank) for the `topN` least-similar
    * vectors of each cell — `sim` is cosine to the assigned centroid,
    * `far_rank` 1 = farthest. Assignment ties break by centroid id and
    * ranking ties by vector id (deterministic, the [[ivfAssign]]
    * discipline). Centroids come as an explicit (_cid, _cv) frame (from
    * [[ivfTrain]] or any deterministic codebook) so the gate composes with
    * a STANDING codebook — train once, audit every batch.
    *
    * Scale shape: assignment is [[ivfAssign]]'s — centroids broadcast, one
    * map-side min_by fold, the shuffle carries one narrow (id, cell, sim)
    * row per vector, raw floats never move. The per-cell rank is a window
    * with a LITERAL `topN` bound, so Catalyst's `WindowGroupLimit` prunes
    * each cell to its top rows BELOW the exchange — the sort never sees
    * more than topN·partitions rows per cell, the q33 top-k discipline. */
  def embedOutliers(df: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN > 0, s"topN must be positive, got $topN")
    val e = Parallelize.ensure(
      df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v")))
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("_csim", cosine(col("_v"), col("_cv")))
      .groupBy(col("_id"))
      .agg(min_by(struct(col("_cid").as("c"), col("_csim").as("s")),
        struct(negate(col("_csim")), col("_cid"))).as("_best"))
      .select(col("_id"), col("_best.c").as("cell_id"), col("_best.s").as("sim"))
    val w = Window.partitionBy(col("cell_id"))
      .orderBy(col("sim").asc, col("_id").asc)
    assigned.withColumn("far_rank", row_number().over(w).cast("long"))
      .filter(col("far_rank") <= topN)
      .select(col("_id").as(idCol), col("cell_id"), col("sim"), col("far_rank"))
  }

  /** Train a real IVF codebook with Spark MLlib k-means (seeded —
    * reproducible for a fixed dataset). Returns a (_cid, _cv) centroid
    * frame for [[ivfTopKWith]]. Production systems train offline on a
    * sample and reuse the codebook across queries — do the same: train
    * once, pass the result to many ivfTopKWith calls. */
  def ivfTrain(df: DataFrame, vecCol: String, nCentroids: Int, seed: Long = 42L,
               maxIter: Int = 10): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    val spark = df.sparkSession
    import spark.implicits._
    val toVec = udf((a: Seq[Double]) => org.apache.spark.ml.linalg.Vectors.dense(a.toArray))
    val feats = df.select(col(vecCol).cast("array<double>").as("_v"))
      .withColumn("features", toVec(col("_v")))
    val model = new KMeans().setK(nCentroids).setSeed(seed).setMaxIter(maxIter).fit(feats)
    model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray.toSeq) }.toSeq
      .toDF("_cid", "_cv")
  }

  /** IVF search against an explicit centroid codebook (from [[ivfTrain]]
    * or any other source). Probing ALL cells (`nProbe` = codebook size)
    * degrades gracefully to exact search — handy as a correctness check. */
  def ivfTopKWith(cents: DataFrame, df: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qIdCol: String, qVecCol: String,
                  nProbe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Parallelize.ensure(
      df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v")))

    // corpus-side cell assignment is an argmax, not a rank: max_by over the
    // broadcast codebook aggregates with map-side partials and ONE hash
    // shuffle on _id — the row_number() window form costs a sort exchange
    // over the whole corpus. Tie-break matches the window ordering
    // (_csim desc, _cid asc): lexicographic struct min on (-_csim, _cid)
    // — the id is never negated, so string cell ids order fine too.
    val cells = e.crossJoin(broadcast(cents))
      .withColumn("_csim", cosine(col("_v"), col("_cv")))
      .groupBy(col("_id"))
      .agg(min_by(struct(col("_cid"), col("_v")), struct(negate(col("_csim")), col("_cid"))).as("_best"))
      .select(col("_id"), col("_best._cid").as("_cid"), col("_best._v").as("_v"))

    // query-side probing keeps the top-nProbe cells per query — a real rank;
    // the window runs over the (small) query side only
    val probes = {
      val w = Window.partitionBy(col("_qid")).orderBy(col("_csim").desc, col("_cid"))
      queries.select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<double>").as("_q"))
        .crossJoin(broadcast(cents))
        .withColumn("_csim", cosine(col("_q"), col("_cv")))
        .withColumn("_crn", row_number().over(w))
        .filter(col("_crn") <= nProbe)
        .drop("_cv", "_csim", "_crn")
    }

    val w = Window.partitionBy(col("_qid")).orderBy(col("_sim").desc, col("_id"))
    cells.join(probes, Seq("_cid"))
      .filter(col("_id") =!= col("_qid"))
      .withColumn("_sim", cosine(col("_v"), col("_q")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_qid").as("query_id"), col("_id").as("vec_id"), col("_sim").as("sim"))
  }

  /** Embedding-cosine near-duplicate pairs: vectors sharing a hyperplane
    * bucket whose exact cosine clears `minSim`. The bucket equi-join is the
    * candidate generator (narrow keys, one shuffle) — near-identical
    * vectors agree on every projection sign, so recall at high `minSim` is
    * the standard LSH trade; the exact cosine verify runs only within
    * buckets, never all-pairs. Returns (id_a, id_b, sim), id_a < id_b.
    *
    * SCALE GUARD (round-3 verdict #4): with p planes there are only 2^p
    * buckets, and each bucket self-joins — a fixed small `nPlanes` is
    * O(n²/2^p) as the corpus grows. Size `nPlanes` with [[autoPlanes]]
    * (p ≈ log₂(n/targetPerBucket), keeping EXPECTED occupancy flat), and
    * bound the WORST case (correlated vectors piling into one bucket —
    * more planes can't split identical vectors) with `maxPerBucket` > 0:
    * each bucket keeps its first `maxPerBucket` members in id order —
    * deterministic, and the self-join cost is capped at maxPerBucket² per
    * bucket. The cap drops candidate coverage for over-full buckets (an
    * explicit recall trade, like any LSH parameter — not a silent
    * truncation). */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      dim: Int, nPlanes: Int, minSim: Double,
                      maxPerBucket: Int = 0,
                      scope: CacheScope = CacheScope.noop): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val bucketed = df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v"))
      .repartition(parallelism, col("_id"))
      .withColumn("_bucket", lshBucket(col("_v"), dim, nPlanes))
    val capped =
      if (maxPerBucket <= 0) bucketed
      else {
        // rank within bucket, keep the first maxPerBucket by id: one
        // shuffle on the bucket key; each post-cap bucket is bounded, so
        // the downstream self-join is too
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("_bucket")).orderBy(col("_id"))
        bucketed.withColumn("_bn", row_number().over(w))
          .filter(col("_bn") <= maxPerBucket).drop("_bn")
      }
    // both self-join sides consume the bucketed frame; aliasing makes the
    // subtrees non-identical so nothing reuses — cache it (the bucketed
    // store IS the candidate index; MEMORY_AND_DISK spills at store scale)
    val e = scope.track(capped.cache())
    val a = e.select(col("_bucket"), col("_id").as("id_a"), col("_v").as("_va"))
    val b = e.select(col("_bucket"), col("_id").as("id_b"), col("_v").as("_vb"))
    a.join(b, Seq("_bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("_va"), col("_vb")))
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Incremental EMBEDDING near-dup probe — the vector-side twin of
    * [[graft.ops.Dedup.incrementalNearDups]]: for each newly-ingested
    * vector, its best near-duplicate in the historical store by LSH
    * bucket collision verified with exact cosine. New vectors with no
    * history collision above `minSim` produce no row (clean).
    *
    * Scale shape: both sides bucket row-local ([[lshBucket]], sized via
    * [[autoPlanes]] for the HISTORY cardinality), candidates come from
    * the bucket equi-join — never a cross join — and only collisions pay
    * the cosine. Best match per new vector is min_by over (−sim, id)
    * (highest sim, ties to the lowest history id) — map-side partials,
    * ONE shuffle on the new-side id.
    *
    * This convenience overload buckets the history per call — fine for a
    * one-off. A production ingest loop should [[buildEmbedIndex]] once
    * and call [[incrementalEmbedNearDupsWith]] per batch (the standing-
    * index discipline of the exact fingerprint snapshot). */
  def incrementalEmbedNearDups(newVecs: DataFrame, history: DataFrame,
                               idCol: String, vecCol: String,
                               dim: Int, nPlanes: Int, minSim: Double,
                               seed: String = "graft"): DataFrame =
    incrementalEmbedNearDupsWith(newVecs,
      buildEmbedIndex(history, idCol, vecCol, dim, nPlanes, seed),
      idCol, vecCol, minSim)

  /** Standing LSH bucket index over a historical vector store: the
    * (id, vector, bucket) frame MATERIALIZED (cached; at cluster scale
    * a stored table) plus the hashing parameters so probes bucket the
    * new side under the SAME hyperplanes — the vector twin of
    * [[graft.ops.Dedup.NearDupIndex]]. Build once, probe every ingest
    * batch: the daily cost is bucketing the batch, never re-bucketing
    * the store. */
  final case class EmbedIndex private[ops] (
      bucketed: DataFrame, dim: Int, nPlanes: Int, seed: String)

  /** Materialize an [[EmbedIndex]] for `history` (size `nPlanes` via
    * [[autoPlanes]] on the HISTORY cardinality — expected occupancy is a
    * property of the store, not the batch). */
  def buildEmbedIndex(history: DataFrame, idCol: String, vecCol: String,
                      dim: Int, nPlanes: Int, seed: String = "graft",
                      scope: CacheScope = CacheScope.noop): EmbedIndex =
    EmbedIndex(scope.track(Parallelize.ensure(
        history.select(col(idCol).as("_hid"), col(vecCol).cast("array<double>").as("_hv")))
      .withColumn("_bucket", lshBucket(col("_hv"), dim, nPlanes, seed))
      .cache()), dim, nPlanes, seed)

  /** Bucket-balance diagnostic for an [[EmbedIndex]] —
    * [[graft.ops.Dedup.nearDupIndexStats]]'s vector twin: the
    * bucket-size histogram of the LSH store (probe cost per bucket is
    * linear in its size, candidate verification quadratic — the
    * [[autoPlanes]] occupancy rule's drift monitor). Returns
    * (bucket_size, n_buckets). */
  def embedIndexStats(index: EmbedIndex): DataFrame =
    index.bucketed
      .groupBy(col("_bucket")).agg(count(lit(1)).as("_sz"))
      .groupBy(col("_sz")).agg(count(lit(1)).as("n_buckets"))
      .select(col("_sz").as("bucket_size"), col("n_buckets"))

  /** Persist an [[EmbedIndex]] (bucketed store + params) as parquet —
    * the standing index survives the JVM; tomorrow's ingest
    * [[loadEmbedIndex]]s it instead of re-bucketing the store. */
  def saveEmbedIndex(index: EmbedIndex, path: String): Unit = {
    val sess = index.bucketed.sparkSession
    import sess.implicits._
    index.bucketed.write.mode("overwrite").parquet(s"$path/buckets")
    Seq((index.dim, index.nPlanes, index.seed))
      .toDF("dim", "n_planes", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Load a [[saveEmbedIndex]]'d index; the store comes back cached.
    * Pending [[tombstoneEmbedIndex]] deletions are subtracted (one
    * broadcast anti-join on the bucket table). */
  def loadEmbedIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     scope: CacheScope = CacheScope.noop): EmbedIndex = {
    val p = spark.read.parquet(s"$path/params").head()
    EmbedIndex(scope.track(Tombstones.applyTo(spark, path,
        spark.read.parquet(s"$path/buckets"), "_hid").cache()),
      p.getAs[Int]("dim"), p.getAs[Int]("n_planes"), p.getAs[String]("seed"))
  }

  /** APPEND a newly-ingested batch to a [[saveEmbedIndex]]'d index ON
    * DISK — the vector twin of [[graft.ops.Dedup.appendNearDupIndex]]:
    * bucket ONLY the batch under the STORED hyperplane parameters (read
    * back, so the batch is hashed exactly as the build was) and
    * `mode("append")` the projection onto the stored parquet. History is
    * never rewritten and no cross-batch union lineage accumulates; a
    * reload probes one flat table. */
  def appendEmbedIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       newVecs: DataFrame, idCol: String, vecCol: String): Unit = {
    Tombstones.requireNotTombstoned(spark, path, newVecs, idCol)
    val p = spark.read.parquet(s"$path/params").head()
    Parallelize.ensure(newVecs.select(col(idCol).as("_hid"),
        col(vecCol).cast("array<double>").as("_hv")))
      .withColumn("_bucket", lshBucket(col("_hv"), p.getAs[Int]("dim"),
        p.getAs[Int]("n_planes"), p.getAs[String]("seed")))
      .write.mode("append").parquet(s"$path/buckets")
  }

  /** Extend an [[EmbedIndex]] with a newly-ingested batch: bucket ONLY
    * the batch under the index's hyperplanes and union — the IN-MEMORY
    * form; [[appendEmbedIndex]] is the on-disk form. */
  def extendEmbedIndex(index: EmbedIndex, newVecs: DataFrame,
                       idCol: String, vecCol: String): EmbedIndex =
    index.copy(bucketed = index.bucketed.unionByName(
      Parallelize.ensure(newVecs.select(col(idCol).as("_hid"),
          col(vecCol).cast("array<double>").as("_hv")))
        .withColumn("_bucket", lshBucket(col("_hv"), index.dim, index.nPlanes, index.seed))))

  /** [[incrementalEmbedNearDups]] against a prebuilt [[EmbedIndex]]:
    * only the batch is bucketed; the store rides the index's cached
    * frame across consecutive batches. */
  def incrementalEmbedNearDupsWith(newVecs: DataFrame, index: EmbedIndex,
                                   idCol: String, vecCol: String,
                                   minSim: Double,
                                   multiProbe: Boolean = false): DataFrame = {
    embedNearDupScored(newVecs, index, idCol, vecCol, minSim, multiProbe)
      .groupBy(col("_nid"))
      .agg(min_by(struct(col("_hid"), col("_sim")),
        struct(negate(col("_sim")), col("_hid"))).as("_best"))
      .select(col("_nid").as(idCol), col("_best._hid").as("hist_id"),
        // + 0.0 after the round: BigDecimal rounding drops a −0.0 sign
        // that C-family engines keep — normalize so comparators that
        // sort by string agree (the q108 sf0.1 lesson)
        (round(col("_best._sim"), 4) + lit(0.0)).as("sim"))
  }

  /** The verified-candidate table both embed probe shapes rank: LSH
    * bucket candidates between the batch and the index, exact-cosine
    * scored, thresholded — (_nid, _hid, _sim). `multiProbe` widens each
    * batch vector's probe to its own bucket PLUS the nPlanes Hamming-1
    * neighbors (the q118 probe-key explode pointed at the STORED bucket
    * table): the recall knob that needs NO store rebuild — a true
    * neighbor hidden by ONE disagreeing projection sign is recovered at
    * ~(1 + nPlanes)× candidate cost, the store never re-buckets, and
    * the exact-cosine verify still runs only on candidates. The probe
    * keys explode on the BATCH side (small), never on the store. */
  private def embedNearDupScored(newVecs: DataFrame, index: EmbedIndex,
                                 idCol: String, vecCol: String,
                                 minSim: Double,
                                 multiProbe: Boolean = false): DataFrame = {
    val base = Parallelize.ensure(
        newVecs.select(col(idCol).as("_nid"), col(vecCol).cast("array<double>").as("_nv")))
      .withColumn("_b0", lshBucket(col("_nv"), index.dim, index.nPlanes, index.seed))
    val probed =
      if (!multiProbe) base.withColumnRenamed("_b0", "_bucket")
      else {
        val probes = (lit(0L) +: (0 until index.nPlanes).map(p => lit(1L << p)))
          .map(m => col("_b0").bitwiseXOR(m))
        base.select(col("_nid"), col("_nv"),
          explode(array(probes: _*)).as("_bucket"))
      }
    probed
      .join(index.bucketed, Seq("_bucket"))
      .withColumn("_sim", cosine(col("_nv"), col("_hv")))
      .filter(col("_sim") >= minSim)
  }

  /** Ranked embed near-dup probe — [[incrementalEmbedNearDupsWith]] with
    * RANK KEPT: per batch vector, its top-`topK` store neighbors by
    * exact cosine over the LSH bucket candidates (sim DESC, ties to the
    * lowest store id), as (query_id, idCol, sim). Feed it with
    * [[exactTopK]] ground truth into [[rankedEval]] and the per-query
    * recall/MRR/NDCG table is the decision surface for a standing
    * embeddup store's `--planes` / `--min-sim` knobs (`anneval
    * --store-kind embeddup`): recall says what the buckets miss, MRR/
    * NDCG whether what they return ranks the truly-nearest first. Same
    * scale shape as the probe it ranks — bucket equi-join candidates,
    * |Q|-partition top-k window over candidate-bounded rows. */
  def embedNearDupTopKWith(newVecs: DataFrame, index: EmbedIndex,
                           idCol: String, vecCol: String,
                           minSim: Double, topK: Int,
                           multiProbe: Boolean = false): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_nid"))
      .orderBy(col("_sim").desc, col("_hid"))
    embedNearDupScored(newVecs, index, idCol, vecCol, minSim, multiProbe)
      // self never ranks: an eval whose queries come FROM the store must
      // not credit each query for finding itself (exactTopK discipline);
      // a true ingest batch is disjoint from history, so this is free
      .filter(col("_nid") =!= col("_hid"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= topK)
      // UNROUNDED score: rankedEval re-ranks by this column, and both
      // engines compute the identical IEEE cosine — a rounded score
      // could reorder ties at a rounding boundary (q163 discipline)
      .select(col("_nid").as("query_id"), col("_hid").as(idCol),
        col("_sim").as("sim"))
  }

  /** Semantic decontamination — the EMBEDDING-level twin of the n-gram
    * gate ([[graft.ops.Dedup.decontaminate]]): drop every training vector
    * whose cosine to ANY benchmark vector reaches `minSim`. N-gram
    * overlap misses paraphrases; embedding similarity catches them — the
    * two gates compose (run both, keep the intersection of survivors).
    *
    * ONE left-anti join does everything: the bucket equality is the hash
    * key, the cosine threshold rides as the join's residual condition —
    * no aggregate, no best-match struct, no join-back (the first cut
    * reused [[incrementalEmbedNearDups]] and paid its `max_by` shuffle
    * computing a best match the anti-join immediately discarded). The
    * training corpus never shuffles beyond its bucket keys; the benchmark
    * (always small) pays the same row-local bucketing. Returns survivors
    * as (idCol, plus any columns of `df` projected through). */
  def semanticDecontaminate(df: DataFrame, idCol: String, vecCol: String,
                            bench: DataFrame, benchIdCol: String,
                            benchVecCol: String,
                            dim: Int, nPlanes: Int,
                            minSim: Double, seed: String = "graft"): DataFrame = {
    val e = df.withColumn("_v", col(vecCol).cast("array<double>"))
      .withColumn("_bucket", lshBucket(col("_v"), dim, nPlanes, seed))
    val bm = Parallelize.ensure(
        bench.select(col(benchVecCol).cast("array<double>").as("_bv")))
      .withColumn("_bbucket", lshBucket(col("_bv"), dim, nPlanes, seed))
    e.join(bm, e("_bucket") === bm("_bbucket")
        && cosine(col("_v"), col("_bv")) >= minSim, "left_anti")
      .drop("_v", "_bucket")
  }

  /** SemDeDup — semantic deduplication by embedding clusters (Abbas et
    * al. 2023, arXiv:2303.09540): assign every vector to its nearest
    * coarse centroid, compare pairs only WITHIN a cell, and drop a
    * document when an earlier (lower-id) cell-mate is `minSim`-similar.
    * The paper's survivor rule (keep one per ε-ball, random or
    * farthest-from-centroid) is replaced by the deterministic first-wins
    * rule every other dedup op here uses: a document survives iff NO
    * lower-id document in its cell clears `minSim`. Chains collapse to
    * their first element (b~a and c~b drops both b and c), the same
    * transitive-drop behavior as the paper's within-ball pruning.
    *
    * Scale shape — the reason SemDeDup works at corpus scale: the
    * quadratic pair search never sees the corpus, only a cell. The
    * centroid table broadcasts (argmax assignment is map-side partials +
    * ONE hash shuffle on id, exactly [[ivfTopKWith]]'s corpus pass); the
    * self-join keys on the cell id, so its cost is Σ|cell|², bounded by
    * sizing the codebook — `nCentroids` ∝ n / targetCellSize keeps
    * per-cell work flat as the corpus grows (the paper runs 50k clusters
    * over LAION). `maxPerCell` > 0 additionally caps the WORST case
    * (correlated vectors piling into one cell): only the first
    * `maxPerCell` members (by id) of a cell generate pairs — documents
    * beyond the cap always survive, an explicit recall trade like
    * [[lshNearDupPairs]]'s bucket cap, never a silent truncation.
    *
    * Returns survivors as (`idCol`, cell_id).
    *
    * @param cents (_cid, _cv) coarse codebook — [[ivfTrain]] output or
    *              any deterministic stand-in */
  def semDedup(cents: DataFrame, df: DataFrame, idCol: String, vecCol: String,
               minSim: Double, maxPerCell: Int = 0,
               scope: CacheScope = CacheScope.noop): DataFrame = {
    val e = Parallelize.ensure(
      df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v")))
    // cell assignment: argmax over the broadcast codebook — max_by with
    // map-side partials, ONE hash shuffle on _id (never a corpus window);
    // tie-break (_csim desc, _cid asc) matches the IVF ops. CACHED: three
    // consumers (both sides of the pair join + the survivor anti-join)
    // would otherwise each redo the corpus×centroids argmax — this
    // materialization IS the index build, done once (MEMORY_AND_DISK
    // spills at store scale; at cluster scale write it to storage)
    val cells = scope.track(e.crossJoin(broadcast(cents))
      .withColumn("_csim", cosine(col("_v"), col("_cv")))
      .groupBy(col("_id"))
      .agg(min_by(struct(col("_cid"), col("_v")), struct(negate(col("_csim")), col("_cid"))).as("_best"))
      .select(col("_id"), col("_best._cid").as("_cid"), col("_best._v").as("_v"))
      .cache())

    val paired =
      if (maxPerCell <= 0) cells
      else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("_cid")).orderBy(col("_id"))
        cells.withColumn("_cn", row_number().over(w))
          .filter(col("_cn") <= maxPerCell).drop("_cn")
      }
    // within-cell verify: equi-join on the cell key; the duplicate set is
    // narrow ids only — vectors never re-attach after scoring
    val earlier = paired.select(col("_cid"), col("_id").as("_eid"), col("_v").as("_ev"))
    val dups = paired.join(earlier, Seq("_cid"))
      .filter(col("_eid") < col("_id"))
      .filter(cosine(col("_v"), col("_ev")) >= minSim)
      .select(col("_id")).distinct()

    cells.join(dups, Seq("_id"), "left_anti")
      .select(col("_id").as(idCol), col("_cid").as("cell_id"))
  }

  /** Multi-probe LSH top-k (Lv et al., VLDB'07): instead of L extra hash
    * TABLES ([[lshTopK]]'s `nTables`), probe the query's own bucket plus
    * every Hamming-distance-1 neighbor bucket — a near-boundary neighbor
    * differs in exactly the plane whose projection sits closest to zero,
    * so single-bit flips recover most of the recall extra tables buy at
    * 1/L of the index memory. Candidates = corpus vectors within Hamming
    * ≤ 1 of the query bucket.
    *
    * Scale shape: the CORPUS side is untouched (one bucket per vector —
    * same standing index as single-probe); only the query side explodes
    * ×(nPlanes+1), and since every probe key is a distinct value a
    * (query, id) pair matches at most once — no dedup pass needed. Same
    * bucket equi-join + per-query top-k window as [[lshTopK]]. */
  def lshTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String,
                        queries: DataFrame, qIdCol: String, qVecCol: String,
                        dim: Int, nPlanes: Int, k: Int,
                        seed: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val w = Window.partitionBy(col("_qid")).orderBy(col("_sim").desc, col("_id"))
    val e = df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v"))
      .repartition(parallelism, col("_id"))
      .withColumn("_bucket", lshBucket(col("_v"), dim, nPlanes, seed))
    val probes = (lit(0L) +: (0 until nPlanes).map(p => lit(1L << p)))
      .map(m => col("_b0").bitwiseXOR(m))
    val q = queries.select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<double>").as("_q"))
      .withColumn("_b0", lshBucket(col("_q"), dim, nPlanes, seed))
      .select(col("_qid"), col("_q"), explode(array(probes: _*)).as("_bucket"))
    e.join(q, Seq("_bucket"))
      .filter(col("_id") =!= col("_qid"))
      .withColumn("_sim", cosine(col("_v"), col("_q")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_qid").as("query_id"), col("_id").as("vec_id"), col("_sim").as("sim"))
  }

  /** LSH-bucketed ANN: score only pairs that share a hyperplane bucket.
    * Returns the per-query top-k among same-bucket candidates.
    *
    * One bucket signature per vector (`nTables` = 1) has a recall cliff
    * for near-boundary queries: ONE disagreeing projection sign hides a
    * true neighbor. `nTables` > 1 builds L independent hash tables
    * (seed-varied planes — table 0 keeps `seed`, so L = 1 is bit-identical
    * to the single-table op and the q25 oracle) and a candidate survives
    * if it collides in ANY table — the standard OR-amplification next to
    * the banding `minhashLshPairsOf` already uses (round-4 verdict #5).
    * Recall rises with L at L× the bucketing cost; the exact-cosine verify
    * still runs only on candidates.
    *
    * Scale shape at L > 1: the (table, bucket) equi-join emits NARROW
    * (query, id) candidate pairs which are deduped BEFORE the wide vectors
    * re-attach (one candidate-set shuffle on id; queries broadcast) — the
    * same dedupe-then-re-attach discipline as the MinHash pair path. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              dim: Int, nPlanes: Int, k: Int,
              nTables: Int = 1, seed: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nTables >= 1, "nTables must be >= 1")
    // repartition before the projection math: a single input split would
    // otherwise single-thread the per-row hyperplane projections
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val w = Window.partitionBy(col("_qid")).orderBy(col("_sim").desc, col("_id"))
    if (nTables == 1) {
      val e = df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v"))
        .repartition(parallelism, col("_id"))
        .withColumn("_bucket", lshBucket(col("_v"), dim, nPlanes, seed))
      val q = queries.select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<double>").as("_q"))
        .withColumn("_bucket", lshBucket(col("_q"), dim, nPlanes, seed))
      e.join(q, Seq("_bucket"))
        .filter(col("_id") =!= col("_qid"))
        .withColumn("_sim", cosine(col("_v"), col("_q")))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k)
        .select(col("_qid").as("query_id"), col("_id").as("vec_id"), col("_sim").as("sim"))
    } else {
      def tableSeed(t: Int): String = if (t == 0) seed else s"$seed~$t"
      def withKeys(in: DataFrame, id: String, vec: String): DataFrame =
        in.select(col(id), posexplode(array((0 until nTables).map(t =>
          lshBucket(col(vec), dim, nPlanes, tableSeed(t))): _*)).as(Seq("_t", "_bucket")))
      val corpus = df.select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v"))
        .repartition(parallelism, col("_id"))
      val qvecs = queries.select(col(qIdCol).as("_qid"), col(qVecCol).cast("array<double>").as("_q"))
      // candidates: narrow keys only; a pair colliding in several tables
      // must score once, so dedupe before vectors re-attach
      val cand = withKeys(corpus, "_id", "_v")
        .join(withKeys(qvecs, "_qid", "_q"), Seq("_t", "_bucket"))
        .filter(col("_id") =!= col("_qid"))
        .select(col("_qid"), col("_id")).distinct()
      cand.join(corpus, Seq("_id"))
        .join(broadcast(qvecs), Seq("_qid"))
        .withColumn("_sim", cosine(col("_v"), col("_q")))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k)
        .select(col("_qid").as("query_id"), col("_id").as("vec_id"), col("_sim").as("sim"))
    }
  }
}
