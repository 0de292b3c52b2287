package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DateNorm
import graft.ops.IdAssign

/** The Spark-native execution of a compiled Carrot rules file.
  *
  * Architecture (SURVEY §7.1) — NOT a port of the reference's row loop:
  * the rules compile into per-(source table, target table) DataFrame plan
  * branches built from literal lookup maps + explode fan-out, the person
  * dictionary becomes a broadcast inner join, and auto-numbering is a
  * zipWithIndex dense-ID pass. All data columns stay verbatim strings.
  *
  * Dataflow per source file:
  *   read (all-string + `_row_idx`) → date normalize+filter (T1) →
  *   per mapping/per concept-field branch: validity gate (T2) → literal-map
  *   concept lookup (T4) → explode combos (T5) → OMOP projection
  *   (T6-T11) → union → dense auto-number (T12) → broadcast person join (J1).
  */
final class CarrotEngine(
    spark: SparkSession,
    schema: OmopSchema,
    rules: CarrotRules,
    readSource: String => DataFrame,
    useInputPersonIds: Boolean = false,
    lastUsedIds: Map[String, Long] = Map.empty,
    personTable: Option[String] = None,
    cacheJoined: Boolean = false) {

  import CarrotEngine._

  /** Lifetime of every cache this engine materializes (raw sources, the
    * person dictionary, IdAssign positioned snapshots). One-shot processes
    * can skip close() — JVM exit reclaims — but long-lived sessions must
    * call it after the last action on the outputs. */
  private val scope = new graft.ops.CacheScope

  /** Unpersist all engine-held caches. The output DataFrames remain valid
    * but recompute from source on later actions — in particular, dense IDs
    * would re-sample their range boundaries, so close only after the last
    * consumer ran. */
  def close(): Unit = scope.close()

  /** V1/V2 guard (reference `tools/args.py:125-299`): ALL person-table
    * mappings must come from exactly one source table — the person file. */
  private val personMapping: TableMapping = {
    val pms = rules.tables.filter(_.target == "person")
    if (pms.isEmpty) sys.error("rules contain no person table mapping")
    val srcs = pms.map(_.source).distinct
    val offenders = personTable match {
      case Some(p) => srcs.filterNot(s => CsvSource.stripCsvExtension(s) == CsvSource.stripCsvExtension(p))
      case None    => if (srcs.size > 1) srcs else Seq.empty
    }
    if (offenders.nonEmpty)
      throw new IllegalArgumentException(
        s"Person properties were mapped from (${offenders.sorted.mkString("['", "', '", "']")}) " +
          s"but can only come from the person file${personTable.map(p => s" person='$p'").getOrElse("")}")
    pms.head
  }

  /** Raw per-source DataFrames. An under-split source is repartitioned AND
    * cached (`ensureMaterialized`): the cache is what keeps the regex-heavy
    * date filter from being pushed back into a single-task scan, and every
    * source here has ≥2 physical passes anyway (auto-number offsets + final
    * output, or person dictionary + person branch). Well-split inputs (the
    * cluster-scale case) are left alone — scan-side filter pushdown is then
    * the right plan. Row order is irrelevant; ordering rides on `_row_idx`. */
  private lazy val rawSources: Map[String, DataFrame] =
    rules.sourceTables.map { s =>
      val consumers = rules.forSource(s).size + (if (s == personMapping.source) 1 else 0)
      val df = graft.ops.Parallelize.ensureMaterialized(readSource(s), scope)
      // a well-split multi-consumer source still pays one scan per consumer
      // unless cached; keep the old multi-consumer cache for that case
      s -> (if (consumers > 1 && df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
              scope.track(df.cache())
            else df)
    }.toMap

  /** J2: the person dictionary, built from the RAW person file (strict
    * date-only birthdate validation — not the lax T1 normalizer).
    *
    * Memoized behind its OWN lock (not an engine lazy val): lazy-val init
    * synchronizes on the engine instance, and `builds` initializes target
    * plans on worker threads while holding that monitor — the dictionary
    * must be initializable from any thread without touching it. */
  private val personLookupRef = new java.util.concurrent.atomic.AtomicReference[DataFrame]()

  def personLookup: DataFrame = {
    val cur = personLookupRef.get()
    if (cur != null) cur
    else personLookupRef.synchronized {
      val again = personLookupRef.get()
      if (again != null) again
      else {
        val built = scope.track(PersonLookup.build(rawSources(personMapping.source),
          personMapping.personIdSource, personMapping.dateSource, useInputPersonIds, scope).cache())
        personLookupRef.set(built)
        built
      }
    }
  }

  /** person_ids sink shape (reference K5). */
  lazy val personIds: DataFrame =
    personLookup.select(col("source_subject").as("SOURCE_SUBJECT"), col("target_subject").as("TARGET_SUBJECT"))

  /** Date-normalized view per source file: the designated datetime column is
    * replaced by its normalized value and unparseable rows are dropped for
    * ALL targets (reference mutates `indata[datetime_col]` in place,
    * `run.py:229-242`). */
  private lazy val prepared: Map[String, DataFrame] = rawSources.map { case (src, df) =>
    // single-pass `normalise_to8601` — bit-identical to the composable
    // reference model in DateNormSpec, ~10× fewer regex executions on the
    // engine's hottest path
    val out = dateColsOf(src).foldLeft(df) { (d, c) =>
      d.withColumn(c, graft.functions.DateExprs.normalise8601(col(c)))
    }
    val filtered = dateColsOf(src).foldLeft(out)((d, c) => d.filter(col(c).isNotNull))
    // the normalizer's regex chain is the engine's hottest expression, and it
    // gets evaluated once in the filter AND once in the projection, per
    // physical pass (a range exchange alone makes two passes: sample +
    // shuffle write). When the source is small enough that ensureMaterialized
    // cached it, cache the normalized view too — the regex then runs exactly
    // once per row. Large (well-split) sources stay uncached: at scale the
    // recompute is the right trade against caching a source-sized relation.
    src -> (if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
              scope.track(filtered.cache())
            else filtered)
  }

  private def dateColsOf(src: String): Seq[String] = rules.forSource(src).map(_.dateSource).distinct

  /** Per-target instrumented plan: candidates (pre component-filter, with
    * metadata), numbered (filtered + auto-numbered), joined (left join with
    * the person dictionary; `_matched` marks J1 hits). */
  final case class TargetBuild(target: String, candidates: DataFrame, joined: DataFrame)

  private lazy val builds: Map[String, TargetBuild] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // a small dedicated pool: enough to overlap the Spark jobs (which are
    // mostly waiting on the cluster), without stampeding the single-JVM
    // codegen compiler from 32 fork-join workers at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // per-target construction is EAGER (the dense-ID assigner collects its
    // partition offsets), so run the person-dictionary build and every
    // target as concurrent Spark jobs — the scheduler interleaves them and
    // wall-clock becomes max, not sum. EVERY engine lazy val the workers
    // touch must be forced on THIS thread first: lazy-val init locks the
    // instance monitor, which this thread holds while initializing `builds`
    // — a worker hitting an uninitialized lazy val would deadlock against
    // Await below. (personLookup memoizes behind its own lock instead.)
    prepared
    val dictFuture = Future(personLookup)
    val futures = rules.tables.groupBy(_.target).map { case (target, mappings) =>
      target -> Future(buildTarget(target, mappings))
    }
    try {
      Await.result(dictFuture, Duration.Inf)
      futures.map { case (t, f) => t -> Await.result(f, Duration.Inf) }
    } finally pool.shutdown()
  }

  private def buildTarget(target: String, mappings: Seq[TableMapping]): TargetBuild = {
      val branches = mappings.flatMap { m =>
        if (target == "person") Seq(buildPersonBranch(m)) else buildStandardBranches(m)
      }
      val candidates = branches.reduce(_.unionByName(_))
      val filtered   = candidates.filter(!col(HasComp) || col(CompOk)).drop(CompOk, HasComp)

      // T12: dense auto-number in processing order, assigned BEFORE the person
      // join — rejected person IDs consume numbers, like the reference
      // (`run.py:266-273` increments before the person_lookup check).
      // the candidate rows are WIDE (every OMOP column): number a narrow
      // key-only slice and join the ids back (broadcast when small), so the
      // wide payload is computed once and never range-shuffled or cached
      val numbered = schema.autoNumberField.get(target) match {
        case Some(auto) =>
          IdAssign.withDenseIdJoined(filtered, "_auto", lastUsedIds.getOrElse(target, 0L),
              scope, Seq(FileIdx, RowIdx, CmIdx, ComboOut))
            .withColumn(auto, col("_auto").cast("string"))
            .drop("_auto")
        case None => filtered
      }

      // J1: broadcast hash join replacing source person IDs (left join keeps
      // the miss path visible for metrics; result takes the inner slice)
      val pidDest = schema.personIdField.getOrElse(target, "person_id").toLowerCase
      // no extra persist here: the dense-ID assigner materializes the
      // numbered candidates internally, so re-deriving `joined` for a
      // second consumer (metrics) only replays the cheap broadcast join
      val joined0 = numbered
        .join(broadcast(personLookup), numbered(pidDest) === personLookup("source_subject"), "left")
        .withColumn(Matched, col("target_subject").isNotNull)
        .withColumn(pidDest, coalesce(col("target_subject"), col(pidDest)))
      // callers that consume every target more than once (the CLI: table
      // write + metrics summary) opt into caching the joined relation, so
      // the wide candidate pipeline executes exactly once per target
      val joined = if (cacheJoined) scope.track(joined0.cache()) else joined0

      TargetBuild(target, candidates, joined)
  }

  /** All target tables this rules file populates, each as an OMOP-shaped
    * all-string DataFrame (DDL column order; auto-number assigned; person IDs
    * replaced via the dictionary). */
  def run(): Map[String, DataFrame] = builds.map { case (target, b) =>
    target -> b.joined.filter(col(Matched)).select(schema.columns(target).map(c => col(c.toLowerCase)): _*)
  }

  /** Like run(), but rows globally ordered by processing order — byte-exact
    * single-file fidelity with the reference's sequential writer. Costs a
    * global sort; use run() + TsvSink.writeDir at scale. */
  def runOrdered(): Map[String, DataFrame] = builds.map { case (target, b) =>
    target -> b.joined.filter(col(Matched))
      .orderBy(col(FileIdx), col(RowIdx), col(CmIdx), col(ComboOut))
      .select(schema.columns(target).map(c => col(c.toLowerCase)): _*)
  }

  /** The metrics/summary subsystem (reference A1/A2/A3, `tools/metrics.py`):
    * keyed counters at fixed rollup levels, materialized as the 11-column
    * summary_mapstream table sorted by stringified key. */
  def summary(threshold: Long = 0): DataFrame = CarrotMetrics.summary(this, threshold)

  /** The raw metrics counters, collected on first use and kept: the summary
    * (at any threshold) and the CLI's run log read these same rows. */
  private[etl] lazy val metricsCounts: Seq[CarrotMetrics.Counter] = CarrotMetrics.rawCounts(this)

  // internal accessors for CarrotMetrics
  private[etl] def metricsSchema: OmopSchema = schema
  private[etl] def metricsRules: CarrotRules = rules
  private[etl] def metricsRaw: Map[String, DataFrame] = rawSources
  private[etl] def metricsPrepared: Map[String, DataFrame] = prepared
  private[etl] def metricsBuilds: Map[String, TargetBuild] = builds
  private[etl] def sparkSession: SparkSession = spark

  // ------------------------------------------------------------ standard

  /** One branch per concept-mapped source field (T13 column pruning is
    * implicit: only referenced columns appear, Catalyst prunes the scan). */
  private def buildStandardBranches(m: TableMapping): Seq[DataFrame] = {
    val src = prepared(m.source)
    val fileIdx = rules.sourceTables.indexOf(m.source)

    m.conceptMappings.zipWithIndex.map { case (cm, ci) =>
      val (known, fallback) = cm.effectiveCombos(rules.v1Compat)
      val v     = col(cm.sourceField)
      val valid = trim(v) =!= ""

      // ONE literal map value -> array of combos (each combo a
      // dest->concept map); a single lookup + posexplode per row keeps the
      // expression tree small (per-dest array literals made the projection
      // overflow whole-stage codegen into interpreted mode)
      def comboMaps(cs: Seq[Map[String, Long]]): Seq[Map[String, String]] =
        cs.map(_.map { case (d, c) => d -> c.toString })
      val comboLit = typedLit(known.map { case (k, c) => k -> comboMaps(c) })
      val fbLit: Column =
        if (fallback.nonEmpty) typedLit(comboMaps(fallback))
        else lit(null).cast("array<map<string,string>>")
      val combos = when(valid, coalesce(element_at(comboLit, v), fbLit))

      val dests = (known.valuesIterator.flatten ++ fallback.iterator).flatMap(_.keys).toSeq.distinct
      // posexplode: the combo index feeds the deterministic auto-number order
      val posExploded = src.select(col("*") +:
        Seq(posexplode(combos).as(Seq(ComboIdx, ComboCol))): _*)

      val conceptValue: Map[String, Column] =
        dests.map(d => d -> element_at(col(ComboCol), d)).toMap

      projectOmop(m, posExploded, conceptValue,
        origs = cm.originalValueFields.map(_ -> v).toMap ++ cm.extraCopies.map { case (sf, df) => df -> col(sf) },
        fileIdx = fileIdx, cmIdx = ci, datacol = cm.sourceField)
    }
  }

  // ------------------------------------------------------------ person

  /** Person rows merge concept contributions from ALL mapped fields of the
    * row (reference `record_builder.py:199-292` / `core.py:78-96`), with
    * first-row-wins dedupe per source ID in v2 (D1: the row claims the slot
    * even if it yields no record) and NO cross-row dedupe in v1 (D2). */
  private def buildPersonBranch(m: TableMapping): DataFrame = {
    val fileIdx = rules.sourceTables.indexOf(m.source)
    val base0 = prepared(m.source)

    val base =
      if (rules.v1Compat) base0
      else {
        // v2 D1: the FIRST row per source person id claims the slot
        val w = Window.partitionBy(col(m.personIdSource)).orderBy(col(CsvSource.RowIdx))
        base0.withColumn("_prn", row_number().over(w)).filter(col("_prn") === 1).drop("_prn")
      }

    // per-field compiled contributions
    final case class FieldPlan(cm: ConceptMapping, valid: Column, matchLen: Column,
                               conceptArr: String => Column, matched: Column, applyAlways: Boolean)

    val plans = m.conceptMappings.map { cm =>
      val v     = col(cm.sourceField)
      val valid = trim(v) =!= ""
      // v1 person concepts: dict terms are exact-match-only; scalar terms were
      // flattened into the plain list and apply unconditionally.
      val exact    = (cm.valueMappings.keySet - "*").map(k => k -> Rules.combinations(cm.valueMappings(k))).toMap
      val wildcard = cm.valueMappings.get("*").map(Rules.combinations).getOrElse(Seq.empty)

      val lenLit = typedLit(exact.map { case (k, c) => k -> c.length })
      val fbLen: Column = if (wildcard.nonEmpty) lit(wildcard.length) else lit(null).cast("int")
      val matchLen =
        if (rules.v1Compat) {
          val exactLen = element_at(lenLit, v)
          if (wildcard.nonEmpty) coalesce(when(valid, exactLen), lit(wildcard.length))
          else when(valid, exactLen)
        } else when(valid, coalesce(element_at(lenLit, v), fbLen))

      def conceptArr(d: String): Column = {
        val knownArr = typedLit(exact.map { case (k, c) => k -> c.map(_.get(d).map(_.toString).orNull) })
        val fbArr: Column =
          if (wildcard.nonEmpty) typedLit(wildcard.map(_.get(d).map(_.toString).orNull))
          else lit(null).cast("array<string>")
        if (rules.v1Compat && wildcard.nonEmpty) coalesce(element_at(knownArr, v), fbArr)
        else if (rules.v1Compat) element_at(knownArr, v)
        else when(matchLen.isNotNull, coalesce(element_at(knownArr, v), fbArr))
      }
      FieldPlan(cm, valid, matchLen, conceptArr, matched = matchLen.isNotNull,
        applyAlways = rules.v1Compat && wildcard.nonEmpty)
    }

    val anyConcept = plans.map(_.matched).reduceOption(_ || _).getOrElse(lit(false))
    val anyOrig = plans.filter(_.cm.originalValueFields.nonEmpty).map { p =>
      // v1 nests copies under the term values → value-gated; v2 gates on validity only
      if (rules.v1Compat && (p.cm.valueMappings.keySet - "*").nonEmpty) p.matched else p.valid
    }.reduceOption(_ || _).getOrElse(lit(false))

    // record-emission gate (dialect difference, SURVEY D1/D2 + core.py:50-53):
    // v1 emits whenever the first data field is non-empty; v2 only when some
    // field contributed concepts or original values.
    val gate =
      if (rules.v1Compat)
        plans.headOption.map(_.valid).getOrElse(lit(true))
      else anyConcept || anyOrig

    val lenCandidates = plans.map(p => coalesce(p.matchLen, lit(0))) :+ lit(1)
    val maxLen = if (lenCandidates.size == 1) lenCandidates.head else greatest(lenCandidates: _*)

    val exploded = base
      .filter(gate)
      .withColumn(ComboIdx, explode(sequence(lit(0), maxLen - 1)))

    // dest -> concept value, later fields win (Python dict.update order)
    val destsPerPlan = plans.map { p =>
      p -> (p.cm.valueMappings.valuesIterator.flatMap(_.keys)).toSeq.distinct
    }
    val allDests = destsPerPlan.flatMap(_._2).distinct
    val conceptValue: Map[String, Column] = allDests.map { d =>
      val candidates = destsPerPlan.reverse.collect { case (p, ds) if ds.contains(d) =>
        val arr = p.conceptArr(d)
        element_at(arr, least(col(ComboIdx) + 1, size(arr)))
      }
      d -> coalesce(candidates: _*)
    }.toMap

    // original values: later fields win; gated per dialect
    val origCols: Map[String, Column] = {
      val pairs = for {
        p <- plans
        conditional = rules.v1Compat && (p.cm.valueMappings.keySet - "*").nonEmpty
        gateCol = if (conditional) p.matched else p.valid
        d <- p.cm.originalValueFields
      } yield d -> when(gateCol, col(p.cm.sourceField))
      pairs.groupBy(_._1).map { case (d, cs) => d -> coalesce(cs.reverse.map(_._2): _*) }
    }

    projectOmop(m, exploded, conceptValue, origCols, fileIdx, cmIdx = 0,
      datacol = m.conceptMappings.headOption.map(_.sourceField).getOrElse("all"))
  }

  // ------------------------------------------------------------ projection

  /** Project a fanned-out source row to the target's OMOP columns (DDL
    * order). Precedence mirrors the reference's build order (last write
    * wins): notnull-numeric "0" defaults < concepts < original-value copies <
    * person-id < date mappings. */
  private def projectOmop(m: TableMapping, df: DataFrame,
                          concepts: Map[String, Column], origs: Map[String, Column],
                          fileIdx: Int, cmIdx: Int, datacol: String): DataFrame = {
    val norm     = col(m.dateSource)
    val linked   = schema.datetimeLinked(m.target)
    val comps    = schema.dateComponents(m.target)
    val notnull  = schema.notnullNumeric(m.target)
    val compDate = DateNorm.strictDate(substring_index(norm, " ", 1))

    // date-derived columns (T8/T9/T10). v1 quirk: the linked-twin /
    // component treatment runs on the stale loop variable after the copy
    // loop (`core.py:104-154`), so only the LAST date dest of the infield
    // gets it; v2 treats every dest (`record_builder.py:84-90`).
    val treatedDests = if (rules.v1Compat) m.dateDests.takeRight(1) else m.dateDests
    val dateCols: Map[String, Column] = m.dateDests.map(_ -> norm).toMap ++
      treatedDests.flatMap { dest =>
        val twin = linked.get(dest).map(_ -> DateNorm.dateOnly(norm)).toSeq
        val compCols = comps.get(dest).toSeq.flatMap { c =>
          Seq(c.get("year").map(_ -> DateNorm.yearStr(compDate)),
              c.get("month").map(_ -> DateNorm.monthStr(compDate)),
              c.get("day").map(_ -> DateNorm.dayStr(compDate))).flatten
        }
        twin ++ compCols
      }.toMap

    val outCols = schema.columns(m.target).map { c =>
      val lc = c.toLowerCase
      val value =
        dateCols.get(lc)
          .orElse(if (lc == m.personIdDest.toLowerCase) Some(col(m.personIdSource)) else None)
          .orElse(origs.collectFirst { case (d, v) if d.equalsIgnoreCase(lc) => v })
          .orElse(concepts.collectFirst { case (d, v) if d.equalsIgnoreCase(lc) => v })
          .getOrElse(lit(null).cast("string"))
      val withDefault =
        if (notnull.contains(lc)) coalesce(value, lit("0"))
        else coalesce(value, lit(""))
      withDefault.as(lc)
    }

    // CompOk is only consulted when HasComp; skip the strict-date parse
    // entirely for targets without component fields (e.g. measurement) —
    // it would otherwise run 6 regexes + 3 calendar parses per output row
    val hasComp = comps.keys.exists(treatedDests.contains)
    df.select(outCols ++ Seq(
      lit(m.source).as(SrcCol), lit(datacol).as(DatacolCol),
      lit(fileIdx).as(FileIdx), col(CsvSource.RowIdx).as(RowIdx),
      lit(cmIdx).as(CmIdx), col(ComboIdx).as(ComboOut),
      (if (hasComp) compDate.isNotNull else lit(true)).as(CompOk), lit(hasComp).as(HasComp)): _*)
  }
}

object CarrotEngine {
  val FileIdx    = "_file_idx"
  val RowIdx     = "_row_idx_out"
  val CmIdx      = "_cm_idx"
  val ComboIdx   = "_combo_idx"
  val ComboCol   = "_combo"
  val ComboOut   = "_combo_idx_out"
  val CompOk     = "_comp_ok"
  val HasComp    = "_has_comp"
  val SrcCol     = "_src"
  val DatacolCol = "_datacol"
  val Matched    = "_matched"
}
