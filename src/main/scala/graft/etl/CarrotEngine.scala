package graft.etl

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.DateNorm
import graft.ops.IdAssign

/** The Spark-native execution of a compiled Carrot rules file.
  *
  * Architecture (SURVEY §7.1) — NOT a port of the reference's row loop:
  * the rules compile into per-(source table, target table) DataFrame plan
  * branches built from literal lookup maps + explode fan-out, the person
  * dictionary becomes a broadcast inner join, and auto-numbering is a
  * [[graft.ops.RangeScan]] dense-ID pass over the range-sorted candidate
  * rows. All data columns stay verbatim strings.
  *
  * Dataflow per source file:
  *   read (all-string + `_row_idx`) → date normalize+filter (T1) →
  *   per mapping/per concept-field branch: validity gate (T2) → literal-map
  *   concept lookup (T4) → explode combos (T5) → OMOP projection
  *   (T6-T11) → union → dense auto-number (T12) → broadcast person join (J1).
  *
  * The run is one dependency schedule. Each node of the DAG is one
  * memoised `Future` that starts as soon as its own inputs are ready, on
  * one engine-owned pool:
  *   source open (person file first) → person dictionary (J2);
  *   the sources of a target → its auto-number; + the dictionary → its J1;
  *   the dictionary → the `person_ids` write; a joined target → its write;
  *   a joined target → its rollup; the targets a source feeds → its flag
  *   aggregate.
  * [[run]], [[runOrdered]], [[personLookup]] and the metrics counters await
  * the nodes they need; [[writeTo]] runs the whole schedule into a sink.
  * Nodes only compose futures and never wait on one another, so the pool
  * can be as small as the widest point of the DAG: the dictionary plus one
  * thread per target.
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
    * person dictionary, each numbered target's IdAssign snapshot). One-shot
    * processes can skip close() — JVM exit reclaims — but long-lived
    * sessions must call it after the last action on the outputs. */
  private val scope = new graft.ops.CacheScope

  /** The schedule's pool. Its threads are daemons and end when idle, so an
    * engine nobody closes (a memoised query run) keeps no JVM alive; every
    * thread it ever made is kept for [[close]] to join. */
  private val threads = new ConcurrentLinkedQueue[Thread]
  private val pool = {
    val n = rules.tables.map(_.target).distinct.size + 1
    val p = new ThreadPoolExecutor(n, n, 30, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable],
      (r: Runnable) => {
        val t = new Thread(r, s"$ThreadPrefix${threads.size}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)

  /** Stop the schedule's pool (waiting for its running nodes) and unpersist
    * all engine-held caches. The output DataFrames remain valid but
    * recompute from source on later actions — in particular, dense IDs
    * would re-sample their range boundaries, so close only after the last
    * consumer ran. */
  def close(): Unit = {
    pool.shutdown()
    threads.forEach(_.join())
    scope.close()
  }

  private def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)

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

  // The node maps below are lazy vals that only CREATE futures. Lazy-val
  // init locks the engine's monitor, so an initialiser must never wait on a
  // future, and a node's body must never touch an engine lazy val: every
  // node gets its inputs as arguments.

  /** One open per source file, the person file's first: it feeds the
    * dictionary, which every J1 waits for. */
  private lazy val sources: Map[String, Future[Opened]] =
    rules.sourceTables.sortBy(_ != personMapping.source).map(s => s -> Future(open(s))).toMap

  /** J2: the person dictionary, built from the RAW person file (strict
    * date-only birthdate validation — not the lax T1 normalizer). */
  private lazy val dictionary: Future[DataFrame] = sources(personMapping.source).map { s =>
    scope.track(PersonLookup.build(s.raw, personMapping.personIdSource, personMapping.dateSource,
      useInputPersonIds, scope).cache())
  }

  /** The person dictionary: `source_subject` → `target_subject`. */
  def personLookup: DataFrame = await(dictionary)

  /** person_ids sink shape (reference K5). */
  def personIds: DataFrame = personIdsOf(personLookup)

  private def personIdsOf(dict: DataFrame): DataFrame =
    dict.select(col("source_subject").as("SOURCE_SUBJECT"), col("target_subject").as("TARGET_SUBJECT"))

  /** Each target numbered once its sources are open, then joined with the
    * dictionary once that is built. */
  private lazy val builds: Map[String, Future[TargetBuild]] =
    rules.tables.groupBy(_.target).map { case (target, mappings) =>
      val inputs = Future.traverse(mappings.map(_.source).distinct)(s => sources(s).map(s -> _))
      target -> inputs.map(in => numberTarget(target, mappings, in.toMap)).zipWith(dictionary)(joinPersons)
    }

  /** The metrics parts, each collected on its own: one rollup per target
    * once it is built, and one flag aggregate per source once the targets
    * reading it are built — by then the source's caches are filled, so
    * the aggregate neither races the auto-numbers to fill them nor holds a
    * thread they need. */
  private lazy val counterParts: Seq[Future[Seq[CarrotMetrics.Counter]]] =
    rules.sourceTables.map { s =>
      val readers = rules.forSource(s).map(_.target).distinct.map(builds)
      Future.sequence(readers).zipWith(sources(s))((_, in) =>
        CarrotMetrics.sourceCounts(rules, s, in.raw, in.prepared))
    } ++ builds.values.map(_.map(CarrotMetrics.targetCounts(rules, schema, _)))

  /** All target tables this rules file populates, each as an OMOP-shaped
    * all-string DataFrame (DDL column order; auto-number assigned; person IDs
    * replaced via the dictionary). */
  def run(): Map[String, DataFrame] = builds.map { case (t, b) => t -> output(await(b), ordered = false) }

  /** Like run(), but rows globally ordered by processing order — byte-exact
    * single-file fidelity with the reference's sequential writer. A numbered
    * target already sits in that order in its id snapshot, so its sort
    * plans away; the person target pays a global sort. */
  def runOrdered(): Map[String, DataFrame] = builds.map { case (t, b) => t -> output(await(b), ordered = true) }

  private def output(b: TargetBuild, ordered: Boolean): DataFrame = {
    val matched = b.joined.filter(col(Matched))
    (if (ordered) matched.orderBy(b.order.map(col): _*) else matched)
      .select(schema.columns(b.target).map(c => col(c.toLowerCase)): _*)
  }

  /** The whole run into `sink`: `person_ids` once the dictionary is built,
    * each target once it is joined, while the metrics parts collect beside
    * the writes, so [[summary]] costs no further Spark job. Every branch
    * ends before this returns; the first failure (in the order above) is
    * then rethrown as it was thrown. */
  def writeTo(sink: (String, DataFrame) => Unit, ordered: Boolean): Unit = {
    val nodes: Seq[Future[Any]] = dictionary.map(d => sink("person_ids", personIdsOf(d))) +:
      (builds.toSeq.map { case (t, b) => b.map(x => sink(t, output(x, ordered))) } ++ counterParts)
    val ended = await(Future.sequence(nodes.map(_.transform(Success(_)))))
    ended.collectFirst { case Failure(e) => e }.foreach(e => throw e)
  }

  /** The metrics/summary subsystem (reference A1/A2/A3, `tools/metrics.py`):
    * keyed counters at fixed rollup levels, materialized as the 11-column
    * summary_mapstream table sorted by stringified key. */
  def summary(threshold: Long = 0): DataFrame = CarrotMetrics.summary(this, threshold)

  /** The raw metrics counters of every part: the summary (at any threshold)
    * and the CLI's run log read these same rows. */
  private[etl] def metricsCounts: Seq[CarrotMetrics.Counter] = counterParts.flatMap(await)

  // internal accessors for CarrotMetrics
  private[etl] def metricsRules: CarrotRules = rules
  private[etl] def sparkSession: SparkSession = spark

  // ------------------------------------------------------------ nodes

  /** A raw source (an under-split one is repartitioned AND cached by
    * `ensureMaterialized`: the cache is what keeps the regex-heavy date
    * filter from being pushed back into a single-task scan, and every
    * source here has ≥2 physical passes anyway — auto-number offsets + final
    * output, or person dictionary + person branch; well-split inputs, the
    * cluster-scale case, are left alone, where scan-side filter pushdown is
    * the right plan; row order is irrelevant, ordering rides on `_row_idx`),
    * and its date-normalized view: the designated datetime column is
    * replaced by its normalized value and unparseable rows are dropped for
    * ALL targets (reference mutates `indata[datetime_col]` in place,
    * `run.py:229-242`). */
  private def open(src: String): Opened = {
    val consumers = rules.forSource(src).size + (if (src == personMapping.source) 1 else 0)
    val read = graft.ops.Parallelize.ensureMaterialized(readSource(src), scope)
    // a well-split multi-consumer source still pays one scan per consumer
    // unless cached; keep the old multi-consumer cache for that case
    val raw = if (consumers > 1 && read.storageLevel == StorageLevel.NONE) scope.track(read.cache()) else read
    // single-pass `normalise_to8601` — bit-identical to the composable
    // reference model in DateNormSpec, ~10× fewer regex executions on the
    // engine's hottest path
    val dateCols = rules.forSource(src).map(_.dateSource).distinct
    val normalized = dateCols.foldLeft(raw) { (d, c) =>
      d.withColumn(c, graft.functions.DateExprs.normalise8601(col(c)))
    }
    val filtered = dateCols.foldLeft(normalized)((d, c) => d.filter(col(c).isNotNull))
    // the normalizer's regex chain is the engine's hottest expression, and it
    // gets evaluated once in the filter AND once in the projection, per
    // physical pass (a range exchange alone makes two passes: sample +
    // shuffle write). When the source is small enough that ensureMaterialized
    // cached it, cache the normalized view too — the regex then runs exactly
    // once per row. Large (well-split) sources stay uncached: at scale the
    // recompute is the right trade against caching a source-sized relation.
    Opened(raw, if (read.storageLevel != StorageLevel.NONE) scope.track(filtered.cache()) else filtered)
  }

  /** A target's candidates, numbered in processing order when the target
    * has an auto-number field. */
  private def numberTarget(target: String, mappings: Seq[TableMapping],
                           in: Map[String, Opened]): Numbered = {
    // (file index, concept-mapping index, rows) per branch
    val branches = mappings.flatMap { m =>
      val fileIdx = rules.sourceTables.indexOf(m.source)
      val src = in(m.source).prepared
      if (target == "person") Seq((fileIdx, 0, buildPersonBranch(m, src, fileIdx)))
      else buildStandardBranches(m, src, fileIdx).zipWithIndex.map { case (b, ci) => (fileIdx, ci, b) }
    }
    val candidates = branches.map(_._3).reduce(_.unionByName(_))
    // a key every branch sets to the same literal orders nothing, and the
    // optimizer folds it out of the snapshot's sort: leave it out, so the
    // write sorts by exactly the order the snapshot has
    val constant = Map(FileIdx -> branches.map(_._1), CmIdx -> branches.map(_._2))
      .collect { case (k, vs) if vs.distinct.size == 1 => k }.toSet
    val order = OrderKeys.filterNot(constant)
    val filtered   = candidates.filter(!col(HasComp) || col(CompOk)).drop(CompOk, HasComp)

    // T12: dense auto-number in processing order, assigned BEFORE the person
    // join — rejected person IDs consume numbers, like the reference
    // (`run.py:266-273` increments before the person_lookup check). The
    // wide candidate rows are numbered in place: IdAssign's range-sorted,
    // cached snapshot is this target's one materialised copy, and J1, the
    // `_matched` filter and the projection keep its partitioning and
    // order, so runOrdered()'s sort by the same key plans no exchange and
    // no sort. A SQL sink (run()) pays that one range shuffle of the wide
    // rows too, where it needs no order.
    val numbered = schema.autoNumberField.get(target) match {
      case Some(a) =>
        IdAssign.withDenseId(filtered, "_auto", lastUsedIds.getOrElse(target, 0L),
            scope, order.map(col): _*)
          .withColumn(a, col("_auto").cast("string"))
          .drop("_auto")
      case None => filtered
    }
    Numbered(target, candidates, numbered, order)
  }

  /** J1: broadcast hash join replacing source person IDs (left join keeps
    * the miss path visible for metrics; the outputs take the inner slice,
    * `_matched` marks the hits). */
  private def joinPersons(n: Numbered, dict: DataFrame): TargetBuild = {
    val pidDest = schema.personIdField.getOrElse(n.target, "person_id").toLowerCase
    val joined = n.rows
      .join(broadcast(dict), n.rows(pidDest) === dict("source_subject"), "left")
      .withColumn(Matched, col("target_subject").isNotNull)
      .withColumn(pidDest, coalesce(col("target_subject"), col(pidDest)))
    // a target without an auto-number (person) has no snapshot: callers
    // that consume it twice (the CLI: table write + metrics summary) opt
    // into caching the joined relation, so its wide pipeline runs once
    val cached = cacheJoined && !schema.autoNumberField.contains(n.target)
    TargetBuild(n.target, n.candidates, if (cached) scope.track(joined.cache()) else joined, n.order)
  }

  // ------------------------------------------------------------ standard

  /** One branch per concept-mapped source field (T13 column pruning is
    * implicit: only referenced columns appear, Catalyst prunes the scan). */
  private def buildStandardBranches(m: TableMapping, src: DataFrame, fileIdx: Int): Seq[DataFrame] = {
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
  private def buildPersonBranch(m: TableMapping, base0: DataFrame, fileIdx: Int): DataFrame = {

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

  /** Name prefix of the schedule pool's threads. */
  val ThreadPrefix = "carrot-etl-"

  /** Processing order, the reference's sequential emit order: the unique
    * key auto-numbering and the ordered write sort by. */
  val OrderKeys: Seq[String] = Seq(FileIdx, RowIdx, CmIdx, ComboOut)

  /** An open source: raw rows and the date-normalized view. */
  private[etl] final case class Opened(raw: DataFrame, prepared: DataFrame)

  /** A target's candidates (pre component-filter, with metadata), its rows
    * (auto-numbered when the target has an auto-number field) and the
    * processing-order keys its rows are numbered and written in. */
  private[etl] final case class Numbered(target: String, candidates: DataFrame, rows: DataFrame,
                                    order: Seq[String])

  /** A built target: [[Numbered]]'s rows left-joined with the person
    * dictionary (`_matched` marks J1 hits), as the outputs and the metrics
    * rollup read it. */
  private[etl] final case class TargetBuild(target: String, candidates: DataFrame,
                                            joined: DataFrame, order: Seq[String])
}
