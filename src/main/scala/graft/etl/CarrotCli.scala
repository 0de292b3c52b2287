package graft.etl

import org.apache.spark.sql.SparkSession

import graft.{Argv, GraftSession}

/** CLI entry point mirroring the reference's `carrot-transform run` surface
  * (`tools/args.py:340-395`, `cli/subcommands/run.py:28-60`): rules file +
  * inputs + output (+ optional DDL/config overrides, last-used-ids seed,
  * person-ID passthrough, summary threshold).
  *
  * `--inputs` / `--output` accept a directory, a SQL database URL, or a
  * `minio:` URL (see [[Dispatch]]). Options fall back to environment
  * variables with the reference's names (RULES_FILE, INPUTS, OUTPUT, PERSON,
  * OMOP_DDL_FILE, OMOP_CONFIG_FILE — `tools/args.py:345-368`).
  *
  * Usage:
  *   runMain graft.etl.CarrotCli \
  *     --rules-file R.json --inputs DIR|URL --output DIR|URL \
  *     [--person NAME] [--omop-ddl-file F] [--omop-config-file F] \
  *     [--use-input-person-ids N|Y] [--last-used-ids-file F] \
  *     [--log-file-threshold N] [--sep ,] [--v2 N|Y] \
  *     [--output-mode single|dir]
  *
  * `--output-mode dir` writes each output table as a DIRECTORY of part
  * files in parallel (the scale path; no sequential single-file merge);
  * the default `single` matches the reference's one-file-per-table layout
  * byte for byte.
  *
  * The run itself is [[CarrotEngine.writeTo]]: the engine's one dependency
  * schedule opens the sources together, writes `person_ids` once the
  * dictionary is built and each target once it is numbered and joined,
  * with the metrics parts collecting beside the writes — every sink, SQL
  * ones included, is written concurrently. A failed branch is rethrown as
  * the sink threw it, after the other branches ended. Then
  * `summary_mapstream` is written and the run log printed from the
  * collected counters.
  *
  * The session is [[graft.GraftSession.cli]]'s (UTC, nanosAsLong — the
  * engine stringifies all inputs, so a nanos column reads as its raw tick
  * count, verbatim) plus
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`: AQE
  * also sizes the shuffles of the queries the engine caches (the `IdAssign`
  * range snapshots, the person dictionary, the joined person target)
  * instead of a fixed `spark.sql.shuffle.partitions` each. On an existing
  * session `getOrCreate` applies them to it too.
  */
object CarrotCli {

  /** `--person` accepts a bare table name only (reference
    * `tools/args.py:18`, PERSON_TABLE_PATTERN). */
  private val PersonTablePattern = "^[a-zA-Z_][a-zA-Z0-9_]*$"

  /** Option → environment-variable fallback, as in the reference. */
  private val EnvNames = Map(
    "--rules-file"       -> "RULES_FILE",
    "--inputs"           -> "INPUTS",
    "--output"           -> "OUTPUT",
    "--person"           -> "PERSON",
    "--omop-ddl-file"    -> "OMOP_DDL_FILE",
    "--omop-config-file" -> "OMOP_CONFIG_FILE")

  def main(args: Array[String]): Unit = run(args, sys.env)

  private val KnownOptions = Set(
    "--rules-file", "--inputs", "--output", "--person",
    "--omop-ddl-file", "--omop-config-file", "--use-input-person-ids",
    "--last-used-ids-file", "--log-file-threshold", "--sep", "--v2",
    "--output-mode")

  /** The `--last-used-ids-file` TSV, `table \t last_id` per line: each
    * table's counter resumes at last_id + 1 (S6, `person_helpers.py:16-24`).
    * Blank lines are skipped; a malformed line fails naming the file and
    * the line. */
  private def readLastUsedIds(file: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().zipWithIndex.filter(_._1.nonEmpty).map { case (l, i) =>
      val entry = l.split("\t") match {
        case Array(table, last, _*) => last.trim.toLongOption.map(table -> _)
        case _ => None
      }
      entry.getOrElse(throw new IllegalArgumentException(
        s"$file:${i + 1}: expected 'table<TAB>last_used_id', got '$l'"))
    }.toMap
    finally src.close()
  }

  /** Testable entry: argv + an explicit environment. */
  def run(args: Array[String], env: Map[String, String]): Unit =
    run(args, env, System.err.println(_: String))

  /** `log` receives the reference's console lines (`logger.py`;
    * `run.py:304-307,341`) — injectable so specs assert the lines as
    * data; production routes them to stderr like the reference's
    * StreamHandler. */
  def run(args: Array[String], env: Map[String, String],
          log: String => Unit): Unit = {
    val startNanos = System.nanoTime()
    val argv = Argv.parse(args, KnownOptions)
    def opt(k: String): Option[String] = argv.get(k).orElse(EnvNames.get(k).flatMap(env.get))
    def req(k: String): String = opt(k).getOrElse(sys.error(s"missing required option $k"))

    val rulesFile = req("--rules-file")
    val inputs    = req("--inputs")
    val output    = req("--output")
    // bundled-resource defaults, same spelling as the reference's
    // (tools/args.py:380,389); `@carrot/` resolves on the classpath
    // (AtPath), explicit file paths still override
    val ddlFile   = opt("--omop-ddl-file").getOrElse(
      "@carrot/config/OMOPCDM_postgresql_5.3_ddl.sql")
    val cfgFile   = opt("--omop-config-file").getOrElse(
      "@carrot/config/config.json")
    val flags     = Argv.Flags(argv)
    val threshold = flags.long("--log-file-threshold", 0L)
    val usePids   = argv.getOrElse("--use-input-person-ids", "N") != "N"
    val sep       = argv.getOrElse("--sep", ",")
    val strictV2  = argv.getOrElse("--v2", "N") != "N"
    // `single` (default) = reference-compatible one file per table, byte-
    // exact against the goldens; `dir` = the scale path, a directory of
    // part files per table written in parallel (skips the sequential
    // single-file merge — the dominant cost of a large write)
    val outMode   = flags.choice("--output-mode", "single", "single", "dir")

    val person = opt("--person")
    person.filterNot(_.matches(PersonTablePattern)).foreach { p =>
      throw new IllegalArgumentException(
        s"'$p' is not a valid person file/table name. " +
          "it needs to be just the name without any path or extension")
    }

    val lastUsed: Map[String, Long] =
      argv.get("--last-used-ids-file").map(readLastUsedIds).getOrElse(Map.empty)

    val preexisting = SparkSession.getDefaultSession.isDefined
    // dense ids stay exact under AQE: IdAssign reads offsets and positions
    // from one snapshot
    val spark = GraftSession.cli("carrot-transform-spark",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

    val schema = OmopSchema.fromFiles(ddlFile, cfgFile)
    val rules  = Rules.fromFile(rulesFile, schema)
    // the v2 entry point refuses v1-dialect rules instead of silently
    // running in compat mode (reference orchestrator.py:309-310)
    if (strictV2 && rules.v1Compat)
      throw new IllegalArgumentException("Rules file is not in v2 format!")

    // V5: warn (never abort) on rules-declared sources without data and
    // input files without rules (reference file_helpers.py:47-61)
    Dispatch.listSourceNames(spark, inputs).foreach { avail =>
      Dispatch.rulesFilesMismatch(rules.sourceTables, avail)
        .foreach(System.err.println)
    }

    val engine = new CarrotEngine(spark, schema, rules,
      Dispatch.sourceReader(spark, inputs, sep), usePids, lastUsed,
      personTable = person,
      // a target without an auto-number field (person) is consumed twice,
      // write + summary; numbered targets already read their id snapshot
      cacheJoined = true)

    val write = Dispatch.outputTarget(spark, output, dirMode = outMode == "dir")
    // file-ish sinks get the reference's sequential row order; a SQL table
    // has no observable order, so skip the global sort there
    val ordered = !Dispatch.isSql(output, spark.sparkContext.hadoopConfiguration) ||
      Dispatch.isMinio(output)
    try {
      engine.writeTo(write, ordered)
      write("summary_mapstream", engine.summary(threshold))
    } finally engine.close()

    // Reference logging surface (logger.py; run.py:304-307,341): one
    // INPUT line per source file (input count + time since start), a
    // TARGET line per mapped table — zero counts included, the reference
    // initializes every mapped target's counter — then the 80-dash
    // separator and the final elapsed line. The counts are the raw
    // counters the summary already collected (no Spark job); NEVER
    // thresholded (the reference logs its raw loop counters, the threshold
    // only filters the written summary).
    val logRows = CarrotMetrics.runLogCounts(engine).collect()
    val inCounts = logRows.filter(_.getAs[String]("count_type") == "input_count")
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n")).toMap
    val outCounts = logRows.filter(_.getAs[String]("count_type") == "output_count")
      .map(r => (r.getAs[String]("source"), r.getAs[String]("tablename")) -> r.getAs[Long]("n"))
      .toMap
    def sinceStart: Double = (System.nanoTime() - startNanos) / 1e9
    for (src <- rules.sourceTables) {
      log(f"INPUT file data : $src: input count ${inCounts.getOrElse(src, 0L)}, " +
        f"time since start $sinceStart%.5g secs")
      for (tgt <- rules.forSource(src).map(_.target).distinct)
        log(s"TARGET: $tgt: output count ${outCounts.getOrElse((src, tgt), 0L)}")
    }
    log("-" * 80)

    // a test harness may have handed us its own live session — leave it up
    if (!preexisting) spark.stop()
    log(f"Elapsed time = ${(System.nanoTime() - startNanos) / 1e9}%.5f secs")
  }
}
