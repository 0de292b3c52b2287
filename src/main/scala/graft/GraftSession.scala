package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every session gets
  * [[GraftExtensions]], `spark.sql.session.timeZone=UTC` (dates never shift
  * with the host zone), `spark.sql.legacy.parquet.nanosAsLong=true`
  * (TIMESTAMP(NANOS) parquet reads as raw ticks instead of failing; set
  * before any read, so no reader mutates session conf mid-run) and log
  * level WARN.
  *
  *  - [[local]]: `local[cpus]`, `cpus` shuffle partitions, UI off — Bench,
  *    Verify, the specs and the dev harnesses;
  *  - [[cli]]: master from `-Dspark.master`, else `SPARK_MASTER`, else
  *    `local[*]` — the CLIs, which may run under spark-submit.
  *
  * An existing session is returned by `getOrCreate` with the SQL confs
  * applied to it, so a caller that set a session up first keeps it.
  */
object GraftSession {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else 4. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).getOrElse(4)

  def local(cpus: Int = defaultCpus): SparkSession =
    build(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))

  def cli(appName: String, extraConfs: (String, String)*): SparkSession = {
    val master = sys.props.get("spark.master").orElse(sys.env.get("SPARK_MASTER"))
      .getOrElse("local[*]")
    build(extraConfs.foldLeft(SparkSession.builder().appName(appName).master(master)) {
      case (b, (k, v)) => b.config(k, v)
    })
  }

  private def build(b: SparkSession.Builder): SparkSession = {
    val spark = b.withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
