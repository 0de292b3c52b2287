package graft.etl

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The metrics/summary subsystem (reference `tools/metrics.py`) as DataFrame
  * aggregations — a hand-rolled grouping-sets over
  * DataKey(source, fieldname, tablename, concept_id, additional):
  *
  *  - input_count: one per source row (`run.py:219-226`)
  *  - input_date_fields: rows dropped by date normalization (key only;
  *    not rendered as a summary column)
  *  - invalid_source_fields: empty data-column values per (src, field, tgt)
  *  - invalid_date_fields: records dropped by the birthdate component parse
  *  - invalid_person_ids: J1 misses per (src, all, tgt)
  *  - output_count: each written record fans out to up to 7 rollup keys
  *    (`metrics.py:191-259`; person rows use out_record[1] as concept and
  *    out_record[2] as additional, non-person rows use out_record[2])
  *
  * The raw counters are computed ONCE per engine, in parts: one flag
  * aggregate per source ([[sourceCounts]]) and one rollup per built target
  * ([[targetCounts]]), each collected as a node of the engine's schedule as
  * soon as its input is ready (`CarrotEngine.metricsCounts`). [[summary]]
  * and [[runLogCounts]] both read those same rows, so the console counts
  * always agree with the written summary and printing them costs no Spark
  * job.
  *
  * Materialization (A3, `metrics.py:305-343`): rows sorted by the
  * "src~field~table~concept~additional" key string, source truncated at the
  * first '.', rows below the output-count threshold dropped.
  */
object CarrotMetrics {

  import CarrotEngine._

  /** One raw counter at its FULL key (source names untruncated). A key may
    * occur more than once; readers sum. */
  private[etl] final case class Counter(source: String, fieldname: String, tablename: String,
                                        conceptId: String, additional: String,
                                        countType: String, n: Long)

  private def counter(src: Column, field: Column, table: Column, concept: Column,
                      additional: Column, countType: String, n: Column): Column =
    struct(keyed(src, field, table, concept, additional, countType, n): _*)

  private def keyed(src: Column, field: Column, table: Column, concept: Column,
                    additional: Column, countType: String, n: Column): Seq[Column] =
    Seq(src.as("source"), field.as("fieldname"), table.as("tablename"),
      concept.as("concept_id"), additional.as("additional"),
      lit(countType).as("count_type"), n.cast("long").as("n"))

  /** One source's counters: the input count from the raw rows; the date
    * drops and the empty-value counts from the engine's date-normalized
    * (`prepared`) view, which holds exactly the date-valid rows — so
    * input_date_fields = input rows - prepared rows, and empties are
    * counted over the rows that passed the date filter, as the reference
    * counts them after its date check. Both sides feed ONE global
    * aggregate as 0/1 flag columns: a single shuffle per source. */
  private[etl] def sourceCounts(rules: CarrotRules, src: String, raw: DataFrame,
                                prepared: DataFrame): Seq[Counter] = {
    // v1 iterates every mapped data column (term fields AND verbatim-copy
    // source fields); v2's standard builder counts per concept-mapped
    // field and its person builder does not count at all.
    val empties: Seq[(String, String)] = for {
      m <- rules.forSource(src)
      f <- (if (m.target == "person") {
              if (rules.v1Compat) m.conceptMappings.take(1).map(_.sourceField) else Seq.empty
            } else {
              val extra = if (rules.v1Compat) m.conceptMappings.flatMap(_.extraCopies.map(_._1)) else Seq.empty
              (m.conceptMappings.map(_.sourceField) ++ extra).distinct
            })
    } yield f -> m.target

    val flags = "_in" +: "_ok" +: empties.indices.map(i => s"_e$i")
    def flagRow(ones: Map[String, Column]): Seq[Column] =
      flags.map(c => ones.getOrElse(c, lit(0L)).as(c))
    val rawSide = raw.select(flagRow(Map("_in" -> lit(1L))): _*)
    val okSide = prepared.select(flagRow(Map("_ok" -> lit(1L)) ++
      empties.zipWithIndex.map { case ((f, _), i) =>
        s"_e$i" -> when(trim(col(f)) === "", 1L).otherwise(0L)
      }): _*)
    val totals = rawSide.unionByName(okSide).agg(sum(flags.head).as(flags.head),
      flags.tail.map(c => sum(c).as(c)): _*)

    val all = lit("all")
    val keys =
      counter(lit(src), all, all, all, lit(""), "input_count", col("_in")) +:
        counter(lit(src), all, all, all, lit(""), "input_date_fields", col("_in") - col("_ok")) +:
        empties.zipWithIndex.map { case ((f, t), i) =>
          counter(lit(src), lit(f), lit(t), all, lit(""), "invalid_source_fields", col(s"_e$i"))
        }
    collectCounters(totals.select(explode(array(keys: _*)).as("k")).select(col("k.*")))
  }

  /** One built target's counters: invalid_date from the pre-filter
    * candidates (one pass), then ONE grouped pass over the joined records
    * carrying the match flag — rollups and the invalid-person count both
    * derive from the resulting tiny grouped relation. */
  private[etl] def targetCounts(rules: CarrotRules, schema: OmopSchema, b: TargetBuild): Seq[Counter] = {
    val target = b.target
    // the component-parse drop can only happen for targets whose date
    // dests include configured date components (in practice: person) —
    // statically skip the pre-filter pass everywhere else
    val compPossible = rules.tables.filter(_.target == target).exists { m =>
      val treated = if (rules.v1Compat) m.dateDests.takeRight(1) else m.dateDests
      schema.dateComponents(target).keys.exists(treated.contains)
    }
    val invalidDates =
      if (!compPossible) None
      else Some(b.candidates.filter(col(HasComp) && !col(CompOk))
        .groupBy(col(SrcCol), col(DatacolCol)).count()
        .select(keyed(col(SrcCol), col(DatacolCol), lit(target), lit("all"), lit(""), "invalid_date_fields", col("count")): _*))

    val cols = schema.columns(target)
    val c1   = col(cols(1).toLowerCase) // person: gender_concept_id
    val c2   = col(cols(2).toLowerCase) // person: year_of_birth; else concept id
    val g = b.joined
      .groupBy(col(Matched).as("m"), col(SrcCol).as("s"), col(DatacolCol).as("f"), c1.as("c1"), c2.as("c2"))
      .count()

    // one pass over the (tiny) grouped relation: every rollup key plus the
    // invalid-person key is exploded per row and re-summed — not one
    // aggregation job per rollup level
    def rk(src: Column, field: Column, table: Column, concept: Column,
           additional: Column, ct: String): Column =
      struct(src.as("source"), field.as("fieldname"), table.as("tablename"),
        concept.as("concept_id"), additional.as("additional"), lit(ct).as("count_type"))

    val rollKeys: Seq[Column] = {
      val base = Seq(
        rk(col("s"), lit("all"), lit("all"), lit("all"), lit(""), "output_count"),
        rk(lit("all"), lit("all"), lit(target), lit("all"), lit(""), "output_count"),
        rk(col("s"), lit("all"), lit(target), lit("all"), lit(""), "output_count"))
      val extra =
        if (target == "person") Seq(
          rk(col("s"), lit("all"), lit(target), col("c1"), lit(""), "output_count"),
          rk(col("s"), lit("all"), lit(target), col("c1"), col("c2"), "output_count"))
        else Seq(
          rk(col("s"), col("f"), lit(target), col("c2"), lit(""), "output_count"),
          rk(col("s"), lit("all"), lit(target), col("c2"), lit(""), "output_count"),
          rk(lit("all"), lit("all"), lit(target), col("c2"), lit(""), "output_count"),
          rk(lit("all"), lit("all"), lit("all"), col("c2"), lit(""), "output_count"))
      (base ++ extra).map(k => when(col("m"), k)) :+
        when(!col("m"), rk(col("s"), lit("all"), lit(target), lit("all"), lit(""), "invalid_person_ids"))
    }

    val rollups = g
      .select(col("count"), explode(array(rollKeys: _*)).as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("k.source"), col("k.fieldname"), col("k.tablename"),
        col("k.concept_id"), col("k.additional"), col("k.count_type"))
      .agg(sum(col("count")).cast("long").as("n"))
    collectCounters(invalidDates.fold(rollups)(_.unionByName(rollups)))
  }

  private def collectCounters(counts: DataFrame): Seq[Counter] =
    counts.filter(col("n") > 0).collect().toSeq.map(r =>
      Counter(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4),
        r.getString(5), r.getLong(6)))

  private val SummarySchema = StructType(Seq("dsname", "source", "source_field", "target",
    "concept_id", "additional", "incount", "invalid_persid", "invalid_date",
    "invalid_source", "outcount").map(StructField(_, StringType)))

  /** Spark's string order (UTF8_BINARY): unsigned UTF-8 bytes. */
  private val Utf8Order: Ordering[Array[Byte]] = (a, b) => java.util.Arrays.compareUnsigned(a, b)

  def summary(e: CarrotEngine, threshold: Long): DataFrame = {
    val dataset = e.metricsRules.dataset
    // the rendered counters, in column order; outcount last
    val countTypes = Seq("input_count", "invalid_person_ids", "invalid_date_fields",
      "invalid_source_fields", "output_count")
    val rows = e.metricsCounts
      .groupBy(c => (c.source, c.fieldname, c.tablename, c.conceptId, c.additional))
      .toSeq
      .map { case (key, cs) =>
        key -> countTypes.map(ct => cs.iterator.filter(_.countType == ct).map(_.n).sum)
      }
      .filter { case (_, sums) => sums.last >= threshold }
      // the reference sorts by the FULL stringified key (pre-prefix source)
      .sortBy { case ((s, f, t, c, a), _) => Seq(s, f, t, c, a).mkString("~").getBytes(UTF_8) }(Utf8Order)
      .map { case ((s, f, t, c, a), sums) =>
        Row.fromSeq(Seq(dataset, s.takeWhile(_ != '.'), f, t, c, a) ++ sums.map(_.toString))
      }
    e.sparkSession.createDataFrame(rows.asJava, SummarySchema)
  }

  private val RunLogSchema = StructType(Seq(StructField("source", StringType),
    StructField("tablename", StringType), StructField("count_type", StringType),
    StructField("n", LongType)))

  /** The reference's per-file console log counters (`run.py:304-307`):
    * (source, tablename, count_type, n) at the two granularities the log
    * prints — per-source `input_count` and per-(source, target)
    * `output_count` — with FULL source names (the summary table
    * truncates them at the first '.'; the console log does not). Read from
    * the same memoised counters as [[summary]]. */
  def runLogCounts(e: CarrotEngine): DataFrame = {
    val rows = e.metricsCounts
      .filter(c => c.fieldname == "all" && c.conceptId == "all" && c.additional == "" &&
        c.source != "all" &&
        ((c.countType == "input_count" && c.tablename == "all") ||
         (c.countType == "output_count" && c.tablename != "all")))
      .groupMapReduce(c => (c.source, c.tablename, c.countType))(_.n)(_ + _)
      .map { case ((s, t, ct), n) => Row(s, t, ct, n) }
      .toSeq
    e.sparkSession.createDataFrame(rows.asJava, RunLogSchema)
  }
}
