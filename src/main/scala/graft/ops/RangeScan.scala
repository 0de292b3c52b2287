package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, StringType, StructField, StructType}

/** Distributed two-pass prefix scan over a range-partitioned snapshot (the
  * classic parallel scan; Blelloch, "Prefix Sums and Their Applications",
  * 1990). The only code that builds such a snapshot; [[IdAssign]],
  * [[BudgetSelect]], [[Stats.ksDistance]], [[Stats.calibrateScores]],
  * [[Stats.weightedQuantiles]] and the [[TextAnalysis]] packs run on it.
  *
  * A global running sum written as one unpartitioned window funnels the
  * whole input through ONE task. The scan instead:
  *
  *   1. range-partitions by (group, order…) and sorts within partitions, so
  *      partitions come out in global order and each group occupies a
  *      contiguous, ordered run of partitions. No partition count is given:
  *      a fixed count would pin the exchange at that width even for tiny
  *      inputs, while the by-column form lets AQE coalesce it;
  *   2. decodes the partition id from `monotonically_increasing_id() >> 33`
  *      (the partition index sits in the high bits). A `spark_partition_id`
  *      window would cost an extra hash exchange and sort; the decode needs
  *      neither. The low 33 bits are the 0-based row position within the
  *      partition, in the sorted order, for callers that ask for it;
  *   3. collects the per-(partition, group) measure sums in ONE job — driver
  *      metadata, about partitions + groups rows — and prefix-sums them per
  *      group into typed [[RangeScan.Cell]]s: each cell's total and the sum
  *      of the group's earlier cells (its offset);
  *   4. applies the offsets back: either the caller's own specialised step,
  *      or [[withOffsets]] (broadcast join on (pid, group)) plus
  *      [[running]] (a window keyed by (pid, group), so its state is bounded
  *      by one partition's share of one group).
  *
  * SNAPSHOT CONTRACT. The snapshot is cached, and the cache is what makes
  * the scan correct: offsets and positions must see the same partition
  * boundaries. An uncached range exchange may re-sample its boundaries for
  * each consumer (and AQE may re-plan it), shifting rows across pids while
  * the collected offsets stay put — the ids or sums come out silently wrong.
  * Whether AQE coalesces the cached exchange at all is a session choice
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`, which
  * `CarrotCli` sets); coalescing only merges adjacent range partitions, so
  * either way the results are the same.
  *
  * CACHE LIFETIME. The snapshot is tracked in the caller's [[CacheScope]].
  * Every action on a result derived from it must run BEFORE that scope
  * closes: a re-evaluation after unpersist rebuilds the exchange and pairs
  * rows with stale offsets. The default [[CacheScope.noop]] never releases.
  *
  * Sums keep Spark's type ([[RangeScan.Sum]]): long sums stay exact longs,
  * decimal sums stay decimals, and the driver only adds them.
  */
final class RangeScan private (val rows: DataFrame, pid: String,
                               group: Option[Column], order: Seq[Column]) {
  import RangeScan._

  private val keys = col(pid) +: group.toSeq
  private val (cellPid, cellGroup) = (s"${pid}_c", s"${pid}_cg")

  /** The one collect job (it also materialises the snapshot): one cell per
    * (partition, group) with the sums of `measures` (null sums read as
    * zero), prefix-summed per group. Groups come in no particular order;
    * each group's cells come in partition order. */
  def cells[T](measures: Column*)(implicit s: Sum[T]): Seq[Cell[T]] =
    cellsWith(measures, Nil).map(_._1)

  /** [[cells]], each paired with the values of the aggregate `extras` over
    * the cell's rows. */
  def cellsWith[T](measures: Seq[Column], extras: Seq[Column])
                  (implicit s: Sum[T]): Seq[(Cell[T], Row)] = {
    val aggs = measures.map(sum) ++ extras
    val at = keys.size
    val agg = rows.groupBy(col(pid) +: group.map(_.as(cellGroup)).toSeq: _*)
      .agg(aggs.head, aggs.tail: _*)
    val sumTypes = agg.schema.fields.slice(at, at + measures.size).map(_.dataType).toSeq
    require(sumTypes == s.types, s"sums of type $sumTypes read as ${s.types}")
    val raw = agg.collect()
      .map(r => (r.getLong(0), if (group.isEmpty) None else Option(r.getString(1)),
        s.read(r, at), Row.fromSeq(r.toSeq.drop(at + s.types.size))))
    raw.groupBy(_._2).values.toSeq.flatMap { cs =>
      var acc = s.zero
      cs.sortBy(_._1).map { case (p, g, t, x) =>
        val off = acc
        acc = s.plus(acc, t)
        (Cell(p, g, t, off), x)
      }
    }
  }

  /** The snapshot's rows inner-joined with one broadcast driver row per
    * listed cell, carrying `values` as `fields`; rows of unlisted cells drop
    * out. */
  def withCells(values: Seq[(Cell[_], Seq[Any])], fields: (String, DataType)*): DataFrame = {
    val keyFields = StructField(cellPid, LongType, nullable = false) +:
      group.map(_ => StructField(cellGroup, StringType)).toSeq
    val table = rows.sparkSession.createDataFrame(
      java.util.Arrays.asList(values.map { case (c, vs) =>
        Row.fromSeq((c.pid +: group.map(_ => c.group.orNull).toSeq) ++ vs) }: _*),
      StructType(keyFields ++ fields.map { case (n, t) => StructField(n, t, nullable = false) }))
    val byPid = col(pid) === col(cellPid)
    rows.join(broadcast(table), group.fold(byPid)(g => byPid && (g <=> col(cellGroup))))
      .drop(cellPid, cellGroup)
  }

  /** Each row with its cell's offsets, named `names` (one per measure). */
  def withOffsets[T](cells: Seq[Cell[T]], names: String*)(implicit s: Sum[T]): DataFrame =
    withCells(cells.map(c => c -> s.values(c.offset)), names.zip(s.types): _*)

  /** Running sum of `measure` within the row's cell, in scan order: up to
    * and including the row, or strictly before it (null on a cell's first
    * row). Add the cell offset for the running sum within the group. */
  def running(measure: Column, inclusive: Boolean): Column =
    sum(measure).over(Window.partitionBy(keys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, if (inclusive) Window.currentRow else -1))
}

object RangeScan {

  /** Snapshot `df` range-partitioned by (`group` cast to string, `order`…),
    * sorted within partitions, with the partition id in column `pid` (and,
    * given `pos`, the 1-based row position within the partition), cached
    * and tracked in `scope`. `order` must make a total order within a group
    * for the scan to be deterministic. */
  def apply(df: DataFrame, pid: String, scope: CacheScope, group: Option[Column],
            order: Seq[Column], pos: Option[String] = None): RangeScan = {
    val g = group.map(_.cast("string"))
    val sortKeys = g.toSeq ++ order
    val sorted = df.repartitionByRange(sortKeys: _*).sortWithinPartitions(sortKeys: _*)
    val mid = s"${pid}_mid"
    val ided = sorted.withColumn(mid, monotonically_increasing_id())
      .withColumn(pid, shiftright(col(mid), 33))
    val positioned = pos.fold(ided)(p =>
      ided.withColumn(p, col(mid).bitwiseAND(lit((1L << 33) - 1)) + 1L)).drop(mid)
    new RangeScan(scope.track(positioned.cache()), pid, g, order)
  }

  /** One (partition, group) cell: its measure total and `offset`, the sum
    * of the same group's cells in earlier partitions. `group` is None for
    * the null group and for an ungrouped scan. */
  final case class Cell[T](pid: Long, group: Option[String], total: T, offset: T)

  /** Per-group totals of `cells`. */
  def totals[T](cells: Seq[Cell[T]])(implicit s: Sum[T]): Map[Option[String], T] =
    cells.groupBy(_.group).map { case (g, cs) => g -> cs.map(_.total).foldLeft(s.zero)(s.plus) }

  /** How the driver reads and adds the sums of one measure type: `types`
    * are the Spark types of its sum columns, which the offsets keep. */
  final class Sum[T](val types: Seq[DataType], val zero: T, val plus: (T, T) => T,
                     val read: (Row, Int) => T, val values: T => Seq[Any])

  object Sum {
    private def long(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)

    implicit val longs: Sum[Long] =
      new Sum(Seq(LongType), 0L, _ + _, long, Seq(_))

    implicit val longPairs: Sum[(Long, Long)] =
      new Sum(Seq(LongType, LongType), (0L, 0L), (a, b) => (a._1 + b._1, a._2 + b._2),
        (r, i) => (long(r, i), long(r, i + 1)), t => Seq(t._1, t._2))

    def decimals(t: DecimalType): Sum[java.math.BigDecimal] =
      new Sum(Seq(t), java.math.BigDecimal.ZERO, _.add(_),
        (r, i) => if (r.isNullAt(i)) java.math.BigDecimal.ZERO else r.getDecimal(i), Seq(_))
  }
}
