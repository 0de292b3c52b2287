package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType}

/** Corpus selection under a cost budget: keep the prefix of the ranked
  * corpus whose running cost fits the budget — the standard "pick the best
  * documents until the token budget is spent" step in front of LLM
  * training (quality-ranked selection, not knapsack packing: the first row
  * that overflows the budget blocks the tail, so the result is exactly a
  * prefix of the global order).
  *
  * The naive formulation is a running sum over one global window — a
  * single-partition `WindowExec`. This implementation is a [[RangeScan]]
  * by the ranking key (its scaladoc states the snapshot and cache-lifetime
  * contract) whose cells are the per-partition cost totals. Every
  * partition is then decidable wholesale — fully inside the budget (its
  * offset + total ≤ budget: keep every row, a codegen'd filter, NO window)
  * or fully outside (offset already past the budget: drop) — except at
  * most ONE boundary partition, which alone runs the running-cost window,
  * keyed by the partition id. At 100 TB the full-data path is therefore a
  * range exchange plus a partition-id filter; the window touches 1/Nth of
  * the data.
  *
  * Rows whose running cost (inclusive, in `orderCols` order) is ≤
  * `budget` survive. Costs must be integral (summed as long): a float
  * cumulative sum is order-of-addition dependent and would not reproduce
  * across engines or partitionings. Null costs add nothing (SQL sum
  * semantics) and survive whenever the running sum at their position
  * fits. `orderCols` must contain a unique tie-break key (same
  * precondition as [[IdAssign]]).
  */
object BudgetSelect {

  def selectByBudget(df: DataFrame, costCol: String, budget: Long,
                     orderCols: Column*): DataFrame =
    selectByBudget(df, costCol, budget, CacheScope.noop, orderCols: _*)

  def selectByBudget(df: DataFrame, costCol: String, budget: Long, scope: CacheScope,
                     orderCols: Column*): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    selectByBudgetCore(df, costCol, _ => budget, scope, orderCols)
  }

  /** [[selectByBudget]] with the budget stated as a FRACTION of the
    * corpus's total cost (`total · num / den`, exact long arithmetic). The
    * total is the sum of the cell totals the scan collects anyway (long
    * sums are partitioning-independent), so no separate total pass runs. */
  def selectByBudgetFrac(df: DataFrame, costCol: String, num: Long, den: Long,
                         scope: CacheScope, orderCols: Column*): DataFrame = {
    require(num >= 0 && den > 0, s"budget fraction must be >= 0 / > 0, got $num/$den")
    selectByBudgetCore(df, costCol, tot => tot * num / den, scope, orderCols)
  }

  private def selectByBudgetCore(df: DataFrame, costCol: String,
                                 budgetOf: Long => Long, scope: CacheScope,
                                 orderCols: Seq[Column]): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must rank the corpus")
    val cost = col(costCol).cast("long")
    val scan = RangeScan(df, "_bs_pid", scope, None, orderCols)
    val cells = scan.cells[Long](cost)
    val budget = budgetOf(cells.map(_.total).sum)
    require(budget >= 0, s"budget must be non-negative, got $budget")

    // offset + total is the cumulative cost after each partition —
    // nondecreasing in pid — so the fully-admitted partitions are always a
    // PREFIX of the pid sequence: one <= comparison filters them, not an
    // InSet that grows with partition count
    val wholePids = cells.collect { case c if c.offset + c.total <= budget => c.pid }
    // offset == budget still admits leading zero-cost rows (cum stays ==
    // budget), hence <=, not < — at most one partition matches because
    // offsets are nondecreasing and the first overflow pushes every later
    // offset past the budget
    val boundary = cells.find(c => c.offset <= budget && c.offset + c.total > budget)

    val whole = wholePids.lastOption match {
      case Some(last) => scan.rows.filter(col("_bs_pid") <= last)
      case None       => scan.rows.filter(lit(false))
    }
    val out = boundary match {
      case Some(c) =>
        // the running window on a one-pid frame: a single bounded window
        // partition without the unpartitioned-window global collapse. A
        // run of leading null costs sums to null: it spends nothing
        val edge = scan.rows.filter(col("_bs_pid") === c.pid)
          .withColumn("_bs_cum",
            coalesce(scan.running(cost, inclusive = true), lit(0L)) + lit(c.offset))
          .filter(col("_bs_cum") <= budget)
          .drop("_bs_cum")
        whole.unionByName(edge)
      case None => whole
    }
    out.drop("_bs_pid")
  }

  /** Per-group budget selection — each group keeps its own ranked prefix
    * under its own budget (the corpus-mixing shape: "30% of each
    * language's tokens", "cap every source at N"). Groups absent from
    * `budgets` are dropped entirely (budget 0); a null group value is the
    * key `None` would have — give it no budget and it is dropped. Budgets
    * are keyed by Spark's cast-to-string of the group value, so the group
    * column may be of any type that casts to string.
    *
    * Same confinement argument as [[selectByBudget]], per group: the
    * [[RangeScan]] is grouped by the group, so every group occupies a
    * CONTIGUOUS run of partitions and the per-(partition, group) cells
    * number ≈ partitions + groups. Each cell is wholesale in (offset +
    * total fits the group budget), wholesale out, or one of ≤ one boundary
    * cell PER GROUP; the classification ships back as a broadcast-joined
    * table, whole cells pass with no window, and only boundary-cell rows
    * run the running-cost window, keyed by (partition id, group). */
  def selectByBudgetPerGroup(df: DataFrame, groupCol: String, costCol: String,
                             budgets: Map[String, Long],
                             orderCols: Column*): DataFrame =
    selectByBudgetPerGroup(df, groupCol, costCol, budgets, CacheScope.noop, orderCols: _*)

  def selectByBudgetPerGroup(df: DataFrame, groupCol: String, costCol: String,
                             budgets: Map[String, Long], scope: CacheScope,
                             orderCols: Column*): DataFrame = {
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")
    perGroupCore(df, groupCol, costCol, Nil, _ => budgets, scope, orderCols)
  }

  /** One group of a per-group draw: `key` is Spark's cast-to-string of the
    * group value (None for the null group, which no budget map can name)
    * and `supply` the group's summed cost (None only when every cost in
    * the group is null). */
  final case class GroupSupply(key: Option[String], supply: Option[Long])

  /** [[selectByBudgetPerGroup]] with the budgets DERIVED from the
    * per-group supplies: the cells the scan collects carry the exact long
    * sums, so `budgetsOf` receives them and no separate supply pass runs.
    * Supplies come one per group, in NO particular order (sort inside if
    * order matters). The returned map is keyed like `budgets`. */
  def selectByBudgetPerGroupWith(df: DataFrame, groupCol: String, costCol: String,
                                 budgetsOf: Seq[GroupSupply] => Map[String, Long],
                                 scope: CacheScope,
                                 orderCols: Column*): DataFrame =
    perGroupCore(df, groupCol, costCol, Nil, ss => budgetsOf(ss.map(_._1)), scope, orderCols)

  /** [[selectByBudgetPerGroupWith]] for draws whose allocation orders the
    * groups by their value: `budgetsOf` also gets each group's value
    * (`min` over the group, so the group column must be orderable; one
    * value per string key, the assumption the budget join already makes). */
  private[ops] def selectByBudgetPerGroupByValue(
      df: DataFrame, groupCol: String, costCol: String,
      budgetsOf: Seq[(Any, GroupSupply)] => Map[String, Long],
      scope: CacheScope, orderCols: Column*): DataFrame =
    perGroupCore(df, groupCol, costCol, Seq(min(col(groupCol))),
      ss => budgetsOf(ss.map { case (s, value) => value.get(0) -> s }), scope, orderCols)

  private def perGroupCore(df: DataFrame, groupCol: String, costCol: String,
                           extras: Seq[Column],
                           budgetsOf: Seq[(GroupSupply, Row)] => Map[String, Long],
                           scope: CacheScope, orderCols: Seq[Column]): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must rank within each group")
    val cost = col(costCol).cast("long")
    val scan = RangeScan(df, "_bs_pid", scope, Some(col(groupCol)), orderCols)
    // per cell: the cost sum and the count of non-null costs (a supply is
    // None only when that count is zero), plus the caller's `extras`
    val cells = scan.cellsWith[(Long, Long)](Seq(cost, cost.isNotNull.cast("long")), extras)
    val supplies = cells.groupBy(_._1.group).toSeq.map { case (g, cs) =>
      val sums = cs.map(_._1.total)
      GroupSupply(g, if (sums.map(_._2).sum == 0L) None else Some(sums.map(_._1).sum)) -> cs.head._2
    }
    val budgets = budgetsOf(supplies)
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")

    // the single-budget boundary rule per group; cells past the budget are
    // not listed, so the inner join drops their rows
    val classified = cells.flatMap { case (c, _) =>
      val budget = c.group.flatMap(budgets.get).getOrElse(0L)
      val (off, tot) = (c.offset._1, c.total._1)
      if (off + tot <= budget) Some(c -> Seq(true, 0L, budget))
      else if (off <= budget) Some(c -> Seq(false, off, budget))
      else None
    }
    val joined = scan.withCells(classified,
      "_bs_whole" -> BooleanType, "_bs_off" -> LongType, "_bs_bud" -> LongType)
    val whole = joined.filter(col("_bs_whole"))
    val edge = joined.filter(!col("_bs_whole"))
      .withColumn("_bs_cum",
        coalesce(scan.running(cost, inclusive = true), lit(0L)) + col("_bs_off"))
      .filter(col("_bs_cum") <= col("_bs_bud"))
      .drop("_bs_cum")
    whole.unionByName(edge).drop("_bs_pid", "_bs_whole", "_bs_off", "_bs_bud")
  }
}
