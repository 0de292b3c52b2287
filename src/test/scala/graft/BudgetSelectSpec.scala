package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{BudgetSelect, CacheScope}

/** BudgetSelect contract: the selected set must equal the prefix of the
  * (score, id) total order whose inclusive running cost fits the budget —
  * regardless of input partitioning, AQE coalescing, or which rows land in
  * the boundary partition. The naive reference sorts in memory. */
class BudgetSelectSpec extends AnyFunSuite {
  import BudgetSelectSpec.naive

  private lazy val spark = Golden.spark
  import spark.implicits._

  private def run(df: DataFrame, budget: Long): Set[Long] =
    CacheScope.withScope { scope =>
      BudgetSelect.selectByBudget(df, "cost", budget, scope,
          col("score").asc, col("id").asc)
        .select("id").collect().map(_.getLong(0)).toSet
    }

  test("selection equals the naive ranked prefix for random data and budgets") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(40 + seed)
      // dense score ties and zero costs on purpose: both are the boundary
      // cases (tie-break by id; zero-cost rows at an exact-budget cut)
      val rows = (0L until 3000L).map(id =>
        (id, rng.nextInt(40).toLong, rng.nextInt(11).toLong))
      val df = rng.shuffle(rows).toDF("id", "score", "cost").repartition(13)
      val total = rows.map(_._3).sum
      // prefix sums in rank order, to aim budgets at exact row boundaries
      val cums = rows.sortBy(r => (r._2, r._1)).map(_._3).scanLeft(0L)(_ + _).tail
      val budgets = Seq(0L, 17L, total / 3, total - 1, total, total + 100,
        cums(999), cums(2047))
      for (b <- budgets)
        assert(run(df, b) == naive(rows, b), s"seed=$seed budget=$b")
    }
  }

  test("descending rank order selects the high-score prefix") {
    val rng = new scala.util.Random(99)
    val rows = (0L until 500L).map(id => (id, rng.nextInt(20).toLong, rng.nextInt(7).toLong))
    val df = rng.shuffle(rows).toDF("id", "score", "cost")
    val budget = rows.map(_._3).sum / 2
    val got = CacheScope.withScope { scope =>
      BudgetSelect.selectByBudget(df, "cost", budget, scope,
          col("score").desc, col("id").asc)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    var acc = 0L
    val want = rows.sortBy(r => (-r._2, r._1)).takeWhile { case (_, _, c) =>
      acc += c; acc <= budget
    }.map(_._1).toSet
    assert(got == want)
  }

  test("whole+boundary partition split survives a forced multi-partition exchange") {
    // AQE would coalesce this tiny range shuffle to one partition and
    // trivialize the boundary logic; force the full 4-partition exchange so
    // whole-keep, boundary-window, and whole-drop paths ALL execute
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val rng = new scala.util.Random(7)
      val rows = (0L until 8000L).map(id => (id, rng.nextInt(100).toLong, rng.nextInt(5).toLong))
      val df = rng.shuffle(rows).toDF("id", "score", "cost").repartition(17)
      val budget = rows.map(_._3).sum * 3 / 5
      assert(run(df, budget) == naive(rows, budget))
    } finally spark.conf.set(key, old)
  }

  test("per-group selection equals the naive per-group ranked prefix") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(70 + seed)
      val groups = Vector("de", "en", "fr", "ja", "sw")
      val rows = (0L until 4000L).map(id =>
        (id, groups(rng.nextInt(groups.size)), rng.nextInt(30).toLong, rng.nextInt(9).toLong))
      val df = rng.shuffle(rows).toDF("id", "g", "score", "cost").repartition(11)
      val totals = rows.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
      // mixed budget shapes: none (dropped), zero, partial, full, overfull
      val budgets = Map(
        "en" -> totals("en") / 3, "fr" -> 0L, "ja" -> totals("ja"),
        "sw" -> (totals("sw") + 50L))
      val got = CacheScope.withScope { scope =>
        graft.ops.BudgetSelect.selectByBudgetPerGroup(df, "g", "cost", budgets, scope,
            col("score").asc, col("id").asc)
          .select("id").collect().map(_.getLong(0)).toSet
      }
      val want = rows.groupBy(_._2).flatMap { case (g, rs) =>
        val b = budgets.getOrElse(g, 0L)
        var acc = 0L
        rs.sortBy(r => (r._3, r._1)).takeWhile { case (_, _, _, c) =>
          acc += c; acc <= b
        }.map(_._1)
      }.toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("per-group selection survives groups straddling forced partition boundaries") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val rng = new scala.util.Random(13)
      // two big groups over 4 range partitions: each group MUST straddle
      val rows = (0L until 6000L).map(id =>
        (id, if (rng.nextBoolean()) "a" else "b", rng.nextInt(50).toLong, rng.nextInt(5).toLong))
      val df = rng.shuffle(rows).toDF("id", "g", "score", "cost").repartition(9)
      val totals = rows.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
      val budgets = Map("a" -> totals("a") * 3 / 5, "b" -> totals("b") / 4)
      val got = CacheScope.withScope { scope =>
        graft.ops.BudgetSelect.selectByBudgetPerGroup(df, "g", "cost", budgets, scope,
            col("score").asc, col("id").asc)
          .select("id").collect().map(_.getLong(0)).toSet
      }
      val want = rows.groupBy(_._2).flatMap { case (g, rs) =>
        var acc = 0L
        rs.sortBy(r => (r._3, r._1)).takeWhile { case (_, _, _, c) =>
          acc += c; acc <= budgets(g)
        }.map(_._1)
      }.toSet
      assert(got == want)
    } finally spark.conf.set(key, old)
  }

  test("per-group: null group values have no budget and are dropped") {
    val df = Seq((1L, Some("en"), 1L, 2L), (2L, None, 1L, 2L), (3L, Some("en"), 2L, 2L))
      .toDF("id", "g", "score", "cost")
    val got = CacheScope.withScope { scope =>
      graft.ops.BudgetSelect.selectByBudgetPerGroup(df, "g", "cost", Map("en" -> 4L), scope,
          col("score").asc, col("id").asc)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    assert(got == Set(1L, 3L))
  }

  test("per-group: a map-typed group column works (budgets key its string cast)") {
    // a map is not orderable: the static-budget path must not aggregate
    // anything over the group value itself
    val df = Seq((1L, Map("k" -> 1), 1L, 2L), (2L, Map("k" -> 1), 2L, 2L),
        (3L, Map("k" -> 2), 1L, 2L))
      .toDF("id", "g", "score", "cost")
    val keyOf = df.select(col("id"), col("g").cast("string")).as[(Long, String)]
      .collect().toMap
    val got = CacheScope.withScope { scope =>
      graft.ops.BudgetSelect.selectByBudgetPerGroup(df, "g", "cost", Map(keyOf(1L) -> 2L),
          scope, col("score").asc, col("id").asc)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    assert(got == Set(1L))
  }

  test("null costs spend nothing and survive while the running sum fits") {
    val df = Seq((1L, 1L, Some(5L)), (2L, 2L, None), (3L, 3L, Some(5L)), (4L, 4L, None))
      .toDF("id", "score", "cost")
    // budget 5: id 1 (cum 5) and the null right after it (cum unchanged)
    // fit; id 3 overflows and the trailing null sits past the overflow
    assert(run(df, 5L) == Set(1L, 2L))
    assert(run(df, 10L) == Set(1L, 2L, 3L, 4L))
  }

  test("null costs leading the boundary partition survive, as under any other partitioning") {
    // one range partition: every row is in the boundary partition (cell),
    // and the running sum over the leading null cost is SQL null
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try {
      val df = Seq((1L, 1L, Option.empty[Long]), (2L, 2L, Some(5L)), (3L, 3L, Some(5L)))
        .toDF("id", "score", "cost")
      assert(run(df, 5L) == Set(1L, 2L))
      val perGroup = CacheScope.withScope { scope =>
        graft.ops.BudgetSelect.selectByBudgetPerGroup(df.withColumn("g", lit("a")), "g", "cost",
            Map("a" -> 5L), scope, col("score").asc, col("id").asc)
          .select("id").collect().map(_.getLong(0)).toSet
      }
      assert(perGroup == Set(1L, 2L))
    } finally spark.conf.set(key, old)
  }

  test("edge budgets: zero admits only leading zero-cost rows; empty input is empty") {
    val df = Seq((1L, 1L, 0L), (2L, 2L, 3L)).toDF("id", "score", "cost")
    assert(run(df, 0L) == Set(1L))
    assert(run(df, 3L) == Set(1L, 2L))
    val empty = spark.emptyDataset[(Long, Long, Long)].toDF("id", "score", "cost")
    assert(run(empty, 7L) == Set.empty[Long])
  }
}

object BudgetSelectSpec {

  /** rows: (id, score, cost); ranked by (score asc, id asc). */
  def naive(rows: Seq[(Long, Long, Long)], budget: Long): Set[Long] = {
    var acc = 0L
    rows.sortBy(r => (r._2, r._1)).takeWhile { case (_, _, c) =>
      acc += c; acc <= budget
    }.map(_._1).toSet
  }
}
