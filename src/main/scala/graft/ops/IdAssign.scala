package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dense sequential ID assignment (reference: carrot-transform auto-number
  * fields, `run.py:266-273`, `record_builder.py:151-156`, and the person-ID
  * dictionary `person_helpers.py:90-151`).
  *
  * The reference increments an in-memory counter row-at-a-time. The naive
  * Spark translation — `row_number().over(Window.orderBy(...))` with no
  * partition spec — collapses the whole dataset into ONE partition, a
  * non-starter at 100 TB. An RDD `zipWithIndex` avoids that but pays
  * InternalRow↔Row conversion and breaks whole-stage codegen. This
  * implementation stays in DataFrame land:
  *
  *   1. range-partition by the ordering key (partitions come out in global
  *      key order), sort within partitions;
  *   2. per-partition positions decoded from `monotonically_increasing_id`
  *      (partition index in the high bits, a 0-based row position in the low
  *      33 bits — evaluated in row order, i.e. the sorted order). A
  *      `row_number` window over `spark_partition_id` computes the same
  *      thing but costs an EXTRA hash exchange + sort: `Window` demands
  *      clustering by its partition key, and RangePartitioning(orderCols)
  *      does not satisfy ClusteredDistribution(_pid), so Catalyst inserts
  *      `Exchange hashpartitioning(_pid)` + a re-sort before the window.
  *      The id decode needs neither (observed in the round-3 q26 profile);
  *      it caps partitions at 2^33 rows, far above any sane partition size;
  *   3. per-partition counts are METADATA (≤ one row per partition): collect
  *      them to the driver, prefix-sum in Scala, and inject the pid→offset
  *      map as a literal — no extra shuffle, no join, and no global window
  *      (a single-partition `WindowExec` over even 32 rows spams warnings
  *      and adds two jobs).
  *
  * The positioned snapshot is persisted before the counts are collected:
  * offsets and positions MUST see the same partition boundaries — without a
  * materialization point, AQE may re-plan the range exchange differently
  * for separate consumers and shift IDs across partitions (caught by the
  * oracle in round 1). Whether AQE sizes the range exchange of that cached
  * snapshot at all is a session choice: Spark plans cached queries with AQE
  * off unless `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
  * is true (as `CarrotCli`'s session sets it); otherwise the snapshot keeps
  * `spark.sql.shuffle.partitions` partitions. Either way the ids are the
  * same. Callers that want the memory back after their last action pass a
  * `CacheScope`.
  *
  * IDs are dense, start at `offset + 1`, and follow the global order of
  * `orderCols` (callers must order by a unique key for determinism).
  */
object IdAssign {

  def withDenseId(df: DataFrame, idCol: String, offset: Long, orderCols: Column*): DataFrame =
    withDenseId(df, idCol, offset, CacheScope.noop, orderCols: _*)

  def withDenseId(df: DataFrame, idCol: String, offset: Long, scope: CacheScope,
                  orderCols: Column*): DataFrame =
    assignCore(df, idCol, offset, scope, orderCols)._1

  /** Core assignment; also returns the exact row count (free — it falls out
    * of the offset collection). */
  private def assignCore(df: DataFrame, idCol: String, offset: Long, scope: CacheScope,
                         orderCols: Seq[Column]): (DataFrame, Long) = {
    // No explicit partition count: REPARTITION_BY_NUM would pin the exchange
    // at spark.sql.shuffle.partitions even when the data is tiny, while the
    // by-column form lets AQE coalesce a small range shuffle to few tasks
    // (task setup dominates below ~64 MB/partition) and keep full width on a
    // real shuffle. That coalescing happens only in sessions that let AQE
    // re-partition cached plans (canChangeCachedPlanOutputPartitioning, set
    // by CarrotCli); elsewhere the cached snapshot keeps
    // spark.sql.shuffle.partitions partitions. Adjacent-partition coalescing
    // preserves the global range order, and the collected offsets always
    // match because they are read from the SAME materialized snapshot as the
    // positions.
    // _mid = (partition index << 33) | 0-based row position, assigned in the
    // partition's physical row order = the sorted order. The immediate cache
    // pins the (nondeterministic) assignment so offsets and positions see one
    // consistent snapshot.
    val withPos = df
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("_ia_mid", monotonically_increasing_id())
      .withColumn("_ia_pid", shiftright(col("_ia_mid"), 33))
      .withColumn("_ia_pos", col("_ia_mid").bitwiseAND(lit((1L << 33) - 1)) + 1L)
      .drop("_ia_mid")
      .cache()
    scope.track(withPos)

    // one job: materializes the cache AND returns the per-partition counts
    val counts = withPos.groupBy(col("_ia_pid")).agg(count(lit(1)).as("_ia_cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var acc = offset
    val offsets: Map[Long, Long] = counts.map { case (pid, cnt) =>
      val start = acc; acc += cnt; pid -> start
    }.toMap

    val offCol =
      if (offsets.isEmpty) lit(offset) // empty input: no rows to number
      else element_at(typedLit(offsets), col("_ia_pid"))
    val result = withPos
      .withColumn(idCol, offCol + col("_ia_pos"))
      .drop("_ia_pid", "_ia_pos")
    (result, acc - offset)
  }

  /** Dense IDs for WIDE rows: number a narrow (keyCols-only) projection and
    * join the IDs back, instead of range-shuffling + sorting + caching the
    * full payload.
    *
    * `withDenseId` materializes its positioned snapshot — for a row of 30
    * string columns that means the whole upstream pipeline runs through a
    * range exchange, a sort, and a columnar cache twice (sampler + main).
    * Numbering only the key columns makes all of that narrow (Catalyst
    * prunes the payload expressions out of the upstream for the narrow
    * pass), and the payload is then touched exactly ONCE, by the join.
    * The join side is picked from the exact row count the offset collection
    * already produced: small id sets broadcast (the wide side is never
    * shuffled at all), big ones fall back to a shuffled equi-join — the
    * 100 TB path, where a multi-billion-row id table can't broadcast.
    *
    * `keyCols` MUST be a unique key of `df` (the same precondition dense
    * ordering already imposes); a duplicate key would duplicate rows. */
  def withDenseIdJoined(df: DataFrame, idCol: String, offset: Long, scope: CacheScope,
                        keyCols: Seq[String], broadcastRowLimit: Long = 20_000_000L): DataFrame = {
    val narrow = df.select(keyCols.map(col): _*)
    val (ids, total) = assignCore(narrow, idCol, offset, scope, keyCols.map(col))
    val right = if (total <= broadcastRowLimit) broadcast(ids) else ids
    df.join(right, keyCols)
  }
}
