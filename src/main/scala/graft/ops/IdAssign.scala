package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dense sequential ID assignment (reference: carrot-transform auto-number
  * fields, `run.py:266-273`, `record_builder.py:151-156`, and the person-ID
  * dictionary `person_helpers.py:90-151`).
  *
  * The reference increments an in-memory counter row-at-a-time. The naive
  * Spark translation — `row_number().over(Window.orderBy(...))` with no
  * partition spec — collapses the whole dataset into ONE partition, and an
  * RDD `zipWithIndex` pays InternalRow↔Row conversion and breaks
  * whole-stage codegen. Instead the ids come from a [[RangeScan]] of the
  * rows by `orderCols` (its scaladoc states the snapshot and cache-lifetime
  * contract): the per-partition counts are the cells, and the apply step is
  * specialised — the pid→offset map goes in as a literal and each row adds
  * its decoded position within the partition, so there is no window, no
  * join and no extra shuffle. The decode caps partitions at 2^33 rows.
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
    val scan = RangeScan(df, "_ia_pid", scope, None, orderCols, pos = Some("_ia_pos"))
    val counts = scan.cells[Long](lit(1L))
    val offsets = counts.map(c => c.pid -> (offset + c.offset)).toMap
    val offCol =
      if (offsets.isEmpty) lit(offset) // empty input: no rows to number
      else element_at(typedLit(offsets), col("_ia_pid"))
    val result = scan.rows
      .withColumn(idCol, offCol + col("_ia_pos"))
      .drop("_ia_pid", "_ia_pos")
    (result, counts.map(_.total).sum)
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
                        keyCols: Seq[String]): DataFrame = {
    val narrow = df.select(keyCols.map(col): _*)
    val (ids, total) = assignCore(narrow, idCol, offset, scope, keyCols.map(col))
    val right = if (total <= BroadcastRowLimit) broadcast(ids) else ids
    df.join(right, keyCols)
  }

  /** Id sets up to this many rows broadcast in [[withDenseIdJoined]]. */
  private val BroadcastRowLimit = 20_000_000L
}
