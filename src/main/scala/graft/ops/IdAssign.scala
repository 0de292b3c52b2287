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
  * The result keeps the snapshot's range partitioning and within-partition
  * order, so a later sort by the same `orderCols` plans no exchange and no
  * sort. `CarrotEngine` numbers its wide target rows this way and writes
  * them straight from the snapshot: one range shuffle of the payload, which
  * the ordered write needs anyway. A consumer that needs no order (a SQL
  * sink) pays that shuffle too.
  *
  * IDs are dense, start at `offset + 1`, and follow the global order of
  * `orderCols` (callers must order by a unique key for determinism).
  */
object IdAssign {

  def withDenseId(df: DataFrame, idCol: String, offset: Long, orderCols: Column*): DataFrame =
    withDenseId(df, idCol, offset, CacheScope.noop, orderCols: _*)

  def withDenseId(df: DataFrame, idCol: String, offset: Long, scope: CacheScope,
                  orderCols: Column*): DataFrame = {
    val scan = RangeScan(df, "_ia_pid", scope, None, orderCols, pos = Some("_ia_pos"))
    val offsets = scan.cells[Long](lit(1L)).map(c => c.pid -> (offset + c.offset)).toMap
    val offCol =
      if (offsets.isEmpty) lit(offset) // empty input: no rows to number
      else element_at(typedLit(offsets), col("_ia_pid"))
    scan.rows
      .withColumn(idCol, offCol + col("_ia_pos"))
      .drop("_ia_pid", "_ia_pos")
  }
}
