package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CacheScope, IdAssign}

/** `IdAssign` under the session conf `CarrotCli` sets: letting AQE
  * re-partition cached plans coalesces the pinned range snapshot, and the
  * ids do not change, because offsets and positions are read from that one
  * snapshot and coalescing only merges adjacent range partitions. */
class IdAssignAqeSpec extends AnyFunSuite {

  private val Conf = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** (key, id) pairs in key order, and the snapshot's partition count. */
  private def assign(session: SparkSession): (Seq[(Long, Long)], Int) = {
    val s = session
    import s.implicits._
    val keys = new scala.util.Random(11).shuffle((0L until 1000L).toVector)
    val df = keys.map(k => (k, s"payload$k")).toDF("k", "p").repartition(7)
    // a scope per run: the two runs build the same plan, and a cache left
    // behind would be reused by the second one
    val scope = new CacheScope
    try {
      val out = IdAssign.withDenseId(df, "id", 0L, scope, col("k"))
      val ids = out.select(col("k"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1)))
      (ids.toSeq.sortBy(_._1), out.rdd.getNumPartitions)
    } finally scope.close()
  }

  test("dense ids are identical with and without AQE on cached plans") {
    val shared = Golden.spark
    val sharedConf = shared.conf.getAll
    def session(aqeOnCached: Boolean): SparkSession = {
      val s = shared.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "200")
      s.conf.set(Conf, aqeOnCached.toString)
      s
    }
    val (off, offParts) = assign(session(aqeOnCached = false))
    val (on, onParts) = assign(session(aqeOnCached = true))

    assert(on == off)
    // dense and in key order: the k-th smallest key gets id k + 1
    assert(on.map(_._2) == (1L to 1000L))
    assert(on.forall { case (k, id) => id == k + 1 })
    // without the conf the snapshot keeps spark.sql.shuffle.partitions
    // partitions; with it AQE coalesces the small range shuffle
    assert(offParts == 200)
    assert(onParts < 200, s"snapshot has $onParts partitions")
    // the new sessions left the shared test session's confs alone
    assert(shared.conf.getAll == sharedConf)
  }
}
