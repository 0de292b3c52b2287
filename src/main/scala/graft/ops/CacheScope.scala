package graft.ops

import org.apache.spark.sql.Dataset

/** Tracks Datasets persisted while building a plan so the caller that owns
  * the computation can release them after its last action. Spark never
  * unpersists caches on its own; in a long-lived session (notebook, server,
  * test suite) leaked caches accumulate until executor memory pressure
  * evicts them at random — scoping makes the lifetime explicit.
  *
  * Usage: pass a scope into operators that cache internally (IdAssign,
  * Dedup, CarrotEngine), run the terminal actions, then `close()`.
  */
final class CacheScope private[ops] (live: Boolean) {
  def this() = this(true)

  private val tracked = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  def track[T <: Dataset[_]](ds: T): T = synchronized { if (live) tracked += ds; ds }

  /** Unpersist everything tracked (blocking=false: lazily freed). */
  def close(): Unit = synchronized {
    tracked.foreach(_.unpersist())
    tracked.clear()
  }
}

object CacheScope {
  /** Shared never-unpersists scope for one-shot processes (CLI, bench)
    * where the JVM exit reclaims everything anyway.
    *
    * It is the DEFAULT on every operator that caches internally — the
    * one-shot contract surfaces (Verify/Bench/CLI) rely on the caches to
    * avoid duplicate corpus scans and reclaim on exit. Long-lived
    * sessions (notebook, server) calling those operators repeatedly MUST
    * pass a live scope and `close()` it after their terminal actions, or
    * the per-call caches accumulate for the JVM lifetime. */
  val noop: CacheScope = new CacheScope(false)

  /** Run `f` with a fresh scope, closing it afterwards. NOTE: only safe when
    * every Spark ACTION on the returned data happens inside `f` — an
    * unpersisted [[RangeScan]] snapshot re-samples its range boundaries on
    * recompute, which can shift IDs. */
  def withScope[A](f: CacheScope => A): A = {
    val s = new CacheScope
    try f(s) finally s.close()
  }
}
