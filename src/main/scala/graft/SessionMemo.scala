package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** A value built at most once per (session, key) and then shared by every
  * caller that asks for the same pair — the standing structures several
  * [[SparkEntry]] queries reuse (shingle sets, pair tables, packed
  * corpora, index stores, the carrot engine run).
  *
  *  - Key: the session (by identity, so `newSession()` gets its own entry)
  *    plus `key`. The data a key names is taken as immutable for the
  *    session's lifetime.
  *  - Eviction: every access first drops the entries whose session's
  *    `SparkContext` is stopped, so a static memo never retains a stopped
  *    session or its cached blocks. Live entries stay until then.
  *  - Once per key: concurrent first callers of one live key see one build
  *    and the same value. A build that throws stores nothing; the next
  *    call builds again.
  *  - Nesting: each instance has its own map, so a build may call other
  *    memos (`docClusters` → `docPairs` → `docShingles`). It must not call
  *    its own instance: the map's `computeIfAbsent` forbids re-entry.
  */
final class SessionMemo[K, V] {
  private val entries = new ConcurrentHashMap[(SparkSession, K), V]()

  def apply(s: SparkSession, key: K)(build: => V): V = {
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    entries.computeIfAbsent((s, key), _ => build)
  }
}
