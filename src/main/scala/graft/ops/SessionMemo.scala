package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** A value built at most once per live (session, key) — the memo that
  * lets queries sharing an eager or cached build (a dictionary, an index,
  * a cached corpus frame) pay for it once per session.
  *
  * Every access first evicts the entries of stopped sessions: a static
  * memo must not strongly retain a stopped SparkSession and its cached
  * blocks. Live entries are untouched. The contract is bench/verify-
  * scoped: data under a key is immutable for a session's lifetime.
  *
  * A build that throws caches nothing (`computeIfAbsent`), so the next
  * call builds again. A build may call ANOTHER memo; it must not call its
  * own, which `ConcurrentHashMap` rejects as a recursive update. */
final class SessionMemo[K, V] {
  private val m = new ConcurrentHashMap[(SparkSession, K), V]()

  def apply(s: SparkSession, key: K)(build: => V): V = {
    m.keySet.removeIf(_._1.sparkContext.isStopped)
    m.computeIfAbsent((s, key), _ => build)
  }
}
