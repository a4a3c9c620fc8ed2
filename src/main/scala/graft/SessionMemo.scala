package graft

import org.apache.spark.sql.SparkSession

/** A per-(session, key) memo of a built per-snapshot value — the
  * local-mode stand-in for an artifact a deployment materializes once
  * per corpus snapshot. Every access drops the keys of stopped
  * sessions (a stopped-then-recreated session must not leak its
  * now-unusable entries forever). Concurrent first callers may each
  * build; exactly one value is kept and `release` runs on the others
  * (an unpersist for persisted frames), as it does on [[evict]]. */
private[graft] final class SessionMemo[V](release: V => Unit = (_: V) => ()) {
  private val m =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V]

  def apply(s: SparkSession, key: String)(build: => V): V = {
    m.keys.filter(_._1.sparkContext.isStopped).foreach(m.remove)
    m.get((s, key)).getOrElse {
      val built = build
      m.putIfAbsent((s, key), built) match {
        case Some(winner) => release(built); winner
        case None         => built
      }
    }
  }

  /** Forget one entry, releasing its value. */
  def evict(s: SparkSession, key: String): Unit =
    m.remove((s, key)).foreach(release)
}
