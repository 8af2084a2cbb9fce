package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** A memo kept per SparkSession: each session gets its own map, which
  * drops its least recently used entry past `capacity`, and the map of a
  * stopped session is dropped at the next lookup, so nothing built in a
  * stopped session stays reachable from here. A value is built outside
  * the lock; two threads missing the same key may both build it, and the
  * later one is kept.
  */
final class SessionMemo[K, V](capacity: Int) {
  private final class Lru extends java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = this.size > capacity
  }

  private val bySession = TrieMap.empty[SparkSession, Lru]

  def getOrElseUpdate(spark: SparkSession, key: K)(value: => V): V = {
    bySession.keys.foreach(s => if (s.sparkContext.isStopped) bySession.remove(s))
    val memo = bySession.getOrElseUpdate(spark, new Lru)
    memo.synchronized(if (memo.containsKey(key)) Some(memo.get(key)) else None).getOrElse {
      val v = value
      memo.synchronized(memo.put(key, v))
      v
    }
  }

  /** Sessions holding entries, and whether one of them holds `key`. */
  private[graft] def sessions: Int = bySession.size
  private[graft] def contains(spark: SparkSession, key: K): Boolean =
    bySession.get(spark).exists(m => m.synchronized(m.containsKey(key)))
}
