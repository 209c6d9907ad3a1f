package graft.queries

import org.apache.spark.sql.Dataset

/** The query modules' shared-build cache: get-or-build under the memo's
  * own lock (an entry is built once; a build that calls into another
  * memo takes that memo's lock inside this one), over an access-ordered
  * LRU of `capacity` entries. Bounded eviction, not weak keys: a
  * Dataset value strongly references the SparkSession in its key, so a
  * weak key would be pinned forever.
  *
  * Release rule on evict: every Dataset reachable from the evicted
  * value (directly or through tuple / case-class fields) is unpersisted,
  * which frees what a build `.persist()`ed. A `localCheckpoint` is not a
  * cache entry and unpersist does not touch it; Spark's ContextCleaner
  * frees its blocks once the value is unreachable. */
private[graft] final class SessionMemo[K, V](capacity: Int)
    extends java.util.LinkedHashMap[K, V](2 * capacity, 0.75f, true) {

  def apply(key: K)(build: => V): V = synchronized {
    val hit = get(key)
    if (hit != null) hit
    else { val v = build; put(key, v); v }
  }

  override protected def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
    val evict = size() > capacity
    if (evict) release(e.getValue)
    evict
  }

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => scala.util.Try(ds.unpersist(false))
    case p: Product     => p.productIterator.foreach(release)
    case _              =>
  }
}
