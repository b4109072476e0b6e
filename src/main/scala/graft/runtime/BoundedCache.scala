package graft.runtime

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** A least-recently-used cache bounded by entry count and by bytes.
  *
  * A hit is one lock-free `ConcurrentHashMap` read plus a recency stamp on
  * the entry. The stamp is an insert epoch: the clock advances only on an
  * insert, and a hit writes the entry's stamp only when it lags the clock,
  * so hits from many threads on one hot entry do not contend on a shared
  * write. Eviction runs only on insert, under the cache's lock: once
  * either bound is exceeded, one walk over the entries drops the oldest
  * stamps until both are at or below 90% of their bound (entries hit
  * between the same two inserts tie, and any of them may go first). A
  * scan over more distinct keys than fit, which misses on every insert,
  * so walks once per tenth of the bound rather than once per insert.
  *
  * `weigh` gives an entry's size in bytes; an entry heavier than
  * `maxBytes` is returned but never stored. Two threads missing on one key
  * may both compute it; the first `put` wins and both use its value. */
final class BoundedCache[K <: AnyRef, V <: AnyRef](maxEntries: Int, maxBytes: Long,
                                                   weigh: (K, V) => Long) {
  require(maxEntries > 0 && maxBytes > 0, "cache bounds must be positive")

  private final class Entry(val value: V, val bytes: Long, @volatile var stamp: Long)

  private val map = new ConcurrentHashMap[K, Entry]()
  @volatile private var clock = 0L
  private var totalBytes = 0L // guarded by this
  @volatile private var evicted = 0L // written under this

  /** The cached value, or null on a miss. */
  def get(key: K): V = {
    val e = map.get(key)
    if (e == null) null.asInstanceOf[V]
    else { val now = clock; if (e.stamp != now) e.stamp = now; e.value }
  }

  def size: Int = map.size
  def bytes: Long = synchronized(totalBytes)
  def evictions: Long = evicted

  /** Stores `value` unless `key` is already present; returns the stored
    * value (the earlier one if another thread inserted first). */
  def put(key: K, value: V): V = {
    val w = weigh(key, value)
    if (w > maxBytes) value
    else synchronized {
      val prior = map.get(key)
      if (prior != null) prior.value
      else {
        // the new entry's stamp lies above every hit so far and below every
        // hit to come
        map.put(key, new Entry(value, w, clock + 1))
        clock += 2
        totalBytes += w
        if (map.size > maxEntries || totalBytes > maxBytes) evictOldest(keep = key)
        value
      }
    }
  }

  // Called with the lock held. Stamps are read once, as hits may move them
  // during the sort; `keep`, the entry just inserted, stays, as it fits
  // both bounds on its own.
  private def evictOldest(keep: K): Unit = {
    val lowEntries = maxEntries - maxEntries / 10
    val lowBytes = maxBytes - maxBytes / 10
    val old = map.entrySet.asScala.iterator.filter(_.getKey != keep)
      .map(en => (en.getValue.stamp, en.getKey)).toArray.sortBy(_._1)
    var i = 0
    while (i < old.length && (map.size > lowEntries || totalBytes > lowBytes)) {
      totalBytes -= map.remove(old(i)._2).bytes
      evicted += 1
      i += 1
    }
  }
}
