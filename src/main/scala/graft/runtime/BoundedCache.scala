package graft.runtime

import java.util.concurrent.ConcurrentHashMap

/** A cache bounded by entry count and by bytes that clears itself on
  * overflow.
  *
  * A hit is one lock-free `ConcurrentHashMap` read. An insert that would
  * pass either bound first clears the cache, under the cache's lock, and
  * then stores its entry. `weigh` gives an entry's size in bytes; an entry
  * heavier than `maxBytes` is returned but never stored. Two threads
  * missing on one key may both compute it; the first `put` wins and both
  * use its value. */
final class BoundedCache[K <: AnyRef, V <: AnyRef](maxEntries: Int, maxBytes: Long,
                                                   weigh: (K, V) => Long) {
  require(maxEntries > 0 && maxBytes > 0, "cache bounds must be positive")

  private final class Entry(val value: V, val bytes: Long)

  private val map = new ConcurrentHashMap[K, Entry]()
  private var totalBytes = 0L // guarded by this
  @volatile private var evicted = 0L // written under this

  /** The cached value, or null on a miss. */
  def get(key: K): V = {
    val e = map.get(key)
    if (e == null) null.asInstanceOf[V] else e.value
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
        if (map.size >= maxEntries || totalBytes + w > maxBytes) {
          evicted += map.size
          map.clear()
          totalBytes = 0L
        }
        map.put(key, new Entry(value, w))
        totalBytes += w
        value
      }
    }
  }
}
