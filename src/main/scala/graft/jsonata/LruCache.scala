package graft.jsonata

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Bounded memo of `compute`: holds at most `capacity` keys and, past that,
  * evicts only the least-recently-used ones, so a workload cycling through
  * more keys than fit degrades gracefully instead of recomputing everything.
  *
  * Concurrency: a hit is a lock-free map get plus one atomic stamp write, and
  * allocates nothing (callers look up per record). Recency lives in
  * per-entry stamps from a monotonic clock; eviction (only on an insert past
  * capacity) takes the one lock and scans the entries for the minimum stamp.
  * `compute` runs outside any lock, so two threads missing on the same key
  * may both compute it; the first insert wins and both return its value. A
  * `compute` that throws caches nothing. */
final class LruCache[K <: AnyRef, V](capacity: Int, compute: K => V) {
  private final class Entry(val value: V) {
    val touched = new AtomicLong()
  }
  private val clock = new AtomicLong()
  private val map = new ConcurrentHashMap[K, Entry]()

  /** Whether `key` is cached (touches nothing). */
  def contains(key: K): Boolean = map.containsKey(key)

  def apply(key: K): V = {
    val hit = map.get(key)
    if (hit != null) { hit.touched.set(clock.incrementAndGet()); hit.value }
    else {
      val entry = new Entry(compute(key))
      entry.touched.set(clock.incrementAndGet())
      val prev = map.putIfAbsent(key, entry)
      if (prev != null) { prev.touched.set(clock.incrementAndGet()); prev.value }
      else { if (map.size() > capacity) evictLru(); entry.value }
    }
  }

  private def evictLru(): Unit = map.synchronized {
    while (map.size() > capacity) {
      var lruKey: K = null.asInstanceOf[K]
      var lruStamp = Long.MaxValue
      map.forEach { (k, v) =>
        val s = v.touched.get()
        if (s < lruStamp) { lruStamp = s; lruKey = k }
      }
      if (lruKey == null) return
      map.remove(lruKey)
    }
  }
}
