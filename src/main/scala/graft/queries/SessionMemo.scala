package graft.queries

/** Bounded memo for an expensive build that several queries share
  * within one session (the simhash pair list, partsupp, the k-means
  * fit, the synthetic corpora, ...). An access-ordered LRU of at most
  * `capacity` entries: a hit refreshes its key, and the least recently
  * accessed entry is evicted once the memo overflows.
  *
  * Keys hold the SparkSession strongly, and eviction bounds their
  * lifetime. A WeakHashMap would not: each cached Dataset strongly
  * references its own session, so a weak session key would never be
  * cleared — bounded eviction is the honest lifetime policy for a JVM
  * that cycles sessions. `release` frees what an evicted value pins
  * (for example the storage blocks of a checkpointed frame); it runs
  * once per evicted value, and a failure in it is ignored.
  *
  * `apply` runs the build under this instance's own lock, so concurrent
  * callers of one key build it once; a build that throws caches
  * nothing. Memos that nest (one build calls another memo) take their
  * locks in call order. */
final class SessionMemo[K, V](capacity: Int, release: V => Unit = (_: V) => ()) {

  private val entries = new java.util.LinkedHashMap[K, V](2 * capacity, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
      val evict = size() > capacity
      if (evict) scala.util.Try(release(e.getValue))
      evict
    }
  }

  def apply(key: K)(build: => V): V = entries.synchronized {
    val hit = entries.get(key)
    if (hit != null) hit
    else {
      val v = build
      entries.put(key, v)
      v
    }
  }
}
