package graft.lake

/** The engine's one process-wide cache: a bounded map for values that are
  * immutable by key (nonce-named metadata blobs, committed versions keyed
  * by mtime and length, pure functions of the key). Correctness never
  * depends on a hit. Coarse whole-cache eviction at the cap: a miss just
  * reloads one value, which is the uncached behaviour.
  *
  * One instance per kind of content. A load that reads through its OWN
  * instance would nest `computeIfAbsent` on one ConcurrentHashMap, which
  * throws `IllegalStateException: Recursive update` (a metadata-document
  * load forces its snapshots' manifest lists, for one); a load may read
  * through a DIFFERENT instance. A load that throws caches nothing. */
private[graft] final class BlobCache[K, V](maxEntries: Int) {
  private val m = new java.util.concurrent.ConcurrentHashMap[K, V]()

  def get(key: K)(load: => V): V = {
    val hit = m.get(key)
    if (hit != null) hit
    else {
      if (m.size >= maxEntries) m.clear()
      m.computeIfAbsent(key, (_: K) => load)
    }
  }

  /** Write-through for a blob the caller just created. */
  def put(key: K, v: V): Unit = {
    if (m.size >= maxEntries) m.clear()
    m.put(key, v)
  }

  private[graft] def size: Int = m.size

  /** Test hook: force re-reads (e.g. after a destruction test deletes
    * blobs from disk). Never needed in production — values are immutable. */
  private[graft] def invalidateAll(): Unit = m.clear()
}
