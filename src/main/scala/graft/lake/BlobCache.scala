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

private[graft] object BlobCache {
  /** Executor-side deletion-vector bitmaps of Delta and Iceberg, keyed by
    * the blob's identity: `delta:<location>#<file>#<pathOrInlineDv>` (the
    * descriptor is part of the key — an extended DV replaces the file's
    * descriptor wholesale, and a file-only key would keep serving the
    * superseded bitmap, resurrecting newly deleted rows) and
    * `iceberg:<puffin path>#<blob offset>`. BOUNDED: a streaming delete
    * workload writes a new blob (a new key) every micro-batch and
    * superseded keys are never evicted, so an unbounded map accumulates
    * every historical DV on long-lived executors until OOM. */
  private[lake] val dvBitmaps = new BlobCache[String, delta.RoaringBitmapArray](256)
}
