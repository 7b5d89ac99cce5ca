package graft.tiles

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import graft.core.{WebMercator, ZRange}

/** Serving-layer tile cache with spatial invalidation — the engine-side
  * equivalent of the reference's memcached + RegionManager pair
  * (`/root/reference/src/main/kotlin/io/marauder/tank/application.kt:358-362,
  * 469-471` and `cache/RegionManager.kt:25-177`): tank tracks bbox "regions"
  * of recent inserts and walks a quadtree from the root, invalidating every
  * cached tile whose node intersects a region (`coveredBy` → whole subtree,
  * `intersects` → recurse).
  *
  * Here the write path already knows exactly which Morton cells a commit
  * touched (the `hash` column of the written rows), so invalidation is
  * precise: a cached tile (z,x,y) dies iff its own cell cover intersects the
  * touched hash set. Each entry's buffered cell cover is computed ONCE at
  * `put` (it is a pure function of the key) so invalidation is a sorted-range
  * intersection per entry — no per-write quadtree work.
  *
  * Capacity is bounded (`maxEntries`, FIFO eviction) — the reference's
  * memcached is size-bounded too; an unbounded map would let a tile crawler
  * OOM the server.
  *
  * Concurrent readers use the GENERATION guard: every invalidation bumps
  * [[generation]] before it walks the entries, and a miss takes the
  * generation BEFORE it resolves its snapshot and hands it to [[put]],
  * which drops the bytes if any invalidation ran since. A render of
  * snapshot n that finishes after a write committed n+1 and invalidated
  * therefore never puts a stale tile back.
  */
final class TileCache(hashLevel: Int = 13,
                      cacheZoomMin: Int = 2, cacheZoomMax: Int = 15,
                      bufferFrac: Double = 1.0 / 64.0,
                      maxEntries: Int = 65536) {

  private final case class Entry(bytes: Array[Byte], ranges: Array[Int])

  private val store = new ConcurrentHashMap[(String, Int, Int, Int), Entry]()
  private val fifo = new ConcurrentLinkedQueue[(String, Int, Int, Int)]()
  private val gen = new AtomicLong()

  /** Invalidations run so far; take it before resolving the snapshot a
    * cached render reads, and hand it to [[put]].
    */
  def generation: Long = gen.get()

  /** Drop queue entries for keys no longer cached. Called by every bulk
    * invalidation: without it, invalidate/re-put churn on a long-lived
    * server grows the queue unboundedly (entries left the store but not
    * the queue, and a re-put enqueues the key AGAIN while store.size stays
    * under maxEntries). O(queue) — the same order as the store walk the
    * invalidation itself does. The benign race (a concurrent re-put's fresh
    * enqueue swept together with the stale one) only makes that entry
    * evict-early, never leak.
    */
  private def sweepQueue(): Unit =
    fifo.removeIf(k => !store.containsKey(k))

  def key(kind: String, z: Int, x: Int, y: Int): (String, Int, Int, Int) =
    (kind, z, x, y)

  def get(kind: String, z: Int, x: Int, y: Int): Option[Array[Byte]] =
    Option(store.get(key(kind, z, x, y))).map(_.bytes)

  /** Store only inside the cached zoom window (application.conf:14-17);
    * the entry carries its buffered Morton cover (lo0,hi0,lo1,hi1,…) so
    * writes never recompute it. `asOf` is the [[generation]] taken before
    * the bytes' snapshot was resolved: the put is dropped when an
    * invalidation ran since. The re-check after the insert closes the
    * window where an invalidation bumps between the first check and the
    * insert, and its walk misses the new entry. Returns whether the bytes
    * are cached.
    */
  def put(kind: String, z: Int, x: Int, y: Int, bytes: Array[Byte],
          asOf: Long = generation): Boolean =
    if (z < cacheZoomMin || z > cacheZoomMax || gen.get() != asOf) false
    else {
      val ranges = ZRange.coverWithBuffer(z, x, y, hashLevel, bufferFrac)
        .flatMap { case (lo, hi) => Seq(lo, hi) }.toArray
      val k = key(kind, z, x, y)
      val e = Entry(bytes, ranges)
      if (store.put(k, e) == null) fifo.add(k)
      evictOverflow()
      gen.get() == asOf || { store.remove(k, e); false }
    }

  private def evictOverflow(): Unit =
    while (store.size() > maxEntries) {
      val victim = fifo.poll()
      if (victim == null) return
      store.remove(victim)
    }

  def size: Int = store.size()

  private[tiles] def queueSize: Int = fifo.size()

  def remove(kind: String, z: Int, x: Int, y: Int): Boolean = {
    val k = key(kind, z, x, y)
    val hit = store.remove(k) != null
    if (hit) fifo.remove(k)
    hit
  }

  /** Invalidate every cached tile whose bbox — expanded by its own
    * clip-buffer halo — intersects the region bbox. Closed-interval
    * comparison, so degenerate (point) regions on a tile boundary hit BOTH
    * neighbors, and a write landing only in a tile's halo still kills it.
    * Useful when only a geometry bbox is known (e.g. external writers);
    * the write path proper uses [[invalidateTouched]].
    */
  def invalidateRegion(lonMin: Double, latMin: Double,
                       lonMax: Double, latMax: Double): Int = {
    val rx0 = WebMercator.projX(lonMin); val rx1 = WebMercator.projX(lonMax)
    val ry0 = WebMercator.projY(latMax); val ry1 = WebMercator.projY(latMin)
    gen.incrementAndGet()
    var removed = 0
    store.keySet().asScala.toSeq.foreach { case k @ (_, z, x, y) =>
      val n = (1L << z).toDouble
      val halo = bufferFrac / n
      val tx0 = x / n - halo; val tx1 = (x + 1) / n + halo
      val ty0 = y / n - halo; val ty1 = (y + 1) / n + halo
      val hit = tx1 >= rx0 && tx0 <= rx1 && ty1 >= ry0 && ty0 <= ry1
      if (hit && store.remove(k) != null) removed += 1
    }
    if (removed > 0) sweepQueue()
    removed
  }

  /** Invalidate every cached tile whose (entry-memoized) buffered cell
    * cover intersects any of the touched Morton cells (e.g.
    * `df.select("hash").distinct().collect()` of a write batch). A cached
    * tile includes features from its clip-buffer halo, so a write landing
    * only in a neighboring cell that feeds that halo still kills the tile.
    */
  def invalidateTouched(touchedHashes: Iterable[Int]): Int = {
    if (touchedHashes.isEmpty) return 0
    val sorted = touchedHashes.toArray.sorted
    gen.incrementAndGet()
    var removed = 0
    store.entrySet().asScala.toSeq.foreach { e =>
      val r = e.getValue.ranges
      var hit = false
      var i = 0
      while (!hit && i < r.length) {
        val lo = r(i); val hi = r(i + 1)
        val j = java.util.Arrays.binarySearch(sorted, lo)
        val at = if (j >= 0) j else -j - 1
        hit = at < sorted.length && sorted(at) <= hi
        i += 2
      }
      if (hit && store.remove(e.getKey) != null) removed += 1
    }
    if (removed > 0) sweepQueue()
    removed
  }
}
