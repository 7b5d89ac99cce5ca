package graft.tiles

import org.scalatest.funsuite.AnyFunSuite
import graft.core.ZCurve

class TileCacheSpec extends AnyFunSuite {

  test("put respects the cached zoom window") {
    val c = new TileCache(cacheZoomMin = 2, cacheZoomMax = 15)
    c.put("tile", 1, 0, 0, Array(1))
    c.put("tile", 2, 0, 0, Array(1))
    c.put("tile", 16, 0, 0, Array(1))
    assert(c.get("tile", 1, 0, 0).isEmpty)
    assert(c.get("tile", 2, 0, 0).isDefined)
    assert(c.get("tile", 16, 0, 0).isEmpty)
  }

  test("a write touching a cell kills exactly the overlapping cached tiles") {
    val c = new TileCache()
    // cell (100, 200) at hash level 13
    val h = ZCurve.interleave(100, 200)
    // its z=9 ancestor tile, an unrelated z=9 tile, its z=13 tile,
    // a z=15 descendant, and the heatmap twin
    c.put("tile", 9, 100 >> 4, 200 >> 4, Array(1))
    c.put("tile", 9, (100 >> 4) + 5, 200 >> 4, Array(1))
    c.put("tile", 13, 100, 200, Array(1))
    c.put("tile", 15, 100 << 2, 200 << 2, Array(1))
    c.put("heatmap", 13, 100, 200, Array(1))
    // the DIRECT neighbor dies too: its clip-buffer halo reads cell (100,200)
    c.put("tile", 13, 101, 200, Array(1))
    c.put("tile", 13, 103, 200, Array(1)) // beyond the halo - survives

    val removed = c.invalidateTouched(Seq(h))
    // z9 ancestor + z13 + z15 descendant + heatmap twin + buffered neighbor
    assert(removed == 5, s"removed $removed")
    assert(c.get("tile", 9, (100 >> 4) + 5, 200 >> 4).isDefined)
    assert(c.get("tile", 13, 103, 200).isDefined)
    assert(c.get("tile", 13, 101, 200).isEmpty,
      "neighbor whose clip buffer overlaps the touched cell must be invalidated")
    assert(c.get("tile", 13, 100, 200).isEmpty)
    assert(c.get("tile", 15, 100 << 2, 200 << 2).isEmpty)
    assert(c.get("heatmap", 13, 100, 200).isEmpty)
  }

  test("region invalidation kills tiles covering the bbox at every zoom") {
    import graft.core.WebMercator
    val c = new TileCache()
    val (lon, lat) = (10.0, 50.0)
    val (x13, y13) = (WebMercator.tileX(lon, 13), WebMercator.tileY(lat, 13))
    c.put("tile", 13, x13, y13, Array(1))
    c.put("tile", 5, x13 >> 8, y13 >> 8, Array(1)) // ancestor
    c.put("tile", 13, x13 + 50, y13, Array(1)) // far away - survives
    val removed = c.invalidateRegion(lon - 0.001, lat - 0.001, lon + 0.001, lat + 0.001)
    assert(removed == 2, s"removed $removed")
    assert(c.get("tile", 13, x13 + 50, y13).isDefined)
  }

  test("tile cover: covered quads collapse to single tiles and contains() nests") {
    import graft.core.TileCover
    val cov = TileCover.cover(9.5, 49.5, 10.5, 50.5, 10)
    assert(cov.nonEmpty && cov.forall(_._1 <= 10))
    // some tile strictly inside the region should be represented
    import graft.core.WebMercator
    val (x10, y10) = (WebMercator.tileX(10.0, 10), WebMercator.tileY(50.0, 10))
    assert(TileCover.contains(cov, 10, x10, y10))
    // descendants of covered tiles are contained implicitly
    assert(TileCover.contains(cov, 12, x10 << 2, y10 << 2))
    // a far-away tile is not
    assert(!TileCover.contains(cov, 10, x10 + 100, y10))
  }

  test("invalidation with many touched cells uses range intersection correctly") {
    val c = new TileCache()
    (0 until 16).foreach(x => c.put("tile", 13, x, 0, Array(1)))
    // touch cells x=0..7, y=0 -> kills tiles x=0..7 plus x=8 (its buffered
    // halo reads cell x=7); x=9..15 survive
    val touched = (0 until 8).map(x => ZCurve.interleave(x, 0))
    assert(c.invalidateTouched(touched) == 9)
    assert(c.size == 7)
  }

  test("capacity cap evicts oldest entries instead of growing unboundedly") {
    val c = new TileCache(maxEntries = 4)
    (0 until 10).foreach(x => c.put("tile", 13, x, 0, Array(x.toByte)))
    assert(c.size <= 4, s"cap not enforced: ${c.size}")
    assert(c.get("tile", 13, 9, 0).isDefined, "newest entry must survive")
    assert(c.get("tile", 13, 0, 0).isEmpty, "oldest entry must be evicted")
  }

  test("invalidate/re-put churn does not grow the eviction queue") {
    val c = new TileCache()
    val z = 12
    // same small key set put and invalidated over and over: before the
    // queue sweep, every cycle leaked one stale queue entry per key
    (0 until 500).foreach { _ =>
      (0 until 4).foreach(x => c.put("tile", z, x, 0, Array(1.toByte)))
      val touched = (0 until 4).flatMap { x =>
        graft.core.ZRange.coverWithBuffer(z, x, 0, 13, 0.0).map(_._1)
      }
      c.invalidateTouched(touched)
    }
    assert(c.size == 0)
    assert(c.queueSize <= 8, s"eviction queue leaked: ${c.queueSize} entries")
    // single-key remove also drops the queue entry
    c.put("tile", z, 9, 9, Array(1.toByte))
    c.remove("tile", z, 9, 9)
    assert(c.queueSize == 0, s"remove left a stale queue entry: ${c.queueSize}")
  }

  test("churn micro-bench: bulk invalidation at 65k entries is bounded (number recorded in BASELINE.md)") {
    // sweepQueue + invalidateTouched are both O(entries) per bulk call —
    // fine at the 65 536-entry cap by design, but "fine" deserves one
    // measured number (round-10 verdict ask). Fill to capacity, then
    // measure invalidate→re-put churn rounds; the gate is generous (a
    // co-tenant box inflates wall), the printed number is the record.
    val cap = 65536
    val c = new TileCache(maxEntries = cap)
    val rnd = new scala.util.Random(11)
    val max13 = (1 << 13) - 1
    var n = 0
    val keys = new scala.collection.mutable.ArrayBuffer[(Int, Int, Int)](cap)
    while (n < cap) {
      val z = 8 + rnd.nextInt(6) // zooms 8..13 inside the cache window
      val x = rnd.nextInt(1 << z); val y = rnd.nextInt(1 << z)
      keys += ((z, x, y))
      c.put("tile", z, x, y, Array(1.toByte))
      n += 1
    }
    assert(c.size > cap / 2) // random dup keys collapse some puts
    val rounds = 20
    val t0 = System.nanoTime()
    var removedTotal = 0
    (1 to rounds).foreach { _ =>
      // a write batch touching 32 random level-13 cells
      val touched = Array.fill(32)(
        ZCurve.interleave(rnd.nextInt(max13 + 1), rnd.nextInt(max13 + 1)))
      removedTotal += c.invalidateTouched(touched.toSeq)
      // re-put churn keeps the queue under sweep pressure
      (1 to 64).foreach { _ =>
        val (z, x, y) = keys(rnd.nextInt(keys.size))
        c.put("tile", z, x, y, Array(1.toByte))
      }
    }
    val msPerRound = (System.nanoTime() - t0) / 1e6 / rounds
    info(f"invalidateTouched(32 cells) + 64 re-puts at ${c.size} entries: $msPerRound%.1f ms/round ($removedTotal removed over $rounds rounds)")
    // queue boundedness under churn at capacity: sweep keeps it ~store-sized
    assert(c.queueSize <= c.size + 64 * rounds,
      s"eviction queue leaked: ${c.queueSize} vs store ${c.size}")
    assert(msPerRound < 2000, f"bulk invalidation degenerated: $msPerRound%.1f ms/round")
  }

  test("concurrent put/get/invalidate churn is exception-free and leak-free") {
    val c = new TileCache(maxEntries = 4096)
    val errs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(t)
        try {
          while (!stop.get()) {
            val z = 8 + rnd.nextInt(6)
            val x = rnd.nextInt(1 << z); val y = rnd.nextInt(1 << z)
            rnd.nextInt(3) match {
              case 0 => c.put("tile", z, x, y, Array(t.toByte))
              case 1 => c.get("tile", z, x, y): Unit
              case _ => c.invalidateTouched(Seq(
                ZCurve.interleave(rnd.nextInt(1 << 13), rnd.nextInt(1 << 13)))): Unit
            }
          }
        } catch { case _: Throwable => errs.incrementAndGet(): Unit }
      })
    }
    threads.foreach(_.start())
    Thread.sleep(1000)
    stop.set(true)
    threads.foreach(_.join(5000))
    assert(errs.get() == 0, s"${errs.get()} thread(s) died during churn")
    assert(c.size <= 4096, s"capacity breached: ${c.size}")
  }

  test("a point region on a tile boundary invalidates both neighbors") {
    val c = new TileCache()
    // lon=0 is the exact boundary between tiles x=2^(z-1)-1 and x=2^(z-1)
    val z = 10
    val half = 1 << (z - 1)
    val lat = 45.0
    val ty = graft.core.WebMercator.tileY(lat, z)
    c.put("tile", z, half - 1, ty, Array(1))
    c.put("tile", z, half, ty, Array(2))
    assert(c.invalidateRegion(0.0, lat, 0.0, lat) == 2,
      "degenerate region on the boundary must hit BOTH adjacent tiles")
  }

  test("a put whose generation predates an invalidation is dropped (stale-put guard)") {
    val c = new TileCache()
    val h = ZCurve.interleave(100, 200)
    // a miss takes the generation, then a write commits and invalidates
    // while it renders — the tile is not cached yet, so the walk finds
    // nothing to remove, and only the generation can stop the stale put
    val asOf = c.generation
    assert(c.invalidateTouched(Seq(h)) == 0)
    assert(!c.put("tile", 13, 100, 200, Array(1), asOf))
    assert(c.get("tile", 13, 100, 200).isEmpty, "stale render was cached")
    // a render started after the invalidation caches normally
    assert(c.put("tile", 13, 100, 200, Array(2), c.generation))
    assert(c.get("tile", 13, 100, 200).exists(_.sameElements(Array[Byte](2))))
    // region invalidation guards the same way, for every key
    val asOf2 = c.generation
    c.invalidateRegion(-180.0, -85.0, -179.0, -84.0) // far from the tile
    assert(!c.put("heatmap", 13, 100, 200, Array(3), asOf2))
    assert(c.get("heatmap", 13, 100, 200).isEmpty)
  }
}
