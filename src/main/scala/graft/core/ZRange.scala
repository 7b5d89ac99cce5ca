package graft.core

/** Morton-range enumeration for tile requests — the reference's partition
  * pruning (`/root/reference/src/main/kotlin/io/marauder/tank/
  * application.kt:371-400`), generalized.
  *
  * A slippy tile at zoom z <= hashLevel covers an aligned 2^d x 2^d block of
  * hash-level cells (d = hashLevel - z); Morton order is contiguous on such
  * quad-aligned blocks, so the block is exactly one inclusive hash range.
  *
  * For z > hashLevel the tile nests inside a single hash-level cell. The
  * reference selects that one cell by the tile-bbox centroid
  * (application.kt:383-399) and therefore misses features whose *centroid
  * hash* lies in a neighboring cell even though their geometry overlaps the
  * tile (documented deviation D1 in SURVEY.md). [[coverWithBuffer]] fixes the
  * recall: it enumerates every hash-level cell intersecting the tile bbox
  * expanded by the clip buffer, then merges adjacent Morton ranges.
  */
object ZRange {

  /** Inclusive Morton range [lo, hi] of tile (z, x, y), for z <= hashLevel. */
  def rangeOf(z: Int, x: Int, y: Int, hashLevel: Int): (Int, Int) = {
    require(z <= hashLevel, s"rangeOf requires z <= hashLevel, got z=$z")
    val d = hashLevel - z
    val lo = ZCurve.interleave(x << d, y << d)
    val hi = ZCurve.interleave((x << d) + (1 << d) - 1, (y << d) + (1 << d) - 1)
    (lo, hi)
  }

  /** Hash ranges of all hashLevel cells whose extent intersects tile
    * (z, x, y) expanded by `bufferFrac` of the tile size on every side (the
    * tile reads pass the clip buffer's buffer/extent, the reference's
    * 64/4096, application.kt:63-67). Returned ranges are merged where
    * contiguous and sorted. Works for any z (fixes D1 for z > hashLevel).
    */
  def coverWithBuffer(z: Int, x: Int, y: Int, hashLevel: Int,
                      bufferFrac: Double): Seq[(Int, Int)] = {
    val max = (1 << hashLevel) - 1
    // tile extent in hash-level cell units
    val scale = math.pow(2.0, (hashLevel - z).toDouble)
    val x0 = math.max(0, math.floor((x - bufferFrac) * scale).toInt)
    val x1 = math.min(max, math.floor(((x + 1) + bufferFrac) * scale - 1e-12).toInt)
    val y0 = math.max(0, math.floor((y - bufferFrac) * scale).toInt)
    val y1 = math.min(max, math.floor(((y + 1) + bufferFrac) * scale - 1e-12).toInt)
    // granularity cap: quads no finer than 2^5 subdivisions of the tile keep
    // the range list (and the pruning predicate) small; the ≤3% over-scan is
    // discarded by the clip / cell-bound filters downstream
    decompose(x0, x1, y0, y1, hashLevel, math.min(hashLevel, z + 5))
  }

  /** Morton ranges covering the cell rectangle [x0,x1]×[y0,y1] (inclusive,
    * hashLevel-cell coords), built by recursive quadtree decomposition into
    * maximal aligned quads — each aligned quad is ONE contiguous Morton
    * range, so the output size is O(perimeter · log) instead of O(area):
    * a z=0 request is exactly one range, not 2^26 singletons.
    *
    * `maxLevel` caps the subdivision: intersecting quads at that level are
    * emitted whole (a bounded over-approximation of the rectangle) — the
    * standard S2-style max-cells trade of scan precision for predicate size.
    */
  def decompose(x0: Int, x1: Int, y0: Int, y1: Int, hashLevel: Int,
                maxLevel: Int = Int.MaxValue): Seq[(Int, Int)] = {
    val stop = math.min(hashLevel, maxLevel)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    def rec(qx: Int, qy: Int, level: Int): Unit = {
      val d = hashLevel - level
      val cx0 = qx << d; val cx1 = ((qx + 1) << d) - 1
      val cy0 = qy << d; val cy1 = ((qy + 1) << d) - 1
      if (cx1 < x0 || cx0 > x1 || cy1 < y0 || cy0 > y1) return // disjoint
      if ((cx0 >= x0 && cx1 <= x1 && cy0 >= y0 && cy1 <= y1) || level >= stop) {
        out += ((ZCurve.interleave(cx0, cy0), ZCurve.interleave(cx1, cy1)))
      } else {
        rec(qx << 1, qy << 1, level + 1)
        rec((qx << 1) | 1, qy << 1, level + 1)
        rec(qx << 1, (qy << 1) | 1, level + 1)
        rec((qx << 1) | 1, (qy << 1) | 1, level + 1)
      }
    }
    rec(0, 0, 0)
    mergeRanges(out.toSeq)
  }

  /** Merge sorted-or-unsorted inclusive ranges that touch or overlap; the
    * engine's one range merge (safe for a range ending at `Int.MaxValue`).
    */
  def mergeRanges(rs: Seq[(Int, Int)]): Seq[(Int, Int)] = {
    if (rs.isEmpty) return Nil
    val sorted = rs.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)](sorted.head)
    for ((lo, hi) <- sorted.tail) {
      val (plo, phi) = out.last
      if (lo.toLong <= phi.toLong + 1) out(out.size - 1) = (plo, math.max(phi, hi))
      else out += ((lo, hi))
    }
    out.toSeq
  }
}
