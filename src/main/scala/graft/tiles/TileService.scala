package graft.tiles

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.ZRange
import graft.functions.{HashInRanges, HashRangePushdown}

/** The reference's two read products — vector tiles and count heatmaps — as
  * single pruned-scan DataFrame plans plus a driver-side MVT encode of the
  * (small-by-construction) per-tile result.
  *
  * Reference dataflow being reproduced (SURVEY.md §2.2/§2.3):
  *  - tile: Z-range prune → scan(+attr filter) → project/clip/transform → MVT
  *    (`application.kt:350-474`), but as ONE Spark scan with the hash-range
  *    and attribute predicates pushed into the parquet reader, instead of one
  *    CQL round-trip per hash cell (application.kt:403-418).
  *  - heatmap: n×n grid count (`application.kt:522-615`) as ONE groupBy over
  *    the pruned scan, instead of up to n²·|hashes| point COUNT queries
  *    (application.kt:595-599). Cells are assigned by feature-centroid
  *    position (exact), not by hash-cell membership — documented deviation
  *    D5: more accurate, same output shape.
  *
  * Each product has one render path, the panel ([[panel]],
  * [[heatmapPanel]]: N tiles at one zoom from one job); the single-tile
  * reads are its one-tile case. For the query registry, [[tileDf]] is the
  * one-tile panel plan as a DataFrame; [[heatmapDf]] is an independent
  * column-arithmetic plan, kept as the reference the heatmap panel's
  * cells are tested against.
  *
  * At 100 TB the feature table is laid out hash-sorted (bucketed/Z-ordered),
  * so the hash ranges, pushed to parquet as range comparisons, prune to a
  * handful of files/row-groups; each tile read touches O(tile) data no
  * matter the table size.
  */
object TileService {

  /** Tank's tiling config surface (application.conf `tyler` section). */
  final case class TileConfig(
      hashLevel: Int = 13,
      extent: Int = 4096,
      buffer: Int = 64,
      baseLayer: String = "io.marauder.tank",
      mainAttr: String = "class",
      attributes: Seq[String] = Seq("class", "value"))

  /** Hash-range predicate covering tile (z,x,y) + clip buffer (fixes the
    * reference's z>hashLevel centroid-cell recall bug — deviation D1).
    * The halo is the FULL buffer/extent fraction — the clip envelope's own
    * reach — so a feature whose centroid sits anywhere in the clip-buffer
    * zone is in the query and can render into the tile's buffer (a halved
    * halo silently dropped edge features from the outer half of the zone).
    * The ranges are bound as a [[HashInRanges]] reference, not inlined.
    */
  def hashPredicate(z: Int, x: Int, y: Int, cfg: TileConfig): Column =
    HashInRanges.column(col("hash"), cover(z, x, y, cfg))

  /** Tile (z,x,y)'s buffered Morton cover, sorted and merged; the SQL
    * `in_tile` tests the default config's ([[graft.functions.InTileExpr]]).
    */
  private[graft] def cover(z: Int, x: Int, y: Int, cfg: TileConfig): Seq[(Int, Int)] =
    ZRange.coverWithBuffer(z, x, y, cfg.hashLevel, cfg.buffer.toDouble / cfg.extent.toDouble)

  /** The distributed tile query: the one-tile [[panelPlan]], the plan that
    * serves tiles. Output: uid, <attributes...>, tgeom (WKT in integer
    * tile coords).
    */
  def tileDf(features: DataFrame, z: Int, x: Int, y: Int,
             filter: Option[(String, Any)] = None,
             cfg: TileConfig = TileConfig()): DataFrame =
    panelPlan(features, z, Seq((x, y)), filter, cfg).drop("_t")

  /** Full tile read: the one-tile case of [[panel]], so a tile served
    * from a batched render is byte-identical to this answer.
    */
  def tile(features: DataFrame, z: Int, x: Int, y: Int,
           filter: Option[(String, Any)] = None,
           cfg: TileConfig = TileConfig()): Array[Byte] =
    panel(features, z, Seq((x, y)), filter, cfg)((x, y))

  /** BATCH panel read — N tiles at one zoom from ONE Spark job (the
    * cold-panel fix: ServingLatencyProbe measured one job per cold tile
    * at ~490 ms p50, so a 64-tile viewer panel paid 64 sequential jobs
    * where a single pruned scan covering the panel's merged Z-ranges
    * serves them all). Pipeline: merged-range pruned scan → per-feature
    * candidate-tile fan-out → per-(feature, tile) clip → driver-side group
    * + MVT encode (driver rows are panel-bounded: the same rows the N
    * single-tile reads would each collect). A feature is a member of tile
    * t exactly when its hash lies in t's buffered cover (not merely in the
    * panel's merged one) and it clips into t; its buffered envelope only
    * narrows the candidates. Features
    * are encoded in uid order, so a tile's bytes do not depend on the
    * other tiles of the panel or on scan order. Returns bytes for EVERY
    * requested tile — an empty tile encodes the empty layer.
    *
    * The plan compiles once: the panel's ranges are bound as a
    * [[HashInRanges]] reference and the per-panel values ride in the UDF
    * closures, so the generated code is the same for every tile set and
    * zoom. A `filter` on a text attribute binds its literal as a
    * reference too; on a numeric one it inlines the literal, so each new
    * value compiles the plan anew (2 compiles on a one-tile panel).
    */
  def panel(features: DataFrame, z: Int, tiles: Seq[(Int, Int)],
            filter: Option[(String, Any)] = None,
            cfg: TileConfig = TileConfig()): Map[(Int, Int), Array[Byte]] = {
    if (tiles.isEmpty) return Map.empty
    val byTile = panelPlan(features, z, tiles, filter, cfg).collect().groupBy { r =>
      val t = r.getAs[Long]("_t"); ((t >> 32).toInt, t.toInt)
    }
    tiles.map { case (x, y) =>
      val feats = byTile.getOrElse((x, y), Array.empty[Row])
        .sortBy(_.getAs[String]("uid")).toSeq.map { r =>
          val (gt, rings, roles) = GeomUdfs.toMvtRingsRoles(r.getAs[String]("tgeom"))
          val props = cfg.attributes.flatMap { a =>
            Option(r.getAs[Any](a)).map(a -> _)
          }
          Mvt.Feature(None, gt, rings, props, exteriors = Some(roles))
        }
      (x, y) -> Mvt.encode(feats, cfg.baseLayer, cfg.extent)
    }.toMap
  }

  /** [[panel]]'s Spark plan: uid, <attributes...>, `_t` (the tile, packed
    * x << 32 | y) and tgeom, one row per (feature, tile) it renders into.
    */
  private[tiles] def panelPlan(features: DataFrame, z: Int, tiles: Seq[(Int, Int)],
                               filter: Option[(String, Any)],
                               cfg: TileConfig): DataFrame = {
    val cov = covers(z, tiles, cfg)
    val member = cov.map { case (t, c) => t -> HashInRanges.flat(c) }
    val pruned = prunedScan(features, HashInRanges.column(col("hash"), cov.values.flatten.toSeq))
    val filtered = filter match {
      case Some((attr, v)) => pruned.filter(col(attr) === lit(v))
      case None => pruned
    }
    // candidate tiles of a feature: envelope (in tile units at z, expanded
    // by the clip-buffer halo) ∩ the requested set, kept where the tile's
    // own cover holds the feature's hash; packed (x << 32 | y)
    val bf = cfg.buffer.toDouble / cfg.extent.toDouble
    val (xLo, xHi) = (tiles.map(_._1).min, tiles.map(_._1).max)
    val (yLo, yHi) = (tiles.map(_._2).min, tiles.map(_._2).max)
    val candU = udf((hash: Int, wkt: String) => {
      val env = GeomUdfs.parse(wkt).getEnvelopeInternal
      val scale = (1L << z).toDouble
      val x0 = math.floor(graft.core.WebMercator.projX(env.getMinX) * scale - bf).toInt
      val x1 = math.floor(graft.core.WebMercator.projX(env.getMaxX) * scale + bf).toInt
      val y0 = math.floor(graft.core.WebMercator.projY(env.getMaxY) * scale - bf).toInt
      val y1 = math.floor(graft.core.WebMercator.projY(env.getMinY) * scale + bf).toInt
      (for {
        x <- math.max(x0, xLo) to math.min(x1, xHi)
        y <- math.max(y0, yLo) to math.min(y1, yHi)
        c <- member.get((x, y)) if HashInRanges.contains(c, hash)
      } yield (x.toLong << 32) | (y & 0xffffffffL)).toArray
    })
    val (ext, buf) = (cfg.extent, cfg.buffer)
    val clipU = udf((wkt: String, t: Long) =>
      GeomUdfs.clipToTile(wkt, z, (t >> 32).toInt, t.toInt, ext, buf))
    filtered
      .select((col("uid") +: cfg.attributes.map(col)) :+ col("geometry") :+
        explode(candU(col("hash"), col("geometry"))).as("_t"): _*)
      .withColumn("tgeom", clipU(col("geometry"), col("_t")))
      .filter(col("tgeom").isNotNull)
      .drop("geometry")
  }

  /** Each tile's buffered Morton cover (the ranges [[hashPredicate]]
    * holds).
    */
  private def covers(z: Int, tiles: Seq[(Int, Int)],
                     cfg: TileConfig): Map[(Int, Int), Seq[(Int, Int)]] =
    tiles.distinct.map { case (x, y) => (x, y) -> cover(z, x, y, cfg) }.toMap

  /** The store filtered by a [[HashInRanges]] predicate (a panel's is
    * merged over its tiles' covers, so it stays O(perimeter) sized even
    * where their buffered covers overlap). Registers [[HashRangePushdown]]
    * on the store's session, so the ranges reach the parquet reader in
    * sessions that never called [[graft.functions.GraftFunctions.register]].
    */
  private def prunedScan(features: DataFrame, pred: Column): DataFrame = {
    HashRangePushdown.register(features.sparkSession)
    features.filter(pred)
  }

  /** Heatmap grid size: 24 for z in 1..9 else 16 (application.kt:549-553). */
  def gridN(z: Int): Int = if (z >= 1 && z <= 9) 24 else 16

  /** The distributed heatmap query: pruned scan → centroid cell → count.
    * Output: (cell_i, cell_j, n) for non-empty cells, 0 <= i,j < gridN(z).
    */
  def heatmapDf(features: DataFrame, z: Int, x: Int, y: Int,
                cfg: TileConfig = TileConfig()): DataFrame = {
    val n = gridN(z)
    val scale = (1L << z).toDouble
    val cxy = GeomUdfs.centroidXY(col("geometry"))
    prunedScan(features, hashPredicate(z, x, y, cfg))
      .withColumn("_cxy", cxy)
      .withColumn("cell_i", floor((col("_cxy")(0) * scale - x) * n).cast("int"))
      .withColumn("cell_j", floor((col("_cxy")(1) * scale - y) * n).cast("int"))
      .filter(col("cell_i") >= 0 && col("cell_i") < n &&
        col("cell_j") >= 0 && col("cell_j") < n)
      .groupBy("cell_i", "cell_j")
      .agg(count(lit(1)).as("n"))
  }

  /** Heatmap as an MVT of cell polygons carrying a `count` attribute
    * (A9's output shape, application.kt:601-610): the one-tile case of
    * [[heatmapPanel]].
    */
  def heatmap(features: DataFrame, z: Int, x: Int, y: Int,
              cfg: TileConfig = TileConfig()): Array[Byte] =
    heatmapPanel(features, z, Seq((x, y)), cfg)((x, y))

  /** BATCH heatmap read — N heatmap tiles at one zoom from one pruned scan
    * and one aggregate. A feature counts in cell (i, j) of tile t exactly
    * when [[heatmapDf]] would count it there: its hash lies in t's buffered
    * cover and floor((cx·2^z − x)·n), floor((cy·2^z − y)·n) fall in
    * [0, n), computed with the same double arithmetic. Cells are encoded
    * in (j, i) order, so a tile's bytes depend neither on the other tiles
    * of the panel nor on the aggregate's output order. Returns bytes for
    * EVERY requested tile — an empty tile encodes the empty layer. Like
    * [[panel]]'s, its plan compiles once for every tile set and zoom.
    */
  def heatmapPanel(features: DataFrame, z: Int, tiles: Seq[(Int, Int)],
                   cfg: TileConfig = TileConfig()): Map[(Int, Int), Array[Byte]] = {
    if (tiles.isEmpty) return Map.empty
    val n = gridN(z)
    val counts = heatmapPanelPlan(features, z, tiles, cfg)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val byTile = counts.groupBy(_._1 >> 16)
    val cellPx = cfg.extent.toDouble / n
    tileIndex(tiles).map { case (t, k) =>
      val feats = byTile.getOrElse(k.toLong, Array.empty[(Long, Long)]).toSeq.map {
        case (c, cnt) =>
          val (i, j) = ((c & 0xff).toInt, ((c >> 8) & 0xff).toInt)
          val (x0, y0) = ((i * cellPx).round.toInt, (j * cellPx).round.toInt)
          val (x1, y1) = (((i + 1) * cellPx).round.toInt, ((j + 1) * cellPx).round.toInt)
          val ring = Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
          Mvt.Feature(None, 3, Seq(ring), Seq("count" -> cnt))
      }
      t -> Mvt.encode(feats, cfg.baseLayer, cfg.extent)
    }
  }

  /** [[heatmapPanel]]'s Spark plan: (`_c`, n) per non-empty cell, `_c`
    * packing ([[tileIndex]], j, i) so that sorting the keys orders them by
    * tile, then row j, then column i.
    */
  private[tiles] def heatmapPanelPlan(features: DataFrame, z: Int, tiles: Seq[(Int, Int)],
                                      cfg: TileConfig): DataFrame = {
    val n = gridN(z)
    val scale = (1L << z).toDouble
    val cov = covers(z, tiles, cfg)
    val member = cov.map { case (t, c) => t -> HashInRanges.flat(c) }
    val index = tileIndex(tiles)
    val cellsU = udf((hash: Int, wkt: String) => {
      val c = GeomUdfs.parse(wkt).getCentroid
      val (cx, cy) = (graft.core.WebMercator.projX(c.getX), graft.core.WebMercator.projY(c.getY))
      val (fx, fy) = (math.floor(cx * scale).toInt, math.floor(cy * scale).toInt)
      (for {
        x <- fx - 1 to fx + 1
        y <- fy - 1 to fy + 1
        k <- index.get((x, y))
        if HashInRanges.contains(member((x, y)), hash)
        i = math.floor((cx * scale - x) * n)
        j = math.floor((cy * scale - y) * n)
        if i >= 0 && i < n && j >= 0 && j < n
      } yield (k.toLong << 16) | (j.toLong << 8) | i.toLong).toArray
    })
    prunedScan(features, HashInRanges.column(col("hash"), cov.values.flatten.toSeq))
      .select(explode(cellsU(col("hash"), col("geometry"))).as("_c"))
      .groupBy("_c").agg(count(lit(1)).as("n"))
  }

  private def tileIndex(tiles: Seq[(Int, Int)]): Map[(Int, Int), Int] =
    tiles.distinct.zipWithIndex.toMap
}
