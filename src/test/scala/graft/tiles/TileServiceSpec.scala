package graft.tiles

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.functions._
import graft.{SparkSpec, TestFixtures}
import graft.core.WebMercator
import graft.functions.{HashInRanges, HashRangePushdown}

class TileServiceSpec extends SparkSpec {

  import TileService._

  private lazy val feats = TestFixtures.features(spark, Sf).cache()
  private val (ax, ay) = (TestFixtures.ax, TestFixtures.ay)

  test("z=13 anchor tile returns the edge-case features, clipped into buffered bounds") {
    val df = tileDf(feats, 13, ax, ay)
    val rows = df.collect()
    val uids = rows.map(_.getAs[String]("uid")).toSet
    // cell-covering polygon (1000001), 3-cell linestring (1000002) and
    // NW-corner point (1000003) all intersect; the sub-pixel polygon
    // (1000004) legitimately collapses to empty under integer pixel
    // snapping at this zoom (asserted separately at z=17)
    assert(Set("uid-1000001", "uid-1000002", "uid-1000003").subsetOf(uids),
      s"missing expected features; got $uids")
    // D1 recall fix: the boundary-straddling polygon's centroid hash is the
    // NEIGHBOR cell, yet it must appear in this tile (the reference drops it)
    assert(uids.contains("uid-1000000"), "D1 case missed: neighbor-cell-hash feature")
    // every clipped geometry stays inside the buffered tile square
    rows.foreach { r =>
      val (_, rings) = GeomUdfs.toMvtRings(r.getAs[String]("tgeom"))
      rings.flatten.foreach { case (x, y) =>
        assert(x >= -64 && x <= 4096 + 64 && y >= -64 && y <= 4096 + 64,
          s"coord ($x,$y) outside buffered extent for ${r.getAs[String]("uid")}")
      }
    }
  }

  test("attribute filter restricts the tile to the filtered class") {
    val all = tileDf(feats, 13, ax, ay).count()
    val water = tileDf(feats, 13, ax, ay, filter = Some("class" -> "water"))
    assert(water.collect().forall(_.getAs[String]("class") == "water"))
    assert(water.count() < all)
  }

  test("z=9 ancestor tile contains at least the z=13 features") {
    val n13 = tileDf(feats, 13, ax, ay).count()
    val n9 = tileDf(feats, 9, ax >> 4, ay >> 4).count()
    assert(n9 >= n13, s"ancestor tile ($n9) lost features vs child ($n13)")
  }

  test("z=15 descendant tile (z > hashLevel) still reads through the parent cell") {
    // the full-cell polygon covers every z=15 descendant of the anchor cell
    val rows = tileDf(feats, 15, ax << 2, ay << 2).collect()
    assert(rows.map(_.getAs[String]("uid")).contains("uid-1000001"))
  }

  test("sub-pixel polygon collapses at z=13 but renders at z=17") {
    val uids13 = tileDf(feats, 13, ax, ay).collect().map(_.getAs[String]("uid"))
    assert(!uids13.contains("uid-1000004"))
    val cLon = TestFixtures.lonW + 0.5 * TestFixtures.dLon + TestFixtures.dLon / 16384
    val cLat = TestFixtures.latS + 0.5 * TestFixtures.dLat + TestFixtures.dLat / 16384
    val (tx17, ty17) = (WebMercator.tileX(cLon, 17), WebMercator.tileY(cLat, 17))
    val uids17 = tileDf(feats, 17, tx17, ty17).collect().map(_.getAs[String]("uid"))
    assert(uids17.contains("uid-1000004"), s"sub-pixel polygon missing at z17: ${uids17.toSeq}")
  }

  test("tile() produces a decodable MVT with the configured layer and attrs") {
    val bytes = tile(feats, 13, ax, ay)
    val layers = Mvt.decode(bytes)
    assert(layers.map(_.name) == Seq("io.marauder.tank"))
    val fs = layers.head.features
    assert(fs.nonEmpty)
    assert(fs.forall(f => f.props.contains("class") && f.props.contains("value")))
    assert(fs.forall(f => Set(1, 2, 3).contains(f.geomType)))
  }

  test("panel(): the one-job batch read equals per-tile reads, empty tiles included") {
    // 3×3 neighborhood around the anchor: exercises features clipping into
    // MULTIPLE panel tiles (the straddling polygon, the 3-cell linestring)
    // and at least one empty member
    val tiles = for { dx <- -1 to 1; dy <- -1 to 1 } yield (ax + dx, ay + dy)
    val got = panel(feats, 13, tiles)
    assert(got.keySet == tiles.toSet)
    tiles.foreach { case (x, y) =>
      val single = tile(feats, 13, x, y)
      assert(GoldenTiles.canonical(got((x, y))) == GoldenTiles.canonical(single),
        s"panel tile ($x,$y) diverges from the single-tile read")
      assert(got((x, y)).sameElements(single),
        s"panel tile ($x,$y) is not byte-identical to the single-tile read")
    }
    // the filtered form matches too (panel is cacheable-unfiltered in the
    // server, but the service-level contract covers filters)
    val fTiles = Seq((ax, ay))
    val fGot = panel(feats, 13, fTiles, filter = Some("class" -> "water"))
    assert(GoldenTiles.canonical(fGot((ax, ay))) ==
      GoldenTiles.canonical(tile(feats, 13, ax, ay, Some("class" -> "water"))))
    // a far-away empty tile still answers with the single read's empty layer
    val farT = (ax + 100, ay + 100)
    val far = panel(feats, 13, Seq(farT))
    assert(java.util.Arrays.equals(far(farT), tile(feats, 13, farT._1, farT._2)),
      "empty panel tile diverges from the single-tile empty answer")
  }

  test("heatmap counts equal the per-cell centroid counts, one groupBy") {
    val z = 6
    // densest z=6 tile by customer-point centroid
    val withTile = TestFixtures.features(spark, Sf)
      .withColumn("_cxy", GeomUdfs.centroidXY(col("geometry")))
      .withColumn("tx", floor(col("_cxy")(0) * (1 << z)).cast("int"))
      .withColumn("ty", floor(col("_cxy")(1) * (1 << z)).cast("int"))
    val top = withTile.groupBy("tx", "ty").count()
      .orderBy(col("count").desc, col("tx"), col("ty")).first()
    val (tx, ty, expected) = (top.getInt(0), top.getInt(1), top.getLong(2))
    val cells = heatmapDf(feats, z, tx, ty).collect()
    assert(cells.map(_.getAs[Long]("n")).sum == expected,
      s"heatmap total != features in tile")
    val n = gridN(z)
    assert(cells.forall { r =>
      val i = r.getAs[Int]("cell_i"); val j = r.getAs[Int]("cell_j")
      i >= 0 && i < n && j >= 0 && j < n
    })
    // MVT form carries count attrs on polygon cells
    val mvt = Mvt.decode(heatmap(feats, z, tx, ty)).head
    assert(mvt.features.nonEmpty && mvt.features.forall(f =>
      f.geomType == 3 && f.props.get("count").exists(_.asInstanceOf[Long] > 0)))
  }

  test("heatmapPanel(): each tile equals its one-tile render and heatmapDf's cells") {
    val z = 6
    val cxy = TestFixtures.features(spark, Sf)
      .withColumn("_cxy", GeomUdfs.centroidXY(col("geometry")))
      .select(floor(col("_cxy")(0) * (1 << z)).cast("int"),
        floor(col("_cxy")(1) * (1 << z)).cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val (tx, ty) = cxy.groupBy(identity).maxBy(g => (g._2.length, -g._1._1, -g._1._2))._1
    // the densest tile, its neighbors and a tile no centroid falls in
    val occupied = cxy.toSet
    val empty = (0 until (1 << z)).map(x => (x, ty)).find(t => !occupied(t)).get
    val tiles = (for { dx <- -1 to 1; dy <- -1 to 1 } yield (tx + dx, ty + dy)) :+ empty
    val got = heatmapPanel(feats, z, tiles)
    assert(got.keySet == tiles.toSet)
    val n = gridN(z)
    val cellPx = TileConfig().extent.toDouble / n
    def unzig(v: Long): Int = ((v >>> 1) ^ -(v & 1)).toInt
    // a cell square: MoveTo(1) dx dy, LineTo(3) 3×(dx dy), ClosePath;
    // its minimum corner is cell (i, j) scaled by cellPx
    def corner(cmds: Seq[Long]): (Int, Int) = {
      val pts = (Seq(cmds.slice(1, 3)) ++ cmds.slice(4, 10).grouped(2))
        .map(d => (unzig(d(0)), unzig(d(1))))
        .scanLeft((0, 0)) { case ((px, py), (dx, dy)) => (px + dx, py + dy) }.tail
      (math.round(pts.map(_._1).min / cellPx).toInt, math.round(pts.map(_._2).min / cellPx).toInt)
    }
    tiles.foreach { case (x, y) =>
      assert(got((x, y)).sameElements(heatmap(feats, z, x, y)),
        s"panel heatmap ($x,$y) is not byte-identical to the one-tile render")
      val cells = Mvt.decode(got((x, y))).head.features.map { f =>
        val (i, j) = corner(f.commands)
        (j, i) -> f.props("count").asInstanceOf[Long]
      }
      assert(cells.map(_._1) == cells.map(_._1).sorted, s"($x,$y) cells out of (j, i) order")
      val want = heatmapDf(feats, z, x, y).collect().map(r =>
        (r.getAs[Int]("cell_j"), r.getAs[Int]("cell_i")) -> r.getAs[Long]("n")).toMap
      assert(cells.toMap == want, s"($x,$y) cell counts differ from heatmapDf")
    }
    assert(got((tx, ty)).length > got(empty).length, "fixture broken: dense tile has no cells")
    assert(got(empty).sameElements(Mvt.encode(Nil, TileConfig().baseLayer, TileConfig().extent)),
      "an empty heatmap tile must encode the empty layer")
  }

  test("hash predicate prunes: anchor tile scan reads far fewer rows than the table") {
    val total = feats.count()
    val scanned = feats.filter(hashPredicate(13, ax, ay, TileConfig())).count()
    assert(scanned < total / 10, s"no pruning: $scanned of $total rows")
  }

  private lazy val storeRoot = java.nio.file.Files.createTempDirectory("graft-tilestore")

  private lazy val storeDir: String = {
    val dir = storeRoot.resolve("f").toString
    TestFixtures.features(spark, Sf).repartitionByRange(4, col("hash"))
      .sortWithinPartitions("hash").write.parquet(dir)
    dir
  }

  override def afterAll(): Unit =
    try {
      val files = java.nio.file.Files.walk(storeRoot)
      try files.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally files.close()
    } finally super.afterAll()

  /** The fixture features as a parquet store, read by a new session that
    * never called `GraftFunctions.register`.
    */
  private def stored(): DataFrame = spark.newSession().read.parquet(storeDir)

  private def generatedCode(df: DataFrame): Seq[String] = {
    df.collect() // run it, so adaptive stages hold their final code
    df.queryExecution.debug.codegenToSeq().map(_._2)
  }

  test("panel and heatmapPanel plans compile once: the same generated code for any tiles and zoom") {
    val cfg = TileConfig()
    val z13 = for { dx <- -1 to 1; dy <- -1 to 1 } yield (ax + dx, ay + dy)
    val z14 = Seq((2 * ax + 5, 2 * ay), (2 * ax + 6, 2 * ay + 1))
    val store = stored()
    val p13 = generatedCode(panelPlan(store, 13, z13, None, cfg))
    val p14 = generatedCode(panelPlan(store, 14, z14, None, cfg))
    assert(p13.nonEmpty && p13 == p14,
      "panel plans over different tiles generate different code")
    val h6 = generatedCode(heatmapPanelPlan(store, 6, Seq((ax >> 7, ay >> 7)), cfg))
    val h11 = generatedCode(heatmapPanelPlan(store, 11, Seq((ax >> 2, ay >> 2),
      ((ax >> 2) + 1, ay >> 2), (ax >> 2, (ay >> 2) + 1)), cfg))
    assert(h6.nonEmpty && h6 == h11,
      "heatmap panel plans over different tiles generate different code")
  }

  test("the tile path keeps the hash ranges pushed into the parquet scan on its own") {
    val store = stored()
    assert(!store.sparkSession.experimental.extraStrategies.contains(HashRangePushdown),
      "fixture broken: the session already has the strategy")
    val tiles = for { dx <- 0 to 1; dy <- 0 to 1 } yield (ax + dx, ay + dy)
    val df = panelPlan(store, 13, tiles, None, TileConfig())
    val plan = df.queryExecution.sparkPlan
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    val ranges = graft.core.ZRange.mergeRanges(tiles.flatMap { case (x, y) =>
      graft.core.ZRange.coverWithBuffer(13, x, y, 13, 64.0 / 4096) })
    val pushed = scan.metadata("PushedFilters")
    assert(ranges.size > 1 && pushed.startsWith("[Or("), pushed)
    ranges.foreach { case (lo, hi) =>
      assert(pushed.contains(s"GreaterThanOrEqual(hash,$lo)") &&
        pushed.contains(s"LessThanOrEqual(hash,$hi)"), s"[$lo, $hi] not pushed: $pushed")
    }
    assert(!scan.dataFilters.exists(_.exists(_.isInstanceOf[HashInRanges])))
    val post = plan.collectFirst { case f: FilterExec if f.child eq scan => f.condition }
    assert(post.exists(c => c.isInstanceOf[HashInRanges] &&
      !c.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Or])),
      s"post-scan filter: $post")
    assert(plan.toString.contains("Filter hashinranges(hash#"), plan.toString)
    // and the rows equal the literal BETWEEN form's
    val between = ranges.map { case (lo, hi) => col("hash").between(lo, hi) }.reduce(_ || _)
    assert(store.filter(HashInRanges.column(col("hash"), ranges)).select("uid")
      .collect().map(_.getString(0)).sorted.toSeq ==
      store.filter(between).select("uid").collect().map(_.getString(0)).sorted.toSeq)
  }
}
