package graft.tiles

import org.locationtech.jts.geom.{Coordinate, CoordinateFilter, Envelope, Geometry, GeometryFactory, PrecisionModel}
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.io.{WKTReader, WKTWriter}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import graft.core.{WebMercator, ZCurve}

/** JTS-backed geometry kernels used from Spark UDFs. Geometry rides through
  * DataFrames as WKT text (the reference's at-rest format,
  * `/root/reference/src/main/kotlin/io/marauder/tank/Tyler.kt:133`);
  * JTS objects exist only inside a single expression evaluation — nothing
  * JTS-typed crosses a shuffle.
  *
  * WKTReader/Writer are not thread-safe → ThreadLocal instances (Spark runs
  * many tasks per executor JVM).
  */
object GeomUdfs extends Serializable {

  @transient private lazy val readers =
    ThreadLocal.withInitial[WKTReader](() => new WKTReader())
  @transient private lazy val writers =
    ThreadLocal.withInitial[WKTWriter](() => new WKTWriter())
  @transient private lazy val gf = new GeometryFactory()

  def parse(wkt: String): Geometry = readers.get.read(wkt)
  def write(g: Geometry): String = writers.get.write(g)

  /** Executor-local LRU of prepared geometries keyed by WKT. A spatial join
    * probes the same polygon against millions of candidate points; parsing
    * and re-indexing it per pair dominates the verify cost. Per-thread maps
    * sidestep PreparedGeometry's thread-safety caveats; 256 entries bounds
    * memory when a task sees many distinct polygons.
    */
  @transient private lazy val preparedCache =
    ThreadLocal.withInitial[java.util.LinkedHashMap[String, org.locationtech.jts.geom.prep.PreparedGeometry]](() =>
      new java.util.LinkedHashMap[String, org.locationtech.jts.geom.prep.PreparedGeometry](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, org.locationtech.jts.geom.prep.PreparedGeometry]): Boolean =
          size > 256
      })

  def prepared(wkt: String): org.locationtech.jts.geom.prep.PreparedGeometry = {
    val m = preparedCache.get
    var g = m.get(wkt)
    if (g == null) {
      g = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(parse(wkt))
      m.put(wkt, g)
    }
    g
  }

  /** Morton hash (at `hashLevel`) of the geometry centroid's slippy tile —
    * the reference's partition key (Tyler.kt:127-134).
    */
  def centroidHash(wkt: String, hashLevel: Int): Int = {
    val c = parse(wkt).getCentroid
    ZCurve.interleave(
      WebMercator.tileX(c.getX, hashLevel),
      WebMercator.tileY(c.getY, hashLevel))
  }

  /** Clip a lon/lat WKT geometry to tile (z,x,y) expanded by `buffer` MVT
    * pixels, returning WKT in integer tile-local pixel coords (y down,
    * 0..extent inside the tile) — stages T5-T7 of the reference's tile read
    * (application.kt:435-459) in one kernel. Returns null when the clipped
    * geometry is empty.
    */
  def clipToTile(wkt: String, z: Int, x: Int, y: Int,
                 extent: Int, buffer: Int): String = {
    if (wkt == null) return null
    val geom = parse(wkt)
    val scale = (1L << z).toDouble
    // lon/lat -> tile-local pixels
    geom.apply(new CoordinateFilter {
      override def filter(c: Coordinate): Unit = {
        c.setX((WebMercator.projX(c.getX) * scale - x) * extent)
        c.setY((WebMercator.projY(c.getY) * scale - y) * extent)
      }
    })
    geom.geometryChanged()
    val env = gf.toGeometry(new Envelope(
      -buffer.toDouble, (extent + buffer).toDouble,
      -buffer.toDouble, (extent + buffer).toDouble))
    val fixed = if (geom.isValid) geom else GeometryFixer.fix(geom)
    val clipped = fixed.intersection(env)
    if (clipped.isEmpty) return null
    // snap to integer pixels (robust under collapse)
    val snapped = org.locationtech.jts.precision.GeometryPrecisionReducer
      .reduce(clipped, new PrecisionModel(1.0))
    if (snapped.isEmpty) null else write(snapped)
  }

  /** Convert a tile-local WKT (from [[clipToTile]]) into MVT ring structure:
    * (geomType, rings). MultiX flattens into multiple rings/parts; a
    * GeometryCollection keeps only its highest-dimension members (matching
    * what clipping a single-type geometry can produce).
    */
  def toMvtRings(wkt: String): (Int, Seq[Seq[(Int, Int)]]) = {
    val (gt, rings, _) = toMvtRingsRoles(wkt)
    (gt, rings)
  }

  /** Like [[toMvtRings]] but also returns each ring's role from JTS —
    * true = exterior, false = hole. A flattened MultiPolygon has several
    * exterior rings; the MVT encoder must wind each by its role, not by
    * its position in the flat list.
    */
  def toMvtRingsRoles(wkt: String): (Int, Seq[Seq[(Int, Int)]], Seq[Boolean]) = {
    val g = parse(wkt)
    def ringOf(cs: Array[Coordinate]): Seq[(Int, Int)] =
      cs.map(c => (math.round(c.getX).toInt, math.round(c.getY).toInt)).toSeq
    val dim = g.getDimension
    val parts = (0 until g.getNumGeometries).map(g.getGeometryN)
      .filter(_.getDimension == dim)
    dim match {
      case 0 =>
        (1, Seq(parts.flatMap(p => ringOf(p.getCoordinates))), Seq(true))
      case 1 =>
        (2, parts.map(p => ringOf(p.getCoordinates)), parts.map(_ => true))
      case _ =>
        val ringsWithRoles = parts.flatMap {
          case poly: org.locationtech.jts.geom.Polygon =>
            (ringOf(poly.getExteriorRing.getCoordinates), true) +:
              (0 until poly.getNumInteriorRing)
                .map(i => (ringOf(poly.getInteriorRingN(i).getCoordinates), false))
          case other => Seq((ringOf(other.getCoordinates), true))
        }
        (3, ringsWithRoles.map(_._1), ringsWithRoles.map(_._2))
    }
  }

  // ----------------------------------------------------------- Column API

  def centroidHashUdf(hashLevel: Int): Column => Column = {
    val f = udf((wkt: String) => centroidHash(wkt, hashLevel))
    (c: Column) => f(c)
  }

  /** Centroid world-fraction coords (for heatmap cell assignment). */
  val centroidXY: Column => Column = {
    val f = udf((wkt: String) => {
      val c = parse(wkt).getCentroid
      Array(WebMercator.projX(c.getX), WebMercator.projY(c.getY))
    })
    (c: Column) => f(c)
  }
}
