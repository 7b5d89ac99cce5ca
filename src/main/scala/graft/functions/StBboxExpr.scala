package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.GraftBridge.SqlAbstractDataType
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType}
import graft.core.{WebMercator, ZRange}

/** `st_centroid_in_bbox(wkt, minLon, minLat, maxLon, maxLat)` — true iff
  * the geometry's centroid lies inside the lon/lat bbox (inclusive edges).
  *
  * This is the engine's declarative ST-style spatial predicate (SURVEY §4's
  * stretch optimizer rule, §7): the caller states geometric INTENT against
  * the features table and [[SpatialPredicateRewrite]] derives the Z-range
  * scan form, a [[HashInRanges]] that [[HashRangePushdown]] pushes to the
  * parquet reader — the pruning the reference hand-codes per request
  * (`/root/reference/src/main/kotlin/io/marauder/tank/application.kt:371-400`)
  * — with no ZRange/hash knowledge at the call site.
  *
  * Centroid semantics are deliberate: the store's partition key IS the
  * centroid's Morton cell (ingest contract I4, Tyler.kt:127-134), so
  * "centroid in bbox" is the exact predicate whose implied hash ranges are
  * sound — `centroid ∈ bbox ⇒ hash ∈ cover(bbox)` with no halo guesswork
  * (an envelope-intersects predicate would need an unbounded halo for
  * arbitrarily large geometries). For the POINT features the store ingests,
  * centroid-in-bbox and point-in-bbox coincide.
  *
  * The expression is fully evaluable on its own (interpreted JTS centroid
  * test), so a session WITHOUT the optimizer rule still returns correct
  * rows — the rule only changes the plan, never the answer. `lowered` marks
  * a copy the rule already expanded (the conjunct it keeps for exactness),
  * making the rewrite idempotent under fixed-point optimizer batches.
  */
case class StCentroidInBbox(children: Seq[Expression],
                            lowered: Boolean = false)
  extends Expression with ImplicitCastInputTypes with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "st_centroid_in_bbox"

  override def inputTypes: Seq[SqlAbstractDataType] =
    Seq(StringType, DoubleType, DoubleType, DoubleType, DoubleType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == 5) super.checkInputDataTypes()
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING wkt, DOUBLE minLon, DOUBLE minLat, " +
        s"DOUBLE maxLon, DOUBLE maxLat), got ${children.length} args")

  override def eval(input: InternalRow): Any = {
    val w = children(0).eval(input)
    if (w == null) return null
    val b = children.tail.map(_.eval(input))
    if (b.exists(_ == null)) return null
    val minLon = b(0).asInstanceOf[Double]; val minLat = b(1).asInstanceOf[Double]
    val maxLon = b(2).asInstanceOf[Double]; val maxLat = b(3).asInstanceOf[Double]
    val c = graft.tiles.GeomUdfs.parse(w.toString).getCentroid
    c.getX >= minLon && c.getX <= maxLon && c.getY >= minLat && c.getY <= maxLat
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): StCentroidInBbox =
    copy(children = newChildren)
}

object StCentroidInBbox {

  /** The store's hash level (ingest contract I4; same constant as
    * [[InTileExpr.HashLevel]]).
    */
  val HashLevel: Int = InTileExpr.HashLevel

  /** Max quads per side in the bbox cover: subdivision stops once quads are
    * ~1/32 of the bbox span, bounding the predicate at O(32·perimeter)
    * ranges while over-scanning ≤ ~2 quads (~6%) per side — the
    * S2-max-cells trade of scan precision for predicate size. The exact
    * centroid test discards the over-scan.
    */
  private val MaxQuadsPerSide = 32

  /** Merged Morton ranges of every hash-level cell the bbox can put a
    * centroid in. Sound by monotonicity: tileX is non-decreasing in lon,
    * tileY non-increasing in lat, so a centroid inside the bbox always
    * hashes into the [x0..x1]×[y0..y1] cell rect the cover encloses.
    */
  def cellCover(minLon: Double, minLat: Double,
                maxLon: Double, maxLat: Double): Seq[(Int, Int)] = {
    val x0 = WebMercator.tileX(minLon, HashLevel)
    val x1 = WebMercator.tileX(maxLon, HashLevel)
    val y0 = WebMercator.tileY(maxLat, HashLevel) // north edge = smaller y
    val y1 = WebMercator.tileY(minLat, HashLevel)
    if (x0 > x1 || y0 > y1) return Nil // inverted bbox: empty cover
    val span = math.max(x1 - x0 + 1, y1 - y0 + 1)
    var quad = 1
    while (quad.toLong * MaxQuadsPerSide < span) quad <<= 1
    val stop = HashLevel - Integer.numberOfTrailingZeros(quad)
    ZRange.decompose(x0, x1, y0, y1, HashLevel, stop)
  }

  /** The bbox's range predicate over `hash`: a [[HashInRanges]] over its
    * cell cover, `false` for an inverted bbox.
    */
  def rangePredicate(hash: Expression, minLon: Double, minLat: Double,
                     maxLon: Double, maxLat: Double): Expression =
    HashInRanges.of(hash, cellCover(minLon, minLat, maxLon, maxLat))
}

/** Optimizer rule lowering a literal-bbox [[StCentroidInBbox]] filter over a
  * relation that carries the store's `hash` column into
  * `hashinranges(hash, cover) AND st_centroid_in_bbox(...)`: the
  * [[HashInRanges]] over the bbox's cell cover, which [[HashRangePushdown]]
  * pushes into the parquet scan as hash-range comparisons (file- and
  * row-group-level min/max pruning on the hash-sorted layout), while the
  * retained exact conjunct discards the cover's over-scan — so the rewrite
  * is an optimization only, never a semantics change.
  *
  * Contract: a column literally named `hash` (INT or BIGINT) on the
  * filtered relation is the engine's centroid Morton hash at
  * [[StCentroidInBbox.HashLevel]] — the I4 ingest contract every features
  * table satisfies. The rule fires only when the predicate is actually
  * present, so unrelated tables with a `hash` column are untouched.
  * Idempotence: the kept conjunct is marked `lowered` and never re-expanded.
  */
object SpatialPredicateRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      child.output.find(a => a.name == "hash" &&
        (a.dataType == IntegerType || a.dataType == LongType)) match {
        case None => f
        case Some(hashAttr) =>
          var changed = false
          val newCond = cond.transformUp {
            case e @ StCentroidInBbox(Seq(_,
                Literal(minLon: Double, DoubleType),
                Literal(minLat: Double, DoubleType),
                Literal(maxLon: Double, DoubleType),
                Literal(maxLat: Double, DoubleType)), false) =>
              changed = true
              And(StCentroidInBbox.rangePredicate(
                hashAttr, minLon, minLat, maxLon, maxLat),
                e.copy(lowered = true))
          }
          if (changed) Filter(newCond, child) else f
      }
  }
}
