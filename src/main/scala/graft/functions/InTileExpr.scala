package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType}
import graft.tiles.TileService

/** `in_tile(hash, z, x, y)` — true iff a Morton hash falls inside the
  * buffered Z-range cover of slippy tile (z, x, y) at hash level 13: the
  * cover the tile read itself scans ([[graft.tiles.TileService]] with the
  * default config, clip buffer 64/4096). The declarative spatial predicate
  * of the engine: users write the *intent* ("rows of this tile") and
  * [[TilePredicateRewrite]] lowers it to a [[HashInRanges]], which
  * [[HashRangePushdown]] pushes into the parquet scan as hash-range
  * comparisons — the optimizer-rule equivalent of the reference's
  * hand-coded Z-range enumeration (`application.kt:371-400`).
  *
  * Evaluation (interpreted fallback, for non-literal tile coords) computes
  * the cover per call; the rewrite is the hot path.
  */
case class InTileExpr(children: Seq[Expression])
  extends Expression with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "in_tile"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == 4 &&
      (children.head.dataType == LongType || children.head.dataType == IntegerType) &&
      children.tail.forall(_.dataType == IntegerType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (INT|BIGINT hash, INT z, INT x, INT y)")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    // null z/x/y must null-propagate: a bare asInstanceOf[Int] on null
    // yields 0 and would silently test tile (z, x, 0)
    val zxy = children.tail.map(_.eval(input))
    if (zxy.contains(null)) return null
    val Seq(z, x, y) = zxy.map(_.asInstanceOf[Int])
    InTileExpr.toRangePredicate(children.head, z, x, y).eval(input)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): InTileExpr = copy(children = newChildren)
}

object InTileExpr {
  val HashLevel = 13

  /** The tile's range predicate over `hash`. */
  def toRangePredicate(hash: Expression, z: Int, x: Int, y: Int): Expression =
    HashInRanges.of(hash,
      TileService.cover(z, x, y, TileService.TileConfig(hashLevel = HashLevel)))
}

/** Optimizer rule lowering literal-coordinate [[InTileExpr]] predicates to
  * a [[HashInRanges]] (injected via [[GraftExtensions]]); non-literal
  * coords keep the interpreted form.
  */
object TilePredicateRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case InTileExpr(Seq(hash, Literal(z: Int, IntegerType),
          Literal(x: Int, IntegerType), Literal(y: Int, IntegerType))) =>
        InTileExpr.toRangePredicate(hash, z, x, y)
    }
}
