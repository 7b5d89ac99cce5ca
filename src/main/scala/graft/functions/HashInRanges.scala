package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, Cast, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal, Or, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelationWithTable}
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.sql.GraftBridge
import graft.core.ZRange

/** `hash` lies in one of a fixed set of inclusive hash ranges — the
  * engine's one Morton-range predicate. Every hash-range filter is one:
  * the tile reads ([[graft.tiles.TileService]]), the SQL `in_tile` and
  * `st_centroid_in_bbox` rewrites ([[TilePredicateRewrite]],
  * [[SpatialPredicateRewrite]]) and the feature store's tile delete
  * ([[graft.sources.FeatureStore.deleteTile]]).
  *
  * `ranges` holds sorted, merged `lo, hi` pairs flattened into one array.
  * The generated code reads it through a codegen reference and calls one
  * static binary search (the [[QuantileBinExpr]] idiom), so the generated
  * Java is the same for every range set and a new tile or bbox compiles no
  * new class. An OR of BETWEEN literals would be inlined into the
  * generated source, so every new range set would be new source text and
  * a new Janino compile. The parquet pushdown of that OR is kept by
  * [[HashRangePushdown]], which hands the scan the lowered form.
  *
  * The hash is INT or BIGINT; a BIGINT outside the int range is in no
  * range. A null hash gives null, so a filter drops the row, as BETWEEN
  * does. Not null-intolerant on purpose: the OR it replaces inferred no
  * `IsNotNull(hash)`, and the pushed filters stay the same.
  */
case class HashInRanges(child: Expression, ranges: Array[Int])
  extends UnaryExpression with Predicate {

  override def prettyName: String = "hashinranges"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == IntegerType || child.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires INT or BIGINT, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(h: Any): Any = h match {
    case i: Int => HashInRanges.contains(ranges, i)
    case l: Long => HashInRanges.contains(ranges, l)
  }

  // Java picks the int or long overload by the child's type
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ranges", ranges, "int[]")
    defineCodeGen(ctx, ev, h => s"graft.functions.HashInRanges.contains($ref, $h)")
  }

  /** The pushable form: a log-depth OR of `lo <= hash AND hash <= hi` (a
    * left-deep OR over many ranges overflows Catalyst's recursion), the
    * literals typed to the hash (a cast would block the pushdown). An int
    * hash widened to BIGINT is compared as the int column itself, as
    * Spark's cast unwrapping does for literal comparisons.
    */
  def lowered: Expression = {
    val hash = child match {
      case Cast(c, LongType, _, _) if c.dataType == IntegerType => c
      case c => c
    }
    val lit: Int => Literal =
      if (hash.dataType == LongType) v => Literal(v.toLong) else v => Literal(v)
    def or(ps: Seq[(Int, Int)]): Expression =
      if (ps.isEmpty) Literal(false)
      else if (ps.size == 1)
        And(GreaterThanOrEqual(hash, lit(ps.head._1)),
          LessThanOrEqual(hash, lit(ps.head._2)))
      else {
        val (l, r) = ps.splitAt(ps.size / 2)
        Or(or(l), or(r))
      }
    or(ranges.grouped(2).map(p => (p(0), p(1))).toSeq)
  }

  // the array is compared by content, so equal range sets are equal
  // expressions (canonicalization, cache lookup)
  override def equals(o: Any): Boolean = o match {
    case h: HashInRanges => child == h.child && java.util.Arrays.equals(ranges, h.ranges)
    case _ => false
  }

  override def hashCode(): Int = 31 * child.hashCode() + java.util.Arrays.hashCode(ranges)

  override def toString: String = s"$prettyName($child, ${ranges.length / 2} ranges)"

  override protected def withNewChildInternal(newChild: Expression): HashInRanges =
    copy(child = newChild)
}

object HashInRanges {

  /** The predicate over `hash` for inclusive ranges in any order, possibly
    * overlapping or abutting. No ranges is `false`, which the optimizer
    * turns into an empty relation with no scan at all.
    */
  def of(hash: Expression, ranges: Seq[(Int, Int)]): Expression = {
    val r = flat(ranges)
    if (r.isEmpty) Literal(false) else HashInRanges(hash, r)
  }

  /** [[of]] as a Column. */
  def column(hash: Column, ranges: Seq[(Int, Int)]): Column =
    GraftBridge.column(of(GraftBridge.expression(hash), ranges))

  /** Ranges sorted, merged and flattened to the `lo, hi` array that
    * [[contains]] searches.
    */
  def flat(ranges: Seq[(Int, Int)]): Array[Int] =
    ZRange.mergeRanges(ranges).flatMap { case (lo, hi) => Seq(lo, hi) }.toArray

  /** `h` in one of the [[flat]] `ranges`: a binary search over the range
    * bounds. `h` is inside exactly when it hits a bound or its insertion
    * point follows a `lo` (an odd index).
    */
  def contains(ranges: Array[Int], h: Int): Boolean = {
    val i = java.util.Arrays.binarySearch(ranges, h)
    i >= 0 || ((-i - 1) & 1) == 1
  }

  def contains(ranges: Array[Int], h: Long): Boolean =
    h >= Int.MinValue && h <= Int.MaxValue && contains(ranges, h.toInt)
}

/** Planner strategy keeping the parquet pushdown of [[HashInRanges]]. A
  * file-scan chain whose filters hold the predicate is planned by
  * `FileSourceStrategy` as usual, then the scan's data filters get the
  * lowered BETWEEN OR, which parquet takes as pushed filters (row-group
  * pruning on a hash-sorted store); the post-scan filter keeps
  * [[HashInRanges]]. Any other plan is left to the next strategy, and the
  * predicate just evaluates.
  */
object HashRangePushdown extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, filters, LogicalRelationWithTable(_: HadoopFsRelation, _))
        if filters.exists(_.exists(_.isInstanceOf[HashInRanges])) =>
      FileSourceStrategy(plan).map(_.transform {
        case s: FileSourceScanExec => s.copy(dataFilters = s.dataFilters.map(
          _.transform { case h: HashInRanges => h.lowered }))
      })
    case _ => Nil
  }

  /** Adds the strategy to a session once; safe to call on every read. */
  def register(spark: SparkSession): Unit = {
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(this))
        exp.extraStrategies = exp.extraStrategies :+ this
    }
  }
}
