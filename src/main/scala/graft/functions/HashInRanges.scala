package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal, Or, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelationWithTable}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.GraftBridge

/** `hash` lies in one of a fixed set of inclusive hash ranges — the tile
  * read's Z-range prune ([[graft.tiles.TileService]]).
  *
  * `ranges` holds sorted, merged `lo, hi` pairs flattened into one array.
  * The generated code reads it through a codegen reference and calls one
  * static binary search (the [[QuantileBinExpr]] idiom), so the generated
  * Java is the same for every range set and a new tile set compiles no new
  * class. An OR of BETWEEN literals, the form this replaces, is inlined
  * into the generated source, so every new tile set was new source text
  * and a new Janino compile. The parquet pushdown of that OR is kept by
  * [[HashRangePushdown]], which hands the scan the lowered form.
  *
  * A null hash gives null, so a filter drops the row, as BETWEEN does. Not
  * null-intolerant on purpose: the OR it replaces inferred no
  * `IsNotNull(hash)`, and the pushed filters stay the same.
  */
case class HashInRanges(child: Expression, ranges: Array[Int])
  extends UnaryExpression with Predicate {

  override def prettyName: String = "hashinranges"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires INT, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(h: Any): Any =
    HashInRanges.contains(ranges, h.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ranges", ranges, "int[]")
    defineCodeGen(ctx, ev, h => s"graft.functions.HashInRanges.contains($ref, $h)")
  }

  /** The pushable form: a log-depth OR of `lo <= hash AND hash <= hi` (a
    * left-deep OR over many ranges overflows Catalyst's recursion); no
    * ranges is `false`.
    */
  def lowered: Expression = {
    def or(ps: Seq[(Int, Int)]): Expression =
      if (ps.isEmpty) Literal(false)
      else if (ps.size == 1)
        And(GreaterThanOrEqual(child, Literal(ps.head._1)),
          LessThanOrEqual(child, Literal(ps.head._2)))
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
    * overlapping or abutting. No ranges is `lit(false)`, which the
    * optimizer turns into an empty relation with no scan at all.
    */
  def column(hash: Column, ranges: Seq[(Int, Int)]): Column = {
    val merged = merge(ranges)
    if (merged.isEmpty) lit(false)
    else GraftBridge.column(HashInRanges(GraftBridge.expression(hash),
      merged.flatMap { case (lo, hi) => Seq(lo, hi) }.toArray))
  }

  /** Sorted, overlap- and adjacency-merged ranges. */
  def merge(rs: Seq[(Int, Int)]): Seq[(Int, Int)] =
    rs.sorted.foldLeft(List.empty[(Int, Int)]) {
      case ((plo, phi) :: t, (lo, hi)) if phi == Int.MaxValue || lo <= phi + 1 =>
        (plo, math.max(phi, hi)) :: t
      case (acc, r) => r :: acc
    }.reverse

  /** `h` in one of the flattened sorted, merged `ranges`: a binary search
    * over the range bounds. `h` is inside exactly when it hits a bound or
    * its insertion point follows a `lo` (an odd index).
    */
  def contains(ranges: Array[Int], h: Int): Boolean = {
    val i = java.util.Arrays.binarySearch(ranges, h)
    i >= 0 || ((-i - 1) & 1) == 1
  }
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
