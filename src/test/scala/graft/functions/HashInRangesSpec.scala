package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GeneratePredicate, GenerateUnsafeProjection}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.SparkSpec
import graft.core.ZRange

class HashInRangesSpec extends SparkSpec {

  private def flat(rs: Seq[(Int, Int)]): Array[Int] =
    rs.flatMap { case (lo, hi) => Seq(lo, hi) }.toArray

  private def brute(rs: Seq[(Int, Int)], h: Int): Boolean =
    rs.exists { case (lo, hi) => lo <= h && h <= hi }

  /** Every bound, its neighbours, the Int extremes and random probes. */
  private def probes(rs: Seq[(Int, Int)], rnd: scala.util.Random): Seq[Int] =
    rs.flatMap { case (lo, hi) => Seq(lo - 1, lo, lo + 1, hi - 1, hi, hi + 1) } ++
      Seq(Int.MinValue, Int.MinValue + 1, -1, 0, 1, Int.MaxValue - 1, Int.MaxValue) ++
      Seq.fill(200)(rnd.nextInt())

  private val edgeCases: Seq[(String, Seq[(Int, Int)])] = Seq(
    "no ranges" -> Nil,
    "one range" -> Seq((10, 20)),
    "one point" -> Seq((7, 7)),
    "adjacent ranges" -> Seq((1, 5), (6, 9), (11, 11), (12, 14)),
    "overlapping, unsorted" -> Seq((30, 40), (1, 5), (35, 50), (4, 8)),
    "ending at Int.MinValue" -> Seq((Int.MinValue, Int.MinValue), (-3, 3)),
    "starting at Int.MinValue" -> Seq((Int.MinValue, -100), (0, 0)),
    "ending at Int.MaxValue" -> Seq((100, Int.MaxValue), (Int.MaxValue, Int.MaxValue)),
    "the whole Int line" -> Seq((Int.MinValue, 0), (1, Int.MaxValue)))

  test("contains matches brute-force membership on edge and random range sets") {
    val rnd = new scala.util.Random(7)
    // random sets: dense small ranges (many adjacencies and overlaps) and
    // sparse wide ones over the whole Int line
    val random = Seq.tabulate(300) { i =>
      val n = rnd.nextInt(12)
      s"random $i" -> Seq.fill(n) {
        if (i % 2 == 0) { val lo = rnd.nextInt(200) - 100; (lo, lo + rnd.nextInt(8)) }
        else { val a = rnd.nextInt(); val b = rnd.nextInt(); (math.min(a, b), math.max(a, b)) }
      }
    }
    (edgeCases ++ random).foreach { case (name, rs) =>
      val merged = ZRange.mergeRanges(rs)
      assert(merged == merged.sorted, s"$name: merge is not sorted")
      merged.zip(merged.drop(1)).foreach { case ((_, phi), (lo, _)) =>
        assert(phi.toLong + 1 < lo.toLong, s"$name: $merged not merged")
      }
      val arr = flat(merged)
      probes(rs, rnd).foreach { h =>
        assert(HashInRanges.contains(arr, h) == brute(rs, h), s"$name: $rs at $h")
      }
    }
  }

  test("a null hash gives null, so a filter drops the row as BETWEEN does") {
    val e = HashInRanges(Literal(null, IntegerType), Array(1, 5))
    assert(e.eval(InternalRow.empty) == null)
    val schema = StructType(Seq(StructField("hash", IntegerType, nullable = true)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(3), Row(null), Row(9), Row(1)), schema)
    val kept = df.filter(HashInRanges.column(col("hash"), Seq((1, 5)))).collect()
    assert(kept.map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    assert(kept.length == df.filter(col("hash").between(1, 5)).count())
    // no ranges is a plain false, with no predicate left to evaluate
    assert(df.filter(HashInRanges.column(col("hash"), Nil)).count() == 0)
  }

  test("codegen and interpreted evaluation agree; the generated code binds the ranges") {
    val rnd = new scala.util.Random(11)
    val hash = BoundReference(0, IntegerType, nullable = true)
    val rows = (Seq[Any](null, Int.MinValue, Int.MaxValue, 0) ++
      Seq.fill(300)(rnd.nextInt(300) - 150)).map(v => InternalRow(v))
    edgeCases.filter(_._2.nonEmpty).foreach { case (name, rs) =>
      val e = HashInRanges(hash, flat(ZRange.mergeRanges(rs)))
      // the generators compile without the interpreted fallback, so a
      // codegen error fails here instead of silently evaluating
      val pred = GeneratePredicate.generate(e)
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      rows.foreach { r =>
        val interpreted = e.eval(r)
        val row = proj(r)
        assert((if (row.isNullAt(0)) null else row.getBoolean(0)) == interpreted,
          s"$name at ${r.get(0, IntegerType)}")
        assert(pred.eval(r) == (interpreted == true), s"$name at ${r.get(0, IntegerType)}")
      }
    }
    def code(rs: Seq[(Int, Int)]): String = {
      val ctx = new CodegenContext
      val ev = HashInRanges(hash, flat(rs)).genCode(ctx)
      ev.code.toString
    }
    assert(code(Seq((1, 5))) == code(Seq((-9, -2), (40, 60), (99, 99))),
      "range literals reached the generated code")
  }

  test("a BIGINT hash: codegen and interpreted agree with membership; beyond the int range is false") {
    val rnd = new scala.util.Random(13)
    val hash = BoundReference(0, LongType, nullable = true)
    edgeCases.filter(_._2.nonEmpty).foreach { case (name, rs) =>
      val e = HashInRanges(hash, flat(ZRange.mergeRanges(rs)))
      val pred = GeneratePredicate.generate(e)
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      val values = probes(rs, rnd).map(_.toLong) ++ Seq(Long.MinValue, Long.MaxValue,
        Int.MinValue.toLong - 1, Int.MaxValue.toLong + 1, 1L << 32, (1L << 32) + 12)
      (InternalRow(null) +: values.map(v => InternalRow(v))).foreach { r =>
        val want = if (r.isNullAt(0)) null else {
          val v = r.getLong(0)
          v.isValidInt && brute(rs, v.toInt)
        }
        assert(e.eval(r) == want, s"$name at ${r.get(0, LongType)}")
        val row = proj(r)
        assert((if (row.isNullAt(0)) null else row.getBoolean(0)) == want,
          s"$name at ${r.get(0, LongType)}")
        assert(pred.eval(r) == (want == true), s"$name at ${r.get(0, LongType)}")
      }
    }
  }
}
