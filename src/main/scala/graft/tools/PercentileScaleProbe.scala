package graft.tools

import graft.util.LocalSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Closes the x115/x119 scale claim by measurement: the exact-percentile
  * device's corpus-scale work is ONE distinct-value histogram
  * aggregation whose row count is bounded by the VALUE RANGE (6-dp
  * integer-scaled nll), not the corpus — so the device should stay
  * ~flat 1×→100× while the naive one-window ROW_NUMBER oracle (a
  * single-partition global sort) grows with the corpus.
  *
  * Per dir: score the corpus with the self-trained unigram LM, pin the
  * (doc_id, v) relation (localCheckpoint — the probe times the DEVICE,
  * not the LM pipeline), then
  *  - time [[graft.operators.Percentiles.exactThresholdOpt]] (p90),
  *  - count the histogram rows (distinct v) the device aggregates over,
  *  - time the one-window oracle and ASSERT threshold identity.
  *
  * Usage: runMain graft.tools.PercentileScaleProbe [dirs...]
  * (defaults: /root/testdata/sf0.1 /tmp/graft_scale10 /tmp/graft_scale100)
  */
object PercentileScaleProbe {

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_scale10",
        "/tmp/graft_scale100")
    val spark = LocalSession()
    println(s"[percentile-scale-probe] loadavg ${graft.Bench.loadAvg()}")
    import graft.operators.{Percentiles, UnigramLm}
    for (d <- dirs) {
      val docs = graft.queries.Tables.documents(spark, d)
      val scored = UnigramLm.selfScore(docs)
        .select(col("doc_id"),
          round(col("nll") * UnigramLm.LnScale.toDouble)
            .cast("long").as("v"))
        .localCheckpoint(true)
      val n = scored.count()
      val histRows = scored.select(col("v")).distinct().count()

      def best2(f: => Long): (Double, Long) = {
        var v = 0L; var best = Double.MaxValue
        (1 to 2).foreach { _ =>
          val t0 = System.nanoTime()
          v = f
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        (best, v)
      }
      val (wallDev, thr) = best2(
        Percentiles.exactThreshold(scored.select(col("v")), "v", 9L, 10L))
      // one-window oracle: value at rank ceil(0.9·N) under a GLOBAL sort
      val m = Math.floorDiv(9L * n + 9L, 10L)
      val w = Window.orderBy(col("v"))
      val (wallOra, thrOra) = best2(
        scored.select(col("v")).withColumn("rn", row_number().over(w))
          .filter(col("rn") === m).select(col("v"))
          .collect()(0).getLong(0))
      val loadNow = graft.Bench.loadAvg()
      println(f"PERCENTILE $d docs=$n hist_rows=$histRows " +
        f"wall_device=$wallDev%.2f s wall_window=$wallOra%.2f s " +
        f"thr=$thr thr_window=$thrOra load=$loadNow%.2f")
      assert(thr == thrOra,
        s"THRESHOLD IDENTITY BROKEN at $d: device $thr != window $thrOra")
    }
    spark.stop()
  }
}
