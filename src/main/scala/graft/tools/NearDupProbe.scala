package graft.tools

import graft.util.LocalSession

/** x123 scale probe: a FIXED batch (the sf0.1 split's batch side) probed
  * against the MinHashHistory index of 1×/10×/100× histories — the x113
  * device for the text near-dup store. Two claims measured at once:
  *
  *  - COST: the probe is batch+candidates-sized; the history contribution
  *    is the sequential columnar scan of the band/shingle relations (no
  *    exchange — plan-gated in MinHashHistorySpec), so the wall should
  *    grow far slower than the store.
  *  - DETERMINISM: the scaled corpora's replica docs (r>0) carry
  *    `r<r>_`-prefixed tokens — shingle-disjoint from the base batch by
  *    construction — and replica 0 keeps the base ids, so the scaled
  *    history ⊇ the base history with no new matchable docs: the pair
  *    set must be IDENTICAL at every scale (asserted).
  *
  * Usage: runMain graft.tools.NearDupProbe [baseSf] [scaledDirs...]
  * (defaults: /root/testdata/sf0.1 /tmp/graft_scale10 /tmp/graft_scale100;
  * scaled dirs must exist — ScaleProbe generates them)
  */
object NearDupProbe {

  def main(args: Array[String]): Unit = {
    val load0 = graft.Bench.loadAvg()
    val baseSf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scaled =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("/tmp/graft_scale10", "/tmp/graft_scale100")
    val spark = LocalSession()
    println(s"[neardup-probe] loadavg $load0 base=$baseSf scaled=$scaled")

    import graft.queries.TextOps
    import graft.sources.MinHashHistory
    // the FIXED probe batch: the base split's batch side, pinned so every
    // scale answers the same question
    val batch = TextOps.shingleArrays(TextOps.x123Split(spark, baseSf)._2)
      .localCheckpoint(true)

    var baseline: Set[(Long, Long)] = null
    (baseSf +: scaled).foreach { dir =>
      val hist = TextOps.x123Split(spark, dir)._1
      MinHashHistory.clearStaleMarker(spark, dir)
      val t0 = System.nanoTime()
      MinHashHistory.create(spark, dir,
        TextOps.minHashBandsOf(hist), TextOps.minHashShinglesOf(hist))
      val build = (System.nanoTime() - t0) / 1e9
      val (bands, sh) = MinHashHistory.scanOrCompute(spark, dir)(
        sys.error("unreachable"))
      val storeRows = bands.count() + sh.count()
      // run1 warms JIT/file cache; run2 is the steady-state number
      val walls = (1 to 2).map { _ =>
        val t = System.nanoTime()
        val n = graft.operators.Dedup.incrementalNearDups(batch, bands, sh)
          .count()
        ((System.nanoTime() - t) / 1e9, n)
      }
      val pairs = graft.operators.Dedup.incrementalNearDups(batch, bands, sh)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      if (baseline == null) baseline = pairs
      else assert(pairs == baseline,
        s"$dir: pair set diverged from base (${pairs.size} vs ${baseline.size})")
      println(f"NEARDUP-PROBE dir=$dir store_rows=$storeRows " +
        f"build=$build%.2f s probe1=${walls(0)._1}%.2f s " +
        f"probe2=${walls(1)._1}%.2f s pairs=${walls(0)._2} " +
        f"identical_to_base=${pairs == baseline} " +
        f"load=${graft.Bench.loadAvg()}%.2f")
    }
    spark.stop()
  }
}
