package graft.tools

import graft.util.LocalSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** x125 at crawl cadence vs history growth — the composed-triage analog
  * of [[NearDupProbe]]: the FIXED base batch (the shared md5-bucket
  * split's batch side, pinned from the base dir) triaged against the
  * three text-side stores built from 1×/10×/100× histories. It runs the
  * registry's own code — x125's all-legs composition
  * ([[graft.queries.TextOps.triageAll]]), x126's cascade and, for the
  * per-leg breakdown, the three leg builders — so its rows measure what
  * the entries run (rows before this form, BASELINE rounds 17–19, timed
  * older leg shapes and do not compare). Claims measured:
  *
  *  - COST: the composed wall against the three legs' walls at every
  *    scale (the legs overlap, so it sits between their maximum and
  *    their sum); each leg's history contribution is its store's sequential
  *    columnar scan (no history-side exchange — PlanSpec gates the
  *    composed plan), so growth is flat-to-sublinear in store size.
  *  - DETERMINISM: the scaled corpora's replicas are md5-/gram-/
  *    shingle-disjoint from the base batch, so the full (doc_id,
  *    status, best_jaccard, hist_frac, verdict) relation must be
  *    IDENTICAL at every scale (asserted — the triage inherits all
  *    three members' cross-scale determinism at once).
  *
  * Usage: runMain graft.tools.TriageScaleProbe [baseSf] [scaledDirs...]
  * (the 100× leg wants SPARK_DRIVER_MEM=16g — three store builds + the
  * composed plan OOM'd the default 8 g fork under co-tenant load)
  */
object TriageScaleProbe {

  def main(args: Array[String]): Unit = {
    val load0 = graft.Bench.loadAvg()
    val baseSf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scaled =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("/tmp/graft_scale10", "/tmp/graft_scale100")
    val spark = LocalSession(
      "spark.sql.warehouse.dir" -> s"/tmp/graft_triagesp_wh_${System.nanoTime}")
    println(s"[triage-scale] loadavg $load0 base=$baseSf scaled=$scaled")

    import graft.queries.TextOps
    import graft.sources._

    val batch = TextOps.x123Split(spark, baseSf)._2.localCheckpoint(true)
    val batchDocs = batch.select(col("doc_id"), col("text"))
    val batchArrs = TextOps.shingleArrays(batch).localCheckpoint(true)
    def unreachable: Nothing = sys.error("unreachable: the stores are built")

    def triage(dir: String): DataFrame =
      TextOps.withVerdict(TextOps.triageAll(spark, dir, batch, unreachable))
    def cascade(dir: String): DataFrame =
      TextOps.triageCascade(spark, dir, batchDocs, batchArrs, unreachable)
    def wall(df: => DataFrame): Double = {
      val t = System.nanoTime()
      df.collect().length: Unit
      (System.nanoTime() - t) / 1e9
    }

    var baseline: Set[Seq[Any]] = null
    (baseSf +: scaled).foreach { dir =>
      Seq(HashHistory, GramHistory, MinHashHistory)
        .foreach(_.clearStaleMarker(spark, dir))
      val t0 = System.nanoTime()
      HashHistory.create(spark, dir, TextOps.x86HistoryHashes(spark, dir))
      GramHistory.create(spark, dir, TextOps.x86Split(spark, dir)._1,
        TextOps.DupGramK)
      MinHashHistory.create(spark, dir, TextOps.x123HistoryBands(spark, dir),
        TextOps.x123HistoryShingles(spark, dir))
      val build = (System.nanoTime() - t0) / 1e9
      val storeRows = spark.table(HashHistory.tableFor(dir)).count() +
        spark.table(GramHistory.tableFor(dir)).count() +
        spark.table(MinHashHistory.tableFor(dir)).count() +
        spark.table(MinHashHistory.shTableFor(dir)).count()
      // run 1 warms; run 2 is steady-state. Time the FULL materialization
      // (collect, 2.7k small rows) — a bare count() lets Catalyst
      // eliminate the distinct-keyed left joins and skip two legs
      val walls = (1 to 2).map(_ => wall(triage(dir)))
      // per-leg steady-state breakdown (each leg warmed by the runs above)
      val legStatus =
        wall(TextOps.statusLeg(spark, dir, batchDocs, unreachable))
      val legNear = wall(TextOps.nearDupLeg(spark, dir, batchArrs, unreachable))
      val legGram = wall(TextOps.gramLeg(spark, dir, batchDocs, unreachable))
      // the x126 production fast path: same verdicts, shrinking legs
      val cascWalls = (1 to 2).map(_ => wall(cascade(dir)))
      val rows = triage(dir).collect().map(_.toSeq).toSet
      if (baseline == null) baseline = rows
      else assert(rows == baseline,
        s"$dir: triage relation diverged from base " +
          s"(${rows.size} vs ${baseline.size} rows)")
      val cascVerdicts = cascade(dir).groupBy("verdict").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val verdicts = triage(dir).groupBy("verdict").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cascVerdicts == verdicts,
        s"$dir: cascade verdicts diverge: $cascVerdicts vs $verdicts")
      println(f"TRIAGE-SCALE dir=$dir store_rows=$storeRows " +
        f"build=$build%.1f s triage1=${walls(0)}%.2f s " +
        f"triage2=${walls(1)}%.2f s " +
        f"legs(status=$legStatus%.2f near=$legNear%.2f gram=$legGram%.2f) " +
        f"cascade1=${cascWalls(0)}%.2f s cascade2=${cascWalls(1)}%.2f s " +
        f"verdicts=$verdicts identical_to_base=${rows == baseline} " +
        f"load=${graft.Bench.loadAvg()}%.2f")
    }
    spark.stop()
  }
}
