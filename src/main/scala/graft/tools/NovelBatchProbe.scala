package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The round-18 headline, measured honestly: with all three text
  * stores bloom-gated (hash / gram / band+shingle), a fully-NOVEL crawl
  * batch — the steady-state arrival mix — should triage selecting ZERO
  * store bytes, while a dup-heavy batch pays its candidate buckets.
  * The catch this probe exists to quantify is [[graft.sources.KeyBloom
  * .DefaultFpp]]'s sizing law: zero-read holds only while a batch's
  * distinct probe keys stay below ~1/fpp (expected false positives
  * < 1) — at the default fpp 0.02 a 500-doc batch's ~50k gram keys
  * yield ~1,000 fp candidates spanning every bucket, and the gram leg
  * reads the WHOLE store despite total novelty. The store-level
  * `bloomFpp` knob buys the ceiling back with bits/key (1e-6 → ~29
  * bits/key, expected fp ≈ 0.05 on 50k keys — a deterministic-in-
  * practice zero); the probe builds its stores at that crawl-batch-
  * sized fpp and gates the claim. Both the
  * explainable (x125 all-legs) and cascade (x126) forms run over a pair
  * of batches:
  *
  *  - `novel`: synthesized documents disjoint from the corpus by
  *    construction (fresh token vocabulary — no shared md5, 40-gram or
  *    word trigram), checkpointed so batch-side derivation reads no
  *    files;
  *  - `mixed`: the TriageScaleProbe fixture batch (71% duplicate-heavy
  *    — the other extreme).
  *
  * Reported per (form × batch): steady-state wall and the store bytes
  * the executed plan SELECTED for read (post bucket-pruning /
  * zero-read short-circuit — the design claim itself, load-immune).
  * Gates: novel verdicts all `keep`, novel selected bytes = 0, forms
  * agree on the mixed batch.
  *
  * Usage: runMain graft.tools.NovelBatchProbe [storeDir] [nDocs]
  * (storeDir default /tmp/graft_scale100 — built by ScaleProbe; needs
  * SPARK_DRIVER_MEM=16g at 100×. Walls need a quiet box; the BYTES
  * claims are load-immune.)
  */
object NovelBatchProbe {

  def main(args: Array[String]): Unit = {
    val load0 = graft.Bench.loadAvg()
    val storeDir = if (args.length > 0) args(0) else "/tmp/graft_scale100"
    val nDocs = if (args.length > 1) args(1).toInt else 2702
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft_novelbp_wh_${System.nanoTime}")
      .config("spark.ui.enabled", "false")
      .appName("novel-batch-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.TextOps
    import graft.sources._

    // STORE bytes from the executed plan ([[ProbeMeters]]); AQE off so
    // the scans are collectible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def storeBytes(df: DataFrame): Long =
      ProbeMeters.selectedStoreBytes(df, Seq("graft_hash_history",
        "graft_gram_history", "graft_minhash_history"))

    println(s"[novel-batch] loadavg $load0 store=$storeDir n=$nDocs")

    // the three stores over the grown corpus (TriageScaleProbe's build)
    Seq(HashHistory, GramHistory, MinHashHistory)
      .foreach(_.clearStaleMarker(spark, storeDir))
    // crawl-batch-sized fpp (the KeyBloom sizing law): the gram leg
    // probes ~100 keys/doc, so DETERMINISTIC zero-read on a 500-doc
    // novel batch needs expected fp ≪ 1 over ~50k keys — 1e-6 ≈ 29
    // bits/key, a ~3.4× sidecar vs the 0.02 default. The hash leg
    // (1 key/doc) would get by with 1e-4; one knob for the probe keeps
    // the arithmetic legible.
    val fpp = 1e-6
    val tb0 = System.nanoTime()
    HashHistory.create(spark, storeDir,
      TextOps.x86HistoryHashes(spark, storeDir), bloomFpp = fpp)
    GramHistory.create(spark, storeDir,
      TextOps.x86Split(spark, storeDir)._1, TextOps.DupGramK,
      bloomFpp = fpp)
    MinHashHistory.create(spark, storeDir,
      TextOps.x123HistoryBands(spark, storeDir),
      TextOps.x123HistoryShingles(spark, storeDir), bloomFpp = fpp)
    val build = (System.nanoTime() - tb0) / 1e9

    // NOVEL batch: fresh vocabulary — every md5/40-gram/trigram disjoint
    // from the corpus by construction; >= 15 words and >= 300 chars so
    // every leg has real work to (not) do
    val novelDocs = spark.range(nDocs.toLong)
      .select(
        (col("id") + 700000000L).as("doc_id"),
        concat_ws(" ", (0 until 15).map(w =>
          concat(lit(s"nvw$w"), format_string("x%06d", col("id")),
            lit(s"q${w * 7}"))): _*).as("text"),
        lit("en").as("lang"))
      .withColumn("n_chars", length(col("text")))
      .localCheckpoint(true)
    // MIXED batch: the TriageScaleProbe fixture (71% dup-heavy).
    // x86Split's batch carries (doc_id, text); the shingle legs need the
    // x123 split's lang/n_chars variant — same ids, the probe fixture's
    // convention
    val mixedDocs = TextOps.x86Split(spark, storeDir)._2.localCheckpoint(true)
    val novelArrs = TextOps.shingleArrays(novelDocs).localCheckpoint(true)
    val mixedArrs = TextOps.shingleArrays(
      TextOps.x123Split(spark, storeDir)._2).localCheckpoint(true)

    def composed(docs: DataFrame, arrs: DataFrame): DataFrame = {
      import graft.operators.Dedup
      val status = Dedup.incrementalStatusBinary(docs,
        HashHistory.probeHistory(spark, storeDir,
          docs.select(unhex(md5(col("text"))).as("th")))(
          sys.error("unreachable")))
      val gramFrac = Dedup.incrementalDupGrams(docs,
          GramHistory.probeHistory(spark, storeDir,
            GramHistory.gramHashes(docs, TextOps.DupGramK))(
            sys.error("unreachable")),
          k = TextOps.DupGramK, broadcastProbe = false)
        .select(col("doc_id"), col("hist_frac"))
      val (bands, sh) = MinHashHistory.scanOrCompute(spark, storeDir)(
        sys.error("unreachable"))
      val best = Dedup.incrementalNearDups(arrs, bands, sh,
          bandReducer = MinHashHistory.bandScanReducer(spark, storeDir))
        .groupBy(col("doc_a").as("doc_id"))
        .agg(max(col("jaccard")).as("best_jaccard"))
      TextOps.triageFrame(status, best, gramFrac)
    }
    def cascade(docs: DataFrame, arrs: DataFrame): DataFrame =
      TextOps.triageCascade(spark, storeDir, docs, arrs,
        sys.error("unreachable"))

    def run(label: String, f: => DataFrame): (Double, Long, Map[String, Long]) = {
      f.collect(): Unit // warm (fresh plan — by-name)
      val t0 = System.nanoTime()
      val df = f // steady-state plan, measured
      val verdicts = df.groupBy(col("verdict")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      ((System.nanoTime() - t0) / 1e9, storeBytes(df), verdicts)
    }

    val (wCompNovel, bCompNovel, vCompNovel) =
      run("composed/novel", composed(novelDocs, novelArrs))
    val (wCompMixed, bCompMixed, vCompMixed) =
      run("composed/mixed", composed(mixedDocs, mixedArrs))
    val (wCascNovel, bCascNovel, vCascNovel) =
      run("cascade/novel", cascade(novelDocs, novelArrs))
    val (wCascMixed, bCascMixed, vCascMixed) =
      run("cascade/mixed", cascade(mixedDocs, mixedArrs))

    // gates: a fully-novel batch keeps everything and selects ZERO store
    // bytes through either form (every leg's bloom cut short-circuits
    // before a store relation enters the plan)
    require(vCompNovel == Map("keep" -> nDocs.toLong),
      s"novel batch misclassified (composed): $vCompNovel")
    require(vCascNovel == Map("keep" -> nDocs.toLong),
      s"novel batch misclassified (cascade): $vCascNovel")
    require(vCompMixed == vCascMixed,
      s"forms disagree on the mixed batch: $vCompMixed vs $vCascMixed")
    require(bCompNovel == 0L,
      s"novel composed selected $bCompNovel store bytes (want 0)")
    require(bCascNovel == 0L,
      s"novel cascade selected $bCascNovel store bytes (want 0)")
    require(bCompMixed > 0L && bCascMixed > 0L,
      "mixed batch selected no store bytes — the fixture is broken")

    println(
      f"""{"metric":"novel_batch_probe","store":"$storeDir","n_docs":$nDocs,"build_s":$build%.1f,""" +
      f""""composed":{"novel":{"wall_s":$wCompNovel%.2f,"bytes":$bCompNovel},"mixed":{"wall_s":$wCompMixed%.2f,"bytes":$bCompMixed}},""" +
      f""""cascade":{"novel":{"wall_s":$wCascNovel%.2f,"bytes":$bCascNovel},"mixed":{"wall_s":$wCascMixed%.2f,"bytes":$bCascMixed}},""" +
      f""""mixed_verdicts":${vCompMixed.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},""" +
      f""""load_start":$load0%.2f,"load_end":${graft.Bench.loadAvg()}%.2f}""")
    spark.stop()
  }
}
