package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The saturation lifecycle, measured end-to-end on the gram store — the
  * economic claim behind the `bloomStat` trigger statistic
  * (DEDUP_TUNING §5.1): a sidecar sized for a SEED corpus and then grown
  * far past capacity by appends keeps exact answers but loses the
  * novel-batch zero-read property (false positives leak batch keys
  * through the bloom cut, and the probe reads store bytes despite total
  * novelty), while the stat reads loudly saturated — and one `compact()`
  * restores both the stat and the zero-read.
  *
  * Stages, each gated:
  *  1. create() from a 1/16 seed of the x86 history split at the
  *     crawl-batch fpp (1e-6, the NovelBatchProbe regime) — stat healthy;
  *  2. append() the remaining 15/16 — fill ≫ 1, effFpp ≥ the §5.1
  *     trigger (10× created), zero-read ceiling collapsed; a fully-novel
  *     batch now SELECTS store bytes > 0; exactness holds (novel
  *     hist_frac all 0, recrawled-seed hist_frac all 1 — the saturation
  *     gate's invariant at probe level);
  *  3. compact(bloomFpp=1e-6) — stat back under the created fpp at
  *     fill ≈ 0.5, the same novel batch selects ZERO store bytes, and
  *     both batches' answers are unchanged.
  *
  * Store bytes are measured from the executed plan's gram-store scan
  * nodes (post pruning / short-circuit — the design claim, load-immune),
  * the [[NovelBatchProbe]] device.
  *
  * Usage: runMain graft.tools.SaturationProbe [sfDir] [nNovel]
  */
object SaturationProbe {

  def main(args: Array[String]): Unit = {
    val load0 = graft.Bench.loadAvg()
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nNovel = if (args.length > 1) args(1).toInt else 500
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft_satp_wh_${System.nanoTime}")
      .config("spark.ui.enabled", "false")
      .appName("saturation-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    import graft.operators.Dedup
    import graft.queries.TextOps
    import graft.sources._

    def storeBytes(df: DataFrame): Long =
      ProbeMeters.selectedStoreBytes(df, Seq("graft_gram_history"))

    println(s"[saturation] loadavg $load0 dir=$dir nNovel=$nNovel")

    GramHistory.clearStaleMarker(spark, dir)

    val fpp = 1e-6
    val (hist, _) = TextOps.x86Split(spark, dir)
    val seed = hist.filter(col("doc_id") % 16 === 0)
    val growth = hist.filter(col("doc_id") % 16 =!= 0)

    // 1. seed-sized sidecar
    GramHistory.create(spark, dir, seed, TextOps.DupGramK, bloomFpp = fpp)
    val statSeed = GramHistory.bloomStat(spark, dir).get
    require(statSeed.fill <= 0.51 && statSeed.effFpp < fpp,
      s"fresh seed store's stat out of band: $statSeed")

    // 2. grow 15/16 past the seed capacity
    val tg0 = System.nanoTime()
    GramHistory.append(spark, dir,
      GramHistory.gramHashes(growth, TextOps.DupGramK))
    val growS = (System.nanoTime() - tg0) / 1e9
    val statSat = GramHistory.bloomStat(spark, dir).get
    require(statSat.fill > 2.0 && statSat.effFpp >= 10.0 * fpp,
      s"grown store's stat did not trip the §5.1 trigger: $statSat")

    // batches: fully novel (fresh vocabulary) + a recrawl of seed docs
    val novel = spark.range(nNovel.toLong)
      .select(
        (col("id") + 800000000L).as("doc_id"),
        concat_ws(" ", (0 until 15).map(w =>
          concat(lit(s"stw$w"), format_string("y%06d", col("id")),
            lit(s"z${w * 3}"))): _*).as("text"))
      .localCheckpoint(true)
    val recrawl = seed.limit(50)
      .select((col("doc_id") + 30000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)

    def probe(docs: DataFrame): DataFrame =
      Dedup.incrementalDupGrams(docs,
        GramHistory.probeHistory(spark, dir,
          GramHistory.gramHashes(docs, TextOps.DupGramK))(
          sys.error("unreachable")),
        k = TextOps.DupGramK, broadcastProbe = false)

    def measure(docs: DataFrame): (Double, Long, Long, Long) = {
      val t0 = System.nanoTime()
      val df = probe(docs)
      val fr = df.agg(
          sum(when(col("hist_frac") === 0.0, 1L).otherwise(0L)),
          sum(when(col("hist_frac") === 1.0, 1L).otherwise(0L)))
        .collect()(0)
      ((System.nanoTime() - t0) / 1e9, storeBytes(df),
        fr.getLong(0), fr.getLong(1))
    }

    val (wNovSat, bNovSat, novZeroSat, _) = measure(novel)
    val (wDupSat, bDupSat, _, dupOneSat) = measure(recrawl)
    require(novZeroSat == nNovel.toLong,
      s"EXACTNESS: saturated store mis-scored the novel batch " +
        s"($novZeroSat/$nNovel at hist_frac 0)")
    require(dupOneSat == 50L,
      s"EXACTNESS: saturated store mis-scored the recrawl ($dupOneSat/50)")
    require(bNovSat > 0L,
      "saturated store read 0 bytes for the novel batch — fixture not " +
        "saturated enough to demonstrate the decay")

    // 3. compact: re-sized sidecar at the same fpp
    val tc0 = System.nanoTime()
    GramHistory.compact(spark, dir, bloomFpp = fpp)
    val compactS = (System.nanoTime() - tc0) / 1e9
    val statPost = GramHistory.bloomStat(spark, dir).get
    require(statPost.fill <= 0.51 && statPost.effFpp < fpp,
      s"compacted store's stat did not reset: $statPost")

    val (wNovPost, bNovPost, novZeroPost, _) = measure(novel)
    val (wDupPost, bDupPost, _, dupOnePost) = measure(recrawl)
    require(novZeroPost == nNovel.toLong && dupOnePost == 50L,
      s"EXACTNESS: compaction changed answers " +
        s"($novZeroPost/$nNovel, $dupOnePost/50)")
    require(bNovPost == 0L,
      s"compacted store still selected $bNovPost bytes for the novel batch")
    require(bDupPost > 0L,
      "recrawl selected no store bytes post-compact — fixture broken")

    println(
      f"""{"metric":"saturation_probe","dir":"$dir","n_novel":$nNovel,""" +
      f""""seed":{"fill":${statSeed.fill}%.3f,"effFpp":${statSeed.effFpp}%.3g},""" +
      f""""saturated":{"fill":${statSat.fill}%.2f,"effFpp":${statSat.effFpp}%.3g,"ceiling":${statSat.zeroReadCeiling},"grow_s":$growS%.1f,""" +
      f""""novel":{"wall_s":$wNovSat%.2f,"bytes":$bNovSat},"recrawl":{"wall_s":$wDupSat%.2f,"bytes":$bDupSat}},""" +
      f""""compacted":{"fill":${statPost.fill}%.3f,"effFpp":${statPost.effFpp}%.3g,"compact_s":$compactS%.1f,""" +
      f""""novel":{"wall_s":$wNovPost%.2f,"bytes":$bNovPost},"recrawl":{"wall_s":$wDupPost%.2f,"bytes":$bDupPost}},""" +
      f""""load_start":$load0%.2f,"load_end":${graft.Bench.loadAvg()}%.2f}""")
    spark.stop()
  }
}
