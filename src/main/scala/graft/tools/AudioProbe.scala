package graft.tools

import graft.util.LocalSession
import org.apache.spark.sql.functions._

/** Cross-scale probe for the audio constellation axis (x111/x112):
  * landmark extraction is map-only (~F expected), but the matcher's
  * in-bucket pair generation grows with bucket OCCUPANCY — the 12-bit
  * hash space is sized for sf-scale corpora, so at large factors the
  * uncapped (oracle) form is quadratic-in-occupancy BY CONSTRUCTION and
  * the production form is the CAPPED one (`maxPerHash` bounds per-bucket
  * work; a real deployment also widens the hash space — more bands, a
  * longer window — exactly as the published system's ~2^30-hash space
  * does). This probe records, per factor:
  *
  *  - landmark rows + extraction wall (expect ~F),
  *  - capped-matcher wall + surviving pair count + counted drops,
  *  - RECALL: the fraction of above-floor re-encoded variants whose top
  *    match is their original at offset 0 — the gate that catches the
  *    cap (or bucket crowding) silently destroying the matcher as
  *    density grows. HARD-FAILS below `MinRecall`.
  *
  * Results recorded in BASELINE.md. Usage:
  *   runMain graft.tools.AudioProbe [dirs...]
  * (defaults: /root/testdata/sf0.1 /tmp/graft_scale10 /tmp/graft_scale100)
  */
object AudioProbe {

  /** Default recall gate (env-overridable for scaled-corpus measurement
    * runs, where the hash space's density limit is the thing being
    * MEASURED — see the BASELINE.md audio rows). 0.94 = the triplet
    * production form's measured base-corpus recall floor (127/134; the
    * pair/registry form measures 0.985 — a triple needs all three peaks
    * to survive the re-encode, the priced-in trade for its ~2^20 space).
    */
  def MinRecall: Double =
    sys.env.getOrElse("AUDIO_MIN_RECALL", "0.94").toDouble

  def main(args: Array[String]): Unit = {
    // "tune" mode: sweep the matcher config on the base corpus to pick
    // the production defaults the recall gate then holds
    val tune = args.headOption.contains("tune")
    val dirs =
      if (tune) Seq("/root/testdata/sf0.1")
      else if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_scale10",
        "/tmp/graft_scale100")
    // tune mode sweeps the hot-bucket CAP only (an earlier sweep measured
    // the maxDf df-filter harmful on this corpus — DEDUP_TUNING.md §6c)
    val configs: Seq[(Int, Int)] =
      if (tune) Seq((0, 64), (0, 96), (0, 128), (0, 192), (0, 256))
      else Seq((sys.env.getOrElse("AUDIO_MAX_DF", "0").toInt,
        sys.env.getOrElse("AUDIO_MAX_PER_HASH", "128").toInt))
    val spark = LocalSession()
    println(s"[audio-probe] loadavg ${graft.Bench.loadAvg()}")
    for (d <- dirs) {
      val media = graft.operators.Multimodal.withReencodedVariants(
        graft.operators.Multimodal.syntheticMedia(
          graft.queries.Tables.documents(spark, d)))
      val t0 = System.nanoTime()
      // production scale form: TRIPLET landmarks (≈2^20 hash slots at
      // window 32 — bucket occupancy stays flat where the pair form's
      // 2^12 space saturates; AUDIO_TRIPLES=0 pins the pair/registry
      // form, AUDIO_WINDOW overrides the window, for comparison runs)
      val triples = !sys.env.get("AUDIO_TRIPLES").contains("0")
      val window = sys.env.get("AUDIO_WINDOW").map(_.toInt).getOrElse(32)
      val lms = graft.operators.Multimodal.audioFingerprints(media, window,
          triples = triples)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nLms = lms.count()
      val wallLm = (System.nanoTime() - t0) / 1e9
      val occupancy = lms.groupBy("lhash").count()
        .agg(max("count"), avg("count")).collect()(0)
      for ((maxDf, cap) <- configs) {
      val acc = spark.sparkContext.longAccumulator("audioDrops")
      val t1 = System.nanoTime()
      val pairs = graft.operators.Multimodal.audioNearDups(
        lms, maxPerHash = cap, maxDf = maxDf, droppedAcc = Some(acc))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nPairs = pairs.count()
      val wallMatch = (System.nanoTime() - t1) / 1e9
      // recall: above-floor variants whose top match is their original at
      // offset 0 (variant id = original + 10^7 within every replica)
      val counts = lms.groupBy("media_id").agg(count(lit(1)).as("n"))
      val variants = media.filter(col("kind") === "audio")
        .filter(pmod(col("media_id"), lit(1000000000L)) >= 10000000L)
        .select(col("media_id").as("vid"))
        .join(counts.select((col("media_id") + lit(10000000L)).as("vid"),
          col("n").as("orig_n")), "vid")
        .filter(col("orig_n") >=
          (if (triples) graft.operators.Multimodal.Kernels.MinMatchableLandmarks3
           else graft.operators.Multimodal.Kernels.MinMatchableLandmarks))
      // hit = the variant's ORIGINAL is among its top-vote matches, at
      // offset 0 (ties count as hits — what matters is that nothing
      // outscores the true match)
      val flat = pairs
        .select(col("media_a").as("vid"), col("media_b").as("other"),
          col("n_votes"), col("best_off"))
        .unionByName(pairs.select(col("media_b").as("vid"),
          col("media_a").as("other"), col("n_votes"), col("best_off")))
      val best = flat.groupBy("vid").agg(max("n_votes").as("bv"))
      val hitRows = flat.join(best, "vid")
        .filter(col("n_votes") === col("bv") &&
          col("other") === col("vid") - lit(10000000L) &&
          col("best_off") === 0)
        .select("vid").distinct()
      val total = variants.count()
      val hits = variants.join(hitRows, "vid").count()
      val recall = if (total == 0) 0.0 else hits.toDouble / total
      println(f"AUDIO $d window=$window triples=$triples maxDf=$maxDf cap=$cap landmarks=$nLms " +
        f"wall_lm=$wallLm%.2f s " +
        f"max_bucket=${occupancy.getLong(0)} avg_bucket=${occupancy.getDouble(1)}%.1f " +
        f"pairs=$nPairs dropped=${acc.value} wall_match=$wallMatch%.2f s " +
        f"variant_recall=$recall%.4f ($hits/$total)")
      pairs.unpersist()
      // hard gate on the BASE corpus only: the unconfounded measurement
      // (scaled corpora measure the clique confound — BASELINE round-12
      // density progression — and their recall is REPORTED, not gated)
      if (!tune && d == dirs.head) assert(recall >= MinRecall,
        f"AUDIO RECALL GATE FAILED at $d: $recall%.4f < $MinRecall " +
          "(bucket crowding or the cap is destroying the matcher — widen " +
          "the hash space via window/bands, raise maxPerHash, or lower " +
          "maxDf)")
      }
      lms.unpersist(); ()

      // x113 scale contract: probe cost must be BATCH-sized — a FIXED
      // base-corpus batch against this dir's (growing) landmark history,
      // behind the index-side hot-bucket cap (capPerHash=128, the bounded
      // production form). Per batch landmark the join fans out to at most
      // cap store rows per matching hash, so wall should stay ~flat as
      // the history grows 1× → 100× even on this clique-heavy corpus.
      if (!tune) {
        import graft.queries.VectorOps
        graft.sources.LandmarkHistory.clearStaleMarker(spark, d)
        graft.sources.LandmarkHistory.create(spark, d,
          VectorOps.x113HistoryLms(spark, d), capPerHash = 128)
        val store = graft.sources.LandmarkHistory.scanOrCompute(spark, d)(
          sys.error("unreachable"))
        val baseDir = dirs.head
        // the x109/x113 replica-aware split, via the SHARED helpers so
        // the probe's batch is definitionally the one x113 measures
        val batchLms = graft.operators.Multimodal.audioFingerprints(
          VectorOps.x109Media(spark, baseDir)
            .filter(!VectorOps.x109IsOriginal ||
              VectorOps.x109MediaBucket >= 60),
          triples = true)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        batchLms.count()
        val t2 = System.nanoTime()
        val nProbe = graft.operators.Multimodal
          .incrementalAudioNearDups(batchLms, store).count()
        val wallProbe = (System.nanoTime() - t2) / 1e9
        println(f"AUDIO-X113 $d store_cap=128 fixed_batch=$baseDir " +
          f"probe_rows=$nProbe wall_probe=$wallProbe%.2f s")
        batchLms.unpersist()
        graft.sources.LandmarkHistory.invalidate(spark, d)
      }
    }
    spark.stop()
  }
}
