package graft.tools

import graft.util.LocalSession
import org.apache.spark.sql.functions._

/** Measures the documented audio PRODUCTION POSTURE as a COMPOSED
  * pipeline (BASELINE round-12 density progression: "exact-identity
  * grouping FIRST, landmarks on the residual"):
  *
  *  stage 1 — x103/x104b/x110: whole-payload dHash fingerprints → linear
  *  dup-edge relation → connected components → ONE representative per
  *  identity cluster. On the clique-heavy scaled corpora this is where
  *  re-encoded copies and vocabulary-clique tracks collapse.
  *
  *  stage 2 — x112 landmark matching on the RESIDUAL (representatives
  *  only): triplet constellation, hot-bucket cap 128 — the partial/offset
  *  matcher runs where identity cannot answer, against a corpus whose
  *  bucket occupancy stage 1 just deflated.
  *
  * Composed recall per above-floor re-encoded variant v (original
  * o = v − 10^7): HIT when stage 1 put v and o in one component
  * (rep(v) == rep(o)), or stage 2's top-vote match of rep(v) is rep(o)
  * at offset 0. Reported as identity/landmark/total splits, with the
  * residual size and the stage-2 occupancy/pairs/drops that explain the
  * recovery. Gated >= [[AudioProbe.MinRecall]] on the base corpus only
  * (scaled rows are the measurement — BASELINE.md records them).
  *
  * Usage: runMain graft.tools.AudioPipelineProbe [dirs...]
  * (defaults: /root/testdata/sf0.1 /tmp/graft_scale10 /tmp/graft_scale100)
  */
object AudioPipelineProbe {

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_scale10",
        "/tmp/graft_scale100")
    val spark = LocalSession()
    println(s"[audio-pipeline-probe] loadavg ${graft.Bench.loadAvg()}")
    import graft.operators.{Components, Multimodal}
    for (d <- dirs) {
      val media = Multimodal.withReencodedVariants(
          Multimodal.syntheticMedia(graft.queries.Tables.documents(spark, d)))
        .filter(col("kind") === "audio")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nMedia = media.count()

      // ---- stage 1: identity grouping (x103 fps -> x104b edges -> x110)
      val t0 = System.nanoTime()
      val edges = Multimodal.payloadDupEdges(media, maxPerBucket = 64)
        .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
      val comp = Components.connectedComponents(edges)
        .select(col("node").as("media_id"), col("component").as("rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      comp.count()
      val repOf = media.select(col("media_id"))
        .join(comp, Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("rep"), col("media_id")).as("rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val residualIds = repOf.select(col("rep").as("media_id")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nResidual = residualIds.count()
      val wallIdentity = (System.nanoTime() - t0) / 1e9

      // ---- stage 2: landmark matching on the residual
      val t1 = System.nanoTime()
      val lmsFull = Multimodal.audioFingerprints(media, window = 32,
          triples = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nLmsFull = lmsFull.count()
      val wallLm = (System.nanoTime() - t1) / 1e9
      val lmsRes = lmsFull.join(residualIds, Seq("media_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nLmsRes = lmsRes.count()
      val occ = lmsRes.groupBy("lhash").count()
        .agg(max("count"), avg("count")).collect()(0)
      val acc = spark.sparkContext.longAccumulator("audioDrops")
      val t2 = System.nanoTime()
      val pairs = Multimodal.audioNearDups(lmsRes, maxPerHash = 128,
          droppedAcc = Some(acc))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nPairs = pairs.count()
      val wallMatch = (System.nanoTime() - t2) / 1e9

      // ---- composed recall over above-floor variants
      val counts = lmsFull.groupBy("media_id").agg(count(lit(1)).as("n"))
      val variants = media
        .filter(pmod(col("media_id"), lit(1000000000L)) >= 10000000L)
        .select(col("media_id").as("vid"))
        .join(counts.select((col("media_id") + lit(10000000L)).as("vid"),
          col("n").as("orig_n")), "vid")
        .filter(col("orig_n") >=
          Multimodal.Kernels.MinMatchableLandmarks3)
        .join(repOf.select(col("media_id").as("vid"), col("rep").as("rv")),
          "vid")
        .join(repOf.select((col("media_id") + lit(10000000L)).as("vid"),
          col("rep").as("ro")), "vid")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = variants.count()
      val idHits = variants.filter(col("rv") === col("ro")).count()
      // landmark hit: rep(v)'s top-vote residual match is rep(o) at off 0
      val flat = pairs
        .select(col("media_a").as("a"), col("media_b").as("b"),
          col("n_votes"), col("best_off"))
        .unionByName(pairs.select(col("media_b").as("a"),
          col("media_a").as("b"), col("n_votes"), col("best_off")))
      val best = flat.groupBy("a").agg(max("n_votes").as("bv"))
      val lmHitRows = flat.join(best, "a")
        .filter(col("n_votes") === col("bv") && col("best_off") === 0)
        .select(col("a"), col("b")).distinct()
      val lmHits = variants.filter(col("rv") =!= col("ro"))
        .join(lmHitRows, col("rv") === col("a") && col("ro") === col("b"),
          "left_semi")
        .count()
      val recall = if (total == 0) 0.0 else (idHits + lmHits).toDouble / total
      println(f"AUDIO-PIPELINE $d audio_media=$nMedia residual=$nResidual " +
        f"(${100.0 * nResidual / math.max(1, nMedia)}%.1f%%) " +
        f"wall_identity=$wallIdentity%.2f s wall_lm=$wallLm%.2f s " +
        f"lms_full=$nLmsFull lms_residual=$nLmsRes " +
        f"max_bucket=${occ.getLong(0)} avg_bucket=${occ.getDouble(1)}%.1f " +
        f"pairs=$nPairs dropped=${acc.value} wall_match=$wallMatch%.2f s " +
        f"recall=$recall%.4f (identity $idHits + landmark $lmHits / $total)")
      if (d == dirs.head) assert(recall >= AudioProbe.MinRecall,
        f"COMPOSED AUDIO RECALL GATE FAILED at $d: " +
          f"$recall%.4f < ${AudioProbe.MinRecall}")
      Seq(pairs, variants, lmsRes, lmsFull, residualIds, repOf, comp, media)
        .foreach(_.unpersist())
    }
    spark.stop()
  }
}
