package graft.tools

import graft.util.LocalSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Measures STAGE-2 MATCHER VALUE at scale — the one behavior the
  * round-13 composed probes could not isolate: on whole-payload
  * near-dup corpora the identity stage absorbs every planted variant
  * and the landmark/frame matchers contribute 0 hits, so their
  * production value rested on a fixture-size spec
  * (MultimodalSpec's embedded-clip test). This probe scales that exact
  * device to the 10×/100× corpora:
  *
  *  - AUDIO: for every sampled above-floor audio track, plant a twin
  *    whose content is a seeded junk prefix (hop-aligned, 200–796 B)
  *    followed by the original's bytes — the embedded-clip shape. The
  *    whole-payload dHash is far by construction (the prefix shifts the
  *    whole byte plane), so the identity stage MUST find 0 planted
  *    pairs; only x112's offset-coherent landmark voting can recover
  *    them, at best_off = −prefix/hop.
  *  - VIDEO: plant a twin with `m` junk frames (m even, ≈ half the
  *    original's frame count) prepended to the original's frame-aligned
  *    content — sampled-frame sets overlap at Jaccard ≈ 2/3 while the
  *    payload dHash is far; only x108's frame-set matcher can recover.
  *
  * Both axes run the full COMPOSED production posture (x103/x104b/x110
  * identity grouping → components → stage-2 matcher with pairs rolled up
  * to component ids). The matcher input is PER-AXIS (the round-15
  * default, each measured best at 100× clique density — scaladocs on the
  * two helpers carry the numbers): VIDEO matches one member per DISTINCT
  * frame set per component
  * ([[graft.operators.Multimodal.componentSetRepresentatives]] — union
  * dilutes Jaccard's set-size denominator); AUDIO matches the
  * per-component tuple-level union
  * ([[graft.operators.Multimodal.componentFingerprintUnion]] — votes are
  * intersection-based, and per-member inputs saturate the landmark hash
  * space). Round-14's residual-representative form lost every pair
  * anchored on an absorbed member whose set diverged from its
  * representative's. The measured recall includes any interference from
  * identity clustering and hot-bucket caps at scale. Composed recall over planted pairs is
  * GATED ≥ [[MinComposedRecall]] on the non-100× dirs (the 100× row is
  * reported for BASELINE.md); the identity stage's planted-hit count is
  * gated == 0 (otherwise the fixture premise broke and the row says
  * nothing about stage 2).
  *
  * Usage: runMain graft.tools.PartialOverlapProbe [dirs...]
  * (defaults: /root/testdata/sf0.1 /tmp/graft_scale10 /tmp/graft_scale100;
  * dirs containing "scale100" report without gating)
  */
object PartialOverlapProbe {

  val MinComposedRecall = 0.9

  /** Planted ids = original id + this (distinct from the re-encode
    * variant offset 10^7; base ids per replica band stay < 10^8).
    */
  val PlantIdOffset = 40000000L

  /** Target planted-pair panel size per dir (sampled by id hash). */
  val TargetPlants = 1200L

  private[tools] def junkBytes(id: Long, len: Int): Array[Byte] =
    Array.tabulate(len)(i =>
      ((((i + 131) * 40503L + id * 2654435761L) >> 3) & 0xff).toByte)

  private def hammingU = udf((a: Long, b: Long) => java.lang.Long.bitCount(a ^ b))

  /** Identity stage shared by both axes: dup edges → components → rep
    * map + component map. Returns (repOf, components, wall) —
    * `components` is the clustered-nodes-only (node, component) relation
    * [[graft.operators.Multimodal.componentFingerprints]] consumes.
    */
  private def identityStage(all: DataFrame): (DataFrame, DataFrame, Double) = {
    import graft.operators.{Components, Multimodal}
    val t0 = System.nanoTime()
    val edges = Multimodal.payloadDupEdges(all, maxPerBucket = 64)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    val comp = Components.connectedComponents(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val repOf = all.select(col("media_id"))
      .join(comp.select(col("node").as("media_id"),
        col("component").as("rep")), Seq("media_id"), "left")
      .select(col("media_id"), coalesce(col("rep"), col("media_id")).as("rep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    repOf.count(): Unit
    (repOf, comp, (System.nanoTime() - t0) / 1e9)
  }

  /** Planted-pair panel with both reps attached: (pid, oid, rp, ro). */
  private def plantedReps(plants: DataFrame, repOf: DataFrame): DataFrame =
    plants.select(col("media_id").as("pid"))
      .withColumn("oid", col("pid") - PlantIdOffset)
      .join(repOf.select(col("media_id").as("pid"), col("rep").as("rp")), "pid")
      .join(repOf.select(col("media_id").as("oid"), col("rep").as("ro")), "oid")

  /** Matcher pairs rolled up to component ids (pair-EXISTS between
    * components is what feeds the downstream resolution), both
    * directions, as (x, y) — for the recall joins.
    */
  private def rolledUndirected(pairs: DataFrame, repOf: DataFrame): DataFrame = {
    val rolled = pairs
      .join(repOf.select(col("media_id").as("media_a"),
        col("rep").as("_ra")), "media_a")
      .join(repOf.select(col("media_id").as("media_b"),
        col("rep").as("_rb")), "media_b")
      .filter(col("_ra") =!= col("_rb"))
    rolled.select(col("_ra").as("x"), col("_rb").as("y"))
      .unionByName(rolled.select(col("_rb").as("x"), col("_ra").as("y")))
  }

  /** dHash-far fraction over the planted pairs (premise telemetry). */
  private def dhashFarFrac(all: DataFrame, spark: SparkSession): Double = {
    val dhU = udf((c: Array[Byte]) =>
      graft.operators.Multimodal.Kernels.dHash64(c))
    val fps = all.select(col("media_id"), dhU(col("content")).as("ph"))
    val prs = fps.select((col("media_id") - PlantIdOffset).as("oid"),
        col("ph").as("ph_p"))
      .join(fps.select(col("media_id").as("oid"), col("ph").as("ph_o")), "oid")
      .select(hammingU(col("ph_p"), col("ph_o")).as("h"))
    val r = prs.agg(count(lit(1)).as("n"),
      sum(when(col("h") > 3, 1L).otherwise(0L)).as("far")).collect()(0)
    if (r.getLong(0) == 0) 1.0 else r.getLong(1).toDouble / r.getLong(0)
  }

  private def runAudio(spark: SparkSession, d: String, gate: Boolean): Unit = {
    import graft.operators.Multimodal
    val media = Multimodal.syntheticMedia(
        graft.queries.Tables.documents(spark, d))
      .filter(col("kind") === "audio")
    val nAudio = media.count()
    val every = math.max(1L, nAudio / TargetPlants)
    val plantU = udf((id: Long, content: Array[Byte]) => {
      // hop-aligned prefix (hop = 4): landmarks of the embedded content
      // fall on the same window grid in both tracks
      val plen = 200 + 4 * (id % 150).toInt
      junkBytes(id, plen) ++ content
    })
    val plants = media
      .filter(pmod(xxhash64(col("media_id")), lit(every)) === 0)
      .select((col("media_id") + PlantIdOffset).as("media_id"), col("kind"),
        plantU(col("media_id"), col("content")).as("content"), col("meta"))
    val all = media.unionByName(plants)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nAll = all.count()
    val farFrac = dhashFarFrac(all, spark)

    val (repOf, comp, wallId) = identityStage(all)
    val panel = plantedReps(plants, repOf)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // stage 2: landmark matching over the per-component tuple-level
    // UNION — the audio composed default (see
    // Multimodal.componentFingerprintUnion's measurement story; the
    // round-14 full-panel misses were representative substitution),
    // production sizing. GRAFT_PO_WINDOW / GRAFT_PO_AUDIO_CAP override
    // the derived window / hot-bucket cap for sizing experiments.
    val win = sys.env.get("GRAFT_PO_WINDOW").map(_.toInt)
      .getOrElse(Multimodal.autoAudioWindow(all))
    // composed-layer audio sizing (vs x112's registry 128/no-df):
    // df 512 + cap 1024, the round-17 per-miss outcome. Round 15/16 ran
    // cap 256 / no df (0.9966 at 100×, 909,940 capped drops); the
    // round-17 diagnostic showed every residual miss passed the uncapped
    // cut, cap escalation alone was quadratic-cost-for-one-pair (512 →
    // 0.9975 at +36% wall), and the df filter alone over-cut (256 →
    // 0.9941). COMPOSED, the df filter removes the collapsed-entropy
    // junk hashes that were consuming the cap's slots and the cap then
    // never binds: df 512 / cap 1024 → recall 0.9992 at the cap-256
    // wall with ZERO capped drops (BASELINE round-17 table). The one
    // residual miss is a track whose ENTIRE constellation sits in
    // > 512-component hashes — no identity signal under the scheme
    // (DF_FILTERED in the diag below), the measured form ceiling.
    val cap = sys.env.get("GRAFT_PO_AUDIO_CAP").map(_.toInt).getOrElse(1024)
    // GRAFT_PO_AUDIO_MAXDF overrides the df cut (0 disables): hashes in
    // more than maxDf DISTINCT tracks/components carry no identity
    // signal but dominate in-bucket pair generation (audioNearDups' df
    // filter — the production hot-hash posture)
    val mdf = sys.env.get("GRAFT_PO_AUDIO_MAXDF").map(_.toInt).getOrElse(512)
    val t1 = System.nanoTime()
    val lms = Multimodal.audioFingerprints(all, window = win, triples = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nLms = lms.count()
    val wallLm = (System.nanoTime() - t1) / 1e9
    val lmCounts = lms.groupBy("media_id").agg(count(lit(1)).as("n"))
    // eligibility: the ORIGINAL clears the landmark material floor
    val eligible = panel
      .join(lmCounts.select(col("media_id").as("oid"), col("n").as("n_o")), "oid")
      .filter(col("n_o") >= Multimodal.Kernels.MinMatchableLandmarks3)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val total = eligible.count()
    val idHits = eligible.filter(col("rp") === col("ro")).count()

    val lmsRes = Multimodal.componentFingerprintUnion(lms, comp)
      .persist(StorageLevel.MEMORY_AND_DISK)
    lmsRes.count(): Unit
    val acc = spark.sparkContext.longAccumulator("poDropsAudio")
    val t2 = System.nanoTime()
    val pairs = Multimodal.audioNearDups(lmsRes, maxPerHash = cap,
        maxDf = mdf, droppedAcc = Some(acc))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairs.count()
    val wallMatch = (System.nanoTime() - t2) / 1e9

    // pair-EXISTS recall between COMPONENTS (matcher pairs roll up to
    // reps before feeding Components downstream)
    val undirected = pairs.transform(rolledUndirected(_, repOf))
    val lmHits = eligible.filter(col("rp") =!= col("ro"))
      .join(undirected, col("rp") === col("x") && col("ro") === col("y"),
        "left_semi").count()
    val recall = if (total == 0) 1.0 else (idHits + lmHits).toDouble / total
    // ISOLATED panel: originals that survived identity clustering as their
    // own representative — the pure stage-2 measurement. A miss on a
    // CLUSTERED original measures the corpus's cluster coherence (does the
    // representative carry the member's landmarks?), not the matcher.
    val iso = eligible.filter(col("ro") === col("oid") &&
      col("rp") === col("pid"))
    val isoTotal = iso.count()
    val isoHits = iso.join(undirected,
      col("rp") === col("x") && col("ro") === col("y"), "left_semi").count()
    val isoRecall = if (isoTotal == 0) 1.0 else isoHits.toDouble / isoTotal
    val missSub = eligible.filter(col("rp") =!= col("ro"))
      .join(undirected, col("rp") === col("x") && col("ro") === col("y"),
        "left_anti")
      .filter(col("ro") =!= col("oid")).count()

    // offset fidelity on DIRECT hits (both endpoints unclustered):
    // expected best_off = -(prefix / hop) with pair ordered (orig, plant)
    val direct = eligible.filter(col("rp") === col("pid") &&
        col("ro") === col("oid"))
      .withColumn("exp_off",
        -(lit(200) + lit(4) * pmod(col("pid") - PlantIdOffset, lit(150))) / 4)
    val offOk = direct
      .join(pairs, (col("media_a") === col("oid") && col("media_b") === col("pid")) ||
        (col("media_a") === col("pid") && col("media_b") === col("oid")))
      .filter(when(col("media_a") === col("oid"),
          col("best_off") === col("exp_off").cast("int"))
        .otherwise(col("best_off") === -col("exp_off").cast("int")))
      .count()

    println(f"PARTIAL-OVERLAP AUDIO $d media=$nAll plants=${nAll - nAudio} " +
      f"eligible=$total dhash_far=$farFrac%.4f window=$win " +
      f"wall_identity=$wallId%.2f s wall_lm=$wallLm%.2f s lms=$nLms " +
      f"wall_match=$wallMatch%.2f s pairs=$nPairs dropped=${acc.value} " +
      f"id_hits=$idHits lm_hits=$lmHits recall=$recall%.4f " +
      f"iso_recall=$isoRecall%.4f ($isoHits/$isoTotal) " +
      f"miss_rep_substituted=$missSub offset_exact=$offOk")
    assert(idHits == 0,
      s"PREMISE BROKEN at $d: identity stage matched $idHits planted pairs")
    // GRAFT_PO_DIAG=1: per-miss anatomy (the audio twin of the video
    // device that closed round-16's 9 misses) — for every missed planted
    // pair, replay the matcher's EXACT uncapped vote histogram between
    // the two components' union fingerprints driver-side (bounded: the
    // tuple-level union is distinct-(lhash,t) and misses are ≤ a handful)
    // and apply the same minVotes/minCoverage cut. A miss that PASSES
    // uncapped is hot-bucket truncation (cap recoverable); one that fails
    // even uncapped is landmark divergence (the corpus/window ceiling).
    if (sys.env.get("GRAFT_PO_DIAG").contains("1")) {
      val misses = eligible.filter(col("rp") =!= col("ro"))
        .join(undirected, col("rp") === col("x") && col("ro") === col("y"),
          "left_anti")
        .select("pid", "oid", "rp", "ro").collect()
      println(s"PARTIAL-OVERLAP AUDIO $d DIAG: ${misses.length} misses")
      def tuplesOf(id: Long): Array[(Long, Int)] = lmsRes
        .filter(col("media_id") === id)
        .select(col("lhash").cast("long"), col("t").cast("int"))
        .collect().map(x => (x.getLong(0), x.getInt(1)))
      // audioNearDups defaults: minVotes=5, minCoverage=0.25 (kept==raw
      // denominators uncapped)
      def bestVote(tp: Array[(Long, Int)], to: Array[(Long, Int)])
          : (Int, Int, Double) = {
        val byHashO = to.groupBy(_._1)
        val votes = scala.collection.mutable.Map.empty[Int, Int]
        tp.foreach { case (lh, ta) =>
          byHashO.getOrElse(lh, Array.empty[(Long, Int)]).foreach {
            case (_, tb) =>
              val off = ta - tb
              votes(off) = votes.getOrElse(off, 0) + 1
          }
        }
        val (bestOff, bestV) =
          if (votes.isEmpty) (0, 0) else votes.minBy(t => (-t._2, t._1))
        val covDen = math.min(tp.length, to.length)
        (bestOff, bestV, if (covDen == 0) 0.0 else bestV.toDouble / covDen)
      }
      def passes(v: Int, cv: Double): Boolean = v >= 5 && cv >= 0.25
      misses.take(20).foreach { r =>
        val (pid, oid, rp, ro) = (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))
        val tp = tuplesOf(rp)
        val to = tuplesOf(ro)
        // df filter replay: a pair can be lost to the DF CUT, not the
        // cap — its aligned hashes all sit in > maxDf-component buckets
        // (no identity signal under the scheme, the junk profile)
        val dfMap: Map[Long, Long] =
          if (mdf <= 0) Map.empty
          else {
            val hs = (tp.map(_._1) ++ to.map(_._1)).distinct.toSeq
            lmsRes.filter(col("lhash").isin(hs: _*))
              .groupBy("lhash").agg(countDistinct(col("media_id")).as("d"))
              .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
          }
        def keep(lh: Long) = mdf <= 0 || dfMap.getOrElse(lh, 0L) <= mdf
        val (bestOff, bestV, cv) = bestVote(tp, to)
        val (_, fV, fCv) =
          if (mdf <= 0) (bestOff, bestV, cv)
          else bestVote(tp.filter(t => keep(t._1)), to.filter(t => keep(t._1)))
        val label =
          if (passes(fV, fCv)) "CAP_TRUNCATION(passes_filtered_uncapped)"
          else if (passes(bestV, cv)) "DF_FILTERED(no_sub-df_signal)"
          else "LANDMARK_DIVERGENCE(fails_uncapped)"
        println(f"  miss pid=$pid oid=$oid rp=$rp ro=$ro nP=${tp.length} " +
          f"nO=${to.length} best_off=$bestOff votes=$bestV coverage=$cv%.4f " +
          f"df_votes=$fV df_coverage=$fCv%.4f -> $label")
      }
    }
    if (gate) assert(recall >= MinComposedRecall,
      f"AUDIO PARTIAL-OVERLAP RECALL GATE FAILED at $d: " +
        f"$recall%.4f < $MinComposedRecall")
    Seq(pairs, lmsRes, eligible, lms, panel, comp, repOf, all)
      .foreach(_.unpersist())
  }

  private def runVideo(spark: SparkSession, d: String, gate: Boolean): Unit = {
    import graft.operators.Multimodal
    val media = Multimodal.syntheticMedia(
        graft.queries.Tables.documents(spark, d))
      .filter(col("kind") === "video")
    val nVideo = media.count()
    val every = math.max(1L, nVideo / TargetPlants)
    // TWO junk frames prepended to the FRAME-ALIGNED original content:
    // plant frameLen == original frameLen, so plant frames 2..n+1 are
    // byte-identical to original frames 0..n-1, and m = 2 (even) keeps
    // the stride-2 sampling parity aligned while contributing exactly ONE
    // junk hash to the plant's sampled set. m is kept minimal because the
    // synthetic text-byte frames hash-collapse (~1.5 distinct hashes per
    // video at sf0.1) — a wider junk prefix would fail the Jaccard cut
    // for corpus reasons, not matcher reasons.
    val plantU = udf((id: Long, content: Array[Byte], n: Int) => {
      val fl = math.max(1, content.length / math.max(1, n))
      junkBytes(id, 2 * fl) ++ content.take(n * fl)
    })
    val plants = media
      .filter(col("meta.nFrames") >= 8 &&
        pmod(xxhash64(col("media_id")), lit(every)) === 0)
      .select((col("media_id") + PlantIdOffset).as("media_id"), col("kind"),
        plantU(col("media_id"), col("content"), col("meta.nFrames"))
          .as("content"),
        struct(col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.sampleRate").as("sampleRate"),
          (col("meta.nFrames") + 2).cast("int").as("nFrames"),
          col("meta.mime").as("mime")).as("meta"))
    val all = media.unionByName(plants)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nAll = all.count()
    val nPlants = nAll - nVideo
    val farFrac = dhashFarFrac(all, spark)

    val (repOf, comp, wallId) = identityStage(all)

    val t1 = System.nanoTime()
    val framesAll = Multimodal.frameFingerprints(all)
      .persist(StorageLevel.MEMORY_AND_DISK)
    framesAll.count(): Unit
    // material floor (the frame analog of the audio landmark floor): the
    // matcher can only distinguish videos whose frame sets carry signal —
    // an original whose sampled frames collapse to 1–2 distinct hashes is
    // below the floor the same way a 40-byte audio track is
    val frCounts = framesAll.groupBy("media_id").agg(count(lit(1)).as("n"))
    val panel = plantedReps(plants, repOf)
      .join(frCounts.select(col("media_id").as("oid"), col("n").as("n_o")), "oid")
      .filter(col("n_o") >= 3)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val total = panel.count()
    val idHits = panel.filter(col("rp") === col("ro")).count()

    // one member per DISTINCT frame set per component (the composed-
    // posture default since round 15): absorbed members with divergent
    // sets stay matchable as themselves with x108's per-member Jaccard
    // denominators; true replicas collapse to one probe row
    val frames = Multimodal.componentSetRepresentatives(framesAll, comp)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nFrames = frames.count()
    val wallFr = (System.nanoTime() - t1) / 1e9
    val acc = spark.sparkContext.longAccumulator("poDropsVideo")
    // composed-layer video cap 256 (vs x108's registry 64): round-16's
    // per-miss diagnosis (GRAFT_PO_DIAG below) showed ALL 9 residual
    // 100× misses were hot-bucket truncation — a ≥0.5-Jaccard pair
    // present in the probe relation whose shared hashes were all capped
    // out — not representative substitution; 256 recovers recall 1.0000
    // at every scale (BASELINE round-16), the exact audio mechanism+fix
    // from round 15. GRAFT_PO_VIDEO_CAP overrides (0 = uncapped/exact).
    val vcap = sys.env.get("GRAFT_PO_VIDEO_CAP").map(_.toInt).getOrElse(256)
    val t2 = System.nanoTime()
    val pairs = Multimodal.videoNearDups(frames, maxPerHash = vcap,
        droppedAcc = Some(acc))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairs.count()
    val wallMatch = (System.nanoTime() - t2) / 1e9

    val undirected = pairs.transform(rolledUndirected(_, repOf))
    val frHits = panel.filter(col("rp") =!= col("ro"))
      .join(undirected, col("rp") === col("x") && col("ro") === col("y"),
        "left_semi").count()
    val recall = if (total == 0) 1.0 else (idHits + frHits).toDouble / total
    // isolated panel + substituted-miss split, as in the audio runner
    val iso = panel.filter(col("ro") === col("oid") && col("rp") === col("pid"))
    val isoTotal = iso.count()
    val isoHits = iso.join(undirected,
      col("rp") === col("x") && col("ro") === col("y"), "left_semi").count()
    val isoRecall = if (isoTotal == 0) 1.0 else isoHits.toDouble / isoTotal
    val missSub = panel.filter(col("rp") =!= col("ro"))
      .join(undirected, col("rp") === col("x") && col("ro") === col("y"),
        "left_anti")
      .filter(col("ro") =!= col("oid")).count()

    println(f"PARTIAL-OVERLAP VIDEO $d media=$nAll plants=$nPlants " +
      f"eligible=$total dhash_far=$farFrac%.4f " +
      f"wall_identity=$wallId%.2f s wall_frames=$wallFr%.2f s " +
      f"frames=$nFrames wall_match=$wallMatch%.2f s pairs=$nPairs " +
      f"dropped=${acc.value} id_hits=$idHits frame_hits=$frHits " +
      f"recall=$recall%.4f iso_recall=$isoRecall%.4f ($isoHits/$isoTotal) " +
      f"miss_rep_substituted=$missSub")
    assert(idHits == 0,
      s"PREMISE BROKEN at $d: identity stage matched $idHits planted pairs")
    // GRAFT_PO_DIAG=1: per-miss anatomy — for every missed planted pair,
    // the EXACT (uncapped) Jaccard between the plant's probe row and (i)
    // the original itself and (ii) the kept representative of the
    // original's signature group, plus that group's membership — enough
    // to separate cap truncation / signature collision / genuine set
    // divergence without rerunning the probe
    if (sys.env.get("GRAFT_PO_DIAG").contains("1")) {
      val misses = panel
        .join(undirected, col("rp") === col("x") && col("ro") === col("y"),
          "left_anti")
        .filter(col("rp") =!= col("ro"))
        .select("pid", "oid", "rp", "ro").collect()
      println(s"PARTIAL-OVERLAP VIDEO $d DIAG: ${misses.length} misses")
      val setsOf = framesAll.groupBy("media_id")
        .agg(collect_set(col("phash")).as("S"))
      val probeIds = frames.select(col("media_id")).distinct()
      misses.take(20).foreach { r =>
        val (pid, oid, rp, ro) = (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))
        // the plant-side probe row's id: the kept member of pid's
        // signature group (pid itself when unclustered)
        val pProbe = frames.filter(col("media_id") === pid).limit(1).count()
        val compMembers = comp.filter(col("component") === ro)
          .select(col("node")).collect().map(_.getLong(0))
        val keptInComp = probeIds
          .join(comp.filter(col("component") === ro)
            .select(col("node").as("media_id")), "media_id")
          .collect().map(_.getLong(0))
        val sP = setsOf.filter(col("media_id") === pid)
          .collect().headOption.map(_.getSeq[Long](1).toSet).getOrElse(Set())
        val sO = setsOf.filter(col("media_id") === oid)
          .collect().headOption.map(_.getSeq[Long](1).toSet).getOrElse(Set())
        def jac(a: Set[Long], b: Set[Long]): Double =
          if (a.isEmpty && b.isEmpty) 0.0
          else (a & b).size.toDouble / (a | b).size
        val keptJacs = keptInComp.map { k =>
          val sK = setsOf.filter(col("media_id") === k)
            .collect().headOption.map(_.getSeq[Long](1).toSet).getOrElse(Set())
          (k, f"${jac(sP, sK)}%.3f", sK == sO)
        }
        println(s"  miss pid=$pid oid=$oid rp=$rp ro=$ro " +
          f"plant_probe_present=${pProbe == 1} j(plant,orig)=${jac(sP, sO)}%.3f " +
          s"comp_size=${compMembers.length} kept_in_comp=${keptJacs.toSeq}")
      }
    }
    if (recall < MinComposedRecall) {
      // diagnostic: is the miss cap-bounded (hot frame hashes under the
      // text-byte corpus's collapsed frame entropy) or matcher-bounded?
      val t3 = System.nanoTime()
      val pairsWide = Multimodal.videoNearDups(frames, maxPerHash = 256)
      val undirW = rolledUndirected(pairsWide, repOf)
      val frHitsW = panel.filter(col("rp") =!= col("ro"))
        .join(undirW, col("rp") === col("x") && col("ro") === col("y"),
          "left_semi").count()
      val recallW = if (total == 0) 1.0 else (idHits + frHitsW).toDouble / total
      println(f"PARTIAL-OVERLAP VIDEO $d cap=256 " +
        f"wall_match=${(System.nanoTime() - t3) / 1e9}%.2f s " +
        f"frame_hits=$frHitsW recall=$recallW%.4f")
    }
    if (gate) assert(recall >= MinComposedRecall,
      f"VIDEO PARTIAL-OVERLAP RECALL GATE FAILED at $d: " +
        f"$recall%.4f < $MinComposedRecall")
    Seq(pairs, frames, panel, framesAll, comp, repOf, all)
      .foreach(_.unpersist())
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_scale10",
        "/tmp/graft_scale100")
    val spark = LocalSession()
    println(s"[partial-overlap-probe] loadavg ${graft.Bench.loadAvg()}")
    // GRAFT_PO_KIND=audio|video narrows a re-run to one axis
    val kind = sys.env.getOrElse("GRAFT_PO_KIND", "both")
    for (d <- dirs) {
      val gate = !d.contains("scale100")
      if (kind != "video") runAudio(spark, d, gate)
      if (kind != "audio") runVideo(spark, d, gate)
    }
    spark.stop()
  }
}
