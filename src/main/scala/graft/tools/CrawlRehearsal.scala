package graft.tools

import graft.util.LocalSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unified crawl-cadence rehearsal across ALL SEVEN incremental stores —
  * the [[PipelineRehearsal]] adversarial-composition device applied to
  * the incremental family: each store has its own spec-gated
  * store-≡-derived contract, but the family had never been driven as ONE
  * session, and composition is where the round-11 rehearsal caught its
  * two real failures. One crawl (the shared md5-bucket split, batch side
  * pinned from the BASE dir so every scale answers the same question) is
  * probed and then APPENDED through HashHistory (x86 exact doc) +
  * GramHistory (x102 substring) + PhashHistory (x109 payload) +
  * LandmarkHistory (x113 audio) + FrameHistory (x116 video) +
  * MinHashHistory (x123 text near-dup) + IvfStore/EmbedHistory (x124
  * embedding) in sequence, with three gates per member:
  *
  *  1. STORE ≡ DERIVED (base dir): the store-served probe answer equals
  *     the same operator over the derived in-query history relations.
  *  2. SCALE DETERMINISM (scaled dirs): the text/embed members' answers
  *     are IDENTICAL to the base answer (ScaleProbe's replicas are
  *     shingle-/gram-/md5-/cosine-disjoint from base by construction;
  *     x124's base answer is itself gated against the arithmetic planted
  *     set). The media members assert NO MISSES vs base and report
  *     extras (a cross-replica fingerprint collision is correct probe
  *     behavior, not a bug — it is counted, not failed).
  *  3. CRAWL COMMITTED (post-append self-recognition): after the batch
  *     appends, a re-probe must recognize every eligible batch item
  *     against itself — all x86 statuses dup_of_history, all x102
  *     hist_frac exactly 1.0, and every fingerprinted/shingled/valid
  *     item in a self pair at the respective exact score.
  *
  * Measures per-member build / probe (2 runs — run 2 is steady-state) /
  * append / re-probe walls, store rows before/after, and the combined
  * crawl wall per dir.
  *
  * Usage: runMain graft.tools.CrawlRehearsal [baseSf] [scaledDirs...]
  * (defaults: /root/testdata/sf0.1 /tmp/graft_scale10 /tmp/graft_scale100;
  * scaled dirs must exist — ScaleProbe generates them)
  */
object CrawlRehearsal {

  private final case class Member(
      name: String,
      build: String => Unit,            // create the dir's history store
      probe: String => DataFrame,       // store-served probe
      derived: String => DataFrame,     // same operator, derived history
      append: String => Unit,           // commit the batch to the store
      storeCount: String => Long,       // store rows (all relations)
      selfMisses: (String, DataFrame) => Long, // eligible items NOT self-recognized
      exactAtScale: Boolean,            // gate-2 form: identity vs no-misses
      reprobe: Option[String => DataFrame] = None, // gate-3 probe override
      extrasValid: Set[Seq[Any]] => Boolean = _ => true, // gate-2 extras check
      driftStat: Option[String => String] = None) // listing-level skew, post-append

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  def main(args: Array[String]): Unit = {
    val load0 = graft.Bench.loadAvg()
    val baseSf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scaled =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("/tmp/graft_scale10", "/tmp/graft_scale100")
    val spark = LocalSession(
      "spark.sql.warehouse.dir" -> s"/tmp/graft_crawlreh_wh_${System.nanoTime}")
    println(s"[crawl-rehearsal] loadavg $load0 base=$baseSf scaled=$scaled")

    import graft.operators.{Dedup, IvfStore, Multimodal}
    import graft.queries.{TextOps, VectorOps}
    import graft.sources._

    // ---- the ONE crawl batch, pinned from the base dir ----------------
    val batchDocs = TextOps.x86Split(spark, baseSf)._2.localCheckpoint(true)
    val batchDocsLang = TextOps.x123Split(spark, baseSf)._2
      .localCheckpoint(true)
    val batchArrs = TextOps.shingleArrays(batchDocsLang).localCheckpoint(true)
    val batchMedia = VectorOps.x109Media(spark, baseSf)
      .filter(!VectorOps.x109IsOriginal || VectorOps.x109MediaBucket >= 60)
      .localCheckpoint(true)
    val batchLms = Multimodal.audioFingerprints(batchMedia, triples = true)
      .localCheckpoint(true)
    val batchFrames = Multimodal.frameFingerprints(batchMedia)
      .localCheckpoint(true)
    val batchVecs = VectorOps.x124Split(spark, baseSf)._2
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val batchFps = Multimodal.payloadFingerprints(batchMedia)
      .localCheckpoint(true)

    // x124's arithmetic planted truth at base: every +10M recrawl of a
    // bucket<60 ∧ bucket%7==0 history vector pairs with its original at
    // exactly 1.0 — and nothing else reaches the 0.999 cut
    val ivfPaths = scala.collection.mutable.Map[String, String]()
    def ivfPath(dir: String): String = ivfPaths.getOrElseUpdate(dir, {
      val d = java.nio.file.Files.createTempDirectory("graft-crawlreh-ivf")
      d.toFile.deleteOnExit(); d.toString + "/idx"
    })
    val plantedX124: Set[Seq[Any]] = rows(
      graft.queries.Tables.embeddings(spark, baseSf)
        .select(col("vec_id").cast("long"))
        .withColumn("bucket",
          (conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 100).cast("int"))
        .filter(col("bucket") < 60 && col("bucket") % 7 === 0)
        .select((col("vec_id") + 10000000L).as("batch_id"),
          col("vec_id").as("hist_id"), lit(1.0).as("cos_sim")))

    def antiCount(eligible: DataFrame, idCol: String,
                  self: DataFrame): Long =
      eligible.select(col(idCol)).distinct()
        .join(self.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
        .count()

    val members = Seq(
      Member("x86_hash",
        build = { d => HashHistory.clearStaleMarker(spark, d)
          HashHistory.create(spark, d, TextOps.x86HistoryHashes(spark, d)) },
        probe = d => Dedup.incrementalStatusBinary(batchDocs,
          HashHistory.scanOrCompute(spark, d)(sys.error("unreachable"))),
        derived = d => Dedup.incrementalStatusBinary(batchDocs,
          TextOps.x86HistoryHashes(spark, d)),
        append = d => HashHistory.append(spark, d,
          batchDocs.select(unhex(md5(col("text"))).as("th"))),
        storeCount = d => spark.table(HashHistory.tableFor(d)).count(),
        selfMisses = (_, re) =>
          re.filter(col("status") =!= "dup_of_history").count(),
        exactAtScale = true,
        // saturation loudness (DEDUP_TUNING §5.1): the compact() trigger
        // printed per round, like the IVF member's skew stat
        driftStat = Some(d => HashHistory.bloomStat(spark, d)
          .map(_.render).getOrElse("no-sidecar"))),
      Member("x102_gram",
        build = { d => GramHistory.clearStaleMarker(spark, d)
          GramHistory.create(spark, d, TextOps.x86Split(spark, d)._1,
            TextOps.DupGramK) },
        probe = d => TextOps.gramLeg(spark, d, batchDocs,
          sys.error("unreachable")),
        derived = d => Dedup.incrementalDupGrams(batchDocs,
          GramHistory.gramHashes(TextOps.x86Split(spark, d)._1,
            TextOps.DupGramK), k = TextOps.DupGramK),
        append = d => GramHistory.append(spark, d,
          GramHistory.gramHashes(batchDocs, TextOps.DupGramK)),
        storeCount = d => spark.table(GramHistory.tableFor(d)).count(),
        selfMisses = (_, re) => re.filter(col("hist_frac") =!= 1.0).count(),
        exactAtScale = true,
        driftStat = Some(d => GramHistory.bloomStat(spark, d)
          .map(_.render).getOrElse("no-sidecar"))),
      Member("x109_payload",
        build = { d => PhashHistory.clearStaleMarker(spark, d)
          PhashHistory.create(spark, d, VectorOps.x109HistoryFps(spark, d)) },
        probe = d => Multimodal.incrementalPayloadNearDups(batchMedia,
          PhashHistory.scanOrCompute(spark, d)(sys.error("unreachable"))),
        derived = d => Multimodal.incrementalPayloadNearDups(batchMedia,
          PhashHistory.chunkKeys(VectorOps.x109HistoryFps(spark, d))),
        append = d => PhashHistory.append(spark, d, batchFps),
        storeCount = d => spark.table(PhashHistory.tableFor(d)).count(),
        selfMisses = (_, re) => antiCount(
          batchFps.select(col("media_id").as("batch_id")), "batch_id",
          re.filter(col("hist_id") === col("batch_id") &&
            col("hamming") === 0)),
        exactAtScale = false),
      Member("x113_audio",
        build = { d => LandmarkHistory.clearStaleMarker(spark, d)
          LandmarkHistory.create(spark, d,
            VectorOps.x113HistoryLms(spark, d)) },
        probe = d => Multimodal.incrementalAudioNearDups(batchLms,
          LandmarkHistory.scanOrCompute(spark, d)(sys.error("unreachable"))),
        derived = d => Multimodal.incrementalAudioNearDups(batchLms,
          LandmarkHistory.storeShape(VectorOps.x113HistoryLms(spark, d))),
        append = d => LandmarkHistory.append(spark, d, batchLms),
        storeCount = d => spark.table(LandmarkHistory.tableFor(d)).count(),
        selfMisses = (_, re) => antiCount(
          batchLms.groupBy(col("media_id").as("batch_id"))
            .agg(count(lit(1)).as("_n")).filter(col("_n") >= 5),
          "batch_id", re.filter(col("hist_id") === col("batch_id"))),
        exactAtScale = false),
      Member("x116_video",
        build = { d => FrameHistory.clearStaleMarker(spark, d)
          FrameHistory.create(spark, d,
            VectorOps.x116HistoryFrames(spark, d)) },
        probe = { d =>
          val (hf, hs) = FrameHistory.scanOrCompute(spark, d)(
            sys.error("unreachable"))
          Multimodal.incrementalVideoNearDups(batchFrames, hf, hs) },
        derived = { d =>
          val hist = VectorOps.x116HistoryFrames(spark, d)
          Multimodal.incrementalVideoNearDups(batchFrames,
            FrameHistory.storeRows(hist), FrameHistory.sizeRows(hist)) },
        append = d => FrameHistory.append(spark, d, batchFrames),
        storeCount = d => spark.table(FrameHistory.tableFor(d)).count(),
        selfMisses = (_, re) => antiCount(
          batchFrames.select(col("media_id").as("batch_id")), "batch_id",
          re.filter(col("hist_id") === col("batch_id") &&
            col("jaccard") === 1.0)),
        exactAtScale = false),
      Member("x123_minhash",
        build = { d => MinHashHistory.clearStaleMarker(spark, d)
          MinHashHistory.create(spark, d,
            TextOps.x123HistoryBands(spark, d),
            TextOps.x123HistoryShingles(spark, d)) },
        probe = d => TextOps.nearDupLeg(spark, d, batchArrs,
          sys.error("unreachable")),
        derived = { d =>
          val hist = TextOps.x123Split(spark, d)._1
          Dedup.incrementalNearDups(batchArrs,
            TextOps.minHashBandsOf(hist), TextOps.minHashShinglesOf(hist)) },
        // bands/shingles derive from the TEXT relation; rebuild from the
        // pinned batch docs (the streaming twin does the same)
        append = d => MinHashHistory.append(spark, d,
          TextOps.minHashBandsOf(batchDocsLang),
          TextOps.minHashShinglesOf(batchDocsLang)),
        storeCount = d => spark.table(MinHashHistory.tableFor(d)).count() +
          spark.table(MinHashHistory.shTableFor(d)).count(),
        selfMisses = (_, re) => antiCount(
          batchArrs.filter(col("lang").isNotNull)
            .select(col("doc_id").as("doc_a")), "doc_a",
          re.filter(col("doc_a") === col("doc_b") &&
            col("jaccard") === 1.0)),
        exactAtScale = true,
        driftStat = Some(d => MinHashHistory.bloomStat(spark, d)
          .map(_.render).getOrElse("no-sidecar"))),
      Member("x124_embed",
        build = { d =>
          IvfStore.create(spark, ivfPath(d),
            VectorOps.x124Split(spark, d)._1
              .select(col("vec_id"), col("embedding"))): Unit },
        probe = d => IvfStore.search(spark, ivfPath(d),
            batchVecs.select(col("vec_id").as("query_id"),
              col("embedding").as("qe")), k = 4, nprobe = 4)
          .filter(col("cos_sim") >= 0.999)
          .select(col("query_id").as("batch_id"),
            col("vec_id").as("hist_id"),
            round(col("cos_sim"), 4).as("cos_sim")),
        derived = { d =>
          import spark.implicits._
          // the derived twin IS the arithmetic planted set (x124's oracle
          // device — gate failure means a missed or spurious probe)
          plantedX124.toSeq.map(s => (s(0).asInstanceOf[Long],
              s(1).asInstanceOf[Long], s(2).asInstanceOf[Double]))
            .toDF("batch_id", "hist_id", "cos_sim") },
        append = d => IvfStore.append(spark, ivfPath(d), batchVecs),
        storeCount = d =>
          spark.read.parquet(ivfPath(d) + "/vectors").count(),
        // ANN search NEVER returns the query's own id (Similarity.rank
        // drops vec_id == query_id by design), so the self-recognition
        // reprobe shifts query ids out of the store's id space: a batch
        // vector is self-recognized when the shifted query finds its
        // TRUE id in the store at cosine exactly 1.0
        selfMisses = (_, re) => antiCount(
          batchVecs.select((col("vec_id") + 40000000L).as("batch_id")),
          "batch_id",
          re.filter(col("hist_id") === col("batch_id") - 40000000L &&
            col("cos_sim") === 1.0)),
        // NOT identity at scale: ScaleProbe's replica device rotates
        // embeddings by r mod dim, so once factor >= dim (100x at dim 64)
        // replica dim is a VERBATIM copy of every base vector — the base
        // batch legitimately pairs with those twins. The gate becomes
        // no-misses + every extra at cosine exactly 1.0 (a sub-1.0 extra
        // would be a real false positive).
        exactAtScale = false,
        extrasValid = _.forall(_.last == 1.0),
        reprobe = Some(d => IvfStore.search(spark, ivfPath(d),
            batchVecs.select((col("vec_id") + 40000000L).as("query_id"),
              col("embedding").as("qe")), k = 4, nprobe = 4)
          .filter(col("cos_sim") >= 0.999)
          .select(col("query_id").as("batch_id"),
            col("vec_id").as("hist_id"),
            round(col("cos_sim"), 4).as("cos_sim"))),
        // drift loudness: the rebalance trigger (DEDUP_TUNING §5.1) is
        // printed every rehearsal round, so a store drifting toward the
        // skew threshold is visible BEFORE any recall gate trips
        driftStat = Some { d =>
          val s = IvfStore.skewStat(spark, ivfPath(d))
          f"cells=${s.cells} skew=${s.skew}%.2f p99B=${s.p99Bytes}"
        })
    )

    val baseAnswers = scala.collection.mutable.Map[String, Set[Seq[Any]]]()
    (baseSf +: scaled).foreach { dir =>
      val isBase = dir == baseSf
      val dirT0 = System.nanoTime()
      members.foreach { m =>
        val t0 = System.nanoTime()
        m.build(dir)
        val build = (System.nanoTime() - t0) / 1e9
        val before = m.storeCount(dir)
        val w1 = { val t = System.nanoTime(); val n = m.probe(dir).count()
          ((System.nanoTime() - t) / 1e9, n) }
        val t2 = System.nanoTime()
        val got = rows(m.probe(dir))
        val w2 = (System.nanoTime() - t2) / 1e9
        // gate 1 / gate 2
        if (isBase) {
          val want = rows(m.derived(dir))
          assert(got == want, s"${m.name}@$dir: store-served answer " +
            s"diverged from derived (${got.size} vs ${want.size} rows)")
          baseAnswers(m.name) = got
        } else {
          val base = baseAnswers(m.name)
          if (m.exactAtScale)
            assert(got == base, s"${m.name}@$dir: answer diverged from " +
              s"base (${got.size} vs ${base.size} rows)")
          else {
            val misses = base -- got
            assert(misses.isEmpty, s"${m.name}@$dir: ${misses.size} base " +
              s"pairs MISSED at scale: ${misses.take(3)}")
            val extra = got -- base
            assert(m.extrasValid(extra), s"${m.name}@$dir: scale extras " +
              s"failed validation: ${extra.take(3)}")
          }
        }
        val extras = if (isBase || m.exactAtScale) 0
          else (got -- baseAnswers(m.name)).size
        // crawl commit + self-recognition
        val t3 = System.nanoTime()
        m.append(dir)
        val append = (System.nanoTime() - t3) / 1e9
        val after = m.storeCount(dir)
        val t4 = System.nanoTime()
        val reprobe = m.reprobe.getOrElse(m.probe)(dir)
        val misses = m.selfMisses(dir, reprobe)
        val w3 = (System.nanoTime() - t4) / 1e9
        assert(misses == 0L,
          s"${m.name}@$dir: $misses batch items not self-recognized " +
            "after their own append committed")
        val drift = m.driftStat.map(f => " drift[" + f(dir) + "]").getOrElse("")
        println(f"CRAWL-REHEARSAL dir=$dir member=${m.name} " +
          f"build=$build%.2f s store_before=$before probe1=${w1._1}%.2f s " +
          f"probe2=$w2%.2f s rows=${w1._2} extras=$extras " +
          f"append=$append%.2f s store_after=$after reprobe=$w3%.2f s " +
          f"self_ok=true load=${graft.Bench.loadAvg()}%.2f$drift")
      }
      println(f"CRAWL-REHEARSAL dir=$dir COMBINED " +
        f"wall=${(System.nanoTime() - dirT0) / 1e9}%.1f s " +
        f"members=${members.size} load=${graft.Bench.loadAvg()}%.2f")
    }
    spark.stop()
  }
}
