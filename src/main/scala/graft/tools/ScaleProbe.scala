package graft.tools

import graft.util.LocalSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-scale perf probe: benchmark the heaviest curation/dedup/ANN
  * registry queries at sf0.1 AND on a synthetically scaled ~Nx corpus, and
  * report the per-query growth ratio. Sub-2s numbers at one SF cannot
  * falsify a scaling claim; one measured 10x point can — a "linear" plan
  * whose ratio lands far above the data growth has a hidden superlinear
  * stage (the results are recorded in BASELINE.md).
  *
  * The scaled corpus multiplies documents/embeddings by `factor` with
  * DETERMINISTIC per-replica perturbation chosen so the problem SHAPE is
  * preserved rather than degenerated:
  *  - documents: every token of replica r>0 is prefixed `r<r>_`, so a
  *    replica is NOT a near-dup of its source (shingles disjoint) while the
  *    within-replica near-dup structure replicates exactly — near-dup pairs
  *    grow linearly, like a real 10x corpus, instead of quadratically like
  *    naive duplication (which would turn the corpus into one giant clique
  *    and measure the wrong regime). n_chars is recomputed from the new
  *    text; doc_ids are offset by r*10^9.
  *  - embeddings: replica r rotates the vector left by r positions —
  *    norm-preserving, direction-changing, so ANN/pair geometry stays
  *    isotropic and no artificial duplicate pairs appear; labels keep their
  *    distribution (per-label group sizes grow by the factor, exercising
  *    the chunked pair kernels' auto-sizing).
  *
  * Expected ratios at factor F: linear single-scan ops ~F; x40/x45
  * (bucketed LSH) ~F with constant-bounded buckets; x42's exact per-label
  * pair search is O(n^2) BY DESIGN within labels, so its compute ratio is
  * ~F^2 (wall-clock less where parallelism absorbs it) — reported, not
  * hidden. Usage: runMain graft.tools.ScaleProbe [baseSf] [scaledDir] [factor]
  */
object ScaleProbe {

  val ProbeQueries: Seq[String] = Seq(
    "q31_dedup_exact", "x40_minhash_lsh", "x45_simhash_neardup",
    "x48_langid", "x49_fingerprint", "x66_quantize", "x69_pack",
    "x70_decontaminate", "x71_tfidf",
    "q33_knn", "x43b_ann_ivf", "x42_embed_neardup",
    // x42b: the cell-bounded pair producer — same blocked kernel as x42 but
    // within (label, k-means cell): flop count only drops when
    // probes²/nlist < 1, but the task fan-out and shuffle replication
    // shrink ~√nlist-fold, so wall should grow visibly SLOWER than x42's
    // ~F² and its pair recall@20 must hold (gated below)
    "x42b_embed_neardup_cell",
    // x42c: the production-default AUTO form (size-derived nlist) on its
    // planted-margin fixture — the cell count grows with the corpus here,
    // so its ratio should sit far below x42/x42b's declared-quadratic demo
    // configs; its oracle (replayed every round by Verify) is the recall
    // gate, so the probe only adds the wall-ratio dimension
    "x42c_embed_neardup_auto", "x82_shared_spans",
    // x84/x85: near-dup structure grows linearly with the replica count, so
    // the component count (all small-diameter) does too — wall ratio should
    // stay ~linear; propagation rounds must NOT grow with corpus size. Both
    // consume the PERSISTED pair store (the producer step runs inside
    // x40/x42's own timing, as in Bench), so their rows measure
    // resolution-over-persisted-pairs — the composition — at scale
    "x84_dup_components", "x85_dedup_resolve", "x86_incremental_dedup",
    // x87: the two-phase running sum must scale with the 256-way bucket
    // parallelism, not with per-language volume
    "x87_token_budget",
    // x92/x94: the replica-prefixed scaled corpus matches query terms only
    // in replica 0, so the candidate relation stays base-sized and the
    // ratio isolates what SHOULD dominate at 100 TB — the map-only
    // tokenize/stats scans (~F). x94 adds the corpus-sized dense ranking
    // (~F) and the bounded fusion (constant). x93: count + train sample +
    // encode + ADC are all ~F scans; the rerank is shortlist-bounded
    "x92_bm25", "x94_hybrid_rrf", "x93_ann_pq",
    // x95/x97/x98: the LM-scoring family — train is a map-combined token
    // (resp. bigram / per-source-token) aggregation, score is
    // broadcast-join map-only, so wall should track the corpus scan ~F;
    // the replica-scaled corpus multiplies counts uniformly, leaving the
    // model's probability SHAPE unchanged
    "x95_unigram_lm", "x97_bigram_lm", "x98_source_kl",
    // x99: the exhaustive substring audit — O(total chars) rows through
    // one gram-keyed map-combined shuffle + a broadcast dup set, so wall
    // should track ~F (measured 3.02 at 10x, 6.78 at 30x)
    "x99_dupgrams",
    // x102: the INCREMENTAL substring audit — per-batch cost must track
    // the BATCH (grams exploded, one semi-join against the bucketed store
    // riding its layout), with the store build amortized like x86's
    "x102_incremental_dupgrams",
    // x100/x101: resolution policy (components broadcast into the corpus
    // scan) and the composed v2 pipeline (gates + nll + dedup as one
    // DAG) — both should track the corpus scan ~F
    "x100_best_keeper", "x101_curation_v2",
    // x103/x104: the payload dedup axis — fingerprinting is map-only over
    // the binary column (~F; the wide column is pruned before any
    // exchange), pairs are ONE chunk-keyed exchange of 8-byte hashes. The
    // replica prefix inserts bytes into every word, shifting dHash's block
    // grid, so replicas should NOT collide with their sources — within-
    // replica variant pairs replicate exactly and the pair count should
    // grow ~F (a superlinear count here means cross-replica collisions:
    // reported, not hidden — it is what the hot-bucket cap is for)
    "x103_payload_phash", "x104_payload_neardup",
    // x104b: the component-form edge relation — star edges per
    // identical-fingerprint group + banding over distinct VALUES. Where
    // x104's pair count is quadratic in clique size (the scaled corpus's
    // payload channel is ~F-sized cliques by construction), the edge
    // count must stay ~linear in the dup count and the wall ~F
    "x104b_payload_dupedges",
    // x109: the incremental payload probe — per-batch cost must track the
    // BATCH (fingerprints chunk-exploded, one equi-join riding the store's
    // bucket layout), with the store build amortized like x86/x102's
    "x109_incremental_payload_neardup",
    // x105: tokenizer TRAINING — one corpus-scale word-count shuffle (~F)
    // plus K merge rounds over the VOCABULARY relation (replica prefixes
    // multiply distinct words ~F, so round cost grows ~F but stays
    // off-corpus). The model memo is invalidated before each run so every
    // run measures a FULL train; x106/x87b then run steady-state with the
    // warm model — the producer-amortization accounting every store gets
    "x105_bpe_train", "x106_bpe_encode", "x87b_token_budget_bpe",
    // x94b: index-served hybrid retrieval — the BM25 store is built up
    // front per corpus (producer step below), so the row measures
    // pruned-bucket reads + bounded fusion at scale, vs x94's transient
    // chain re-tokenizing the corpus per call
    "x94b_hybrid_rrf_store",
    // x111: landmark extraction is map-only over the audio payloads (~F);
    // the triplet hash space keeps the relation join-able at sf scale
    "x111_audio_landmarks",
    // x113: the incremental audio probe — per-batch cost must be bounded
    // by the CAPPED landmark index (capPerHash=128 in the producer block
    // below: the index-side hot-bucket cap, the bounded production form —
    // the scaled corpus's ~31-word vocabulary makes landmark buckets
    // clique-heavy exactly like the x104 payload channel, so an exact
    // store's probe join is output-quadratic in clique size by
    // construction; the REGISTRY/oracle form keeps the exact store).
    // x112 (all-pairs, uncapped oracle form) is deliberately NOT probed
    // at scale: its scale form is AudioProbe's capped matcher
    "x113_incremental_audio_probe")

  def generate(spark: SparkSession, baseSf: String, outDir: String,
               factor: Int): Unit = {
    val reps = spark.range(factor.toLong).select(col("id").as("rep"))
    val docs = spark.read.parquet(s"$baseSf/documents.parquet")
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * lit(1000000000L)).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(lit("r"), col("rep"), lit("_"), t)), " "))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = spark.read.parquet(s"$baseSf/embeddings.parquet")
    // rotate by rep MOD dim so factors beyond the vector dimension stay
    // valid (slice length would go negative otherwise); doc/vec id offsets
    // of rep*10^9 assume base ids < 10^9 (true for every testdata SF)
    val rot = pmod(col("rep").cast("int"), size(col("embedding")))
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * lit(1000000000L)).as("vec_id"),
        when(col("rep") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), rot + lit(1),
              size(col("embedding")) - rot),
            slice(col("embedding"), lit(1), rot)))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Fixed query-id panel for the recall dimension: present at every SF and
    * in every scaled corpus (replica 0 preserves base vectors verbatim).
    */
  val RecallQids: Seq[Long] = Seq(1L, 7L, 99L, 150L, 230L, 301L, 404L, 480L)

  /** ANN recall@10 of the registry configs vs brute force on `dir`'s
    * embeddings: x43's LSH (64 planes / 16 bands) and x43b's tuned IVF
    * (3 Lloyd passes over a 512-vector hash-ordered sample, nprobe 8/16).
    * Wall-time ratios alone cannot catch an approximate index going BAD as
    * the corpus grows (e.g. nlist=16 cells at 30x density) — this measures
    * whether the indexes stay GOOD, not just fast.
    */
  def annRecall(spark: SparkSession, dir: String): Map[String, Double] = {
    import graft.operators.Similarity
    val emb = graft.queries.Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id").isin(RecallQids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val exact = sets(Similarity.bruteForceTopK(emb, q, k = 10))
    def mean(got: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (qid, ex) =>
        got.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
      }
      rs.sum / rs.size
    }
    val lsh = mean(sets(Similarity.annTopK(emb, q, k = 10)))
    val cents = Similarity.kmeansCentroids(emb, nlist = 16, iters = 3,
      sampleSize = 512)
    val ivf = mean(sets(
      Similarity.ivfTopKWithCentroids(emb, q, k = 10, cents, nprobe = 8)))
    // x93's registry config: PQ ADC shortlist (fixed 100) + exact re-rank.
    // The shortlist does NOT grow with the corpus, so this measures whether
    // the memory-bound path keeps its recall as density rises.
    val pq = mean(sets(graft.operators.Pq.pqTopKRefined(emb, q, k = 10)))
    Map("x43_ann_lsh" -> lsh, "x43b_ann_ivf" -> ivf, "x93_ann_pq" -> pq)
  }

  /** Pair recall@20 of x42b's cell-bounded search (registry config:
    * nlist=8, probes=3) vs the exact x42 blocked search on `dir`'s
    * embeddings — the pair-producer twin of [[annRecall]]: a cell config
    * whose wall time scales must ALSO keep finding the same pairs as the
    * corpus grows (DEDUP_TUNING.md §5: 1.0 at sf0.001/10×/30× with the
    * registry config; a drop below the gate means cells/probes must grow).
    */
  def pairRecall(spark: SparkSession, dir: String): Double = {
    def top20(df: DataFrame): Set[(Long, Long)] = df
      .orderBy(col("cos_sim").desc, col("id_a").asc, col("id_b").asc)
      .limit(20).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = top20(graft.queries.VectorOps.embedNearDupPairs(spark, dir))
    val approx = top20(
      graft.SparkEntry.queries("x42b_embed_neardup_cell")(spark, dir))
    if (exact.isEmpty) 1.0
    else (approx & exact).size.toDouble / exact.size
  }

  /** One query's probe point: median wall, result/store row count (for a
    * pair producer this IS the persisted store size — the candidates-sized
    * claim made measurable), and components rounds when the query resolved
    * components (0 otherwise) — the flat-rounds-at-scale observation.
    */
  final case class Probe(wall: Double, rows: Long, rounds: Int)

  private def bench(spark: SparkSession, dir: String, runs: Int,
                    queries: Seq[String]): Map[String, Probe] =
    queries.map { name =>
      val fn = graft.SparkEntry.queries(name)
      // pair PRODUCERS time the explicit producer step (pipeline + store
      // write — Bench's accounting); the store then stays warm, so later
      // x84/x85 rows measure resolution over the persisted pairs. Probing
      // a consumer WITHOUT its producer in the subset measures standalone
      // semantics instead (cold store = pipeline + resolution).
      val producer = graft.SparkEntry.pairProducers.contains(name)
      graft.operators.Components.lastRounds.set(0)
      var rows = -1L
      val times = (1 to runs).map { _ =>
        // x105 IS the training producer: drop the model memo so each run
        // measures a full train (its consumers below then reuse the warm
        // model from the last run — steady-state, like the stores)
        if (name == "x105_bpe_train") graft.operators.Bpe.invalidate()
        val t0 = System.nanoTime()
        rows =
          if (producer) {
            graft.operators.PairStore.invalidate(spark, name, dir)
            graft.operators.PairStore.refresh(spark, name, dir)(
              fn(spark, dir)).count()
          } else fn(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }.sorted
      name -> Probe(times(runs / 2), rows,
        graft.operators.Components.lastRounds.get)
    }.toMap

  def main(args: Array[String]): Unit = {
    // co-tenancy stamp, read BEFORE the session/warmup/store builds spin
    // up their own threads (reading it any later blames the probe's own
    // startup for "load")
    val load0 = graft.Bench.loadAvg()
    val baseSf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale10"
    val factor = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated subset of ProbeQueries to run —
    // unknown names fail loudly (a typo must not silently bench nothing).
    // "-" skips the wall-time bench entirely (recall-only mode: recall is
    // deterministic, so it stays meaningful on a loaded box where wall
    // ratios are noise)
    val queries =
      if (args.length > 3 && args(3) == "-") Seq.empty[String]
      else if (args.length > 3) {
        val asked = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(asked.nonEmpty,
          "empty query-subset argument — omit it to run every probe query " +
            s"(valid: ${ProbeQueries.mkString(",")})")
        val unknown = asked.filterNot(ProbeQueries.contains)
        require(unknown.isEmpty,
          s"unknown probe queries: ${unknown.mkString(",")} " +
            s"(valid: ${ProbeQueries.mkString(",")})")
        asked
      } else ProbeQueries
    val spark = LocalSession()
    val marker = new java.io.File(s"$outDir/embeddings.parquet/_SUCCESS")
    if (!marker.exists()) {
      println(s"[scaleprobe] generating ${factor}x corpus at $outDir")
      generate(spark, baseSf, outDir, factor)
    }
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$baseSf/documents.parquet").count() // warm datasource
    // this run owns its warehouse: clear markers a previous killed run left
    for (d <- Seq(baseSf, outDir);
         s <- Seq(graft.sources.HashHistory, graft.sources.GramHistory))
      s.clearStaleMarker(spark, d)
    if (queries.contains("x86_incremental_dedup")) {
      // steady-state accounting (as in Bench): the bucketed history store
      // is built once per corpus lifetime, amortized across batches — x86's
      // row measures the probe, not the store build
      Seq(baseSf, outDir).foreach { d =>
        graft.sources.HashHistory.create(spark, d,
          graft.queries.TextOps.x86HistoryHashes(spark, d))
      }
    }
    if (queries.contains("x109_incremental_payload_neardup")) {
      // store amortization for the payload-fingerprint history, as above
      Seq(baseSf, outDir).foreach { d =>
        graft.sources.PhashHistory.clearStaleMarker(spark, d)
        graft.sources.PhashHistory.create(spark, d,
          graft.queries.VectorOps.x109HistoryFps(spark, d))
      }
    }
    if (queries.contains("x113_incremental_audio_probe")) {
      // store amortization for the landmark index, with the index-side
      // hot-bucket cap (the bounded production form — see ProbeQueries)
      Seq(baseSf, outDir).foreach { d =>
        graft.sources.LandmarkHistory.clearStaleMarker(spark, d)
        graft.sources.LandmarkHistory.create(spark, d,
          graft.queries.VectorOps.x113HistoryLms(spark, d),
          capPerHash = 128)
      }
    }
    if (queries.contains("x94b_hybrid_rrf_store")) {
      // steady-state accounting for the index-served hybrid: the BM25
      // store is a once-per-corpus producer, amortized across queries
      Seq(baseSf, outDir).foreach { d =>
        graft.sources.MutationGuard.clear(spark,
          graft.operators.Bm25Store.pathFor(d))
        graft.operators.Bm25Store.createFor(spark, d,
          graft.queries.Tables.documents(spark, d))
      }
    }
    if (queries.contains("x102_incremental_dupgrams")) {
      // same amortization for the gram store; more buckets at scale — the
      // store is gram-sized (~total_chars distinct 40-grams), not doc-sized
      Seq(baseSf -> 8, outDir -> math.max(8, factor / 2)).foreach {
        case (d, b) =>
          graft.sources.GramHistory.create(spark, d,
            graft.queries.TextOps.x86Split(spark, d)._1,
            graft.queries.TextOps.DupGramK, buckets = b)
      }
    }
    // load stamps bracket the wall phases: this box is co-tenant and a
    // burst MID-probe silently inflates whichever phase it overlaps (a
    // round-8 full-panel run STARTED at load 0.06 and still recorded 6x
    // phantom ratios — the 5-min load was 7.3 by probe end). The stamps
    // make a contaminated run self-identifying in the recorded JSON;
    // recall numbers are load-immune either way. Mid/end stamps include
    // the probe's own local[N] threads, so only load_start drives the
    // warning — compare SUSPICIOUS ratios against a re-run, not a stamp.
    println(s"[scaleprobe] benching base $baseSf (median of 3)")
    val base = bench(spark, baseSf, runs = 3, queries)
    val load1 = graft.Bench.loadAvg()
    println(s"[scaleprobe] benching scaled $outDir (median of 3)")
    val scaled = bench(spark, outDir, runs = 3, queries)
    val load2 = graft.Bench.loadAvg()
    if (!(load0 >= 0 && load0 <= 0.5))
      println(f"[scaleprobe] WARNING: loadavg $load0%.2f at start — wall " +
        "ratios from this run are suspect; re-run quiet before recording.")
    queries.foreach { q =>
      val r = scaled(q).wall / base(q).wall
      val rounds = if (scaled(q).rounds > 0)
        s" rounds=${base(q).rounds}->${scaled(q).rounds}" else ""
      println(f"[scaleprobe] $q%-22s base=${base(q).wall}%7.2fs scaled=${scaled(q).wall}%8.2fs ratio=$r%6.2f " +
        f"rows=${base(q).rows}%d->${scaled(q).rows}%d$rounds")
    }
    // recall dimension: the approximate indexes must stay GOOD at scale,
    // not merely fast — measured with the exact registry configs. SKIPPED
    // when an explicit subset contains no vector query: the recall pass
    // includes the EXACT pair search (quadratic per label), so a
    // text-dedup-chain probe at a large factor (e.g. 100x on x40→x84/x85)
    // must not be forced through an unrelated 4e10-dot exact pass
    val doRecall = args.length <= 3 || args(3) == "-" ||
      queries.exists(q => q.startsWith("x42") || q.startsWith("x43") ||
        q == "q33_knn")
    val (recallBase, recallScaled, prBase, prScaled) =
      if (!doRecall) {
        println("[scaleprobe] recall phase skipped (no vector query in subset)")
        (Map.empty[String, Double], Map.empty[String, Double], -1.0, -1.0)
      } else {
        println(s"[scaleprobe] measuring ANN recall@10 base vs scaled")
        val rb = annRecall(spark, baseSf)
        val rs = annRecall(spark, outDir)
        rb.keys.toSeq.sorted.foreach { k =>
          println(f"[scaleprobe] recall@10 $k%-14s base=${rb(k)}%5.3f scaled=${rs(k)}%5.3f")
        }
        println(s"[scaleprobe] measuring x42b pair recall@20 base vs scaled")
        val pb = pairRecall(spark, baseSf)
        val ps = pairRecall(spark, outDir)
        println(f"[scaleprobe] pair-recall@20 x42b_cell   base=$pb%5.3f scaled=$ps%5.3f")
        (rb, rs, pb, ps)
      }
    val json = queries.map(q =>
      s"""\"$q\":{\"base\":${base(q).wall},\"scaled\":${scaled(q).wall},""" +
        s"""\"ratio\":${scaled(q).wall / base(q).wall},""" +
        s"""\"rows_base\":${base(q).rows},\"rows_scaled\":${scaled(q).rows},""" +
        s"""\"rounds_base\":${base(q).rounds},\"rounds_scaled\":${scaled(q).rounds}}""")
      .mkString("{", ",", "}")
    val recallJson =
      if (!doRecall) "{}"
      else (recallBase.keys.toSeq.sorted.map(k =>
        s"""\"$k\":{\"base\":${recallBase(k)},\"scaled\":${recallScaled(k)}}""") :+
        s"""\"x42b_pair_at_20\":{\"base\":$prBase,\"scaled\":$prScaled}""")
        .mkString("{", ",", "}")
    println(s"""{"metric":"scaleprobe","factor":$factor,"queries":$json,"recall_at_10":$recallJson""" +
      s""","load_start":$load0,"load_mid":$load1,"load_end":$load2""" +
      s""","load_quiet":${load0 >= 0 && load0 <= 0.5}}""")
    if (!doRecall) { spark.stop(); return }
    // gate AFTER printing (the numbers must survive a failed gate): the
    // sf0.001 spec thresholds (LSH >= 0.8, tuned IVF >= 0.78) must hold on
    // the scaled corpus — a quality cliff here means the index config
    // (bands / nlist / nprobe) needs to grow with the corpus
    require(recallScaled("x43_ann_lsh") >= 0.8,
      f"LSH recall@10 ${recallScaled("x43_ann_lsh")}%.3f < 0.8 at ${factor}x " +
        "— grow bands/numPlanes with corpus size")
    require(recallScaled("x43b_ann_ivf") >= 0.78,
      f"IVF recall@10 ${recallScaled("x43b_ann_ivf")}%.3f < 0.78 at ${factor}x " +
        "— grow nlist/nprobe with corpus size")
    require(recallScaled("x93_ann_pq") >= 0.85,
      f"PQ refined recall@10 ${recallScaled("x93_ann_pq")}%.3f < 0.85 at " +
        s"${factor}x — the derived shortlist (Pq.derivedShortlist) no " +
        "longer tracks corpus density; grow the n/1000 slope or the code " +
        "budget (m/ksub)")
    require(prScaled >= 0.8,
      f"x42b cell-bounded pair recall@20 $prScaled%.3f < 0.8 at ${factor}x " +
        "— grow probes (or nlist together with probes) with corpus size")
    spark.stop()
  }
}
