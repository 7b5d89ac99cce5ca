package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.6 Q33/Q35 + extensions: similarity search and multimodal
  * (text + vector) rows over `embeddings`.
  *
  * Vector math uses Spark's higher-order array functions (`zip_with` +
  * `aggregate`) — no UDFs, no driver-side loops; floats are cast to double
  * before arithmetic on both engines. Cosine scores are transcendental so
  * they are rounded to 4dp, and every top-k cut orders by the ROUNDED score
  * with an id tie-break (deterministic across engines).
  */
object VectorOps {

  def defs: Seq[QueryDef] =
    Seq(q33, q35, x42_embed_neardup, x42b_embed_neardup_cell,
      x42c_embed_neardup_auto, x43_ann_lsh,
      x43b_ann_ivf, x43c_ann_lsh_planted, x43d_ann_ivf_planted,
      x93b_ann_pq_planted, x51_multimodal_features, x51b_feature_stats,
      x79_media_meta,
      x89_semantic_dedup, x93_ann_pq, x103_payload_phash,
      x104_payload_neardup, x104b_payload_dupedges, x107_frame_phash,
      x108_video_neardup, x109_incremental_payload_neardup,
      x110_payload_resolve, x111_audio_landmarks, x112_audio_neardup,
      x113_incremental_audio_probe, x116_incremental_video_probe,
      x120_payload_decontaminate, x121_resize_images,
      x124_incremental_embed_neardup)

  /** Oracle-checked half of the multimodal surface: the synthetic-media
    * metadata derivation and binary-column plumbing (payload byte length
    * via the BINARY column, typed metadata struct fields) aggregated per
    * kind — pure integer arithmetic, so DuckDB replays it exactly. Only the
    * stub decode kernel itself stays outside the oracle (x51, rows-only +
    * property-tested).
    */
  val x79_media_meta: QueryDef = QueryDef(
    "x79_media_meta",
    Sql.canon(
      """SELECT kind, COUNT(*) AS n,
        |  CAST(SUM(width) AS BIGINT) AS sum_w,
        |  CAST(SUM(height) AS BIGINT) AS sum_h,
        |  CAST(SUM(n_frames) AS BIGINT) AS sum_frames,
        |  CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes
        |FROM (
        |  SELECT (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |    CAST(n_chars % 640 + 1 AS INT) AS width,
        |    CAST(n_chars % 480 + 1 AS INT) AS height,
        |    CAST(n_chars % 30 + 1 AS INT) AS n_frames,
        |    STRLEN(text) AS n_bytes
        |  FROM documents)
        |GROUP BY kind""".stripMargin,
      Seq("kind", "n", "sum_w", "sum_h", "sum_frames", "sum_bytes"))) { (s, d) =>
    import graft.operators.Multimodal
    val media = Multimodal.syntheticMedia(Tables.documents(s, d))
    Canon(media.groupBy(col("kind")).agg(
      count(lit(1)).as("n"),
      sum(col("meta.width")).cast("long").as("sum_w"),
      sum(col("meta.height")).cast("long").as("sum_h"),
      sum(col("meta.nFrames")).cast("long").as("sum_frames"),
      sum(length(col("content"))).cast("long").as("sum_bytes")))
  }

  /** Multimodal plumbing on the driver surface: synthetic binary media from
    * `documents` → batched (stub-)decode → fixed-dim features (rows-only;
    * kernel semantics are property-tested in MultimodalSpec).
    */
  val x51_multimodal_features: QueryDef =
    QueryDef.rowsOnly("x51_multimodal_features") { (s, d) =>
      import graft.operators.Multimodal
      val feats = Multimodal.extractFeatures(
        Multimodal.syntheticMedia(Tables.documents(s, d)))
      Canon(feats.select(col("media_id"), col("kind"),
        round(sqrt(norm2(col("feature"))), 4).as("feature_norm")))
    }

  /** x51's oracle seat — the x45/x104 replay device: per-kind aggregates
    * of the feature relation, with the DuckDB side replaying the SAME
    * aggregates over the x51 output the SAME Verify run persisted. The
    * decode kernel stays outside the oracle (property-tested), but the
    * Spark-side plumbing x51 exists to prove — one feature row per media
    * row, ids distinct, norms finite and reproducible — is now
    * hash-checked instead of rows-only: any drift between two evaluations
    * of the extraction pipeline (or a norm that went NaN) breaks the
    * match. Sum of the 4dp-rounded norms is integer-scaled (exact, order
    * independent) on both sides.
    */
  val x51b_feature_stats: QueryDef = QueryDef(
    "x51b_feature_stats",
    Sql.canon(
      s"""SELECT kind, COUNT(*) AS n,
         |  COUNT(DISTINCT media_id) AS n_media,
         |  ${Sql.scaledSum("feature_norm", 10000L)} AS sum_norm,
         |  MIN(feature_norm) AS min_norm,
         |  MAX(feature_norm) AS max_norm
         |FROM read_parquet('__VERIFY_OUT__/x51_multimodal_features/*.parquet')
         |GROUP BY kind""".stripMargin,
      Seq("kind", "n", "n_media", "sum_norm", "min_norm", "max_norm"))) { (s, d) =>
    import graft.operators.Multimodal
    val feats = Multimodal.extractFeatures(
      Multimodal.syntheticMedia(Tables.documents(s, d)))
      .select(col("media_id"), col("kind"),
        round(sqrt(norm2(col("feature"))), 4).as("feature_norm"))
    Canon(feats.groupBy(col("kind")).agg(
      count(lit(1)).as("n"),
      countDistinct(col("media_id")).as("n_media"),
      Canon.scaledSum(col("feature_norm"), 10000L).as("sum_norm"),
      min(col("feature_norm")).as("min_norm"),
      max(col("feature_norm")).as("max_norm")))
  }

  /** Image resize plumbing (x121) — the remaining multimodal verb from
    * the brief (decode x51 / features x51b / frame-sample x107 / THIS):
    * every image row resized to a fixed (w, h) through the batched
    * typed-Dataset kernel ([[graft.operators.Multimodal.resizeImages]] —
    * map-only, binary never shuffled), other kinds pass through
    * untouched. The stub kernel truncates/zero-pads the payload to w·h
    * bytes and rewrites the typed metadata, so the ENTIRE observable
    * contract — per-row metadata rewrite, payload length, pass-through —
    * is replayed by DuckDB directly from `documents` (the x79 device);
    * the byte-level copy semantics are MultimodalSpec territory.
    */
  val x121_resize_images: QueryDef = QueryDef(
    "x121_resize_images",
    Sql.canon(
      """SELECT media_id, kind,
        |  CASE WHEN kind = 'image' THEN 64 ELSE w0 END AS width,
        |  CASE WHEN kind = 'image' THEN 48 ELSE h0 END AS height,
        |  CASE WHEN kind = 'image' THEN CAST(64 * 48 AS BIGINT)
        |       ELSE n_bytes0 END AS n_bytes
        |FROM (
        |  SELECT doc_id AS media_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |    CAST(n_chars % 640 + 1 AS INT) AS w0,
        |    CAST(n_chars % 480 + 1 AS INT) AS h0,
        |    CAST(STRLEN(text) AS BIGINT) AS n_bytes0
        |  FROM documents)""".stripMargin,
      Seq("media_id", "kind", "width", "height", "n_bytes"))) { (s, d) =>
    import graft.operators.Multimodal
    Canon(Multimodal.resizeImages(
        Multimodal.syntheticMedia(Tables.documents(s, d)), 64, 48)
      .select(col("media_id"), col("kind"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        length(col("content")).cast("long").as("n_bytes")))
  }

  // ------------------------------------------------------------- x103/x104
  /** Payload perceptual fingerprints (dHash over the binary column) —
    * rows-only: the kernel has no DuckDB twin (its grid/gradient values are
    * property-tested in MultimodalSpec); persisted so x104's oracle replays
    * the banding over the exact fingerprints this run produced.
    */
  val x103_payload_phash: QueryDef =
    QueryDef.rowsOnly("x103_payload_phash") { (s, d) =>
      import graft.operators.Multimodal
      Canon(Multimodal.payloadFingerprints(x109Media(s, d)))
    }

  /** Payload-level near-dup pairs at Hamming <= 3 over the dHash
    * fingerprints — the multimodal dedup axis (the rest of the parity
    * matrix fingerprints text or embeddings, never the payload bytes).
    *
    * Oracle: same `__VERIFY_OUT__` replay device as x45 — the kernel stays
    * outside the oracle, but the part with plan risk (16-bit-chunk
    * pigeonhole banding, per-bucket pair generation, the Hamming cut) is
    * plain SQL over the fingerprints the SAME Verify run persisted as
    * x103's output. Runs UNCAPPED like x45 (the oracle knows nothing of
    * the hot-bucket cap); the capped production default is spec territory.
    */
  val x104_payload_neardup: QueryDef = QueryDef(
    "x104_payload_neardup",
    Sql.canon(
      """WITH fp AS (SELECT media_id, phash
        |            FROM read_parquet('__VERIFY_OUT__/x103_payload_phash/*.parquet')),
        |p AS (
        |  SELECT a.media_id AS media_a, b.media_id AS media_b,
        |    bit_count(xor(a.phash, b.phash)) AS h
        |  FROM fp a JOIN fp b ON a.media_id < b.media_id
        |  WHERE ((a.phash >> 0) & 65535) = ((b.phash >> 0) & 65535)
        |     OR ((a.phash >> 16) & 65535) = ((b.phash >> 16) & 65535)
        |     OR ((a.phash >> 32) & 65535) = ((b.phash >> 32) & 65535)
        |     OR ((a.phash >> 48) & 65535) = ((b.phash >> 48) & 65535))
        |SELECT media_a, media_b, CAST(h AS INT) AS hamming FROM p WHERE h <= 3""".stripMargin,
      Seq("media_a", "media_b", "hamming"))) { (s, d) =>
    import graft.operators.{Multimodal, PairStore}
    // consumes the PERSISTED x103 fingerprints when their producer step
    // ran (round 18 — fingerprint once, resolve many): the banded search
    // reads 8-byte hashes from parquet instead of re-synthesizing media
    // and re-running the dHash kernel; standalone use still derives them
    // lazily, and the oracle replays the same persisted rows.
    Canon(Multimodal.payloadNearDupsFromFps(
      PairStore.scanOrCompute(s, "x103_payload_phash", d)(
        Multimodal.payloadFingerprints(x109Media(s, d))),
      maxPerBucket = 0))
  }

  /** Component-form payload dup EDGES (x104's linear-scale sibling): star
    * edges to the min-id representative inside each identical-fingerprint
    * group + banded Hamming pairs among the distinct fingerprint VALUES.
    * Connected components over this relation equal components over x104's
    * full pair relation (DedupSpec/MultimodalSpec gate it); the edge count
    * is linear in the dup count where x104's is quadratic in clique size
    * (measured: 26M pairs vs ~550k edges at 100× — BASELINE round-12).
    *
    * Oracle: the same `__VERIFY_OUT__` replay device as x104 — rep
    * election, star edges, the value-level banding and the Hamming cut are
    * plain SQL over x103's persisted fingerprints.
    */
  val x104b_payload_dupedges: QueryDef = QueryDef(
    "x104b_payload_dupedges",
    Sql.canon(
      """WITH fp AS (SELECT media_id, phash
        |            FROM read_parquet('__VERIFY_OUT__/x103_payload_phash/*.parquet')),
        |reps AS (SELECT phash, MIN(media_id) AS rep FROM fp GROUP BY phash),
        |star AS (
        |  SELECT r.rep AS media_a, f.media_id AS media_b, 0 AS hamming
        |  FROM fp f JOIN reps r ON f.phash = r.phash
        |  WHERE f.media_id <> r.rep),
        |rp AS (
        |  SELECT LEAST(a.rep, b.rep) AS media_a,
        |         GREATEST(a.rep, b.rep) AS media_b,
        |         bit_count(xor(a.phash, b.phash)) AS h
        |  FROM reps a JOIN reps b ON a.phash < b.phash
        |  WHERE ((a.phash >> 0) & 65535) = ((b.phash >> 0) & 65535)
        |     OR ((a.phash >> 16) & 65535) = ((b.phash >> 16) & 65535)
        |     OR ((a.phash >> 32) & 65535) = ((b.phash >> 32) & 65535)
        |     OR ((a.phash >> 48) & 65535) = ((b.phash >> 48) & 65535))
        |SELECT media_a, media_b, CAST(hamming AS INT) AS hamming FROM star
        |UNION ALL
        |SELECT media_a, media_b, CAST(h AS INT) AS hamming FROM rp
        |WHERE h <= 3""".stripMargin,
      Seq("media_a", "media_b", "hamming"))) { (s, d) =>
    import graft.operators.{Multimodal, PairStore}
    // x104's composition (see there): the edge form reads the persisted
    // x103 fingerprints; this entry is itself the producer x110 resolves
    // over, so the chain is kernel → fingerprints → edges → components
    // with each stage materialized exactly once per corpus.
    Canon(Multimodal.payloadDupEdgesFromFps(
      PairStore.scanOrCompute(s, "x103_payload_phash", d)(
        Multimodal.payloadFingerprints(x109Media(s, d))),
      maxPerBucket = 0))
  }

  // ------------------------------------------------------------- x107/x108
  /** Per-frame perceptual fingerprints of the video payloads — rows-only
    * (the dHash kernel has no DuckDB twin); persisted so x108's oracle
    * replays the overlap join over the exact frame hashes this run
    * produced (the x103→x104 device, one level deeper into the payload).
    */
  val x107_frame_phash: QueryDef =
    QueryDef.rowsOnly("x107_frame_phash") { (s, d) =>
      import graft.operators.Multimodal
      Canon(Multimodal.frameFingerprints(x109Media(s, d)))
    }

  /** Video-level near-dup pairs by sampled-frame fingerprint overlap
    * (Jaccard >= 0.5 over the distinct frame-hash sets) — the published
    * video-dedup recipe, and the VIDEO member of the payload dedup axis:
    * x104 fingerprints whole payloads, this matches videos whose FRAME
    * sets overlap even where whole-payload hashes differ.
    *
    * Oracle: the kernel stays outside (x107 is rows-only); everything with
    * plan risk — the hash-equality match join, the per-pair match count,
    * the set-size joins, the Jaccard cut — is plain SQL over the frame
    * hashes the SAME Verify run persisted as x107's output. Runs UNCAPPED
    * like x104 (the capped production default is spec territory).
    */
  val x108_video_neardup: QueryDef = QueryDef(
    "x108_video_neardup",
    Sql.canon(
      """WITH fp AS (SELECT media_id, phash
        |            FROM read_parquet('__VERIFY_OUT__/x107_frame_phash/*.parquet')),
        |sz AS (SELECT media_id, COUNT(*) AS n FROM fp GROUP BY media_id),
        |m AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
        |        COUNT(*) AS n_match
        |      FROM fp a JOIN fp b
        |        ON a.phash = b.phash AND a.media_id < b.media_id
        |      GROUP BY 1, 2)
        |SELECT media_a, media_b, CAST(n_match AS INT) AS n_match,
        |  ROUND(CAST(n_match AS DOUBLE) / (sa.n + sb.n - n_match), 4)
        |    AS jaccard
        |FROM m
        |JOIN sz sa ON sa.media_id = m.media_a
        |JOIN sz sb ON sb.media_id = m.media_b
        |WHERE CAST(n_match AS DOUBLE) / (sa.n + sb.n - n_match) >= 0.5""".stripMargin,
      Seq("media_a", "media_b", "n_match", "jaccard"))) { (s, d) =>
    import graft.operators.{Multimodal, PairStore}
    // consumes the PERSISTED x107 frame fingerprints when their producer
    // step ran (x104's composition rationale): the overlap join reads
    // (media_id, phash) rows from parquet instead of re-running the
    // media-synthesis + per-frame dHash kernel — which the UNCAPPED
    // oracle form would otherwise evaluate twice (members + denominators).
    Canon(Multimodal.videoNearDups(
      PairStore.scanOrCompute(s, "x107_frame_phash", d)(
        Multimodal.frameFingerprints(x109Media(s, d))),
      maxPerHash = 0))
  }

  // ---------------------------------------------------------------- x109
  /** The x109 history/batch split over the x103 media corpus — the media
    * twin of x86's md5-bucket split: history = ORIGINAL media in buckets
    * < 60 (the ingested corpus), batch = the remaining originals plus ALL
    * re-encoded variants (the incoming crawl, which re-delivers re-encoded
    * copies of assets the corpus already holds). Shared by the registry
    * entry and the Verify/Bench producer step so the persisted store and
    * the standalone fallback hold the same relation.
    */
  private[graft] def x109MediaBucket =
    (conv(substring(md5(col("media_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100).cast("int")

  private[graft] def x109Media(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    // kernel-dominated chain (synthesize payload bytes, then dHash/DFT
    // per row) — fan the unsplittable testdata scan out to the session
    // cores (Tables.fanOutForKernels: adaptive, no-op on split inputs)
    Multimodal.withReencodedVariants(
      Multimodal.syntheticMedia(Tables.fanOutForKernels(
        Tables.documents(s, d))))
  }

  /** ORIGINAL-media predicate that survives ScaleProbe's replica ids
    * (replica r offsets ids by r·10^9, variants by +10^7; at the testdata
    * SFs ids are < 10^7 so the mod is the identity — the oracle uses the
    * same form).
    */
  private[graft] def x109IsOriginal =
    (col("media_id") % 1000000000L) < 10000000L

  private[graft] def x109HistoryFps(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.payloadFingerprints(x109Media(s, d))
      .filter(x109IsOriginal && x109MediaBucket < 60)
  }

  /** Incremental payload near-dup — the payload member of the x86/x102
    * incremental family: a NEW crawl batch (40% of originals + every
    * re-encoded variant) probed against the persisted
    * [[graft.sources.PhashHistory]] chunk-exploded fingerprint store, ONE
    * bucket-riding equi-join, batch-sized cost, history payloads never
    * re-read. Standalone (no producer) falls back to the derived history
    * relation — same answers, lazily computed.
    *
    * Oracle: the history/batch split is the same SQL-expressible
    * md5-bucket device as x86's, and the fingerprints are x103's
    * persisted output — so the banded join + Hamming cut replay exactly
    * in DuckDB; only the dHash kernel stays outside (x103's contract).
    */
  val x109_incremental_payload_neardup: QueryDef = QueryDef(
    "x109_incremental_payload_neardup",
    Sql.canon(
      """WITH fp AS (SELECT media_id, phash
        |            FROM read_parquet('__VERIFY_OUT__/x103_payload_phash/*.parquet')),
        |b AS (SELECT media_id, phash,
        |  CAST(CAST('0x' || SUBSTRING(MD5(CAST(media_id AS VARCHAR)), 1, 8)
        |       AS BIGINT) % 100 AS INT) AS bucket
        |  FROM fp),
        |h AS (SELECT media_id, phash FROM b
        |      WHERE media_id % 1000000000 < 10000000 AND bucket < 60),
        |n AS (SELECT media_id, phash FROM b
        |      WHERE media_id % 1000000000 >= 10000000 OR bucket >= 60)
        |SELECT h.media_id AS hist_id, n.media_id AS batch_id,
        |  CAST(bit_count(xor(h.phash, n.phash)) AS INT) AS hamming
        |FROM h JOIN n
        |  ON (((h.phash >> 0) & 65535) = ((n.phash >> 0) & 65535)
        |   OR ((h.phash >> 16) & 65535) = ((n.phash >> 16) & 65535)
        |   OR ((h.phash >> 32) & 65535) = ((n.phash >> 32) & 65535)
        |   OR ((h.phash >> 48) & 65535) = ((n.phash >> 48) & 65535))
        |WHERE bit_count(xor(h.phash, n.phash)) <= 3""".stripMargin,
      Seq("hist_id", "batch_id", "hamming"))) { (s, d) =>
    import graft.operators.Multimodal
    val media = x109Media(s, d)
    val batch = media.filter(!x109IsOriginal || x109MediaBucket >= 60)
    val store = graft.sources.PhashHistory.scanOrCompute(s, d)(
      graft.sources.PhashHistory.chunkKeys(x109HistoryFps(s, d)))
    Canon(Multimodal.incrementalPayloadNearDups(batch, store))
  }

  // ---------------------------------------------------------------- x110
  /** Payload dup-cluster resolution: connected components over x104b's
    * component-form edge relation — the multimodal twin of x84, promoting
    * the spec-level "payload pairs feed the Components chain" claim to an
    * oracle seat. The edge relation is the LINEAR one (star + value
    * banding), so at 100 TB the resolution input is dup-count-sized, never
    * clique-quadratic.
    *
    * Oracle: the same `WITH RECURSIVE` closure device as x84, over the
    * x104b relation this Verify run persisted.
    */
  val x110_payload_resolve: QueryDef = QueryDef(
    "x110_payload_resolve",
    Sql.canon(
      """WITH RECURSIVE
        |pairs AS (
        |  SELECT media_a, media_b
        |  FROM read_parquet('__VERIFY_OUT__/x104b_payload_dupedges/*.parquet')),
        |edges AS (
        |  SELECT media_a AS src, media_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT media_b AS src, media_a AS dst FROM pairs),
        |reach AS (
        |  SELECT src AS node, src AS lab FROM edges
        |  UNION
        |  SELECT e.dst AS node, r.lab FROM reach r JOIN edges e ON e.src = r.node),
        |comp AS (SELECT node AS media_id, MIN(lab) AS component
        |         FROM reach GROUP BY node)
        |SELECT media_id, component FROM comp""".stripMargin,
      Seq("media_id", "component"))) { (s, d) =>
    import graft.operators.{Components, Multimodal, PairStore}
    // resolution consumes the PERSISTED x104b edge relation when its
    // producer step ran (round 18 — the x40→x84/x85 composition device,
    // guide §2.4 "don't recompute"): x104b derives the identical edge set
    // from the same media corpus, so standalone use still pays the
    // pipeline lazily, while a Verify/Bench/production run resolves over
    // one candidates-sized parquet scan instead of re-running the
    // fingerprint kernel + banding per resolution — which is also the
    // relation x110's oracle replays (__VERIFY_OUT__/x104b).
    val edges = PairStore.scanOrCompute(s, "x104b_payload_dupedges", d)(
        Multimodal.payloadDupEdges(x109Media(s, d), maxPerBucket = 0))
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    Canon(Components.connectedComponents(edges)
      .select(col("node").as("media_id"), col("component")))
  }

  // ----------------------------------------------------------- x111/x112
  /** Constellation landmarks of the audio payloads — rows-only (the
    * landmark kernel — windowed DFT band energies, peak picking — has no
    * DuckDB twin); persisted so x112's oracle replays the offset-coherent
    * vote join over the exact landmarks this run produced (the x103→x104 /
    * x107→x108 device for the AUDIO member of the payload dedup axis).
    */
  val x111_audio_landmarks: QueryDef =
    QueryDef.rowsOnly("x111_audio_landmarks") { (s, d) =>
      import graft.operators.Multimodal
      // the TRIPLET form (audioLandmarks3) is the registry default: its
      // ~2^20 hash space keeps bucket occupancy flat (sf0.1 max bucket
      // 134 vs the pair form's 1,046), which is what makes x112's
      // UNCAPPED oracle-form pair generation cheap (13.3 s -> ~2 s at
      // sf0.1); the pair form stays available + spec/probe-gated
      Canon(Multimodal.audioFingerprints(x109Media(s, d), triples = true))
    }

  /** Audio near-dup pairs by offset-coherent landmark voting (the published
    * constellation matcher: two tracks match when many landmark hashes
    * agree at ONE consistent time offset) — the AUDIO member of the
    * payload dedup axis: x104 matches whole payloads, x108 video frame
    * sets; this matches tracks temporally, so a bag-of-hashes coincidence
    * without a consistent alignment does not pair.
    *
    * Oracle: the kernel stays outside (x111 is rows-only); everything with
    * plan risk — the hash-equality match join, the per-offset vote count,
    * the max-votes/min-offset election, the vote cut — is plain SQL over
    * the landmarks the SAME Verify run persisted as x111's output. Runs
    * UNCAPPED (the hot-hash cap is spec territory, like x104/x108).
    */
  val x112_audio_neardup: QueryDef = QueryDef(
    "x112_audio_neardup",
    Sql.canon(
      """WITH lm AS (SELECT media_id, lhash, t
        |            FROM read_parquet('__VERIFY_OUT__/x111_audio_landmarks/*.parquet')),
        |cnt AS (SELECT media_id, COUNT(*) AS n FROM lm GROUP BY 1),
        |v AS (
        |  SELECT a.media_id AS media_a, b.media_id AS media_b,
        |    a.t - b.t AS off, COUNT(*) AS votes
        |  FROM lm a JOIN lm b
        |    ON a.lhash = b.lhash AND a.media_id < b.media_id
        |  GROUP BY 1, 2, 3),
        |best AS (
        |  SELECT media_a, media_b, MAX(votes) AS nv FROM v GROUP BY 1, 2),
        |e AS (
        |  SELECT b.media_a, b.media_b, CAST(b.nv AS INT) AS n_votes,
        |    CAST(MIN(v.off) AS INT) AS best_off
        |  FROM best b JOIN v
        |    ON v.media_a = b.media_a AND v.media_b = b.media_b
        |   AND v.votes = b.nv
        |  WHERE b.nv >= 5
        |  GROUP BY 1, 2, 3)
        |SELECT e.media_a, e.media_b, e.n_votes, e.best_off,
        |  ROUND(CAST(e.n_votes AS DOUBLE) / LEAST(ca.n, cb.n), 4) AS coverage
        |FROM e JOIN cnt ca ON ca.media_id = e.media_a
        |       JOIN cnt cb ON cb.media_id = e.media_b
        |WHERE CAST(e.n_votes AS DOUBLE) / LEAST(ca.n, cb.n) >= 0.25""".stripMargin,
      Seq("media_a", "media_b", "n_votes", "best_off", "coverage"))) { (s, d) =>
    import graft.operators.{Multimodal, PairStore}
    // consumes the PERSISTED x111 landmarks when their producer step ran
    // (x104's composition rationale): the vote join reads (media_id,
    // lhash, t) rows from parquet instead of re-running the windowed-DFT
    // landmark kernel — which the UNCAPPED oracle form would otherwise
    // evaluate twice (vote members + coverage denominators).
    Canon(Multimodal.audioNearDups(
      PairStore.scanOrCompute(s, "x111_audio_landmarks", d)(
        Multimodal.audioFingerprints(x109Media(s, d), triples = true)),
      maxPerHash = 0))
  }

  // ---------------------------------------------------------------- x113
  private[graft] def x113HistoryLms(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.audioFingerprints(
      x109Media(s, d).filter(x109IsOriginal && x109MediaBucket < 60),
      triples = true)
  }

  /** x116's history frame relation — x113's split applied to the VIDEO
    * frame fingerprints (the predicates only touch media_id, so filtering
    * the fingerprint relation equals filtering the media first).
    */
  private[graft] def x116HistoryFrames(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.frameFingerprints(x109Media(s, d))
      .filter(x109IsOriginal && x109MediaBucket < 60)
  }

  /** Incremental video probe — completes the incremental store family
    * across every payload granularity (x86 doc / x102 substring / x109
    * payload / x113 audio / THIS = video frames): a NEW crawl batch's
    * sampled-frame dHash sets probed against the persisted
    * [[graft.sources.FrameHistory]] store with x108's Jaccard cut, both
    * set sizes exact (history denominators from the store's bucketed
    * sizes relation — never a corpus rescan). Standalone (no producer)
    * falls back to the derived history relations — same answers.
    *
    * Oracle: the same `__VERIFY_OUT__` device as x109/x113 — the
    * md5-bucket split, the frame-hash match join, both size aggregations
    * and the Jaccard cut replay in DuckDB over the frame hashes this
    * Verify run persisted as x107's output; only the dHash kernel stays
    * outside (x107's contract).
    */
  val x116_incremental_video_probe: QueryDef = QueryDef(
    "x116_incremental_video_probe",
    Sql.canon(
      """WITH fp AS (SELECT media_id, phash
        |            FROM read_parquet('__VERIFY_OUT__/x107_frame_phash/*.parquet')),
        |b AS (SELECT media_id, phash,
        |  CAST(CAST('0x' || SUBSTRING(MD5(CAST(media_id AS VARCHAR)), 1, 8)
        |       AS BIGINT) % 100 AS INT) AS bucket
        |  FROM fp),
        |h AS (SELECT media_id, phash FROM b
        |      WHERE media_id % 1000000000 < 10000000 AND bucket < 60),
        |n AS (SELECT media_id, phash FROM b
        |      WHERE media_id % 1000000000 >= 10000000 OR bucket >= 60),
        |sh AS (SELECT media_id, COUNT(*) AS n FROM h GROUP BY 1),
        |sn AS (SELECT media_id, COUNT(*) AS n FROM n GROUP BY 1),
        |m AS (SELECT h.media_id AS hist_id, n.media_id AS batch_id,
        |        COUNT(*) AS n_match
        |      FROM h JOIN n ON h.phash = n.phash GROUP BY 1, 2)
        |SELECT hist_id, batch_id, CAST(n_match AS INT) AS n_match,
        |  ROUND(CAST(n_match AS DOUBLE) / (sa.n + sb.n - n_match), 4)
        |    AS jaccard
        |FROM m
        |JOIN sh sa ON sa.media_id = m.hist_id
        |JOIN sn sb ON sb.media_id = m.batch_id
        |WHERE CAST(n_match AS DOUBLE) / (sa.n + sb.n - n_match) >= 0.5""".stripMargin,
      Seq("hist_id", "batch_id", "n_match", "jaccard"))) { (s, d) =>
    import graft.operators.Multimodal
    // DELIBERATELY LAZY (round 19, measured — the x113 rationale): the
    // probe consumes the batch frame hashes twice, but the fanned-out
    // synthetic kernel re-run beats a checkpoint pin at this scale;
    // real-payload callers pin first (the streaming twin does).
    val batchFrames = Multimodal.frameFingerprints(
      x109Media(s, d).filter(!x109IsOriginal || x109MediaBucket >= 60))
    val (hf, hs) = graft.sources.FrameHistory.scanOrCompute(s, d)({
      val hist = x116HistoryFrames(s, d)
      (graft.sources.FrameHistory.storeRows(hist),
        graft.sources.FrameHistory.sizeRows(hist))
    })
    Canon(Multimodal.incrementalVideoNearDups(batchFrames, hf, hs))
  }

  /** Incremental audio probe — the audio member of the x86/x102/x109
    * incremental family, and the published constellation system's OWN
    * deployment model: a NEW batch of tracks (x109's replica-aware split —
    * 40% of originals + every re-encoded variant) probed against the
    * persisted [[graft.sources.LandmarkHistory]] landmark index. ONE
    * equi-join riding the store's bucket layout (no history-side exchange,
    * LandmarkHistorySpec), offset-coherent vote election, QUERY-side
    * coverage cut (the published normalization — and the one that keeps
    * probe cost batch-sized; a history-side denominator would need a
    * corpus-scale count per probe).
    *
    * Oracle: the history/batch split is x109's SQL-expressible md5-bucket
    * device, the landmarks are x111's persisted output, so the join, the
    * per-offset votes, the election and both cuts replay exactly in
    * DuckDB; only the landmark kernel stays outside (x111's contract).
    */
  val x113_incremental_audio_probe: QueryDef = QueryDef(
    "x113_incremental_audio_probe",
    Sql.canon(
      """WITH lm AS (SELECT media_id, lhash, t
        |            FROM read_parquet('__VERIFY_OUT__/x111_audio_landmarks/*.parquet')),
        |b AS (SELECT media_id, lhash, t,
        |  CAST(CAST('0x' || SUBSTRING(MD5(CAST(media_id AS VARCHAR)), 1, 8)
        |       AS BIGINT) % 100 AS INT) AS bucket
        |  FROM lm),
        |h AS (SELECT media_id, lhash, t FROM b
        |      WHERE media_id % 1000000000 < 10000000 AND bucket < 60),
        |n AS (SELECT media_id, lhash, t FROM b
        |      WHERE media_id % 1000000000 >= 10000000 OR bucket >= 60),
        |cnt AS (SELECT media_id, COUNT(*) AS n FROM n GROUP BY 1),
        |v AS (
        |  SELECT h.media_id AS hist_id, n.media_id AS batch_id,
        |    n.t - h.t AS off, COUNT(*) AS votes
        |  FROM h JOIN n ON h.lhash = n.lhash
        |  GROUP BY 1, 2, 3),
        |best AS (
        |  SELECT hist_id, batch_id, MAX(votes) AS nv FROM v GROUP BY 1, 2),
        |e AS (
        |  SELECT b2.hist_id, b2.batch_id, CAST(b2.nv AS INT) AS n_votes,
        |    CAST(MIN(v.off) AS INT) AS best_off
        |  FROM best b2 JOIN v
        |    ON v.hist_id = b2.hist_id AND v.batch_id = b2.batch_id
        |   AND v.votes = b2.nv
        |  WHERE b2.nv >= 5
        |  GROUP BY 1, 2, 3)
        |SELECT e.hist_id, e.batch_id, e.n_votes, e.best_off,
        |  ROUND(CAST(e.n_votes AS DOUBLE) / c.n, 4) AS q_coverage
        |FROM e JOIN cnt c ON c.media_id = e.batch_id
        |WHERE CAST(e.n_votes AS DOUBLE) / c.n >= 0.25""".stripMargin,
      Seq("hist_id", "batch_id", "n_votes", "best_off", "q_coverage"))) { (s, d) =>
    import graft.operators.Multimodal
    // DELIBERATELY LAZY (round 19, measured): the probe consumes the
    // batch landmarks twice (vote join + coverage denominators), but the
    // fanned-out synthetic kernel re-run is CHEAPER here than a
    // Materialize.eager pin (profiled at sf0.1: pinned 2.28 s vs lazy
    // 1.65 s — the checkpoint write+read and lost pipelining exceed the
    // second kernel pass). Callers whose media lineage reads REAL
    // payload bytes must pin first (the operator scaladoc's contract;
    // the streaming twin does).
    val batchLms = Multimodal.audioFingerprints(
      x109Media(s, d).filter(!x109IsOriginal || x109MediaBucket >= 60),
      triples = true)
    val store = graft.sources.LandmarkHistory.scanOrCompute(s, d)(
      graft.sources.LandmarkHistory.storeShape(x113HistoryLms(s, d)))
    Canon(Multimodal.incrementalAudioNearDups(batchLms, store))
  }

  // ---------------------------------------------------------------- x120
  /** Payload decontamination
    * ([[graft.operators.Multimodal.payloadDecontaminate]]) — the
    * multimodal twin of x70: corpus media flagged when their dHash sits
    * within Hamming 3 of any BENCHMARK-suite fingerprint (re-encoded
    * eval leaks included). The benchmark suite is the md5-bucket device:
    * originals in buckets < 10 (a deterministic ~10% holdout); the
    * corpus is everything else INCLUDING every re-encoded variant — so a
    * variant of a benchmark item is exactly the leak the operator must
    * catch. Oracle: the same `__VERIFY_OUT__` replay as x109 — split,
    * banded join, Hamming cut, per-media distinct-match count in plain
    * SQL over x103's persisted fingerprints.
    */
  val x120_payload_decontaminate: QueryDef = QueryDef(
    "x120_payload_decontaminate",
    Sql.canon(
      """WITH fp AS (SELECT media_id, phash
        |            FROM read_parquet('__VERIFY_OUT__/x103_payload_phash/*.parquet')),
        |b AS (SELECT media_id, phash,
        |  CAST(CAST('0x' || SUBSTRING(MD5(CAST(media_id AS VARCHAR)), 1, 8)
        |       AS BIGINT) % 100 AS INT) AS bucket
        |  FROM fp),
        |bench AS (SELECT media_id, phash FROM b
        |          WHERE media_id % 1000000000 < 10000000 AND bucket < 10),
        |corp AS (SELECT media_id, phash FROM b
        |         WHERE media_id % 1000000000 >= 10000000 OR bucket >= 10),
        |m AS (
        |  SELECT DISTINCT c.media_id, bn.media_id AS bench_id
        |  FROM corp c JOIN bench bn
        |    ON (((c.phash >> 0) & 65535) = ((bn.phash >> 0) & 65535)
        |     OR ((c.phash >> 16) & 65535) = ((bn.phash >> 16) & 65535)
        |     OR ((c.phash >> 32) & 65535) = ((bn.phash >> 32) & 65535)
        |     OR ((c.phash >> 48) & 65535) = ((bn.phash >> 48) & 65535))
        |  WHERE bit_count(xor(c.phash, bn.phash)) <= 3),
        |cnt AS (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM m GROUP BY media_id)
        |SELECT c.media_id, COALESCE(cnt.n, 0) AS n_bench_matches,
        |  CAST(CASE WHEN COALESCE(cnt.n, 0) > 0 THEN 1 ELSE 0 END AS INT)
        |    AS contaminated
        |FROM corp c LEFT JOIN cnt ON c.media_id = cnt.media_id""".stripMargin,
      Seq("media_id", "n_bench_matches", "contaminated"))) { (s, d) =>
    import graft.operators.{Multimodal, PairStore}
    // persisted x103 fingerprints (x104's composition rationale): both
    // decontamination sides slice ONE fingerprint relation, so deriving
    // it lazily re-ran the media kernel twice — the store makes each
    // side a pruned parquet scan.
    val fps = PairStore.scanOrCompute(s, "x103_payload_phash", d)(
      Multimodal.payloadFingerprints(x109Media(s, d)))
    val isBench = x109IsOriginal && x109MediaBucket < 10
    Canon(Multimodal.payloadDecontaminate(
      fps.filter(!isBench), fps.filter(isBench)))
  }

  // ---------------------------------------------------------------- x43
  /** ANN top-10 neighbors of vec_id 1 via random-hyperplane LSH buckets with
    * exact rerank (rows-only: the candidate set is approximate; recall vs the
    * exact q33 answer is asserted in SimilaritySpec).
    */
  val x43_ann_lsh: QueryDef = QueryDef.rowsOnly("x43_ann_lsh") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 1)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    Canon(graft.operators.Similarity.annTopK(emb, q, k = 10))
  }

  /** ANN top-10 via IVF coarse quantization (rows-only, same spec gate).
    *
    * Config is the measured sweet spot (retired IvfTune at `7779ac1`,
    * gated in SimilaritySpec at >= 0.78) on the near-isotropic
    * synthetic embeddings (mean recall@10 0.80 over the 8 tune queries,
    * vs 0.46 at the raw defaults): 3 Lloyd passes over a 512-vector
    * hash-ordered sample, 8 of 16 cells probed. Synthetic isotropy is the
    * worst case for coarse quantization — real embedding corpora cluster,
    * and nprobe/nlist scale with corpus size; the registry entry records
    * the tuned demo config, not universal defaults.
    */
  val x43b_ann_ivf: QueryDef = QueryDef.rowsOnly("x43b_ann_ivf") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 1)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val cents = graft.operators.Similarity.kmeansCentroids(
      emb, nlist = 16, iters = 3, sampleSize = 512)
    Canon(graft.operators.Similarity.ivfTopKWithCentroids(
      emb, q, k = 10, cents, nprobe = 8))
  }

  /** ANN top-10 via product quantization ([[graft.operators.Pq]]) — the
    * MEMORY-bound path: 16 one-byte codes + a stored norm per vector
    * (~11× smaller than the raw floats), asymmetric-distance scoring with
    * m table lookups per row, then exact cosine re-rank of the per-query
    * ADC shortlist (raw vectors touched only for the broadcast candidate
    * set). Rows-only like x43/x43b; recall gates live in SimilaritySpec
    * (refined 0.95+ where raw ADC@10 measures 0.55 on this worst-case
    * isotropic corpus).
    */
  val x93_ann_pq: QueryDef = QueryDef.rowsOnly("x93_ann_pq") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 1)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    Canon(graft.operators.Pq.pqTopKRefined(emb, q, k = 10))
  }

  // ------------------------------------------- x43c/x43d/x93b (ANN seats)
  /** Planted corpus + query for the ANN oracle seats — the x42c device
    * applied to top-k search: TEN verbatim copies of query vector 1 at
    * vec_id [[AnnPlantBase]]+0..9 over the near-isotropic background
    * (max background cosine ≤ 0.60, measured per SF — x42c scaladoc), so
    * the exact top-10 is the planted set at cos exactly 1.0, ranked
    * 1..10 by vec_id among the ties ([[graft.operators.Similarity.rank]]
    * orders (cos DESC, vec_id ASC) and excludes self). DuckDB
    * reconstructs that answer arithmetically, so the hash compare IS a
    * recall-1.0 gate THROUGH each approximate path:
    *
    *  - LSH (x43c): identical vectors share every band bucket with the
    *    query, so all ten are always candidates.
    *  - IVF (x43d): identical vectors take the query's own cell — the
    *    query's nearest centroid — which probeCells always probes first.
    *  - PQ (x93b): identical vectors take the query's codes, whose ADC
    *    distance is the global minimum (per-subspace argmin), so the
    *    ≥100-candidate shortlist always holds them; the exact re-rank
    *    then puts them above any code-tied background row.
    *
    * One planted miss (or any false entrant) fails the row. Measured-
    * threshold recall on NON-planted neighbors stays in SimilaritySpec /
    * ScaleProbe — x43/x43b/x93 are unchanged (the round-14 verdict's
    * directive #3).
    */
  private[graft] val AnnPlantBase = 9000000L

  private def annPlantedCorpus(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").cast(LongType), col("embedding"))
    val q = emb.filter(col("vec_id") === 1)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val plants = q.crossJoin(s.range(10).toDF("i"))
      .select((lit(AnnPlantBase) + col("i")).as("vec_id"),
        col("qe").as("embedding"))
    (emb.unionByName(plants), q)
  }

  private val annPlantedOracle: String = Sql.canon(
    """SELECT CAST(1 AS BIGINT) AS query_id,
      |  CAST(9000000 + i AS BIGINT) AS vec_id,
      |  CAST(1.0 AS DOUBLE) AS cos_sim,
      |  CAST(i + 1 AS INT) AS rnk
      |FROM range(10) t(i)
      |WHERE EXISTS (SELECT 1 FROM embeddings WHERE vec_id = 1)""".stripMargin,
    Seq("query_id", "vec_id", "cos_sim", "rnk"))

  /** LSH ANN over the planted corpus — x43's exact plan, oracle-seated. */
  val x43c_ann_lsh_planted: QueryDef = QueryDef(
    "x43c_ann_lsh_planted", annPlantedOracle) { (s, d) =>
    val (corpus, q) = annPlantedCorpus(s, d)
    Canon(graft.operators.Similarity.annTopK(corpus, q, k = 10))
  }

  /** IVF ANN over the planted corpus — x43b's tuned config, oracle-seated. */
  val x43d_ann_ivf_planted: QueryDef = QueryDef(
    "x43d_ann_ivf_planted", annPlantedOracle) { (s, d) =>
    val (corpus, q) = annPlantedCorpus(s, d)
    val cents = graft.operators.Similarity.kmeansCentroids(
      corpus, nlist = 16, iters = 3, sampleSize = 512)
    Canon(graft.operators.Similarity.ivfTopKWithCentroids(
      corpus, q, k = 10, cents, nprobe = 8))
  }

  /** PQ ANN over the planted corpus — x93's refined path, oracle-seated. */
  val x93b_ann_pq_planted: QueryDef = QueryDef(
    "x93b_ann_pq_planted", annPlantedOracle) { (s, d) =>
    val (corpus, q) = annPlantedCorpus(s, d)
    Canon(graft.operators.Pq.pqTopKRefined(corpus, q, k = 10))
  }

  /** Sum of elementwise products, left-to-right over doubles — the native
    * codegen'd [[graft.functions.DotProductExpr]]: reads ArrayData in place
    * (no Seq[Float] boxing like the UDF it replaces; no per-element
    * expression tree like the `zip_with`+`aggregate` form before that) and
    * keeps the identical summation order, so results stay bit-equal to the
    * DuckDB oracle's index-ordered SUM.
    */
  def dot(a: Column, b: Column): Column = graft.operators.Similarity.dot(a, b)

  def norm2(a: Column): Column = dot(a, a)

  // ---------------------------------------------------------------- Q33
  /** Brute-force cosine top-10 to vector id 1 — the exact baseline; at scale
    * this is one scan + TakeOrdered (per-partition top-k, no global sort).
    * The LSH/IVF candidate-pruned variant is [[x43_ann_buckets]]-style and
    * lives in [[graft.operators.Similarity]].
    */
  val q33: QueryDef = QueryDef(
    "q33_knn",
    Sql.canon(
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS x,
        |    UNNEST(generate_series(1, LEN(embedding))) AS i
        |  FROM embeddings),
        |q AS (SELECT i, x AS qx FROM ex WHERE vec_id = 1),
        |pr AS (
        |  SELECT e.vec_id, e.label,
        |    SUM(e.x * q.qx) AS dt, SUM(e.x * e.x) AS na, SUM(q.qx * q.qx) AS nb
        |  FROM ex e JOIN q ON e.i = q.i
        |  WHERE e.vec_id != 1
        |  GROUP BY e.vec_id, e.label)
        |SELECT vec_id, label, ROUND(dt / (SQRT(na) * SQRT(nb)), 4) AS cos_sim
        |FROM pr ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
      Seq("vec_id", "label", "cos_sim"))) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 1).select(col("embedding").as("qe"))
    // null/ragged/empty rows take no seat (the library ingress posture,
    // Similarity.dropInvalidVecs): a row only scores against a query of
    // its OWN length — an unmatched length would divide by zero (empty)
    // or score a silently-wrong prefix cosine (RaggedInputSpec)
    Canon(emb.filter(col("vec_id") =!= 1 && col("embedding").isNotNull)
      .crossJoin(broadcast(q.filter(col("qe").isNotNull)))
      .filter(size(col("embedding")) === size(col("qe")) &&
        size(col("embedding")) > 0)
      .withColumn("cos_sim",
        round(dot(col("embedding"), col("qe")) /
          (sqrt(norm2(col("embedding"))) * sqrt(norm2(col("qe")))), 4))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "label", "cos_sim"))
  }

  // ---------------------------------------------------------------- Q35
  /** Multimodal row: text prefix + vector norm in one result (documents
    * joined to embeddings on the shared id).
    */
  val q35: QueryDef = QueryDef(
    "q35_multimodal",
    Sql.canon(
      """SELECT d.doc_id, d.lang, e.label,
        |  SUBSTRING(d.text, 1, 40) AS prefix,
        |  ROUND(SQRT(sq.na), 4) AS emb_norm
        |FROM documents d
        |JOIN embeddings e ON d.doc_id = e.vec_id
        |JOIN (
        |  SELECT vec_id, SUM(x * x) AS na FROM (
        |    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x FROM embeddings)
        |  GROUP BY vec_id) sq ON sq.vec_id = e.vec_id
        |WHERE e.label < 3""".stripMargin,
      Seq("doc_id", "lang", "label", "prefix", "emb_norm"))) { (s, d) =>
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d).filter(col("label") < 3)
    Canon(docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("lang"), col("label"),
        substring(col("text"), 1, 40).as("prefix"),
        round(sqrt(norm2(col("embedding"))), 4).as("emb_norm")))
  }

  // ---------------------------------------------------------------- x42
  /** Embedding near-duplicate pairs: top-20 most cosine-similar pairs inside
    * label buckets. (The synthetic embeddings are near-random — max pairwise
    * cosine ≈ 0.47 — so a fixed threshold gate would be trivially empty; a
    * top-k cut on the ROUNDED score with id tie-breaks stays non-trivial and
    * deterministic at every SF.)
    *
    * Plan: [[graft.operators.Similarity.topPairsByLabel]] — each label is
    * hash-split into ceil(n / max(256, ceil(√n))) chunks (chunk size scales
    * with label size, keeping shuffle replication ~√n) and every
    * (chunk_i <= chunk_j) pair
    * is its own task running a primitive-array loop holding only a
    * 20-element heap, so a hot label fans out to bounded tasks instead of
    * serializing O(n²) multiply-adds into one straggler (and no pair rows
    * are ever materialized, no broadcast, no per-pair UDF boxing — the
    * round-1 broadcast-join form spent 13.9s mostly in GC). Exact top-k
    * over these near-isotropic embeddings is outside LSH's useful regime
    * (see the kernel's scaladoc); the approximate ANN paths are x43/x43b.
    */
  val x42_embed_neardup: QueryDef = QueryDef(
    "x42_embed_neardup",
    Sql.canon(
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS x,
        |    UNNEST(generate_series(1, LEN(embedding))) AS i
        |  FROM embeddings),
        |nrm AS (SELECT vec_id, SQRT(SUM(x * x)) AS nr FROM ex GROUP BY vec_id),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label, SUM(a.x * b.x) AS dt
        |  FROM ex a JOIN ex b ON a.label = b.label AND a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY a.vec_id, b.vec_id, a.label)
        |SELECT id_a, id_b, label, ROUND(dt / (na.nr * nb.nr), 4) AS cos_sim
        |FROM p JOIN nrm na ON p.id_a = na.vec_id JOIN nrm nb ON p.id_b = nb.vec_id
        |ORDER BY cos_sim DESC, id_a, id_b LIMIT 20""".stripMargin,
      Seq("id_a", "id_b", "label", "cos_sim"))) { (s, d) =>
    // PRODUCER of the embedding pair relation (the vector twin of x40's
    // text-pair store). Build is side-effect-free: scanOrCompute returns
    // the persisted pairs when the explicit producer step
    // (PairStore.refresh, run by Verify/Bench) already materialized them,
    // else the blocked-pair-search plan itself — so x89's resolution (and
    // the Verify output its oracle replays over) consumes one
    // materialization instead of re-running the O(n²)/label search.
    Canon(graft.operators.PairStore.scanOrCompute(s, "x42_embed_neardup", d)(
      embedNearDupPairs(s, d)).select("id_a", "id_b", "label", "cos_sim"))
  }

  // ---------------------------------------------------------------- x42b
  /** The LINEAR-SCALE embedding pair producer — SemDeDup-shaped
    * ([[graft.operators.Similarity.cellBoundedTopPairs]]): vectors are
    * assigned map-only to their `probes` nearest k-means cells (broadcast
    * k×d centroids, same kernel as IVF assignment) and the exact chunked
    * blocked search runs WITHIN each (label, cell) — quadratic work drops
    * to Σ n_(label,cell)², which the auto form
    * ([[graft.operators.Similarity.cellBoundedTopPairsAuto]]) bounds to
    * probes²·targetCellSize dots per vector by growing nlist with the
    * corpus. Rows-only: the candidate set is approximate; recall@20 vs the
    * exact x42 answer is asserted in SimilaritySpec (registry demo config
    * nlist=8/probes=3 measures 1.0 at sf0.001, 0.95 at sf0.1, 1.0 at the
    * 10× probe corpus — DEDUP_TUNING.md §5 table, from the retired
    * CellPairTune at `7779ac1`; the near-isotropic synthetic
    * corpus is LSH/cell quantization's worst case, so these hold with the
    * coarse demo nlist).
    */
  val x42b_embed_neardup_cell: QueryDef =
    QueryDef.rowsOnly("x42b_embed_neardup_cell") { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").cast(LongType), col("label").cast(IntegerType),
          col("embedding"))
        .as[(Long, Int, Array[Float])]
      val cents = graft.operators.Similarity.kmeansCentroids(
        Tables.embeddings(s, d), nlist = 8, iters = 3, sampleSize = 512)
      Canon(graft.operators.Similarity
        .cellBoundedTopPairs(emb, k = 20, cents, probes = 3,
          targetChunk = 256)
        .orderBy(col("cos_sim").desc, col("id_a").asc, col("id_b").asc)
        .limit(20))
    }

  // ---------------------------------------------------------------- x42c
  /** The PRODUCTION-DEFAULT linear-regime pair producer, oracle-checked —
    * [[graft.operators.Similarity.cellBoundedTopPairsAuto]] with nlist
    * DERIVED from the corpus at the DEDUP_TUNING §5 production default
    * `targetCellSize = 128` (floored nlist 8 at the small SFs, 19 at
    * sf0.1; the probe corpora derive 188/563 cells at 10×/30×, crossing
    * the two-level assignment threshold). The regime bounds per-vector
    * work at probes²·targetCellSize dots — linear in n, measured at 30×
    * in the BASELINE.md round-9 linear-regime panel (auto 7.2 s vs exact
    * 19.1 s; retired CellLinearProbe, runnable at `7779ac1`).
    * An earlier draft pinned targetCellSize = 32 to force a large nlist
    * at the tiny registry SFs; at probe scale that drowned the search in
    * per-bucket fixed costs (22,500 buckets × ~13 rows — 25 s at 30×,
    * 3× the exact-shaped cells), a useful negative result recorded in
    * BASELINE.md: cell size is a FLOOR on per-task substance, not just a
    * ceiling on quadratic work.
    *
    * The synthetic embeddings corpus is near-isotropic (max background
    * cosine 0.48–0.60 across ALL pairs, measured per SF), i.e. it has no
    * natural dup margin — so this entry PLANTS one: every vec_id ≡ 0
    * (mod 5) vector is duplicated verbatim at vec_id + 100000, giving
    * planted pairs at cos exactly 1.0 over a ≤ 0.60 background (the
    * SemDeDup margin regime this form is FOR). The entry returns every
    * pair at cos ≥ 0.999 — exactly the planted set IFF the cell-bounded
    * search has recall 1.0 on them — and the oracle reconstructs the
    * planted set arithmetically, so the hash compare IS a recall gate:
    * one cell-split miss (or one false positive) fails the row. Exact
    * copies score identical cell assignments (same argmax over the same
    * broadcast centroids), so recall 1.0 is deterministic by
    * construction, which is what a hash-matched CORRECTNESS row demands;
    * the NEAR-dup (cos ≈ 0.995, perturbed) recall gates stay in
    * SimilaritySpec/ScaleProbe where a measured threshold is the
    * right contract. k = 128 bounds the per-task heap safely above the
    * worst per-label planted count (45 at sf0.1) even if a whole label
    * collapses into one cell.
    */
  val x42c_embed_neardup_auto: QueryDef = QueryDef(
    "x42c_embed_neardup_auto",
    Sql.canon(
      """SELECT CAST(vec_id AS BIGINT) AS id_a,
        |  CAST(vec_id + 100000 AS BIGINT) AS id_b,
        |  label, CAST(1.0 AS DOUBLE) AS cos_sim
        |FROM embeddings WHERE vec_id % 5 = 0""".stripMargin,
      Seq("id_a", "id_b", "label", "cos_sim"))) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").cast(LongType), col("label").cast(IntegerType),
        col("embedding"))
      .as[(Long, Int, Array[Float])]
    val planted = emb.filter(_._1 % 5 == 0)
      .map { case (id, l, v) => (id + 100000L, l, v) }
    Canon(graft.operators.Similarity
      .cellBoundedTopPairsAuto(emb.union(planted), k = 128,
        targetCellSize = 128, probes = 4, kmeansIters = 3, targetChunk = 256)
      .filter(col("cos_sim") >= 0.999)
      .select(col("id_a"), col("id_b"), col("label"), col("cos_sim")))
  }

  // ---------------------------------------------------------------- x124
  /** The x124 history/batch split over `embeddings` — the x86/x109
    * md5-bucket device on vec_ids: bucket < 60 is the ingested history;
    * the batch is the rest PLUS verbatim recrawls of history vectors
    * (bucket % 7 = 0, vec_id + 10M) — the planted truth: each recrawl
    * must surface as a (batch, history) pair at cosine exactly 1.0.
    */
  private[graft] def x124Split(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val bucket = (conv(substring(md5(col("vec_id").cast(StringType)), 1, 8),
      16, 10).cast(LongType) % 100).cast(IntegerType)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").cast(LongType), col("label").cast(IntegerType),
        col("embedding"))
      .withColumn("bucket", bucket)
    val history = emb.filter(col("bucket") < 60).drop("bucket")
    val batch = emb.filter(col("bucket") >= 60).drop("bucket")
      .unionAll(emb.filter(col("bucket") < 60 && col("bucket") % 7 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("label"),
          col("embedding")))
    (history, batch)
  }

  /** Incremental EMBEDDING near-dup — the embedding member of the
    * incremental store family (doc x86 / substring x102 / payload x109 /
    * audio x113 / video x116 / text near-dup x123 / THIS), and the
    * SemDeDup serving posture at crawl cadence: a NEW batch's vectors
    * probed against the ingested corpus' [[graft.operators.IvfStore]]
    * index ([[graft.operators.EmbedHistory]] session registry — frozen
    * coarse centroids, per-cell vector partitions, probes =
    * files-not-read) instead of any all-pairs pass; per-batch cost is
    * batch+probed-cells-sized at any corpus size.
    *
    * Oracle: the x42c planted-margin device through the STORE-SERVED
    * path — the synthetic embedding corpus is near-isotropic (background
    * cosine ≤ 0.60 at every SF, measured — x42c scaladoc), so the only
    * pairs at cos ≥ 0.999 are the planted recrawls, which DuckDB
    * reconstructs arithmetically; recall 1.0 is deterministic because a
    * verbatim copy scores the identical cell argmax against the frozen
    * centroids and its own cell is always the top probe. One missed
    * probe (or one false positive) fails the hash compare.
    */
  val x124_incremental_embed_neardup: QueryDef = QueryDef(
    "x124_incremental_embed_neardup",
    Sql.canon(
      """WITH bkt AS (SELECT vec_id, label,
        |  CAST(CAST('0x' || SUBSTRING(MD5(CAST(vec_id AS VARCHAR)), 1, 8)
        |       AS BIGINT) % 100 AS INT) AS bucket
        |  FROM embeddings)
        |SELECT CAST(vec_id + 10000000 AS BIGINT) AS batch_id,
        |  CAST(vec_id AS BIGINT) AS hist_id,
        |  CAST(label AS INT) AS label, CAST(1.0 AS DOUBLE) AS cos_sim
        |FROM bkt WHERE bucket < 60 AND bucket % 7 = 0""".stripMargin,
      Seq("batch_id", "hist_id", "label", "cos_sim"))) { (s, d) =>
    import s.implicits._
    val (history, batch) = x124Split(s, d)
    // empty-history guard (the zero-row battery): no history, no pairs —
    // and no store to lay out
    val rows = if (history.limit(1).isEmpty)
      Seq.empty[(Long, Long, Int, Double)]
        .toDF("batch_id", "hist_id", "label", "cos_sim")
    else {
      val path = graft.operators.EmbedHistory.cachedStore(s, d,
        history.select(col("vec_id"), col("embedding")))
      graft.operators.IvfStore.search(s, path,
          batch.select(col("vec_id").as("query_id"),
            col("embedding").as("qe")), k = 4, nprobe = 4)
        .filter(col("cos_sim") >= 0.999)
        .join(batch.select(col("vec_id").as("query_id"), col("label")),
          "query_id")
        .select(col("query_id").as("batch_id"), col("vec_id").as("hist_id"),
          col("label"), round(col("cos_sim"), 4).as("cos_sim"))
    }
    Canon(rows)
  }

  /** The x42 pair plan, un-canonicalized — shared by x42 and x89 (x89
    * consumes x42's PERSISTED pairs via [[graft.operators.PairStore]] and
    * only computes this when no producer ran; its oracle replays the
    * persisted relation, so both registry entries verify through the one
    * materialization). `private[graft]` so PlanSpec gates the production
    * pair-search plan directly.
    */
  private[graft] def embedNearDupPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").cast(LongType), col("label").cast(IntegerType),
        col("embedding"))
      .as[(Long, Int, Array[Float])]
    graft.operators.Similarity.topPairsByLabel(emb, k = 20, targetChunk = 256)
      .orderBy(col("cos_sim").desc, col("id_a").asc, col("id_b").asc)
      .limit(20)
  }

  // ---------------------------------------------------------------- x89
  /** Semantic (embedding-space) dedup clusters — SemDeDup-style: the x42
    * near-dup pairs resolved into connected components
    * ([[graft.operators.Components]], the same resolution operator as the
    * text-side x84 — pair source is pluggable), labeling each clustered
    * vector with its component's minimum vec_id (= the canonical keeper).
    * Consumes x42's PERSISTED pair relation (the
    * [[graft.operators.PairStore]] device — resolution never re-runs the
    * blocked pair search); the oracle replays the closure over the same
    * persisted pairs (the `__VERIFY_OUT__` device, anchored by x42's own
    * exhaustive oracle).
    */
  val x89_semantic_dedup: QueryDef = QueryDef(
    "x89_semantic_dedup",
    Sql.canon(
      """WITH RECURSIVE pairs AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('__VERIFY_OUT__/x42_embed_neardup/*.parquet')),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pairs),
        |reach AS (
        |  SELECT src AS node, src AS lab FROM edges
        |  UNION
        |  SELECT e.dst AS node, r.lab FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT node AS vec_id, MIN(lab) AS component FROM reach GROUP BY node""".stripMargin,
      Seq("vec_id", "component"))) { (s, d) =>
    val pairs = graft.operators.PairStore.scanOrCompute(
      s, "x42_embed_neardup", d)(embedNearDupPairs(s, d))
    Canon(graft.operators.Components
      .connectedComponents(pairs, srcCol = "id_a", dstCol = "id_b")
      .select(col("node").as("vec_id"), col("component")))
  }
}
