package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video ride through DataFrames as
  * opaque `BINARY` columns plus a typed metadata struct; decode/featurize/
  * resize/frame-sample run as partition-local batched kernels over a typed
  * Dataset (`mapPartitions` with case-class Encoders — the Scala analog of
  * a vectorized Python UDF: rows are processed in bounded batches so a real
  * decoder could amortize model/codec setup per batch).
  *
  * IMPORTANT — STUBBED DECODERS: no imaging/audio libraries exist in this
  * environment, so [[Kernels.decodeToFloats]] and friends are clearly-marked
  * DETERMINISTIC FAKES (byte-histogram features, byte-slice "frames"). The
  * Spark-side contract — schema, batch shape, partitioning, kernel
  * signature — is real and tested; swapping in a real codec changes only the
  * function body.
  *
  * Scale posture: binary payloads are the widest column by far, so every
  * plan here selects/prunes metadata BEFORE touching `content`, keeps binary
  * out of shuffles (features are extracted partition-locally, only the
  * small feature vectors move), and batches kernel calls.
  */
object Multimodal {

  final case class MediaMeta(width: Int, height: Int, sampleRate: Int,
                             nFrames: Int, mime: String)
  final case class MediaRow(media_id: Long, kind: String,
                            content: Array[Byte], meta: MediaMeta)
  final case class MediaFeature(media_id: Long, kind: String,
                                feature: Array[Float])

  /** Deterministic synthetic media derived from `documents` (text bytes as
    * payload) — stands in for real blobs so the plumbing is testable against
    * shared fixtures.
    */
  def syntheticMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(typedLit(Seq("image", "audio", "video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        (col("n_chars") % 640 + 1).cast("int").as("width"),
        (col("n_chars") % 480 + 1).cast("int").as("height"),
        lit(16000).as("sampleRate"),
        (col("n_chars") % 30 + 1).cast("int").as("nFrames"),
        concat(lit("fake/"), col("lang")).as("mime")).as("meta"))

  /** Partition-local kernels. Each takes a BATCH of rows (the batch shape a
    * real vectorized decoder needs) and returns one output per input.
    */
  object Kernels {

    val FeatureDim = 16

    /** STUB — deterministic fake decode: a real implementation would decode
      * the image/audio payload here (e.g. via javax.imageio / a JNI codec).
      * The fake is a normalized 16-bin byte histogram: deterministic,
      * content-sensitive, dimension-stable — enough to exercise every
      * downstream consumer (ANN search, dedup) honestly.
      */
    def decodeToFloats(batch: Seq[MediaRow]): Seq[MediaFeature] =
      batch.map { r =>
        val content = if (r.content == null) Array.emptyByteArray else r.content
        val hist = new Array[Float](FeatureDim)
        content.foreach(b => hist((b & 0xff) / FeatureDim) += 1f)
        val n = math.max(1, content.length).toFloat
        MediaFeature(r.media_id, r.kind, hist.map(_ / n))
      }

    /** STUB — fake resize: truncates/pads the payload to w*h bytes and
      * rewrites the metadata (a real kernel would rescale pixels).
      */
    def resize(r: MediaRow, w: Int, h: Int): MediaRow = {
      val target = w * h
      val content = if (r.content == null) Array.emptyByteArray else r.content
      val out = java.util.Arrays.copyOf(content, target)
      r.copy(content = out, meta = r.meta.copy(width = w, height = h))
    }

    /** dHash-style 64-bit PERCEPTUAL fingerprint of a binary payload — the
      * payload-level dedup axis the metadata/feature paths never cover: two
      * media rows whose bytes differ slightly (re-encode, metadata patch,
      * truncated tail) still land within a small Hamming distance.
      *
      * The real dHash recipe, with the decode step stubbed: a production
      * kernel decodes the payload to a luminance plane first (codec lives
      * outside this environment); here the payload BYTES stand in for that
      * plane — everything after decode is the genuine published algorithm:
      * downscale to a 9×8 grid by averaging 72 contiguous equal blocks,
      * then emit one bit per horizontal gradient (bit r*8+c set iff
      * cell(r,c+1) > cell(r,c)). Gradients, not absolute values, make the
      * hash invariant to uniform brightness shifts and robust to local
      * byte edits (one edited block moves at most its two adjacent
      * gradient bits).
      *
      * Deterministic; empty/short payloads degrade gracefully (empty
      * blocks average 0). Pure per-row kernel — no state, no shuffle.
      */
    def dHash64(content: Array[Byte]): Long = {
      val c = if (content == null) Array.emptyByteArray else content
      val n = c.length
      // 9 columns x 8 rows of block averages over the byte plane
      val cells = new Array[Double](72)
      var i = 0
      while (i < 72) {
        val from = (i.toLong * n / 72).toInt
        val until = ((i + 1).toLong * n / 72).toInt
        if (until > from) {
          var s = 0L
          var j = from
          while (j < until) { s += (c(j) & 0xff); j += 1 }
          cells(i) = s.toDouble / (until - from)
        } // else cells(i) stays 0.0 (payload shorter than the grid)
        i += 1
      }
      var h = 0L
      var r = 0
      while (r < 8) {
        var col = 0
        while (col < 8) {
          if (cells(r * 9 + col + 1) > cells(r * 9 + col))
            h |= 1L << (r * 8 + col)
          col += 1
        }
        r += 1
      }
      h
    }

    /** STUB — fake re-encode: a real pipeline meets the same image saved
      * twice with different codec settings; this deterministic stand-in
      * applies the two canonical lossy-re-encode effects [[dHash64]] is
      * designed to absorb: a uniform brightness shift (saturating +7 per
      * byte — gradient-preserving, so Hamming 0 alone) and one localized
      * artifact (cell 40 of the 9×8 grid zeroed — moves exactly one cell
      * average, flipping at most its 2 adjacent gradient bits). A variant
      * therefore lands within Hamming 2 of its original: a NEAR-dup, not
      * an exact one.
      */
    def stubReencode(content: Array[Byte]): Array[Byte] = {
      val c = if (content == null) Array.emptyByteArray else content
      val n = c.length
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        out(i) = math.min(255, (c(i) & 0xff) + 7).toByte
        i += 1
      }
      // the artifact region = exactly dHash cell 40's byte block
      val from = (40L * n / 72).toInt
      val until = (41L * n / 72).toInt
      java.util.Arrays.fill(out, from, until, 0.toByte)
      out
    }

    /** Constellation-map audio landmarks — the published landmark
      * fingerprint recipe (A. Wang, "An Industrial-Strength Audio Search
      * Algorithm", ISMIR 2003; the same scheme the open-source audfprint
      * reimplements), sized for this corpus's ~300-byte payloads, with
      * only the codec decode stubbed: a production kernel decodes the
      * payload to PCM first; here the payload BYTES stand in for the
      * sample stream — everything downstream is the genuine algorithm:
      *
      *  1. frame into `window`-sample windows every `hop` samples and
      *     MEAN-CENTER each window (kills any DC/level offset — the audio
      *     analog of dHash's gradient trick, so [[stubReencode]]'s
      *     saturating +7 shift is exactly absorbed on ASCII payloads);
      *  2. per window, band energies at DFT bins 1..16 (direct 16-bin DFT
      *     over the 32-sample window — a fixed cos/sin table, no FFT lib);
      *  3. constellation peaks: the argmax band per window (tie → lowest
      *     band), kept where its energy is a time-local max
      *     (> previous window's max, >= next window's — the half-open rule
      *     dedupes plateaus deterministically);
      *  4. landmarks: each anchor peak paired with EVERY peak in its
      *     target TIME ZONE dt in [1, `maxDt`] windows ahead — zone
      *     pairing, not "next N peaks": a peak the re-encode artifact
      *     destroys then removes only its own pairs instead of shifting
      *     which other peaks pair (the ripple that made nearest-N lose
      *     ~70% of landmarks to a 1.5%-of-payload artifact). Hash packs
      *     (band1 << 8) | (band2 << 4) | dt — 12 bits, sized so sf-scale
      *     corpora keep hash buckets in the tens — anchored at the
      *     anchor's window index t.
      *
      * Returns (hash, t) pairs; rows are UNIQUE per payload (an anchor
      * meets each later peak at most once, and distinct zone peaks at one
      * dt occupy distinct windows), which [[audioNearDups]]'s oracle twin
      * relies on. Windows are indexed 0.. so t always fits 16 bits for
      * payloads under `hop * 65536` samples; later t is dropped
      * (documented bound — real tracks chunk upstream). Deterministic;
      * payloads shorter than one window yield no landmarks.
      *
      * MINIMUM MATERIAL: like the published system (which needs seconds of
      * audio), payloads shorter than a few windows beyond the artifact
      * blast radius cannot be fingerprinted robustly — below
      * [[MinMatchableLandmarks]] landmarks a track's near-dup recall is
      * not guaranteed (MultimodalSpec gates recall above the floor; real
      * deployments enforce a minimum clip length upstream).
      */
    val MinMatchableLandmarks = 24

    /** The video frame-overlap matcher's material floor: a re-encoded
      * variant differs from its original in the artifact-crossing
      * frame(s), so with k distinct sampled frames the pair's Jaccard is
      * ~(k−1)/(k+1) — under the 0.5 cut for k < 3. Measured at sf0.1:
      * every missed variant's original has ≤ 2 distinct frames, every
      * k ≥ 3 video pairs (BASELINE.md round-12 video rows; the retired
      * VideoProbe that gated recall above this floor runs at `7779ac1`).
      */
    val MinMatchableFrames = 3

    /** The triplet form's material floor — higher than the pair form's
      * because triples are denser per track (every zone pair per anchor)
      * yet each needs all THREE peaks to survive a re-encode: measured at
      * sf0.001, variants whose original yields ≤ 25 triplet landmarks can
      * miss, every one ≥ 31 matches (MultimodalSpec's recall gate).
      */
    val MinMatchableLandmarks3 = 30

    /** Per-window-size DFT table memo: the landmark kernel runs per ROW,
      * and rebuilding (window/2)·window trig tables per row at window 128
      * would cost more than the DFT itself. One entry per distinct window
      * size per executor JVM — bytes bounded by the handful of sizes
      * [[graft.operators.Multimodal.autoAudioWindow]] can pick.
      */
    private val dftMemo =
      new java.util.concurrent.ConcurrentHashMap[Int,
        (Array[Array[Double]], Array[Array[Double]])]()

    private[Kernels] def dftTables(window: Int): (Array[Array[Double]], Array[Array[Double]]) =
      dftMemo.computeIfAbsent(window, w => {
        val bands = w / 2
        (Array.tabulate(bands, w)((k, i) =>
          math.cos(2 * math.Pi * (k + 1) * i / w)),
          Array.tabulate(bands, w)((k, i) =>
            math.sin(2 * math.Pi * (k + 1) * i / w)))
      })

    def audioLandmarks(content: Array[Byte], window: Int = 32, hop: Int = 4,
                       maxDt: Int = 15): Seq[(Int, Int)] = {
      val c = if (content == null) Array.emptyByteArray else content
      val n = c.length
      if (n < window) return Seq.empty
      // band count scales with the window (bins 1..window/2 up to
      // Nyquist), so the hash space — (window/2)² · (maxDt+1) — grows
      // ~window²: the DENSITY KNOB. A fixed space saturates as the corpus
      // grows exactly like a fixed IVF nlist (measured: the 12-bit
      // window-32 space holds recall 0.985 at sf0.1 but collapses under
      // the hot-bucket cap at 10×); [[Multimodal.autoAudioWindow]] is the
      // size-derived production sizing, the x42c device for audio. At
      // window 32 the packing below reproduces the original
      // (f1 << 8 | f2 << 4 | dt) values bit-for-bit.
      val bands = window / 2
      val pk = peaksOf(c, window, hop)
      val fMax = pk._1
      val peaks = pk._2
      val out = Seq.newBuilder[(Int, Int)]
      var i2 = 0
      while (i2 < peaks.length) {
        val t1 = peaks(i2)
        if (t1 < 65536) {
          var j = i2 + 1
          var inZone = true
          while (j < peaks.length && inZone) {
            val dt = peaks(j) - t1
            if (dt > maxDt) inZone = false
            else if (dt >= 1)
              out += (((fMax(t1) * bands + fMax(peaks(j))) * (maxDt + 1) + dt,
                t1))
            j += 1
          }
        }
        i2 += 1
      }
      out.result()
    }

    /** Shared constellation front half: per-window dominant band + its
      * energy via the windowed mean-centered DFT, then time-local maxima
      * of the max-energy curve. Returns (dominant band per window,
      * peak window indices).
      */
    private[Kernels] def peaksOf(c: Array[Byte], window: Int,
                                 hop: Int): (Array[Int], IndexedSeq[Int]) = {
      val bands = window / 2
      val tables = dftTables(window)
      val cosT = tables._1
      val sinT = tables._2
      val n = c.length
      val nWin = (n - window) / hop + 1
      val fMax = new Array[Int](nWin)
      val eMax = new Array[Double](nWin)
      var t = 0
      while (t < nWin) {
        val base = t * hop
        var mean = 0.0
        var i = 0
        while (i < window) { mean += (c(base + i) & 0xff); i += 1 }
        mean /= window
        var bestF = 0
        var bestE = -1.0
        var k = 0
        while (k < bands) {
          var re = 0.0
          var im = 0.0
          i = 0
          while (i < window) {
            val s = (c(base + i) & 0xff) - mean
            re += s * cosT(k)(i)
            im += s * sinT(k)(i)
            i += 1
          }
          val e = re * re + im * im
          if (e > bestE) { bestE = e; bestF = k }
          k += 1
        }
        fMax(t) = bestF
        eMax(t) = bestE
        t += 1
      }
      // time-local maxima of the per-window max-energy curve
      val peaks = (0 until nWin).filter { t =>
        eMax(t) > 0 &&
          (t == 0 || eMax(t) > eMax(t - 1)) &&
          (t == nWin - 1 || eMax(t) >= eMax(t + 1))
      }
      (fMax, peaks)
    }

    /** Triplet constellation landmarks — the published successor scheme to
      * pairwise landmarks for DENSE corpora (the Panako / ISMIR-2014
      * family hashes three spectral peaks + two time deltas): same
      * windows/bands/peaks as [[audioLandmarks]], but each anchor is
      * hashed with every ORDERED pair of zone peaks, packing
      * (f1, f2, f3, dt1, dt2) — at window 32 that is 16³·16² ≈ 2^20 hash
      * slots vs the pair form's 2^12, which is what keeps bucket
      * occupancy (and the hot-bucket cap's drop rate) flat as the corpus
      * grows ~100× while the toy payload length pins the window size.
      * Zone-based (not index-consecutive) triples keep the no-ripple
      * property: a destroyed peak removes only triples containing it.
      * Rows stay unique per payload ((dt1, dt2) pins (j, k) for an
      * anchor). The trade: a triple needs all THREE peaks to survive a
      * re-encode (shared fraction ~cubic vs the pair form's ~quadratic in
      * the peak survival rate), priced into the coverage cut.
      */
    def audioLandmarks3(content: Array[Byte], window: Int = 32, hop: Int = 4,
                        maxDt: Int = 15): Seq[(Int, Int)] = {
      val c = if (content == null) Array.emptyByteArray else content
      val n = c.length
      if (n < window) return Seq.empty
      val bands = window / 2
      val pk = peaksOf(c, window, hop)
      val fMax = pk._1
      val peaks = pk._2
      val out = Seq.newBuilder[(Int, Int)]
      var i = 0
      while (i < peaks.length) {
        val t1 = peaks(i)
        if (t1 < 65536) {
          var j = i + 1
          var inZoneJ = true
          while (j < peaks.length && inZoneJ) {
            val dt1 = peaks(j) - t1
            if (dt1 > maxDt) inZoneJ = false
            else if (dt1 >= 1) {
              var k = j + 1
              var inZoneK = true
              while (k < peaks.length && inZoneK) {
                val dt2 = peaks(k) - t1
                if (dt2 > maxDt) inZoneK = false
                else
                  out += ((((fMax(t1) * bands + fMax(peaks(j))) * bands +
                    fMax(peaks(k))) * (maxDt + 1) * (maxDt + 1) +
                    dt1 * (maxDt + 1) + dt2, t1))
                k += 1
              }
            }
            j += 1
          }
        }
        i += 1
      }
      out.result()
    }

    /** STUB — fake frame sampling: returns every `stride`-th byte-slice as a
      * "frame" (a real kernel would demux the container).
      */
    def sampleFrames(r: MediaRow, stride: Int): Seq[Array[Byte]] = {
      val content = if (r.content == null) Array.emptyByteArray else r.content
      val n = r.meta.nFrames
      val frameLen = math.max(1, content.length / math.max(1, n))
      (0 until n by stride).map { i =>
        content.slice(i * frameLen, math.min((i + 1) * frameLen, content.length))
      }
    }
  }

  /** Batched feature extraction: one kernel invocation per `batchSize` rows,
    * partition-local, binary never shuffled.
    */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow]
      .mapPartitions(_.grouped(batchSize).flatMap(b => Kernels.decodeToFloats(b.toSeq)))
      .toDF()
  }

  /** Resize every image row to (w, h); other kinds pass through. */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow]
      .map(r => if (r.kind == "image") Kernels.resize(r, w, h) else r)
      .toDF()
  }

  /** Originals plus deterministic re-encoded variants of every `everyNth`-th
    * row ([[Kernels.stubReencode]]; variant ids are original + `idOffset`) —
    * the corpus shape payload-level dedup exists for: the same media stored
    * twice with different codec settings, bytes unequal, perception equal.
    * Map-only (a filter + union of two projections, no shuffle).
    */
  def withReencodedVariants(media: DataFrame, everyNth: Int = 10,
                            idOffset: Long = 10000000L): DataFrame = {
    val reU = udf((content: Array[Byte]) => Kernels.stubReencode(content))
    media.unionByName(
      media.filter(col("media_id") % everyNth === 0)
        .withColumn("media_id", col("media_id") + lit(idOffset))
        .withColumn("content", reU(col("content"))))
  }

  /** Per-row payload perceptual fingerprints: (media_id, phash). Map-only —
    * the wide binary column is consumed partition-locally by the kernel and
    * PRUNED before anything downstream; only the 8-byte hash ever moves.
    */
  def payloadFingerprints(media: DataFrame,
                          contentCol: String = "content",
                          idCol: String = "media_id"): DataFrame = {
    val phU = udf((content: Array[Byte]) => Kernels.dHash64(content))
    media.select(col(idCol).as("media_id"),
      phU(col(contentCol)).as("phash"))
  }

  /** Payload-level near-dup pairs at Hamming distance <= maxDist over the
    * dHash fingerprints — [[graft.operators.Dedup.hammingNearDups64]]'s
    * chunk-banded plan (pigeonhole-complete for maxDist <= 3, hot buckets
    * truncated unbiased at `maxPerBucket`; 0 = uncapped/exact). The pairs
    * feed the same Components/keeper resolution chain as every other pair
    * source. Scale shape: fingerprint is map-only over the binary column,
    * then ONE chunk-keyed exchange of 8-byte hashes — payload bytes never
    * shuffle.
    */
  def payloadNearDups(media: DataFrame, maxDist: Int = 3,
                      maxPerBucket: Int = 64,
                      droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    payloadNearDupsFromFps(payloadFingerprints(media), maxDist, maxPerBucket,
      droppedAcc)

  /** [[payloadNearDups]] over an ALREADY-FINGERPRINTED relation
    * (media_id, phash) — the fingerprint-once/resolve-many entry point
    * (round 18): pipelines that persist [[payloadFingerprints]] as a
    * producer artifact (x103's registry seat) feed the banded search from
    * the store instead of re-decoding payload bytes per consumer.
    */
  def payloadNearDupsFromFps(fps: DataFrame, maxDist: Int = 3,
                             maxPerBucket: Int = 64,
                             droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    Dedup.hammingNearDups64(fps, "media_id", "phash",
      "media_a", "media_b", maxDist, maxPerBucket, droppedAcc)

  /** COMPONENT-form payload near-dup edges — [[payloadNearDups]]'s
    * linear-scale sibling via [[Dedup.hammingDupEdges64]]: star edges span
    * identical-fingerprint groups, the banded search runs over distinct
    * fingerprint VALUES. Same components as the full pair relation
    * (spec-gated); the relation to feed resolution at 100 TB, where
    * re-crawled/mirrored payloads arrive as m-sized identical-hash groups
    * and the full pair relation is O(n·m).
    */
  def payloadDupEdges(media: DataFrame, maxDist: Int = 3,
                      maxPerBucket: Int = 64,
                      droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    payloadDupEdgesFromFps(payloadFingerprints(media), maxDist, maxPerBucket,
      droppedAcc)

  /** [[payloadDupEdges]] over an already-fingerprinted relation — the
    * edge-form twin of [[payloadNearDupsFromFps]].
    */
  def payloadDupEdgesFromFps(fps: DataFrame, maxDist: Int = 3,
                             maxPerBucket: Int = 64,
                             droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    Dedup.hammingDupEdges64(fps, "media_id", "phash",
      "media_a", "media_b", maxDist, maxPerBucket, droppedAcc)

  /** Payload DECONTAMINATION (x120) — the multimodal twin of x70's
    * benchmark-overlap check: corpus media are flagged when their
    * perceptual fingerprint sits within Hamming `maxDist` of ANY
    * benchmark-suite fingerprint, so byte-identical AND re-encoded copies
    * of eval items are caught before training (the published multimodal
    * decontamination posture — eval images leak into crawls re-encoded,
    * never bit-identical). Inputs are FINGERPRINT relations
    * (media_id, phash — [[payloadFingerprints]]' shape).
    *
    * Plan: benchmark suites are small by nature, so the bench side's
    * chunk relation BROADCASTS into the corpus' 16-bit-chunk explode
    * (the x109 pigeonhole device, complete for d ≤ 3) — map-only over
    * the corpus except the per-doc hit dedup/count; no corpus-side pair
    * blowup is possible (hits are bounded by |bench| per corpus row).
    * Output one row per corpus media:
    * (media_id, n_bench_matches, contaminated).
    */
  def payloadDecontaminate(corpusFps: DataFrame, benchFps: DataFrame,
                           maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-chunk banding is only complete for maxDist <= 3")
    val c = graft.sources.PhashHistory.chunkKeys(corpusFps)
    val b = graft.sources.PhashHistory.chunkKeys(benchFps)
      .select(col(graft.sources.PhashHistory.KeyCol),
        col("id").as("bench_id"), col("fp").as("bfp"))
    val hits = c.join(broadcast(b), graft.sources.PhashHistory.KeyCol)
      .filter(expr(s"CAST(bit_count(fp ^ bfp) AS INT) <= $maxDist"))
      .select(col("id").as("media_id"), col("bench_id")).distinct()
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_bench_matches"))
    corpusFps.select(col("media_id"))
      .join(hits, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("n_bench_matches"), lit(0L)).as("n_bench_matches"),
        when(coalesce(col("n_bench_matches"), lit(0L)) > 0, 1)
          .otherwise(0).cast("int").as("contaminated"))
  }

  /** INCREMENTAL payload near-dup probe — a NEW batch's payload
    * fingerprints vs the persisted [[graft.sources.PhashHistory]] store
    * (the payload member of the x86/x102 incremental family): the batch
    * side is fingerprinted map-only and chunk-exploded (4 rows/payload),
    * then ONE equi-join on the pigeonhole key `bk` against the store —
    * which rides its bucket layout with NO history-side exchange
    * (PhashHistorySpec gates the plan) — and the Hamming cut runs as a
    * codegen'd `bit_count(xor)` on the joined fingerprints. Cost is
    * batch-sized; history payload bytes are never read.
    *
    * Output: (hist_id, batch_id, hamming) with hamming <= maxDist,
    * deduplicated across the up-to-4 agreeing chunks.
    */
  def incrementalPayloadNearDups(batchMedia: DataFrame, store: DataFrame,
                                 maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-chunk banding is only complete for maxDist <= 3")
    val probe = graft.sources.PhashHistory.chunkKeys(
      payloadFingerprints(batchMedia))
    probe
      .join(store.select(col(graft.sources.PhashHistory.KeyCol),
        col("id").as("hist_id"), col("fp").as("hist_fp")),
        graft.sources.PhashHistory.KeyCol)
      .withColumn("hamming", expr("CAST(bit_count(fp ^ hist_fp) AS INT)"))
      .filter(col("hamming") <= maxDist)
      .select(col("hist_id"), col("id").as("batch_id"), col("hamming"))
      .distinct()
  }

  /** Frame-fingerprint rows of ANY frame carrying
    * (media_id, content, n_frames) — the schema-relaxed sibling of
    * [[frameFingerprints]] for streaming micro-batches (the
    * [[audioLandmarkRows]] device for the video axis). Shares
    * [[Kernels.sampleFrames]] and the dHash kernel through a synthetic
    * MediaRow, so rows are bit-identical to the batch form; the per-video
    * distinct happens inside the kernel (frame hashes never leave the row
    * un-deduplicated).
    */
  def videoFrameRows(media: DataFrame, stride: Int = 2): DataFrame = {
    val fpU = udf((id: Long, content: Array[Byte], nFrames: Int) => {
      val r = MediaRow(id, "video", content, MediaMeta(0, 0, 0, nFrames, ""))
      Kernels.sampleFrames(r, stride).map(Kernels.dHash64).distinct.toArray
    })
    media.select(col("media_id"),
      explode(fpU(col("media_id"), col("content"), col("n_frames")))
        .as("phash"))
  }

  /** Landmark rows of ANY frame carrying (media_id, content) — the
    * schema-relaxed sibling of [[audioFingerprints]] for streaming
    * micro-batches (which carry ts and arbitrary extra columns, not the
    * full MediaRow shape). Same kernels, bit-identical rows.
    */
  def audioLandmarkRows(media: DataFrame, window: Int = 32,
                        triples: Boolean = true): DataFrame = {
    val lmU = udf((content: Array[Byte]) =>
      if (triples) Kernels.audioLandmarks3(content, window = window)
      else Kernels.audioLandmarks(content, window = window))
    media.select(col("media_id"), explode(lmU(col("content"))).as("_lm"))
      .select(col("media_id"), col("_lm._1").as("lhash"), col("_lm._2").as("t"))
  }

  /** INCREMENTAL audio near-dup probe — a NEW batch of tracks' landmarks
    * vs the persisted [[graft.sources.LandmarkHistory]] store: the audio
    * member of the x86/x102/x109 incremental family, and the published
    * constellation system's OWN deployment model (query landmarks matched
    * against a landmark database — never all-pairs over the corpus). ONE
    * equi-join on `lhash` riding the store's bucket layout with NO
    * history-side exchange (LandmarkHistorySpec gates the plan), then the
    * same offset-coherent election as [[audioNearDups]]: votes per
    * (hist, batch, offset), max votes + smallest winning offset per pair.
    *
    * The coverage cut is QUERY-side only (votes / the batch track's
    * landmark count) — the published normalization (the query clip is the
    * short side), and the one that keeps probe cost batch-sized: a
    * history-side denominator would need a corpus-scale count per probe.
    *
    * Output: (hist_id, batch_id, n_votes, best_off, q_coverage) with
    * n_votes >= minVotes and q_coverage >= minQCoverage (rounded 4dp, cut
    * on the unrounded value); best_off = batch t − history t.
    *
    * `batchLandmarks` is consumed twice (probe votes + coverage
    * denominators): callers whose landmark lineage is expensive should
    * pin it first, as the streaming twin does
    * ([[graft.streaming.CurationStreams]]'s audioProbeBatch persists the
    * batch landmarks so the kernel runs once per payload).
    */
  def incrementalAudioNearDups(batchLandmarks: DataFrame, store: DataFrame,
                               minVotes: Int = 5,
                               minQCoverage: Double = 0.25): DataFrame = {
    val votes = batchLandmarks
      .join(store.select(col("lhash"), col("id").as("hist_id"),
        col("t").as("_ht")), "lhash")
      .groupBy(col("hist_id"), col("media_id").as("batch_id"),
        (col("t") - col("_ht")).as("_off"))
      .agg(count(lit(1)).cast("int").as("_v"))
    val sizes = batchLandmarks.groupBy(col("media_id").as("batch_id"))
      .agg(count(lit(1)).as("_n"))
    val qcov = col("n_votes").cast("double") / col("_n")
    votes
      .groupBy("hist_id", "batch_id")
      .agg(max(struct(col("_v"), (-col("_off")).as("_negoff"))).as("_best"))
      .select(col("hist_id"), col("batch_id"),
        col("_best._v").as("n_votes"),
        (-col("_best._negoff")).cast("int").as("best_off"))
      .filter(col("n_votes") >= minVotes)
      .join(sizes, "batch_id")
      .filter(qcov >= minQCoverage)
      .select(col("hist_id"), col("batch_id"), col("n_votes"),
        col("best_off"), round(qcov, 4).as("q_coverage"))
  }

  /** Per-frame perceptual fingerprints of video payloads: the DISTINCT
    * (media_id, phash) frame-hash set per video — [[sampleVideoFrames]]'s
    * sampled frames through the same [[Kernels.dHash64]] kernel as x103.
    * Map-only until the distinct; frame bytes never shuffle (consumed by
    * the kernel inside the sampling flatMap's partition).
    */
  def frameFingerprints(media: DataFrame, stride: Int = 2): DataFrame = {
    val phU = udf((f: Array[Byte]) => Kernels.dHash64(f))
    sampleVideoFrames(media, stride)
      .select(col("media_id"), phU(col("frame")).as("phash"))
      .distinct()
  }

  /** One matcher-input member per DISTINCT fingerprint set per
    * identity component — the stage-2 input form that keeps
    * partial-overlap pairs anchored on ABSORBED members matchable.
    *
    * Why this exists: payload-identity clustering ([[payloadDupEdges]] →
    * x110 components) absorbs dHash-close members whose frame/landmark
    * sets DIVERGE (at clique density the chains even span unrelated
    * payloads), and a residual-only matcher then sees only the
    * representative's set — measured at 100× clique density as 106/106
    * full-panel video misses (PartialOverlapProbe, BASELINE round-14).
    * The three candidate forms, measured at 100× clique density
    * (PartialOverlapProbe video full-panel recall / iso):
    *  - residual-only (round ≤14): 0.588 — loses every pair on an
    *    absorbed member;
    *  - [[componentFingerprintUnion]]: 0.4553 / 0.75 — Jaccard's
    *    set-size denominator becomes union-sized, which at clique
    *    density DILUTES true pairs below the cut (the union is the
    *    right form for the AUDIO axis, whose vote/coverage score is
    *    intersection-based — see its scaladoc);
    *  - THIS form: 0.9650 / 1.000.
    * It keeps PER-MEMBER sets — x108 semantics and denominators
    * exactly — but keeps only the min-id member of each (component,
    * set-signature) group: true replicas (identical sets, the actual
    * dup mass) collapse to one probe row, while divergent absorbed
    * members survive as themselves. Matcher pairs then roll up to
    * components downstream (pair-EXISTS feeds [[Components]], so a hit
    * on ANY kept member resolves the pair — max-linkage).
    *
    * Plan: one map-combined per-media aggregate over the fingerprint
    * relation (two independent order-free XOR set hashes + the row
    * count), a component-keyed min, and a semi-join back — no payload
    * re-read, all exchanges fingerprint-sized.
    *
    * `components` is the (node, component) relation from
    * [[Components.connectedComponents]] over the identity edges (x110's
    * map — clustered nodes only; singletons are their own group).
    */
  /** Per-component fingerprint UNION: every member's rows re-key to its
    * component id, DISTINCT across members — the composed-posture
    * default for the AUDIO axis (see [[componentSetRepresentatives]] for
    * the per-axis measurement story). Tuple-level distinct collapses the
    * near-duplicate mass gracefully: clustered dHash-close tracks share
    * most (lhash, t) tuples exactly (same byte layout ⇒ same window
    * grid), so bucket populations stay component-granular while an
    * absorbed member's divergent landmarks remain matchable under the
    * component's key. Offset-coherent voting survives the union because
    * member timelines within a payload-identity cluster are aligned.
    *
    * Measured at 100× clique density (PartialOverlapProbe, round 15):
    * audio composed recall 0.9899+ (iso 1.000) vs 0.971 residual-only
    * and 0.8674 set-representatives (whose per-member bucket population
    * saturates the landmark hash space — 27M capped drops). For VIDEO
    * the ranking inverts — Jaccard's set-size denominator dilutes under
    * a union (0.4553) — so the frame axis uses set-representatives.
    */
  def componentFingerprintUnion(fps: DataFrame,
                                components: DataFrame): DataFrame = {
    val comp = components
      .select(col("node").as("media_id"), col("component"))
    val rest = fps.columns.filter(_ != "media_id").map(col)
    fps.join(comp, Seq("media_id"), "left")
      .select(coalesce(col("component"), col("media_id")).as("media_id") +:
        rest.toSeq: _*)
      .distinct()
  }

  /** One member per DISTINCT fingerprint set per component — the
    * composed-posture default for the VIDEO axis (union dilutes Jaccard's
    * set-size denominator; per-member keeps x108's denominators exact
    * while true-replica mass collapses to one probe row per distinct
    * set). Signature = two independent XOR-hashes + count per member;
    * min-id per (component, signature) group survives.
    *
    * Measured at 100× clique density (PartialOverlapProbe): composed
    * recall 0.9650 at the registry hot-hash cap 64 — and round-16's
    * per-miss diagnosis showed ALL residual misses were hot-BUCKET
    * truncation in the downstream matcher (a ≥0.5-Jaccard pair present
    * in this relation whose every shared hash was capped out), not
    * representative substitution; at the composed-layer cap 256 the
    * form reaches **1.0000 at sf0.1, 10× and 100×** (BASELINE
    * round-16), completing the audio-axis mechanism+fix symmetry
    * (componentFingerprintUnion + cap 256 → 0.9966).
    */
  def componentSetRepresentatives(fps: DataFrame,
                                  components: DataFrame): DataFrame = {
    val comp = components
      .select(col("node").as("media_id"), col("component"))
    val rest = fps.columns.filter(_ != "media_id").map(col)
    val sigs = fps
      .join(comp, Seq("media_id"), "left")
      .withColumn("_rep", coalesce(col("component"), col("media_id")))
      .groupBy(col("media_id"), col("_rep"))
      .agg(expr(s"bit_xor(xxhash64(${rest.map(_.toString).mkString(", ")}))")
          .as("_s1"),
        expr(s"bit_xor(xxhash64(7, ${rest.map(_.toString).mkString(", ")}))")
          .as("_s2"),
        count(lit(1)).as("_n"))
    val keep = sigs.groupBy(col("_rep"), col("_s1"), col("_s2"), col("_n"))
      .agg(min(col("media_id")).as("media_id"))
      .select("media_id")
    fps.join(keep, Seq("media_id"), "left_semi")
  }

  /** Video-level near-dup pairs by sampled-frame fingerprint overlap — the
    * published video-dedup recipe (a video is its frame-hash SET; two
    * videos are near-dups when the sets overlap): exact-equality join on
    * frame dHash (dHash absorbs the re-encode brightness shift, so variant
    * frames hash IDENTICALLY — no banding needed at frame level), then
    * Jaccard over the distinct-hash sets.
    *
    * Plan shape: ONE hash-keyed exchange of (media_id, phash) rows with
    * in-aggregate pair generation (same device as [[Dedup.hammingNearDups64]]
    * — a self-join would shuffle the frame relation twice), a pair-keyed
    * match count, and two video-count-sized joins for the set sizes. Never
    * all-pairs: videos sharing no frame hash never meet. Hot hashes (e.g.
    * a constant frame shared corpus-wide) are truncated unbiased at
    * `maxPerHash` members (0 = uncapped/exact, the oracle form). Set
    * sizes stay exact under the cap while match counts can only shrink,
    * so the capped cut is CONSERVATIVE — it under-reports overlap, never
    * invents pairs — and every drop is counted in `droppedAcc`.
    *
    * Output: (media_a, media_b, n_match, jaccard) with media_a < media_b,
    * jaccard rounded 4dp, cut at `minJaccard` (on the unrounded value).
    */
  def videoNearDups(frames: DataFrame, minJaccard: Double = 0.5,
                    maxPerHash: Int = 64,
                    droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val fps = frames.select(col("media_id"), col("phash"))
    val sizes = fps.groupBy("media_id").agg(count(lit(1)).as("n"))
    val members =
      if (maxPerHash <= 0)
        fps.groupBy("phash")
          .agg(sort_array(collect_list(col("media_id"))).as("_ids"))
      else
        fps.groupBy("phash")
          .agg(graft.functions.CappedMembersAgg.cappedMembers(
            xxhash64(col("media_id")), col("media_id"), col("media_id"),
            maxPerHash, droppedAcc).as("_m"))
          .select(col("phash"), col("_m.ids").as("_ids"))
    val pairsU = udf((ids: Seq[Long]) => {
      val n = ids.length
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
        n * math.max(n - 1, 0) / 2)
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { out += ((ids(i), ids(j))); j += 1 }
        i += 1
      }
      out
    })
    val matches = members
      .select(explode(pairsU(col("_ids"))).as("_p"))
      .groupBy(col("_p._1").as("media_a"), col("_p._2").as("media_b"))
      .agg(count(lit(1)).cast("int").as("n_match"))
    val jac = col("n_match").cast("double") /
      (col("_na") + col("_nb") - col("n_match"))
    matches
      .join(sizes.select(col("media_id").as("media_a"), col("n").as("_na")),
        "media_a")
      .join(sizes.select(col("media_id").as("media_b"), col("n").as("_nb")),
        "media_b")
      .filter(jac >= minJaccard)
      .select(col("media_a"), col("media_b"), col("n_match"),
        round(jac, 4).as("jaccard"))
  }

  /** INCREMENTAL video near-dup probe (x116) — a NEW batch of videos'
    * frame fingerprints vs the persisted [[graft.sources.FrameHistory]]
    * store: the video member of the x86/x102/x109/x113 incremental
    * family, with [[videoNearDups]]' x108 Jaccard cut intact (both set
    * sizes EXACT — the history denominators come from the store's sizes
    * relation, not a corpus rescan).
    *
    * Plan: ONE equi-join on `phash` riding the frame store's bucket
    * layout (exact hash equality — dHash absorbs the re-encode shift, so
    * no banding), match counts per (hist, batch) pair, then the
    * match-pair-sized relation exchanges into the sizes table's `id`
    * bucket layout; NEITHER history scan has an exchange above it
    * (FrameHistorySpec gates the plan), so per-batch cost is batch- plus
    * match-sized at any corpus size.
    *
    * Output: (hist_id, batch_id, n_match, jaccard) with jaccard >=
    * `minJaccard` (rounded 4dp, cut on the unrounded value).
    */
  def incrementalVideoNearDups(batchFrames: DataFrame, histFrames: DataFrame,
                               histSizes: DataFrame,
                               minJaccard: Double = 0.5): DataFrame = {
    val bf = batchFrames.select(col("media_id").as("batch_id"), col("phash"))
    val bs = bf.groupBy(col("batch_id")).agg(count(lit(1)).as("_nb"))
    val m = histFrames
      .select(col("id").as("hist_id"), col(graft.sources.FrameHistory.KeyCol))
      .join(bf, graft.sources.FrameHistory.KeyCol)
      .groupBy(col("hist_id"), col("batch_id"))
      .agg(count(lit(1)).as("n_match"))
    val jac = col("n_match").cast("double") /
      (col("_na") + col("_nb") - col("n_match"))
    m.join(histSizes.select(col("id").as("hist_id"), col("n").as("_na")),
        "hist_id")
      .join(bs, "batch_id")
      .filter(jac >= minJaccard)
      .select(col("hist_id"), col("batch_id"),
        col("n_match").cast("int").as("n_match"), round(jac, 4).as("jaccard"))
  }

  /** Per-track constellation landmarks of the audio payloads:
    * (media_id, lhash, t) via [[Kernels.audioLandmarks]] — the AUDIO member
    * of the payload dedup axis (x103/x104 fingerprint whole payloads,
    * x107/x108 video frames; this is the published landmark recipe for
    * audio, where near-dup = many shared landmark hashes at ONE consistent
    * time offset). Map-only: payload bytes are consumed inside the flatMap
    * partition and pruned before anything downstream — only 12-byte
    * landmark rows ever move.
    */
  def audioFingerprints(media: DataFrame, window: Int = 32,
                        triples: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow]
      .filter(_.kind == "audio")
      .flatMap { r =>
        val lms =
          if (triples) Kernels.audioLandmarks3(r.content, window = window)
          else Kernels.audioLandmarks(r.content, window = window)
        lms.map { case (h, t) => (r.media_id, h, t) }
      }
      .toDF("media_id", "lhash", "t")
  }

  /** Size-derived landmark window — the x42c device for the audio axis: a
    * FIXED hash space saturates as the corpus grows (the hot-bucket cap
    * then keeps a vanishing sample of every true pair's votes — measured:
    * window-32 recall 0.985 at sf0.1, 0.09 at 10×), so the window (hence
    * band count, hence hash space ≈ (window/2)²·16) must grow with the
    * expected landmark count, which one metadata-cheap aggregate
    * estimates from the audio byte volume (~0.23 landmarks/byte at
    * hop 4, measured at sf0.1). Doubling the window 4×es the space, so
    * the chosen window steps up once per ~4× density: expected occupancy
    * stays ≤ `targetOccupancy` until the window hits `maxWindow` (payload
    * length bounds how far a toy 300-byte track can stretch; real PCM —
    * 3 orders more samples per track — keeps stepping to the published
    * system's ~2^30-hash regime).
    */
  def autoAudioWindow(media: DataFrame, targetOccupancy: Int = 64,
                      maxWindow: Int = 256,
                      triples: Boolean = true): Int = {
    val bytes = media.filter(col("kind") === "audio")
      .agg(sum(length(col("content")))).collect()(0)
    val total = if (bytes.isNullAt(0)) 0L else bytes.getLong(0)
    // ~0.25 pair landmarks/byte at hop 4 (measured at sf0.1); the triplet
    // form emits ~1.6× more rows into a much larger space
    val lmEst = if (triples) (total * 2) / 5 else total / 4
    def space(w: Int): Double = {
      val bands = (w / 2).toDouble
      if (triples) bands * bands * bands * 256 else bands * bands * 16
    }
    var w = 32
    while (w * 2 <= maxWindow && lmEst / space(w) > targetOccupancy)
      w *= 2
    w
  }

  /** Audio near-dup pairs by OFFSET-COHERENT landmark voting — the
    * published matcher for the constellation fingerprint: two tracks are
    * near-dups when many landmark hashes agree at one consistent time
    * offset (a bag-overlap score, x108's Jaccard, would also match
    * re-shuffled audio; the offset histogram is what makes the match
    * temporal).
    *
    * Plan shape: ONE hash-keyed exchange of (media_id, t) landmark rows
    * with in-aggregate pair generation (the x104/x108 device — members
    * packed (media_id << 16 | t) into longs so the capped aggregate's
    * long-payload buffer carries them), a map-combined vote count keyed
    * (media_a, media_b, offset), and a final max-votes pass per pair.
    * Never all-pairs: tracks sharing no landmark hash never meet. Hot
    * hashes are truncated unbiased at `maxPerHash` members (0 = uncapped
    * / exact, the oracle form); votes under the cap can only SHRINK —
    * conservative, drops counted in `droppedAcc`.
    *
    * The cut is two-sided: an absolute floor (`minVotes`) plus a
    * SCALE-FREE coverage floor (`minCoverage` × the smaller track's
    * landmark count — votes grow with track material, so an absolute
    * threshold alone either drops short true matches or keeps long-track
    * coincidences; measured at sf0.1: variant-pair coverage median 0.81
    * vs cross-pair median 0.07). Coverage can never exceed 1 (landmark
    * rows are unique per track, so each anchor matches at most once per
    * offset).
    *
    * Output: (media_a, media_b, n_votes, best_off, coverage) with
    * media_a < media_b, n_votes = the best offset's vote count, best_off
    * = the SMALLEST offset achieving it (deterministic under ties),
    * coverage rounded 4dp (cut on the unrounded value).
    *
    * Evaluation note: the UNCAPPED (oracle) path evaluates `landmarks`
    * three times — the two self-join sides and the coverage
    * denominators (round 19: vote generation is the codegen equi-join
    * the oracle twin itself uses, replacing the object-based
    * collect_list + pair-UDF build); callers whose landmark lineage is
    * expensive should pin it first — x112's registry seat scans the
    * persisted x111 store, so the three passes are three map-only
    * parquet scans. The CAPPED production path materializes the kept
    * members once (localCheckpoint, bounded at hash-space × cap) and
    * derives votes AND denominators from it — single landmark pass,
    * which is the shape that matters at 100 TB where the upstream reads
    * payload bytes.
    *
    * RECALL CEILING of the scheme (PartialOverlapProbe, BASELINE
    * round-17): at 100× clique density the composed df-512/cap-1024
    * sizing measures 0.9992 (1191/1192 planted pairs) with zero capped
    * drops, and the one residual miss is STRUCTURAL, not a sizing
    * artifact — a track whose entire constellation lands in hashes
    * shared by >512 distinct components, i.e. every one of its landmark
    * keys is corpus-degenerate and carries no identity signal under
    * ANY df cut (dropping the cut re-admits the quadratic junk
    * pair-generation the filter exists to prevent; raising the cap was
    * measured quadratic-cost-for-one-pair). Recovering that track class
    * means a different anchor GEOMETRY (wider windows / more fan-out —
    * new hash space, a re-fingerprint of the corpus), not a knob on
    * this one: treat 0.9992 as this scheme's ceiling at that density.
    */
  def audioNearDups(landmarks: DataFrame, minVotes: Int = 5,
                    minCoverage: Double = 0.25,
                    maxPerHash: Int = 128, maxDf: Int = 0,
                    droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    // maxDf > 0 drops landmark hashes present in more than maxDf DISTINCT
    // tracks before matching — the constellation analog of stopword/df
    // filtering (real deployments skip hot landmark buckets): a hash
    // shared by hundreds of tracks carries no identity signal but
    // dominates in-bucket pair generation. Coverage denominators are
    // computed AFTER the filter so the score stays calibrated against
    // what the matcher can actually see.
    val base =
      if (maxDf <= 0) landmarks
      else {
        val dfRel = landmarks.groupBy("lhash")
          .agg(countDistinct(col("media_id")).as("_df"))
          .filter(col("_df") <= maxDf)
          .select("lhash")
        landmarks.join(dfRel, "lhash")
      }
    val packed = base.select(col("lhash"),
      (col("media_id") * 65536L + col("t")).as("_m"))
    // UNCAPPED (oracle-form) vote generation is a codegen SELF-JOIN on
    // lhash — the oracle twin's own shape (round 19, guide §4.1): the
    // round-18 form collected each bucket into an array
    // (ObjectHashAggregate — object-based, no codegen) and enumerated
    // pairs in a Scala UDF (one boxed Tuple3 per vote); the equi-join
    // emits the identical (a, b, off) multiset — every co-bucket row
    // pair with media_a < media_b, off = ta − tb — through
    // whole-stage-codegen operators with map-side partial counts.
    // Profiled at sf0.1: the vote build was one 1.07 s object-agg job;
    // the join form is pure codegen. The CAPPED production path keeps
    // the kernel — capping needs the assembled bucket.
    if (maxPerHash <= 0) {
      // no explicit repartition here: measured at sf0.1, forcing the join
      // to shuffle.partitions tasks cost MORE than the coalesced codegen
      // join runs (the kernel-UDF form needed the explicit count; the
      // codegen join does not), and at scale the join's shuffle sizes out
      // of coalescing by itself
      val a = base.select(col("lhash"), col("media_id").as("media_a"),
        col("t").as("_ta"))
      val b = base.select(col("lhash"), col("media_id").as("media_b"),
        col("t").as("_tb"))
      val votes = a.join(b, Seq("lhash"))
        .filter(col("media_a") < col("media_b"))
        .groupBy(col("media_a"), col("media_b"),
          (col("_ta") - col("_tb")).as("_off"))
        .agg(count(lit(1)).cast("int").as("_v"))
      val sizes = base.groupBy("media_id").agg(count(lit(1)).as("_n"))
      return electPairs(votes, sizes, minVotes, minCoverage)
    }
    val members =
        // lazy localCheckpoint: the capped relation is consumed twice
        // (pair generation + coverage denominators); it is bounded at
        // hash-space × cap rows regardless of corpus size, and
        // materializing it on FIRST action keeps the capping aggregate
        // single-run (one shuffle; the dropped-count accumulator fires
        // exactly once). eager=false so merely CONSTRUCTING the frame
        // runs no job; the trade (shared with the x105 trainer) is that
        // checkpoint blocks are executor-local — an executor loss after
        // materialization fails the downstream job instead of recomputing
        packed.groupBy("lhash")
          .agg(graft.functions.CappedMembersAgg.cappedMembers(
            xxhash64(col("_m")), col("_m"), col("_m"),
            maxPerHash, droppedAcc).as("_c"))
          .select(col("lhash"), col("_c.ids").as("_ms"))
          .localCheckpoint(false)
    // packed members sort by (media_id, t), so i<j gives media_a <= media_b
    val votesU = udf((ms: Seq[Long]) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      val n = ms.length
      var i = 0
      while (i < n) {
        val a = ms(i) >> 16
        val ta = (ms(i) & 0xffffL).toInt
        var j = i + 1
        while (j < n) {
          val b = ms(j) >> 16
          if (b != a) out += ((a, b, ta - (ms(j) & 0xffffL).toInt))
          j += 1
        }
        i += 1
      }
      out
    })
    val votes = members
      .select(explode(votesU(col("_ms"))).as("_p"))
      .groupBy(col("_p._1").as("media_a"), col("_p._2").as("media_b"),
        col("_p._3").as("_off"))
      .agg(count(lit(1)).cast("int").as("_v"))
    // coverage denominators come from the KEPT members (post-cap), not the
    // raw landmark counts: under a hot-bucket cap votes can only count
    // kept entries, so a raw denominator would deflate coverage and cut
    // true matches that merely lost hot-bucket entries (measured at
    // sf0.1: raw-denominator recall 0.82 at cap 64 vs 0.985 kept-based at
    // cap 128).
    val sizes = members.select(explode(col("_ms")).as("_m"))
      .select(shiftright(col("_m"), 16).as("media_id"))
      .groupBy("media_id").agg(count(lit(1)).as("_n"))
    electPairs(votes, sizes, minVotes, minCoverage)
  }

  /** The max-votes / smallest-winning-offset election + two-sided cut —
    * the shared tail of [[audioNearDups]]' capped and uncapped vote
    * paths: best (votes, −offset) struct per pair, the absolute vote
    * floor, then the coverage floor against the per-track denominator
    * relation `sizes` = (media_id, _n).
    */
  private def electPairs(votes: DataFrame, sizes: DataFrame,
                         minVotes: Int, minCoverage: Double): DataFrame = {
    val cov = col("n_votes").cast("double") / least(col("_na"), col("_nb"))
    votes
      .groupBy("media_a", "media_b")
      .agg(max(struct(col("_v"), (-col("_off")).as("_negoff"))).as("_best"))
      .select(col("media_a"), col("media_b"),
        col("_best._v").as("n_votes"),
        (-col("_best._negoff")).cast("int").as("best_off"))
      .filter(col("n_votes") >= minVotes)
      .join(sizes.select(col("media_id").as("media_a"), col("_n").as("_na")),
        "media_a")
      .join(sizes.select(col("media_id").as("media_b"), col("_n").as("_nb")),
        "media_b")
      .filter(cov >= minCoverage)
      .select(col("media_a"), col("media_b"), col("n_votes"), col("best_off"),
        round(cov, 4).as("coverage"))
  }

  /** Explode sampled frames of video rows: (media_id, frame_no, frame). */
  def sampleVideoFrames(media: DataFrame, stride: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow]
      .filter(_.kind == "video")
      .flatMap { r =>
        Kernels.sampleFrames(r, stride).zipWithIndex.map { case (f, i) =>
          (r.media_id, i, f)
        }
      }
      .toDF("media_id", "frame_no", "frame")
  }
}
