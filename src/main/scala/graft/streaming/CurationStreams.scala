package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{Kernels, TextAnalysis}
import graft.sources.StreamMark

/** Streaming twin of the batch curation surface (x41/x48/q31): documents
  * arrive as an unbounded stream and pass through quality gates, language
  * ID and bounded-state exact dedup in ONE continuous pipeline.
  *
  * Stage order is deliberate: the stateless gates run first so the only
  * stateful operator (dedup) keys as few rows as possible; its state is
  * bounded by the watermark horizon via `dropDuplicatesWithinWatermark`,
  * never by stream length. Every stage is a per-row expression — no
  * windows, no joins — so the pipeline scales with input partitions.
  */
object CurationStreams {

  val DocSchema: String =
    "doc_id LONG, ts TIMESTAMP, text STRING, lang STRING, source STRING"

  /** File-source streaming ingest of documents-shaped NDJSON. */
  def docStream(spark: SparkSession, dir: String,
                maxFilesPerTrigger: Int = 2): DataFrame =
    spark.readStream
      .schema(DocSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Quality gate + language ID + within-watermark exact dedup.
    *
    * Output keeps the input columns plus `pred_lang`, `n_tokens`,
    * `punct_ratio`, `content_hash`. Documents failing the quality gate are
    * dropped; documents whose content hash was already admitted within the
    * watermark horizon are dropped as duplicates (cross-horizon dedup is
    * the batch layer's job — q31).
    */
  def curate(docs: DataFrame,
             watermark: String = "30 minutes",
             minTokens: Int = 5,
             maxPunctRatio: Double = 0.2): DataFrame =
    dedupWithinWatermark(
      curateGates(docs, minTokens, maxPunctRatio), watermark)

  /** The stateless gate half of [[curate]] (shared with [[curateV2]] so
    * its nll gate can sit BEFORE the dedup slot is consumed).
    */
  private def curateGates(docs: DataFrame, minTokens: Int,
                          maxPunctRatio: Double): DataFrame = {
    val len = length(col("text"))
    val nTok = size(split(col("text"), "\\s+"))
    // nullif guards ANSI divide-by-zero on empty text; coalesce(…, 1.0)
    // treats an empty doc as all-punctuation so the gate drops it
    val punct = coalesce(
      (len - length(regexp_replace(col("text"), "[.,!?;:]", "")))
        .cast("double") / nullif(len, lit(0)), lit(1.0))
    val (pred, _) = TextAnalysis.langColumns(col("text"))
    docs
      .withColumn("n_tokens", nTok)
      .withColumn("punct_ratio", punct)
      .filter(col("n_tokens") >= minTokens &&
        col("punct_ratio") <= maxPunctRatio)
      .withColumn("pred_lang", pred)
  }

  private def dedupWithinWatermark(gated: DataFrame,
                                   watermark: String): DataFrame =
    gated
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** [[curate]] v2 — the x101 gate set on a stream: v1's length/punct
    * gates plus the PERPLEXITY gate against a frozen unigram model
    * ([[graft.operators.UnigramLm.FrozenModel]] — per-row evaluation, so
    * the nll gate adds NO streaming state; only the v1 watermark dedup is
    * stateful). Per-doc nll is bit-identical to batch x95's relation
    * (same integer-scaled arithmetic; the spec asserts it), so a doc
    * passes the stream gate iff it passes the batch pipeline's. Output =
    * v1's columns plus `nll`. Roll the model by restarting with a freshly
    * frozen side (the x95/x98 twin contract).
    */
  def curateV2(docs: DataFrame,
               model: graft.operators.UnigramLm.FrozenModel,
               maxNll: Double,
               watermark: String = "30 minutes",
               minTokens: Int = 5,
               maxPunctRatio: Double = 0.2): DataFrame = {
    val nllU = udf((t: String) => model.nll(t))
    dedupWithinWatermark(
      curateGates(docs, minTokens, maxPunctRatio)
        .withColumn("nll", nllU(col("text")))
        .filter(col("nll").isNotNull && col("nll") <= maxNll),
      watermark)
  }

  /** [[curateV2]] v3 — x117's DEPLOYABLE streaming form, in the Lee et
    * al. order: each micro-batch's docs are REWRITTEN first against the
    * persisted gram store (x118's probe — spans the corpus already holds
    * are stripped before any scoring), then gated (length/punct on the
    * CLEANED text) and scored by the FROZEN model against a threshold
    * derived OFFLINE ([[graft.operators.Percentiles.exactThreshold]] over
    * a reference window — production re-derives periodically; a live
    * per-batch percentile would gate every batch against itself, exactly
    * the non-transfer the rehearsal shakedown pinned). The batch's own
    * grams append under [[guardedBatch]]'s replay contract so later
    * batches also strip content this batch has SEEN.
    *
    * Gram-store semantics are CRAWL-SEEN, deliberately matching the x102
    * audit twin: the append carries grams of the RAW batch text — docs
    * the gates reject and spans the rewrite just stripped included — so
    * the store tracks everything the crawl has encountered, not what the
    * curated sink admitted. That is the production posture for a crawl
    * pipeline: a re-fetch of boilerplate whose first copy failed the
    * gates must NOT be re-admitted merely because no earlier copy
    * survived curation (duplicated content is duplicated regardless of
    * which copy the gates liked), and dedup-before-gating is the Lee et
    * al. ordering this pipeline exists to preserve. A caller that instead
    * wants the store to mirror the CURATED corpus (strip only against
    * admitted content) should maintain a second store appended from the
    * sink's kept rows — the append hook is injectable for exactly that.
    *
    * Cross-batch exact dedup composes downstream via the existing twins
    * (x86's stream / dedupWithinWatermark) — this stage's contract is
    * rewrite + gate.
    *
    * Sinked columns: the input columns (text = CLEANED) plus n_tokens,
    * punct_ratio, pred_lang, nll, removed_chars.
    */
  def curateV3(docs: DataFrame, dir: String, k: Int,
               model: graft.operators.UnigramLm.FrozenModel,
               maxNll: Double,
               sink: DataFrame => Unit,
               minTokens: Int = 5,
               maxPunctRatio: Double = 0.2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val guard = new StreamMark.Guard
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      curateV3Batch(batch, batchId, dir, k, model, maxNll, sink, guard,
        inc => graft.sources.GramHistory.append(batch.sparkSession, dir, inc),
        minTokens, maxPunctRatio)
    }
  }

  /** One micro-batch of [[curateV3]] (append injectable, like
    * [[gramAuditBatch]]).
    */
  private[graft] def curateV3Batch(batch: DataFrame, batchId: Long,
      dir: String, k: Int,
      model: graft.operators.UnigramLm.FrozenModel, maxNll: Double,
      sink: DataFrame => Unit,
      guard: StreamMark.Guard,
      append: DataFrame => Unit,
      minTokens: Int = 5, maxPunctRatio: Double = 0.2): Unit =
    gramStoreBatch(batch, batchId, dir, sink, guard, append,
      b => graft.operators.Dedup.batchGramPositions(b, k),
      (b, g, hist) => curateV3FrameFromGrams(b, g, hist, k, model, maxNll,
        minTokens, maxPunctRatio, broadcastProbe = false))

  /** The batch-frame composition itself — shared by the streaming twin
    * (which passes the probe-reduced store relation, broadcastProbe =
    * false) and its spec's batch-equivalence side (raw derived history,
    * default reduction).
    */
  private[graft] def curateV3Frame(batch: DataFrame, historyGrams: DataFrame,
      k: Int, model: graft.operators.UnigramLm.FrozenModel, maxNll: Double,
      minTokens: Int, maxPunctRatio: Double,
      broadcastProbe: Boolean = true): DataFrame =
    curateV3FrameFromGrams(batch,
      graft.operators.Dedup.batchGramPositions(batch, k), historyGrams, k,
      model, maxNll, minTokens, maxPunctRatio, broadcastProbe)

  /** [[curateV3Frame]] over a pre-built batch gram-position relation —
    * the kernel-once form the streaming twin feeds from its one
    * materialized gram pass (round 19).
    */
  private[graft] def curateV3FrameFromGrams(batch: DataFrame, g: DataFrame,
      historyGrams: DataFrame,
      k: Int, model: graft.operators.UnigramLm.FrozenModel, maxNll: Double,
      minTokens: Int, maxPunctRatio: Double,
      broadcastProbe: Boolean = true): DataFrame = {
    val cleaned = graft.operators.Dedup
      .incrementalRemoveSpansFromGrams(batch, g, historyGrams, k,
        broadcastProbe = broadcastProbe)
      .select(col("doc_id"), col("text_clean").as("text"),
        col("removed_chars"))
      .join(batch.drop("text"), Seq("doc_id"))
    val nllU = udf((t: String) => model.nll(t))
    curateGates(cleaned, minTokens, maxPunctRatio)
      .withColumn("nll", nllU(col("text")))
      .filter(col("nll").isNotNull && col("nll") <= maxNll)
  }

  // ------------------------------------------------ streaming near-dup LSH

  final case class BucketHit(band: Int, bucket: Long, doc_id: Long,
                             ts: java.sql.Timestamp)
  final case class CandidatePair(doc_a: Long, doc_b: Long, band: Int,
                                 ts: java.sql.Timestamp)
  final case class BucketState(docs: List[Long]) // doc_ids, newest first

  /** Streaming MinHash-LSH near-dup candidates — x40's streaming twin.
    *
    * Stage 1 is map-only: a per-doc kernel computes the band buckets
    * (bit-identical to the batch `lshCandidates` buckets, so streaming and
    * batch agree on candidates), exploded to one row per (band, bucket).
    * Stage 2 keys state by (band, bucket) via flatMapGroupsWithState: each
    * arriving doc pairs with the docs already seen in its bucket, then
    * joins the state. State is evicted by event-time timeout once the
    * watermark passes the bucket's last activity + the horizon, and capped
    * at `maxPerBucket` (newest kept) so one degenerate bucket cannot grow
    * unboundedly. A pair sharing several bands is emitted once per band —
    * exact-Jaccard verification (and cross-band dedup) is the downstream
    * batch join's job, exactly as in the batch pipeline.
    */
  def nearDupCandidates(docs: DataFrame,
                        watermark: String = "30 minutes",
                        horizonMs: Long = 30 * 60 * 1000L,
                        numHashes: Int = 128, bands: Int = 32,
                        maxPerBucket: Int = 64): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    val bucketsU = udf((t: String) =>
      Kernels.minHashBandBuckets(Kernels.wordTrigramSet(t), numHashes, bands))
    docs
      .select(col("doc_id"), col("ts"),
        posexplode(bucketsU(col("text"))).as(Seq("band", "bucket")))
      .withWatermark("ts", watermark)
      .as[BucketHit]
      .groupByKey(h => (h.band, h.bucket))
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), hits: Iterator[BucketHit], state: GroupState[BucketState]) =>
          if (hits.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = hits.toSeq.sortBy(h => (h.ts.getTime, h.doc_id))
            if (sorted.isEmpty) Iterator.empty else {
            var seen = state.getOption.map(_.docs).getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer[CandidatePair]()
            sorted.foreach { h =>
              if (!seen.contains(h.doc_id)) {
                seen.foreach { other =>
                  out += CandidatePair(math.min(h.doc_id, other),
                    math.max(h.doc_id, other), h.band, h.ts)
                }
                seen = (h.doc_id :: seen).take(maxPerBucket)
              }
            }
            val lastTs = sorted.map(_.ts.getTime).max
            state.update(BucketState(seen))
            state.setTimeoutTimestamp(lastTs + horizonMs)
            out.iterator
            }
          }
      }
  }

  // --------------------------------------------- streaming SimHash near-dup

  final case class ChunkHit(chunk: Int, ck: Long, doc_id: Long, fp: Long,
                            ts: java.sql.Timestamp)
  final case class HammingPair(doc_a: Long, doc_b: Long, hamming: Int,
                               ts: java.sql.Timestamp)
  final case class ChunkState(ids: List[Long], fps: List[Long]) // newest first

  /** Streaming SimHash near-dup pairs — x45's streaming twin, completing
    * the dedup parity story (every batch near-dup plan has a streaming
    * form: exact dedup ≙ [[curate]]'s within-watermark hash dedup,
    * MinHash-LSH ≙ [[nearDupCandidates]], SimHash ≙ this).
    *
    * Stage 1 is map-only: the SAME per-doc [[Kernels.simHash64]] kernel as
    * the batch path (fingerprints bit-identical), exploded to the four
    * 16-bit chunk buckets (pigeonhole-complete for Hamming distance <= 3).
    * Stage 2 keys state by (chunk, ck): each arriving doc pairs with the
    * fingerprints already seen in its bucket and the Hamming cut is applied
    * IN the state function — unlike LSH, the fingerprint IS the verifier,
    * so this stream emits final pairs, no downstream join. State is
    * watermark-evicted and capped at `maxPerBucket` (newest kept), same
    * bounds as the LSH twin. A pair agreeing on several chunks is emitted
    * once per chunk; dedup across chunks is the consumer's keying (same
    * contract as the LSH twin's per-band emission).
    */
  def simHashNearDupPairs(docs: DataFrame,
                          watermark: String = "30 minutes",
                          horizonMs: Long = 30 * 60 * 1000L,
                          maxDist: Int = 3,
                          maxPerBucket: Int = 64): Dataset[HammingPair] = {
    val fpU = udf((t: String) => Kernels.simHash64(t))
    bandedHammingPairs(
      docs
        .filter(col("text").rlike("\\S")) // same >=1-token gate as batch
        .select(col("doc_id"), col("ts"), fpU(col("text")).as("fp")),
      watermark, horizonMs, maxDist, maxPerBucket)
  }

  /** Streaming payload perceptual near-dup pairs — x104's streaming twin,
    * extending the dedup parity story to the BINARY payload column: the
    * SAME per-row [[graft.operators.Multimodal.Kernels.dHash64]] kernel as
    * the batch path (fingerprints bit-identical), then the shared 64-bit
    * chunk-banding state machinery. Expects (media_id, ts, content) rows;
    * the wide binary column is consumed by the map-only kernel and never
    * enters state — state holds 8-byte fingerprints, same bounds as the
    * SimHash twin.
    */
  def payloadNearDupPairs(media: DataFrame,
                          watermark: String = "30 minutes",
                          horizonMs: Long = 30 * 60 * 1000L,
                          maxDist: Int = 3,
                          maxPerBucket: Int = 64): Dataset[HammingPair] = {
    val phU = udf((content: Array[Byte]) =>
      graft.operators.Multimodal.Kernels.dHash64(content))
    bandedHammingPairs(
      media.select(col("media_id").as("doc_id"), col("ts"),
        phU(col("content")).as("fp")),
      watermark, horizonMs, maxDist, maxPerBucket)
  }

  /** Shared chunk-banded Hamming pair stream over any 64-bit fingerprint
    * family (the streaming twin of [[graft.operators.Dedup.hammingNearDups64]]):
    * input (doc_id, ts, fp) rows, pigeonhole-complete for maxDist <= 3.
    * A pair agreeing on several chunks is emitted once per chunk; dedup
    * across chunks is the consumer's keying (same contract as the LSH
    * twin's per-band emission).
    */
  private def bandedHammingPairs(fps: DataFrame,
                                 watermark: String,
                                 horizonMs: Long,
                                 maxDist: Int,
                                 maxPerBucket: Int): Dataset[HammingPair] = {
    require(maxDist <= 3, "4-chunk banding is only complete for maxDist <= 3")
    import fps.sparkSession.implicits._
    fps
      .select(col("doc_id"), col("ts"), col("fp"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("fp"), c * 16).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("chunk", "ck")))
      .withWatermark("ts", watermark)
      .as[ChunkHit]
      .groupByKey(h => (h.chunk, h.ck))
      .flatMapGroupsWithState[ChunkState, HammingPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), hits: Iterator[ChunkHit], state: GroupState[ChunkState]) =>
          if (hits.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = hits.toSeq.sortBy(h => (h.ts.getTime, h.doc_id))
            if (sorted.isEmpty) Iterator.empty else {
              var st = state.getOption.getOrElse(ChunkState(Nil, Nil))
              val out = scala.collection.mutable.ArrayBuffer[HammingPair]()
              sorted.foreach { h =>
                if (!st.ids.contains(h.doc_id)) {
                  st.ids.iterator.zip(st.fps.iterator).foreach { case (id, fp) =>
                    val d = java.lang.Long.bitCount(fp ^ h.fp)
                    if (d <= maxDist)
                      out += HammingPair(math.min(h.doc_id, id),
                        math.max(h.doc_id, id), d, h.ts)
                  }
                  st = ChunkState((h.doc_id :: st.ids).take(maxPerBucket),
                    (h.fp :: st.fps).take(maxPerBucket))
                }
              }
              val lastTs = sorted.map(_.ts.getTime).max
              state.update(st)
              state.setTimeoutTimestamp(lastTs + horizonMs)
              out.iterator
            }
          }
      }
  }

  // --------------------------------------------- streaming vector near-dup

  final case class VecBucketHit(band: Int, bucket: Long, vec_id: Long,
                                embedding: Seq[Float], ts: java.sql.Timestamp)
  final case class CosinePair(vec_a: Long, vec_b: Long, cos_sim: Double,
                              ts: java.sql.Timestamp)
  final case class VecBucketState(ids: List[Long], embs: List[Seq[Float]]) // newest first

  /** Streaming embedding near-dup pairs — the VECTOR member of the
    * batch↔streaming parity matrix (text MinHash-LSH ≙
    * [[nearDupCandidates]], SimHash ≙ [[simHashNearDupPairs]], vector LSH
    * ≙ this; the batch analogs are x40/x45/x42-x43).
    *
    * Stage 1 is map-only: arriving vectors are banded by the SAME
    * deterministic random-hyperplane buckets as the batch ANN path
    * ([[graft.operators.Similarity.bandBuckets]] over the fixed-seed
    * planes — streaming and batch agree on buckets bit-for-bit). Stage 2
    * keys state by (band, bucket): each arriving vector pairs with the
    * vectors already seen in its bucket and is verified IN the state
    * function with the exact left-to-right cosine (the same summation
    * order as the native batch scoring expression, so scores are
    * bit-equal) — pairs at or above `threshold` emit FINAL, no downstream
    * join. The embedding rides the state, so memory per bucket is bounded
    * by `maxPerBucket` x dim; eviction and horizon semantics are the LSH
    * twin's (watermark + event-time timeout, newest-kept cap). A pair
    * colliding in several bands emits once per band; dedup across bands
    * is the consumer's keying (the twins' shared contract).
    */
  def vectorNearDupPairs(vecs: DataFrame, threshold: Double = 0.9,
                         watermark: String = "30 minutes",
                         horizonMs: Long = 30 * 60 * 1000L,
                         numPlanes: Int = 64, bands: Int = 16, dim: Int = 64,
                         seed: Long = 42L,
                         maxPerBucket: Int = 64): Dataset[CosinePair] = {
    import vecs.sparkSession.implicits._
    val planes = graft.operators.Similarity.gaussianPlanes(numPlanes, dim, seed)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    vecs
      .select(col("vec_id"), col("ts"), col("embedding"),
        posexplode(graft.operators.Similarity.bandBuckets(
          col("embedding"), planes, bands)).as(Seq("band", "bucket")))
      .withWatermark("ts", watermark)
      .as[VecBucketHit]
      .groupByKey(h => (h.band, h.bucket))
      .flatMapGroupsWithState[VecBucketState, CosinePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), hits: Iterator[VecBucketHit], state: GroupState[VecBucketState]) =>
          if (hits.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = hits.toSeq.sortBy(h => (h.ts.getTime, h.vec_id))
            if (sorted.isEmpty) Iterator.empty else {
              var st = state.getOption.getOrElse(VecBucketState(Nil, Nil))
              val out = scala.collection.mutable.ArrayBuffer[CosinePair]()
              sorted.foreach { h =>
                if (!st.ids.contains(h.vec_id)) {
                  st.ids.iterator.zip(st.embs.iterator).foreach { case (id, e) =>
                    val c = cos(h.embedding, e)
                    if (c >= threshold)
                      out += CosinePair(math.min(h.vec_id, id),
                        math.max(h.vec_id, id), c, h.ts)
                  }
                  st = VecBucketState((h.vec_id :: st.ids).take(maxPerBucket),
                    (h.embedding :: st.embs).take(maxPerBucket))
                }
              }
              val lastTs = sorted.map(_.ts.getTime).max
              state.update(st)
              state.setTimeoutTimestamp(lastTs + horizonMs)
              out.iterator
            }
          }
      }
  }

  // ---------------------------------------------- streaming decontamination

  /** Streaming benchmark decontamination — x70's streaming twin, sharing
    * the batch plan's EXACT shape ([[graft.operators.Decontaminate]]):
    * each micro-batch is scored by the same broadcast-bloom map-side prune
    * + exact equi-join with the suite's distinct-trigram relation + per-doc
    * count that the batch x70 query runs, via `foreachBatch`.
    *
    * Scale contract: nothing suite-sized ever lands in driver memory (the
    * driver holds only the bloom's ~12 MB-at-1%-FPP bits; the trigram
    * relation stays distributed — the previous driver-Set design tied
    * driver heap to suite size), per-batch work is bounded by that batch's
    * rows (join+agg over a micro-batch with a broadcast bench side), and
    * the stream keeps NO cross-batch state: each doc is scored within the
    * batch that carries it, so there is no watermark and no state store.
    *
    * Feed the CORPUS stream — the batch query excludes the eval-suite's
    * own rows (`source <> 'src0'`) before scoring, so a stream still
    * carrying eval docs must filter them upstream (they would otherwise
    * self-overlap as trivially contaminated rows the batch relation does
    * not contain). Build the side once ([[Decontaminate.benchSide]] —
    * keep its cache for the query's lifetime) and restart the query with
    * a new side to refresh the suite. `sink` receives each micro-batch's
    * (doc_id, n_overlap, contaminated) rows — x70's exact schema.
    *
    * Returns the un-started writer so the caller picks trigger/checkpoint.
    */
  def decontaminate(docs: DataFrame,
                    bench: graft.operators.Decontaminate.BenchSide,
                    sink: DataFrame => Unit, threshold: Int = 5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(graft.operators.Decontaminate.score(batch, bench, threshold))
    }

  // ---------------------------------------------- streaming shared spans

  /** Streaming boilerplate scoring — x82's streaming twin: each arriving
    * document's winnowing fingerprints are marked against a FROZEN
    * shared-span vocabulary and scored per doc, with the exact batch plan
    * ([[graft.operators.TextAnalysis.scoreAgainstVocab]]) run per
    * micro-batch via `foreachBatch`.
    *
    * Contract: batch x82's vocabulary is self-referential (built from the
    * same corpus it scores) — a stream cannot replicate that incrementally
    * without unbounded state, so the streaming twin scores against a
    * vocabulary SNAPSHOT built batch-side
    * ([[graft.operators.TextAnalysis.sharedSpanVocab]] over the reference
    * corpus, e.g. the persisted store this stream appends to; keep its
    * cache for the query's lifetime, restart with a new side to refresh).
    * Scoring a corpus against a vocabulary built from that same corpus is
    * bit-identical to batch x82 — the spec asserts exactly that. Scale
    * shape: the vocabulary is the boilerplate lexicon (bounded, broadcast);
    * per-batch work is batch-sized; no cross-batch streaming state.
    *
    * `sink` receives each micro-batch's (doc_id, n_fp, n_shared,
    * shared_ratio) rows — x82's exact schema. Returns the un-started
    * writer so the caller picks trigger/checkpoint.
    */
  def sharedSpans(docs: DataFrame, vocab: DataFrame,
                  sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(graft.operators.TextAnalysis.scoreAgainstVocab(batch, vocab))
    }

  // ---------------------------------------------- streaming drift monitor

  /** Streaming distribution-drift monitor — x98's streaming twin: each
    * micro-batch's per-slice token distribution is scored against a
    * FROZEN reference model (the [[graft.operators.UnigramLm.train]]
    * output over the reference corpus) via
    * [[graft.operators.DistributionDrift.klAgainstReference]] — the
    * ingest-anomaly use drift actually has: "did this hour's crawl of
    * source S stop looking like the corpus". Same frozen-side contract
    * as [[perplexityScore]]: model broadcast and bounded, per-batch work
    * batch-sized, no cross-batch state; kl closes over the reference
    * vocabulary and the discarded influx reports as `oov_rate`.
    *
    * `sink` receives each micro-batch's (slice, n_toks, kl, oov_rate)
    * rows. Returns the un-started writer so the caller picks
    * trigger/checkpoint.
    */
  def driftMonitor(docs: DataFrame, vocab: DataFrame, scalars: DataFrame,
                   sink: DataFrame => Unit, sliceCol: String = "source")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(graft.operators.DistributionDrift
        .klAgainstReference(batch, vocab, scalars, sliceCol))
    }

  // --------------------------------------------- streaming heavy hitters

  /** Streaming heavy-hitters — x96's streaming twin: each micro-batch
    * folds into its own ≤k Misra–Gries summary (one distributed aggregate,
    * O(k) state per task), and the batch summaries merge into a running
    * session summary under the same mergeable-summaries rule
    * ([[graft.operators.HeavyHitters.mergeSummaries]]), so the undercount
    * bound stays ≤ W_seen/(k+1) over EVERYTHING the stream has carried —
    * the one cross-batch datum is the O(k) summary itself, which is why a
    * sketch (and not the exact count) is the streamable form of this
    * query at all.
    *
    * The running summary lives in driver memory for the query's lifetime
    * (k entries — bytes, not state-store state) and is NOT checkpointed:
    * on restart the sketch restarts empty, which under-reports history
    * but never fabricates counts (the conservative failure mode for a
    * skew monitor); replayed epochs (foreachBatch is at-least-once) are
    * detected by batchId and merge exactly once, so re-delivery cannot
    * overcount either. A deployment that needs restart continuity persists
    * `sink`'s output and seeds the next query with it via `seed`.
    *
    * `sink` receives the merged summary after every micro-batch.
    * Returns the un-started writer so the caller picks trigger/checkpoint.
    */
  def heavyHitters(rows: DataFrame, k: Int,
                   sink: Map[String, Long] => Unit,
                   seed: Map[String, Long] = Map.empty)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.HeavyHitters
    val state = new MgMergeState(k, seed)
    rows.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val out = batch
        .agg(HeavyHitters.mgSketch(col("tok"), col("tf"), k).as("mg"))
        .select(col("mg.toks"), col("mg.ws"))
        .collect().headOption
      val batchSummary = out match {
        case Some(r) if !r.isNullAt(0) =>
          r.getSeq[String](0).zip(r.getSeq[Long](1)).toMap
        case _ => Map.empty[String, Long]
      }
      sink(state.merge(batchId, batchSummary))
    }
  }

  /** Cross-batch Misra–Gries merge state with at-least-once replay
    * protection: foreachBatch may re-deliver an already-merged batchId
    * after an epoch retry — merging it again would double-count,
    * fabricating weight the stream never carried. The state pairs the
    * summary with the last-merged batchId and replayed epochs re-emit the
    * existing summary unchanged (idempotent for the sink).
    */
  private[graft] final class MgMergeState(k: Int, seed: Map[String, Long]) {
    private val ref =
      new java.util.concurrent.atomic.AtomicReference((-1L, seed))
    def merge(batchId: Long, batchSummary: Map[String, Long]): Map[String, Long] =
      ref.updateAndGet { case cur @ (last, s) =>
        if (batchId <= last) cur
        else (batchId, graft.operators.HeavyHitters.mergeSummaries(s, batchSummary, k))
      }._2
  }

  // ------------------------------------------ streaming perplexity scoring

  /** Streaming unigram-LM perplexity scoring — x95's streaming twin: each
    * arriving document is scored against a FROZEN model (the
    * (vocab, scalars) pair from [[graft.operators.UnigramLm.train]] over a
    * reference corpus) with the exact batch plan
    * ([[graft.operators.UnigramLm.score]]) per micro-batch via
    * `foreachBatch` — the x82/x70 contract: model side broadcast and
    * bounded (`vocabCap` at scale), per-batch work batch-sized, no
    * cross-batch state, no watermark. Scoring a corpus against the model
    * trained on that same corpus is bit-identical to batch x95 — the spec
    * asserts exactly that. Restart the query with a freshly trained side
    * to roll the model (CCNet-style periodic retrain).
    *
    * `sink` receives each micro-batch's (doc_id, n_toks, nll) rows —
    * x95's exact schema. Returns the un-started writer so the caller
    * picks trigger/checkpoint.
    */
  def perplexityScore(docs: DataFrame, vocab: DataFrame, scalars: DataFrame,
                      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(graft.operators.UnigramLm.score(batch, vocab, scalars))
    }

  // --------------------------------------- streaming incremental gram audit

  /** Streaming incremental substring audit — x102's streaming twin,
    * completing the dedup parity matrix (text LSH / SimHash / vector /
    * whole-doc hash / substring): each micro-batch's documents score their
    * character-k-gram overlap against the PERSISTED corpus gram store
    * ([[graft.sources.GramHistory]] — `create()` it for `dir` first), then
    * the batch's own grams append to the store so every LATER batch sees
    * them. Within a micro-batch, docs score against history only — exactly
    * [[graft.operators.Dedup.incrementalDupGrams]]'s batch contract, so a
    * one-micro-batch stream is bit-identical to the batch operator (the
    * spec asserts it) and an N-batch stream equals N sequential batch runs
    * with the store grown between them.
    *
    * WHY the state lives in the store and not the state-store: gram state
    * at substring granularity is ~10^11 entries at 100 TB (vs 16 B/doc for
    * x86's hashes) — orders past what per-key streaming state should hold.
    * The bucketed on-disk store IS the cross-batch state: probe rides the
    * bucket layout with no history-side exchange, append is
    * bucket-compatible files, and restarts resume from disk for free.
    *
    * Delivery and replay: [[guardedBatch]]. A re-append is harmless — the
    * gram store has membership semantics.
    */
  def incrementalDupGrams(docs: DataFrame, dir: String, k: Int,
                          sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val guard = new StreamMark.Guard
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      gramAuditBatch(batch, batchId, dir, k, sink, guard,
        inc => graft.sources.GramHistory.append(batch.sparkSession, dir, inc))
    }
  }

  /** One micro-batch of [[incrementalDupGrams]] (the store append
    * injectable, so the replay contract is directly spec-gated).
    */
  private[graft] def gramAuditBatch(batch: DataFrame, batchId: Long,
      dir: String, k: Int, sink: DataFrame => Unit,
      guard: StreamMark.Guard,
      append: DataFrame => Unit): Unit =
    gramStoreBatch(batch, batchId, dir, sink, guard, append,
      b => graft.operators.Dedup.batchGramCounts(b, k),
      (b, g, hist) => graft.operators.Dedup.incrementalDupGramsFromGrams(
        b, g, hist, k, broadcastProbe = false))

  /** Streaming incremental span REMOVAL — x118's streaming twin: each
    * micro-batch's docs are REWRITTEN dropping spans whose grams the
    * corpus already holds (the streaming-crawl form of the Lee et al.
    * removal step), then the batch's own grams append so later batches
    * also strip content THIS batch introduced. Same store, same replay
    * contract, same one-batch ≡ batch-operator contract as the audit
    * twin — only the per-batch scoring differs.
    */
  def incrementalRemoveSpans(docs: DataFrame, dir: String, k: Int,
                             sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val guard = new StreamMark.Guard
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      gramRemovalBatch(batch, batchId, dir, k, sink, guard,
        inc => graft.sources.GramHistory.append(batch.sparkSession, dir, inc))
    }
  }

  private[graft] def gramRemovalBatch(batch: DataFrame, batchId: Long,
      dir: String, k: Int, sink: DataFrame => Unit,
      guard: StreamMark.Guard,
      append: DataFrame => Unit): Unit =
    gramStoreBatch(batch, batchId, dir, sink, guard, append,
      b => graft.operators.Dedup.batchGramPositions(b, k),
      (b, g, hist) => graft.operators.Dedup.incrementalRemoveSpansFromGrams(
        b, g, hist, k, broadcastProbe = false))

  /** Shared body of the gram-store twins (audit x102 / removal x118 /
    * curateV3): score the micro-batch against the registered store under
    * [[guardedBatch]]. The append hashes the RAW batch text (crawl-seen
    * store semantics — rejected/stripped content still suppresses future
    * arrivals; see [[curateV3]]'s scaladoc for why that is deliberate).
    */
  private def gramStoreBatch(batch: DataFrame, batchId: Long,
      dir: String, sink: DataFrame => Unit,
      guard: StreamMark.Guard,
      append: DataFrame => Unit,
      gramRel: DataFrame => DataFrame,
      score: (DataFrame, DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    // round 19 (the x102/x118 batch fold, ported): ONE gram-kernel pass
    // per micro-batch — the materialized per-doc gram relation feeds the
    // probe keyset, the score tail AND the append increment; lazily the
    // per-doc gram UDF ran once for each (three batch-wide passes)
    lazy val g = graft.util.Materialize.eager(gramRel(batch))
    lazy val keys = g.select(col(graft.sources.GramHistory.GramCol)).distinct()
    guardedBatch(batch, batchId, sink,
        storeLeg(spark, graft.sources.GramHistory, dir, guard)(append(keys))) {
      // the probe-reduced store relation (sidecar-bloom pre-cut + sort-free
      // broadcast-semi verify — GramHistory.probeHistory's contract); the
      // score functions pass broadcastProbe=false, the already-reduced form
      score(batch, g, graft.sources.GramHistory.probeHistory(spark, dir, keys)(
        unreachable(dir)))
    }
  }

  /** One store of a [[guardedBatch]]: its guard, its mark, its append. */
  private final case class Leg(guard: StreamMark.Guard,
                               mark: org.apache.hadoop.fs.Path,
                               append: () => Unit)

  /** The [[Leg]] of `store`'s history for `dir`; throws when no store is
    * registered for `dir` (`create()` or `attach()` it first — an empty
    * history is fine).
    */
  private def storeLeg(spark: SparkSession,
                       store: graft.sources.BucketedStore[_], dir: String,
                       guard: StreamMark.Guard)(append: => Unit): Leg =
    Leg(guard, StreamMark.markPath(spark,
      store.registeredFor(spark, dir, "stream")._1), () => append)

  /** The fallback of a store scan whose registration [[storeLeg]] checked. */
  private def unreachable(dir: String): Nothing =
    sys.error(s"unreachable: the stores for $dir are registered")

  /** The replay contract of every store-appending twin, run once per
    * micro-batch. `foreachBatch` is at-least-once: Spark re-delivers an
    * epoch after a failure or a restart. Each store the batch appends to
    * has a [[StreamMark.Guard]] — the last batchId whose append to it
    * committed, persisted beside the store and scoped to the streaming
    * lineage (see [[StreamMark]]). Per micro-batch:
    *
    *  1. each guard recovers its persisted mark on first use;
    *  2. when every store already committed `batchId`, the whole body is
    *     skipped: the commits prove the original `sink` call returned, and
    *     re-scoring against stores that now CONTAIN the batch would
    *     re-emit changed rows (every row a self-hit) for a batchId the
    *     sink already consumed;
    *  3. otherwise `score` runs against the pre-append stores and is
    *     pinned (persist + count) before `sink` sees it, so a sink that
    *     consumes the rows inside the body sees pre-append values. The pin
    *     is released when the batch ends: a sink that defers its action
    *     recomputes against the grown stores — write out synchronously;
    *  4. then each store whose mark is below `batchId` appends, persists
    *     its mark and advances it. A mark moves only after its append
    *     commits: an append that throws is retried on replay, and a store
    *     that committed is never re-appended.
    *
    * A crash between an append and its mark persist (or a failed persist,
    * which degrades to the in-session guard) re-appends that one batch on
    * replay; each twin documents what a re-append means for its store.
    */
  private def guardedBatch(batch: DataFrame, batchId: Long,
      sink: DataFrame => Unit, legs: Leg*)(
      score: => DataFrame): Unit = {
    val spark = batch.sparkSession
    if (legs.map(l => l.guard.committed(spark, l.mark)).exists(_ < batchId)) {
      val scored = score.persist()
      try {
        scored.count(): Unit // pin pre-append values
        sink(scored)
        legs.foreach(l => l.guard.commit(spark, l.mark, batchId)(l.append()))
      } finally scored.unpersist(): Unit
    }
  }

  /** Streaming incremental payload near-dup — x109's streaming twin, the
    * payload member of the store-as-state family: each micro-batch's media
    * payloads are fingerprinted map-only and probed against the PERSISTED
    * [[graft.sources.PhashHistory]] store (`create()` it for `dir` first;
    * an empty history is fine), then the batch's own fingerprints append
    * so every LATER batch sees them. Within a micro-batch, payloads pair
    * against history only — exactly the x109 batch contract, so a
    * one-micro-batch stream is bit-identical to the batch operator (the
    * spec asserts it).
    *
    * Same store-as-state rationale as the gram twin (the chunk-exploded
    * fingerprint relation is 64 B/payload at corpus scale — cross-batch
    * state belongs in the bucketed on-disk store, probed with no
    * history-side exchange). Replay: [[guardedBatch]]; a re-append is
    * absorbed by the probe's distinct (membership semantics).
    */
  def incrementalPayloadNearDups(media: DataFrame, dir: String,
                                 sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val guard = new StreamMark.Guard
    media.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      payloadAuditBatch(batch, batchId, dir, sink, guard,
        inc => graft.sources.PhashHistory.append(batch.sparkSession, dir, inc))
    }
  }

  /** One micro-batch of [[incrementalPayloadNearDups]] (append injectable,
    * like [[gramAuditBatch]]).
    */
  private[graft] def payloadAuditBatch(batch: DataFrame, batchId: Long,
      dir: String, sink: DataFrame => Unit,
      guard: StreamMark.Guard,
      append: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    guardedBatch(batch, batchId, sink,
        storeLeg(spark, graft.sources.PhashHistory, dir, guard)(
          append(graft.operators.Multimodal.payloadFingerprints(batch)))) {
      graft.operators.Multimodal.incrementalPayloadNearDups(batch,
        graft.sources.PhashHistory.scanOrCompute(spark, dir)(unreachable(dir)))
    }
  }

  /** Streaming incremental text NEAR-DUP — x123's streaming twin, the
    * text member of the store-as-state family: each micro-batch's docs
    * are MinHash-banded map-only and probed against the PERSISTED
    * [[graft.sources.MinHashHistory]] LSH index (`create()` it for `dir`
    * first; an empty history is fine), then the batch's own band +
    * shingle rows append so every LATER batch sees them. Within a
    * micro-batch, docs pair against history only — exactly the x123
    * batch contract, so a one-micro-batch stream is bit-identical to the
    * batch operator (the spec asserts it).
    *
    * Same store-as-state rationale as the gram twin (the shingle-hash
    * relation is corpus-token-scale — cross-batch state belongs in the
    * bucketed on-disk store). Replay: [[guardedBatch]]; shingle rows are
    * COUNTED evidence (intersections and denominators), not membership,
    * so a re-append inflates both until
    * [[graft.sources.MinHashHistory.compact]] restores distinct rows.
    * Input frame: (doc_id, text, lang, n_chars).
    */
  def incrementalNearDups(docs: DataFrame, dir: String,
                          sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val guard = new StreamMark.Guard
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      nearDupBatch(batch, batchId, dir, sink, guard,
        b => graft.sources.MinHashHistory.append(b.sparkSession, dir,
          graft.queries.TextOps.minHashBandsOf(b),
          graft.queries.TextOps.minHashShinglesOf(b)))
    }
  }

  /** One micro-batch of [[incrementalNearDups]] (append injectable, like
    * [[gramAuditBatch]]).
    */
  private[graft] def nearDupBatch(batch: DataFrame, batchId: Long,
      dir: String, sink: DataFrame => Unit,
      guard: StreamMark.Guard,
      append: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    guardedBatch(batch, batchId, sink,
        storeLeg(spark, graft.sources.MinHashHistory, dir, guard)(
          append(batch))) {
      graft.queries.TextOps.nearDupLeg(spark, dir,
        graft.queries.TextOps.shingleArrays(batch), unreachable(dir))
    }
  }

  /** Streaming incremental EMBEDDING near-dup — x124's streaming twin,
    * the embedding member of the store-as-state family (and its LAST
    * asymmetric member: every other incremental store already had its
    * micro-batch form): each micro-batch's vectors probe the PERSISTED
    * [[graft.operators.IvfStore]] index at `path`
    * ([[graft.operators.IvfStore.create]] it first — an empty history is
    * fine), exactly the x124 batch contract — frozen coarse centroids,
    * exact cosine within `nprobe` probed cells, pairs at
    * `cos_sim >= threshold` — then the batch's own vectors append so every
    * LATER batch sees them. Within a micro-batch, vectors probe history
    * only, so a one-micro-batch stream is bit-identical to the batch
    * operator (the spec asserts it).
    *
    * Store-as-state rationale as the family's: the vector corpus is
    * index-scale — cross-batch state belongs in the per-cell on-disk
    * layout, not a state store. Replay: [[guardedBatch]], with the mark
    * path-addressed (the IvfStore family has no catalog table); appended
    * vector rows take top-k SEATS, so a re-append leaves duplicate
    * (vec_id, embedding) rows each holding a seat until
    * [[graft.operators.IvfStore.compact]] restores distinct rows. Input
    * frame: (vec_id, embedding); sink frame: (batch_id, hist_id, cos_sim)
    * — x124's operator columns.
    */
  def incrementalEmbedProbe(vectors: DataFrame, path: String,
                            sink: DataFrame => Unit,
                            k: Int = 4, nprobe: Int = 4,
                            threshold: Double = 0.999)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val guard = new StreamMark.Guard
    vectors.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      embedProbeBatch(batch, batchId, path, sink, guard,
        inc => graft.operators.IvfStore.append(batch.sparkSession, path, inc),
        k, nprobe, threshold)
    }
  }

  /** One micro-batch of [[incrementalEmbedProbe]] (append injectable, like
    * [[gramAuditBatch]]).
    */
  private[graft] def embedProbeBatch(batch: DataFrame, batchId: Long,
      path: String, sink: DataFrame => Unit,
      guard: StreamMark.Guard,
      append: DataFrame => Unit, k: Int = 4, nprobe: Int = 4,
      threshold: Double = 0.999): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "centroids")))
      throw new IllegalStateException(
        s"streaming incrementalEmbedProbe: no IvfStore at $path — " +
          "IvfStore.create() first (an empty history is fine)")
    guardedBatch(batch, batchId, sink,
        Leg(guard, StreamMark.markPathAt(path),
          () => append(batch.select(col("vec_id"), col("embedding"))))) {
      graft.operators.IvfStore.search(spark, path,
          batch.select(col("vec_id").as("query_id"),
            col("embedding").as("qe")), k, nprobe)
        .filter(col("cos_sim") >= threshold)
        .select(col("query_id").as("batch_id"), col("vec_id").as("hist_id"),
          round(col("cos_sim"), 4).as("cos_sim"))
    }
  }

  /** Streaming crawl TRIAGE — x125's streaming twin, and the deployable
    * crawl-cadence form of the composed text-side verdict: each
    * micro-batch of documents (doc_id, text, lang, n_chars) is probed
    * through ALL THREE text-side incremental stores at once — exact
    * status against [[graft.sources.HashHistory]], best history
    * near-dup Jaccard against [[graft.sources.MinHashHistory]],
    * duplicated-substring fraction against [[graft.sources.GramHistory]]
    * (create all three for `dir` first; empty histories are fine) —
    * resolved to the x125 verdict
    * (drop_exact / drop_near / strip_spans / keep). The micro-batch runs
    * the SAME code as the batch entry: x125's all-legs composition
    * ([[graft.queries.TextOps.triageAll]] — the batch materialized once,
    * the three leg builders overlapped) and its verdict
    * ([[graft.queries.TextOps.withVerdict]]), so a one-micro-batch
    * stream is bit-identical to the batch operator (the spec asserts
    * it). Then the batch appends to all three stores, EACH behind its
    * own guard under [[guardedBatch]] — the stores have
    * independent lineages (the x86/x102/x123 twins share them), so a
    * replay after a mid-sequence append failure retries ONLY the store
    * whose append did not commit (spec-gated); re-appends carry each
    * store's own semantics (membership for hash/gram, counted shingle
    * evidence for minhash — compact() restores). A leg that throws
    * fails the micro-batch with that leg's own exception before the sink
    * or any append runs, so no mark moves and the replay re-scores the
    * batch (spec-gated).
    *
    * A PARTIAL replay (some stores committed, some not) still runs — the
    * uncommitted appends need their retry — and therefore re-emits this
    * batch's verdicts WITH the committed stores' self-hits visible: pair
    * `sink` with a batchId-keyed idempotent write if downstream consumes
    * verdicts transactionally.
    *
    * `cascade = true` runs each micro-batch through x126's steady-state
    * form instead ([[graft.queries.TextOps.triageCascade]]: exact status
    * first, the near-dup probe on `kept` survivors only, the gram audit
    * on near-dup survivors only — unprobed legs read 0). The verdict
    * relation is identical either way (legs are per-doc independent), so
    * the watermark/append/replay machinery is shared; a crawl stream
    * should run the cascade — it wins 2.3× on store-scale dup-heavy
    * batches and never loses more than its fixed materialization cost
    * (BASELINE round-18; on fully-novel batches BOTH forms now
    * short-circuit to zero store reads via the bloom-gated probes, so
    * the forms tie there).
    *
    * `stripThrScaled` — the production strip cut (x118's curateV3
    * precedent: derived OFFLINE, fed to the stream as a scalar): an
    * x127-style scaled-integer threshold
    * ([[graft.queries.TextOps.deriveStripThrScaled]] over a reference
    * window's measure matrix — re-derive periodically). The stream then
    * gates exactly as the x127 batch form does
    * (`round(hist_frac × 10^6) > t`, exact in scaled integers); None
    * keeps x125's pinned 0.3 cut. A live per-batch percentile is
    * deliberately NOT offered — it would gate every batch against
    * itself, the non-transfer the rehearsal shakedown pinned.
    */
  def crawlTriage(docs: DataFrame, dir: String,
                  k: Int = graft.queries.TextOps.DupGramK,
                  sink: DataFrame => Unit,
                  cascade: Boolean = false,
                  stripThrScaled: Option[Long] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val (gHash, gGram, gMh) =
      (new StreamMark.Guard, new StreamMark.Guard, new StreamMark.Guard)
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      triageBatch(batch, batchId, dir, k, sink, gHash, gGram, gMh,
        b => graft.sources.HashHistory.append(b.sparkSession, dir,
          b.select(unhex(md5(col("text"))).as("th"))),
        b => graft.sources.GramHistory.append(b.sparkSession, dir,
          graft.sources.GramHistory.gramHashes(b, k)),
        b => graft.sources.MinHashHistory.append(b.sparkSession, dir,
          graft.queries.TextOps.minHashBandsOf(b),
          graft.queries.TextOps.minHashShinglesOf(b)),
        cascade, stripThrScaled)
    }
  }

  /** One micro-batch of [[crawlTriage]] — the triage composed under
    * three guards (appends injectable, so the per-store replay contract
    * is directly spec-gated).
    */
  private[graft] def triageBatch(batch: DataFrame, batchId: Long,
      dir: String, k: Int, sink: DataFrame => Unit,
      gHash: StreamMark.Guard, gGram: StreamMark.Guard,
      gMh: StreamMark.Guard,
      appendHash: DataFrame => Unit, appendGram: DataFrame => Unit,
      appendMh: DataFrame => Unit, cascade: Boolean = false,
      stripThrScaled: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    guardedBatch(batch, batchId, sink,
        storeLeg(spark, graft.sources.HashHistory, dir, gHash)(appendHash(batch)),
        storeLeg(spark, graft.sources.GramHistory, dir, gGram)(appendGram(batch)),
        storeLeg(spark, graft.sources.MinHashHistory, dir, gMh)(appendMh(batch))) {
      // cascade = x126's steady-state form per micro-batch (exact status
      // first, near-dup only on kept survivors, gram audit only on
      // near-dup survivors — unprobed legs read 0); default = x125's
      // explainable all-legs form. Same verdict relation either way (the
      // cascade's legs are per-doc independent — TriageCascadeSpec), so
      // the append/replay machinery is shared untouched.
      if (cascade)
        graft.queries.TextOps.triageCascade(spark, dir, batch,
          graft.queries.TextOps.shingleArrays(batch), unreachable(dir),
          k = k, stripThrScaled = stripThrScaled)
      else
        graft.queries.TextOps.withVerdict(graft.queries.TextOps.triageAll(
          spark, dir, batch, unreachable(dir), k), stripThrScaled)
    }
  }

  /** Streaming incremental audio probe — x113's streaming twin, the audio
    * member of the store-as-state family: each micro-batch's tracks are
    * landmark-fingerprinted map-only and probed against the PERSISTED
    * [[graft.sources.LandmarkHistory]] index (`create()` it for `dir`
    * first; an empty history is fine), then the batch's own landmarks
    * append so every LATER batch sees them. Within a micro-batch, tracks
    * probe history only — exactly the x113 batch contract, so a
    * one-micro-batch stream is bit-identical to the batch operator (the
    * spec asserts it).
    *
    * Same store-as-state rationale as the gram/payload twins. Replay:
    * [[guardedBatch]]; landmark rows are MULTISET evidence (votes count
    * rows), not membership, so a re-append INFLATES later votes for that
    * batch's tracks until [[graft.sources.LandmarkHistory.compact]]
    * restores distinct rows (exact re-appended rows dedupe away —
    * LandmarkHistorySpec pins both directions).
    */
  def incrementalAudioProbe(media: DataFrame, dir: String,
                            sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val guard = new StreamMark.Guard
    media.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      audioProbeBatch(batch, batchId, dir, sink, guard,
        inc => graft.sources.LandmarkHistory.append(batch.sparkSession, dir, inc))
    }
  }

  /** One micro-batch of [[incrementalAudioProbe]] (append injectable, like
    * [[gramAuditBatch]]).
    */
  private[graft] def audioProbeBatch(batch: DataFrame, batchId: Long,
      dir: String, sink: DataFrame => Unit,
      guard: StreamMark.Guard,
      append: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    // the landmark relation is consumed twice (probe votes + query-side
    // coverage denominators) and feeds the append — pin it so the kernel
    // runs once per payload
    val batchLms = graft.operators.Multimodal.audioLandmarkRows(batch)
      .persist()
    try guardedBatch(batch, batchId, sink,
        storeLeg(spark, graft.sources.LandmarkHistory, dir, guard)(
          append(batchLms))) {
      graft.operators.Multimodal.incrementalAudioNearDups(batchLms,
        graft.sources.LandmarkHistory.scanOrCompute(spark, dir)(unreachable(dir)))
    } finally batchLms.unpersist(): Unit
  }

  /** Streaming incremental video probe — x116's streaming twin, the video
    * member of the store-as-state family: each micro-batch's videos are
    * frame-fingerprinted map-only (rows must carry media_id, content,
    * n_frames) and probed against the PERSISTED
    * [[graft.sources.FrameHistory]] store (`create()` it for `dir` first;
    * an empty history is fine) with the x108 Jaccard cut, then the
    * batch's own frames append — frames AND sizes rows — so every LATER
    * batch sees them. Within a micro-batch, videos probe history only —
    * exactly the x116 batch contract, so a one-micro-batch stream is
    * bit-identical to the batch operator (the spec asserts it).
    *
    * Replay: [[guardedBatch]], with the LandmarkHistory-style multiset
    * caveat — a re-append duplicates frame rows and sizes rows, inflating
    * n_match and fanning the sizes join for that batch's videos until
    * [[graft.sources.FrameHistory.compact]] restores distinct rows and
    * exact denominators.
    */
  def incrementalVideoNearDups(media: DataFrame, dir: String,
                               sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val guard = new StreamMark.Guard
    media.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      videoProbeBatch(batch, batchId, dir, sink, guard,
        inc => graft.sources.FrameHistory.append(batch.sparkSession, dir, inc))
    }
  }

  /** One micro-batch of [[incrementalVideoNearDups]] (append injectable,
    * like the sibling twins).
    */
  private[graft] def videoProbeBatch(batch: DataFrame, batchId: Long,
      dir: String, sink: DataFrame => Unit,
      guard: StreamMark.Guard,
      append: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    // the frame relation is consumed twice (match counts + batch set
    // sizes) and feeds the append — pin it so the kernel runs once
    val batchFrames = graft.operators.Multimodal.videoFrameRows(batch)
      .persist()
    try guardedBatch(batch, batchId, sink,
        storeLeg(spark, graft.sources.FrameHistory, dir, guard)(
          append(batchFrames))) {
      val (histFrames, histSizes) =
        graft.sources.FrameHistory.scanOrCompute(spark, dir)(unreachable(dir))
      graft.operators.Multimodal
        .incrementalVideoNearDups(batchFrames, histFrames, histSizes)
    } finally batchFrames.unpersist(): Unit
  }

  // ------------------------------------------- streaming incremental dedup

  final case class HashArrival(doc_id: Long, ts: java.sql.Timestamp,
                               th: String, hist: Boolean)
  final case class DocStatus(doc_id: Long, status: String)
  final case class SeenHash(seen: Boolean, maxTsMs: Long)

  /** Streaming incremental dedup — x86's streaming twin: each arriving
    * document is classified `dup_of_history` / `dup_in_batch` / `kept`
    * against (a) the already-ingested corpus and (b) the stream itself.
    *
    * The history side is the hash-only store relation (16 B/doc — the same
    * contract as [[graft.operators.Dedup.incrementalStatus]]), probed by a
    * STATELESS stream-static left join (broadcast when it fits; at store
    * scale, bucket it on the hash). Within-stream firsts are tracked by
    * per-hash state: one boolean per distinct never-seen-before hash,
    * evicted once the watermark passes its last arrival + the horizon —
    * state is bounded by the horizon's distinct-hash count, never stream
    * length.
    *
    * Semantics deviation from batch, stated: batch elects the MINIMUM
    * doc id of a hash as keeper; a stream cannot retro-demote an emitted
    * `kept` row, so the streaming keeper is the FIRST-ARRIVED doc
    * (event-time order, ties broken by doc id). The two coincide whenever
    * ids are assigned in arrival order — the spec asserts exactly that
    * parity on the x86 fixture.
    */
  def incrementalStatus(docs: DataFrame, historyHashes: DataFrame,
                        watermark: String = "30 minutes",
                        horizonMs: Long = 30 * 60 * 1000L): Dataset[DocStatus] = {
    import docs.sparkSession.implicits._
    val hist = historyHashes.select(col("th")).distinct()
      .withColumn("_hist", lit(true))
    docs
      .select(col("doc_id"), col("ts"), md5(col("text")).as("th"))
      .join(hist, Seq("th"), "left")
      .select(col("doc_id"), col("ts"), col("th"),
        coalesce(col("_hist"), lit(false)).as("hist"))
      .withWatermark("ts", watermark)
      .as[HashArrival]
      .groupByKey(_.th)
      .flatMapGroupsWithState[SeenHash, DocStatus](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[HashArrival], state: GroupState[SeenHash]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(h => (h.ts.getTime, h.doc_id))
            if (sorted.isEmpty) Iterator.empty else {
              var seen = state.getOption.exists(_.seen)
              val out = sorted.map { h =>
                val status =
                  if (h.hist) "dup_of_history"
                  else if (seen) "dup_in_batch"
                  else { seen = true; "kept" }
                DocStatus(h.doc_id, status)
              }
              // history-dup hashes hold no state: the static side already
              // answers every future arrival, so nothing needs remembering
              if (seen) {
                // eviction is LAST-ARRIVAL + horizon: a late (but above-
                // watermark) duplicate must never PULL the timeout earlier
                // than an already-promised horizon, or the hash could be
                // evicted while still covered and re-admit a second "kept"
                val maxTs = math.max(state.getOption.map(_.maxTsMs).getOrElse(0L),
                  sorted.map(_.ts.getTime).max)
                state.update(SeenHash(true, maxTs))
                state.setTimeoutTimestamp(maxTs + horizonMs)
              }
              out.iterator
            }
          }
      }
  }

  /** Streaming dup-CLUSTER resolution — x84's streaming twin, extending the
    * candidate parity matrix (exact/LSH/SimHash/vector pairs all have
    * streaming forms) to the resolution step: each micro-batch's verified
    * pairs are appended to a persisted pair store, and the batch
    * [[graft.operators.Components]] core relabels over ALL pairs so far.
    *
    * Why recompute instead of incremental union-find state: component
    * labels RETRACT — a new cross-batch pair B~C can merge B's cluster into
    * A's, changing C's keeper from C to A. Append-mode state cannot
    * retro-demote an emitted label, so the honest contract is
    * complete-mode: `sink` receives the FULL current labeling each batch
    * (same foreachBatch delivery as [[decontaminate]]/[[sharedSpans]]).
    * The recompute is cheap at any corpus size because its input is the
    * PAIR store — candidates-sized, orders of magnitude below the corpus —
    * and rounds = component diameter (DEDUP_TUNING.md §3).
    *
    * `appendPairs` persists a batch's verified pairs (doc_a, doc_b,
    * jaccard); `allPairs` reads the store back (the same persisted-store
    * device as [[verifiedNearDups]]'s `seenDocs`). Returns the un-started
    * writer so the caller picks trigger/checkpoint.
    *
    * Pair-store SIZE CONTRACT: the store grows with every batch (it is
    * the full verified-pair history — the resolution's whole input), so
    * its size is measured each batch and bounded, never silently
    * unbounded. After each append the store's pair count is counted (one
    * pairs-sized aggregate — noise next to the resolution it gates),
    * reported through `onStoreSize`, and checked against `maxStorePairs`:
    * exceeding the bound fails the QUERY loudly (foreachBatch rethrows,
    * the stream stops) rather than letting per-batch latency degrade
    * unboundedly. Budget arithmetic for the default 10⁸ bound: pairs are
    * ~24 B each (two BIGINTs + a DOUBLE), so the store is ≲ 2.4 GB raw
    * and each resolution round is a join + min-agg over ≤ 10⁸ rows —
    * seconds on a cluster, and far beyond any real dup-pair volume at the
    * corpus sizes the watermarked candidate stage admits (pairs are
    * candidates-sized: near-dup rate × corpus, orders below the corpus).
    * Hitting the bound means the corpus' dup structure, not the stream,
    * needs attention: raise the bound deliberately, or compact the store
    * (re-cluster offline with x84 and keep one representative pair per
    * component).
    */
  def dupComponents(docs: DataFrame,
                    seenDocs: () => DataFrame,
                    appendPairs: DataFrame => Unit,
                    allPairs: () => DataFrame,
                    sink: DataFrame => Unit,
                    watermark: String = "30 minutes",
                    horizonMs: Long = 30 * 60 * 1000L,
                    numHashes: Int = 128, bands: Int = 32,
                    maxPerBucket: Int = 64,
                    maxStorePairs: Long = 100000000L,
                    onStoreSize: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[CandidatePair] =
    nearDupCandidates(docs, watermark, horizonMs, numHashes, bands, maxPerBucket)
      .writeStream
      .foreachBatch { (batch: Dataset[CandidatePair], _: Long) =>
        val cands = batch.toDF().select(col("doc_a"), col("doc_b")).distinct()
        appendPairs(graft.queries.TextOps.exactJaccard(
          graft.queries.TextOps.shingles(seenDocs()), cands))
        val pairs = allPairs()
        val storeSize = pairs.count()
        onStoreSize(storeSize)
        if (storeSize > maxStorePairs)
          throw new IllegalStateException(
            s"dupComponents: pair store holds $storeSize pairs " +
              s"(> maxStorePairs=$maxStorePairs) — resolution latency is no " +
              "longer bounded; raise the bound deliberately or compact the " +
              "store to its spanning star " +
              "(graft.operators.Components.compactPairs — same components, " +
              "|V|-#components pairs)")
        sink(graft.operators.Components.connectedComponents(pairs))
      }

  /** Streaming SEMANTIC dedup clusters — x89's streaming twin, completing
    * the vector column of the batch↔streaming parity matrix (text:
    * [[nearDupCandidates]]→[[dupComponents]]; vector:
    * [[vectorNearDupPairs]]→this). Arriving vectors emit exact-cosine
    * VERIFIED pairs from the banded state (no downstream verify step —
    * [[vectorNearDupPairs]] scores in the state function), each
    * micro-batch appends its pairs to the caller's persisted store (the
    * same `appendPairs`/`allPairs` contract as [[dupComponents]] — the
    * streaming face of [[graft.operators.PairStore]]), and the FULL
    * accumulated pair relation is re-resolved by the identical
    * [[graft.operators.Components]] operator the batch x89 runs, so a
    * stream restarted over the same data converges to the batch answer
    * (cross-band duplicate emissions collapse in the per-batch DISTINCT;
    * cross-batch re-appends collapse in Components' symmetric closure).
    *
    * The pair-store SIZE CONTRACT is [[dupComponents]]'s, verbatim:
    * measured every batch, reported through `onStoreSize`, loudly failed
    * above `maxStorePairs` (see the budget arithmetic there).
    */
  def semanticDupComponents(vecs: DataFrame,
                            appendPairs: DataFrame => Unit,
                            allPairs: () => DataFrame,
                            sink: DataFrame => Unit,
                            threshold: Double = 0.9,
                            watermark: String = "30 minutes",
                            horizonMs: Long = 30 * 60 * 1000L,
                            numPlanes: Int = 64, bands: Int = 16,
                            dim: Int = 64, seed: Long = 42L,
                            maxPerBucket: Int = 64,
                            maxStorePairs: Long = 100000000L,
                            onStoreSize: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[CosinePair] =
    vectorNearDupPairs(vecs, threshold, watermark, horizonMs, numPlanes,
      bands, dim, seed, maxPerBucket)
      .writeStream
      .foreachBatch { (batch: Dataset[CosinePair], _: Long) =>
        appendPairs(
          batch.toDF().select(col("vec_a"), col("vec_b")).distinct())
        val pairs = allPairs()
        val storeSize = pairs.count()
        onStoreSize(storeSize)
        if (storeSize > maxStorePairs)
          throw new IllegalStateException(
            s"semanticDupComponents: pair store holds $storeSize pairs " +
              s"(> maxStorePairs=$maxStorePairs) — resolution latency is no " +
              "longer bounded; raise the bound deliberately or compact the " +
              "store to its spanning star " +
              "(graft.operators.Components.compactPairs — same components, " +
              "|V|-#components pairs)")
        sink(graft.operators.Components
          .connectedComponents(pairs, srcCol = "vec_a", dstCol = "vec_b"))
      }

  /** The loop CLOSED: [[nearDupCandidates]] fed through the batch
    * exact-Jaccard verify ([[graft.queries.TextOps.exactJaccard]] — the
    * identical join x40 runs) inside a `foreachBatch`, so the streaming
    * path emits VERIFIED near-dup pairs (doc_a, doc_b, jaccard >= 0.8),
    * not just banded candidates.
    *
    * `seenDocs` supplies the document corpus visible to the verifier at
    * each micro-batch — in production the persisted doc store this same
    * stream appends to (candidates only ever reference docs already
    * admitted, so the store always covers them); per batch the verify work
    * is bounded by that batch's candidate count, never corpus size.
    * `sink` receives each micro-batch's verified pairs (append
    * semantics; a pair colliding in several bands is deduped within its
    * batch by the verify's DISTINCT, across batches by the sink's keying).
    *
    * Returns the un-started writer so the caller picks trigger/checkpoint.
    */
  def verifiedNearDups(docs: DataFrame,
                       seenDocs: () => DataFrame,
                       sink: DataFrame => Unit,
                       watermark: String = "30 minutes",
                       horizonMs: Long = 30 * 60 * 1000L,
                       numHashes: Int = 128, bands: Int = 32,
                       maxPerBucket: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[CandidatePair] =
    nearDupCandidates(docs, watermark, horizonMs, numHashes, bands, maxPerBucket)
      .writeStream
      .foreachBatch { (batch: Dataset[CandidatePair], _: Long) =>
        val cands = batch.toDF().select(col("doc_a"), col("doc_b")).distinct()
        val sh = graft.queries.TextOps.shingles(seenDocs())
        sink(graft.queries.TextOps.exactJaccard(sh, cands))
      }
}
