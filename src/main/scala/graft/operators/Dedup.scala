package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document deduplication operators for LLM-training-data pipelines, all
  * expressed as bounded-shuffle DataFrame plans (no cross joins, no
  * driver-side loops):
  *
  *  - [[exactDuplicates]]: content-hash groupBy — one shuffle on the hash.
  *  - [[minHashNearDups]]: MinHash + banded LSH candidate generation, then
  *    EXACT Jaccard verification of the candidates. At the default
  *    128 hashes / 32 bands x 4 rows, P(miss) for a true Jaccard>=0.8 pair
  *    is (1 - 0.8^4)^32 ~= 5e-8, so the output equals the exhaustive answer
  *    with near-certainty while the join fans out per LSH *bucket* instead of
  *    per shingle — the 100 TB path.
  *  - [[simHashFingerprints]] / [[simHashNearDups]]: 64-bit SimHash with
  *    chunk-banded Hamming-distance candidate pairs.
  *
  * All hash functions are deterministic (xxhash64 + fixed affine
  * permutations), so results are stable across runs and cluster sizes.
  */
object Dedup {

  /** Exact duplicate groups by content hash: (text_hash, keeper, group_size). */
  def exactDuplicates(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("group_size"))

  /** Distinct character k-gram shingles: (doc_id, sh). */
  def shingle(docs: DataFrame, k: Int = 5, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame =
    shingleArrays(docs, k, textCol, idCol)
      .select(col("doc_id"), explode(col("shs")).as("sh"))

  /** Distinct character k-gram shingles as one array row per doc:
    * (doc_id, shs ARRAY<STRING>). The array form feeds the per-doc MinHash
    * kernel and the candidate-pair verify without ever exploding the corpus.
    */
  def shingleArrays(docs: DataFrame, k: Int = 5, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame =
    docs.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("doc_id"),
        array_distinct(expr(
          s"transform(sequence(1, length($textCol) - ${k - 1}), i -> substring($textCol, i, $k))")).as("shs"))

  /** MinHash signature per doc: (doc_id, sig ARRAY<BIGINT>[numHashes]).
    * The i-th hash family member is `xxhash64(i, shingle)` (seeded rehash
    * rather than an affine permutation of one hash — equally deterministic,
    * and safe under Spark 4's default ANSI mode where a wrapping `a*h+b`
    * would raise ARITHMETIC_OVERFLOW). Exploded-input form; the scale path
    * is [[minHashSignaturesFromArrays]], which computes the whole signature
    * in one per-doc kernel pass with no shuffle.
    */
  def minHashSignatures(shingles: DataFrame, numHashes: Int = 128): DataFrame =
    minHashSignaturesFromArrays(
      shingles.groupBy(col("doc_id")).agg(collect_set(col("sh")).as("shs")),
      numHashes)

  /** MinHash signatures from per-doc distinct-shingle arrays — a map-only
    * plan (no explode, no aggregation shuffle).
    */
  def minHashSignaturesFromArrays(arrs: DataFrame, numHashes: Int = 128): DataFrame = {
    val sigU = udf((shs: Array[String]) => Kernels.minHashSig(shs, numHashes))
    arrs.select(col("doc_id"), sigU(col("shs")).as("sig"))
  }

  /** LSH candidate pairs (doc_a < doc_b) from banded signatures: docs whose
    * signatures agree on ALL rows of at least one band land in the same
    * bucket; the bucket join is the only fan-out. `numHashes` must match the
    * signature length (passed by the caller — no driver-side job to infer it,
    * and no crash on an empty corpus).
    *
    * Hot-bucket bound (`maxPerBucket`, default 64 — mirroring the streaming
    * twin [[graft.streaming.CurationStreams]]): a degenerate bucket
    * (boilerplate corpus: thousands of near-identical signatures) would
    * otherwise emit O(m²) candidate pairs from ONE bucket. Buckets are
    * truncated to `maxPerBucket` members chosen by a doc-id-INDEPENDENT
    * hash order (`xxhash64(doc_id)`), so any one bucket contributes at most
    * C(maxPerBucket, 2) pairs and the drop is UNBIASED — no systematic loss
    * of high doc_ids (late-ingested documents, in id-assigning pipelines).
    * Recall notes: a pair dropped here is only LOST if it exceeds the cap
    * in EVERY one of its colliding bands. Near-identical docs collide in
    * all `bands` buckets and the hash order ranks a clique's members
    * identically in each, so a duplicate clique's kept members still pair
    * up and witness the clique. A BORDERLINE pair (Jaccard near the
    * threshold) colliding in only a few bands can be lost when a hot bucket
    * mixes several groups — which is why the batch entry points surface the
    * truncation: [[minHashNearDupsFromShingleArrays]] logs a warning with
    * the dropped-row count whenever the cap bit, and [[lshBucketOverflow]]
    * gives the full per-bucket report. Pass `maxPerBucket = 0` to disable
    * (exact recall; the uncapped path materializes each bucket's pair array
    * in the aggregation, so a degenerate bucket costs O(m²) MEMORY there,
    * not just O(m²) rows).
    */
  def lshCandidates(sigs: DataFrame, bands: Int = 32,
                    numHashes: Int = 128, maxPerBucket: Int = 64,
                    droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val banded = bandedBuckets(sigs, bands, numHashes)
    // pairs are generated INSIDE the per-bucket aggregation, not by a
    // self-join: a join would recompute the whole signature pipeline on
    // both sides (Spark does not share subplans across join inputs) and
    // shuffle the banded relation twice. The (band, bucket) aggregation
    // exchange is the ONLY wide op over the corpus. The hot-bucket cap is
    // the [[graft.functions.CappedMembersAgg]] aggregate: its PARTIAL
    // buffers never exceed `maxPerBucket` entries, so at most that many
    // rows per bucket per input partition cross the wire (the old
    // rank-window's WindowGroupLimit property, without the window's
    // partition sort), total membership is counted in the same pass
    // (`droppedAcc` receives the truncated-row count — no second scan for
    // observability), and the kept set — the cap smallest by
    // (xxhash64(doc_id), doc_id) — is bit-identical to the former
    // ORDER BY hash ROW_NUMBER()<=cap form. Post-cap bucket arrays are
    // <= maxPerBucket elements, so the pair kernel is bounded. doc_id is
    // BIGINT (the engine-wide id type).
    val pairsU = udf((ids: Seq[Long]) => {
      val n = ids.length
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](n * math.max(n - 1, 0) / 2)
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { out += ((ids(i), ids(j))); j += 1 }
        i += 1
      }
      out
    })
    val members =
      if (maxPerBucket <= 0)
        banded.groupBy(col("band"), col("bucket"))
          .agg(sort_array(collect_list(col("doc_id").cast(LongType))).as("_ids"))
      else
        banded.groupBy(col("band"), col("bucket"))
          .agg(graft.functions.CappedMembersAgg.cappedMembers(
            xxhash64(col("doc_id")), col("doc_id").cast(LongType), lit(0L),
            maxPerBucket, droppedAcc).as("_m"))
          .select(col("band"), col("bucket"), col("_m.ids").as("_ids"))
    members
      .select(explode(pairsU(col("_ids"))).as("_p"))
      .select(col("_p._1").as("doc_a"), col("_p._2").as("doc_b"))
      .distinct()
  }

  /** (band, bucket) membership rows for each doc: one row per band. */
  private[graft] def bandedBuckets(sigs: DataFrame, bands: Int, numHashes: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b) +: (0 until rows).map(r => col("sig")(b * rows + r)): _*)): _*))
        .as(Seq("band", "bucket")))
  }

  /** Per-bucket truncation report for [[lshCandidates]]'s hot-bucket bound:
    * (band, bucket, bucket_size, dropped) for every bucket whose membership
    * exceeds `maxPerBucket`. Count/aggregate this lazily to log how much a
    * run truncated (empty on healthy corpora).
    */
  def lshBucketOverflow(sigs: DataFrame, bands: Int = 32,
                        numHashes: Int = 128, maxPerBucket: Int = 64): DataFrame =
    bandedBuckets(sigs, bands, numHashes)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxPerBucket)
      .withColumn("dropped", col("bucket_size") - maxPerBucket)

  /** Distinct word n-gram shingles: (doc_id, sh). Far more selective than
    * character grams on natural text (the standard unit for corpus dedup).
    */
  def wordShingle(docs: DataFrame, n: Int = 3, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val grams = (0 until n).map(j => s"element_at(_toks, i + $j)")
      .mkString("concat_ws(' ', ", ", ", ")")
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_toks"))
      .filter(size(col("_toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          s"transform(sequence(1, size(_toks) - ${n - 1}), i -> $grams)"))).as("sh"))
  }

  /** Full pipeline: shingle -> MinHash -> LSH candidates -> bucket filters ->
    * exact Jaccard >= `threshold`. `bucketFilter` optionally restricts pairs
    * (e.g. same language / similar length) to mirror an oracle's plan.
    * Knob derivation (numHashes/bands from a target recall, maxPerBucket
    * from the corpus duplicate profile): see DEDUP_TUNING.md §1.
    */
  def minHashNearDups(docs: DataFrame, threshold: Double = 0.8, k: Int = 5,
                      numHashes: Int = 128, bands: Int = 32,
                      bucketFilter: DataFrame => DataFrame = identity,
                      maxPerBucket: Int = 64): DataFrame =
    minHashNearDupsFromShingleArrays(shingleArrays(docs, k), threshold,
      numHashes, bands, bucketFilter, maxPerBucket,
      // verify fetch from the RAW docs: semi-join on doc_id BELOW the
      // shingle projection, so survivor arrays are recomputed for candidate
      // docs only (Catalyst does not sink a LeftSemi through a Project, so
      // the narrowing must be structural)
      verifyFetch = Some(ids => shingleArrays(
        docs.join(ids, Seq("doc_id"), "left_semi"), k)))

  /** As [[minHashNearDups]] but over a caller-chosen exploded shingle
    * relation (doc_id, sh) — regrouped to arrays, then the array path.
    */
  def minHashNearDupsFromShingles(shingles: DataFrame, threshold: Double = 0.8,
                                  numHashes: Int = 128, bands: Int = 32,
                                  bucketFilter: DataFrame => DataFrame = identity,
                                  maxPerBucket: Int = 64): DataFrame =
    minHashNearDupsFromShingleArrays(
      shingles.groupBy(col("doc_id")).agg(collect_set(col("sh")).as("shs")),
      threshold, numHashes, bands, bucketFilter, maxPerBucket)

  /** The scale path, over per-doc distinct-shingle arrays (doc_id, shs):
    * signatures and banding are map-only over the array column; only the
    * LSH-candidate pairs are ever joined, and the exact-Jaccard verify is a
    * per-pair set intersection of the two arrays (no shingle explode, no
    * per-shingle join fan-out). At 100 TB the only shuffles are the banded
    * bucket self-join (per-bucket fan-out) and the two array lookups for the
    * surviving candidate pairs.
    */
  def minHashNearDupsFromShingleArrays(arrs0: DataFrame, threshold: Double = 0.8,
                                       numHashes: Int = 128, bands: Int = 32,
                                       bucketFilter: DataFrame => DataFrame = identity,
                                       maxPerBucket: Int = 64,
                                       verifyFetch: Option[DataFrame => DataFrame] = None): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    // empty-shingle docs would all share the identity signature (every slot
    // Long.MaxValue), collide in every band (O(m²) pairs) and then divide
    // 0/0 in the Jaccard — they can never reach a positive threshold, drop
    // them up front
    val arrs = arrs0.select(col("doc_id"), col("shs"))
      .filter(size(col("shs")) > 0)
    // the capped-bucket aggregate counts truncation IN the candidate pass —
    // observability costs no signature cache and no second corpus scan
    val droppedAcc = arrs.sparkSession.sparkContext
      .longAccumulator("lshBucketOverflowDropped")
    // Candidate pairs are bounded (<= C(cap,2) per bucket) — candidates-
    // sized, never corpus-sized. Materialized EAGERLY so the signature
    // pipeline runs once (each verify-join side and the semi-join below
    // would otherwise each recompute it: Spark shares no subplans across
    // join inputs). Nothing corpus-scale is pinned for this: the old plan
    // cached the full shingle-array relation across the candidate+verify
    // window — at 100 TB the arrays are roughly the text itself, so that
    // pinned/spilled a corpus-scale intermediate. The price of releasing
    // it is ONE extra (narrowed) scan for the verify fetch below.
    val cands = graft.util.Materialize.eager(bucketFilter(
      lshCandidates(minHashSignaturesFromArrays(arrs, numHashes), bands,
        numHashes, maxPerBucket, Some(droppedAcc))))
    // surface the hot-bucket truncation in the main path: a capped run that
    // actually dropped rows is a recall hazard the caller should SEE, not
    // discover via the opt-in lshBucketOverflow query. The count rode the
    // candidate pass in an accumulator (approximate only under task
    // retries/speculation — it feeds this WARN; lshBucketOverflow is the
    // exact per-bucket report).
    if (maxPerBucket > 0 && droppedAcc.value > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"minHashNearDups: hot-bucket cap ($maxPerBucket) truncated " +
          s"~${droppedAcc.value} bucket rows; borderline pairs may be " +
          "lost — see Dedup.lshBucketOverflow for the per-bucket report " +
          "or rerun with maxPerBucket=0 for exact recall")
    // the verify join only needs arrays for docs that APPEAR in a candidate
    // pair — cache that candidates-sized slice, not the corpus. `verifyFetch`
    // (given the distinct candidate ids) lets callers holding the RAW docs
    // semi-join BELOW the shingle projection, so survivor arrays are
    // recomputed for candidate docs only; the fallback semi-joins the array
    // relation itself (same candidates-sized CACHE, but the projection runs
    // corpus-wide once more — Catalyst does not sink a LeftSemi through a
    // Project)
    // no size(shs)>0 filter on the fetched slice: empty-shingle docs never
    // reach a candidate pair (filtered before signatures), the verify joins
    // are inner on doc_a/doc_b anyway, and the filter would be predicate-
    // pushed below the fetch's semi-join — re-running the shingle kernel
    // corpus-wide for the size check alone
    val narrowed = verifyFetch
      .map(f => f(candidateIds(cands)).select(col("doc_id"), col("shs")))
      .getOrElse(narrowToCandidates(arrs, cands))
      .cache()
    val interU = udf((a: Array[String], b: Array[String]) => Kernels.intersectCount(a, b))
    val out = cands
      .join(narrowed.select(col("doc_id").as("doc_a"), col("shs").as("_sha")), "doc_a")
      .join(narrowed.select(col("doc_id").as("doc_b"), col("shs").as("_shb")), "doc_b")
      .withColumn("inter", interU(col("_sha"), col("_shb")).cast(LongType))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("_sha")).cast(LongType) + size(col("_shb")).cast(LongType) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    // materialize the (small) verified-pair result eagerly, truncating its
    // lineage, so the cached candidate-slice relation can be released right
    // here instead of leaking executor storage for the session lifetime
    // (repeated REST/streaming invocations would otherwise accumulate one
    // pinned relation per call). Materialize.eager uses a RELIABLE
    // checkpoint when the session has a checkpoint dir (executor-loss-safe
    // on clusters); localCheckpoint otherwise.
    val materialized = graft.util.Materialize.eager(out)
    narrowed.unpersist(false)
    materialized
  }

  /** Incremental MinHash near-dup: a NEW batch's docs probed against a
    * PERSISTED LSH index ([[graft.sources.MinHashHistory]]) — the text
    * near-dup member of the incremental family (exact-doc
    * [[incrementalStatusBinary]], substring [[incrementalDupGrams]],
    * payload/audio/video siblings in VectorOps), and the published
    * MinHash-LSH serving shape: batch signatures banded, each band bucket
    * probed by ONE equi-join riding the store's bucket layout (no
    * history-side exchange — MinHashHistorySpec gates the plan), then
    * exact Jaccard against the store's per-doc shingle-hash rows, fetched
    * candidates-only via a semi-join that rides the id-bucketed layout.
    *
    * Per-batch cost is batch+candidates-sized at any corpus size: the
    * batch side shuffles INTO the store's layouts; the only aggregations
    * (candidate DISTINCT, per-candidate intersection/denominator counts)
    * are candidates-sized. Banding recall: a true Jaccard≥0.8 pair misses
    * only if its signatures disagree on all `bands` bands — P ≈ 5e-8 at
    * the x40 knobs, the same accepted coincidence budget. Shingle hashes
    * are xxhash64 (8-byte rows; a collision only ADDS intersection —
    * the x99/x102 4e-8 budget; the oracle replays string shingles).
    *
    * `batchArrs` = (doc_id, lang, n_chars, shs) distinct-shingle arrays
    * (the [[graft.queries.TextOps.shingleArrays]] shape); `histBands` =
    * (bucket, id, n_chars) with lang FOLDED into the bucket hash (the
    * [[graft.queries.TextOps.minHashBandsOf]] layout — there is no lang
    * column in the store); `histSh` = (id, shash). Output
    * (doc_a = batch id, doc_b = history id, jaccard ≥ threshold).
    * Null-lang batch docs are dropped to match the store build and the
    * oracle's lang-equality semantics (Spark's xxhash64 skips null
    * inputs, so an unguarded fold would pair two null-lang docs the
    * oracle never pairs).
    */
  def incrementalNearDups(batchArrs0: DataFrame, histBands: DataFrame,
                          histSh: DataFrame, threshold: Double = 0.8,
                          numHashes: Int = 128, bands: Int = 32,
                          bandReducer: Option[DataFrame => DataFrame] = None)
      : DataFrame = {
    // MATERIALIZED batch-sized (the family's batch ≪ store premise):
    // three consumers read the arrays — the signature/banding pipeline,
    // the candidate-narrowed shingle explode (bSh) and the denominator
    // (na) — and lazily each would re-run the per-doc trigram kernel
    // over the whole batch (round-18 profiling: the kernel re-derivation
    // inside every broadcast-build job was most of the probe's fixed
    // cost at small batches; at scale it is 2 extra batch-wide UDF
    // passes). One checkpoint of (ids, lang, n_chars, shingle arrays) ≈
    // the batch text itself — bounded by the same contract that bounds
    // every probe-side relation here.
    val batchArrs = graft.util.Materialize.eager(batchArrs0
      .select(col("doc_id"), col("lang"), col("n_chars"), col("shs"))
      .filter(size(col("shs")) > 0 && col("lang").isNotNull))
    // MATERIALIZED once (candidates-sized): three downstream joins
    // consume the pairs — and TWO consume the verify slice — and lazy,
    // each consumer would re-scan its store (3× the band store + 2× the
    // shingle store per probe; measured as most of the grown-store
    // probe's wall in TriageScaleProbe, BASELINE round-17). Round 19:
    // driver-local within the cap — the emptiness check rides the same
    // job and the verify-slice broadcast builds from local rows.
    val (cands, nCands) = graft.util.Materialize.localOrEager(
      nearDupCandidates(batchArrs, histBands, numHashes, bands, bandReducer))
    // NO candidates — the fully-novel-batch steady state: return the
    // empty pair relation without ever constructing the shingle-store
    // verify (with a bloom-gated bandReducer the band store read zero
    // files too — the near-dup leg's zero-read short-circuit)
    if (nCands == 0L)
      return cands.sparkSession.createDataFrame(
        cands.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_a", LongType),
          org.apache.spark.sql.types.StructField("doc_b", LongType),
          org.apache.spark.sql.types.StructField("jaccard", DoubleType))))
    val (slice, _) = graft.util.Materialize.localOrEager(
      verifySliceOf(histSh, cands))
    val nh = slice.groupBy(col("id").as("doc_b"))
      .agg(count(lit(1)).as("_nh"))
    val bSh = batchArrs
      .join(cands.select(col("doc_a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_a"), explode(col("shs")).as("_sh"))
      .select(col("doc_a"), xxhash64(col("_sh")).as("shash"))
    val inter = cands
      .join(bSh, "doc_a")
      .join(slice.select(col("id").as("doc_b"), col("shash")),
        Seq("doc_b", "shash"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("_inter"))
    val na = batchArrs.select(col("doc_id").as("doc_a"),
      size(col("shs")).cast(LongType).as("_na"))
    inter
      .join(na, "doc_a")
      .join(nh, "doc_b")
      .withColumn("jaccard", col("_inter").cast(DoubleType) /
        (col("_na") + col("_nh") - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The candidate-pair plan of [[incrementalNearDups]], pre-
    * materialization (package-visible so MinHashHistorySpec gates its
    * shape): batch band buckets with lang FOLDED INTO the bucket key (the
    * store does the same — see TextOps.minHashBandsOf), broadcast —
    * batch × bands rows, broadcast-bounded by the family's batch ≪ store
    * premise, ENFORCED by [[graft.util.ProbeBudget]]: the band relation
    * is materialized once (it feeds the count and the join — the
    * signature pipeline never re-runs), counted, and broadcast only
    * within budget — into a MAP-ONLY scan of the band store: no
    * store-side exchange and no store-side sort (the bucketed SMJ shape
    * re-sorted the grown multi-segment store per probe). Over budget —
    * the contract violated — the join degrades to the non-broadcast
    * shape (bounded memory) with a named warning instead of an opaque
    * broadcast OOM. The length window — x40's other scale-contract
    * restriction — is a non-equi predicate and rides the join condition
    * without becoming a key.
    */
  private[graft] def nearDupCandidates(batchArrs: DataFrame,
      histBands: DataFrame, numHashes: Int, bands: Int,
      bandReducer: Option[DataFrame => DataFrame] = None): DataFrame = {
    import graft.util.ProbeBudget
    // signature + banding + the (lang, n_chars) attributes in ONE
    // projection over the materialized batch arrays (round 19): the
    // banding helper projects the attributes away, and re-attaching them
    // with a join paid one broadcast-exchange build per probe for columns
    // the input row already carried. Same kernel, same banding hash,
    // row-identical keys.
    val rows = numHashes / bands
    val sigU = udf((shs: Array[String]) => Kernels.minHashSig(shs, numHashes))
    val bBandsPlan = batchArrs
      .select(col("doc_id"), col("lang"), col("n_chars"),
        sigU(col("shs")).as("sig"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(lit(b) +: (0 until rows).map(r =>
            col("sig")(b * rows + r)): _*)): _*)).as(Seq("band", "bucket")))
      .select(col("doc_id").as("doc_a"),
        xxhash64(col("bucket"), col("lang"))
          .as(graft.sources.MinHashHistory.KeyCol),
        col("n_chars").as("_nca"))
    val spark = batchArrs.sparkSession
    // ONE bounded collect of the band relation (round 19): within budget
    // it is exactly the relation the probe BROADCASTS (whose build
    // collects to the driver anyway), so materializing it locally in one
    // job replaces the round-18 checkpoint + count pair, the broadcast
    // build becomes a LocalTableScan, and the bandReducer's key set is
    // derived driver-side. Past the cap — the violated batch ≪ store
    // contract — fall back to the round-18 distributed shape.
    val maxLocal = math.min(
      ProbeBudget.bytes(spark) / ProbeBudget.BytesPerBandRow,
      4L << 20)
    val (probe, bandKeys) =
      graft.util.Materialize.boundedRows(bBandsPlan, maxLocal) match {
        case (Some(local), _) =>
          val bBands = spark.createDataFrame(
            java.util.Arrays.asList(local: _*), bBandsPlan.schema)
          val keyRows = local.map(_.getLong(1)).distinct
            .map(k => org.apache.spark.sql.Row(k))
          val keys = spark.createDataFrame(
            java.util.Arrays.asList(keyRows: _*),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(
                graft.sources.MinHashHistory.KeyCol, LongType,
                nullable = false))))
          (broadcast(bBands), keys)
        case (None, nBands) =>
          val bBands = graft.util.Materialize.eager(bBandsPlan)
          val p =
            if (ProbeBudget.within(spark, nBands, ProbeBudget.BytesPerBandRow))
              broadcast(bBands)
            else {
              ProbeBudget.warnExceeded(
                org.slf4j.LoggerFactory.getLogger(getClass),
                "Dedup.nearDupCandidates batch band relation", nBands,
                ProbeBudget.BytesPerBandRow, spark)
              bBands
            }
          (p, bBands.select(col(graft.sources.MinHashHistory.KeyCol)).distinct())
      }
    // store-aware band relation: a bloom-gated reducer
    // ([[graft.sources.MinHashHistory.bandScanReducer]]) receives the
    // materialized batch band keys (no signature re-derivation) and
    // returns the band-store scan pruned to the candidate keys' bucket
    // files — pure file pruning; the probe join below is unchanged
    val hist = bandReducer match {
      case Some(reduce) => reduce(bandKeys)
      case None => histBands
    }
    probe
      .join(hist.select(col(graft.sources.MinHashHistory.KeyCol),
        col("id").as("doc_b"), col("n_chars").as("_ncb")),
        graft.sources.MinHashHistory.KeyCol)
      .filter(abs(col("_nca") - col("_ncb")) * 2 <=
        greatest(col("_nca"), col("_ncb")))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** The verify-fetch plan of [[incrementalNearDups]] (package-visible
    * for the same plan gate): candidate history docs' shingle rows — the
    * candidates-sized id set broadcasts into a map-only scan of the
    * shingle store.
    */
  private[graft] def verifySliceOf(histSh: DataFrame,
                                   cands: DataFrame): DataFrame =
    histSh.join(broadcast(cands.select(col("doc_b").as("id")).distinct()),
      Seq("id"), "left_semi")

  /** Distinct doc ids appearing on either side of the candidate pairs. */
  private[graft] def candidateIds(cands: DataFrame): DataFrame =
    cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id")))
      .distinct()

  /** Restrict a (doc_id, ...) relation to docs appearing on either side of
    * the candidate pairs — the verify join's input set, candidates-sized
    * rather than corpus-sized. A LEFT SEMI on doc_id; the small side
    * broadcasts when candidates are few.
    */
  private[graft] def narrowToCandidates(arrs: DataFrame, cands: DataFrame): DataFrame =
    arrs.join(candidateIds(cands), Seq("doc_id"), "left_semi")

  /** 64-bit SimHash per doc over whitespace tokens: per bit, sum +-1 weighted
    * by token frequency; bit set iff the sum is positive. A pure per-doc
    * kernel ([[Kernels.simHash64]]) — one scan, no token explode, no
    * 64-column aggregation shuffle; values bit-identical to the exploded
    * plan (same `xxhash64` token hashes).
    */
  def simHashFingerprints(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val shU = udf((text: String) => Kernels.simHash64(text))
    docs.filter(col(textCol).rlike("\\S")) // docs with >=1 token, like the
      .select(col(idCol).as("doc_id"), shU(col(textCol)).as("simhash")) // exploded form
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxDist, banded on 16-bit
    * chunks (a pair within distance d <= 3 must agree exactly on at least one
    * of the 4 chunks — pigeonhole). Same plan shape as [[lshCandidates]]:
    * pairs + Hamming distances are generated INSIDE the per-bucket
    * aggregation (a self-join would recompute the fingerprint pipeline on
    * both inputs and shuffle the chunked relation twice), hot buckets are
    * truncated map-side to `maxPerBucket` members in doc-id-independent
    * hash order (boilerplate corpora put thousands of identical
    * fingerprints in one bucket; identical fingerprints rank identically
    * in every chunk, so the kept clique members still witness every
    * duplicate group, and the drop is unbiased). [[simHashBucketOverflow]]
    * reports what a given corpus would truncate. Chunk-count/cap derivation
    * (c >= maxDist+1 completeness, occupancy arithmetic): DEDUP_TUNING.md §2.
    */
  def simHashNearDups(docs: DataFrame, maxDist: Int = 3,
                      maxPerBucket: Int = 64,
                      droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    simHashNearDupsFromFps(simHashFingerprints(docs), maxDist, maxPerBucket,
      droppedAcc)

  /** [[simHashNearDups]] over an ALREADY-FINGERPRINTED relation
    * (doc_id, simhash) — the fingerprint-once entry point (round 18):
    * pipelines that persisted [[simHashFingerprints]] (x44's registry
    * seat) feed the banded search from 16-byte rows instead of re-running
    * the SimHash kernel over the corpus text.
    */
  def simHashNearDupsFromFps(fps: DataFrame, maxDist: Int = 3,
                             maxPerBucket: Int = 64,
                             droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    hammingNearDups64(fps, "doc_id", "simhash",
      "doc_a", "doc_b", maxDist, maxPerBucket, droppedAcc)

  /** Generic 64-bit-fingerprint Hamming near-dup pairs — the banding
    * machinery behind [[simHashNearDups]] (text SimHash) and
    * [[Multimodal.payloadNearDups]] (binary-payload perceptual hash), so
    * every 64-bit fingerprint family shares ONE pigeonhole/pair/distance
    * plan. Input: `fp(idCol, hashCol)`; output `(outA, outB, hamming)` with
    * `outA < outB`. See [[simHashNearDups]] for the plan rationale
    * (in-aggregate pair generation, unbiased hot-bucket truncation).
    */
  def hammingNearDups64(fp0: DataFrame, idCol: String, hashCol: String,
                        outA: String, outB: String, maxDist: Int,
                        maxPerBucket: Int,
                        droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    require(maxDist <= 3, "4-chunk banding is only complete for maxDist <= 3")
    val fp = fp0.select(col(idCol).as("doc_id"), col(hashCol).as("simhash"))
    val chunked = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("chunk", "ck")))
    val pairsU = udf((ids: Seq[Long], hs: Seq[Long]) => {
      val n = ids.length
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Int)](n * math.max(n - 1, 0) / 2)
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          out += ((ids(i), ids(j), java.lang.Long.bitCount(hs(i) ^ hs(j))))
          j += 1
        }
        i += 1
      }
      out
    })
    // same single-pass capped-bucket aggregate as [[lshCandidates]]: bounded
    // partial buffers, unbiased hash-ordered truncation, overflow counted
    // in-pass; the fingerprint rides as the member payload
    val members =
      if (maxPerBucket <= 0)
        chunked.groupBy(col("chunk"), col("ck"))
          .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("_m"))
          .select(col("chunk"), col("ck"),
            col("_m.doc_id").as("_ids"), col("_m.simhash").as("_hs"))
      else
        chunked.groupBy(col("chunk"), col("ck"))
          .agg(graft.functions.CappedMembersAgg.cappedMembers(
            xxhash64(col("doc_id")), col("doc_id"), col("simhash"),
            maxPerBucket, droppedAcc).as("_m"))
          .select(col("chunk"), col("ck"),
            col("_m.ids").as("_ids"), col("_m.ps").as("_hs"))
    members
      .select(explode(pairsU(col("_ids"), col("_hs"))).as("_p"))
      .select(col("_p._1").as(outA), col("_p._2").as(outB),
        col("_p._3").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** COMPONENT-form Hamming near-dup edges — the linear-scale sibling of
    * [[hammingNearDups64]] for clique-heavy corpora. A corpus whose dups
    * arrive as m-sized identical-fingerprint groups (boilerplate payloads,
    * re-crawls, mirrored assets) makes the full pair RELATION inherently
    * O(n·m) — at 100× replica scale the uncapped x104 relation held 26M
    * true pairs (BASELINE round-12). Downstream resolution
    * ([[Components]]/keeper) only needs CONNECTIVITY, and identical
    * fingerprints are Hamming-0 by definition, so each identical-value
    * group is spanned by a STAR to its min-id representative (exact, no
    * approximation) and the banded pair search runs over the DISTINCT
    * fingerprint VALUES only:
    *
    *  - star edges: (rep, member, 0) per non-rep member — ONE value-keyed
    *    exchange, output linear in the dup count;
    *  - representative edges: [[hammingNearDups64]] over (rep, value) —
    *    bucket membership is now distinct VALUES, so the in-bucket pair
    *    generation cannot see a clique.
    *
    * Connected components over this edge set equal components over the
    * full pair relation (identical values are star-connected; any
    * cross-value pair within `maxDist` is value-determined, so its reps'
    * edge merges the two stars) — DedupSpec gates exactly that. NOT a
    * replacement where per-pair distances of all member pairs are the
    * deliverable — that is [[hammingNearDups64]]'s contract.
    */
  def hammingDupEdges64(fp0: DataFrame, idCol: String, hashCol: String,
                        outA: String, outB: String, maxDist: Int,
                        maxPerBucket: Int,
                        droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val fp = fp0.select(col(idCol).as("doc_id"), col(hashCol).as("simhash"))
    val reps = fp.groupBy("simhash").agg(min(col("doc_id")).as("rep"))
    val star = fp.join(reps, "simhash")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as(outA), col("doc_id").as(outB),
        lit(0).as("hamming"))
    val repPairs = hammingNearDups64(
      reps.select(col("rep").as("doc_id"), col("simhash")),
      "doc_id", "simhash", outA, outB, maxDist, maxPerBucket, droppedAcc)
      // distinct values ⇒ hamming ≥ 1, so the union stays disjoint; the
      // orientation may differ from value order, normalize to id order
      .select(least(col(outA), col(outB)).as(outA),
        greatest(col(outA), col(outB)).as(outB), col("hamming"))
    star.unionByName(repPairs)
  }

  /** Per-bucket truncation report for [[simHashNearDups]]'s hot-bucket
    * bound: (chunk, ck, bucket_size, dropped) for every 16-bit-chunk bucket
    * whose membership exceeds `maxPerBucket` (parity with
    * [[lshBucketOverflow]]).
    */
  def simHashBucketOverflow(docs: DataFrame,
                            maxPerBucket: Int = 64): DataFrame =
    simHashFingerprints(docs)
      .select(col("doc_id"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("chunk", "ck")))
      .groupBy(col("chunk"), col("ck"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxPerBucket)
      .withColumn("dropped", col("bucket_size") - maxPerBucket)

  /** Incremental (cross-batch) exact dedup: classify every document of a NEW
    * batch against an already-ingested corpus represented by its content
    * hashes. Statuses: `dup_of_history` (hash already ingested),
    * `dup_in_batch` (first seen in this batch, but not this batch's minimum
    * doc id for the hash), `kept` (this batch's canonical copy of a
    * never-seen hash). This is the steady-state shape of a production
    * pipeline — each crawl increment dedups against everything before it
    * WITHOUT rescanning history text.
    *
    * Scale shape: `historyHashes` is hashes only, not the corpus text —
    * md5 is 16 raw bytes/doc (32 as the hex string this API exchanges),
    * so at 100 TB the store is ~terabyte-scale either way. The history
    * probe is one equi-join on the hash; the PERSISTED form of the store
    * is [[graft.sources.HashHistory]] — 16-byte binary hashes bucketed on
    * `th` ([[graft.sources.Bucketing.writeBucketed]]), probed via
    * [[incrementalStatusBinary]] so only the (much smaller) batch side
    * shuffles. The intra-batch keeper election is one map-combined
    * min-aggregate over the batch. History-store sizing: DEDUP_TUNING.md §4.
    */
  def incrementalStatus(batch: DataFrame, historyHashes: DataFrame,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    incrementalStatusBinary(batch,
      historyHashes.select(unhex(col("th")).as("th")), textCol, idCol)

  /** The probe core, against a BINARY-hash history relation (the
    * [[graft.sources.HashHistory]] layout — `unhex(md5(text))`, 16 B/doc).
    * When `historyBinary` scans a table bucketed on `th`, BOTH
    * history-side wide ops ride the bucket layout with no Exchange — the
    * distinct() (aggregation on the bucket key) and the probe join itself —
    * so the per-batch cost is one batch-sized shuffle plus a co-located
    * history scan, independent of history size. PlanSpec gates this shape.
    */
  def incrementalStatusBinary(batch: DataFrame, historyBinary: DataFrame,
                              textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    incrementalStatusFromHashes(
      batch.select(col(idCol).as("doc_id"),
        unhex(md5(col(textCol))).as("th")),
      historyBinary)

  /** [[incrementalStatusBinary]] over a PRE-HASHED batch relation
    * (doc_id, th BINARY) — the hash-once entry (round 19): a caller that
    * also feeds the batch hash set to a store probe
    * ([[graft.sources.HashHistory.probeHistory]]'s keyset) derives both
    * from ONE materialized md5 pass instead of re-running the hash
    * projection inside every consumer of this relation (the plan holds
    * `b` twice — the status join and the keeper election — so lazily the
    * batch hashed 2× here plus once for the probe keyset).
    */
  def incrementalStatusFromHashes(batchHashes: DataFrame,
                                  historyBinary: DataFrame): DataFrame = {
    val b = batchHashes.select(col("doc_id"), col("th"))
    val k = b.groupBy(col("th")).agg(min(col("doc_id")).as("keeper"))
    val h = historyBinary.select(col("th")).distinct().withColumn("_hist", lit(1))
    b.join(h, Seq("th"), "left")
      .join(k, Seq("th"))
      .select(col("doc_id"),
        when(col("_hist").isNotNull, lit("dup_of_history"))
          .when(col("doc_id") =!= col("keeper"), lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"))
  }

  /** Exact substring-duplication audit (the exhaustive counterpart of
    * x81/x82's SAMPLED winnowing fingerprints — Lee et al. 2022's
    * "deduplicate training data at the substring level" signal): per doc,
    * the fraction of character-`k`-gram positions whose gram occurs in at
    * least [[minDocs]] DISTINCT documents (the cross-doc variant;
    * within-doc repeats alone do not qualify). Output:
    * (doc_id, total_pos, dup_pos, dup_frac) for every doc with ≥1
    * position (length ≥ k); dup_frac is one exact integer division.
    *
    * Cost honesty: exhaustive substring audit is O(total chars) rows
    * through ONE gram-keyed map-combined shuffle (the corpus-duplicated
    * gram set is filter-tiny and broadcasts back — no second gram
    * exchange) + one doc-keyed sum — the same asymptotic bill a
    * suffix-array pipeline pays, expressed as exchanges Spark can spill.
    * The gram relation is generated twice (aggregate side + join side) —
    * the stateless-query trade; DuckDB's single-materialized-CTE form of
    * the same query runs ~0.6 s vs our ~3 s at sf0.1, and the gap is
    * exactly that re-generation plus string shuffle bytes, which is why
    * [[dupGramFractionHashed]] (8-byte gram keys, no window allocations,
    * ~2.4 s and ~5× fewer exchange bytes) is the production form. The
    * kernel-vs-codegen choice is MEASURED, not assumed — see
    * [[Kernels.charGramCounts]]; an explode(sequence)+substr plan looks
    * cheaper but loses 1.7× once materialization is forced (a count()-
    * probe prunes the whole join and will tell you otherwise — round-10
    * nearly shipped that artifact).
    */
  def dupGramFraction(docs: DataFrame, k: Int = 40, minDocs: Int = 2,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val gramsU = udf((t: String) => Kernels.charGramCounts(t, k))
    val g = docs.select(col(idCol).as("doc_id"),
      explode(gramsU(col(textCol))).as(Seq("gram", "pc")))
    dupPosTail(docs, g, "gram", k, minDocs, textCol, idCol)
  }

  /** The production form of [[dupGramFraction]]: grams keyed by xxhash64
    * ([[Kernels.charGramHashCounts]] — in-place byte-range hashing, 8-byte
    * exchange keys). Identical output unless two distinct grams collide
    * (P ≈ 4e-8 corpus-wide at sf0.1 density — the x40 LSH-miss order);
    * the spec asserts bit-equality with the exact form on the fixtures.
    */
  def dupGramFractionHashed(docs: DataFrame, k: Int = 40, minDocs: Int = 2,
                            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val gramsU = udf((t: String) => Kernels.charGramHashCounts(t, k))
    val g = docs.select(col(idCol).as("doc_id"),
      explode(gramsU(col(textCol))).as(Seq("gh", "pc")))
    dupPosTail(docs, g, "gh", k, minDocs, textCol, idCol)
  }

  /** Substring-duplication REMOVAL (x114) — the rewrite step downstream of
    * [[dupGramFraction]]'s audit (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": drop duplicated spans, keep the
    * residual text). Per doc: every character-`k`-gram position whose gram
    * occurs in ≥ `minDocs` DISTINCT documents covers code points
    * [p, p+k-1]; the union of covered ranges is removed as maximal spans
    * ([[Kernels.removeSpans]]). Output one row per doc (dup-free docs pass
    * through unchanged): (doc_id, total_chars, n_spans, removed_chars,
    * text_clean).
    *
    * Plan shape = x99's audit + one rewrite map: the per-(doc, gram)
    * position relation makes ONE map-combined gram-keyed exchange to
    * derive the corpus-duplicated gram set (filter-tiny → broadcasts back
    * into the semi join, no second gram exchange), hit positions flow
    * through one doc-keyed exchange (HIT docs only — dup-density-sized,
    * not corpus-sized), and the rewrite is a map-only kernel over the
    * corpus left-joined with that small relation. 100 TB: identical bill
    * to x99 plus the int-array payload on the duplicated minority.
    */
  def removeDupSpans(docs: DataFrame, k: Int = 40, minDocs: Int = 2,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val gramsU = udf((t: String) => Kernels.charGramPositions(t, k))
    val g = docs.select(col(idCol).as("doc_id"),
      explode(gramsU(col(textCol))).as(Seq("gram", "ps")))
    removeTail(docs, g, "gram", k, minDocs, textCol, idCol)
  }

  /** The production form of [[removeDupSpans]]: grams keyed by xxhash64
    * (8-byte exchange keys; [[Kernels.charGramHashPositions]]). A
    * collision can only ADD a removed span (P ≈ 4e-8 corpus-wide at sf0.1
    * density); the spec asserts bit-equality with the exact form.
    */
  def removeDupSpansHashed(docs: DataFrame, k: Int = 40, minDocs: Int = 2,
                           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val gramsU = udf((t: String) => Kernels.charGramHashPositions(t, k))
    val g = docs.select(col(idCol).as("doc_id"),
      explode(gramsU(col(textCol))).as(Seq("gh", "ps")))
    removeTail(docs, g, "gh", k, minDocs, textCol, idCol)
  }

  /** Shared tail of the removal twins: duplicated-gram set → per-doc
    * sorted hit positions → map-only rewrite over ALL docs.
    *
    * COST SHAPE, measured (BASELINE round-14 dup-density rows; retired
    * DupDensityProbe, runnable at `7779ac1`): the gram
    * relation `g` is derived twice — once for the dup set, once for the
    * hits branch — so the removal's premium over the x99-shaped audit is
    * ≈ one extra gram pass + the map-only rewrite, and is DUP-DENSITY-
    * INDEPENDENT (x114 ≈ 2× x99 at 4% duplication and at ≈1.0 alike).
    * What shrinks with density is the hits exchange's BYTES (dup-position
    * payloads: 4% of corpus chars at 4% density vs corpus-sized at ≈1.0).
    * The recompute-over-cache trade is deliberate: a cached gram explode
    * is ~10 GB at local 100× and a spill monster at 100 TB, while the
    * recompute is map-only work that scans parquet already in cache.
    */
  private def removeTail(docs: DataFrame, g: DataFrame, gramKey: String,
                         k: Int, minDocs: Int,
                         textCol: String, idCol: String): DataFrame = {
    val dup = g.groupBy(col(gramKey)).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col(gramKey))
    val hits = g.join(dup, Seq(gramKey), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(flatten(collect_list(col("ps")))).as("ps"))
    rewriteWithHits(docs, hits, k, textCol, idCol)
  }

  /** The rewrite map over docs left-joined with their sorted hit
    * positions — shared by the corpus-wide removal ([[removeDupSpans]])
    * and the incremental form ([[incrementalRemoveSpans]]).
    */
  private def rewriteWithHits(docs: DataFrame, hits: DataFrame, k: Int,
                              textCol: String, idCol: String): DataFrame = {
    val rewriteU = udf((text: String, ps: Seq[Int]) =>
      Kernels.removeSpans(text, k,
        if (ps == null) Array.empty[Int] else ps.toArray))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        length(col("_text")).cast(org.apache.spark.sql.types.LongType)
          .as("total_chars"),
        rewriteU(col("_text"), col("ps")).as("_rw"))
      .select(col("doc_id"), col("total_chars"),
        col("_rw._1").as("n_spans"), col("_rw._2").as("removed_chars"),
        col("_rw._3").as("text_clean"))
  }

  /** INCREMENTAL span removal (x118) — [[removeDupSpans]]' sibling in the
    * x86/x102 incremental family, and [[incrementalDupGrams]]' REWRITE
    * step: a NEW batch's documents are rewritten dropping every
    * character-`k`-gram span whose gram ALREADY EXISTS in the ingested
    * corpus ([[graft.sources.GramHistory]]) — the streaming-crawl form of
    * Lee et al.'s removal, where boilerplate the corpus already holds is
    * stripped from arrivals WITHOUT rescanning the corpus. When
    * `historyGrams` scans the bucketed store, the membership semi-join
    * rides the layout with NO history-side exchange (GramHistorySpec's
    * contract): per-batch cost is batch-sized at any corpus size. Output
    * one row per batch doc, [[removeDupSpans]]' schema; hash-membership
    * collisions can only ADD a removed span (x102's accepted budget).
    */
  def incrementalRemoveSpans(batch: DataFrame, historyGrams: DataFrame,
                             k: Int = 40, textCol: String = "text",
                             idCol: String = "doc_id",
                             broadcastProbe: Boolean = true): DataFrame =
    incrementalRemoveSpansFromGrams(batch,
      batchGramPositions(batch, k, textCol, idCol), historyGrams, k,
      textCol, idCol, broadcastProbe)

  /** [[incrementalRemoveSpans]] over a PRE-BUILT batch gram-position
    * relation `g` = (doc_id, gh, ps) — [[batchGramPositions]]' shape.
    * The kernel-once entry (round 19): a caller that also derives the
    * store probe's keyset from the batch grams materializes `g` once and
    * feeds both, instead of the gram UDF running once for the keyset and
    * again for the hits join.
    */
  def incrementalRemoveSpansFromGrams(batch: DataFrame, g: DataFrame,
                                      historyGrams: DataFrame,
                                      k: Int = 40, textCol: String = "text",
                                      idCol: String = "doc_id",
                                      broadcastProbe: Boolean = true): DataFrame = {
    val hits = g.join(probeHistorySet(g, historyGrams, broadcastProbe),
        Seq("gh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(flatten(collect_list(col("ps")))).as("ps"))
    rewriteWithHits(batch, hits, k, textCol, idCol)
  }

  /** The batch's per-doc hashed-gram COUNT relation (doc_id, gh, pc) —
    * the audit twins' kernel output as a first-class relation, so probe
    * callers can materialize ONE kernel pass and derive the store keyset
    * (`select(gh).distinct()` — identical to
    * [[graft.sources.GramHistory.gramHashes]]' set: both enumerate each
    * doc's distinct gram hashes) and the audit tail from it.
    */
  def batchGramCounts(batch: DataFrame, k: Int, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val gramsU = udf((t: String) => Kernels.charGramHashCounts(t, k))
    batch.select(col(idCol).as("doc_id"),
      explode(gramsU(col(textCol))).as(Seq("gh", "pc")))
  }

  /** The positions sibling of [[batchGramCounts]]: (doc_id, gh, ps) for
    * the span-removal twins. Same per-doc distinct gram-hash keyset.
    */
  def batchGramPositions(batch: DataFrame, k: Int, textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    val gramsU = udf((t: String) => Kernels.charGramHashPositions(t, k))
    batch.select(col(idCol).as("doc_id"),
      explode(gramsU(col(textCol))).as(Seq("gh", "ps")))
  }

  /** The history side of an incremental gram probe's semi-join.
    *
    * `broadcastProbe = true` (default — the incremental family's
    * contract is batch ≪ store): reduce the history to the BATCH's own
    * distinct key set and broadcast it, so the probe join is a
    * broadcast-hash semi over a map-only history scan — no history-side
    * exchange and, unlike the bucketed sort-merge shape, NO history-side
    * SORT (a multi-segment bucketed store loses write-time sortedness to
    * Spark's one-file-per-bucket rule, so the SMJ re-sorted the ENTIRE
    * store per probe — the one incremental-probe cost that grew with
    * history; measured in TriageScaleProbe/BASELINE round-16). The
    * reduction is membership-transparent: gh ∈ (H ⋉ K) ⟺ gh ∈ H for
    * every gh ∈ K, and the semi-join only ever asks about keys in K.
    *
    * `broadcastProbe = false`: pass `historyGrams` through untouched —
    * for callers that already hold a probe-reduced relation
    * ([[graft.sources.GramHistory.probeHistory]], which also applies the
    * sidecar-bloom pre-cut), or whose "batch" rivals the store and needs
    * the co-located bucket join instead of a broadcast build.
    *
    * The batch key set is materialized (it feeds the budget count and
    * the reduce join — the gram-explode UDF never re-runs) and the
    * broadcasts apply only within [[graft.util.ProbeBudget]]; over
    * budget the reduce degrades to the non-broadcast join with a named
    * warning (the enforced batch ≪ store contract).
    */
  private def probeHistorySet(g: DataFrame, historyGrams: DataFrame,
                              broadcastProbe: Boolean): DataFrame =
    if (!broadcastProbe) historyGrams.select(col("gh"))
    else {
      import graft.util.ProbeBudget
      val keys = graft.util.Materialize.eager(
        g.select(col("gh")).distinct())
      val spark = g.sparkSession
      val n = keys.count()
      if (ProbeBudget.within(spark, n, ProbeBudget.BytesPerKeyRow))
        broadcast(historyGrams.select(col("gh"))
          .join(broadcast(keys), Seq("gh"), "left_semi")
          .distinct())
      else {
        ProbeBudget.warnExceeded(
          org.slf4j.LoggerFactory.getLogger(getClass),
          "Dedup.probeHistorySet batch gram key set", n,
          ProbeBudget.BytesPerKeyRow, spark)
        historyGrams.select(col("gh"))
          .join(keys, Seq("gh"), "left_semi")
          .distinct()
      }
    }

  /** Incremental substring audit: score a NEW batch's documents against a
    * persisted corpus gram history ([[graft.sources.GramHistory]]) — per
    * doc, the fraction of k-gram positions whose gram already exists in
    * the corpus. The substring-level sibling of [[incrementalStatusBinary]]
    * (x86): that one asks "is this whole doc old", this asks "how much of
    * this doc's text is old" — the batch-vs-corpus contamination signal
    * without rescanning the corpus. When `historyGrams` scans the
    * bucketed store, the semi-join rides the layout with NO history-side
    * exchange (GramHistorySpec gates it): per-batch cost is batch-sized,
    * independent of corpus size. Output: (doc_id, total_pos, hist_pos,
    * hist_frac) for docs with ≥1 position; membership (not counts)
    * against history, so cross-append repeats in the store are harmless.
    */
  def incrementalDupGrams(batch: DataFrame, historyGrams: DataFrame,
                          k: Int = 40, textCol: String = "text",
                          idCol: String = "doc_id",
                          broadcastProbe: Boolean = true): DataFrame =
    incrementalDupGramsFromGrams(batch,
      batchGramCounts(batch, k, textCol, idCol), historyGrams, k,
      textCol, idCol, broadcastProbe)

  /** [[incrementalDupGrams]] over a PRE-BUILT batch gram relation `g` =
    * (doc_id, gh, pc) — [[batchGramCounts]]' shape. The kernel-once
    * entry (round 19): callers that also feed the store probe's keyset
    * from the batch grams materialize `g` once and derive both, instead
    * of the per-doc gram UDF running once for the keyset and again for
    * the hits join (two batch-wide kernel passes per probe).
    */
  def incrementalDupGramsFromGrams(batch: DataFrame, g: DataFrame,
                                   historyGrams: DataFrame,
                                   k: Int = 40, textCol: String = "text",
                                   idCol: String = "doc_id",
                                   broadcastProbe: Boolean = true): DataFrame = {
    val hits = g
      .join(probeHistorySet(g, historyGrams, broadcastProbe),
        Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("pc")).as("hist_pos"))
    batch.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("doc_id"),
        (length(col(textCol)).cast(org.apache.spark.sql.types.LongType) - (k - 1))
          .as("total_pos"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_pos"),
        coalesce(col("hist_pos"), lit(0L)).as("hist_pos"),
        (coalesce(col("hist_pos"), lit(0L))
          .cast(org.apache.spark.sql.types.DoubleType) / col("total_pos"))
          .as("hist_frac"))
  }

  /** Shared tail: corpus-duplicated gram set → per-doc duplicated-position
    * sum → per-doc fraction. `g` is per-(doc, gramKey), so `count(*)`
    * counts DISTINCT docs per gram.
    */
  private def dupPosTail(docs: DataFrame, g: DataFrame, gramKey: String,
                         k: Int, minDocs: Int,
                         textCol: String, idCol: String): DataFrame = {
    val dup = g.groupBy(col(gramKey)).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col(gramKey))
    val dupPos = g.join(dup, Seq(gramKey))
      .groupBy(col("doc_id")).agg(sum(col("pc")).as("dup_pos"))
    docs.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("doc_id"),
        (length(col(textCol)).cast(org.apache.spark.sql.types.LongType) - (k - 1))
          .as("total_pos"))
      .join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_pos"),
        coalesce(col("dup_pos"), lit(0L)).as("dup_pos"),
        (coalesce(col("dup_pos"), lit(0L))
          .cast(org.apache.spark.sql.types.DoubleType) / col("total_pos"))
          .as("dup_frac"))
  }
}
