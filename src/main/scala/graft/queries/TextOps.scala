package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Dedup

/** SURVEY.md §2.6 Q31/Q32/Q34 + extensions: LLM-training-data text
  * operators over `documents` — exact dedup, near-dup candidates with exact
  * Jaccard verification, token statistics, quality scoring.
  *
  * Scale notes: every query is one scan + bounded shuffles. The q32 oracle
  * query joins shingles inside (lang, length-window) buckets; the unbounded-
  * scale variant is [[graft.operators.Dedup.minHashNearDups]] (MinHash-LSH
  * band buckets instead of raw shingle join) — exposed as `x40_minhash_lsh`
  * with the SAME oracle, since at 128 hashes / 32 bands the probability of
  * LSH missing a Jaccard>=0.8 pair is ~1e-7.
  */
object TextOps {

  def defs: Seq[QueryDef] =
    Seq(q31, q32, q34, q34b, x40_minhash_lsh, x41_quality,
      x41b_stopword_gate, x44_simhash,
      x45_simhash_neardup, x48_langid, x49_fingerprint, x50_bpe_tokens,
      x81_winnow_fps, x82_shared_spans, x84_dup_components, x85_dedup_resolve,
      x86_incremental_dedup, x95_unigram_lm, x97_bigram_lm, x99_dupgrams,
      x100_best_keeper, x102_incremental_dupgrams, x105_bpe_train,
      x106_bpe_encode, x114_remove_dup_spans, x118_incremental_remove_spans,
      x123_incremental_neardup, x125_crawl_triage, x126_crawl_triage_cascade,
      x127_crawl_triage_derived)

  /** Distinct word-trigram shingles, exploded: (doc_id, lang, n_chars, sh).
    * Word n-grams (not character grams) are the dedup unit: on natural text
    * they are selective enough that the shingle join fans out per true
    * near-dup pair instead of per shared substring.
    */
  def shingles(docs: DataFrame): DataFrame = {
    // per-doc kernel (same distinct-trigram set as the transform() HOF it
    // replaces, without the interpreted-HOF cost; <3-token docs yield an
    // empty array, i.e. no rows — identical to the old size filter)
    val trigU = udf((t: String) => graft.operators.Kernels.wordTrigramSet(t))
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
      explode(trigU(col("text"))).as("sh"))
  }

  /** Distinct word-trigram shingles as ONE array row per doc — the input
    * shape for the per-doc MinHash kernel: the whole signature pipeline is
    * then map-only (no corpus-wide explode).
    */
  def shingleArrays(docs: DataFrame): DataFrame = {
    val trigU = udf((t: String) => graft.operators.Kernels.wordTrigramSet(t))
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        trigU(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
  }

  /** As [[shingleArrays]] but WITHOUT the non-empty filter — the x40
    * verify-fetch shape. Candidate docs always have shingles (empty-array
    * docs never reach a candidate pair), and the filter would be
    * predicate-pushed below the fetch's semi-join, re-running the trigram
    * kernel corpus-wide for the size check alone.
    */
  def shingleArraysUnfiltered(docs: DataFrame): DataFrame = {
    val trigU = udf((t: String) => graft.operators.Kernels.wordTrigramSet(t))
    docs.select(col("doc_id"), trigU(col("text")).as("shs"))
  }

  /** Oracle twin of [[shingles]] over an arbitrary (doc_id, text, lang,
    * n_chars) relation (zipped-UNNEST form: DuckDB 1.0 does not allow
    * lateral column args to the generate_series table function).
    */
  def shinglesSqlOver(rel: String): String =
    s"""SELECT DISTINCT doc_id, lang, n_chars,
       |  toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
       |FROM (
       |  SELECT doc_id, lang, n_chars, toks,
       |    UNNEST(generate_series(1, GREATEST(LEN(toks) - 2, 0))) AS i
       |  FROM (SELECT doc_id, lang, n_chars, STR_SPLIT(text, ' ') AS toks
       |        FROM $rel)
       |  WHERE LEN(toks) >= 3)""".stripMargin

  val ShinglesSql: String = shinglesSqlOver("documents")

  /** Exact Jaccard >= 0.8 pairs among same-lang, similar-length docs.
    * Shared by q32 (shingle-join plan) and x40 (MinHash-LSH plan).
    */
  val NearDupOracle: String = Sql.canon(
    s"""WITH s AS ($ShinglesSql),
       |c AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM s a JOIN s b
       |    ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
       |   AND ABS(a.n_chars - b.n_chars) * 2 <= GREATEST(a.n_chars, b.n_chars)
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
       |FROM p JOIN c ca ON p.doc_a = ca.doc_id JOIN c cb ON p.doc_b = cb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.8""".stripMargin,
    Seq("doc_a", "doc_b", "jaccard"))

  /** Exact Jaccard from a candidate-pair set (doc_a, doc_b). */
  def exactJaccard(sh: DataFrame, candidates: DataFrame): DataFrame = {
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = candidates
      .join(a, "doc_a").join(b, Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard", col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")
  }

  // ---------------------------------------------------------------- Q31
  /** Exact dedup: group by content hash, keep min doc_id. */
  val q31: QueryDef = QueryDef(
    "q31_dedup_exact",
    Sql.canon(
      """SELECT md5(text) AS text_hash,
        |  CAST(MIN(doc_id) AS BIGINT) AS keeper,
        |  COUNT(*) AS group_size
        |FROM documents GROUP BY md5(text)""".stripMargin,
      Seq("text_hash", "keeper", "group_size"))) { (s, d) =>
    Canon(Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("group_size")))
  }

  // ---------------------------------------------------------------- Q32
  /** Near-dup detection, oracle-checkable plan: shingle equi-join inside
    * (lang, length-window) buckets, then exact Jaccard. (The LSH-pruned
    * variant is x40.)
    */
  val q32: QueryDef = QueryDef("q32_neardup", NearDupOracle) { (s, d) =>
    // corpus-kernel fan-out: the shingle explode + cache build ran on 1
    // of 32 cores over the single-row-group scan (util.Scans rationale)
    val sh = shingles(Tables.fanOutForKernels(Tables.documents(s, d))).cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // self-join sides carry fully DISTINCT column names: referencing the
    // shared parent's columns from both sides (a("sh") === b("sh")) makes
    // Spark warn about — and silently "fix" — a trivially-true predicate,
    // which is exactly the ambiguity that can hide a real self-join bug
    val a = sh.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"),
      col("n_chars").as("nc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("n_chars").as("nc_b"), col("sh").as("sh_b"))
    val inter = a.join(b,
        col("sh_a") === col("sh_b") && col("lang_a") === col("lang_b") &&
          col("doc_a") < col("doc_b") &&
          abs(col("nc_a") - col("nc_b")) * 2 <= greatest(col("nc_a"), col("nc_b")))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    val j = inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard", col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")
    // materialize the (small) pair result eagerly so the cached shingle
    // relation is released here, not leaked for the session lifetime
    // (order-preserving; reliable checkpoint when a checkpoint dir is set —
    // see graft.util.Materialize)
    val out = graft.util.Materialize.eager(Canon(j))
    sh.unpersist(false)
    out
  }

  // ---------------------------------------------------------------- Q34
  /** Top-20 most frequent lowercase tokens (len >= 4). */
  val q34: QueryDef = QueryDef(
    "q34_tokens",
    Sql.canon(
      """SELECT tok, COUNT(*) AS n FROM (
        |  SELECT UNNEST(string_split_regex(LOWER(text), '\s+')) AS tok FROM documents)
        |WHERE LENGTH(tok) >= 4
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
      Seq("tok", "n"))) { (s, d) =>
    // per-doc token-count maps collapse the explode from one row per token
    // OCCURRENCE to one row per distinct token per doc before the shuffle
    val tokCounts = udf((t: String) => graft.operators.Kernels.tokenCounts(t, 4))
    Canon(Tables.documents(s, d)
      .select(explode(tokCounts(lower(col("text")))).as(Seq("tok", "c")))
      .groupBy(col("tok")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(20))
  }

  /** Per-language corpus statistics (exact integer arithmetic). */
  val q34b: QueryDef = QueryDef(
    "q34b_langstats",
    Sql.canon(
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |  CAST(SUM(LEN(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang""".stripMargin,
      Seq("lang", "n_docs", "avg_chars", "total_tokens"))) { (s, d) =>
    Canon(Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
        sum(size(split(col("text"), "\\s+")).cast(LongType)).as("total_tokens")))
  }

  // ---------------------------------------------------------------- x40
  /** The 100 TB near-dup plan: MinHash + banded LSH candidate generation,
    * then exact Jaccard — checked against the SAME exhaustive oracle as q32.
    * At 128 hashes / 32 bands the probability of LSH missing a true
    * Jaccard>=0.8 pair is (1-0.8^4)^32 ≈ 5e-8, so the answers coincide; the
    * join fans out per LSH *bucket* instead of per shared shingle.
    */
  val x40_minhash_lsh: QueryDef = QueryDef("x40_minhash_lsh", NearDupOracle) { (s, d) =>
    // The PRODUCER of the verified-pair relation. Building the frame is
    // side-effect-free: scanOrCompute returns the persisted pairs when the
    // explicit producer step (PairStore.refresh — run by Verify/Bench
    // before the resolution queries x84/x85) already materialized them,
    // else the pipeline plan itself. The composition win: resolution — and
    // the driver's own Verify output the x84/x85 oracles replay over —
    // consumes ONE materialization instead of re-running the corpus scan +
    // shuffle per query (the dominant cost at 100 TB).
    Canon(graft.operators.PairStore.scanOrCompute(s, "x40_minhash_lsh", d)(
      lshNearDupPairs(s, d)))
  }

  /** The x40 pair plan, un-canonicalized: MinHash-LSH candidates restricted
    * to the oracle's (same-lang, length-window) buckets, exact-Jaccard
    * verified over a candidates-sized fetch. Shared by x40 and the
    * cluster-resolution queries x84/x85 that consume the pairs.
    */
  def lshNearDupPairs(s: SparkSession, d: String): DataFrame =
    // corpus-kernel fan-out: the MinHash signature kernel (128 seeded
    // hashes over every shingle of every doc — the heaviest per-doc
    // kernel in the engine) ran on 1 core over the single-row-group scan
    lshNearDupPairsOf(Tables.fanOutForKernels(Tables.documents(s, d)))

  /** The x40 pipeline over an arbitrary docs frame (doc_id, lang, n_chars,
    * text) — the registry entry binds it to the `documents` table; the
    * pipeline rehearsal binds it to the CURATED survivors. The (same-lang,
    * length-window) candidate restriction is part of the operator's scale
    * contract, not an oracle convenience: on templated corpora the
    * unrestricted banded buckets collide across languages/lengths and the
    * verify join fans out into gigabytes of exchange (measured in the
    * round-11 rehearsal at 500k docs: 11 GB shuffle / 333 s unfiltered —
    * the filtered numbers are the BASELINE.md rehearsal table).
    */
  def lshNearDupPairsOf(docs: DataFrame): DataFrame = {
    val meta = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    // Restrict candidates to the oracle's (same-lang, length-window) buckets.
    val bucketFilter: DataFrame => DataFrame = cands => cands
      .join(meta.select(col("doc_id").as("doc_a"), col("lang").as("la"),
        col("n_chars").as("nca")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"), col("lang").as("lb"),
        col("n_chars").as("ncb")), "doc_b")
      .filter(col("la") === col("lb") &&
        abs(col("nca") - col("ncb")) * 2 <= greatest(col("nca"), col("ncb")))
      .select("doc_a", "doc_b")
    Dedup.minHashNearDupsFromShingleArrays(
      shingleArrays(docs).select("doc_id", "shs"),
      threshold = 0.8, bucketFilter = bucketFilter,
      verifyFetch = Some(x40VerifyFetch(docs)))
  }

  /** x40's verify fetch: semi-join the RAW docs on the candidate ids BELOW
    * the trigram projection, so survivor shingle arrays are recomputed for
    * candidate docs only — the fetch (and its cache) is candidates-sized.
    * Named (not inlined in the QueryDef) so PlanSpec gates the PRODUCTION
    * fetch shape, not a reconstruction.
    */
  def x40VerifyFetch(docs: DataFrame)(ids: DataFrame): DataFrame =
    shingleArraysUnfiltered(docs.join(ids, Seq("doc_id"), "left_semi"))

  // ---------------------------------------------------------------- x84/x85
  /** Shared oracle CTE list: the verified pair relation the SAME Verify run
    * persisted as x40's parquet output (the `__VERIFY_OUT__` replay device,
    * as x45/x82 — x40's own oracle already hash-checks those pairs against
    * the exhaustive exact-Jaccard query, so replaying over them is anchored,
    * and it verifies the composition the Spark side actually runs: the
    * resolution consumes the persisted pairs, not a rebuilt pipeline),
    * symmetrized into an edge list, plus the transitive-closure `reach`
    * relation (DuckDB recursive CTE; UNION dedups, so the fixpoint is
    * bounded by nodes x labels). `MIN(lab) GROUP BY node` is then the
    * component id.
    */
  private val DupComponentsCtes: String =
    s"""WITH RECURSIVE
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM read_parquet('__VERIFY_OUT__/x40_minhash_lsh/*.parquet')),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS node, src AS lab FROM edges
       |  UNION
       |  SELECT e.dst AS node, r.lab FROM reach r JOIN edges e ON e.src = r.node),
       |comp AS (SELECT node AS doc_id, MIN(lab) AS component FROM reach GROUP BY node)""".stripMargin

  /** The verified-pair relation x84/x85 resolve over: the relation x40's
    * producer step persisted in this application
    * ([[graft.operators.PairStore]] — a candidates-sized parquet scan, no
    * pipeline re-run), or the pipeline plan itself when no producer step
    * preceded the call (standalone use — lazy, pays the pipeline only when
    * the resolution actually runs).
    */
  def verifiedPairs(s: SparkSession, d: String): DataFrame =
    graft.operators.PairStore.scanOrCompute(s, "x40_minhash_lsh", d)(
      lshNearDupPairs(s, d))

  /** Near-dup cluster resolution, step 1: connected components over the x40
    * pair set (hash-min label propagation — [[graft.operators.Components]]).
    * The component id IS the canonical keeper (minimum doc id), so this
    * relation is directly the "which doc replaces which" dedup mapping.
    * Consumes the PERSISTED pair relation ([[verifiedPairs]]): resolution
    * cost is propagation over candidates-sized pairs, decoupled from the
    * corpus-scale pair pipeline x40 already ran. The oracle replays the
    * closure with a recursive CTE over the same persisted pairs.
    */
  val x84_dup_components: QueryDef = QueryDef(
    "x84_dup_components",
    Sql.canon(s"$DupComponentsCtes\nSELECT doc_id, component FROM comp",
      Seq("doc_id", "component"))) { (s, d) =>
    Canon(graft.operators.Components.connectedComponents(verifiedPairs(s, d))
      .select(col("node").as("doc_id"), col("component")))
  }

  /** Near-dup cluster resolution, step 2: apply the components back to the
    * corpus — per-language kept/removed counts when every component retains
    * only its minimum doc id. The removed set is components-sized, so the
    * corpus-side application is one equi-join (broadcast at typical dup
    * rates) + per-lang aggregate.
    */
  val x85_dedup_resolve: QueryDef = QueryDef(
    "x85_dedup_resolve",
    Sql.canon(
      s"""$DupComponentsCtes,
         |dups AS (SELECT doc_id FROM comp WHERE doc_id <> component)
         |SELECT d.lang, COUNT(*) AS n_docs,
         |  COUNT(*) - COUNT(dd.doc_id) AS n_kept,
         |  COUNT(dd.doc_id) AS n_removed
         |FROM documents d LEFT JOIN dups dd ON d.doc_id = dd.doc_id
         |GROUP BY d.lang""".stripMargin,
      Seq("lang", "n_docs", "n_kept", "n_removed"))) { (s, d) =>
    val comp = graft.operators.Components.connectedComponents(verifiedPairs(s, d))
    val removed = comp.filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id")).withColumn("_rm", lit(1))
    Canon(Tables.documents(s, d)
      .join(removed, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - count(col("_rm"))).as("n_kept"),
        count(col("_rm")).as("n_removed")))
  }

  // ---------------------------------------------------------------- x86
  /** Incremental dedup: a NEW crawl batch classified against the already-
    * ingested corpus by content hash ([[Dedup.incrementalStatus]]).
    *
    * The corpus has no real "second crawl", so the batch is DERIVED
    * deterministically from existing columns — the same device as
    * x61/x62/x64 (and Q26's synthetic points): docs md5-bucket >= 60 form
    * the new batch, docs bucket < 60 are history, and the batch
    * additionally contains recrawls of history docs (bucket % 7 = 0,
    * id + 10M — these must classify `dup_of_history`) and second copies of
    * batch docs (bucket % 11 = 0, id + 20M — `dup_in_batch`). The oracle
    * replays the derivation and the classification exactly.
    */
  /** x86's md5-bucket split of `documents` (shared with the HashHistory
    * specs): (history docs, batch docs) as (doc_id, text) — the
    * [[x123Split]] derivation projected to the exact-dedup columns; see
    * the QueryDef scaladoc for the derivation.
    */
  private[graft] def x86Split(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (history, batch) = x123Split(s, d)
    (history.select(col("doc_id"), col("text")),
      batch.select(col("doc_id"), col("text")))
  }

  /** x86's history as the [[graft.sources.HashHistory]] layout: one BINARY
    * `th` column, `unhex(md5(text))`.
    */
  private[graft] def x86HistoryHashes(s: SparkSession, d: String): DataFrame =
    x86Split(s, d)._1.select(unhex(md5(col("text"))).as("th"))

  val x86_incremental_dedup: QueryDef = QueryDef(
    "x86_incremental_dedup",
    Sql.canon(
      """WITH bkt AS (SELECT doc_id, text,
        |  CAST(CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)
        |       AS BIGINT) % 100 AS INT) AS bucket
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id, text FROM bkt WHERE bucket >= 60
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM bkt WHERE bucket < 60 AND bucket % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000000, text FROM bkt WHERE bucket >= 60 AND bucket % 11 = 0),
        |h AS (SELECT DISTINCT MD5(text) AS th FROM bkt WHERE bucket < 60),
        |b AS (SELECT doc_id, MD5(text) AS th FROM batch),
        |k AS (SELECT th, MIN(doc_id) AS keeper FROM b GROUP BY th)
        |SELECT b.doc_id,
        |  CASE WHEN h.th IS NOT NULL THEN 'dup_of_history'
        |       WHEN b.doc_id <> k.keeper THEN 'dup_in_batch'
        |       ELSE 'kept' END AS status
        |FROM b LEFT JOIN h ON b.th = h.th JOIN k ON b.th = k.th""".stripMargin,
      Seq("doc_id", "status"))) { (s, d) =>
    val (history, batch) = x86Split(s, d)
    // history via the session store device ([[graft.sources.HashHistory]]):
    // when a producer step persisted the bucketed hash store for this dir,
    // the probe scans it co-located (no history-side exchange); else the
    // derived in-query history plan — lazily, same values either way (the
    // oracle replays the derivation)
    Canon(Dedup.incrementalStatusBinary(batch,
      graft.sources.HashHistory.scanOrCompute(s, d)(
        history.select(unhex(md5(col("text"))).as("th")))))
  }

  // ---------------------------------------------------------------- x123
  /** The ONE md5-bucket crawl split (x86's scaladoc has the derivation):
    * (history, batch) with (doc_id, text, lang, n_chars), the near-dup
    * restriction columns included. Every incremental text entry derives
    * from it ([[x86Split]] is its (doc_id, text) projection), so they
    * describe ONE crawl scenario — the +10M recrawls are verbatim copies
    * of history docs and must surface here as Jaccard-1.0 near-dup pairs
    * against their originals (the planted truth the oracle reconstructs).
    */
  private[graft] def x123Split(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val bucket = (conv(substring(md5(col("doc_id").cast(StringType)), 1, 8),
      16, 10).cast(LongType) % 100).cast(IntegerType)
    val cols = Seq(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val bkt = Tables.documents(s, d).select(cols: _*).withColumn("bucket", bucket)
    val history = bkt.filter(col("bucket") < 60).select(cols: _*)
    val base = bkt.filter(col("bucket") >= 60)
    val batch = base.select(cols: _*)
      .unionAll(bkt.filter(col("bucket") < 60 && col("bucket") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
          col("lang"), col("n_chars")))
      .unionAll(base.filter(col("bucket") % 11 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text"),
          col("lang"), col("n_chars")))
    (history, batch)
  }

  /** The [[graft.sources.MinHashHistory]] band layout of a (doc_id, text,
    * lang, n_chars) frame: (bucket, id, n_chars), one row per (doc, band),
    * with lang FOLDED into the bucket hash (not carried as a column).
    * Null-lang docs are dropped: the oracle's `b.lang = h.lang` equality
    * never pairs them, while Spark's xxhash64 SKIPS null inputs (the fold
    * would degrade to hash-of-bucket-alone and pair two null-lang docs) —
    * filtering both store and probe builds keeps the semantics identical.
    */
  private[graft] def minHashBandsOf(docs: DataFrame): DataFrame = {
    val arrs = shingleArrays(docs).filter(col("lang").isNotNull)
    graft.operators.Dedup.bandedBuckets(
      graft.operators.Dedup.minHashSignaturesFromArrays(
        arrs.select(col("doc_id"), col("shs"))), 32, 128)
      .join(arrs.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
      // lang folds INTO the bucket key: the same-lang candidate restriction
      // becomes structural (cross-lang rows meet only on a 64-bit hash
      // coincidence, P ≈ 2⁻⁶⁴ — far below the 5e-8 banding budget), and
      // the probe join keeps a SINGLE key — a separate lang equality would
      // become a second join key and defeat the store's bucket-co-location
      .select(xxhash64(col("bucket"), col("lang")).as("bucket"),
        col("doc_id").as("id"), col("n_chars"))
  }

  /** The store's shingle-hash relation of a docs frame: (id, shash), one
    * row per distinct word trigram per doc. Null-lang docs are dropped to
    * MATCH the band relation ([[minHashBandsOf]]'s filter): without a
    * band row they can never become candidates, so their shingle rows
    * would be dead weight every build/append/compact carries.
    */
  private[graft] def minHashShinglesOf(docs: DataFrame): DataFrame =
    shingleArrays(docs).filter(col("lang").isNotNull)
      .select(col("doc_id").as("id"), explode(col("shs")).as("_sh"))
      .select(col("id"), xxhash64(col("_sh")).as("shash"))

  /** x123's history in the two store layouts. */
  private[graft] def x123HistoryBands(s: SparkSession, d: String): DataFrame =
    minHashBandsOf(x123Split(s, d)._1)

  private[graft] def x123HistoryShingles(s: SparkSession, d: String): DataFrame =
    minHashShinglesOf(x123Split(s, d)._1)

  /** Incremental text NEAR-DUP — the missing member of the incremental
    * store family (exact-doc x86 / substring x102 / payload x109 / audio
    * x113 / video x116 / text near-dup THIS): a NEW crawl batch's
    * MinHash band buckets probed against the persisted
    * [[graft.sources.MinHashHistory]] LSH index — the production
    * deployment of text dedup (an all-corpus pair pass per crawl is the
    * thing the index exists to avoid), then exact Jaccard ≥ 0.8 against
    * the store's per-doc shingle-hash rows (candidates-only fetch riding
    * the id-bucketed layout; [[graft.operators.Dedup.incrementalNearDups]]
    * has the cost shape and the two accepted hash budgets). The oracle
    * replays the split and the EXHAUSTIVE batch×history shingle join with
    * string shingles — banding misses (P ≈ 5e-8) and xxhash64 collisions
    * (4e-8) are the same coincidence budgets x40/q32 and x102 already
    * carry. The +10M recrawls must pair with their originals at exactly
    * 1.0.
    */
  val x123_incremental_neardup: QueryDef = QueryDef(
    "x123_incremental_neardup",
    Sql.canon(
      s"""WITH bkt AS (SELECT doc_id, text, lang, n_chars,
         |  CAST(CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)
         |       AS BIGINT) % 100 AS INT) AS bucket
         |  FROM documents),
         |hist AS (SELECT doc_id, text, lang, n_chars FROM bkt WHERE bucket < 60),
         |batch AS (
         |  SELECT doc_id, text, lang, n_chars FROM bkt WHERE bucket >= 60
         |  UNION ALL
         |  SELECT doc_id + 10000000, text, lang, n_chars FROM bkt
         |  WHERE bucket < 60 AND bucket % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000000, text, lang, n_chars FROM bkt
         |  WHERE bucket >= 60 AND bucket % 11 = 0),
         |sb AS (${shinglesSqlOver("batch")}),
         |sh AS (${shinglesSqlOver("hist")}),
         |cb AS (SELECT doc_id, COUNT(*) AS n FROM sb GROUP BY doc_id),
         |ch AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |p AS (
         |  SELECT b.doc_id AS doc_a, h.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sb b JOIN sh h
         |    ON b.sh = h.sh AND b.lang = h.lang
         |   AND ABS(b.n_chars - h.n_chars) * 2 <= GREATEST(b.n_chars, h.n_chars)
         |  GROUP BY b.doc_id, h.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / (ca.n + cb2.n - inter) AS jaccard
         |FROM p JOIN cb ca ON p.doc_a = ca.doc_id
         |       JOIN ch cb2 ON p.doc_b = cb2.doc_id
         |WHERE CAST(inter AS DOUBLE) / (ca.n + cb2.n - inter) >= 0.8""".stripMargin,
      Seq("doc_a", "doc_b", "jaccard"))) { (s, d) =>
    val (history, batch) = x123Split(s, d)
    Canon(nearDupLeg(s, d, shingleArrays(batch), history))
  }

  // ------------------------------------------- shared triage oracle SQL
  // The three triage oracles (x125 all-legs / x126 cascade / x127
  // derived-threshold) replay the SAME crawl split, exact-status
  // derivation, gram-contamination measure and shingle-Jaccard verify;
  // round 17 carried that ~60-line prologue verbatim in each, which is
  // exactly how sibling oracles drift. ONE definition per shared block
  // (the shinglesSqlOver precedent); each oracle template composes the
  // blocks plus only its genuinely-variant CTEs (x126's survivor-gated
  // gram/shingle slices, x127's threshold derivation). Extraction is
  // byte-identical to the round-17 strings (snapshot-diffed).

  /** `WITH` prologue: md5-bucket crawl split (bkt/hist/batch) + x86 exact
    * status (h86/b86/k86/st) — identical in all three oracles.
    */
  private def triageSplitStatusSql: String =
    s"""WITH bkt AS (SELECT doc_id, text, lang, n_chars,
       |  CAST(CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)
       |       AS BIGINT) % 100 AS INT) AS bucket
       |  FROM documents),
       |hist AS (SELECT doc_id, text, lang, n_chars FROM bkt WHERE bucket < 60),
       |batch AS (
       |  SELECT doc_id, text, lang, n_chars FROM bkt WHERE bucket >= 60
       |  UNION ALL
       |  SELECT doc_id + 10000000, text, lang, n_chars FROM bkt
       |  WHERE bucket < 60 AND bucket % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 20000000, text, lang, n_chars FROM bkt
       |  WHERE bucket >= 60 AND bucket % 11 = 0),
       |h86 AS (SELECT DISTINCT MD5(text) AS th FROM bkt WHERE bucket < 60),
       |b86 AS (SELECT doc_id, MD5(text) AS th FROM batch),
       |k86 AS (SELECT th, MIN(doc_id) AS keeper FROM b86 GROUP BY th),
       |st AS (
       |  SELECT b86.doc_id,
       |    CASE WHEN h86.th IS NOT NULL THEN 'dup_of_history'
       |         WHEN b86.doc_id <> k86.keeper THEN 'dup_in_batch'
       |         ELSE 'kept' END AS status
       |  FROM b86 LEFT JOIN h86 ON b86.th = h86.th
       |  JOIN k86 ON b86.th = k86.th)""".stripMargin

  /** History gram set (hg) — identical in all three. */
  private def triageHgSql: String =
    s"""hg AS (
       |  SELECT DISTINCT SUBSTR(text, i, $DupGramK) AS gram
       |  FROM (SELECT text,
       |          UNNEST(generate_series(1, LENGTH(text) - ${DupGramK - 1})) AS i
       |        FROM bkt WHERE bucket < 60 AND LENGTH(text) >= $DupGramK))""".stripMargin

  /** Per-doc duplicated-position sum (hp) — identical in all three. */
  private def triageHpSql: String =
    s"""hp AS (SELECT bg.doc_id, CAST(SUM(bg.pc) AS BIGINT) AS hist_pos
       |       FROM bg JOIN hg USING (gram) GROUP BY bg.doc_id)""".stripMargin

  /** Whole-batch gram leg (hg/bg/hp/gf) — shared by x125 and x127 (x126
    * gates bg/gf on the cascade's survivors instead).
    */
  private def triageGramSql: String =
    s"""$triageHgSql,
       |bg AS (
       |  SELECT doc_id, SUBSTR(text, i, $DupGramK) AS gram, COUNT(*) AS pc
       |  FROM (SELECT doc_id, text,
       |          UNNEST(generate_series(1, LENGTH(text) - ${DupGramK - 1})) AS i
       |        FROM batch WHERE LENGTH(text) >= $DupGramK)
       |  GROUP BY doc_id, gram),
       |$triageHpSql,
       |gf AS (
       |  SELECT doc_id, CAST(COALESCE(hp.hist_pos, 0) AS DOUBLE) /
       |    (LENGTH(text) - ${DupGramK - 1}) AS hist_frac
       |  FROM batch LEFT JOIN hp USING (doc_id)
       |  WHERE LENGTH(text) >= $DupGramK)""".stripMargin

  /** Whole-batch shingle slice (sb) — shared by x125 and x127 (x126's is
    * kept-gated).
    */
  private def triageSbSql: String =
    s"""sb AS (${shinglesSqlOver("batch")})"""

  /** Shingle-Jaccard verify tail (sh/cb/ch/p/jac over whatever `sb` the
    * template defined) — identical in all three.
    */
  private def triageJaccardSql: String =
    s"""sh AS (${shinglesSqlOver("hist")}),
       |cb AS (SELECT doc_id, COUNT(*) AS n FROM sb GROUP BY doc_id),
       |ch AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |p AS (
       |  SELECT b.doc_id AS doc_a, h.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sb b JOIN sh h
       |    ON b.sh = h.sh AND b.lang = h.lang
       |   AND ABS(b.n_chars - h.n_chars) * 2 <= GREATEST(b.n_chars, h.n_chars)
       |  GROUP BY b.doc_id, h.doc_id),
       |jac AS (
       |  SELECT doc_a AS doc_id,
       |    MAX(CAST(inter AS DOUBLE) / (ca.n + cb2.n - inter)) AS best_jaccard
       |  FROM p JOIN cb ca ON p.doc_a = ca.doc_id
       |         JOIN ch cb2 ON p.doc_b = cb2.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (ca.n + cb2.n - inter) >= 0.8
       |  GROUP BY doc_a)""".stripMargin

  /** Pinned-cut verdict SELECT — shared by x125 and x126 (x127's derives
    * the strip cut and emits it as a checked column).
    */
  private def triageVerdictSql: String =
    """SELECT s.doc_id, s.status,
      |  COALESCE(j.best_jaccard, 0.0) AS best_jaccard,
      |  COALESCE(g.hist_frac, 0.0) AS hist_frac,
      |  CASE WHEN s.status <> 'kept' THEN 'drop_exact'
      |       WHEN COALESCE(j.best_jaccard, 0.0) >= 0.8 THEN 'drop_near'
      |       WHEN COALESCE(g.hist_frac, 0.0) >= 0.3 THEN 'strip_spans'
      |       ELSE 'keep' END AS verdict
      |FROM st s
      |LEFT JOIN jac j ON s.doc_id = j.doc_id
      |LEFT JOIN gf g ON s.doc_id = g.doc_id""".stripMargin

  // ---------------------------------------------------------------- x125
  /** Crawl TRIAGE — the production verdict view a crawl pipeline actually
    * emits per incoming document, composing the three text-side
    * incremental probes over ONE batch (the shared md5-bucket split, the
    * same crawl the x86/x102/x123 entries and the CrawlRehearsal drive):
    * exact status (x86's hash-store probe), best history near-dup Jaccard
    * (x123's LSH-index probe) and duplicated-substring fraction (x102's
    * gram-store probe), resolved into one verdict —
    *
    *   `drop_exact`  — verbatim copy of history or of a batch sibling;
    *   `drop_near`   — a history near-dup at Jaccard ≥ 0.8 (the MinHash
    *                   cut: keep the history copy, drop the recrawl);
    *   `strip_spans` — kept, but ≥ 30% of its 40-gram positions already
    *                   exist in the corpus → route to x118's incremental
    *                   span removal instead of ingesting verbatim;
    *   `keep`        — novel content.
    *
    * The legs are the ONE builder each of [[statusLeg]], [[nearDupLeg]]
    * and [[gramLeg]] (the x123 and x102 bodies call the same builders),
    * composed by [[triageAll]] — the form the streaming twin's default
    * branch and TriageScaleProbe run too. Each leg rides its persisted
    * store when a producer ran (no history-side exchange — the per-store
    * plan gates) and falls back to the derived in-query history
    * otherwise; the oracle replays all three derivations and the verdict
    * CASE in one SQL. Thresholds are the registry pins (x40's 0.8; 0.3
    * for the strip route) — the quantile-DERIVED strip cut is x127 (the
    * x115 device; the near-dup cut stays pinned by banding design, see
    * x127's scaladoc).
    *
    * COST SHAPE, deliberate: this is the x90-style EXPLAINABLE audit —
    * all three measures for EVERY batch doc (threshold tuning and "why
    * was doc X dropped" need the full matrix), so its cost ≈ the three
    * probes' sum. The production fast path CASCADES instead: exact
    * status first (cheapest), near-dup probe only on `kept` survivors,
    * gram audit only on near-dup survivors — batch-sized legs shrinking
    * at each stage. The cascade emits the same verdicts; only the
    * non-verdict columns differ (unprobed legs read 0). That form is
    * x126 (batch) and `CurationStreams.crawlTriage(cascade = true)`
    * (streaming). Round-18 cost regime (BASELINE NovelBatchProbe rows —
    * retired tool, runnable at `7779ac1` — and TriageScaleProbe rows):
    * fully-novel batches short-circuit BOTH forms to zero store reads through the bloom-gated probes; on
    * store-scale dup-heavy batches the cascade wins 2.3×; on small
    * dup-heavy batches the forms tie (the all-legs form got cheap on
    * exactly the slices the cascade used to skip).
    */
  val x125_crawl_triage: QueryDef = QueryDef(
    "x125_crawl_triage",
    Sql.canon(
      s"""$triageSplitStatusSql,
         |$triageGramSql,
         |$triageSbSql,
         |$triageJaccardSql
         |$triageVerdictSql""".stripMargin,
      Seq("doc_id", "status", "best_jaccard", "hist_frac", "verdict"))) { (s, d) =>
    Canon(withVerdict(crawlTriageMeasures(s, d)))
  }

  /** x125/x127's all-legs measure matrix over the crawl split. Batch and
    * history come from ONE split call, so `documents` is read (and its
    * schema inferred, one job) once; the history frame is only evaluated
    * when no producer step registered the stores.
    */
  private def crawlTriageMeasures(s: SparkSession, d: String): DataFrame = {
    val (history, batch) = x123Split(s, d)
    triageAll(s, d, batch, history)
  }

  // ------------------------------------------------- the three triage legs
  // One builder per store probe. Each takes a batch and a BY-NAME history
  // docs frame (doc_id, text[, lang, n_chars]): the history is evaluated
  // only when no producer step registered the store for `d` — the
  // streaming twin and the probes pass a throwing fallback. Each returns
  // a lazy relation; the eager jobs a leg needs (batch hash/gram pins,
  // the store probes' bloom cuts and broadcast builds) run when it is
  // built, so callers overlap or gate legs by building them.

  /** Exact-status leg (x86's hash store): (doc_id, status) for a
    * (doc_id, text) batch. ONE md5 pass — the driver-local (doc_id, th)
    * relation feeds the probe keyset AND the status join/keeper election
    * (lazily the hash projection ran once per consumer); batch-bounded,
    * so a LocalTableScan within the cap. The probe is bloom-gated and
    * bucket-pruned, so a fully-novel batch reads zero hash-store files.
    */
  private[graft] def statusLeg(s: SparkSession, d: String, batch: DataFrame,
                               history: => DataFrame): DataFrame = {
    val (bh, _) = graft.util.Materialize.localOrEager(
      batch.select(col("doc_id"), unhex(md5(col("text"))).as("th")))
    Dedup.incrementalStatusFromHashes(bh,
      graft.sources.HashHistory.probeHistory(s, d, bh.select(col("th")))(
        history.select(unhex(md5(col("text"))).as("th"))))
  }

  /** Near-dup leg (x123's LSH index): (doc_a = batch id, doc_b = history
    * id, jaccard ≥ 0.8) for a [[shingleArrays]] batch; the history needs
    * the lang and n_chars columns.
    */
  private[graft] def nearDupLeg(s: SparkSession, d: String,
                                batchArrs: DataFrame,
                                history: => DataFrame): DataFrame = {
    val (bands, sh) = graft.sources.MinHashHistory.scanOrCompute(s, d)(
      (minHashBandsOf(history), minHashShinglesOf(history)))
    Dedup.incrementalNearDups(batchArrs, bands, sh,
      bandReducer = graft.sources.MinHashHistory.bandScanReducer(s, d))
  }

  /** Gram leg (x102's gram store): the x102 frame (doc_id, total_pos,
    * hist_pos, hist_frac) for a (doc_id, text) batch. ONE gram-kernel
    * pass — the materialized (doc_id, gh, pc) relation feeds the probe
    * keyset AND the audit tail (lazily the per-doc gram UDF ran once
    * inside the probe's bloom cut and again for the hits join);
    * batch-gram-sized, bounded by the batch ≪ store contract.
    */
  private[graft] def gramLeg(s: SparkSession, d: String, batch: DataFrame,
                             history: => DataFrame,
                             k: Int = DupGramK): DataFrame = {
    val g = graft.util.Materialize.eager(Dedup.batchGramCounts(batch, k))
    Dedup.incrementalDupGramsFromGrams(batch, g,
      graft.sources.GramHistory.probeHistory(s, d,
        g.select(col(graft.sources.GramHistory.GramCol)).distinct())(
        graft.sources.GramHistory.gramHashes(history, k)),
      k = k, broadcastProbe = false)
  }

  /** A near-dup leg's pairs as (doc_id, best_jaccard). */
  private def bestJaccard(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("doc_a").as("doc_id"))
      .agg(max(col("jaccard")).as("best_jaccard"))

  /** The all-legs measure matrix ([[triageMeasures]]' shape) of a raw
    * (doc_id, text, lang, n_chars) batch — x125, x127, the streaming
    * twin's default branch and TriageScaleProbe.
    *
    * ONE materialization of the batch: it is consumed by all three legs
    * and inside every broadcast-build job of every probe, so lazily the
    * batch lineage (for the registry, the split union over `documents`)
    * re-ran ~a dozen times per build. The three legs OVERLAP under
    * [[graft.util.Par.all]]: each leg's construction runs its own chain
    * of small eager store-probe jobs that individually leave most of
    * local[N] idle; the legs are independent per-doc probes over the one
    * materialized batch (probed stores disjoint), so submitting them from
    * three driver threads interleaves the chains without changing any
    * leg's plan or answer. The first leg to throw cancels its siblings
    * and its exception is rethrown as is.
    */
  private[graft] def triageAll(s: SparkSession, d: String, batch: DataFrame,
                               history: => DataFrame,
                               k: Int = DupGramK): DataFrame = {
    val docs = graft.util.Materialize.eager(batch)
    val text = docs.select(col("doc_id"), col("text"))
    val Seq(status, gramFrac, best) = graft.util.Par.all(
      () => statusLeg(s, d, text, history),
      () => gramLeg(s, d, text, history, k)
        .select(col("doc_id"), col("hist_frac")),
      () => bestJaccard(nearDupLeg(s, d, shingleArrays(docs), history)))
    triageMeasures(status, best, gramFrac)
  }

  // ---------------------------------------------------------------- x126
  /** Crawl triage, CASCADE form — the production fast path x125's
    * scaladoc specifies: exact status first (the cheapest leg, over the
    * whole batch), the near-dup probe only on `kept` survivors, the gram
    * audit only on near-dup survivors. The VERDICT relation is provably
    * identical to x125's (each leg is per-doc independent, and the
    * verdict CASE consults a leg's measure only where the cascade ran
    * it); the non-verdict columns read 0 for unprobed legs —
    * best_jaccard = 0 on exact drops, hist_frac = 0 on exact and
    * near-dup drops — which is exactly what a crawl pipeline wants:
    * measure only what can still change the outcome. x125 remains the
    * EXPLAINABLE form (all measures for every doc — threshold tuning and
    * audits); this is the steady-state form, where most arrivals resolve
    * at the cheap exact leg and the expensive shingle/gram legs see
    * shrinking slices. It runs x125's three leg builders ([[statusLeg]],
    * [[nearDupLeg]], [[gramLeg]]) on gated inputs ([[triageCascade]]).
    * The oracle replays the same gating in SQL.
    */
  val x126_crawl_triage_cascade: QueryDef = QueryDef(
    "x126_crawl_triage_cascade",
    Sql.canon(
      s"""$triageSplitStatusSql,
         |kept AS (SELECT doc_id FROM st WHERE status = 'kept'),
         |sb AS (SELECT s0.* FROM (${shinglesSqlOver("batch")}) s0
         |       JOIN kept ON s0.doc_id = kept.doc_id),
         |$triageJaccardSql,
         |surv AS (SELECT doc_id FROM kept
         |         WHERE doc_id NOT IN (SELECT doc_id FROM jac)),
         |$triageHgSql,
         |bg AS (
         |  SELECT doc_id, SUBSTR(text, i, $DupGramK) AS gram, COUNT(*) AS pc
         |  FROM (SELECT b2.doc_id, b2.text,
         |          UNNEST(generate_series(1, LENGTH(b2.text) - ${DupGramK - 1})) AS i
         |        FROM batch b2 JOIN surv USING (doc_id)
         |        WHERE LENGTH(b2.text) >= $DupGramK)
         |  GROUP BY doc_id, gram),
         |$triageHpSql,
         |gf AS (
         |  SELECT b3.doc_id, CAST(COALESCE(hp.hist_pos, 0) AS DOUBLE) /
         |    (LENGTH(b3.text) - ${DupGramK - 1}) AS hist_frac
         |  FROM batch b3 JOIN surv USING (doc_id) LEFT JOIN hp USING (doc_id)
         |  WHERE LENGTH(b3.text) >= $DupGramK)
         |$triageVerdictSql""".stripMargin,
      Seq("doc_id", "status", "best_jaccard", "hist_frac", "verdict"))) { (s, d) =>
    // ONE materialization of the crawl batch, shared by the exact-status
    // leg (text projection) and the near-dup leg (shingle arrays) — the
    // triageAll rationale; `history` stays lazy (store-served in
    // production, corpus-scale as a derived plan)
    val (history, batch) = x123Split(s, d)
    val docs = graft.util.Materialize.eager(batch)
    Canon(triageCascade(s, d,
      docs.select(col("doc_id"), col("text")), shingleArrays(docs), history))
  }

  /** The cascade composition over the three legs, from leg INPUTS —
    * shared by the registry builder, the streaming twin's cascade branch
    * and the measurement probes (which pass checkpointed batch frames and
    * rely on the store fallbacks never firing). `history` is the by-name
    * history docs frame every leg takes (never evaluated when the stores
    * serve).
    */
  private[graft] def triageCascade(s: SparkSession, d: String,
      batchDocs: DataFrame, batchArrs: DataFrame,
      history: => DataFrame, k: Int = DupGramK,
      stripThrScaled: Option[Long] = None): DataFrame = {
    // each stage's output is batch-bounded-small (ids + a verdict/measure
    // column) and feeds SEVERAL downstream stages — materialize them
    // driver-local (one job each), or lazy evaluation re-runs every
    // earlier leg inside every later one (measured: the lazy cascade cost
    // MORE than the all-legs x125); every downstream gate (keptIds/
    // survivors broadcasts, the final verdict joins) then builds from a
    // LocalTableScan. The FIRST leg is where the bloom-gated hash probe
    // pays most: in steady state most arrivals are novel, and a
    // fully-novel micro-batch resolves its exact status with ZERO
    // hash-store files read.
    val (status, _) = graft.util.Materialize.localOrEager(
      statusLeg(s, d, batchDocs, history))
    val keptIds = status.filter(col("status") === "kept").select(col("doc_id"))
    // near-dup probe: kept survivors only
    val (best, _) = graft.util.Materialize.localOrEager(bestJaccard(
      nearDupLeg(s, d,
        batchArrs.join(broadcast(keptIds), Seq("doc_id"), "left_semi"),
        history)))
    // gram audit: near-dup survivors only
    val survivors = keptIds.join(best.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    val gramFrac = gramLeg(s, d,
        batchDocs.join(broadcast(survivors), Seq("doc_id"), "left_semi"),
        history, k)
      .select(col("doc_id"), col("hist_frac"))
    triageFrame(status, best, gramFrac, stripThrScaled)
  }

  // ---------------------------------------------------------------- x127
  /** Crawl triage with a DERIVED strip threshold — closes x125's
    * documented gap the way x115 closed x101's: production derives its
    * cuts from the corpus distribution, not registry pins. The strip cut
    * here is the EXACT p90 of the integer-scaled (6 dp) positive
    * `hist_frac` over the strip-ELIGIBLE population (status `kept`, below
    * the near-dup cut) — "among contaminated survivors, route the worst
    * decile to span removal" — computed with the same two-phase
    * order-statistic device ([[graft.operators.Percentiles
    * .exactThresholdOpt]]: distinct-value histogram → bucket-pruned rank
    * scan, bounded at any corpus size) and compared on SCALED INTEGERS so
    * the gate is exact in both engines. The oracle replays the derivation
    * with the one-window ROW_NUMBER rank device (the x115/x88b seat) and
    * the derived scalar is a checked output column.
    *
    * The NEAR-DUP cut stays pinned at 0.8 deliberately: it is not a free
    * tunable — the persisted LSH index's banding (32 bands × 4 rows) was
    * sized for that Jaccard operating point (the S-curve midpoint
    * (1/b)^(1/r)), so a query-time cut derived away from it would
    * desynchronize threshold and index (candidates below the band curve
    * are never generated regardless of the cut). Retargeting near-dup
    * sensitivity means re-banding the store, not moving this constant.
    *
    * Empty eligible population (every arrival dropped exact/near, or a
    * gram-clean crawl): the percentile of nothing is None → the gate
    * never trips (`Long.MaxValue` sentinel, the x115 convention); the
    * oracle's rank CTE yields NULL and its CASE falls through to `keep`
    * identically, with `strip_thr` coalesced to the same sentinel.
    */
  private[graft] val StripPercentileNum = 9L
  private[graft] val StripPercentileDen = 10L
  private[graft] val FracScale = 1000000L

  val x127_crawl_triage_derived: QueryDef = QueryDef(
    "x127_crawl_triage_derived",
    Sql.canon(
      s"""$triageSplitStatusSql,
         |$triageGramSql,
         |$triageSbSql,
         |$triageJaccardSql,
         |m AS (
         |  SELECT s.doc_id, s.status,
         |    COALESCE(j.best_jaccard, 0.0) AS best_jaccard,
         |    COALESCE(g.hist_frac, 0.0) AS hist_frac
         |  FROM st s
         |  LEFT JOIN jac j ON s.doc_id = j.doc_id
         |  LEFT JOIN gf g ON s.doc_id = g.doc_id),
         |sc AS (
         |  SELECT doc_id, CAST(ROUND(hist_frac * $FracScale) AS BIGINT) AS v
         |  FROM m
         |  WHERE status = 'kept' AND best_jaccard < 0.8 AND hist_frac > 0),
         |nn AS (SELECT COUNT(*) AS n FROM sc),
         |thr AS (
         |  SELECT MIN(v) AS vthr FROM (
         |      SELECT v, ROW_NUMBER() OVER (ORDER BY v, doc_id) AS rn
         |      FROM sc) r CROSS JOIN nn
         |  WHERE r.rn = ($StripPercentileNum * nn.n + $StripPercentileDen - 1)
         |                  // $StripPercentileDen)
         |SELECT m.doc_id, m.status, m.best_jaccard, m.hist_frac,
         |  CASE WHEN m.status <> 'kept' THEN 'drop_exact'
         |       WHEN m.best_jaccard >= 0.8 THEN 'drop_near'
         |       WHEN CAST(ROUND(m.hist_frac * $FracScale) AS BIGINT) > t.vthr
         |         THEN 'strip_spans'
         |       ELSE 'keep' END AS verdict,
         |  CAST(COALESCE(t.vthr, 9223372036854775807) AS DOUBLE) / $FracScale.0
         |    AS strip_thr
         |FROM m CROSS JOIN thr t""".stripMargin,
      Seq("doc_id", "status", "best_jaccard", "hist_frac", "verdict",
        "strip_thr"))) { (s, d) =>
    // the measure matrix feeds the threshold derivation's rank jobs AND
    // the final verdict frame; without a pin all three legs re-probe per
    // consumer. It is batch-bounded (id + 3 measures), so DRIVER-LOCAL
    // within the cap: every consumer runs over a LocalTableScan, and
    // localOrEager releases its own cache (over the cap: a checkpoint,
    // answers unchanged).
    val (m, _) = graft.util.Materialize.localOrEager(crawlTriageMeasures(s, d))
    val thr = deriveStripThrScaled(m).getOrElse(Long.MaxValue)
    Canon.materialize(Canon(withVerdict(m, Some(thr))
      .withColumn("strip_thr",
        lit(thr).cast(DoubleType) / FracScale.toDouble)))
  }

  /** The triage verdict over a measure matrix ([[triageMeasures]]'
    * shape) — the ONE verdict CASE of x125, x126, x127 and the streaming
    * twin ([[graft.streaming.CurationStreams.crawlTriage]]), so the
    * one-micro-batch ≡ batch contract holds structurally.
    *
    * `stripThrScaled`: None = the registry-pinned 0.3 strip cut (x125's
    * gate, `hist_frac >= 0.3`); Some(t) = a DERIVED scaled-integer cut
    * compared exactly as x127 compares it (`round(hist_frac × 10^6) > t`
    * — scaled integers, so batch and stream gate bit-identically
    * regardless of double formatting; `Long.MaxValue` never trips). The
    * production posture (x118's curateV3 precedent): derive t
    * periodically offline ([[deriveStripThrScaled]]) and feed the scalar
    * to the stream; a live per-batch percentile would gate every batch
    * against itself.
    */
  private[graft] def withVerdict(measures: DataFrame,
                                 stripThrScaled: Option[Long] = None)
      : DataFrame = {
    val stripGate = stripThrScaled match {
      case None => col("hist_frac") >= 0.3
      case Some(t) =>
        round(col("hist_frac") * FracScale.toDouble).cast(LongType) > t
    }
    measures.withColumn("verdict",
      when(col("status") =!= "kept", lit("drop_exact"))
        .when(col("best_jaccard") >= 0.8, lit("drop_near"))
        .when(stripGate, lit("strip_spans"))
        .otherwise(lit("keep")))
  }

  /** [[withVerdict]] over the three legs' outputs: `status` =
    * (doc_id, status); `best` = (doc_id, best_jaccard); `gramFrac` =
    * (doc_id, hist_frac).
    */
  private[graft] def triageFrame(status: DataFrame, best: DataFrame,
                                 gramFrac: DataFrame,
                                 stripThrScaled: Option[Long] = None)
      : DataFrame =
    withVerdict(triageMeasures(status, best, gramFrac), stripThrScaled)

  /** x127's threshold derivation as a standalone verb — the exact p90 of
    * the integer-scaled positive `hist_frac` over the strip-ELIGIBLE
    * population (status `kept`, below the near-dup cut) of a measured
    * matrix ([[triageMeasures]]' shape). None = empty eligible
    * population (the gate should never trip — callers use the
    * `Long.MaxValue` sentinel, the x115 convention). Run it OFFLINE over
    * a reference window and feed the scalar to
    * [[graft.streaming.CurationStreams.crawlTriage]].
    */
  private[graft] def deriveStripThrScaled(measures: DataFrame)
      : Option[Long] =
    graft.operators.Percentiles.exactThresholdOpt(
      measures.filter(col("status") === "kept" &&
          col("best_jaccard") < 0.8 && col("hist_frac") > 0.0)
        .select(round(col("hist_frac") * FracScale.toDouble)
          .cast(LongType).as("v")),
      "v", StripPercentileNum, StripPercentileDen)

  /** The pre-verdict measure matrix — (doc_id, status, best_jaccard,
    * hist_frac) with absent legs coalesced to 0 — what [[withVerdict]]
    * reads, and what the derived-threshold form (x127) must see BEFORE a
    * cut is chosen.
    */
  private[graft] def triageMeasures(status: DataFrame, best: DataFrame,
                                    gramFrac: DataFrame): DataFrame =
    status
      .join(best, Seq("doc_id"), "left")
      .join(gramFrac, Seq("doc_id"), "left")
      .select(col("doc_id"), col("status"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
        coalesce(col("hist_frac"), lit(0.0)).as("hist_frac"))

  // ---------------------------------------------------------------- x44/x45
  /** 64-bit SimHash fingerprints (rows-only: DuckDB has no xxhash64 twin). */
  val x44_simhash: QueryDef = QueryDef.rowsOnly("x44_simhash") { (s, d) =>
    Canon(Dedup.simHashFingerprints(Tables.documents(s, d)))
  }

  /** SimHash near-dup pairs at Hamming distance <= 3.
    *
    * Oracle: `xxhash64` has no DuckDB twin, so the fingerprint VALUES stay
    * covered by x44's rows gate + DedupSpec properties — but the
    * banding/pair/Hamming step (the part with real plan risk: the 16-bit
    * chunk pigeonhole, the per-bucket pair generation, the distance cut) IS
    * plain SQL given fingerprints. The oracle therefore reads the
    * fingerprints the SAME Verify run persisted as x44's parquet output
    * (`__VERIFY_OUT__` is substituted with the actual out dir by
    * [[graft.Verify]] when it dumps oracle_sql.json) and replays the
    * banding exactly: any divergence in the candidate/pair plan shows up as
    * a hash mismatch even though the hash function itself is not
    * replicated. `(x >> k) & 65535` is shift-direction-safe cross-engine:
    * the mask keeps only the low 16 bits, identical under arithmetic or
    * logical shift semantics.
    *
    * The registry entry runs UNCAPPED (`maxPerBucket = 0`, exact recall —
    * the oracle knows nothing of the hot-bucket cap, and at sf0.1 the cap
    * genuinely binds: 488 vs 525 pairs). The capped production default is
    * covered where it belongs: DedupSpec's hot-bucket tests pin the
    * truncation semantics and PlanSpec gates the map-side plan shape.
    */
  val x45_simhash_neardup: QueryDef = QueryDef(
    "x45_simhash_neardup",
    Sql.canon(
      """WITH fp AS (SELECT doc_id, simhash
        |            FROM read_parquet('__VERIFY_OUT__/x44_simhash/*.parquet')),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    bit_count(xor(a.simhash, b.simhash)) AS h
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE ((a.simhash >> 0) & 65535) = ((b.simhash >> 0) & 65535)
        |     OR ((a.simhash >> 16) & 65535) = ((b.simhash >> 16) & 65535)
        |     OR ((a.simhash >> 32) & 65535) = ((b.simhash >> 32) & 65535)
        |     OR ((a.simhash >> 48) & 65535) = ((b.simhash >> 48) & 65535))
        |SELECT doc_a, doc_b, CAST(h AS INT) AS hamming FROM p WHERE h <= 3""".stripMargin,
      Seq("doc_a", "doc_b", "hamming"))) { (s, d) =>
    // consumes the PERSISTED x44 fingerprints when their producer step ran
    // (the x103/x104 composition, round 18): the banded search reads
    // 16-byte (doc_id, simhash) rows instead of re-running the SimHash
    // kernel — the same relation the oracle replays.
    Canon(Dedup.simHashNearDupsFromFps(
      graft.operators.PairStore.scanOrCompute(s, "x44_simhash", d)(
        Dedup.simHashFingerprints(Tables.documents(s, d))),
      maxPerBucket = 0))
  }

  // ---------------------------------------------------------------- x48
  /** Stopword-profile language ID ([[graft.operators.TextAnalysis]]); the
    * oracle replays the identical marker counting + first-wins argmax, so
    * the prediction is deterministic and hash-checkable.
    */
  val x48_langid: QueryDef = {
    val profiles = graft.operators.TextAnalysis.LangProfiles
    def scoreSql(markers: Seq[String]): String =
      s"LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> t IN (${markers.map(m => s"'$m'").mkString(",")})))"
    val scoreCols = profiles.map { case (l, m) => s"${scoreSql(m)} AS s_$l" }
    val mx = s"GREATEST(${profiles.map(p => s"s_${p._1}").mkString(",")})"
    val pred = profiles.reverse.foldLeft("CAST(NULL AS VARCHAR)") {
      case (els, (lang, _)) => s"CASE WHEN s_$lang = $mx THEN '$lang' ELSE $els END"
    }
    QueryDef(
      "x48_langid",
      Sql.canon(
        s"""SELECT doc_id, $pred AS pred_lang, CAST($mx AS INT) AS score
           |FROM (SELECT doc_id, ${scoreCols.mkString(", ")} FROM documents)""".stripMargin,
        Seq("doc_id", "pred_lang", "score"))) { (s, d) =>
      Canon(graft.operators.TextAnalysis.languageId(Tables.documents(s, d)))
    }
  }

  // ---------------------------------------------------------------- x49
  /** Winnowing fingerprint summary (rows-only: xxhash64 has no DuckDB twin;
    * set semantics are property-tested in TextAnalysisSpec).
    */
  val x49_fingerprint: QueryDef = QueryDef.rowsOnly("x49_fingerprint") { (s, d) =>
    Canon(graft.operators.TextAnalysis.fingerprintSummary(Tables.documents(s, d)))
  }

  // ---------------------------------------------------------------- x81/x82
  /** The full per-doc winnowing fingerprint relation (doc_id, fp) — x49's
    * underlying values, persisted so x82's oracle can replay over them
    * (rows-only itself: xxhash64 has no DuckDB twin).
    */
  val x81_winnow_fps: QueryDef = QueryDef.rowsOnly("x81_winnow_fps") { (s, d) =>
    Canon(graft.operators.TextAnalysis.winnowingFingerprints(Tables.documents(s, d)))
  }

  /** Cross-doc shared-span (boilerplate) statistics — substring-level
    * duplication that document-level dedup never sees.
    *
    * Oracle: same `__VERIFY_OUT__` pattern as x45 — the hash kernel has no
    * DuckDB twin, but the part with plan risk (shared-vocabulary grouping,
    * the mark join, the per-doc ratio) IS plain SQL given the fingerprints
    * the SAME Verify run persisted as x81's output. This also anchors
    * x49/x81's fingerprint VALUES: a kernel drift changes the persisted
    * relation and the replayed stats with it.
    */
  val x82_shared_spans: QueryDef = QueryDef(
    "x82_shared_spans",
    Sql.canon(
      """WITH fp AS (SELECT doc_id, fp
        |            FROM read_parquet('__VERIFY_OUT__/x81_winnow_fps/*.parquet')),
        |sh AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) >= 2)
        |SELECT f.doc_id, CAST(COUNT(*) AS INT) AS n_fp,
        |  CAST(COUNT(s.fp) AS INT) AS n_shared,
        |  ROUND(CAST(COUNT(s.fp) AS DOUBLE) / COUNT(*), 4) AS shared_ratio
        |FROM fp f LEFT JOIN sh s ON f.fp = s.fp
        |GROUP BY f.doc_id""".stripMargin,
      Seq("doc_id", "n_fp", "n_shared", "shared_ratio"))) { (s, d) =>
    // consumes the PERSISTED x81 fingerprints when their producer step ran
    // (round 18): vocabulary AND score side derive from one persisted fp
    // relation — lazily each re-ran the winnowing kernel corpus-wide.
    Canon(graft.operators.TextAnalysis.sharedSpanStatsFromFps(
      graft.operators.PairStore.scanOrCompute(s, "x81_winnow_fps", d)(
        graft.operators.TextAnalysis.winnowingFingerprints(
          Tables.documents(s, d)))))
  }

  // ---------------------------------------------------------------- x50
  /** BPE-ish regex token statistics; the oracle tokenizes with the same
    * RE2/Java-compatible pattern.
    */
  val x50_bpe_tokens: QueryDef = QueryDef(
    "x50_bpe_tokens",
    Sql.canon(
      s"""SELECT doc_id,
         |  CAST(LEN(toks) AS INT) AS n_tokens,
         |  CAST(LEN(LIST_DISTINCT(toks)) AS INT) AS n_unique
         |FROM (SELECT doc_id,
         |  regexp_extract_all(text, '${graft.operators.TextAnalysis.BpeTokenPattern}') AS toks
         |  FROM documents)""".stripMargin,
      Seq("doc_id", "n_tokens", "n_unique"))) { (s, d) =>
    Canon(graft.operators.TextAnalysis.bpeTokenStats(Tables.documents(s, d)))
  }

  // ------------------------------------------------------------ x105/x106
  /** Merge-rule budget of the trained tokenizer's registry shape — small
    * enough that training (K rounds × one vocabulary-relation shuffle) is
    * registry-speed, large enough that frequent words genuinely compress
    * (the spec trains larger tables; production K is 10k+ and scales the
    * SAME plan: the round cost is the VOCAB relation, not the corpus).
    */
  private[graft] val NumBpeMerges = 48

  /** TRAINED BPE merge table ([[graft.operators.Bpe.train]]) — rows-only:
    * training is iterative argmax, no DuckDB twin; the distributed trainer
    * is differential-gated against a local reference trainer in BpeSpec,
    * and x87b/x69b's oracles replay their plans over x106's persisted
    * counts. Train once per (corpus, K) via the producer-step memo.
    */
  val x105_bpe_train: QueryDef = QueryDef.rowsOnly("x105_bpe_train") { (s, d) =>
    Canon(graft.operators.Bpe.mergeTable(s,
      graft.operators.Bpe.trainCached(s, d, Tables.documents(s, d), NumBpeMerges)))
  }

  /** Per-doc REAL tokenizer token counts: map-only encode with the
    * broadcast trained merge table (greedy encoder ≡ sequential-replay
    * reference, BpeSpec). Rows-only itself; persisted so x87b/x69b replay
    * budget/pack arithmetic over these exact counts — the denomination
    * shift x87/x69 exist for.
    */
  val x106_bpe_encode: QueryDef = QueryDef.rowsOnly("x106_bpe_encode") { (s, d) =>
    val merges = graft.operators.Bpe.trainCached(
      s, d, Tables.documents(s, d), NumBpeMerges)
    Canon(graft.operators.Bpe.tokenCounts(
      Tables.documents(s, d).select("doc_id", "lang", "source", "text"), merges))
  }

  // ---------------------------------------------------------------- x41
  /** Text-quality scoring: punctuation/whitespace/token-length ratios —
    * exact integer-derived arithmetic, oracle-checkable.
    */
  val x41_quality: QueryDef = QueryDef(
    "x41_quality",
    Sql.canon(
      """SELECT doc_id, lang, n_chars,
        |  CAST(n_tok AS INT) AS n_tokens,
        |  CAST(n_punct AS DOUBLE) / len AS punct_ratio,
        |  CAST(n_space AS DOUBLE) / len AS space_ratio,
        |  CAST(len - n_space AS DOUBLE) / n_tok AS mean_tok_len
        |FROM (
        |  SELECT doc_id, lang, n_chars, LENGTH(text) AS len,
        |    LEN(string_split_regex(text, '\s+')) AS n_tok,
        |    LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |    LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS n_space
        |  FROM documents)""".stripMargin,
      Seq("doc_id", "lang", "n_chars", "n_tokens", "punct_ratio", "space_ratio",
        "mean_tok_len"))) { (s, d) =>
    Canon(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        length(col("text")).cast(LongType).as("len"),
        size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .cast(LongType).as("n_punct"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")))
          .cast(LongType).as("n_space"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("n_tok").cast(IntegerType).as("n_tokens"),
        (col("n_punct").cast(DoubleType) / col("len")).as("punct_ratio"),
        (col("n_space").cast(DoubleType) / col("len")).as("space_ratio"),
        ((col("len") - col("n_space")).cast(DoubleType) / col("n_tok")).as("mean_tok_len")))
  }

  /** Stopword-ratio quality gate ([[graft.operators.TextAnalysis
    * .stopwordStats]]) — the Gopher-style rule x41's battery lacked:
    * per-doc token count, stopword hits against the doc's OWN language
    * profile (multiplicity counted), their ratio, and the ≥2-stopwords
    * gate. Map-only codegen'd scan (profile map is a literal, token
    * filters are array HOFs — no explode, no shuffle); the oracle
    * replays the profile as a CASE over the same lists, generated from
    * the one [[graft.operators.TextAnalysis.LangProfiles]] source.
    */
  val x41b_stopword_gate: QueryDef = {
    // profile words interpolate into single-quoted SQL literals — escape
    // quotes so a future profile with apostrophes (French elisions) can't
    // silently break the generated oracle (ADVICE round-14)
    def sq(v: String): String = s"'${v.replace("'", "''")}'"
    val caseArms = graft.operators.TextAnalysis.LangProfiles.map {
      case (l, ws) =>
        s"WHEN ${sq(l)} THEN [${ws.map(sq).mkString(", ")}]"
    }.mkString(" ")
    QueryDef(
      "x41b_stopword_gate",
      Sql.canon(
        s"""SELECT doc_id, lang,
           |  CAST(n_tok AS INT) AS n_tokens,
           |  CAST(n_stop AS INT) AS n_stop,
           |  CASE WHEN n_tok = 0 THEN NULL
           |       ELSE CAST(n_stop AS DOUBLE) / n_tok END AS stop_ratio,
           |  CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS passes_stopword_gate
           |FROM (
           |  SELECT doc_id, lang,
           |    LEN(list_filter(string_split(LOWER(text), ' '),
           |        t -> LENGTH(t) > 0)) AS n_tok,
           |    LEN(list_filter(string_split(LOWER(text), ' '),
           |        t -> LENGTH(t) > 0 AND list_contains(
           |          CASE lang $caseArms ELSE [] END, t))) AS n_stop
           |  FROM documents)""".stripMargin,
        Seq("doc_id", "lang", "n_tokens", "n_stop", "stop_ratio",
          "passes_stopword_gate"))) { (s, d) =>
      Canon(graft.operators.TextAnalysis.stopwordStats(Tables.documents(s, d)))
    }
  }

  // ---------------------------------------------------------------- x95
  /** Unigram-LM perplexity scoring ([[graft.operators.UnigramLm]]) — the
    * CCNet-style quality filter: train token frequencies on the corpus,
    * score each doc by mean negative log-likelihood (nats/token).
    * Registry shape trains and scores on the same `documents` table with
    * the full (uncapped) vocabulary so the oracle can replay it exactly;
    * production passes a reference corpus + `vocabCap` (the tail falls
    * into the OOV path — see the operator scaladoc for the 100 TB story:
    * train is one map-combined shuffle, score is broadcast-join map-only).
    * Per-token ln p is integer-scaled (×1e6, BIGINT) so the per-doc sum
    * is exact in both engines; the formula lives ONCE on each side
    * ([[graft.operators.UnigramLm.scaledLogProb]] /
    * [[graft.operators.UnigramLm.oracleTermSql]]).
    */
  val x95_unigram_lm: QueryDef = QueryDef(
    "x95_unigram_lm",
    Sql.canon(
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf
         |  FROM (SELECT doc_id,
         |          UNNEST(string_split_regex(LOWER(text), '\\s+')) AS tok
         |        FROM documents)
         |  WHERE LENGTH(tok) >= ${graft.operators.UnigramLm.MinTokenLen}
         |  GROUP BY doc_id, tok),
         |vocab AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY tok),
         |scal AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total, COUNT(*) AS v FROM vocab),
         |terms AS (
         |  SELECT tf.doc_id, tf.tf,
         |    ${graft.operators.UnigramLm.oracleTermSql("vocab.c", "scal.n_total", "scal.v")} AS lp
         |  FROM tf LEFT JOIN vocab ON tf.tok = vocab.tok CROSS JOIN scal)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_toks,
         |  ROUND(CAST(-SUM(tf * lp) AS DOUBLE) /
         |        (CAST(SUM(tf) AS DOUBLE) * ${graft.operators.UnigramLm.LnScale}.0), 6) AS nll
         |FROM terms GROUP BY doc_id""".stripMargin,
      Seq("doc_id", "n_toks", "nll"))) { (s, d) =>
    // corpus-kernel fan-out (util.Scans): train+score tokenize passes
    Canon(graft.operators.UnigramLm.selfScore(
      Tables.fanOutForKernels(Tables.documents(s, d))))
  }

  // ---------------------------------------------------------------- x97
  /** Interpolated bigram-LM scoring ([[graft.operators.BigramLm]]) — the
    * order-2 member of the x95 model family (λ·bigram + (1−λ)·unigram,
    * add-one smoothed, same integer-scaled arithmetic). Registry shape is
    * uncapped self-train/self-score so the oracle replays it exactly;
    * production caps the bigram broadcast (`bigramCap`, KenLM-pruning
    * behavior) and rolls the model side like x95's. Docs with <2 tokens
    * have no bigram positions and emit no row — both sides agree by
    * GROUP BY construction.
    */
  val x97_bigram_lm: QueryDef = QueryDef(
    "x97_bigram_lm",
    Sql.canon(
      s"""WITH utf AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf
         |  FROM (SELECT doc_id,
         |          UNNEST(string_split_regex(LOWER(text), '\\s+')) AS tok
         |        FROM documents)
         |  WHERE LENGTH(tok) >= ${graft.operators.UnigramLm.MinTokenLen}
         |  GROUP BY doc_id, tok),
         |uni AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS c FROM utf GROUP BY tok),
         |scal AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total, COUNT(*) AS v FROM uni),
         |bi AS (
         |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, COUNT(*) AS tf
         |  FROM (
         |    SELECT doc_id, t,
         |      UNNEST(generate_series(1, GREATEST(LEN(t) - 1, 0))) AS i
         |    FROM (SELECT doc_id, string_split_regex(LOWER(text), '\\s+') AS t
         |          FROM documents))
         |  -- DuckDB's string_split_regex keeps a trailing empty token that
         |  -- Java's split drops; Kernels.bigramCounts skips empty-word
         |  -- pairs, so the oracle must too (one shared definition)
         |  WHERE t[i] <> '' AND t[i+1] <> ''
         |  GROUP BY doc_id, w1, w2),
         |bc AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS cb FROM bi GROUP BY w1, w2),
         |terms AS (
         |  SELECT bi.doc_id, bi.tf,
         |    ${graft.operators.BigramLm.oracleTermSql("bc.cb", "u1.c", "u2.c", "scal.n_total", "scal.v")} AS lp
         |  FROM bi LEFT JOIN bc ON bi.w1 = bc.w1 AND bi.w2 = bc.w2
         |    LEFT JOIN uni u1 ON bi.w1 = u1.tok
         |    LEFT JOIN uni u2 ON bi.w2 = u2.tok
         |    CROSS JOIN scal)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         |  ROUND(CAST(-SUM(tf * lp) AS DOUBLE) /
         |        (CAST(SUM(tf) AS DOUBLE) * ${graft.operators.UnigramLm.LnScale}.0), 6) AS nll
         |FROM terms GROUP BY doc_id""".stripMargin,
      Seq("doc_id", "n_bigrams", "nll"))) { (s, d) =>
    Canon(graft.operators.BigramLm.selfScore(
      Tables.fanOutForKernels(Tables.documents(s, d))))
  }

  // ---------------------------------------------------------------- x99
  /** Gram width the x99 REGISTRY entry pins (production passes its own —
    * Lee et al. use 50 BPE tokens; 40 chars flags the planted near-dups
    * at every verify SF without saturating on common phrases).
    */
  // `final` so it is a compile-time constant: QueryDef vals interpolate
  // it into their oracle SQL at object init, and a plain val would read 0
  // in any entry declared ABOVE this line (x125 hit exactly that)
  private[graft] final val DupGramK = 40

  /** Exact substring-duplication audit
    * ([[graft.operators.Dedup.dupGramFraction]]) — per doc, the fraction
    * of character-40-gram positions whose gram appears in ≥2 distinct
    * docs: the exhaustive counterpart of x81/x82's sampled winnowing and
    * the per-doc signal substring-level dedup cuts on. dup_frac is one
    * exact integer division (no rounding protocol needed).
    */
  val x99_dupgrams: QueryDef = QueryDef(
    "x99_dupgrams",
    Sql.canon(
      s"""WITH g AS (
         |  SELECT doc_id, SUBSTR(text, i, $DupGramK) AS gram, COUNT(*) AS pc
         |  FROM (SELECT doc_id, text,
         |          UNNEST(generate_series(1, LENGTH(text) - ${DupGramK - 1})) AS i
         |        FROM documents WHERE LENGTH(text) >= $DupGramK)
         |  GROUP BY doc_id, gram),
         |d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
         |dp AS (SELECT g.doc_id, CAST(SUM(g.pc) AS BIGINT) AS dup_pos
         |       FROM g JOIN d ON g.gram = d.gram GROUP BY g.doc_id)
         |SELECT doc_id, CAST(LENGTH(text) - ${DupGramK - 1} AS BIGINT) AS total_pos,
         |  COALESCE(dp.dup_pos, 0) AS dup_pos,
         |  CAST(COALESCE(dp.dup_pos, 0) AS DOUBLE) /
         |    (LENGTH(text) - ${DupGramK - 1}) AS dup_frac
         |FROM documents LEFT JOIN dp USING (doc_id)
         |WHERE LENGTH(text) >= $DupGramK""".stripMargin,
      Seq("doc_id", "total_pos", "dup_pos", "dup_frac"))) { (s, d) =>
    // round 18: the registry seat runs the HASHED production twin (8-byte
    // xxhash64 exchange keys instead of 40-char window strings — ~5×
    // fewer exchange bytes and no window-string allocations, guide §2.3
    // "narrower types"). Output is bit-equal to the string form unless
    // two distinct grams collide (P ≈ 4e-8 at sf0.1 density — the same
    // accepted budget the oracle-checked x102/x118/x123 probes already
    // carry); DedupSpec pins hashed ≡ string on the fixtures and the
    // DuckDB oracle (string grams) stays the external arbiter.
    Canon(graft.operators.Dedup.dupGramFractionHashed(
      Tables.fanOutForKernels(Tables.documents(s, d)), DupGramK))
  }

  // ---------------------------------------------------------------- x100
  /** Quality-aware keeper selection — the resolution POLICY layer over
    * x84's components: production dedup keeps the BEST member of each dup
    * cluster, not the first-seen (x85's min-id contract is the
    * id-stability policy; this is the content-quality one — here "best" =
    * longest doc, ties to min doc_id, a deterministic stand-in for any
    * quality scalar like x95's nll or x41's ratios: swap the struct
    * fields to swap the policy). One row per component:
    * (component, keeper, keeper_n_chars, n_members).
    *
    * Plan: the components relation is dup-clusters-sized, so it
    * BROADCASTS into the corpus scan (one join, no corpus shuffle); the
    * per-component argmax is a map-combined `min(struct(-quality, id))`
    * aggregation — no window, no per-component sort. The oracle replays
    * components with x84's recursive-CTE chain and the argmax with a
    * rank window over the joined relation.
    */
  val x100_best_keeper: QueryDef = QueryDef(
    "x100_best_keeper",
    Sql.canon(
      s"""$DupComponentsCtes,
         |sel AS (
         |  SELECT comp.component, d.doc_id, d.n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY comp.component
         |      ORDER BY d.n_chars DESC, d.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY comp.component) AS n_members
         |  FROM comp JOIN documents d USING (doc_id))
         |SELECT component, doc_id AS keeper,
         |  CAST(n_chars AS BIGINT) AS keeper_n_chars,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM sel WHERE rn = 1""".stripMargin,
      Seq("component", "keeper", "keeper_n_chars", "n_members"))) { (s, d) =>
    val comp = graft.operators.Components
      .connectedComponents(verifiedPairs(s, d))
      .select(col("node").as("doc_id"), col("component"))
    val joined = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .join(broadcast(comp), "doc_id")
    Canon(joined
      .groupBy(col("component"))
      .agg(min(struct((-col("n_chars")).as("negq"), col("doc_id").as("d"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("component"), col("m.d").as("keeper"),
        (-col("m.negq")).as("keeper_n_chars"), col("n_members")))
  }

  // ---------------------------------------------------------------- x114
  /** Substring-duplication REMOVAL
    * ([[graft.operators.Dedup.removeDupSpans]]) — the REWRITE step x99
    * only measures (Lee et al. 2022's ExactSubstr removal): per doc, drop
    * the union of character-[[DupGramK]]-gram spans whose gram occurs in
    * ≥2 distinct docs, emitting the residual text plus span accounting.
    * The oracle replays the span-merge arithmetic exactly: gaps-and-
    * islands over hit positions (running-max window → island ids →
    * min/max per island) and the rewrite as an ordered STRING_AGG of the
    * inter-span segments plus the tail. The registry pins the exact
    * string-gram form; [[graft.operators.Dedup.removeDupSpansHashed]] is
    * the 8-byte-key production twin, spec-gated bit-equal.
    */
  /** The x114 span-removal CTE chain, shared with x117's composed oracle:
    * duplicated-gram positions → gaps-and-islands span merge → ordered
    * STRING_AGG rewrite, ending in a `cleaned` relation of every doc with
    * its residual text plus span accounting.
    */
  private[queries] val RemoveSpansCtes: String =
    s"""pos AS (
       |  SELECT doc_id, i, SUBSTR(text, i, $DupGramK) AS gram
       |  FROM (SELECT doc_id, text,
       |          UNNEST(generate_series(1, LENGTH(text) - ${DupGramK - 1})) AS i
       |        FROM documents WHERE LENGTH(text) >= $DupGramK)),
       |dup AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM pos)
       |        GROUP BY gram HAVING COUNT(*) >= 2),
       |hit AS (SELECT doc_id, i FROM pos JOIN dup USING (gram)),
       |isl AS (
       |  SELECT doc_id, i,
       |    SUM(CASE WHEN prev_max IS NULL OR i > prev_max + 1
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY i) AS isl_id
       |  FROM (SELECT doc_id, i,
       |          MAX(i + ${DupGramK - 1}) OVER (PARTITION BY doc_id ORDER BY i
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |        FROM hit)),
       |spans AS (SELECT doc_id, MIN(i) AS s, MAX(i) + ${DupGramK - 1} AS e
       |          FROM isl GROUP BY doc_id, isl_id),
       |segs AS (SELECT doc_id, s, e,
       |           COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS prev_e
       |         FROM spans),
       |agg AS (SELECT segs.doc_id,
       |          STRING_AGG(SUBSTR(d2.text, prev_e + 1, s - prev_e - 1),
       |                     '' ORDER BY s) AS mid,
       |          MAX(e) AS max_e,
       |          CAST(COUNT(*) AS BIGINT) AS n_spans,
       |          CAST(SUM(e - s + 1) AS BIGINT) AS removed_chars
       |        FROM segs JOIN documents d2 ON segs.doc_id = d2.doc_id
       |        GROUP BY segs.doc_id),
       |cleaned AS (
       |  SELECT d.doc_id, d.lang,
       |    CAST(LENGTH(d.text) AS BIGINT) AS total_chars,
       |    COALESCE(a.n_spans, 0) AS n_spans,
       |    COALESCE(a.removed_chars, 0) AS removed_chars,
       |    CASE WHEN a.doc_id IS NULL THEN d.text
       |         ELSE COALESCE(a.mid, '') || SUBSTR(d.text, a.max_e + 1)
       |    END AS text
       |  FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id)""".stripMargin

  val x114_remove_dup_spans: QueryDef = QueryDef(
    "x114_remove_dup_spans",
    Sql.canon(
      s"""WITH $RemoveSpansCtes
         |SELECT doc_id, total_chars, n_spans, removed_chars,
         |  text AS text_clean
         |FROM cleaned""".stripMargin,
      Seq("doc_id", "total_chars", "n_spans", "removed_chars", "text_clean"))) { (s, d) =>
    // round 18: the HASHED production twin serves the registry seat (the
    // x99 rationale — 8-byte gram keys across the one map-combined
    // exchange; a collision can only ADD a removed span, P ≈ 4e-8);
    // DedupSpec pins hashed ≡ string, the string-gram oracle arbitrates.
    Canon(graft.operators.Dedup.removeDupSpansHashed(
      Tables.fanOutForKernels(Tables.documents(s, d)), DupGramK))
  }

  // ---------------------------------------------------------------- x102
  /** Incremental substring audit
    * ([[graft.operators.Dedup.incrementalDupGrams]] probing a
    * [[graft.sources.GramHistory]]-shaped gram relation) — x86's
    * substring-level sibling promoted to an oracle seat: per NEW-batch
    * doc, the fraction of character-[[DupGramK]]-gram positions whose
    * gram already exists in the ingested corpus, WITHOUT rescanning the
    * corpus per batch. History/batch derive from x86's md5-bucket split
    * (including the +10M recrawls, which must score hist_frac = 1.0
    * exactly); the oracle replays the derivation and the membership with
    * string grams while the engine probes 8-byte xxhash64 keys — identical
    * output unless two distinct grams collide (P ≈ 4e-8 at sf0.1 density,
    * the x99/x40 accepted budget). The registry build uses the derived
    * in-query history plan (side-effect-free); when a producer step
    * persisted the bucketed store ([[graft.sources.GramHistory.create]])
    * the probe scans it with NO history-side exchange — GramHistorySpec
    * gates that layout contract.
    */
  val x102_incremental_dupgrams: QueryDef = QueryDef(
    "x102_incremental_dupgrams",
    Sql.canon(
      s"""WITH bkt AS (SELECT doc_id, text,
         |  CAST(CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)
         |       AS BIGINT) % 100 AS INT) AS bucket
         |  FROM documents),
         |batch AS (
         |  SELECT doc_id, text FROM bkt WHERE bucket >= 60
         |  UNION ALL
         |  SELECT doc_id + 10000000, text FROM bkt WHERE bucket < 60 AND bucket % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000000, text FROM bkt WHERE bucket >= 60 AND bucket % 11 = 0),
         |hist AS (
         |  SELECT DISTINCT SUBSTR(text, i, $DupGramK) AS gram
         |  FROM (SELECT text,
         |          UNNEST(generate_series(1, LENGTH(text) - ${DupGramK - 1})) AS i
         |        FROM bkt WHERE bucket < 60 AND LENGTH(text) >= $DupGramK)),
         |bg AS (
         |  SELECT doc_id, SUBSTR(text, i, $DupGramK) AS gram, COUNT(*) AS pc
         |  FROM (SELECT doc_id, text,
         |          UNNEST(generate_series(1, LENGTH(text) - ${DupGramK - 1})) AS i
         |        FROM batch WHERE LENGTH(text) >= $DupGramK)
         |  GROUP BY doc_id, gram),
         |hp AS (SELECT bg.doc_id, CAST(SUM(bg.pc) AS BIGINT) AS hist_pos
         |       FROM bg JOIN hist USING (gram) GROUP BY bg.doc_id)
         |SELECT doc_id, CAST(LENGTH(text) - ${DupGramK - 1} AS BIGINT) AS total_pos,
         |  COALESCE(hp.hist_pos, 0) AS hist_pos,
         |  CAST(COALESCE(hp.hist_pos, 0) AS DOUBLE) /
         |    (LENGTH(text) - ${DupGramK - 1}) AS hist_frac
         |FROM batch LEFT JOIN hp USING (doc_id)
         |WHERE LENGTH(text) >= $DupGramK""".stripMargin,
      Seq("doc_id", "total_pos", "hist_pos", "hist_frac"))) { (s, d) =>
    // the batch side is consumed three times (probe keyset, the gram
    // relation g, the total_pos frame) — materialize the split union once
    // (batch-bounded by the family contract); history stays lazy
    val (history, batch) = x86Split(s, d)
    Canon(gramLeg(s, d, graft.util.Materialize.eager(batch), history))
  }

  // ---------------------------------------------------------------- x118
  /** INCREMENTAL span removal
    * ([[graft.operators.Dedup.incrementalRemoveSpans]]) — x102's REWRITE
    * step and x114's incremental sibling, completing the symmetry
    * (audit x99 ↔ removal x114; incremental audit x102 ↔ THIS): a NEW
    * batch's docs (x86's md5-bucket split) rewritten dropping every
    * 40-gram span whose gram already exists in the ingested corpus,
    * probed against the persisted gram store with no history-side
    * exchange. Oracle: x102's split + string-gram history membership
    * (vs the engine's xxhash64 keys — the same accepted collision
    * budget), then x114's gaps-and-islands rewrite over the hit
    * positions.
    */
  val x118_incremental_remove_spans: QueryDef = QueryDef(
    "x118_incremental_remove_spans",
    Sql.canon(
      s"""WITH bkt AS (SELECT doc_id, text,
         |  CAST(CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)
         |       AS BIGINT) % 100 AS INT) AS bucket
         |  FROM documents),
         |batch AS (
         |  SELECT doc_id, text FROM bkt WHERE bucket >= 60
         |  UNION ALL
         |  SELECT doc_id + 10000000, text FROM bkt WHERE bucket < 60 AND bucket % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000000, text FROM bkt WHERE bucket >= 60 AND bucket % 11 = 0),
         |hist AS (
         |  SELECT DISTINCT SUBSTR(text, i, $DupGramK) AS gram
         |  FROM (SELECT text,
         |          UNNEST(generate_series(1, LENGTH(text) - ${DupGramK - 1})) AS i
         |        FROM bkt WHERE bucket < 60 AND LENGTH(text) >= $DupGramK)),
         |pos AS (
         |  SELECT doc_id, i, SUBSTR(text, i, $DupGramK) AS gram
         |  FROM (SELECT doc_id, text,
         |          UNNEST(generate_series(1, LENGTH(text) - ${DupGramK - 1})) AS i
         |        FROM batch WHERE LENGTH(text) >= $DupGramK)),
         |hit AS (SELECT doc_id, i FROM pos JOIN hist USING (gram)),
         |isl AS (
         |  SELECT doc_id, i,
         |    SUM(CASE WHEN prev_max IS NULL OR i > prev_max + 1
         |             THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY i) AS isl_id
         |  FROM (SELECT doc_id, i,
         |          MAX(i + ${DupGramK - 1}) OVER (PARTITION BY doc_id ORDER BY i
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |        FROM hit)),
         |spans AS (SELECT doc_id, MIN(i) AS s, MAX(i) + ${DupGramK - 1} AS e
         |          FROM isl GROUP BY doc_id, isl_id),
         |segs AS (SELECT doc_id, s, e,
         |           COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS prev_e
         |         FROM spans),
         |agg AS (SELECT segs.doc_id,
         |          STRING_AGG(SUBSTR(d2.text, prev_e + 1, s - prev_e - 1),
         |                     '' ORDER BY s) AS mid,
         |          MAX(e) AS max_e,
         |          CAST(COUNT(*) AS BIGINT) AS n_spans,
         |          CAST(SUM(e - s + 1) AS BIGINT) AS removed_chars
         |        FROM segs JOIN batch d2 ON segs.doc_id = d2.doc_id
         |        GROUP BY segs.doc_id)
         |SELECT d.doc_id, CAST(LENGTH(d.text) AS BIGINT) AS total_chars,
         |  COALESCE(a.n_spans, 0) AS n_spans,
         |  COALESCE(a.removed_chars, 0) AS removed_chars,
         |  CASE WHEN a.doc_id IS NULL THEN d.text
         |       ELSE COALESCE(a.mid, '') || SUBSTR(d.text, a.max_e + 1)
         |  END AS text_clean
         |FROM batch d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,
      Seq("doc_id", "total_chars", "n_spans", "removed_chars", "text_clean"))) { (s, d) =>
    // same three-consumer batch shape as x102 — one materialization,
    // and (round 19) ONE gram-kernel pass shared by keyset + hits join
    val (history, batch0) = x86Split(s, d)
    val batch = graft.util.Materialize.eager(batch0)
    val g = graft.util.Materialize.eager(
      Dedup.batchGramPositions(batch, DupGramK))
    Canon(Dedup.incrementalRemoveSpansFromGrams(batch, g,
      graft.sources.GramHistory.probeHistory(s, d,
        g.select(col(graft.sources.GramHistory.GramCol)).distinct())(
        graft.sources.GramHistory.gramHashes(history, DupGramK)),
      k = DupGramK, broadcastProbe = false))
  }
}
