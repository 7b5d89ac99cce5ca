package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN index lifecycle for the PQ search path ([[Pq]]) — the
  * production shape the in-query x93 entry demonstrates transiently:
  * TRAIN once over the reference corpus, ENCODE and persist the 24 B/vector
  * code relation, then serve every query against the FROZEN index, and
  * APPEND new batches encoded with the same frozen codebooks (the
  * [[graft.sources.HashHistory]] steady-state accounting: index build
  * amortized over its query lifetime; the per-query bill is the ADC scan
  * of persisted codes + a shortlist-bounded exact re-rank).
  *
  * Layout under `path`:
  *  - `codebooks` — (sub, code, cent ARRAY<double>) rows, m×ksub total
  *    (tiny; collected on open). Doubles round-trip parquet exactly, so a
  *    reopened store reproduces searches bit-for-bit.
  *  - `codes`     — [[Pq.encode]]'s (vec_id, codes BINARY, vnorm) rows.
  *
  * The exact re-rank reads raw float vectors from the LIVE corpus table
  * for the queries × shortlist id set only — raw vectors are never copied
  * into the index, so the store stays ~11× smaller than the embeddings it
  * serves and cannot drift from them on re-embed (re-embedding means
  * re-encoding: a new store).
  *
  * Scale: every store op is one bounded job — train samples a fixed-size
  * hash-ordered prefix, encode/append are map-only, search is the x93
  * plan over a pre-encoded scan (no per-query training, no per-query
  * encode — the two corpus-sized steps the transient form repays on
  * every call).
  */
object AnnStore {

  private def codebooksPath(path: String) = s"$path/codebooks"
  private def codesPath(path: String) = s"$path/codes"

  /** Train + encode + persist; returns the trained codebooks. */
  def create(spark: SparkSession, path: String, corpus: DataFrame,
             dim: Int = 64, m: Int = 16, ksub: Int = 32,
             iters: Int = 4, sampleSize: Int = 512): Pq.Codebooks =
      graft.sources.MutationGuard.withGuard(spark, path) {
    import spark.implicits._
    val cb = Pq.train(corpus, dim, m, ksub, iters, sampleSize)
    val rows = for {
      s <- cb.cents.indices
      c <- cb.cents(s).indices
    } yield (s, c, cb.cents(s)(c).toSeq)
    rows.toDF("sub", "code", "cent")
      .repartition(1) // m×ksub rows: one tiny file, not #shuffle-partitions
      .write.mode("overwrite").parquet(codebooksPath(path))
    // null/ragged rows dead-letter at ingest — an undropped ragged row
    // would be SERVED with silently-wrong ADC distances forever after
    Pq.encode(Similarity.dropInvalidVecs(corpus, dim, None), cb)
      .write.mode("overwrite").parquet(codesPath(path))
    cb
  }

  /** Reconstruct the frozen codebooks (m×ksub rows — driver-tiny). */
  def codebooks(spark: SparkSession, path: String): Pq.Codebooks = {
    val rows = spark.read.parquet(codebooksPath(path))
      .select(col("sub"), col("code"), col("cent"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    if (rows.isEmpty) return Pq.Codebooks(0, 0, Array.empty)
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val ds = rows.head._3.length
    val cents = Array.fill(m, ksub)(null: Array[Double])
    rows.foreach { case (s, c, v) => cents(s)(c) = v }
    Pq.Codebooks(m, ds, cents.map(_.map(v => if (v == null) new Array[Double](ds) else v)))
  }

  /** The persisted code relation. */
  def codes(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(codesPath(path))

  /** Encode a new batch with the FROZEN codebooks and append its codes —
    * map-only, batch-sized; the index never retrains on append (periodic
    * re-create refreshes codebooks when the embedding distribution
    * drifts, exactly KenLM-style model rolling).
    */
  def append(spark: SparkSession, path: String, newCorpus: DataFrame): Unit =
    graft.sources.MutationGuard.withGuard(spark, path) {
      val cb = codebooks(spark, path)
      Pq.encode(
          Similarity.dropInvalidVecs(newCorpus, cb.m * cb.ds, None), cb)
        .write.mode("append").parquet(codesPath(path))
    }

  /** RETRAIN the codebooks on the live corpus' CURRENT distribution and
    * re-encode — the PQ-level drift verb, completing the pair
    * [[IvfStore.rebalance]] started one level down: append() encodes
    * against codebooks FROZEN at create(), so after sustained growth into
    * a region the original fit never saw, the quantization cells sit off
    * the data manifold and ADC distances (hence shortlist recall) decay.
    * Retraining keeps the store's GEOMETRY (m, ds, ksub — changing those
    * means a new store) but refits every subspace codebook with
    * [[Pq.train]]'s bounded hash-ordered sample over the live corpus,
    * then re-encodes map-only — create()'s bill, minus having to know the
    * training parameters again.
    *
    * ATOMICITY — stricter than the IVF verb's: codebooks and codes are
    * one ENCODING PAIR (codes are meaningless under any other codebooks —
    * a mixed-generation read would serve silently-wrong ADC distances,
    * not a recall dip), so both relations are written into a sibling and
    * swapped in with ONE rename ([[graft.sources.SwapDir]] over the whole
    * store dir). Crash residue is a missing store dir — loud, rebuildable
    * — never a torn pair. Runs under [[graft.sources.MutationGuard]]
    * (its lease lives beside the store dir and survives the swap).
    *
    * Answers: search() after retrain is bit-identical to the transient
    * [[Pq.pqTopKRefined]] run with the retrained parameters over the same
    * corpus (AnnStoreSpec gates it) — the store/transient equivalence
    * contract, preserved across the drift verb. An EMPTY store (created
    * from an empty corpus) has no geometry to preserve: retrain is a
    * no-op returning the empty codebooks.
    *
    * When to run: [[skewStat]]'s code-occupancy entropy ratio drifting
    * well below 1 (DEDUP_TUNING.md §5 thresholds) — codes piling into few
    * codewords is exactly ADC resolution decaying.
    */
  def retrainCodebooks(spark: SparkSession, path: String, corpus: DataFrame,
                       iters: Int = 4,
                       sampleSize: Int = 512): Pq.Codebooks =
    graft.sources.MutationGuard.withGuard(spark, path) {
      import spark.implicits._
      val old = codebooks(spark, path)
      if (old.m == 0) old
      else {
        val dim = old.m * old.ds
        val cb = Pq.train(corpus, dim, old.m, old.ksub, iters, sampleSize)
        val rows = for {
          s <- cb.cents.indices
          c <- cb.cents(s).indices
        } yield (s, c, cb.cents(s)(c).toSeq)
        graft.sources.SwapDir(spark, path) { tmp =>
          rows.toDF("sub", "code", "cent")
            .repartition(1)
            .write.parquet(s"$tmp/codebooks")
          Pq.encode(Similarity.dropInvalidVecs(corpus, dim, None), cb)
            .write.parquet(s"$tmp/codes")
        }
        cb
      }
    }

  /** Code-occupancy drift statistic — the no-data-read trigger for
    * [[retrainCodebooks]] (the [[IvfStore.skewStat]] analog one level
    * up): per subspace, the normalized entropy of the code histogram
    * (1.0 = codes used evenly — the k-means operating point on the
    * distribution it was fit on; → 0 = everything quantizes to a few
    * codewords, i.e. the corpus has moved off the codebook manifold and
    * ADC distances have lost resolution). Returns (minEntropyRatio,
    * meanEntropyRatio, codes) over subspaces — min is the trigger (one
    * dead subspace already costs recall). One aggregation over the codes
    * relation (index-sized, never the corpus); no vectors are read.
    * Thresholds: DEDUP_TUNING.md §5.
    */
  def skewStat(spark: SparkSession, path: String): (Double, Double, Long) = {
    val cb = codebooks(spark, path)
    if (cb.m == 0) return (1.0, 1.0, 0L)
    val enc = codes(spark, path)
    val n = enc.count()
    if (n == 0L) return (1.0, 1.0, 0L)
    // per (subspace, codeword) counts in ONE pass: explode the m-byte
    // BINARY code column with its position (binary is not an SQL array —
    // the widening map is the one row-level function here, off any hot
    // path: skewStat is a monitoring verb, not a query stage)
    val widen = udf((b: Array[Byte]) =>
      if (b == null) Array.empty[Int] else b.map(_.toInt & 0xff))
    val perCode = enc
      .select(posexplode(widen(col("codes"))).as(Seq("sub", "code")))
      .groupBy(col("sub"), col("code")).agg(count(lit(1)).as("c"))
      .collect()
    val maxH = math.log(cb.ksub.toDouble)
    val ratios = perCode.groupBy(_.getInt(0)).map { case (_, rows) =>
      val h = rows.map { r =>
        val p = r.getLong(2).toDouble / n
        -p * math.log(p)
      }.sum
      if (maxH == 0.0) 1.0 else h / maxH
    }.toSeq
    (ratios.min, ratios.sum / ratios.size, n)
  }

  /** x93's refined search against the persisted index: ADC scan of the
    * stored codes nominates a (size-derived) shortlist, raw vectors are
    * fetched from `corpus` for that id set only and re-ranked by exact
    * cosine. Bit-identical to [[Pq.pqTopKRefined]] run with this store's
    * training parameters over the same corpus.
    */
  def search(spark: SparkSession, path: String, corpus: DataFrame,
             queries: DataFrame, k: Int, shortlist: Int = 0): DataFrame = {
    val cb = codebooks(spark, path)
    val enc = codes(spark, path)
    // ragged/null queries take no seat (prefix ADC would silently lie)
    val q = queries.filter(col("qe").isNotNull &&
      size(col("qe")) === cb.m * cb.ds)
    val sl = if (shortlist > 0) shortlist
             else Pq.derivedShortlist(enc.count())
    val cands = Pq.adcTopK(enc, q, cb, sl)
      .select(col("query_id"), col("vec_id"))
    val scored = corpus
      .join(broadcast(cands), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos_sim", Similarity.cosine(col("embedding"), col("qe")))
      .select(col("query_id"), col("vec_id"), col("cos_sim"))
    Similarity.rank(scored, k)
  }
}
