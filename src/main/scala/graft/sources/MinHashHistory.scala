package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH index — the text NEAR-DUP member of the
  * incremental-dedup family, completing its symmetry ([[HashHistory]] =
  * whole-doc EXACT, [[GramHistory]] = substring, [[PhashHistory]] =
  * payload, [[LandmarkHistory]] = audio, [[FrameHistory]] = video; text
  * near-dup had only the all-corpus batch form x40): a NEW crawl batch's
  * MinHash band buckets are probed against the already-ingested corpus'
  * persisted index WITHOUT re-running corpus-wide LSH — the production
  * text-dedup deployment (nobody re-pairs 100 TB per crawl; the batch
  * probes a signature index, the published MinHash-LSH serving shape).
  *
  * TWO bucketed relations, the [[FrameHistory]] device (candidates need
  * one layout, exact verification another):
  *
  *  - `<table>`: `(bucket LONG, id, n_chars)` — one row per (doc, band):
  *    xxhash64 of (banded-signature bucket, lang) — the band index AND
  *    the language fold into the key, so the same-lang candidate
  *    restriction (x40's scale contract) is structural and the probe
  *    join keeps a SINGLE equi key riding the bucket layout (a separate
  *    lang equality would become a second join key and force a history-
  *    side exchange; a cross-band/cross-lang 64-bit coincidence admits a
  *    spurious candidate at P ≈ 2⁻⁶⁴ — far below the banding budget).
  *    n_chars rides along for the non-equi length-window condition.
  *    32 rows × 24 B/doc.
  *  - `<table>_sh`: `(id LONG, shash LONG)` — one row per distinct word
  *    trigram per doc, xxhash64-keyed (8-byte keys; a collision can only
  *    INFLATE an intersection — the x99/x102 accepted 4e-8 budget, and
  *    the per-doc row count doubles as the exact Jaccard denominator),
  *    bucketed on `id` so the verify fetch for candidate history docs
  *    rides the layout with NO history-side exchange. Corpus-token-scale
  *    like [[GramHistory]] — the documented store-as-state posture.
  *
  * Lifecycle, registry and sidecar contracts: [[BucketedStore]] (both
  * relations mutate under ONE marker; the band table keeps the sidecar,
  * keyed on the DISTINCT band-bucket hashes — its rows repeat a bucket
  * across docs). Append semantics: one doc's rows arrive in ONE batch;
  * re-appending a doc duplicates its band rows (candidate dups — absorbed
  * by the probe's pair DISTINCT) AND its shingle rows (inflating BOTH the
  * intersection and the denominator until [[compact]] rebuilds distinct
  * rows) — the multiset replay caveat of the family.
  */
object MinHashHistory extends BucketedStore[(DataFrame, DataFrame)](
    "minhash", "bucket", sideTables = Seq("_sh" -> "id"),
    bloomKeys = Some(_.select(col("bucket")).distinct()), dedupeRows = true) {

  val KeyCol = "bucket"

  def shTableFor(dir: String): String = tableFor(dir) + "_sh"

  /** PRODUCER step: persist the corpus' band index + shingle-hash
    * relation as the bucketed history tables for `dir` and register them.
    * `bands` must be (bucket, id, n_chars); `shingles` (id, shash).
    */
  def create(spark: SparkSession, dir: String, bands: DataFrame,
             shingles: DataFrame, buckets: Int = 8,
             bloomFpp: Double = KeyBloom.DefaultFpp): Unit =
    createRows(spark, dir, buckets, bloomFpp, bands, shingles)

  /** Append an increment's band + shingle rows as bucket-compatible
    * files. One-batch-per-doc contract: see the object scaladoc.
    */
  def append(spark: SparkSession, dir: String, bands: DataFrame,
             shingles: DataFrame): Unit =
    appendRows(spark, dir, bands, shingles)

  /** The (bands, shingles) store scans [[scanOrCompute]] serves: the
    * tables' FILES read as plain parquet ([[Bucketing.probeScan]]) — the
    * probe joins broadcast the batch side
    * into map-only store scans, so bucket co-location buys nothing there
    * and the bucketed scan's one-partition-per-bucket split would cap a
    * grown store's read at `buckets`-way parallelism.
    */
  protected def scan(spark: SparkSession,
                     table: String): (DataFrame, DataFrame) =
    (Bucketing.probeScan(spark, table)
      .select(col(KeyCol), col("id"), col("n_chars")),
      Bucketing.probeScan(spark, table + "_sh")
        .select(col("id"), col("shash")))

  /** Bloom-gated band-scan reducer for
    * [[graft.operators.Dedup.incrementalNearDups]] — PURE FILE PRUNING
    * (no broadcast, no semi-join: the downstream probe join already
    * reduces rows; what grows with history is the band-store BYTES READ
    * per probe): given the batch's materialized band-key relation, cut
    * it to [[KeyBloom]]-hit candidates (codegen'd, no false negatives)
    * and return the band-store scan restricted to the candidate keys'
    * BUCKET files — a fully-novel batch reads ZERO band-store files,
    * and with no band candidates the operator's early exit skips the
    * shingle store too, closing the all-legs zero-read story for a
    * novel crawl batch (hash + gram + near-dup). None when no producer
    * step registered this (application, dir) — callers keep their
    * derived-history relation.
    */
  def bandScanReducer(spark: SparkSession, dir: String)
      : Option[DataFrame => DataFrame] =
    registered(spark, dir).map { case (table, _) => keys =>
      val cols = Seq(col(KeyCol), col("id"), col("n_chars"))
      ProbeReduce.bloomCut(spark, table, KeyCol, keys, blooms) match {
        case None => Bucketing.probeScan(spark, table).select(cols: _*)
        case Some((cut, meta)) =>
          // the cut is consumed exactly ONCE (this bucket-id collect):
          // one grouped-aggregation job over the (already-materialized)
          // batch band keys replaces the round-17 eager-checkpoint +
          // isEmpty + distinct-collect trio — same bucket set, two fewer
          // scheduler round-trips per probe
          val bids = cut
            .groupBy(KeyBloom.bucketIdCol(KeyCol, meta.buckets).as("_b"))
            .agg(count(lit(1))).collect().map(_.getInt(0)).toSet
          Bucketing.probeScan(spark, table, Some(bids)).select(cols: _*)
      }
    }
}
