package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted video FRAME-fingerprint history — the video member of the
  * incremental-dedup family ([[HashHistory]] = whole-doc, [[GramHistory]]
  * = substring, [[PhashHistory]] = whole-payload, [[LandmarkHistory]] =
  * audio): a NEW crawl batch's sampled-frame dHashes are probed against
  * the already-ingested corpus' frame sets WITHOUT rescanning its video
  * payloads, with the x108 Jaccard cut deciding near-dups.
  *
  * TWO bucketed relations, because the Jaccard denominator needs exact
  * per-video set sizes the matched subset cannot supply:
  *
  *  - `<table>`: `(phash LONG, id LONG)` — one row per DISTINCT frame hash
  *    per video, bucketed on `phash` (the probe's equi-join key: frame
  *    matching is EXACT hash equality — dHash absorbs the re-encode shift
  *    — so no banding/chunking is needed, unlike [[PhashHistory]]).
  *  - `<table>_sizes`: `(id LONG, n LONG)` — each history video's distinct
  *    frame-hash count, bucketed on `id`. The probe's match relation
  *    (match-pair-sized, tiny) exchanges INTO this layout; the sizes scan
  *    itself rides its buckets with no exchange, so per-batch cost stays
  *    batch-sized at any corpus size (FrameHistorySpec gates both scans
  *    exchange-free).
  *
  * Lifecycle and registry: [[BucketedStore]] (both relations mutate
  * under ONE marker). Append semantics: one video's frames arrive in ONE
  * batch (the ingest unit is a video); re-appending a video duplicates
  * its frame rows AND its sizes row, inflating n_match and fanning out
  * the sizes join until [[compact]] — the multiset caveat of the
  * [[LandmarkHistory]] replay contract, stated here because a
  * crashed-epoch replay can hit it.
  */
object FrameHistory extends BucketedStore[(DataFrame, DataFrame)](
    "frame", "phash", sideTables = Seq("_sizes" -> "id"), dedupeRows = true) {

  val KeyCol = "phash"

  def sizesTableFor(dir: String): String = tableFor(dir) + "_sizes"

  /** The store shape of a frame-fingerprint frame: (phash, id). Input is
    * [[graft.operators.Multimodal.frameFingerprints]]' (media_id, phash)
    * relation — already DISTINCT per (video, hash).
    */
  def storeRows(frames: DataFrame): DataFrame =
    frames.select(col(KeyCol), col("media_id").as("id"))

  /** Per-video distinct-frame-hash counts — the Jaccard denominators. */
  def sizeRows(frames: DataFrame): DataFrame =
    frames.groupBy(col("media_id").as("id"))
      .agg(count(lit(1)).as("n"))

  /** PRODUCER step: persist the corpus' frame relation + sizes as the
    * bucketed history tables for `dir` and register them.
    */
  def create(spark: SparkSession, dir: String, frames: DataFrame,
             buckets: Int = 8): Unit =
    createRows(spark, dir, buckets, KeyBloom.DefaultFpp,
      storeRows(frames), sizeRows(frames))

  /** Append an increment's frames (+ their sizes rows) as
    * bucket-compatible files. One-batch-per-video contract: see the
    * object scaladoc.
    */
  def append(spark: SparkSession, dir: String, frames: DataFrame): Unit =
    appendRows(spark, dir, storeRows(frames), sizeRows(frames))

  /** Compaction's sizes step: REBUILT from the compacted frames, which
    * restores exact denominators after any replay double-append.
    */
  override protected def compactSides(spark: SparkSession, table: String,
                                      buckets: Int): Unit =
    Bucketing.writeBucketed(
      spark.table(table).groupBy(col("id")).agg(count(lit(1)).as("n")),
      table + "_sizes", "id", buckets)

  protected def scan(spark: SparkSession,
                     table: String): (DataFrame, DataFrame) =
    (spark.table(table).select(col(KeyCol), col("id")),
      spark.table(table + "_sizes").select(col("id"), col("n")))
}
