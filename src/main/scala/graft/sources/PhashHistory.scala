package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted payload-FINGERPRINT history store — the payload member of the
  * incremental-dedup family ([[HashHistory]] = whole-document exact,
  * [[GramHistory]] = substring, this = perceptual payload): a NEW crawl
  * batch's payload fingerprints are probed against the already-ingested
  * corpus WITHOUT rescanning its payload bytes — the realistic 100 TB
  * multimodal flow, where a re-crawl delivers re-encoded copies of assets
  * the corpus already holds and a per-batch near-dup answer must cost
  * batch-sized work.
  *
  * Stored relation: `(bk INT, id LONG, fp LONG)` — one row per (fingerprint,
  * 16-bit chunk) with `bk = chunk * 2^16 + chunkValue`, the pigeonhole key
  * of [[graft.operators.Dedup.hammingNearDups64]]'s banding (complete for
  * Hamming distance <= 3). Pre-exploding the four chunks into the STORE
  * trades 4× the 16 B/row for a probe that is ONE equi-join on `bk` riding
  * the bucket layout with NO history-side exchange (PhashHistorySpec gates
  * the plan) — the [[GramHistory]] contract. Sizing: 64 B/payload at any
  * corpus scale (4 rows × 16 B), orders below the payloads themselves.
  *
  * Cross-append repeats are absorbed by the probe's DISTINCT; [[compact]]
  * rewrites to distinct rows. Lifecycle and registry: [[BucketedStore]].
  */
object PhashHistory extends BucketedStore[DataFrame]("phash", "bk",
    dedupeRows = true) {

  val KeyCol = "bk"

  /** The store relation of a fingerprint frame: (bk, id, fp) — one row per
    * 16-bit chunk of each 64-bit fingerprint. Also the probe-side explode.
    */
  def chunkKeys(fps: DataFrame, idCol: String = "media_id",
                fpCol: String = "phash"): DataFrame =
    fps.select(col(idCol).as("id"), col(fpCol).as("fp"))
      .select(explode(array((0 until 4).map(c =>
        (shiftright(col("fp"), c * 16).bitwiseAND(lit(0xffffL)) +
          lit(c.toLong << 16)).cast("int")): _*)).as(KeyCol),
        col("id"), col("fp"))

  /** PRODUCER step: persist the corpus' fingerprint chunk relation as the
    * bucketed history table for `dir` and register it.
    */
  def create(spark: SparkSession, dir: String, fps: DataFrame,
             buckets: Int = 8): Unit =
    createRows(spark, dir, buckets, KeyBloom.DefaultFpp, chunkKeys(fps))

  /** Append an increment's fingerprints as bucket-compatible files. */
  def append(spark: SparkSession, dir: String, fps: DataFrame): Unit =
    appendRows(spark, dir, chunkKeys(fps))

  protected def scan(spark: SparkSession, table: String): DataFrame =
    spark.table(table).select(col(KeyCol), col("id"), col("fp"))
}
