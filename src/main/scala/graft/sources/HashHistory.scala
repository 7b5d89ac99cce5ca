package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted content-hash HISTORY store for incremental dedup (x86) — the
  * operational half of [[graft.operators.Dedup.incrementalStatus]]'s scale
  * story (DEDUP_TUNING.md §4): the already-ingested corpus is represented
  * by its md5 hashes ONLY, 16 raw bytes per document (`unhex(th)` — the
  * tight layout, half the hex string's footprint), persisted as a
  * parquet table BUCKETED on the hash ([[Bucketing.writeBucketed]]).
  *
  * Why bucketing is the whole point: each crawl increment classifies its
  * batch with one equi-join against history. Unbucketed, that join
  * shuffles BOTH sides — and the history side is the entire corpus's hash
  * set, reshuffled on every batch forever. Bucketed on `th`, the history
  * scan already satisfies the join's clustered distribution, so the
  * per-batch probe plans an Exchange on the (much smaller) batch side
  * ONLY — history cost is a co-located scan, constant per batch. The
  * distinct() the probe applies on the history side rides the same bucket
  * layout (aggregation on the bucket key needs no exchange either).
  * PlanSpec gates exactly this shape.
  *
  * Appends: the store never rewrites — each increment's `kept` hashes are
  * APPENDED as additional bucket-compatible files (Spark refuses a
  * mismatched spec loudly). Appends may re-add a hash an earlier batch
  * already holds; the probe's distinct() absorbs that, so appends need no
  * read-before-write. Lifecycle, registry and sidecar contracts:
  * [[BucketedStore]].
  */
object HashHistory extends BucketedStore[DataFrame]("hash", "th",
    bloomKeys = Some(_.select(col("th"))), dedupeRows = false) {

  /** The stored schema: one BINARY(16) column `th` = unhex(md5(text)). */
  val HashCol = "th"

  /** The PRODUCER step: persist `hashesBinary` (a single BINARY `th`
    * column) as the bucketed history table for `dir` and register it.
    * Sizing `buckets`: one bucket file per executor-core share of the
    * store — at 10^10 docs the store is a few hundred GB (16 B/doc), so
    * 2^8–2^12 buckets; testdata uses 8.
    */
  def create(spark: SparkSession, dir: String, hashesBinary: DataFrame,
             buckets: Int = 8,
             bloomFpp: Double = KeyBloom.DefaultFpp): Unit =
    createRows(spark, dir, buckets, bloomFpp,
      hashesBinary.select(col(HashCol)).distinct())

  /** Append an increment's hashes as bucket-compatible files. The probe's
    * distinct() absorbs cross-append repeats, so callers append their
    * whole batch's `kept` hashes without a read-before-write.
    */
  def append(spark: SparkSession, dir: String, hashesBinary: DataFrame): Unit =
    appendRows(spark, dir, hashesBinary.select(col(HashCol)))

  protected def scan(spark: SparkSession, table: String): DataFrame =
    spark.table(table).select(col(HashCol))

  /** PROBE consumer entry — the history relation REDUCED to the batch's
    * own key set (membership-transparent for the probe's left join: a
    * batch hash is in (H ⋉ K) iff it is in H), bloom-gated, bucket-
    * pruned and budget-guarded ([[ProbeReduce]] — the GramHistory
    * device): a fully-NOVEL batch — the steady-state crawl case — reads
    * ZERO store files instead of co-located-scanning the whole hash
    * store per micro-batch (16 B/doc still reads corpus-sized bytes at
    * crawl cadence). Falls back to `compute` when no producer step
    * registered this (application, dir). `batchKeys` = one BINARY
    * [[HashCol]] column, batch-bounded (the enforced contract).
    */
  def probeHistory(spark: SparkSession, dir: String, batchKeys: DataFrame)
                  (compute: => DataFrame): DataFrame =
    registered(spark, dir) match {
      case None =>
        broadcast(compute.select(col(HashCol))
          .join(broadcast(batchKeys.select(col(HashCol))), Seq(HashCol),
            "left_semi")
          .distinct())
      case Some((table, _)) =>
        ProbeReduce.probe(spark, table, HashCol, batchKeys, blooms,
          "HashHistory.probeHistory",
          spark.range(0).select(lit(null).cast("binary").as(HashCol)))
    }
}
