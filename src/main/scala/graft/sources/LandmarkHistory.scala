package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted audio-LANDMARK history store — the audio member of the
  * incremental-dedup family ([[HashHistory]] = whole-document exact,
  * [[GramHistory]] = substring, [[PhashHistory]] = perceptual payload,
  * this = constellation landmarks): a NEW batch of tracks is probed
  * against the already-ingested corpus' landmark index WITHOUT rescanning
  * its payload bytes — which is the published constellation system's OWN
  * deployment model (a query clip matched against a persisted landmark
  * database, never all-pairs over the corpus).
  *
  * Stored relation: `(lhash INT, id LONG, t INT)` — the triplet-form
  * landmark rows ([[graft.operators.Multimodal.Kernels.audioLandmarks3]],
  * the registry/x111 form), bucketed+sorted by `lhash` so the probe is ONE
  * equi-join riding the bucket layout with NO history-side exchange
  * (LandmarkHistorySpec gates the plan) — the [[GramHistory]] contract.
  * Sizing: ~16 B/landmark, ~110 landmarks per toy track (~2 KB/track);
  * real tracks carry more landmarks but the store is still orders below
  * the PCM itself.
  *
  * Replay semantics: cross-append repeats are absorbed by vote counting
  * over DISTINCT rows only if compacted — append the same batch twice and
  * votes double, so the streaming twin batchId-guards appends like
  * x102/x109's; [[compact]] rewrites to distinct rows. Lifecycle and
  * registry: [[BucketedStore]].
  */
object LandmarkHistory extends BucketedStore[DataFrame]("landmark", "lhash",
    dedupeRows = true) {

  val KeyCol = "lhash"

  private def storeRows(landmarks: DataFrame): DataFrame =
    landmarks.select(col(KeyCol), col("media_id").as("id"), col("t"))

  /** INDEX-side hot-bucket cap: keep per landmark hash the `cap`
    * smallest-(xxhash, id, t) rows — the store-build analog of the
    * matcher's `maxPerHash` (real landmark databases skip overfull
    * buckets at INDEX time): probe cost per batch landmark is then
    * bounded by `cap` regardless of how clique-heavy the corpus is, at
    * the price of under-counting votes through hot hashes (unbiased — the
    * kept sample is id-hash-ordered, not arrival-ordered). 0 = exact.
    */
  private def capRows(rows: DataFrame, cap: Int): DataFrame =
    if (cap <= 0) rows
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(KeyCol)
        .orderBy(xxhash64(col("id") * 65536L + col("t")), col("id"), col("t"))
      rows.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= cap).drop("_rn")
    }

  /** PRODUCER step: persist the corpus' landmark relation as the bucketed
    * history table for `dir` and register it. `capPerHash` > 0 applies
    * the index-side hot-bucket cap ([[capRows]]) — the bounded production
    * form for clique-heavy corpora; appends are NOT re-capped until the
    * next [[compact]]-style rebuild (documented growth window).
    */
  def create(spark: SparkSession, dir: String, landmarks: DataFrame,
             buckets: Int = 8, capPerHash: Int = 0): Unit =
    createRows(spark, dir, buckets, KeyBloom.DefaultFpp,
      capRows(storeRows(landmarks), capPerHash))

  /** Append an increment's landmarks as bucket-compatible files. */
  def append(spark: SparkSession, dir: String, landmarks: DataFrame): Unit =
    appendRows(spark, dir, storeRows(landmarks))

  /** The store relation of a landmark frame: (lhash, id, t) — what
    * [[create]]/[[append]] persist and what a derived (store-less)
    * fallback must hand to the probe.
    */
  def storeShape(landmarks: DataFrame): DataFrame = storeRows(landmarks)

  protected def scan(spark: SparkSession, table: String): DataFrame =
    spark.table(table).select(col(KeyCol), col("id"), col("t"))
}
