package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted character-GRAM history store — [[HashHistory]]'s substring-
  * level sibling, completing the incremental pair: x86 answers "is this
  * whole document already in the corpus", this answers "how much of this
  * document's TEXT already appears in the corpus" (Lee et al.-style
  * substring contamination of a NEW batch against an existing corpus,
  * without rescanning the corpus per batch).
  *
  * Stored relation: one LONG column `gh` = xxhash64 of each distinct
  * k-gram's UTF-8 bytes ([[graft.operators.Kernels.charGramHashCounts]]
  * — the x99 production keying; 8 B/gram, collision budget documented
  * there), bucketed+sorted by `gh` so the batch probe join rides the
  * layout with NO history-side exchange — x86's scaling contract,
  * PlanSpec-style-gated in GramHistorySpec. Sizing: a 100 TB corpus has
  * ~10^11 distinct 40-grams ≈ 1 TB of store at 8 B+overhead/gram —
  * 2^10–2^14 buckets; testdata uses 8.
  *
  * Appends are bucket-compatible files whose cross-append repeats the
  * probe's semantics absorb (membership, not counts). Lifecycle, registry
  * and sidecar contracts: [[BucketedStore]].
  */
object GramHistory extends BucketedStore[DataFrame]("gram", "gh",
    bloomKeys = Some(_.select(col("gh"))), dedupeRows = false) {

  val GramCol = "gh"

  /** Broadcast-budget conf for the probe-reduce build side — the shared
    * incremental-family knob ([[graft.util.ProbeBudget]]): when a probe's
    * bloom-hit candidate keyset exceeds it, [[probeHistory]] falls back
    * to the co-located bucketed join instead of an unbounded broadcast —
    * the batch ≪ store contract, ENFORCED rather than documented: a
    * caller whose "batch" rivals the store degrades to the graceful
    * sort-merge shape, never to a driver OOM / 8 GB broadcast error.
    */
  val ProbeBudgetConf: String = graft.util.ProbeBudget.Conf

  /** Distinct gram hashes of a corpus — the store's content and the
    * shape [[append]] expects for an increment.
    */
  def gramHashes(corpus: DataFrame, k: Int,
                 textCol: String = "text"): DataFrame = {
    val gramsU = udf((t: String) =>
      graft.operators.Kernels.charGramHashCounts(t, k).keys.toArray)
    corpus.select(explode(gramsU(col(textCol))).as(GramCol)).distinct()
  }

  /** PRODUCER step: persist the corpus' distinct gram hashes as the
    * bucketed history table for `dir` and register it.
    */
  def create(spark: SparkSession, dir: String, corpus: DataFrame, k: Int,
             buckets: Int = 8,
             bloomFpp: Double = KeyBloom.DefaultFpp): Unit =
    createRows(spark, dir, buckets, bloomFpp, gramHashes(corpus, k))

  /** Append an increment's gram hashes as bucket-compatible files. The
    * sidecar fold is per-bucket task-local ([[KeyBloom.fold]]): only
    * touched buckets' blooms are read, updated and rewritten, in ONE
    * distributed job that also returns the folded count. Past-capacity
    * growth only raises the fpp (probe selectivity degrades, answers stay
    * exact); [[compact]] re-sizes. A legacy store without a sidecar stays
    * legacy — a rebuild here would cost a full store scan per append.
    */
  def append(spark: SparkSession, dir: String, increment: DataFrame): Unit =
    appendRows(spark, dir, increment.select(col(GramCol)))

  /** [[BucketedStore.compact]] with the sidecar re-sized at `bloomFpp`
    * (re-tunes the zero-read batch ceiling — see [[create]]).
    */
  def compact(spark: SparkSession, dir: String,
              bloomFpp: Double = KeyBloom.DefaultFpp): Unit =
    compactAt(spark, dir, bloomFpp)

  protected def scan(spark: SparkSession, table: String): DataFrame =
    spark.table(table).select(col(GramCol))

  /** PROBE consumer entry — the relation a batch probe should semi-join
    * instead of the raw store scan: the store's keys REDUCED to the
    * batch's own key set (gh-membership over `batchKeys` is identical to
    * the full history's, which is all a membership semi-join observes),
    * returned broadcast-hinted so the downstream probe join is a
    * broadcast-hash semi over a map-only store scan — no store-side
    * exchange AND no store-side sort (the pre-round-17 bucketed
    * sort-merge shape re-SORTED the multi-segment store per probe; that
    * sort was the one incremental-probe cost that grew with history).
    *
    * With a [[KeyBloom]] sidecar, batch keys are pre-cut to bloom-hit
    * CANDIDATES first (no false negatives — a bloom miss is definitively
    * absent; the cut is the codegen'd
    * [[graft.functions.BloomBucketMightContain]], not an interpreted
    * UDF), so the broadcast build set is dup-density-sized plus an fpp
    * sliver of the fresh keys; a fully-novel batch short-circuits to an
    * EMPTY relation with ZERO store files read, and a partially-novel
    * one PRUNES the store scan to the candidate keys' BUCKETS (a key can
    * only live in its own bucket — [[Bucketing.probeScan]]'s pruned
    * form). Both spec-gated. Without a sidecar (legacy store) the
    * reduction still runs against all batch keys — the sort-free scan
    * win stands.
    *
    * Contract — ENFORCED: `batchKeys` is batch-bounded (the incremental
    * family's premise — a probe batch is orders smaller than the store).
    * When the (bloom-cut) keyset's estimated broadcast footprint exceeds
    * [[ProbeBudgetConf]], the probe degrades to the co-located bucketed
    * sort-merge join (the graceful pre-round-17 shape: store-side sort,
    * no exchange, no unbounded broadcast) with a named warning, instead
    * of an opaque 8 GB-limit/driver-OOM failure. Falls back to `compute`
    * when no producer step registered this (application, dir).
    */
  def probeHistory(spark: SparkSession, dir: String, batchKeys: DataFrame)
                  (compute: => DataFrame): DataFrame =
    registered(spark, dir) match {
      case None =>
        // no producer step: the derived in-query history, reduced the
        // same way so the caller sees ONE contract (always probe-reduced)
        broadcast(compute.select(col(GramCol))
          .join(broadcast(batchKeys.select(col(GramCol))), Seq(GramCol),
            "left_semi")
          .distinct())
      case Some((table, _)) =>
        ProbeReduce.probe(spark, table, GramCol, batchKeys, blooms,
          "GramHistory.probeHistory",
          spark.range(0).select(col("id").as(GramCol)))
    }

  /** Spec hook: the generation-validated memoized bloom broadcast. */
  private[graft] def bloomBroadcast(spark: SparkSession, table: String)
      : Option[(Broadcast[Array[BloomFilter]], KeyBloom.Meta)] =
    ProbeReduce.bloomBroadcast(spark, table, blooms)
}
