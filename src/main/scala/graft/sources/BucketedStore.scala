package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The lifecycle every bucketed HISTORY store of the incremental-dedup
  * family shares ([[HashHistory]], [[GramHistory]], [[MinHashHistory]],
  * [[PhashHistory]], [[LandmarkHistory]], [[FrameHistory]]); each store
  * object extends this with its constants and keeps only its own row
  * projections and probes.
  *
  * Tables: `graft_<prefix>_history_<md5-12 of the source dir>`, bucketed
  * and sorted on `keyCol`, plus one sibling per `sideTables` entry
  * (`<table><suffix>`, bucketed on its own key). Appends write
  * bucket-compatible files with the table's spec, so the probe join keeps
  * riding the layout with no history-side exchange.
  *
  * Session registry: like [[graft.operators.PairStore]], a store is keyed
  * by (application, source dir) and building a query frame is
  * side-effect-free — [[scanOrCompute]] returns the store scan when a
  * producer step (the store's `create`) ran in this application, else the
  * caller's derived plan (standalone correctness, lazily). The table name
  * is deterministic per source dir, so a long-lived application (or a
  * shared metastore) re-attaches to an existing store via [[attach]].
  *
  * Mutations (create/append/compact) run under ONE [[MutationGuard]]
  * lease anchored at the main table's [[Bucketing.guardBase]] — all
  * relations of a store mutate together, single writer (the
  * [[Bucketing.compactDistinct]] contract). `create` clears the
  * [[StreamMark]] replay watermark: a recreated store is a NEW streaming
  * lineage, and a stale mark would silently skip its appends.
  *
  * With `bloomKeys` set the store keeps a [[KeyBloom]] sidecar over that
  * projection of the main table. `append` folds the increment into it
  * BEFORE the table append: a crash between the two leaves phantom bloom
  * keys (false positives — verified away), never table keys the bloom
  * misses (false negatives — silently wrong probes). A failed build or
  * fold deletes the sidecar, so probes fall back to the plain scan; the
  * store itself is never lost to the accelerator.
  *
  * @param prefix     table-name prefix (`hash`, `gram`, …)
  * @param keyCol     the main table's bucket key
  * @param sideTables (suffix, bucket key) of each sibling table
  * @param bloomKeys  the key projection a sidecar is built and folded
  *                   from; None keeps no sidecar
  * @param dedupeRows compaction dedupes whole rows (true) or the key
  *                   column only (single-column membership stores)
  * @tparam S what [[scanOrCompute]] serves (one relation, or a pair)
  */
abstract class BucketedStore[S](prefix: String, keyCol: String,
                                sideTables: Seq[(String, String)] = Nil,
                                bloomKeys: Option[DataFrame => DataFrame] = None,
                                dedupeRows: Boolean) {

  private val name = getClass.getSimpleName.stripSuffix("$")

  /** (appId|dir) -> (table, buckets), present after create/attach. */
  private val stores = new ConcurrentHashMap[String, (String, Int)]()

  // memoized sidecar-bloom broadcasts, validated by the sidecar's
  // GENERATION counter (monotonic, bumped by every committed write — NOT
  // mtime, whose granularity can alias a rewrite by another application
  // and serve a stale bloom with FALSE NEGATIVES); mutating verbs also
  // invalidate in-process
  private[sources] val blooms: ProbeReduce.BloomMemo = new ConcurrentHashMap()

  private def key(spark: SparkSession, dir: String): String =
    spark.sparkContext.applicationId + "|" + new java.io.File(dir).getAbsolutePath

  /** Deterministic table name for a source dir (valid catalog identifier). */
  def tableFor(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(new java.io.File(dir).getAbsolutePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    s"graft_${prefix}_history_$hex"
  }

  /** (name, bucket key) of the main table, then of each sibling. */
  private def tablesOf(table: String): Seq[(String, String)] =
    (table, keyCol) +: sideTables.map { case (suffix, k) => (table + suffix, k) }

  /** (table, buckets) of the registered store, if a producer step ran. */
  protected def registered(spark: SparkSession,
                           dir: String): Option[(String, Int)] =
    Option(stores.get(key(spark, dir)))

  /** (table, buckets) of the registered store; throws naming `verb`
    * when no producer step ran for `dir`.
    */
  private[graft] def registeredFor(spark: SparkSession, dir: String,
                                   verb: String): (String, Int) =
    registered(spark, dir).getOrElse(throw new IllegalStateException(
      s"$name.$verb: no store registered for $dir — create()/attach() first"))

  private def guarded[A](spark: SparkSession, table: String)(body: => A): A =
    MutationGuard.withGuard(spark, Bucketing.guardBase(spark, table))(body)

  /** The PRODUCER step behind each store's `create`: write `rows` (and
    * `sideRows`, in `sideTables` order) as the bucketed tables for `dir`,
    * build the sidecar, clear the replay watermark and register.
    */
  protected def createRows(spark: SparkSession, dir: String, buckets: Int,
                           bloomFpp: Double, rows: DataFrame,
                           sideRows: DataFrame*): Unit = {
    val table = tableFor(dir)
    guarded(spark, table) {
      tablesOf(table).zip(rows +: sideRows).foreach { case ((t, k), df) =>
        Bucketing.writeBucketed(df, t, k, buckets)
      }
      rebuildBloom(spark, table, buckets, bloomFpp)
    }
    StreamMark.clear(spark, table)
    stores.put(key(spark, dir), (table, buckets)): Unit
  }

  /** Re-attach to an already-created store (new application, shared
    * metastore) — the restart path: at store scale a rebuild is exactly
    * what the persisted tables exist to avoid. Every table must exist and
    * carry `buckets` (appends write bucket-compatible segments); fails
    * loudly otherwise.
    */
  def attach(spark: SparkSession, dir: String, buckets: Int = 8): Unit = {
    val table = tableFor(dir)
    val all = tablesOf(table).map(_._1)
    all.foreach(t => require(spark.catalog.tableExists(t),
      s"$name.attach: table $t does not exist — run create() first"))
    all.foreach(t => Bucketing.requireBuckets(spark, t, buckets, s"$name.attach"))
    stores.put(key(spark, dir), (table, buckets)): Unit
  }

  /** The append behind each store's `append`: fold the sidecar, then
    * write `rows` (and `sideRows`) as bucket-compatible files.
    */
  protected def appendRows(spark: SparkSession, dir: String, rows: DataFrame,
                           sideRows: DataFrame*): Unit = {
    val (table, buckets) = registeredFor(spark, dir, "append")
    guarded(spark, table) {
      bloomKeys.foreach { keys =>
        val base = Bucketing.guardBase(spark, table)
        try {
          if (KeyBloom.fold(spark, base, keys(rows), keyCol).exists(_ > 0L))
            blooms.remove(table): Unit
        } catch {
          case scala.util.control.NonFatal(e) =>
            dropBloom(spark, table, s"update failed for $table — sidecar " +
              s"dropped, probes fall back to the plain scan: ${e.getMessage}")
        }
      }
      tablesOf(table).zip(rows +: sideRows).foreach { case ((t, k), df) =>
        df.write.mode(SaveMode.Append).bucketBy(buckets, k).sortBy(k)
          .format("parquet").saveAsTable(t)
      }
    }
  }

  /** STORE-SIZED compaction: appends accumulate cross-append repeats
    * (the probes' semantics absorb them, but bytes and file counts grow
    * per batch) — rewrite every table to its distinct rows (or keys) as
    * one bucketed segment via [[Bucketing.compactDistinct]] and re-size
    * the sidecar to the compacted key count (also the legacy store's
    * upgrade path). Probes answer identically before and after on a
    * clean store, and the bucket layouts — and so the no-exchange probe
    * plans — survive (spec-gated).
    */
  def compact(spark: SparkSession, dir: String): Unit =
    compactAt(spark, dir, KeyBloom.DefaultFpp)

  protected def compactAt(spark: SparkSession, dir: String,
                          bloomFpp: Double): Unit = {
    val (table, buckets) = registeredFor(spark, dir, "compact")
    guarded(spark, table) {
      Bucketing.compactDistinct(spark, table, keyCol, buckets,
        allColumns = dedupeRows)
      compactSides(spark, table, buckets)
      rebuildBloom(spark, table, buckets, bloomFpp)
    }
  }

  /** Compaction of the sibling tables, run under the mutation guard
    * after the main table's: distinct rows on each side key.
    */
  protected def compactSides(spark: SparkSession, table: String,
                             buckets: Int): Unit =
    tablesOf(table).tail.foreach { case (t, k) =>
      Bucketing.compactDistinct(spark, t, k, buckets, allColumns = dedupeRows)
    }

  /** (Re)build the sidecar from the table's current keys — per-bucket
    * task-local ([[KeyBloom.build]]), sized with [[KeyBloom.Headroom]] so
    * appends have capacity. A no-op for stores without one.
    */
  private def rebuildBloom(spark: SparkSession, table: String, buckets: Int,
                           fpp: Double): Unit =
    bloomKeys.foreach { keys =>
      try {
        KeyBloom.build(spark, Bucketing.guardBase(spark, table),
          keys(spark.table(table)), keyCol, buckets, fpp)
        blooms.remove(table): Unit
      } catch {
        case scala.util.control.NonFatal(e) =>
          dropBloom(spark, table, s"build failed for $table — probes fall " +
            s"back to the plain store scan: ${e.getMessage}")
      }
    }

  // a sidecar that may be missing keys would give FALSE NEGATIVES —
  // delete it rather than risk that
  private def dropBloom(spark: SparkSession, table: String,
                        why: String): Unit = {
    KeyBloom.delete(spark, Bucketing.guardBase(spark, table))
    blooms.remove(table)
    org.slf4j.LoggerFactory.getLogger(getClass)
      .warn(s"$name: bloom sidecar $why")
  }

  /** The registered store's relation(s), read from `table`. */
  protected def scan(spark: SparkSession, table: String): S

  /** The consumer entry point — LAZY, side-effect-free: the store scan
    * when a producer step ran for this (application, dir), else the
    * caller's derived plan (`compute`, untouched when the store is
    * registered).
    */
  def scanOrCompute(spark: SparkSession, dir: String)(compute: => S): S =
    registered(spark, dir) match {
      case Some((table, _)) => scan(spark, table)
      case None => compute
    }

  /** Sidecar-saturation trigger statistic (DEDUP_TUNING §5.1): the
    * manifest-only stat that says WHEN to [[compact]] — appends fold keys
    * into blooms sized at create, so growth past capacity decays probe
    * SELECTIVITY (never exactness). None when no store is registered for
    * `dir` or it keeps no sidecar.
    */
  def bloomStat(spark: SparkSession,
                dir: String): Option[KeyBloom.Saturation] =
    registeredTable(spark, dir).flatMap(t =>
      KeyBloom.saturationStat(spark, Bucketing.guardBase(spark, t)))

  /** Break a killed run's mutation lock on `dir`'s store — for harnesses
    * that own their warehouse and rebuild from scratch, where a leftover
    * lease would stall the rebuild for the acquire wait. Never call this
    * where another writer might genuinely be live.
    */
  def clearStaleMarker(spark: SparkSession, dir: String): Unit =
    MutationGuard.clear(spark, Bucketing.guardBase(spark, tableFor(dir)))

  /** The registered table name, if a producer step ran (spec hook). */
  private[graft] def registeredTable(spark: SparkSession,
                                     dir: String): Option[String] =
    registered(spark, dir).map(_._1)

  /** Drop the registration (spec isolation; the tables remain). */
  private[graft] def invalidate(spark: SparkSession, dir: String): Unit = {
    registered(spark, dir)
      .foreach(t => Option(blooms.remove(t._1)).foreach(_._2.unpersist()))
    stores.remove(key(spark, dir)): Unit
  }
}
