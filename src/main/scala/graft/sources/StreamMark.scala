package graft.sources

import org.apache.spark.sql.SparkSession

/** Persisted replay watermark for the store-appending streams — the
  * store-as-state twins of [[graft.streaming.CurationStreams]] and the
  * feature-store ingest ([[FeatureStore.ingestStream]]): the last batchId
  * whose append committed to a store, written BESIDE the store's location
  * (like the [[WriterLease]] files) so it survives compaction's
  * drop+rename of a table dir. One small file per store; a stream keeps
  * one [[Guard]] per store it appends to.
  *
  * Streaming batchIds are monotonic only per CHECKPOINT LINEAGE — a
  * recreated store (or a fresh stream with a new checkpoint) must start
  * from -1, or the stale mark silently skips batches with batchId <= the
  * old lineage's high-water mark: appends are permanently lost, and the
  * fully-committed-epoch fast path would also skip the probe and the SINK
  * for the new stream's first batches. Two guards pin the lifetime:
  *
  *  - each store's `create()` (and [[FeatureStore.write]]) calls [[clear]]
  *    (store lifetime and mark lifetime tied at the one place a new STORE
  *    lineage begins), and
  *  - the mark records the STREAMING QUERY ID that wrote it (stable
  *    across restarts of the same checkpoint — Spark persists it in the
  *    checkpoint's metadata and republishes it on the stream thread as
  *    the `sql.streaming.queryId` local property). A read under a
  *    DIFFERENT query id — a fresh checkpoint over a surviving store —
  *    reports -1 instead of the other lineage's high-water mark, so the
  *    new stream probes, sinks and appends from its own batch 0. The
  *    first re-appends are the streams' documented replay semantics
  *    (membership stores absorb them; multiset stores inflate until
  *    compact()) — bounded noise, never lost batches.
  *
  * Outside a streaming query (the specs drive the batch bodies directly)
  * the local property is absent; marks written without a query id match
  * only reads without one, keeping direct-call restart tests meaningful
  * while a REAL stream never honors a direct-call mark or vice versa.
  */
object StreamMark {

  /** One store's replay guard inside one streaming query: the last batchId
    * whose append to that store committed, recovered from the persisted
    * mark at `at` on first use. `foreachBatch` bodies run serially, so the
    * in-session value needs visibility, not atomicity.
    */
  final class Guard {
    @volatile private var last = Long.MinValue

    /** The in-session mark (Long.MinValue until first recovered). */
    def get(): Long = last

    /** The last committed batchId of the store whose mark is `at`. */
    private[graft] def committed(spark: SparkSession,
                                 at: org.apache.hadoop.fs.Path): Long = {
      if (last == Long.MinValue) last = readMark(spark, at)
      last
    }

    /** Run `append` iff `batchId` has not committed to this store, then
      * persist the mark and advance. The mark moves only AFTER `append`
      * returns, so an append that throws is retried on replay, never
      * skipped. Returns whether `append` ran.
      */
    private[graft] def commit(spark: SparkSession,
                              at: org.apache.hadoop.fs.Path,
                              batchId: Long)(append: => Unit): Boolean =
      if (committed(spark, at) >= batchId) false
      else {
        append
        writeMark(spark, at, batchId)
        last = batchId
        true
      }
  }

  /** The stream thread's query-id local property (set by Spark's
    * StreamExecution for the duration of a run; stable per checkpoint).
    */
  private def queryId(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))

  /** Mark location for a store addressed by a raw base PATH (the
    * [[graft.operators.IvfStore]] family and the feature store — no
    * catalog table): a `_stream_batch` sibling, like the
    * [[WriterLease]]'s `_lease_e<epoch>` files.
    */
  def markPathAt(base: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(base + "_stream_batch")

  def markPath(spark: SparkSession, table: String)
      : org.apache.hadoop.fs.Path =
    markPathAt(Bucketing.guardBase(spark, table))

  /** Last committed append's batchId, or -1 when no mark exists (fresh
    * lineage), the mark is unreadable (degrade to replay-one-batch, which
    * the stores' membership semantics absorb), or the mark belongs to a
    * DIFFERENT streaming-query lineage (fresh checkpoint over a surviving
    * store — its batchIds restart at 0, so honoring the old mark would
    * silently skip probe, sink and appends).
    */
  def read(spark: SparkSession, table: String): Long =
    readMark(spark, markPath(spark, table))

  /** [[read]] for a path-addressed store. */
  def readAt(spark: SparkSession, base: String): Long =
    readMark(spark, markPathAt(base))

  private def readMark(spark: SparkSession,
                       p: org.apache.hadoop.fs.Path): Long =
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) -1L
      else {
        val in = fs.open(p)
        val line =
          try new String(in.readAllBytes(), "UTF-8").trim
          finally in.close()
        val parts = line.split("\\s+", 2)
        val markQid = if (parts.length > 1) Some(parts(1)) else None
        // lineage gate: a legacy one-field mark (pre-query-id format) has
        // no lineage evidence — treat it as matching only a NON-streaming
        // read (direct batch-body calls), never a real stream's
        if (markQid == queryId(spark)) parts(0).toLong else -1L
      }
    } catch { case _: java.io.IOException | _: NumberFormatException => -1L }

  /** Persist (overwrite) a path-addressed store's mark, stamped with the
    * writing stream's query id.
    */
  def writeAt(spark: SparkSession, base: String, batchId: Long): Unit =
    writeMark(spark, markPathAt(base), batchId)

  /** Best-effort persist: a failure degrades to the in-session [[Guard]] —
    * a restart then replays that one append (see each stream's replay
    * contract for what a re-append means per store).
    */
  private def writeMark(spark: SparkSession, p: org.apache.hadoop.fs.Path,
                        batchId: Long): Unit =
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val line = queryId(spark) match {
        case Some(qid) => s"$batchId $qid\n"
        case None => s"$batchId\n"
      }
      val out = fs.create(p, true)
      try out.write(line.getBytes("UTF-8")) finally out.close()
    } catch { case e: java.io.IOException =>
      System.err.println(s"[store-stream] could not persist replay " +
        s"watermark $p (restart will re-append batch $batchId — see the " +
        s"stream's replay contract for semantics): ${e.getMessage}")
    }

  /** Delete the mark — called wherever a new store lineage begins, so a
    * recreated store starts at -1 (best-effort, like the persist).
    */
  def clear(spark: SparkSession, table: String): Unit =
    clearMark(spark, markPath(spark, table))

  /** [[clear]] for a path-addressed store. */
  def clearAt(spark: SparkSession, base: String): Unit =
    clearMark(spark, markPathAt(base))

  private def clearMark(spark: SparkSession,
                        p: org.apache.hadoop.fs.Path): Unit =
    try {
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, false): Unit
    } catch { case _: java.io.IOException => () }
}
