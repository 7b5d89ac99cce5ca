package graft.util

import org.apache.spark.sql.DataFrame

/** Eager materialization with an explicit fault-tolerance contract.
  *
  * Several builder APIs materialize a SMALL result eagerly so a large cached
  * upstream relation (shingle arrays, a spilled temp file) can be released
  * immediately instead of pinning executor storage for the session lifetime.
  * Doing that with `localCheckpoint` alone stores the result in
  * executor-LOCAL blocks: on a cluster losing an executor afterwards
  * (dynamic allocation, spot nodes — part of the 100 TB design target) the
  * DataFrame becomes permanently unrecoverable, because the lineage was
  * truncated too.
  *
  * [[eager]] therefore prefers a RELIABLE checkpoint whenever the session
  * has a checkpoint directory configured
  * (`spark.sparkContext.setCheckpointDir(...)` — on a cluster, point it at
  * the durable FS): the result is written there and survives any executor
  * loss. Without a configured directory it falls back to `localCheckpoint`,
  * which is exactly right for local[] runs and tests. Both forms store
  * partitions as-is (order-preserving) and both are EAGER — calling this
  * triggers a job, which is the documented cost of the builder APIs that
  * use it.
  */
object Materialize {
  /** Checkpoint-dir deployments should also set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (or sweep the
    * directory periodically): Spark does not delete reliable-checkpoint
    * data by default, and repeated eager() calls otherwise accumulate it.
    */
  /** Driver-LOCAL materialization of a bounded relation, within a row
    * cap — the round-19 job-fold for batch/candidates-sized intermediates
    * that feed several consumers (probe statuses, candidate pairs,
    * verify slices): the relation is evaluated ONCE in parallel (persist →
    * count — a limit()-based take would walk scan-rooted kernel plans
    * with the executeTake partition ramp, serializing the very kernel
    * the caller wants parallel), collected from the cache, and the cache
    * released before returning. The returned frame is a LocalTableScan
    * (no checkpoint write, no lingering executor-storage pin, and every
    * downstream broadcast build reads local rows instead of re-running
    * lineage); the exact row count rides along so emptiness checks cost
    * no extra job. Relations past the cap — the violated boundedness
    * contract — fall back to [[eager]], answers unchanged.
    */
  def localOrEager(df: DataFrame,
                   maxRows: Long = 1L << 22): (DataFrame, Long) =
    boundedRows(df, maxRows) match {
      case (Some(rows), n) => (df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema), n)
      case (None, n) => (eager(df), n)
    }

  /** The row-level form of [[localOrEager]]: (rows within the cap — None
    * past it, where callers keep their distributed shape; the exact row
    * count either way). One parallel evaluation; cache released on exit.
    */
  def boundedRows(df: DataFrame, maxRows: Long)
      : (Option[Array[org.apache.spark.sql.Row]], Long) = {
    val alreadyCached =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (!alreadyCached) df.persist()
    try {
      val n = df.count()
      if (n > maxRows) (None, n) else (Some(df.collect()), n)
    } finally if (!alreadyCached) df.unpersist(false)
  }

  def eager(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // checkpoint(eager) runs the materializing action AND a second job
      // that writes the checkpoint files; without a persist that second job
      // recomputes the entire upstream lineage (doubling the pipeline cost
      // and re-firing any diagnostic accumulators). Persist so the write
      // job reads the cached blocks, then drop the cache — the checkpoint
      // files carry the data from here on. A caller that ALREADY cached
      // this plan keeps its cache: unpersisting here would silently evict
      // the caller's entry (cache registration is plan-keyed).
      val alreadyCached =
        df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      if (!alreadyCached) df.persist()
      try df.checkpoint(eager = true)
      finally if (!alreadyCached) df.unpersist(false)
    } else df.localCheckpoint(eager = true)
}
