package graft.sources

import org.apache.spark.sql.SparkSession

/** Enforced single-mutating-writer guard for the derived-index stores
  * (Bm25Store / IvfStore / AnnStore and the [[BucketedStore]] histories) —
  * upgrades the [[SwapDir]] / [[Bucketing.compactDistinct]] concurrency
  * contract from documentation to a LOUD failure: every mutating verb
  * (create / append / compact) runs holding the base's [[WriterLease]], so
  * an append racing a compact fails at acquire instead of silently losing
  * its files. A writer that outlives its declared TTL can be stolen from
  * mid-write; the post-verb check detects that and fails LOUDLY so the
  * overlap is investigated, never silent. Readers are unaffected: the
  * guard serializes mutations only.
  */
object MutationGuard {

  /** Run `body` holding the writer lease for `base` (the store root for
    * dir stores; the table location for table stores — a path whose
    * PARENT outlives the mutation). Throws IllegalStateException if the
    * lease is held and unexpired after `waitMillis` of bounded retry, or
    * if this writer's lease was stolen during `body` (TTL outlived —
    * another writer may have overlapped; the thief's lease is left
    * alone). Session confs `spark.graft.store.guardWaitMillis` /
    * `guardTtlMillis` override the defaults for all store verbs at once
    * (ops knob — size the TTL above the longest verb).
    */
  def withGuard[A](spark: SparkSession, base: String,
                   waitMillis: Long = 30 * 1000L,
                   ttlMillis: Long = 10 * 60 * 1000L)(body: => A): A = {
    val lease = WriterLease(base,
      spark.conf.get("spark.graft.store.guardWaitMillis", waitMillis.toString)
        .toLong,
      spark.conf.get("spark.graft.store.guardTtlMillis", ttlMillis.toString)
        .toLong)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = lease.acquire(fs)
    def stolen = lease.lost(fs, token).map(why => new IllegalStateException(
      s"MutationGuard: the lease on $base was stolen during the mutation " +
        s"($why) — this writer outlived its TTL and another mutation may " +
        "have overlapped. Verify the store (derived stores are " +
        "rebuildable) and raise spark.graft.store.guardTtlMillis above the " +
        "longest verb"))
    val result =
      try body
      catch { case e: Throwable =>
        // never mask `e`, but a detected steal is the likely ROOT CAUSE of
        // the body's failure (files swapped under us) — surface it too
        stolen.foreach(e.addSuppressed)
        lease.release(fs, token)
        throw e
      }
    try stolen.foreach(e => throw e)
    finally lease.release(fs, token)
    result
  }

  /** Unconditionally remove the lease files for `base` — for
    * single-tenant harnesses (Verify/Bench/ScaleProbe) that OWN their
    * warehouse and rebuild stores from scratch: a previous killed run's
    * lease would otherwise stall the rebuild for the acquire wait and force
    * the derived-history fallback. Never call this where another writer
    * might genuinely be live.
    */
  def clear(spark: SparkSession, base: String): Unit =
    WriterLease.clear(new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), base)
}
