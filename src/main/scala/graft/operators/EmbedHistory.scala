package graft.operators

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped EMBEDDING history index — the embedding member of the
  * incremental-dedup family's store layer (doc [[graft.sources
  * .HashHistory]], substring [[graft.sources.GramHistory]], payload
  * [[graft.sources.PhashHistory]], audio [[graft.sources
  * .LandmarkHistory]], video [[graft.sources.FrameHistory]], text
  * near-dup [[graft.sources.MinHashHistory]], THIS): a NEW crawl batch's
  * vectors are probed for semantic near-dups against the already-ingested
  * corpus WITHOUT an all-pairs pass — the SemDeDup serving posture at
  * crawl cadence.
  *
  * The index itself is [[IvfStore]] (frozen coarse centroids + per-cell
  * vector partitions; probes = files-not-read; create/append/compact
  * under MutationGuard — the full lifecycle is IvfStoreSpec's surface).
  * What this object adds is the family's SESSION REGISTRY: one store per
  * (application, corpus dir), built lazily from the caller's derived
  * history on first use and served from disk thereafter — the
  * [[CleanedCorpus]] producer device. Same staleness contract: a hit
  * ignores later appends to `dir` until an EXPLICIT [[invalidate]]
  * (per-dir or global) or [[graft.server.TankServer.stop]] — no
  * production verb invalidates automatically; a caller that mutates
  * `dir` calls [[invalidate(dir:String)*]] itself. The registry is a
  * 32-entry access-ordered LRU (the [[UnigramLm]]/[[CleanedCorpus]]
  * bound); eviction deletes the backing IvfStore temp dir, so temp
  * space is bounded at 32 indexes.
  *
  * LIFETIME: a store path (or a frame built over it) is only valid while
  * its entry is RESIDENT — eviction after 32 newer materializations
  * deletes an owned dir, and a held reference then fails loudly on its
  * next read. Callers re-call [[cachedStore]] (a hit is a map lookup)
  * rather than holding paths across many materializations; attached
  * external stores are exempt (never deleted — not owned).
  */
object EmbedHistory {

  /** `owned` = the registry created the dir (a temp dir) and therefore
    * deletes it on eviction/invalidate; an [[attach]]ed external store is
    * NEVER deleted — the registry did not create it.
    */
  private final case class Entry(path: Path, owned: Boolean)

  private val MaxStores = 32

  private val stores = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Entry]): Boolean =
        if (size() > MaxStores) {
          if (e.getValue.owned) deleteRecursively(e.getValue.path)
          true
        } else false
    })

  private def key(spark: SparkSession, dir: String): String =
    spark.sparkContext.applicationId + "|" + new java.io.File(dir).getAbsolutePath

  /** The IvfStore path for `dir` — created from `history` (vec_id,
    * embedding) on first call per (application, dir), reused thereafter.
    * `history` is only evaluated on a miss.
    *
    * KNOBS (nlist=16, kmeansIters=2) are the registry DEMO config for the
    * narrow-margin synthetic corpus — NOT the production derivation. At
    * production scale derive `nlist = ceil(n/targetCellSize)` and size
    * probes per DEDUP_TUNING.md §5 (the measured table — retired
    * CellPairTune, runnable at `7779ac1`: on
    * a wide-margin corpus probes=2 suffices at any nlist; on a
    * narrow-margin corpus recall decays with nlist, which is why the
    * demo pins it low). The x42c scaladoc carries the same
    * linear-regime measurement story.
    */
  def cachedStore(spark: SparkSession, dir: String, history: => DataFrame,
                  nlist: Int = 16, kmeansIters: Int = 2): String =
    stores.computeIfAbsent(key(spark, dir), _ => {
      val p = Files.createTempDirectory("graft-embhist-")
      // a failed create must not leak the dir: no entry is stored on
      // throw, so nothing would ever delete it
      try IvfStore.create(spark, p.toString, history, nlist, kmeansIters)
      catch { case t: Throwable => deleteRecursively(p); throw t }
      Entry(p, owned = true)
    }).path.toString

  /** Re-attach to an already-created [[IvfStore]] (new application) —
    * the restart path the table-backed stores get via their `attach`
    * verbs: register `storePath` for `dir` without refitting centroids
    * or relaying the corpus. Fails loudly when no store exists there.
    */
  def attach(spark: SparkSession, dir: String, storePath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(storePath, "centroids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"EmbedHistory.attach: no IvfStore at $storePath - IvfStore.create() first")
    stores.put(key(spark, dir),
      Entry(java.nio.file.Paths.get(storePath), owned = false)): Unit
  }

  private[graft] def memoSize: Int = stores.size()

  private[graft] def invalidate(): Unit = stores.synchronized {
    val it = stores.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next().getValue
      if (e.owned) deleteRecursively(e.path)
      it.remove()
    }
  }

  private[graft] def invalidate(dir: String): Unit = stores.synchronized {
    val seg = "|" + new java.io.File(dir).getAbsolutePath
    val it = stores.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.endsWith(seg)) {
        if (e.getValue.owned) deleteRecursively(e.getValue.path)
        it.remove()
      }
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f): Unit })
    }
  }
}
