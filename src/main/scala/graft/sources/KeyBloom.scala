package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted key-membership bloom SIDECAR for a bucketed history store —
  * the exactness-preserving probe accelerator the gram store needs at
  * crawl cadence: store keys are uniform 64-bit hashes, so parquet
  * min/max zone maps CANNOT skip anything (every hash-bucketed sorted
  * file spans essentially the full key range — its row-group stats are
  * saturated by construction), and per-file blooms die combinatorially
  * for large batches (a file survives pruning iff ANY of m probe keys
  * false-positives into it: 1 − (1 − fpp)^m → 1 already at m ≈ 1/fpp).
  * What DOES work at every scale is a store-level bloom consulted on
  * the BATCH side: a key the bloom misses is definitively absent
  * (blooms have no false negatives), so the exact store verify runs
  * only over bloom-hit candidates — dup-density-sized plus an fpp
  * fraction of the fresh keys — and a fully-novel batch touches ZERO
  * store files. False positives cost nothing but verify work; answers
  * stay exact ([[GramHistory]]'s probe semantics are unchanged).
  *
  * LAYOUT — one bloom PER TABLE BUCKET (the 100 TB form the round-17
  * monolith's scaladoc specified): under `<tableLocation>_zones/keybloom/`
  *  - `manifest.bin` = [magic Int][gen Long][buckets Int]
  *    [expectedPerBucket Long][fpp Double][inserted Long] — tiny, read
  *    per probe to validate memoized broadcasts;
  *  - `bucket-NNNNN.bin` = raw Spark BloomFilter bytes for table bucket
  *    N, where a key's bucket is `pmod(murmur3(key), buckets)` — the
  *    SAME function Spark's `bucketBy` uses to route rows to bucket
  *    files (gated in GramHistorySpec), so bloom locality rides the
  *    table's existing bucket split: builds and append-folds are
  *    task-local (each task loads, updates and rewrites ONE bucket's
  *    bloom — no driver-side bloom I/O at any store size), and a probe
  *    can PRUNE the store scan to the candidate keys' buckets. At
  *    10^11 grams a monolithic bloom is ~150 GB and stops being
  *    loadable anywhere; per-bucket files keep every unit at
  *    store/buckets bytes.
  *
  * The sidecar lives BESIDE the table directory so
  * [[Bucketing.compactDistinct]]'s drop-and-rename never touches it
  * (compaction rebuilds it anyway). Every file goes through write-tmp-
  * then-rename and the manifest is written LAST with a bumped
  * GENERATION counter, so a reader never validates a torn state: bucket
  * files newer than the manifest only ever hold EXTRA keys (phantom
  * candidates — verified away, harmless), never fewer. The generation —
  * not mtime, whose 1 s/1 ms granularity can alias a rewrite by another
  * application sharing the store — is the memo-validity token for
  * broadcast caching ([[GramHistory]]'s `blooms` map). All mutating
  * callers hold the store's [[MutationGuard]].
  *
  * Sizing: each bucket's bloom is created at `Headroom ×` its share of
  * the build-time key count so appends have room; `inserted` tracks
  * growth past capacity — saturation only RAISES the false-positive
  * rate (probe degrades toward the plain scan, never toward a wrong
  * answer) and `compact()` re-sizes.
  */
object KeyBloom {

  /** Default false-positive rate: ~8.5 bits/key — a 10^8-key store's
    * sidecar totals ~107 MB across buckets (broadcast-viable at this
    * tier), and an fpp miss only adds a verified-and-discarded candidate.
    *
    * SIZING LAW for the store `bloomFpp` knob (measured: BASELINE.md
    * round-18 NovelBatchProbe rows, DEDUP_TUNING.md §4.1; the retired
    * probe runs at `7779ac1`): a fully-novel batch short-circuits to
    * ZERO store reads only while its distinct probe keys number ≲ 1/fpp
    * (expected false positives < 1); past that, it reads the fp
    * candidates' buckets —
    * a fraction ≈ min(1, keys × fpp / buckets) of the store. At the
    * default 0.02 that ceiling is ~50 keys — right for the 1-key/doc
    * HASH store at micro-batch cadence, far too low for the ~100-keys/
    * doc GRAM store. A crawl pipeline that wants novel-batch zero-reads
    * on the gram/band legs should create those stores at fpp ≈
    * 1/(10 × batch_keys) and pay the ~1.5–2× sidecar bytes (bits/key
    * grows as log2(1/fpp) × 1.44).
    */
  val DefaultFpp = 0.02

  /** Creation headroom: capacity = 2× the keys present at (re)build. */
  val Headroom = 2L

  private val Magic = 0x4742_4b32 // "GBK2" — the per-bucket format

  /** `expected`/`fpp` are PER-BUCKET creation parameters; `inserted`
    * counts keys folded in across the whole sidecar; `gen` increments on
    * every committed write (build or fold) and is the broadcast-memo
    * validity token.
    */
  final case class Meta(gen: Long, buckets: Int, expected: Long,
                        fpp: Double, inserted: Long)

  /** The saturation TRIGGER STATISTIC for the sidecar — the text-store
    * analog of `IvfStore.skewStat`/`AnnStore.skewStat` one axis over
    * (DEDUP_TUNING §5.1): appends fold keys into blooms sized at build
    * time, so sustained growth past capacity decays the probe's
    * SELECTIVITY silently — answers stay exact (saturation has no false
    * negatives; KeyBloomSpec's saturation gate), but the false-positive
    * rate climbs toward 1 and the zero-read novel-batch ceiling
    * (`≈ 1/fpp` distinct probe keys, §4.1's sizing law) collapses, until
    * the probe costs what the plain scan does. This statistic says WHEN
    * to `compact()` (which re-sizes the sidecar to the surviving keys),
    * from the MANIFEST alone — no bloom bytes, no store data.
    *
    *  - `fill` = inserted / (buckets × expected): 0.5 at build (the
    *    [[Headroom]]), 1.0 at design capacity;
    *  - `effFpp` = the per-bucket false-positive estimate at the current
    *    fill, from the standard bloom occupancy model with the SAME
    *    bits/hashes sizing Spark's `BloomFilter.create` uses
    *    (m = −n·ln p/(ln 2)², k = max(1, round(m/n·ln 2)));
    *  - `zeroReadCeiling` = ≈ 1/effFpp — the distinct-probe-key count a
    *    fully-novel batch can carry and still expect to read zero store
    *    files.
    *
    * CONSERVATIVE by construction: `inserted` counts folded key
    * INSTANCES, and cross-append repeats re-count (a repeat sets no new
    * bloom bits), so the stat can only overestimate saturation — it
    * trips early, never late, and `compact()` resets it exactly.
    * Trigger (DEDUP_TUNING §5.1): effFpp ≥ ~10× the created `fpp`, or
    * zeroReadCeiling below the pipeline's per-batch distinct keys.
    */
  final case class Saturation(fill: Double, effFpp: Double,
                              zeroReadCeiling: Long) {
    /** The one drift-line rendering every monitor shares
      * (CrawlRehearsal / StreamingCrawlRehearsal / the probe trip wire).
      */
    def render: String =
      f"fill=$fill%.2f effFpp=$effFpp%.2g ceiling=$zeroReadCeiling"
  }

  /** [[Saturation]] from a manifest — pure arithmetic, no I/O. */
  def saturation(meta: Meta): Saturation = {
    val capacity = meta.buckets.toLong * meta.expected
    val fill =
      if (capacity <= 0L) 0.0 else meta.inserted.toDouble / capacity
    val ln2 = math.log(2.0)
    // per-bucket sizing, mirroring BloomFilter.create(expected, fpp)
    val mBits = math.max(1.0, -meta.expected * math.log(meta.fpp) / (ln2 * ln2))
    val k = math.max(1L, math.round(mBits / meta.expected * ln2)).toDouble
    val insertedPerBucket = meta.inserted.toDouble / math.max(1, meta.buckets)
    val effFpp = math.min(1.0,
      math.pow(1.0 - math.exp(-k * insertedPerBucket / mBits), k))
    val ceiling =
      if (effFpp <= 1e-18) Long.MaxValue else (1.0 / effFpp).toLong
    Saturation(fill, effFpp, ceiling)
  }

  /** [[Saturation]] for a store's sidecar — one manifest read; None when
    * no valid sidecar (legacy store: there is nothing to saturate, the
    * probe is already the plain scan).
    */
  def saturationStat(spark: SparkSession, base: String): Option[Saturation] =
    readMeta(spark, base).map(saturation)

  def dirFor(base: String): Path = new Path(base + "_zones/keybloom")
  def manifestPath(base: String): Path = new Path(dirFor(base), "manifest.bin")
  def bucketPath(base: String, bucket: Int): Path =
    new Path(dirFor(base), f"bucket-$bucket%05d.bin")

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The bucket-routing column for a LONG or BINARY key —
    * `pmod(murmur3, n)`, byte-identical to the function `bucketBy(n,
    * key)` routes rows with (HashPartitioning's partition-id expression;
    * spec-gated against the actual bucket file names), so bloom buckets
    * align with table buckets and candidate buckets map to prunable
    * files.
    */
  def bucketIdCol(keyCol: String, buckets: Int): org.apache.spark.sql.Column =
    pmod(hash(col(keyCol)), lit(buckets)).cast("int")

  // ------------------------------------------------------------- manifest

  /** Read the manifest; None when absent (legacy store — probes fall
    * back to the plain scan) or unreadable/foreign (ANY failure degrades
    * to the fallback, never to a wrong answer).
    */
  def readMeta(spark: SparkSession, base: String): Option[Meta] =
    readMetaConf(spark.sparkContext.hadoopConfiguration, base)

  private def readMetaConf(conf: Configuration, base: String): Option[Meta] = {
    val p = manifestPath(base)
    try {
      val f = p.getFileSystem(conf)
      if (!f.exists(p)) None
      else {
        val in = new DataInputStream(f.open(p))
        try {
          if (in.readInt() != Magic) None
          else Some(Meta(in.readLong(), in.readInt(), in.readLong(),
            in.readDouble(), in.readLong()))
        } finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Persist the manifest (write-tmp-then-rename; the LAST step of every
    * committed sidecar write, so a torn multi-file write is only ever
    * visible as bucket files AHEAD of the manifest — supersets).
    */
  private def writeManifest(spark: SparkSession, base: String,
                            meta: Meta): Unit = {
    val p = manifestPath(base)
    val f = fs(spark, p)
    val tmp = new Path(p.toString + ".tmp")
    val out = new DataOutputStream(f.create(tmp, true))
    try {
      out.writeInt(Magic)
      out.writeLong(meta.gen)
      out.writeInt(meta.buckets)
      out.writeLong(meta.expected)
      out.writeDouble(meta.fpp)
      out.writeLong(meta.inserted)
    } finally out.close()
    if (f.exists(p)) f.delete(p, false): Unit
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"KeyBloom: rename $tmp -> $p failed")
  }

  // --------------------------------------------------------- bucket files

  /** Task-local load of one bucket's bloom; None when absent or
    * unreadable (NonFatal-caught: torn/foreign bytes can throw beyond
    * IOException — unknown-version IllegalArgumentException, garbage-
    * length NegativeArraySizeException — and every one of them must
    * degrade, not fail the probe/append).
    */
  def readBucket(conf: Configuration, base: String,
                 bucket: Int): Option[BloomFilter] = {
    val p = bucketPath(base, bucket)
    try {
      val f = p.getFileSystem(conf)
      if (!f.exists(p)) None
      else {
        val in = new DataInputStream(f.open(p))
        try Some(BloomFilter.readFrom(in)) finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def writeBucketTmp(conf: Configuration, base: String, bucket: Int,
                             bloom: BloomFilter): Path = {
    val p = bucketPath(base, bucket)
    val tmp = new Path(p.toString + ".tmp")
    val f = p.getFileSystem(conf)
    val out = new DataOutputStream(f.create(tmp, true))
    try bloom.writeTo(out) finally out.close()
    tmp
  }

  private def commitBucket(spark: SparkSession, base: String,
                           bucket: Int): Unit = {
    val p = bucketPath(base, bucket)
    val f = fs(spark, p)
    val tmp = new Path(p.toString + ".tmp")
    if (f.exists(p)) f.delete(p, false): Unit
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"KeyBloom: rename $tmp -> $p failed")
  }

  /** Driver-side load of ALL bucket blooms + meta — the broadcast build
    * for probe-side candidate cuts at the ≤10^9-key tier (the array
    * totals what the monolith did; past [[graft.util.ProbeBudget
    * .BloomConf]] the probes flip to [[taskLocalCut]] — the tier switch
    * lives in [[ProbeReduce.bloomCut]]). None when no valid sidecar. A
    * bucket file missing under a valid manifest means a torn foreign
    * write — treated as no sidecar (plain-scan fallback), never as
    * absent keys.
    */
  def readAll(spark: SparkSession,
              base: String): Option[(Array[BloomFilter], Meta)] =
    readMeta(spark, base).flatMap { meta =>
      val conf = spark.sparkContext.hadoopConfiguration
      val arr = new Array[BloomFilter](meta.buckets)
      var i = 0
      var torn = false
      while (i < meta.buckets && !torn) {
        readBucket(conf, base, i) match {
          case Some(b) => arr(i) = b
          case None => torn = true
        }
        i += 1
      }
      if (torn) None else Some((arr, meta))
    }

  def delete(spark: SparkSession, base: String): Unit = {
    val d = dirFor(base)
    val f = fs(spark, d)
    if (f.exists(d)) f.delete(d, true): Unit
  }

  /** Total bucket-file bytes of the sidecar (manifest excluded) — the
    * tier decision input for the probe's bloom cut: under
    * [[graft.util.ProbeBudget.BloomConf]] the whole array broadcasts;
    * past it, [[taskLocalCut]]. One directory listing; 0 when absent.
    */
  def sidecarBytes(spark: SparkSession, base: String): Long = {
    val d = dirFor(base)
    val f = fs(spark, d)
    if (!f.exists(d)) 0L
    else f.listStatus(d).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("bucket-"))
      .map(_.getLen).sum
  }

  /** The bloom candidate cut with TASK-LOCAL per-bucket loads — the
    * >broadcast-budget tier (at 10^11 grams the sidecar is ~100 GB; no
    * single process may hold it): batch keys shuffle to their table
    * bucket (batch-bounded — the one exchange), each task loads ONLY its
    * bucket's bloom (sidecar/buckets bytes) and keeps bloom-hit keys.
    * Same no-false-negatives contract as the broadcast cut; a missing
    * bucket file under a valid manifest (torn foreign write) degrades by
    * keeping that bucket's keys UNCUT — candidates may grow, answers
    * never lose a key.
    */
  def taskLocalCut(spark: SparkSession, base: String, keys: DataFrame,
                   keyCol: String, buckets: Int): DataFrame = {
    val confBc = spark.sparkContext.broadcast(
      new graft.util.SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration))
    val keyType = keys.schema(keyCol).dataType
    val isLong = keyType == org.apache.spark.sql.types.LongType
    val keyed = keys
      .select(bucketIdCol(keyCol, buckets).as("_b"), col(keyCol))
      .filter(col(keyCol).isNotNull)
      .rdd.map(r => (r.getInt(0), r.get(1)))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = buckets
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
    val cut = keyed.mapPartitionsWithIndex { (bucket, iter) =>
      if (iter.isEmpty) Iterator.empty
      else readBucket(confBc.value.value, base, bucket) match {
        case None => iter.map(_._2) // torn bucket: keep (never lose) keys
        case Some(bloom) =>
          val hit: Any => Boolean =
            if (isLong) k => bloom.mightContainLong(k.asInstanceOf[Long])
            else k => bloom.mightContainBinary(k.asInstanceOf[Array[Byte]])
          iter.collect { case (_, k) if hit(k) => k }
      }
    }.map(org.apache.spark.sql.Row(_))
    spark.createDataFrame(cut,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(keyCol, keyType))))
  }

  // ------------------------------------------------- build / fold verbs

  /** (Re)build the sidecar from a single-key-column relation — two jobs,
    * both producer-time only: a sizing `count()` (per-bucket capacity
    * derives from it), then the per-bucket task-local fold pass (keys
    * shuffle to their table bucket — the one exchange — and each task
    * builds and writes its bucket's bloom); the driver commits renames
    * and the manifest, never holding bloom bytes.
    * The generation continues from any previous sidecar's so memoized
    * broadcasts can never validate across a rebuild.
    */
  def build(spark: SparkSession, base: String, keys: DataFrame,
            keyCol: String, buckets: Int,
            fpp: Double = DefaultFpp): Unit = {
    val n = keys.count()
    val expected = math.max(1024L, Headroom * n / buckets)
    val nextGen = readMeta(spark, base).map(_.gen).getOrElse(0L) + 1L
    delete(spark, base)
    fs(spark, dirFor(base)).mkdirs(dirFor(base)): Unit
    val written = foldPartitions(spark, base, keys, keyCol, buckets,
      expected, fpp, requireExisting = false)
    written.foreach { case (b, _) => commitBucket(spark, base, b) }
    // buckets no key routed to still need a (empty) bloom: readAll treats
    // a missing bucket file as a torn sidecar
    val covered = written.map(_._1).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    (0 until buckets).filterNot(covered).foreach { b =>
      writeBucketTmp(conf, base, b, BloomFilter.create(expected, fpp))
      commitBucket(spark, base, b)
    }
    writeManifest(spark, base, Meta(nextGen, buckets, expected, fpp, n))
  }

  /** Fold an increment's keys into the sidecar IN PLACE — the append
    * path: per-bucket task-local read-update-rewrite of ONLY the buckets
    * the increment touches (one distributed job, no driver-side bloom
    * bytes, no separate count job — the fold returns the folded key
    * count from the same pass). Returns None when no valid sidecar
    * exists (legacy store — caller leaves it legacy). An EMPTY increment
    * folds nothing, bumps nothing and keeps the sidecar intact.
    *
    * Failure contract (caller catches): a bucket file missing mid-fold
    * throws — a sidecar that may be missing increment keys would give
    * FALSE NEGATIVES, so the caller must drop it rather than risk that.
    * Crash residue between bucket renames and the manifest write is a
    * superset sidecar under the old generation: phantom candidates only.
    */
  def fold(spark: SparkSession, base: String, increment: DataFrame,
           keyCol: String): Option[Long] =
    readMeta(spark, base).map { meta =>
      val written = foldPartitions(spark, base, increment, keyCol,
        meta.buckets, meta.expected, meta.fpp, requireExisting = true)
      if (written.isEmpty) 0L
      else {
        written.foreach { case (b, _) => commitBucket(spark, base, b) }
        val added = written.map(_._2).sum
        writeManifest(spark, base,
          meta.copy(gen = meta.gen + 1L, inserted = meta.inserted + added))
        added
      }
    }

  /** The shared distributed pass: route keys to their table bucket,
    * update/create that bucket's bloom task-locally, write `.tmp` files;
    * returns (bucket, keyCount) for every bucket that received keys.
    * `requireExisting` = fold semantics (a missing bucket bloom is a
    * torn sidecar → throw); build starts fresh blooms. Key column may be
    * LONG (gram store) or BINARY (hash store) — the insert dispatches
    * once per partition, not per row.
    */
  private def foldPartitions(spark: SparkSession, base: String,
      keys: DataFrame, keyCol: String, buckets: Int, expected: Long,
      fpp: Double, requireExisting: Boolean): Array[(Int, Long)] = {
    val confBc = spark.sparkContext.broadcast(
      new graft.util.SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration))
    val projected = keys
      .select(bucketIdCol(keyCol, buckets).as("_b"), col(keyCol))
      .filter(col(keyCol).isNotNull)
    val isLong = projected.schema(keyCol).dataType ==
      org.apache.spark.sql.types.LongType
    val keyed = projected
      .rdd.map(r => (r.getInt(0), r.get(1)))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = buckets
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
    keyed.mapPartitionsWithIndex { (bucket, iter) =>
      if (iter.isEmpty) Iterator.empty
      else {
        val conf = confBc.value.value
        val bloom = readBucket(conf, base, bucket) match {
          case Some(b) => b
          case None if requireExisting => throw new IllegalStateException(
            s"KeyBloom.fold: bucket $bucket bloom missing under a valid " +
              "manifest — torn sidecar; rebuild it (compact) or drop it")
          case None => BloomFilter.create(expected, fpp)
        }
        val put: Any => Unit =
          if (isLong) k => { bloom.putLong(k.asInstanceOf[Long]): Unit }
          else k => { bloom.putBinary(k.asInstanceOf[Array[Byte]]): Unit }
        var c = 0L
        iter.foreach { case (_, k) => put(k); c += 1L }
        writeBucketTmp(conf, base, bucket, bloom)
        Iterator.single((bucket, c))
      }
    }.collect()
  }
}
