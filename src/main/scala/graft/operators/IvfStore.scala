package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF layout for approximate vector search — the third index
  * lifecycle ([[AnnStore]] = PQ codes, [[Bm25Store]] = lexical postings,
  * this = coarse-quantized VECTOR partitions): fit centroids once, lay
  * the corpus out in per-cell parquet DIRECTORIES, and answer each query
  * by reading only its probed cells — partition pruning as the ANN
  * mechanism itself. The transient x43b entry re-assigns the corpus per
  * call; the store pays assignment once and converts `nprobe/nlist` from
  * a scored-row filter into a FILES-NOT-READ ratio, which is the form
  * that matters at 100 TB (a 4/64 probe reads ~6% of the bytes).
  *
  * Layout under `path`:
  *  - `centroids` — (cell, ce ARRAY<double>) rows, nlist total (tiny;
  *    collected on open — exact double round-trip, so reopened stores
  *    probe identically).
  *  - `vectors/cell=N/…` — (vec_id, embedding) partitioned by the
  *    map-only nearest-centroid assignment ([[Similarity.assignCells]]).
  *
  * Search is bit-identical to [[Similarity.ivfTopKWithCentroids]] with
  * this store's centroids (same probe ranking, same exact cosine within
  * probed cells — the spec asserts equality). Appends: new batches
  * assign against the FROZEN centroids map-only and land in their cell
  * directories; re-create refreshes centroids when the embedding
  * distribution drifts (same rolling contract as [[AnnStore]]).
  */
object IvfStore {

  private def centroidsPath(path: String) = s"$path/centroids"
  private def vectorsPath(path: String) = s"$path/vectors"

  /** The vectors relation's pinned schema. Reads must NOT infer it: a
    * store created from an EMPTY corpus writes no part files under the
    * partitioned `vectors/` dir (Spark writes nothing for an empty
    * partitionBy write), and schema inference then throws
    * UNABLE_TO_INFER_SCHEMA on the first search/compact/rebalance —
    * the pinned schema makes the empty store answer empty instead.
    */
  private val VectorsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("cell", LongType)))
  }

  private def readVectors(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(VectorsSchema).parquet(vectorsPath(path))

  /** Fit + assign + lay out; returns the fitted centroids. */
  def create(spark: SparkSession, path: String, corpus: DataFrame,
             nlist: Int = 16, kmeansIters: Int = 2): Array[Array[Double]] =
      graft.sources.MutationGuard.withGuard(spark, path) {
    import spark.implicits._
    // store lifetime and streaming-replay-mark lifetime are tied together
    // (the StreamMark contract): a recreated store starts a fresh lineage
    graft.sources.StreamMark.clearAt(spark, path)
    val cents = Similarity.kmeansCentroids(corpus, nlist, kmeansIters)
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toSeq.toDF("cell", "ce")
      .repartition(1)
      .write.mode("overwrite").parquet(centroidsPath(path))
    // null/ragged rows dead-letter at ingest — an unguarded null NPEs
    // assignCells and a ragged row would be SERVED with silently-wrong
    // prefix distances forever after (round-15 ragged battery)
    val clean = if (cents.isEmpty) corpus
      else Similarity.dropInvalidVecs(corpus, cents(0).length, None)
    Similarity.assignCells(clean, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(vectorsPath(path))
    cents
  }

  /** The frozen centroid set (nlist rows — driver-tiny, exact doubles). */
  def centroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(centroidsPath(path))
      .select(col("cell"), col("ce")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)

  /** Assign a new batch against the frozen centroids and append its cell
    * partitions — map-only, batch-sized, no refit. The delta coalesces
    * before the partitioned write (the Bm25Store.append device: an
    * uncoalesced batch writes partitions × cells small files per append,
    * and file count is what degrades a daily-append store).
    */
  def append(spark: SparkSession, path: String, newCorpus: DataFrame,
             deltaPartitions: Int = 8): Unit =
    graft.sources.MutationGuard.withGuard(spark, path) {
      val cents = centroids(spark, path)
      val clean = if (cents.isEmpty) newCorpus
        else Similarity.dropInvalidVecs(newCorpus, cents(0).length, None)
      Similarity.assignCells(clean, cents)
        .coalesce(deltaPartitions)
        .write.mode("append").partitionBy("cell").parquet(vectorsPath(path))
    }

  /** INDEX-SIZED compaction: re-cluster the vector partitions to ~one
    * file per cell dir (daily appends accumulate a file per touched cell
    * per batch) — one index-sized exchange, no corpus access, centroids
    * untouched. Restores DISTINCT rows (the MinHashHistory.compact
    * device): a crashed-epoch streaming replay re-appends a batch
    * verbatim, and the duplicate (vec_id, embedding) rows each take a
    * top-k seat until compaction collapses them. Shares
    * [[graft.sources.SwapDir]]'s write-sibling-then-swap device (and its
    * single-mutating-writer contract) with [[Bm25Store.compact]]; on a
    * duplicate-free store search answers are bit-identical (spec-gated).
    */
  def compact(spark: SparkSession, path: String): Unit =
    graft.sources.MutationGuard.withGuard(spark, path) {
      graft.sources.SwapDir(spark, vectorsPath(path)) { tmp =>
        readVectors(spark, path)
          .dropDuplicates()
          .repartition(col("cell"))
          .write.partitionBy("cell").parquet(tmp)
      }
    }

  /** REBALANCE: retrain the coarse quantizer on the store's CURRENT
    * vectors and reassign them map-only, rewriting the cell directories —
    * the drift verb the append contract needs: appends assign against
    * FROZEN centroids, so after sustained growth into a region the
    * original fit never saw, a few cells absorb most new vectors and the
    * `nprobe/nlist` files-not-read ratio decays toward a full scan.
    * Rebalance restores balanced cells WITHOUT the source corpus: the
    * store's own vectors are the training set (bounded hash-ordered
    * sample — create()'s fitting path) and the reassignment is one
    * index-sized exchange, exactly [[compact]]'s bill (which it also
    * subsumes: the rewrite restores distinct rows and ~one file per
    * cell). `nlist` defaults to the store's current centroid count; pass
    * a larger one when the corpus outgrew it (cells should stay
    * ~targetCellSize — DEDUP_TUNING.md §5).
    *
    * Search semantics: still exact cosine within probed cells — moved
    * cell BOUNDARIES change which cells a query probes (recall profile,
    * spec-gated on a deliberately-skewed grown store), never the scores.
    * Appends after rebalance assign against the NEW centroids (they
    * re-read the centroids file). Crash residue: centroids are written
    * BEFORE the vector swap, so a crash between the two leaves new
    * centroids over old assignments — a pure recall degradation (the
    * approximate index's benign failure direction, never wrong scores)
    * plus the held [[graft.sources.MutationGuard]] lease making the
    * half-rebalance loud; rerun to finish.
    *
    * Frame lifetime: the vector swap replaces the store's files, so any
    * DataFrame a caller constructed over the store BEFORE rebalance()
    * reads dead paths afterwards (standard Spark file-index semantics —
    * the [[graft.operators.CleanedCorpus]] hazard). Re-read through
    * [[search]]/fresh `spark.read` after the verb returns.
    */
  def rebalance(spark: SparkSession, path: String, nlist: Int = 0,
                kmeansIters: Int = 2,
                sampleSize: Int = 0): Array[Array[Double]] =
    graft.sources.MutationGuard.withGuard(spark, path) {
      import spark.implicits._
      val vecs = readVectors(spark, path)
        .select(col("vec_id"), col("embedding"))
        .dropDuplicates()
      val effNlist = if (nlist > 0) nlist else centroids(spark, path).length
      // training sizing follows cellBoundedTopPairsAuto's convention:
      // 8 sample points per cell bounded at 16384 (sampleSize > 0
      // overrides), greedy seeding only at serving-index cell counts —
      // a grown store's nlist can sit far above create()'s tiny serving
      // defaults, and k-means can never mint more centroids than it has
      // training points, so a FIXED sample would silently cap the
      // retrain. lloydOverSample: a grown store makes full-corpus Lloyd
      // passes O(n·nlist·dim) per iteration; the bounded-sample fit is
      // the production form.
      val effSample =
        if (sampleSize > 0) sampleSize
        else math.min(math.max(512, 8 * effNlist), 16384)
      val cents = Similarity.kmeansCentroids(vecs, effNlist, kmeansIters,
        sampleSize = effSample, greedySeeding = effNlist <= 64,
        lloydOverSample = true)
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
        .toSeq.toDF("cell", "ce")
        .repartition(1)
        .write.mode("overwrite").parquet(centroidsPath(path))
      val clean = if (cents.isEmpty) vecs
        else Similarity.dropInvalidVecs(vecs, cents(0).length, None)
      graft.sources.SwapDir(spark, vectorsPath(path)) { tmp =>
        Similarity.assignCells(clean, cents)
          .repartition(col("cell"))
          .write.partitionBy("cell").parquet(tmp)
      }
      cents
    }

  /** Cell-occupancy skew snapshot from the DIRECTORY LISTING only — no
    * vector bytes read: per `cell=N` partition dir, the summed part-file
    * size; reported as (cells, max, mean, p99, skew = max/mean). The
    * no-cost trigger statistic for [[rebalance]]: appends assign against
    * frozen centroids, so drift piles bytes into the few cells nearest
    * the new region LONG before recall measurably decays — a skew ratio
    * drifting far above its create()-time value (a balanced fit sits
    * within small multiples of 1; DEDUP_TUNING.md §5 pins thresholds)
    * says "rebalance now", without running a recall probe. Listing cost
    * is one RPC per cell dir (nlist total), driver-side; empty store →
    * all zeros.
    */
  final case class CellSkew(cells: Long, maxBytes: Long, meanBytes: Double,
                            p99Bytes: Long) {
    def skew: Double = if (meanBytes > 0.0) maxBytes / meanBytes else 0.0
  }

  def skewStat(spark: SparkSession, path: String): CellSkew = {
    val root = new org.apache.hadoop.fs.Path(vectorsPath(path))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return CellSkew(0L, 0L, 0.0, 0L)
    val sizes = fs.listStatus(root).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .map(d => fs.listStatus(d.getPath).iterator
        .filter(_.isFile).map(_.getLen).sum)
      .toArray
      .sorted
    if (sizes.isEmpty) CellSkew(0L, 0L, 0.0, 0L)
    else CellSkew(sizes.length.toLong, sizes.last,
      sizes.sum.toDouble / sizes.length,
      sizes(math.min(sizes.length - 1, (0.99 * sizes.length).toInt)))
  }

  /** Top-k by exact cosine within each query's `nprobe` probed cells,
    * reading ONLY those cells' directories.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             k: Int, nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val cents = centroids(spark, path)
    // ragged/null queries take no seat (prefix cosine would silently lie)
    val q = if (cents.isEmpty) queries
      else queries.filter(col("qe").isNotNull &&
        size(col("qe")) === cents(0).length)
    val probes = Similarity.probeCells(q, cents, nprobe)
    val probedCells = probes.select(col("cell")).distinct().as[Long].collect()
    val vecs = readVectors(spark, path)
      .filter(col("cell").isin(probedCells.toIndexedSeq: _*))
    val scored = vecs.join(broadcast(probes), "cell")
      .withColumn("cos_sim", Similarity.cosine(col("embedding"), col("qe")))
    Similarity.rank(scored, k)
  }
}
