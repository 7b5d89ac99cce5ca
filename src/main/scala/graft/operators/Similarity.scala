package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`), three interchangeable plans:
  *
  *  - [[bruteForceTopK]] — the exact baseline: one corpus scan, query batch
  *    broadcast, per-query top-k via window rank (single query → Spark plans
  *    a TakeOrderedAndProject; no global sort either way).
  *  - [[annTopK]] — random-hyperplane LSH: 64 deterministic Gaussian planes →
  *    sign bits → banded bucket join (only same-bucket pairs are scored),
  *    exact cosine rerank of the candidates. The 100 TB path: corpus
  *    signatures are computed in the same scan, the join fans out per
  *    (band, bucket), and recall is tuned by bands x rowsPerBand.
  *  - [[ivfTopK]] — IVF coarse quantization: centroids fitted by
  *    deterministic spherical k-means ([[kmeansCentroids]]: farthest-point
  *    seeding + distributed Lloyd passes), corpus rows assigned to their
  *    nearest cell once (broadcast centroids), queries probe the `nprobe`
  *    nearest cells — a probe touches `nprobe/nlist` of the data.
  *
  * Scalar vector math (dot/cosine) runs as native codegen'd Catalyst
  * expressions over ArrayData ([[graft.functions.DotProductExpr]] /
  * [[graft.functions.CosineSimExpr]]); floats cast to double left-to-right,
  * so scores are bit-stable. No driver-side loops.
  */
object Similarity {

  /** Sum of elementwise products — a native codegen'd Catalyst expression
    * ([[graft.functions.DotProductExpr]]): reads ArrayData in place (no
    * Seq[Float] boxing like the UDF it replaces, no per-element expression
    * tree like the `zip_with`/`aggregate` form before that) and keeps the
    * scoring projection inside whole-stage codegen. Summation order is
    * unchanged, so scores stay bit-equal to the oracles.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.DotProductExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** Cosine similarity (native expression; see [[dot]]). */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.CosineSimExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** Invalid-embedding ingress: rows without a vector, or (when `dim` >
    * 0) whose vector length differs from the corpus dimension, take no
    * similarity seat (the dead-letter production posture) — dropped, and
    * COUNTED in `acc` when the caller provides one, because silent row
    * loss is indistinguishable from a clean corpus (ADVICE round-14).
    * The RAGGED case matters as much as null: every distance kernel
    * iterates min(lengths), so an undropped short vector would score a
    * silently-wrong prefix cosine (round-15 ragged battery,
    * RaggedInputSpec). Without an accumulator the filter stays plain
    * codegen'd predicates. Counts are task-attempt totals (retries can
    * overcount) — observability, not accounting.
    */
  private[graft] def dropInvalidVecs(df: DataFrame, dim: Int,
      acc: Option[org.apache.spark.util.LongAccumulator]): DataFrame =
    acc match {
      case None =>
        if (dim > 0) df.filter(col("embedding").isNotNull &&
          size(col("embedding")) === dim)
        else df.filter(col("embedding").isNotNull)
      case Some(a) =>
        val obs = udf { (v: Seq[Float]) =>
          if (v == null || (dim > 0 && v.length != dim)) {
            a.add(1L); false
          } else true
        }
        df.filter(obs(col("embedding")))
    }

  private[graft] def dropNullVecs(df: DataFrame,
      acc: Option[org.apache.spark.util.LongAccumulator]): DataFrame =
    dropInvalidVecs(df, 0, acc)

  /** [[dropInvalidVecs]] for the typed (id, label, vector) pair rows. */
  private[graft] def dropInvalidVecsT(ds: Dataset[(Long, Int, Array[Float])],
      dim: Int, acc: Option[org.apache.spark.util.LongAccumulator])
      : Dataset[(Long, Int, Array[Float])] =
    acc match {
      case None => ds.filter(r =>
        r._3 != null && (dim <= 0 || r._3.length == dim))
      case Some(a) => ds.filter { r =>
        if (r._3 == null || (dim > 0 && r._3.length != dim)) {
          a.add(1L); false
        } else true
      }
    }

  /** The corpus embedding dimension by MODAL vector length (ties → the
    * larger) — one map-combined aggregate over sizes, used by entry
    * points with no explicit dim parameter to anchor the ragged-row
    * guard. 0 on an empty/all-null corpus (guard degrades to null-drop).
    */
  private[graft] def inferDim(df: DataFrame): Int = {
    val rows = df.filter(col("embedding").isNotNull)
      .groupBy(size(col("embedding")).as("_d"))
      .agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("_d").desc)
      .limit(1).collect()
    if (rows.isEmpty) 0 else rows(0).getInt(0)
  }

  /** Deterministic Gaussian hyperplanes (fixed-seed Box–Muller via
    * scala.util.Random — same planes on every run and every executor).
    */
  def gaussianPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextGaussian())
  }

  /** One packed bucket id per band: bits are the signs of the plane dots.
    * A single UDF computes all plane projections in one pass over the
    * vector (planes ride to executors in the closure).
    */
  def bandBuckets(emb: Column, planes: Array[Array[Double]], bands: Int): Column = {
    val rows = planes.length / bands
    val f = udf((a: Seq[Float]) => {
      val v = a.toArray
      Array.tabulate(bands) { b =>
        var bucket = 0L
        var r = 0
        while (r < rows) {
          val p = planes(b * rows + r)
          var s = 0.0
          var i = 0
          val n = math.min(v.length, p.length)
          while (i < n) { s += v(i).toDouble * p(i); i += 1 }
          if (s > 0) bucket |= (1L << r)
          r += 1
        }
        bucket
      }
    })
    f(emb)
  }

  /** Exact cosine top-k of each query over the whole corpus.
    * @param corpus (vec_id, embedding, ...) — scanned once
    * @param queries (query_id, qe) — broadcast
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     dim: Int = 0,
                     droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    // null/ragged rows (and queries) take no seat: the cosine kernel
    // iterates min(lengths), so an undropped short vector would score a
    // silently-wrong prefix similarity. dim 0 anchors on the modal length.
    val effDim = if (dim > 0) dim else inferDim(corpus)
    val q = if (effDim > 0)
      queries.filter(col("qe").isNotNull && size(col("qe")) === effDim)
    else queries.filter(col("qe").isNotNull)
    val scored = dropInvalidVecs(corpus, effDim, droppedAcc)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", cosine(col("embedding"), col("qe")))
    rank(scored, k)
  }

  /** LSH-pruned cosine top-k: only candidates sharing at least one
    * (band, bucket) with the query are scored, then reranked exactly.
    */
  def annTopK(corpus0: DataFrame, queries0: DataFrame, k: Int,
              numPlanes: Int = 64, bands: Int = 16, dim: Int = 64,
              seed: Long = 42L,
              droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val planes = gaussianPlanes(numPlanes, dim, seed)
    // null/ragged rows and queries dead-letter at ingress (a short vector
    // would both bucket AND score on a silently-truncated prefix)
    val corpus = dropInvalidVecs(corpus0, dim, droppedAcc)
    val queries = queries0.filter(col("qe").isNotNull &&
      size(col("qe")) === dim)
    val c = corpus.select(col("vec_id"),
      posexplode(bandBuckets(col("embedding"), planes, bands)).as(Seq("band", "bucket")))
    val q = queries.select(col("query_id"),
      posexplode(bandBuckets(col("qe"), planes, bands)).as(Seq("band", "bucket")))
    val cands = c.join(broadcast(q), Seq("band", "bucket"))
      .select("query_id", "vec_id").distinct()
    val scored = cands
      .join(corpus, "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cos_sim", cosine(col("embedding"), col("qe")))
    rank(scored, k)
  }

  /** Deterministic spherical k-means centroids for IVF:
    * farthest-point (k-means++-style, greedy max-min) seeding over a bounded
    * hash-ordered sample, then `iters` Lloyd passes computed DISTRIBUTED — one
    * corpus scan per pass accumulating per-partition (sum, count) arrays,
    * merged on the driver in partition order so float summation is
    * reproducible. Driver traffic is O(numPartitions * nlist * dim), never
    * O(rows): the shape that holds at 100 TB.
    */
  def kmeansCentroids(corpus: DataFrame, nlist: Int, iters: Int = 2,
                      sampleSize: Int = 256,
                      greedySeeding: Boolean = true,
                      lloydOverSample: Boolean = false,
                      dim: Int = 0): Array[Array[Double]] = {
    // null rows NPE the Lloyd scan and ragged rows corrupt the partial
    // sums — both dead-letter at ingress; dim 0 anchors on the corpus's
    // modal vector length (round-15 ragged battery)
    val effDim = if (dim > 0) dim else inferDim(corpus)
    val clean = dropInvalidVecs(corpus, effDim, None)
    def unit(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) v else v.map(_ / n)
    }
    // deterministic hash-ordered sample: unbiased even when low vec_ids
    // correlate with ingest order/content (a lowest-id sample would then
    // seed all centroids in one corner of the space); same cost, same
    // reproducibility (xxhash64 is stable across runs/cluster sizes).
    val order = Seq(xxhash64(col("vec_id")).asc, col("vec_id").asc)
    // `lloydOverSample` bounds the Lloyd passes to this same hash-ordered
    // sample instead of the full corpus: a full-corpus pass is
    // O(n·nlist·dim) per iteration, which turns QUADRATIC when the caller
    // derives nlist ∝ n (the cell-bounded auto form) — training on the
    // bounded sample (FAISS-style) keeps index fitting O(sample·nlist·dim)
    // while the recall gates (SimilaritySpec, ScaleProbe) hold the
    // quality bar. Default false: the serving IVF (x43b) trains tiny
    // nlists where the exact full-corpus pass is cheap and its recall
    // numbers are pinned.
    val sampleDf = clean
      .orderBy(order: _*).limit(sampleSize).select("embedding")
    if (lloydOverSample) sampleDf.persist()
    val sample: Array[Array[Double]] = sampleDf.collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    if (sample.isEmpty) {
      if (lloydOverSample) sampleDf.unpersist(false)
      return Array.empty // empty corpus -> no cells, empty result downstream
    }
    val normed = sample.map(unit)
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    // greedy max-min-distance seeding, ties to the lowest sample index.
    // O(sample·nlist²) driver flops — right for the serving-index nlists
    // (≤ ~64); for large nlist (the cell-bounded pair search derives
    // hundreds of cells) greedySeeding=false seeds from the hash-ordered
    // sample directly (already a uniform spread; the Lloyd passes do the
    // balancing) at O(nlist) cost.
    var cents =
      if (!greedySeeding) normed.take(math.min(nlist, normed.length))
      else {
        val seedIdx = scala.collection.mutable.ArrayBuffer(0)
        while (seedIdx.length < math.min(nlist, normed.length)) {
          var best = -1; var bestD = -1.0
          var i = 0
          while (i < normed.length) {
            if (!seedIdx.contains(i)) {
              val minD = seedIdx.map(s => 1.0 - dotd(normed(i), normed(s))).min
              if (minD > bestD) { bestD = minD; best = i }
            }
            i += 1
          }
          seedIdx += best
        }
        seedIdx.map(normed).toArray
      }

    val lloydScan = if (lloydOverSample) sampleDf else clean.select("embedding")
    for (_ <- 0 until iters) {
      val bc = corpus.sparkSession.sparkContext.broadcast(cents)
      val parts = lloydScan.rdd.mapPartitionsWithIndex { (pid, it) =>
        val cs = bc.value
        val dim = cs(0).length
        val sums = Array.fill(cs.length)(new Array[Double](dim))
        val counts = new Array[Long](cs.length)
        it.foreach { row =>
          val e = row.getSeq[Float](0)
          // centroids are unit vectors, so cosine argmax == dot argmax
          var best = 0; var bestS = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            var s = 0.0; var i = 0
            val n = math.min(e.length, cs(c).length)
            while (i < n) { s += e(i).toDouble * cs(c)(i); i += 1 }
            if (s > bestS) { bestS = s; best = c }
            c += 1
          }
          val acc = sums(best)
          var i = 0
          val n = math.min(e.length, acc.length)
          while (i < n) { acc(i) += e(i).toDouble; i += 1 }
          counts(best) += 1
        }
        Iterator((pid, sums, counts))
      }.collect().sortBy(_._1)
      val dim = cents(0).length
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      parts.foreach { case (_, ps, pc) =>
        var c = 0
        while (c < cents.length) {
          var i = 0
          while (i < dim) { sums(c)(i) += ps(c)(i); i += 1 }
          counts(c) += pc(c)
          c += 1
        }
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0L) cents(c) // empty cell keeps its seed
        else unit(sums(c))
      }.toArray
    }
    if (lloydOverSample) sampleDf.unpersist(false)
    cents
  }

  /** Driver-local spherical k-means over a SMALL point set (the fine
    * centroids themselves) — the coarse quantizer for two-level cell
    * assignment. Deterministic: spread seeding over the input order, dot
    * argmax with lower-index ties, fixed iteration count. O(points·g·dim·
    * iters) driver flops — for the cell counts the auto form derives
    * (nlist up to ~10⁵) this is milliseconds; a corpus whose nlist outgrows
    * it needs a recursively-trained coarse level (documented in
    * DEDUP_TUNING §5).
    */
  private[operators] def localCoarseGroups(cents: Array[Array[Double]], g: Int,
                                           iters: Int = 3)
      : (Array[Array[Double]], Array[Array[Int]]) = {
    val n = cents.length
    val gg = math.max(1, math.min(g, n))
    def unit(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val nn = math.sqrt(s)
      if (nn == 0.0) v else v.map(_ / nn)
    }
    var coarse = Array.tabulate(gg)(i => cents((i.toLong * n / gg).toInt))
    val assign = new Array[Int](n)
    for (_ <- 0 until iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bestS = Double.NegativeInfinity
        var c = 0
        while (c < gg) {
          var s = 0.0; var d = 0
          val m = math.min(cents(i).length, coarse(c).length)
          while (d < m) { s += cents(i)(d) * coarse(c)(d); d += 1 }
          if (s > bestS) { bestS = s; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val dim = cents(0).length
      val sums = Array.fill(gg)(new Array[Double](dim))
      val counts = new Array[Int](gg)
      var j = 0
      while (j < n) {
        val acc = sums(assign(j))
        var d = 0
        while (d < dim) { acc(d) += cents(j)(d); d += 1 }
        counts(assign(j)) += 1
        j += 1
      }
      coarse = coarse.indices.map(c =>
        if (counts(c) == 0) coarse(c) else unit(sums(c))).toArray
    }
    val members = Array.fill(gg)(new scala.collection.mutable.ArrayBuffer[Int]())
    var i = 0
    while (i < n) { members(assign(i)) += i; i += 1 }
    (coarse, members.map(_.toArray))
  }

  /** IVF coarse-quantized top-k. Corpus is assigned to nearest-centroid
    * cells once; each query probes its `nprobe` nearest cells. Centroids
    * come from [[kmeansCentroids]] (deterministic spherical k-means).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 2): DataFrame =
    ivfTopKWithCentroids(corpus, queries, k,
      kmeansCentroids(corpus, nlist, kmeansIters), nprobe)

  /** [[ivfTopK]] with a precomputed/offline-fit centroid set. */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame, k: Int,
                           cents: Array[Array[Double]],
                           nprobe: Int = 4,
                           droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    if (cents.isEmpty) return bruteForceTopK(corpus, queries, k) // empty corpus
    // null/ragged rows can't be assigned a cell (or scored) — drop at
    // ingress, mirroring the quantizer-training guard; the centroid
    // length IS the corpus dim
    val assigned = assignCells(
      dropInvalidVecs(corpus, cents(0).length, droppedAcc), cents)
    val probes = probeCells(queries.filter(col("qe").isNotNull &&
      size(col("qe")) === cents(0).length), cents, nprobe)
    val scored = assigned.join(broadcast(probes), "cell")
      .withColumn("cos_sim", cosine(col("embedding"), col("qe")))
    rank(scored, k)
  }

  /** MAP-ONLY nearest-centroid assignment: the k×d centroids ride to
    * executors in a broadcast and a kernel argmaxes the dot per row — no
    * corpus×nlist row blowup, no window shuffle of it (the
    * crossJoin+row_number form shuffled n·nlist scored rows just to keep
    * n). Centroids are unit vectors, so dot argmax == cosine argmax;
    * first-wins on ties == the window's (sim desc, cell asc) order. Same
    * loop as the Lloyd pass, so serving assignment is identical to the
    * fit's final assignment. Output: (vec_id, embedding, cell). Shared by
    * the transient IVF search and [[IvfStore]]'s persisted layout.
    */
  def assignCells(corpus: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val spark = corpus.sparkSession
    val bcC = spark.sparkContext.broadcast(cents)
    val assignU = udf((e: Seq[Float]) => {
      val cs = bcC.value
      var best = 0
      var bestS = Double.NegativeInfinity
      var c = 0
      while (c < cs.length) {
        var s = 0.0
        var i = 0
        val n = math.min(e.length, cs(c).length)
        while (i < n) { s += e(i).toDouble * cs(c)(i); i += 1 }
        if (s > bestS) { bestS = s; best = c }
        c += 1
      }
      best.toLong
    })
    corpus.select(col("vec_id"), col("embedding"),
      assignU(col("embedding")).as("cell"))
  }

  /** Each query's `nprobe` nearest cells — the tiny side (nq×nlist rows,
    * broadcast onward). Output: (query_id, qe, cell).
    */
  def probeCells(queries: DataFrame, cents: Array[Array[Double]],
                 nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centroids = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat).toSeq) }
      .toSeq.toDF("cell", "ce")
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("c_sim").desc, col("cell").asc)
    queries.crossJoin(broadcast(centroids))
      .withColumn("c_sim", cosine(col("qe"), col("ce")))
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("cell"))
  }

  /** Exact top-k most-similar pairs WITHIN one bucket (e.g. a label group),
    * as a tight-loop kernel over the bucket's vectors: all O(n²) cosine
    * scores are computed in primitive arrays, but only a k-element heap is
    * ever materialized — no pair rows, no broadcast, no per-pair UDF boxing.
    *
    * Scores are rounded HALF_UP to 4dp BEFORE the cut and ranked by
    * (cos desc, id_a asc, id_b asc) — the same total order as the SQL
    * oracle's ORDER BY ... LIMIT, so the selected set is deterministic.
    *
    * Why not an LSH pre-filter here: exact top-k pairs over near-isotropic
    * embeddings (this corpus: max pairwise cosine ≈ 0.47 vs a random
    * baseline per-hyperplane collision rate of 0.5) is information-
    * theoretically outside LSH's regime — amplifying the 0.65-vs-0.50
    * per-bit gap to a useful candidate filter needs ~30-bit bands and
    * millions of them. LSH/IVF remain the *approximate* paths ([[annTopK]],
    * [[ivfTopK]]); the exact path is this blocked kernel, which at 100 TB
    * becomes per-bucket sub-blocks (chunk-pair tasks) with the identical
    * inner loop and heap.
    */
  // worst-first heap order shared by the pair kernels: the head is the entry
  // to evict (smallest rounded score, then largest id_a, then largest id_b)
  private val worstFirst = new Ordering[(Double, Long, Long)] {
    def compare(x: (Double, Long, Long), y: (Double, Long, Long)): Int = {
      val c = java.lang.Double.compare(y._1, x._1)
      if (c != 0) c
      else {
        val a = java.lang.Long.compare(x._2, y._2)
        if (a != 0) a else java.lang.Long.compare(x._3, y._3)
      }
    }
  }

  private def vecNorms(vs: Array[(Long, Array[Float])]): Array[Double] = {
    val norms = new Array[Double](vs.length)
    var i = 0
    while (i < vs.length) {
      val v = vs(i)._2
      var s = 0.0
      var t = 0
      while (t < v.length) { val x = v(t).toDouble; s += x * x; t += 1 }
      norms(i) = math.sqrt(s)
      i += 1
    }
    norms
  }

  def topPairsInBucket(vecs: Array[(Long, Array[Float])], k: Int): Iterator[(Long, Long, Double)] = {
    val vs = vecs.sortBy(_._1)
    val n = vs.length
    val norms = vecNorms(vs)
    val heap = new scala.collection.mutable.PriorityQueue[(Double, Long, Long)]()(worstFirst)
    var i = 0
    while (i < n) {
      val a = vs(i)._2
      var j = i + 1
      while (j < n) {
        val b = vs(j)._2
        val nn = norms(i) * norms(j)
        if (nn > 0.0) { // zero-norm vectors have no cosine; a NaN score would outrank every real pair
          var d = 0.0
          var t = 0
          val m = math.min(a.length, b.length)
          while (t < m) { d += a(t).toDouble * b(t).toDouble; t += 1 }
          val cos = Kernels.roundHalfUp(d / nn, 4)
          val cand = (cos, vs(i)._1, vs(j)._1)
          if (heap.size < k) heap.enqueue(cand)
          else if (worstFirst.compare(cand, heap.head) < 0) { // cand beats current worst
            heap.dequeue(); heap.enqueue(cand)
          }
        }
        j += 1
      }
      i += 1
    }
    heap.iterator.map { case (cos, ida, idb) => (ida, idb, cos) }
  }

  /** Exact top-k most-similar pairs ACROSS two disjoint chunks of one bucket
    * — the off-diagonal task of the sub-blocked all-pairs plan. Identical
    * inner loop, rounding, and heap order as [[topPairsInBucket]]; every
    * emitted pair is ordered (min id, max id), so the union of all chunk-pair
    * tasks of a bucket enumerates each unordered pair exactly once.
    */
  def topPairsCross(as: Array[(Long, Array[Float])], bs: Array[(Long, Array[Float])],
                    k: Int): Iterator[(Long, Long, Double)] = {
    val na = vecNorms(as)
    val nb = vecNorms(bs)
    val heap = new scala.collection.mutable.PriorityQueue[(Double, Long, Long)]()(worstFirst)
    var i = 0
    while (i < as.length) {
      val a = as(i)._2
      var j = 0
      while (j < bs.length) {
        val b = bs(j)._2
        val nn = na(i) * nb(j)
        if (nn > 0.0) {
          var d = 0.0
          var t = 0
          val m = math.min(a.length, b.length)
          while (t < m) { d += a(t).toDouble * b(t).toDouble; t += 1 }
          val cos = Kernels.roundHalfUp(d / nn, 4)
          val ida = math.min(as(i)._1, bs(j)._1)
          val idb = math.max(as(i)._1, bs(j)._1)
          val cand = (cos, ida, idb)
          if (heap.size < k) heap.enqueue(cand)
          else if (worstFirst.compare(cand, heap.head) < 0) {
            heap.dequeue(); heap.enqueue(cand)
          }
        }
        j += 1
      }
      i += 1
    }
    heap.iterator.map { case (cos, ida, idb) => (ida, idb, cos) }
  }

  /** Per-label chunk size: at least `targetChunk`, but grows as ceil(√n) for
    * big labels. A row is replicated to C = ceil(n / chunk) chunk-pair tasks,
    * so a fixed chunk size makes shuffle replication LINEAR in label size
    * (n = 10⁷ at chunk 256 → each row shuffled ~39 000×, ≈ 4×10¹¹ rows on the
    * wire); √n-scaled chunks keep C ≈ √n — replication sublinear, tasks still
    * bounded (a task holds ≤ 2·chunk rows and does chunk² ≈ n multiply-adds).
    */
  private[graft] def chunkSize(n: Long, targetChunk: Int): Int =
    math.max(targetChunk, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Replicate each (id, label, vec) row to every chunk-pair task of its
    * label bucket. A label with n rows is hash-split into
    * C = ceil(n / chunkSize(n)) chunks; task key (label, lo, hi) receives the
    * rows of chunks lo and hi (the boolean marks the lo side). Each unordered
    * pair of rows lands in EXACTLY one task, so downstream kernels enumerate
    * all pairs once. Per-label counts are a map-side-combined agg with
    * O(#labels) driver traffic.
    */
  private[graft] def chunkPairTasks(emb: Dataset[(Long, Int, Array[Float])],
                                    targetChunk: Int)
      : Dataset[((Int, Int, Int), (Long, Boolean, Array[Float]))] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val chunks: Map[Int, Int] = emb.groupByKey(_._2).count().collect()
      .map { case (l, n) =>
        val t = chunkSize(n, targetChunk)
        l -> math.max(1, ((n + t - 1) / t).toInt)
      }
      .toMap
    val bc = spark.sparkContext.broadcast(chunks)
    emb.flatMap { case (id, label, v) =>
      val c = bc.value.getOrElse(label, 1)
      val mine = (java.lang.Long.hashCode(id) & Int.MaxValue) % c
      (0 until c).iterator.map { other =>
        val lo = math.min(mine, other)
        val hi = math.max(mine, other)
        ((label, lo, hi), (id, mine == lo, v))
      }
    }
  }

  /** Exact top-k most-similar pairs within each label bucket, sub-blocked:
    * instead of one O(n²) task per label ([[topPairsInBucket]] alone), each
    * label is split into C = ceil(n / chunkSize(n)) hash-chunks — chunk size
    * auto-scales as max(targetChunk, ceil(√n)) — and every (chunk_i <=
    * chunk_j) pair becomes its own task running the identical inner loop +
    * k-element heap. One hot label with 10⁷ rows fans out to bounded ~n/2
    * tasks with ~√n-fold shuffle replication, instead of serializing 10¹⁴
    * multiply-adds into a single straggler (or, with a fixed chunk knob,
    * shuffling n²/chunk rows). Per-task top-k keeps every globally-top-k
    * pair (a task's local cut can only drop pairs that are beaten k times
    * within that task), so the tiny global merge — the caller's
    * ORDER BY/LIMIT — is exact.
    *
    * Output: (id_a, id_b, label, cos_sim) with cos rounded HALF_UP to 4dp
    * BEFORE the cut and ties broken (cos desc, id_a asc, id_b asc), same as
    * the SQL oracle.
    */
  def topPairsByLabel(emb0: Dataset[(Long, Int, Array[Float])], k: Int,
                      targetChunk: Int = 2048,
                      droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None,
                      dim: Int = 0): DataFrame = {
    val spark = emb0.sparkSession
    import spark.implicits._
    // null/ragged vectors: no similarity seat (dim 0 = modal length)
    val effDim = if (dim > 0) dim
      else inferDim(emb0.toDF("vec_id", "label", "embedding"))
    val emb = dropInvalidVecsT(emb0, effDim, droppedAcc)
    chunkPairTasks(emb, targetChunk)
      .groupByKey(_._1)
      .flatMapGroups { (key: (Int, Int, Int), it: Iterator[((Int, Int, Int), (Long, Boolean, Array[Float]))]) =>
        val (label, lo, hi) = key
        val rows = it.map(_._2).toArray
        val pairs =
          if (lo == hi) topPairsInBucket(rows.map(r => (r._1, r._3)), k)
          else topPairsCross(
            rows.filter(_._2).map(r => (r._1, r._3)),
            rows.filter(!_._2).map(r => (r._1, r._3)), k)
        pairs.map { case (ida, idb, cos) => (ida, idb, label, cos) }
      }
      .toDF("id_a", "id_b", "label", "cos_sim")
  }

  /** SemDeDup-style CELL-BOUNDED near-dup pair search — the linear-scale
    * path for the embedding pair PRODUCER, the way [[annTopK]]/[[ivfTopK]]
    * are the scale paths for the query side. [[topPairsByLabel]] is exact
    * but O(n²) per label: at 100 TB the per-label quadratic dominates even
    * chunked. This variant first assigns every vector to its `probes`
    * nearest k-means cells (map-only: the k×d centroid matrix broadcasts,
    * a kernel argmaxes dots per row — the identical assignment loop as
    * [[ivfTopKWithCentroids]]) and then runs the SAME chunked blocked
    * search within each (label, cell): quadratic work drops from
    * Σ n_label² to Σ n_(label,cell)² ≈ n²·probes²/nlist — choose
    * nlist ∝ n/targetCellSize and total work is n·probes²·targetCellSize,
    * LINEAR in the corpus. The price is approximation: a true pair split
    * across cells with no shared probe is missed (multi-probe assignment
    * is the recall device — a near-dup pair's two vectors rank the same
    * cells near-identically, so sharing one of their top-`probes` cells is
    * the common case; SimilaritySpec gates the measured recall vs the
    * exact x42 answer).
    *
    * Mechanics: each vector is replicated to its `probes` cells under a
    * synthetic bucket id `label·nlist + cell`, [[topPairsByLabel]] runs
    * unchanged over the synthetic buckets (per-task primitive-array loop +
    * k-heap, chunk fan-out for hot cells), the original label is restored
    * arithmetically, and `distinct` collapses the identical rows a pair
    * co-resident in two shared cells produces (kernel scores are
    * deterministic, so duplicates are bit-equal).
    */
  def cellBoundedTopPairs(emb0: Dataset[(Long, Int, Array[Float])], k: Int,
                          cents: Array[Array[Double]], probes: Int = 2,
                          targetChunk: Int = 256,
                          coarseProbes: Int = 8,
                          twoLevelThreshold: Int = 512,
                          droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = emb0.sparkSession
    import spark.implicits._
    // null/ragged vectors: no similarity seat (centroid length = dim)
    val emb =
      if (cents.isEmpty) dropInvalidVecsT(emb0, 0, droppedAcc)
      else dropInvalidVecsT(emb0, cents(0).length, droppedAcc)
    if (cents.isEmpty) return topPairsByLabel(emb, k, targetChunk)
    val nlist = cents.length
    val p = math.min(math.max(probes, 1), nlist)
    val bcC = spark.sparkContext.broadcast(cents)
    // Two-level assignment above the threshold: scoring ALL nlist cells per
    // row is O(nlist·dim) per vector — with nlist ∝ n (the auto form) that
    // is the hidden quadratic of the whole pipeline. A coarse quantizer of
    // g = ceil(√nlist) groups (trained driver-locally over the centroids)
    // cuts per-row work to O((g + coarseProbes·nlist/g)·dim) ≈ O(√nlist·dim):
    // score g coarse groups, keep the best `coarseProbes`, score only their
    // member cells. Exactly like IVF's own coarse/fine split; a true
    // nearest cell in an unprobed group is the new miss mode, which the
    // SimilaritySpec/ScaleProbe recall gates measure (identical vectors
    // still assign identically, so exact-dup recall is unaffected).
    // Below the threshold (every registry config) the scan stays exact.
    val coarseOpt: Option[(Array[Array[Double]], Array[Array[Int]])] =
      if (nlist >= twoLevelThreshold)
        Some(localCoarseGroups(cents, math.ceil(math.sqrt(nlist.toDouble)).toInt))
      else None
    val bcCoarse = spark.sparkContext.broadcast(coarseOpt)
    val cp = math.max(coarseProbes, 1)
    val cellLabeled: Dataset[(Long, Int, Array[Float])] =
      emb.flatMap { case (id, label, v) =>
        val cs = bcC.value
        def dotWith(c: Array[Double]): Double = {
          var s = 0.0; var i = 0
          val n = math.min(v.length, c.length)
          while (i < n) { s += v(i).toDouble * c(i); i += 1 }
          s
        }
        val candidates: Array[Int] = bcCoarse.value match {
          case None => Array.range(0, cs.length)
          case Some((coarse, members)) =>
            val gScores = Array.tabulate(coarse.length)(g => dotWith(coarse(g)))
            gScores.zipWithIndex.sortBy { case (s, i) => (-s, i) }
              .take(math.min(cp, coarse.length))
              .flatMap { case (_, g) => members(g) }
        }
        // top-p cells by dot (unit centroids: dot argmax == cosine argmax),
        // ties to the lower cell id — same order as the IVF probe window
        val top = candidates.map(c => (dotWith(cs(c)), c))
          .sortBy { case (s, i) => (-s, i) }
          .take(p).map(_._2)
        top.iterator.map(cell => (id, label * nlist + cell, v))
      }
    topPairsByLabel(cellLabeled, k, targetChunk)
      .select(col("id_a"), col("id_b"),
        floor(col("label") / nlist).cast(IntegerType).as("label"),
        col("cos_sim"))
      .distinct()
  }

  /** [[cellBoundedTopPairs]] with the cell count DERIVED from a target
    * cell SIZE — the production form: nlist = max(8, ceil(n /
    * targetCellSize)), so per-cell quadratic work stays bounded at
    * probes²·targetCellSize dot products per vector NO MATTER the corpus
    * size — the pair search is linear in n by construction (the fixed-
    * nlist form only divides the quadratic by nlist). The centroid sample
    * grows with nlist (8·nlist, floored at 512, capped at 16384) so cells
    * stay trainable, Lloyd runs over that bounded sample (not the corpus —
    * a full-corpus pass is O(n·nlist·dim), quadratic once nlist ∝ n), and
    * above [[cellBoundedTopPairs]]' two-level threshold the per-row
    * assignment scores O(√nlist) cells via a coarse quantizer instead of
    * all nlist — so BOTH index fitting and assignment stay linear in n.
    * The k×d broadcast and the one count+sample driver pull are the only
    * non-distributed pieces, both O(nlist·dim).
    *
    * Recall honesty (measured, DEDUP_TUNING.md §5; the CellPairTune tool
    * behind that table is retired, runnable at `7779ac1` — BASELINE.md
    * "Retired tools"): bounded work
    * buys recall only when near-dup pairs are much closer than background
    * pairs — the SemDeDup regime (real embedding corpora: dup pairs at
    * cos ≥ ~0.95 land in one cell at any nlist). On the synthetic
    * NEAR-ISOTROPIC test corpus the global top-20 pairs sit at cos ≈ 0.45,
    * barely above background, and fine cells split them: recall@20 falls
    * to 0.25–0.65 at 50k vectors with derived nlist ≈ 200–800, while the
    * fixed nlist=8/probes=3 demo config holds 0.95–1.0. Pick
    * targetCellSize from the corpus' dup-margin, not a universal default,
    * and gate recall on a held-out pair sample when deploying.
    *
    * In the regime this form is FOR — a real dup margin
    * (BASELINE.md round-9 linear-regime panel, retired CellLinearProbe
    * at `7779ac1`: planted pairs at
    * cos ≈ 0.995 over isotropic background) — the linear claim is
    * measured: at 30× (94.5k vectors, derived nlist 739) the auto form's
    * wall ratio is 6.5 vs the exact search's 19.3. Even there, cell-split
    * misses are real at derived cell counts: probes=3 measured recall@20
    * 0.85 at 30×, probes=4 restored ≥ 0.95 at every scale — hence the
    * default of 4. The extra probe costs probes²·targetCellSize flops
    * (16/9 over probes=3, still linear); at derived nlist in the hundreds
    * that insurance is orders of magnitude below the cell dividend.
    */
  def cellBoundedTopPairsAuto(emb0: Dataset[(Long, Int, Array[Float])], k: Int,
                              targetCellSize: Int = 128, probes: Int = 4,
                              kmeansIters: Int = 3,
                              targetChunk: Int = 256,
                              droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    require(targetCellSize >= 1, s"targetCellSize must be >= 1")
    // null/ragged vectors: no similarity seat (modal-length anchor)
    val effDim = inferDim(emb0.toDF("vec_id", "label", "embedding"))
    val emb = dropInvalidVecsT(emb0, effDim, droppedAcc)
    val n = emb.count()
    val nlist = math.max(8L, (n + targetCellSize - 1) / targetCellSize).toInt
    // 8 training points per derived cell (FAISS-order density), bounded:
    // the Lloyd passes run over THIS sample (lloydOverSample below), so
    // index fitting is O(sample·nlist·dim) instead of O(n·nlist·dim) —
    // the latter is quadratic-in-n once nlist ∝ n
    val sample = math.min(math.max(512, 8 * nlist), 16384)
    val cents = kmeansCentroids(
      emb.toDF("vec_id", "label", "embedding").select("vec_id", "embedding"),
      nlist, iters = kmeansIters, sampleSize = sample,
      // greedy seeding is O(sample·nlist²) on the driver — fine for
      // serving-index cell counts, quadratic waste for the hundreds of
      // cells this form derives; the hash-ordered sample is already a
      // uniform spread and Lloyd re-balances
      greedySeeding = nlist <= 64,
      lloydOverSample = nlist > 64,
      dim = effDim)
    cellBoundedTopPairs(emb, k, cents, probes, targetChunk)
  }

  /** Per-query top-k on (rounded) score with vec_id tie-break; excludes the
    * query vector itself when ids collide.
    *
    * Two phases: a partition-local bounded-heap pass first reduces each
    * input partition to at most |queries|·k survivor rows (a global top-k
    * row is top-k within its partition, so no true neighbor can be lost),
    * THEN the row_number window ranks the tiny survivor set. Without the
    * local pass, the window shuffles every scored row (corpus × queries for
    * the brute-force path) into just |queries| tasks — the straggler shape
    * at 100 TB. Heap order matches the window exactly: unrounded score
    * desc, then vec_id asc (Double.compare ranks NaN above all reals, same
    * as Spark's descending sort).
    *
    * Memory guard for huge query batches: the per-partition heap map holds
    * O(min(|queries|, flushQueries)·k) entries — whenever the map reaches
    * `flushQueries` distinct queries it is FLUSHED (current heap contents
    * emitted as survivors, map cleared) instead of growing unbounded.
    * Correctness is unchanged: a row dropped by a segment's heap was beaten
    * by k rows of the same query WITHIN that segment, so every global
    * top-k row still survives to the window; the window just ranks at most
    * (#flushes)·k rows per query instead of exactly k.
    */
  private[graft] def rank(scored: DataFrame, k: Int,
                          flushQueries: Int = 1 << 16): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val slim = scored
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id").cast(LongType), col("vec_id").cast(LongType),
        col("cos_sim").cast(DoubleType))
      .as[(Long, Long, Double)]
    val survivors = slim.mapPartitions { it =>
      // worst-first heap per query: head is the entry to evict
      // (smallest score, then largest vec_id)
      val worst = new Ordering[(Double, Long)] {
        def compare(x: (Double, Long), y: (Double, Long)): Int = {
          val c = java.lang.Double.compare(y._1, x._1)
          if (c != 0) c else java.lang.Long.compare(x._2, y._2)
        }
      }
      val bound = math.max(flushQueries, 1)
      val heaps = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      val in = it.buffered
      // segmented consumption: each segment holds at most `bound` distinct
      // queries' heaps, then streams them out before the next segment —
      // live memory never exceeds bound·k entries regardless of batch size
      new Iterator[(Long, Long, Double)] {
        private var cur: Iterator[(Long, Long, Double)] = Iterator.empty
        private def advance(): Boolean = {
          while (!cur.hasNext && in.hasNext) {
            heaps.clear()
            while (in.hasNext &&
              (heaps.size < bound || heaps.contains(in.head._1))) {
              val (q, v, s) = in.next()
              val h = heaps.getOrElseUpdate(q,
                new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worst))
              val cand = (s, v)
              if (h.size < k) h.enqueue(cand)
              else if (worst.compare(cand, h.head) < 0) {
                h.dequeue(); h.enqueue(cand)
              }
            }
            cur = heaps.toArray.iterator.flatMap { case (q, h) =>
              h.iterator.map { case (s, v) => (q, v, s) }
            }
          }
          cur.hasNext
        }
        def hasNext: Boolean = advance()
        def next(): (Long, Long, Double) = {
          if (!advance()) throw new NoSuchElementException("empty partition")
          cur.next()
        }
      }
    }.toDF("query_id", "vec_id", "cos_sim")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    survivors
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"),
        round(col("cos_sim"), 4).as("cos_sim"), col("rnk"))
  }
}
