package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Tables

class SimilaritySpec extends SparkSpec {

  private def queriesDf(ids: Seq[Long]): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, Sf)
    val q = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    (emb, q)
  }

  private def neighborSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rows) =>
        q -> rows.map(_.getLong(1)).toSet
      }

  test("brute force returns exactly k ranked neighbors per query") {
    val (emb, q) = queriesDf(Seq(1L, 7L, 99L))
    val res = Similarity.bruteForceTopK(emb, q, k = 10)
    val counts = res.groupBy("query_id").count().collect()
    assert(counts.length == 3 && counts.forall(_.getLong(1) == 10))
    // ranks are 1..10 with strictly the top scores first
    val r1 = res.filter(col("query_id") === 1).orderBy("rnk")
      .select("cos_sim").collect().map(_.getDouble(0))
    assert(r1.toSeq == r1.sortBy(-_).toSeq)
  }

  test("two-phase top-k rank equals a naive driver-side model") {
    import spark.implicits._
    val (emb, q) = queriesDf(Seq(1L, 7L))
    val got = Similarity.bruteForceTopK(emb, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val all = emb.select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
      .as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = all.toMap
    val expected = Seq(1L, 7L).flatMap { qid =>
      all.filter(_._1 != qid)
        .map { case (v, e) => (v, cos(byId(qid), e)) }
        .sortBy { case (v, s) => (-s, v) }
        .take(5).zipWithIndex
        .map { case ((v, s), i) =>
          (qid, v, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, i + 1)
        }
    }.toSet
    assert(got == expected, s"got=$got\nexpected=$expected")
  }

  test("rank memory guard: a tiny flush bound on a huge query batch is exact") {
    import spark.implicits._
    // 500 queries × 80 candidates in ONE partition: with flushQueries = 4
    // the heap map is flushed ~125 times; the result must still equal the
    // unguarded (effectively unbounded) pass row for row
    val rnd = new scala.util.Random(3)
    val scored = (for {
      q <- 1L to 500L
      v <- 1001L to 1080L
    } yield (q, v, rnd.nextDouble())).toSeq
      .toDF("query_id", "vec_id", "cos_sim")
      .coalesce(1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val guarded = rows(Similarity.rank(scored, k = 7, flushQueries = 4))
    val unguarded = rows(Similarity.rank(scored, k = 7))
    assert(guarded == unguarded)
    assert(guarded.groupBy(_._1).forall(_._2.size == 7))
  }

  test("LSH ANN reaches recall@10 >= 0.8 vs exact on sf0.001") {
    val (emb, q) = queriesDf(Seq(1L, 7L, 99L))
    val exact = neighborSets(Similarity.bruteForceTopK(emb, q, k = 10))
    val ann = neighborSets(Similarity.annTopK(emb, q, k = 10))
    val recalls = exact.map { case (qid, ex) =>
      ann.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    assert(recalls.sum / recalls.size >= 0.8,
      s"mean recall ${recalls.sum / recalls.size} < 0.8 ($recalls)")
  }

  // Recall ceilings here are set by the corpus, not the index: the synthetic
  // embeddings are near-isotropic (max pairwise cosine ~= 0.47), so "true"
  // neighbors are barely closer than random points and scatter across cells.
  // The gates below are what the deterministic k-means pipeline measures on
  // this corpus (exactly reproducible), with the comparative gate proving the
  // fitted centroids beat unfitted seeding.
  private val ivfQids = Seq(1L, 7L, 99L, 150L, 230L, 301L, 404L, 480L)

  private def meanRecall(exact: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double = {
    val rs = exact.map { case (qid, ex) =>
      got.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    rs.sum / rs.size
  }

  // Pinned to what the unbiased (hash-ordered-sample) seeding measures on
  // this corpus — exactly reproducible; the structural seeding property is
  // the biased-id fixture gate below (>=0.9), where cluster geometry, not
  // corpus noise, decides the outcome.
  test("IVF ANN recall@10 with k-means centroids: >=0.46 at nprobe=4, >=0.71 at nprobe=8") {
    val (emb, q) = queriesDf(ivfQids)
    val exact = neighborSets(Similarity.bruteForceTopK(emb, q, k = 10))
    val r4 = meanRecall(exact,
      neighborSets(Similarity.ivfTopK(emb, q, k = 10, nlist = 16, nprobe = 4)))
    val r8 = meanRecall(exact,
      neighborSets(Similarity.ivfTopK(emb, q, k = 10, nlist = 16, nprobe = 8)))
    assert(r4 >= 0.46, s"recall@10 nprobe=4 $r4 < 0.46")
    assert(r8 >= 0.71, s"recall@10 nprobe=8 $r8 < 0.71")
  }

  test("x43b's tuned IVF config holds recall@10 >= 0.78 (IvfTune sweet spot)") {
    // the registry entry's config (3 Lloyd passes over a 512-vector
    // hash-ordered sample, nprobe 8/16) measured 0.80 in IvfTune (retired;
    // runnable at 7779ac1, BASELINE.md "Retired tools"); gate a
    // hair below so the tuning can't silently regress (e.g. a seeding or
    // assignment change re-baking a worse golden, the round-3 escape)
    val (emb, q) = queriesDf(ivfQids)
    val exact = neighborSets(Similarity.bruteForceTopK(emb, q, k = 10))
    val cents = Similarity.kmeansCentroids(emb, nlist = 16, iters = 3,
      sampleSize = 512)
    val r = meanRecall(exact, neighborSets(
      Similarity.ivfTopKWithCentroids(emb, q, k = 10, cents, nprobe = 8)))
    assert(r >= 0.78, s"tuned-config recall@10 $r < 0.78")
  }

  test("k-means Lloyd passes beat unfitted farthest-point seeding") {
    val (emb, q) = queriesDf(ivfQids)
    val exact = neighborSets(Similarity.bruteForceTopK(emb, q, k = 10))
    val fitted = meanRecall(exact, neighborSets(
      Similarity.ivfTopK(emb, q, k = 10, nlist = 16, nprobe = 4, kmeansIters = 2)))
    val unfitted = meanRecall(exact, neighborSets(
      Similarity.ivfTopK(emb, q, k = 10, nlist = 16, nprobe = 4, kmeansIters = 0)))
    assert(fitted > unfitted + 0.05,
      s"k-means recall $fitted not better than seed-only $unfitted")
  }

  test("ANN results are a subset of the corpus and never echo the query id") {
    val (emb, q) = queriesDf(Seq(1L))
    val res = Similarity.annTopK(emb, q, k = 10).collect()
    assert(res.forall(_.getLong(1) != 1L))
  }

  test("IVF seeding is unbiased when low ids cluster spatially: recall@10 >= 0.9") {
    import spark.implicits._
    // ids 0..299 all sit in ONE tight cluster (ingest-order bias); ids
    // 300..599 spread over 5 other well-separated clusters. A lowest-id
    // sample would seed every centroid inside cluster 0; the hash-ordered
    // sample must keep per-cluster recall.
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.tabulate(6) { c =>
      Array.tabulate(dim)(i => if (i % 6 == c) 1f else 0f)
    }
    def noisy(c: Array[Float]) = c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
    val rows = (0 until 600).map { id =>
      val cluster = if (id < 300) 0 else 1 + (id - 300) % 5
      (id.toLong, cluster, noisy(centers(cluster)))
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    val q = emb.filter(col("vec_id") === 599) // a cluster-5 member
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val exact = neighborSets(Similarity.bruteForceTopK(emb, q, k = 10))
    val ivf = neighborSets(
      Similarity.ivfTopK(emb, q, k = 10, nlist = 16, nprobe = 4))
    val recall = meanRecall(exact, ivf)
    assert(recall >= 0.9, s"biased-id fixture recall@10 $recall < 0.9")
  }

  // --- sub-blocked exact pair search -------------------------------------

  /** Deterministic skewed fixture: every vector in ONE hot label. */
  private def skewedEmb(n: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until n).map { i =>
      (i.toLong, 0, Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    }.toDS()
  }

  test("blocked pair search splits a hot label into >1 chunk-pair task") {
    import spark.implicits._
    val emb = skewedEmb(40)
    val keys = Similarity.chunkPairTasks(emb, targetChunk = 8)
      .map(_._1).distinct().collect()
    // 40 rows / chunk 8 -> C=5 chunks -> C(C+1)/2 = 15 tasks, all label 0
    assert(keys.length == 15, s"expected 15 chunk-pair tasks, got ${keys.length}")
    assert(keys.forall(_._1 == 0))
  }

  test("chunk size auto-scales ~sqrt(n): replication stays sublinear on a hot label") {
    // unit: the knob floors small labels, sqrt-scales big ones
    assert(Similarity.chunkSize(40, 8) == 8)
    assert(Similarity.chunkSize(2500, 4) == 50)
    assert(Similarity.chunkSize(10L * 1000 * 1000, 256) == 3163)
    // end-to-end: one hot label of n=2500 at targetChunk=4 must replicate
    // each row ceil(sqrt(n)) = 50x (the fixed-knob plan would replicate
    // n/4 = 625x — linear in label size)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val emb = (0 until 2500).map { i =>
      (i.toLong, 0, Array.fill(4)(rnd.nextFloat()))
    }.toDS()
    val tasks = Similarity.chunkPairTasks(emb, targetChunk = 4)
    val total = tasks.count()
    assert(total == 2500L * 50, s"replication ${total / 2500.0}x, expected 50x")
    val chunks = tasks.map(_._1._2).distinct().count()
    assert(chunks == 50, s"expected 50 chunks, got $chunks")
  }

  test("blocked pair search matches the single-bucket kernel on a skewed label") {
    val emb = skewedEmb(40)
    val vecs = emb.collect().map(v => (v._1, v._3))
    val expected = Similarity.topPairsInBucket(vecs, k = 10).toSeq
      .sortBy { case (a, b, c) => (-c, a, b) }
    val got = Similarity.topPairsByLabel(emb, k = 10, targetChunk = 8)
      .orderBy(org.apache.spark.sql.functions.col("cos_sim").desc,
        org.apache.spark.sql.functions.col("id_a"),
        org.apache.spark.sql.functions.col("id_b"))
      .limit(10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(got == expected, s"blocked=$got kernel=$expected")
  }

  test("blocked pair search with one chunk equals the unblocked plan") {
    val emb = skewedEmb(25)
    val vecs = emb.collect().map(v => (v._1, v._3))
    val expected = Similarity.topPairsInBucket(vecs, k = 5).toSeq
      .sortBy { case (a, b, c) => (-c, a, b) }
    val got = Similarity.topPairsByLabel(emb, k = 5, targetChunk = 2048)
      .orderBy(org.apache.spark.sql.functions.col("cos_sim").desc,
        org.apache.spark.sql.functions.col("id_a"),
        org.apache.spark.sql.functions.col("id_b"))
      .limit(5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(got == expected)
  }

  // ------------------------------------------------ cell-bounded pairs

  private def embTyped = {
    import spark.implicits._
    Tables.embeddings(spark, Sf)
      .select(col("vec_id").cast(org.apache.spark.sql.types.LongType),
        col("label").cast(org.apache.spark.sql.types.IntegerType),
        col("embedding"))
      .as[(Long, Int, Array[Float])]
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] = df
    .orderBy(col("cos_sim").desc, col("id_a").asc, col("id_b").asc)
    .limit(20).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("x42b's cell-bounded config holds pair recall@20 >= 0.9 vs exact x42") {
    val exact = pairSet(Similarity.topPairsByLabel(embTyped, 20, targetChunk = 256))
    val cents = Similarity.kmeansCentroids(
      Tables.embeddings(spark, Sf), nlist = 8, iters = 3, sampleSize = 512)
    val approx = pairSet(Similarity.cellBoundedTopPairs(
      embTyped, 20, cents, probes = 3, targetChunk = 256))
    val recall = (approx & exact).size.toDouble / exact.size
    // 1.0 here and 0.95 at sf0.1 (DEDUP_TUNING.md §5) — deterministic
    // (hash-ordered sample + greedy seeding + fixed Lloyd passes), so a
    // drop means the assignment or banding REGRESSED, not noise
    assert(recall >= 0.9, s"cell-bounded pair recall@20 $recall < 0.9")
  }

  test("cell-bounded with probes=nlist degenerates to the exact search") {
    // every vector lands in every cell, so each (label, cell) bucket holds
    // the whole label and the within-cell search IS the exact search;
    // distinct must collapse the nlist-fold duplicate enumeration
    val emb = skewedEmb(30)
    val cents = Similarity.kmeansCentroids(
      emb.toDF("vec_id", "label", "embedding"), nlist = 4, iters = 1,
      sampleSize = 16)
    val exact = pairSet(Similarity.topPairsByLabel(emb, 20, targetChunk = 2048))
    val full = pairSet(Similarity.cellBoundedTopPairs(
      emb, 20, cents, probes = 4, targetChunk = 2048))
    assert(full == exact, s"probes=nlist must be exact: $full vs $exact")
  }

  test("auto form derives nlist from the target cell size and keeps labels") {
    val inputLabels = embTyped.collect().map(_._2).toSet
    val res = Similarity.cellBoundedTopPairsAuto(
      embTyped, k = 20, targetCellSize = 64, probes = 3)
    assert(res.columns.toSeq ==
      Seq("id_a", "id_b", "label", "cos_sim"))
    val rows = res.collect()
    assert(rows.nonEmpty, "auto cell-bounded search returned no pairs")
    // the synthetic label·nlist+cell id must be RESTORED to a real label
    assert(rows.map(_.getInt(2)).toSet.subsetOf(inputLabels),
      "labels not restored from synthetic cell buckets")
    // pairs are within-label, ordered ids, no self-pairs
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), s"unordered pair: $r")
    }
    // deterministic: the same call yields the same set
    val again = Similarity.cellBoundedTopPairsAuto(
      embTyped, k = 20, targetCellSize = 64, probes = 3).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("two-level assignment: exact-dup pairs survive and coarseProbes=g is single-level-exact") {
    import spark.implicits._
    // margin corpus: isotropic background + planted exact duplicates
    val rnd = new scala.util.Random(5)
    val base = (0L until 600L).map { i =>
      (i, (i % 4).toInt, Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    }
    val planted = base.filter(_._1 % 10 == 0)
      .map { case (i, l, v) => (i + 100000L, l, v) }
    val emb = (base ++ planted).toDS()
    val cents = Similarity.kmeansCentroids(
      emb.toDF("vec_id", "label", "embedding"), nlist = 32, iters = 2,
      sampleSize = 256)
    // force the two-level path at this tiny nlist via the threshold knob
    val two = Similarity.cellBoundedTopPairs(emb, k = 128, cents, probes = 3,
      targetChunk = 256, coarseProbes = 3, twoLevelThreshold = 1)
      .filter(col("cos_sim") >= 0.999)
    // every planted pair found: identical vectors score identical coarse
    // groups AND identical cells, so two-level can never split a dup pair
    val got = two.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = base.filter(_._1 % 10 == 0).map(t => (t._1, t._1 + 100000L)).toSet
    assert(got == want, s"two-level lost planted dup pairs: missing ${want -- got}")
    // with coarseProbes covering EVERY group, two-level must equal the
    // single-level scan bit-for-bit (same candidate set, same ordering)
    val g = math.ceil(math.sqrt(32.0)).toInt
    val allGroups = Similarity.cellBoundedTopPairs(emb, k = 128, cents,
      probes = 3, targetChunk = 256, coarseProbes = g, twoLevelThreshold = 1)
    val single = Similarity.cellBoundedTopPairs(emb, k = 128, cents,
      probes = 3, targetChunk = 256, twoLevelThreshold = Int.MaxValue)
    assert(pairSet(allGroups) == pairSet(single),
      "coarseProbes = #groups should reproduce the exact single-level assignment")
  }

  // ---- x93: product quantization -----------------------------------------
  // All PQ numbers below are exactly reproducible (hash-ordered sample,
  // deterministic seeding/ties), gated a hair under what the pipeline
  // measures on this corpus — the same pinning protocol as the IVF gates.

  test("x93 PQ: ADC+rerank recall@10 >= 0.95; raw ADC@10 >= 0.53 (registry config)") {
    val (emb, q) = queriesDf(ivfQids)
    val exact = neighborSets(Similarity.bruteForceTopK(emb, q, k = 10))
    // registry config: m=16, ksub=32, shortlist=100 — measured 1.00 refined
    val refined = meanRecall(exact, neighborSets(
      Pq.pqTopKRefined(emb, q, k = 10)))
    assert(refined >= 0.95, s"refined PQ recall@10 $refined < 0.95")
    // raw ADC at the same codebooks — measured 0.55 on the isotropic
    // corpus (quantization worst case; the shortlist+rerank exists for this)
    val raw = meanRecall(exact, neighborSets(
      Pq.pqTopK(emb, q, k = 10, m = 16, ksub = 32, sampleSize = 512)))
    assert(raw >= 0.53, s"raw ADC recall@10 $raw < 0.53")
  }

  test("x93 PQ: encode is deterministic, 16 one-byte codes + a norm per vector") {
    val emb = Tables.embeddings(spark, Sf)
    val cb = Pq.train(emb, dim = 64, m = 16, ksub = 32, sampleSize = 512)
    assert(cb.cents.length == 16 && cb.ksub == 32)
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getAs[Array[Byte]]("codes").toSeq, r.getDouble(2))).toMap
    val a = codesOf(Pq.encode(emb, cb))
    val b = codesOf(Pq.encode(emb, cb))
    assert(a == b, "PQ encode not deterministic across runs")
    assert(a.values.forall(_._1.length == 16))
    // identical vectors must take identical codes (dedup-safety of the code
    // space); vec norms are the exact float norms
    assert(a.values.forall(_._2 >= 0.0))
  }

  test("x93 PQ: codebooks shrink to the distinct sub-vectors; duplicates encode identically") {
    import spark.implicits._
    // 6 vectors, 2 distinct values: each subspace sees 2 distinct
    // sub-vectors, so ksub=16 must shrink to 2 seeds instead of padding
    val emb = Seq.tabulate(6) { i =>
      (i.toLong, i % 2, Array.fill(64)(if (i % 2 == 0) 1.0f else -1.0f))
    }.toDF("vec_id", "label", "embedding")
    val cb = Pq.train(emb, dim = 64, m = 8, ksub = 16)
    assert(cb.cents.forall(_.length == 2),
      s"codebooks not shrunk: ${cb.cents.map(_.length).mkString(",")}")
    val codes = Pq.encode(emb, cb).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("codes").toSeq).toMap
    assert(codes(0L) == codes(2L) && codes(2L) == codes(4L))
    assert(codes(1L) == codes(3L) && codes(3L) == codes(5L))
    assert(codes(0L) != codes(1L))
  }

  test("x93 PQ: an exact-duplicate query retrieves its twin first after rerank") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf)
    // plant a twin of vec 7 under a fresh id; query with vec 7's embedding
    val twin = emb.filter(col("vec_id") === 7L)
      .select(lit(900001L).as("vec_id"), col("label"), col("embedding"))
    val corpus = emb.unionByName(twin)
    val q = emb.filter(col("vec_id") === 7L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val top = Pq.pqTopKRefined(corpus, q, k = 10).orderBy(col("rnk"))
      .collect()
    // rank() excludes the query id itself; the planted twin (cosine 1.0)
    // must survive the ADC shortlist and win the exact re-rank
    assert(top.head.getLong(1) == 900001L,
      s"twin not ranked first: ${top.take(3).mkString(", ")}")
    assert(top.head.getDouble(2) == 1.0)
  }
}
