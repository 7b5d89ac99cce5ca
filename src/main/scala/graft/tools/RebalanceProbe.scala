package graft.tools

import graft.util.LocalSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-growth accounting for [[graft.operators.IvfStore.rebalance]] — the
  * measurement behind the BASELINE row the rebalance verb ships with.
  *
  * The drift scenario the verb exists for: a store is created and its
  * coarse quantizer FROZEN on a base corpus, then sustained appends land in
  * a region the original fit never saw (here: the reflected corpus
  * `2 - v`, shifted per growth slice so the drift has internal structure).
  * Appends assign map-only against the frozen centroids, so the drift mass
  * piles into the few cells nearest its region and probe selectivity
  * decays: nprobe/nlist stops describing the fraction of the store a
  * search reads.
  *
  * Measured, per phase (before rebalance / after rebalance / full rebuild):
  *   - cell-occupancy shape (cells, max, mean — the skew the verb repairs),
  *   - search wall (median of 3) + recall@10 vs exact brute force for a
  *     drift-region query panel at nprobe 4,
  *   - the verb's wall vs a from-scratch [[graft.operators.IvfStore.create]]
  *     rebuild on the same grown corpus (the alternative it replaces), and
  *   - the spec-level equivalence gate re-checked at scale: store search
  *     must be bit-identical to the transient IVF on the NEW centroids.
  *
  * Usage: runMain graft.tools.RebalanceProbe [sfDir] [growFactor] [cellSize]
  * Numbers from a loaded box are noise — loadavg is stamped; re-run quiet.
  */
object RebalanceProbe {

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val load0 = loadAvg()
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val growFactor = if (args.length > 1) args(1).toInt else 2
    val cellSize = if (args.length > 2) args(2).toInt else 256
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{IvfStore, Similarity}

    // task-level input-bytes accounting (BASELINE.md round-11 index rows
    // used the same device in the retired StoreBench, at `7779ac1`): the
    // before/after comparison is only honest with the bytes each probe
    // actually reads — "files-not-read" undersells a hot cell whose ONE
    // file holds a third of the store
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      })
    def bytesOf(f: => Unit): Long = {
      bytesRead.set(0L); f; Thread.sleep(600); bytesRead.get()
    }

    val root = java.nio.file.Files.createTempDirectory("rebalance").toFile
    root.deleteOnExit()
    val path = s"${root.getAbsolutePath}/ivf"

    val emb = graft.queries.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val n0 = emb.count()
    val nlist0 = math.max(16L, (n0 + cellSize - 1) / cellSize).toInt

    val tBuild = timed1 { IvfStore.create(spark, path, emb, nlist = nlist0) }

    // drift slices: per growth unit, a ~19° directional cap (atan 0.35)
    // around a unit direction the base fit never saw (±1/√d alternating
    // sign pattern, shifted per copy so the copies' caps differ). The
    // corpus is unit vectors, so direction is everything: the cap is
    // CONCENTRATED under the frozen quantizer (a couple of base cells
    // absorb it — the skew the verb repairs) yet has real angular spread
    // for the retrain to tessellate. A naive `c - v` drift would collapse
    // to a ~3° cap (the offset dominates the unit spread) — unsplittable
    // by any retrain and cosine-degenerate anyway.
    val invSqrtD = 0.125 // 1/sqrt(64)
    val drift = (0 until growFactor).map { i =>
      emb.select((col("vec_id") + lit(50000000L * (i + 1))).as("vec_id"),
        expr(s"transform(embedding, (v, j) -> CAST(" +
          s"IF((j + $i) % 2 = 0, $invSqrtD, -$invSqrtD) + 0.35 * v AS FLOAT))")
          .as("embedding"))
    }.reduce(_ unionAll _)
    drift.write.mode("overwrite").parquet(s"${root.getAbsolutePath}/drift")
    val driftRead = spark.read.parquet(s"${root.getAbsolutePath}/drift")
    val tAppend = timed1 { IvfStore.append(spark, path, driftRead) }

    def cellStats(): (Long, Long, Double) = {
      val cs = spark.read.parquet(s"$path/vectors")
        .groupBy("cell").count().select("count")
        .collect().map(_.getLong(0))
      (cs.length.toLong, cs.max, cs.sum.toDouble / cs.length)
    }

    // drift-region query panel: 16 drift vectors, query ids outside the
    // store's id space (Similarity.rank drops vec_id == query_id)
    val queries = driftRead
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc).limit(16)
      .select((col("vec_id") + 900000000L).as("query_id"),
        col("embedding").as("qe"))
      .cache()
    queries.count(): Unit
    val corpus = spark.read.parquet(s"$path/vectors")
      .select(col("vec_id"), col("embedding"))
    val exact = topSets(Similarity.bruteForceTopK(corpus, queries, 10))

    // nprobe rides the store's CURRENT nlist at a constant read fraction
    // (~1/16 of cells, floor 4): the verb's claim is recall at the SAME
    // files-not-read ratio — holding nprobe fixed while nlist grows would
    // silently cut the read fraction and misattribute the recall move
    def nprobeFor(nlist: Int): Int = math.max(4, (nlist + 15) / 16)
    def phase(npMult: Int = 1)
        : (Int, Double, Double, Long, Set[(Long, Long)]) = {
      val np = npMult * nprobeFor(IvfStore.centroids(spark, path).length)
      val wall = timedMedian3 {
        IvfStore.search(spark, path, queries, k = 10, nprobe = np).collect()
      }
      val got = topSets(IvfStore.search(spark, path, queries, k = 10,
        nprobe = np))
      val bytes = bytesOf(
        IvfStore.search(spark, path, queries, k = 10, nprobe = np).collect())
      val rec = recallOf(got, exact)
      (np, wall, rec, bytes,
        got.toSeq.flatMap { case (q, vs) => vs.map(q -> _) }.toSet)
    }

    val (cellsB, maxB, meanB) = cellStats()
    val (npB, wallB, recB, bytesB, _) = phase()

    val nAll = n0 * (1 + growFactor)
    val nlist1 = math.max(16L, (nAll + cellSize - 1) / cellSize).toInt
    val tReb = timed1 {
      IvfStore.rebalance(spark, path, nlist = nlist1, kmeansIters = 3)
    }
    val centsNew = IvfStore.centroids(spark, path)
    val (cellsA, maxA, meanA) = cellStats()
    val (npA, wallA, recA, bytesA, gotA) = phase()
    // recall recovery headroom: double the read fraction on the
    // rebalanced layout (the knob a pre-rebalance hot cell does NOT have
    // — its one fused cell is all-or-nothing)
    val (np2, wall2, rec2, bytes2, _) = phase(npMult = 2)
    // rebalance swapped the vectors dir: frames constructed over the old
    // listing are dead (standard Spark file-index semantics) — re-read
    spark.catalog.refreshByPath(s"$path/vectors")
    val corpusNew = spark.read.parquet(s"$path/vectors")
      .select(col("vec_id"), col("embedding"))
    // spec-level equivalence gate, re-checked at scale: store ≡ transient
    // IVF on the new centroids
    val transient = topSets(Similarity.ivfTopKWithCentroids(
        corpusNew, queries, 10, centsNew, nprobe = npA))
      .toSeq.flatMap { case (q, vs) => vs.map(q -> _) }.toSet
    val equiv = gotA == transient
    assert(equiv, "rebalanced store search != transient IVF on new centroids")

    // the alternative rebalance replaces: a from-scratch rebuild on the
    // grown corpus (full retrain + full reassign + rewrite)
    val tRebuild = timed1 {
      IvfStore.create(spark, s"${root.getAbsolutePath}/rebuilt", corpusNew,
        nlist = nlist1)
    }

    println(
      f"""{"metric":"rebalance_probe","sf":"$sfDir","n_base":$n0,"grow_factor":$growFactor,""" +
      f""""nlist_before":$nlist0,"nlist_after":$nlist1,""" +
      f""""build_s":$tBuild%.2f,"append_s":$tAppend%.2f,""" +
      f""""before":{"cells":$cellsB,"max_cell":$maxB,"mean_cell":$meanB%.1f,"nprobe":$npB,"search_s":$wallB%.2f,"search_bytes":$bytesB,"recall10":$recB%.4f},""" +
      f""""rebalance_s":$tReb%.2f,"rebuild_s":$tRebuild%.2f,""" +
      f""""after":{"cells":$cellsA,"max_cell":$maxA,"mean_cell":$meanA%.1f,"nprobe":$npA,"search_s":$wallA%.2f,"search_bytes":$bytesA,"recall10":$recA%.4f},""" +
      f""""after_np2x":{"nprobe":$np2,"search_s":$wall2%.2f,"search_bytes":$bytes2,"recall10":$rec2%.4f},""" +
      f""""store_equiv_transient":$equiv,"load_start":$load0%.2f,"load_end":${loadAvg()}%.2f}""")
    spark.stop()
  }

  private def timed1(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def timedMedian3(f: => Unit): Double = {
    val xs = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    xs.sorted.apply(1)
  }

  private def topSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def recallOf(got: Map[Long, Set[Long]],
                       exact: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, ex) =>
      if (ex.isEmpty) 1.0
      else (got.getOrElse(q, Set.empty) & ex).size.toDouble / ex.size
    }
    if (per.isEmpty) 1.0 else per.sum / per.size
  }
}
