package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-18 measurement main (guide §1: measure first): per-leg wall and
  * Spark-job/stage counts for the triage trio and the other top bench
  * entries, with the stores built exactly as [[graft.Bench]] builds them.
  * Usage: tools/quietbench.sh graft.tools.TriageProfile <sfDir> [names...]
  */
object TriageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("x125_crawl_triage", "x126_crawl_triage_cascade",
        "x127_crawl_triage_derived", "x114_remove_dup_spans", "x99_dupgrams",
        "x123_incremental_neardup", "x40_minhash_lsh", "x117_curation_v3",
        "x118_incremental_remove_spans", "x102_incremental_dupgrams",
        "q32_neardup")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // match Bench's AQE posture so profiled plans are the benched plans
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    val tasks = new AtomicInteger()
    val jobLog =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobStart.put(j.jobId, (j.time,
          Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(j.stageInfos.headOption.map(_.name).getOrElse("?"))
            .take(90))): Unit
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { case (t0, desc) =>
          jobLog.add((e.jobId, e.time - t0, desc)): Unit
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks): Unit
      }
    })
    spark.range(1000).selectExpr("sum(id)").collect(): Unit
    try spark.read.parquet(s"$sfDir/region.parquet").count(): Unit
    catch { case _: Throwable => () }

    def phase[T](label: String)(f: => T): T = {
      val j0 = jobs.get(); val s0 = stages.get(); val k0 = tasks.get()
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[prof] $label%-42s ${dt}%7.2fs jobs=${jobs.get() - j0}%3d stages=${stages.get() - s0}%3d tasks=${tasks.get() - k0}%4d")
      r
    }

    def dumpJobs(label: String): Unit = {
      import scala.jdk.CollectionConverters._
      val all = jobLog.asScala.toSeq.sortBy(_._1)
      println(s"[jobs] ---- $label: ${all.size} jobs, " +
        f"${all.map(_._2).sum / 1e3}%.2fs total in-job wall ----")
      all.foreach { case (id, ms, desc) =>
        println(f"[jobs] #$id%4d ${ms / 1e3}%6.2fs $desc")
      }
      jobLog.clear()
    }

    // store builds, as Bench does (untimed); the BM25 store and BPE table
    // too, so probe/store consumers profile in their benched shape
    graft.queries.HistoryStores.all.foreach { b =>
      phase(s"store: ${b.name}")(b.build(spark, sfDir))
    }
    phase("store: bm25/bpe") {
      try graft.operators.Bm25Store.createFor(spark, sfDir,
        graft.queries.Tables.documents(spark, sfDir)): Unit
      catch { case e: Throwable => System.err.println(s"[prof] bm25: $e") }
      try graft.operators.Bpe.trainCached(spark, sfDir,
        graft.queries.Tables.documents(spark, sfDir),
        graft.queries.TextOps.NumBpeMerges): Unit
      catch { case e: Throwable => System.err.println(s"[prof] bpe: $e") }
    }
    // warm the pair-producer stores (Bench warms them inside each
    // producer's own timed runs; consumers then scan) — profiled consumer
    // entries see the store-served plan, like the bench steady state
    phase("store: pair producers") {
      for (p <- graft.SparkEntry.pairProducers) {
        try {
          graft.operators.PairStore.refresh(spark, p, sfDir)(
            graft.SparkEntry.queries(p)(spark, sfDir)).count(): Unit
        } catch { case e: Throwable => System.err.println(s"[prof] $p: $e") }
      }
      spark.catalog.clearCache()
    }

    // per-leg decomposition of x125 (same code path as x125Legs)
    import org.apache.spark.sql.functions._
    val d = sfDir
    for (round <- 1 to 2) {
      println(s"[prof] ---- leg decomposition, round $round ----")
      val (history, batch) = graft.queries.TextOps.x86Split(spark, d)
      phase("leg: batch count") { batch.count() }
      phase("leg: status (hash probe)") {
        graft.operators.Dedup.incrementalStatusBinary(batch,
          graft.sources.HashHistory.probeHistory(spark, d,
            batch.select(unhex(md5(col("text"))).as("th")))(
            history.select(unhex(md5(col("text"))).as("th")))).count()
      }
      phase("leg: gram probe (hist reduce)") {
        graft.sources.GramHistory.probeHistory(spark, d,
          graft.sources.GramHistory.gramHashes(batch,
            graft.queries.TextOps.DupGramK))(
          graft.sources.GramHistory.gramHashes(history,
            graft.queries.TextOps.DupGramK)).count()
      }
      phase("leg: gram frac (full)") {
        graft.operators.Dedup.incrementalDupGrams(batch,
          graft.sources.GramHistory.probeHistory(spark, d,
            graft.sources.GramHistory.gramHashes(batch,
              graft.queries.TextOps.DupGramK))(
            graft.sources.GramHistory.gramHashes(history,
              graft.queries.TextOps.DupGramK)),
          k = graft.queries.TextOps.DupGramK, broadcastProbe = false).count()
      }
      phase("leg: neardup (minhash probe)") {
        val (bands, sh) = graft.sources.MinHashHistory.scanOrCompute(spark, d)(
          (graft.queries.TextOps.x123HistoryBands(spark, d),
            graft.queries.TextOps.x123HistoryShingles(spark, d)))
        graft.operators.Dedup.incrementalNearDups(
            graft.queries.TextOps.shingleArrays(
              graft.queries.TextOps.x123Split(spark, d)._2), bands, sh,
            bandReducer =
              graft.sources.MinHashHistory.bandScanReducer(spark, d))
          .groupBy(col("doc_a")).agg(max(col("jaccard"))).count()
      }
      spark.catalog.clearCache()
    }

    // whole entries, Bench-style (fresh frame per run); run1 is the JIT
    // warmup, run3's per-job timeline is dumped
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      for (run <- 1 to 3) {
        if (run == 3) jobLog.clear()
        phase(s"$name run$run") { fn(spark, sfDir).count() }
        spark.catalog.clearCache()
        if (run == 3 && sys.env.contains("GRAFT_PROF_JOBS")) dumpJobs(name)
      }
    }
    spark.stop()
  }
}
