package graft.tools

import graft.util.LocalSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end production rehearsal: the composed training-data pipeline —
  * heuristic gates + exact dedup (x90/x74's md5 keeper) → near-dup dedup
  * with quality keepers (x40 pairs → x84 components → x100 keeper policy)
  * → perplexity filter (x95, percentile-derived threshold) → per-language
  * token budget (x87) → sized training shards (x88b) — run ONCE over a
  * ScaleProbe-scaled corpus as five materialized stages, recording per
  * stage: wall seconds, rows out, total shuffle bytes written/read, and
  * the single widest exchange.
  *
  * WHY this exists when every operator already has its own probe: per-op
  * ratios bound each operator ALONE on the raw corpus; a production run
  * composes them, each stage consuming the previous stage's (smaller)
  * output from parquet — exactly how a 100 TB pipeline checkpoints
  * between jobs. This is the wall + shuffle-byte bill an operator of that
  * pipeline would actually read, and it catches composition-only failures
  * per-op probes cannot. The round-11 shakedown caught two:
  *  - the registry's PINNED nll gate (x101's MaxNll, an oracle-replay
  *    convenience) curated a replica-scaled corpus to ZERO docs — the
  *    production threshold must be a percentile of the corpus being
  *    curated (as x101's doc prescribes), derived here;
  *  - running the LM filter BEFORE near-dup dedup silently deleted the
  *    entire near-dup class: on this corpus the planted near-dups are
  *    high-perplexity docs (pair members' median nll 8.05 vs corpus p95
  *    8.02), so gating first removed every pair member and the dedup
  *    stage resolved zero clusters. The CCNet order — dedup, THEN the LM
  *    filter — keeps the stages orthogonal and is also the cheaper order
  *    (no LM scoring spent on docs dedup will drop).
  *
  * Stage semantics (registry contracts, re-pointed at each stage's input):
  *  1. gate    — x90 audit gates (length/repetition) + x74's exact dedup
  *     (md5 keeper). Output: kept unique docs.
  *  2. dedup   — x40's REGISTRY pair shape over the gated docs (trigram
  *     shingles + same-lang/length-window candidate restriction — the
  *     unrestricted form measured 11 GB shuffle / 333 s here vs 0.5 GB /
  *     10 s restricted), x84 components, x100 keeper (longest member,
  *     ties min id), drop non-keepers.
  *  3. quality — x95 self-trained unigram nll over the deduped corpus,
  *     keep docs at or under the 95th percentile.
  *  4. budget  — x87's per-language exact running-sum cut at
  *     `factor × 2000` tokens (the registry budget scaled with the corpus).
  *  5. shard   — x88b's size-derived train-order addresses at 150
  *     docs/shard, written out as the final artifact.
  *
  * Usage: runMain graft.tools.PipelineRehearsal [baseSf] [scaledDir]
  *          [factor] [workDir]
  */
object PipelineRehearsal {

  final case class StageStats(wall: Double, rowsOut: Long,
                              shufWrite: Long, shufRead: Long,
                              peakStageShufWrite: Long)

  // ---- the five stage bodies as frame → frame functions: the rehearsal
  // main and CompositionSpec drive the SAME composition, so the two
  // composition contracts the 100× shakedown caught (percentile-derived
  // threshold, dedup-before-LM-filter order) are pinned against the
  // production code path, not a spec-local reconstruction.

  /** Stage 1: heuristic gates + exact dedup (x90 + x74's md5 keeper). */
  def gateStage(docs: DataFrame): DataFrame = {
    val audit = graft.queries.CurationOps.curationAudit(docs)
    val kept = audit
      .filter(!(col("too_short") || col("too_long") || col("repetitive")))
      .join(docs.select(col("doc_id"), col("n_chars"), col("text")),
        Seq("doc_id"))
      .withColumn("th", md5(col("text")))
    val keepers = kept.groupBy(col("th"))
      .agg(min(col("doc_id")).as("keeper"))
      .select(col("keeper").as("doc_id"))
    kept.join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("n_chars"), col("text"))
  }

  /** Stage 2: near-dup dedup + quality keeper (x40 → x84 → x100). */
  def dedupStage(gated: DataFrame): DataFrame = {
    val pairs = graft.queries.TextOps.lshNearDupPairsOf(gated)
    val comp = graft.operators.Components.connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("component"))
    // keeper = longest member (n_tokens as the quality scalar), ties to
    // min id — x100's argmax device; components are clusters-sized, so
    // they broadcast and the corpus side never shuffles for this
    val members = gated.select(col("doc_id"), col("n_tokens"))
      .join(broadcast(comp), "doc_id")
    val keepers = members.groupBy(col("component"))
      .agg(min(struct((-col("n_tokens")).as("negq"),
        col("doc_id").as("d"))).as("m"))
      .select(col("m.d").as("doc_id"))
    val dropped = members.select(col("doc_id"))
      .join(broadcast(keepers), Seq("doc_id"), "left_anti")
    gated.join(broadcast(dropped), Seq("doc_id"), "left_anti")
  }

  /** Stage 3: perplexity filter — x95's self-trained nll, thresholded at
    * a PERCENTILE of the corpus being curated (the composition contract:
    * a threshold pinned on one corpus's nll distribution curates a
    * shifted corpus to zero docs — the round-11 shakedown's first bug).
    */
  def qualityStage(deduped: DataFrame, pct: Double = 0.95): DataFrame = {
    // the EXACT integer-scaled percentile (x115's two-phase device) —
    // the registry-grade derivation, replacing the earlier
    // approx_percentile: same contract, no approximation knob.
    // localCheckpoint (not persist): the threshold jobs and the returned
    // gate join share one materialization of the small (doc_id, v)
    // relation, but the RETURNED plan escapes this scope — a CacheManager
    // entry would outlive every caller (the x115/x117 leak shape), while
    // the checkpointed RDD is released by the ContextCleaner as soon as
    // callers drop the frame
    val scored = graft.operators.UnigramLm.selfScore(deduped)
      .select(col("doc_id"),
        round(col("nll") * graft.operators.UnigramLm.LnScale.toDouble)
          .cast("long").as("v"))
      .localCheckpoint(true)
    val thr = graft.operators.Percentiles.exactThresholdOpt(
        scored.select(col("v")), "v",
        math.round(pct * 100), 100)
      .getOrElse(Long.MaxValue)
    deduped.join(scored, Seq("doc_id"))
      .filter(col("v") <= thr)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("text"))
  }

  /** Stage 4: per-language token budget (x87's exact running-sum cut). */
  def budgetStage(quality: DataFrame, budget: Long): DataFrame =
    graft.operators.TokenBudget.budgetCut(quality, budget)

  /** Stage 5: sized training shards (x88b's size-derived train order). */
  def shardStage(budgeted: DataFrame): DataFrame =
    graft.operators.Sharding.trainOrderBySize(budgeted,
      graft.queries.CurationOps.TrainDocsPerShard)

  def main(args: Array[String]): Unit = {
    val load0 = graft.Bench.loadAvg()
    val baseSf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scaled = if (args.length > 1) args(1) else "/tmp/graft_scale100"
    val factor = if (args.length > 2) args(2).toInt else 100
    val work = if (args.length > 3) args(3) else "/tmp/graft_rehearsal"
    val spark = LocalSession()
    if (!new java.io.File(s"$scaled/embeddings.parquet/_SUCCESS").exists()) {
      println(s"[rehearsal] generating ${factor}x corpus at $scaled")
      ScaleProbe.generate(spark, baseSf, scaled, factor)
    }

    // per-Spark-stage shuffle accounting: task metrics summed by stageId,
    // windows diffed per pipeline stage; the per-stageId map also yields
    // the widest single exchange inside each window
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) {
            val w = t.taskMetrics.shuffleWriteMetrics.bytesWritten
            val r = t.taskMetrics.shuffleReadMetrics.totalBytesRead
            byStage.merge(t.stageId, (w, r),
              (a, b) => (a._1 + b._1, a._2 + b._2)): Unit
          }
      })
    def snapshot(): Map[Int, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      byStage.asScala.toMap
    }

    val results = scala.collection.mutable.LinkedHashMap[String, StageStats]()
    def stage(name: String)(f: => DataFrame): DataFrame = {
      spark.sparkContext.setJobGroup(name, name)
      val before = snapshot()
      val t0 = System.nanoTime()
      val out = f
      out.write.mode("overwrite").parquet(s"$work/$name")
      val back = spark.read.parquet(s"$work/$name")
      val rows = back.count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(600) // listener bus drain
      val after = snapshot()
      val delta = after.map { case (sid, (w, r)) =>
        val (bw, br) = before.getOrElse(sid, (0L, 0L))
        sid -> (w - bw, r - br)
      }.filter { case (_, (w, r)) => w > 0 || r > 0 }
      val stats = StageStats(wall, rows,
        delta.values.map(_._1).sum, delta.values.map(_._2).sum,
        if (delta.isEmpty) 0L else delta.values.map(_._1).max)
      results(name) = stats
      println(f"[rehearsal] $name%-8s wall=${stats.wall}%8.2fs rows=$rows%9d " +
        f"shuf_w=${stats.shufWrite / 1e6}%9.1fMB shuf_r=${stats.shufRead / 1e6}%9.1fMB " +
        f"peak_exchange=${stats.peakStageShufWrite / 1e6}%9.1fMB")
      back
    }

    val docs = graft.queries.Tables.documents(spark, scaled)
    val inDocs = docs.count()
    println(s"[rehearsal] corpus: $inDocs docs at $scaled (load_start=$load0)")

    // ---- the five stages ([[gateStage]]…[[shardStage]]), materialized
    val gated = stage("gate") { gateStage(docs) }
    val deduped = stage("dedup") { dedupStage(gated) }
    // percentile-derived threshold — the registry's pinned MaxNll belongs
    // to the base corpus's nll distribution; a rehearsal corpus derives
    // its own, per x101's doc
    val quality = stage("quality") { qualityStage(deduped) }
    // x87 at factor × 2000: the registry budget scaled with the corpus
    val budget = factor.toLong *
      graft.queries.CurationOps.TokenBudgetPerLang
    val budgeted = stage("budget") { budgetStage(quality, budget) }
    stage("shard") { shardStage(budgeted) }

    val loadEnd = graft.Bench.loadAvg()
    val total = results.values.map(_.wall).sum
    val json = results.map { case (n, s) =>
      f""""$n":{"wall":${s.wall}%.2f,"rows_out":${s.rowsOut},""" +
        f""""shuffle_write_mb":${s.shufWrite / 1e6}%.1f,""" +
        f""""shuffle_read_mb":${s.shufRead / 1e6}%.1f,""" +
        f""""peak_exchange_mb":${s.peakStageShufWrite / 1e6}%.1f}"""
    }.mkString("{", ",", "}")
    println(
      f"""{"metric":"rehearsal","factor":$factor,"docs_in":$inDocs,""" +
        f""""total_wall":$total%.2f,"stages":$json,""" +
        f""""load_start":$load0%.2f,"load_end":$loadEnd%.2f}""")
    spark.stop()
  }
}
