package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import graft.util.LocalSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The STREAMING composition rehearsal — [[CrawlRehearsal]]'s batch gates
  * re-run through the store-as-state streaming twins, all SIX driving one
  * crawl CONCURRENTLY in one SparkSession (gram x102 / payload x109 /
  * audio x113 / video x116 / text near-dup x123 / embedding x124 —
  * exact-doc x86's twin is the bounded-state
  * [[graft.streaming.CurationStreams.incrementalStatus]] form, spec-gated
  * separately). Each twin's spec gates one stream at FIXTURE size; this
  * drives them at corpus size, at the same time, against the same
  * catalog/guard/watermark machinery — the composition surface where the
  * round-11 rehearsal found its two real failures.
  *
  * Two micro-batches per twin:
  *
  *  1. HALF-1 of the base crawl split (id-hash split) — gate A: the
  *     stream's batch-1 output is BIT-IDENTICAL to the batch operator
  *     against the same pre-append store, per twin, while five other
  *     streams run.
  *  2. HALF-2 = verbatim COPIES of half-1's items under +50M ids — gate
  *     B: every eligible copy is recognized against its half-1 original,
  *     proving batch-1's append landed in the store and is served to the
  *     NEXT micro-batch (the store-as-state growth contract), again
  *     under six-stream concurrency.
  *
  * Usage: runMain graft.tools.StreamingCrawlRehearsal [baseSf]
  */
object StreamingCrawlRehearsal {

  private val CopyOffset = 50000000L

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  def main(args: Array[String]): Unit = {
    val load0 = graft.Bench.loadAvg()
    val baseSf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark: SparkSession = LocalSession(
      "spark.sql.warehouse.dir" -> s"/tmp/graft_streamreh_wh_${System.nanoTime}")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    println(s"[streaming-crawl-rehearsal] loadavg $load0 base=$baseSf")

    import graft.operators.{Dedup, IvfStore, Multimodal}
    import graft.queries.{HistoryStores, TextOps, VectorOps}
    import graft.sources._
    import graft.streaming.CurationStreams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    def half(df: DataFrame, idCol: String): DataFrame =
      df.filter(pmod(xxhash64(col(idCol)), lit(2)) === 0)

    // ---- pinned crawl halves --------------------------------------------
    val docsHalf = half(TextOps.x86Split(spark, baseSf)._2, "doc_id")
      .localCheckpoint(true)
    val docsLangHalf = half(TextOps.x123Split(spark, baseSf)._2, "doc_id")
      .localCheckpoint(true)
    val mediaBatch = VectorOps.x109Media(spark, baseSf)
      .filter(!VectorOps.x109IsOriginal || VectorOps.x109MediaBucket >= 60)
    val mediaHalf = half(mediaBatch, "media_id")
      .select(col("media_id"), col("kind"), col("content"),
        col("meta.nFrames").as("n_frames"))
      .localCheckpoint(true)
    val vecsHalf = half(VectorOps.x124Split(spark, baseSf)._2, "vec_id")
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)

    // ---- stores from the split histories (the CrawlRehearsal builds) ----
    // (x86's twin is the bounded-state variant: no HashHistory here)
    HistoryStores.all.filterNot(_.store eq HashHistory).foreach { b =>
      b.store.clearStaleMarker(spark, baseSf)
      b.build(spark, baseSf)
    }
    val ivfDir = java.nio.file.Files.createTempDirectory("graft-streamreh")
      .toString + "/idx"
    IvfStore.create(spark, ivfDir,
      VectorOps.x124Split(spark, baseSf)._1
        .select(col("vec_id"), col("embedding"))): Unit

    // ---- gate-A truths: batch operators vs the pre-append stores --------
    val wantGram = rows(Dedup.incrementalDupGrams(docsHalf,
      GramHistory.scanOrCompute(spark, baseSf)(sys.error("unreachable")),
      k = TextOps.DupGramK))
    val wantPayload = rows(Multimodal.incrementalPayloadNearDups(
      mediaHalf.select(col("media_id"), col("content")),
      PhashHistory.scanOrCompute(spark, baseSf)(sys.error("unreachable"))))
    val audioLmsHalf = Multimodal.audioLandmarkRows(
        mediaHalf.filter(col("kind") === "audio")
          .select(col("media_id"), col("content")))
      .localCheckpoint(true)
    val wantAudio = rows(Multimodal.incrementalAudioNearDups(audioLmsHalf,
      LandmarkHistory.scanOrCompute(spark, baseSf)(sys.error("unreachable"))))
    val videoHalf = mediaHalf.filter(col("kind") === "video")
      .select(col("media_id"), col("content"), col("n_frames"))
      .localCheckpoint(true)
    val (hf0, hs0) = FrameHistory.scanOrCompute(spark, baseSf)(
      sys.error("unreachable"))
    val wantVideo = rows(Multimodal.incrementalVideoNearDups(
      Multimodal.videoFrameRows(videoHalf), hf0, hs0))
    val arrsHalf = TextOps.shingleArrays(docsLangHalf).localCheckpoint(true)
    val (bands0, sh0) = MinHashHistory.scanOrCompute(spark, baseSf)(
      sys.error("unreachable"))
    val wantNearDup = rows(Dedup.incrementalNearDups(arrsHalf, bands0, sh0))
    val wantEmbed = rows(IvfStore.search(spark, ivfDir,
        vecsHalf.select(col("vec_id").as("query_id"),
          col("embedding").as("qe")), k = 4, nprobe = 4)
      .filter(col("cos_sim") >= 0.999)
      .select(col("query_id").as("batch_id"), col("vec_id").as("hist_id"),
        round(col("cos_sim"), 4).as("cos_sim")))

    // ---- six concurrent streams -----------------------------------------
    final case class Twin(name: String,
        addHalf: Int => Unit,   // 1 = originals, 2 = +50M copies
        q: org.apache.spark.sql.streaming.StreamingQuery,
        out: ConcurrentLinkedQueue[Row],
        want1: Set[Seq[Any]],
        copyGateMisses: Seq[Row] => Long) // eligible copies unrecognized

    def sinkInto(out: ConcurrentLinkedQueue[Row]): DataFrame => Unit =
      df => df.collect().foreach(out.add)

    def startTwin(name: String, want1: Set[Seq[Any]],
                  mk: (DataFrame => Unit) => (Int => Unit,
                    org.apache.spark.sql.streaming.StreamingQuery),
                  gate: Seq[Row] => Long): Twin = {
      val out = new ConcurrentLinkedQueue[Row]()
      val (add, q) = mk(sinkInto(out))
      Twin(name, add, q, out, want1, gate)
    }

    // per-modality copy eligibility + recognition (gate B)
    def missing(copies: Seq[Long], recognized: Set[Long]): Long =
      copies.count(id => !recognized.contains(id))

    val gramEligible = docsHalf
      .filter(length(col("text")) >= TextOps.DupGramK)
      .select(col("doc_id")).as[Long].collect().toSeq.map(_ + CopyOffset)
    val payloadEligible = mediaHalf.select(col("media_id")).as[Long]
      .collect().toSeq.map(_ + CopyOffset)
    val audioEligible = audioLmsHalf.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 5)
      .select(col("media_id")).as[Long].collect().toSeq.map(_ + CopyOffset)
    val videoEligible = Multimodal.videoFrameRows(videoHalf)
      .select(col("media_id")).distinct().as[Long].collect().toSeq
      .map(_ + CopyOffset)
    val textEligible = arrsHalf.filter(col("lang").isNotNull)
      .select(col("doc_id")).as[Long].collect().toSeq.map(_ + CopyOffset)
    val embedEligible = vecsHalf.select(col("vec_id")).as[Long]
      .collect().toSeq.map(_ + CopyOffset)

    val memDocs = MemoryStream[(Long, String)]
    val memDocsLang = MemoryStream[(Long, String, String, Long)]
    val memPayload = MemoryStream[(Long, Array[Byte])]
    val memAudio = MemoryStream[(Long, Array[Byte])]
    val memVideo = MemoryStream[(Long, Array[Byte], Int)]
    val memVecs = MemoryStream[(Long, Array[Float])]

    val docRows = docsHalf.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val docLangRows = docsLangHalf
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .as[(Long, String, String, Long)].collect().toSeq
    val payloadRows = mediaHalf.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])].collect().toSeq
    val audioRows = mediaHalf.filter(col("kind") === "audio")
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])].collect().toSeq
    val videoRows = videoHalf
      .select(col("media_id"), col("content"), col("n_frames"))
      .as[(Long, Array[Byte], Int)].collect().toSeq
    val vecRows = vecsHalf.as[(Long, Array[Float])].collect().toSeq

    val twins = Seq(
      startTwin("x102_gram", wantGram, sink => (
        n => { memDocs.addData(docRows.map(r =>
            if (n == 1) r else (r._1 + CopyOffset, r._2))): Unit },
        CurationStreams.incrementalDupGrams(
          memDocs.toDF().toDF("doc_id", "text"), baseSf,
          TextOps.DupGramK, sink).start()),
        out => missing(gramEligible, out
          .filter(r => r.getAs[Long]("doc_id") > CopyOffset &&
            r.getAs[Double]("hist_frac") == 1.0)
          .map(_.getAs[Long]("doc_id")).toSet)),
      startTwin("x109_payload", wantPayload, sink => (
        n => { memPayload.addData(payloadRows.map(r =>
            if (n == 1) r else (r._1 + CopyOffset, r._2))): Unit },
        CurationStreams.incrementalPayloadNearDups(
          memPayload.toDF().toDF("media_id", "content"), baseSf, sink)
          .start()),
        out => missing(payloadEligible, out
          .filter(r => r.getAs[Long]("batch_id") ==
              r.getAs[Long]("hist_id") + CopyOffset &&
            r.getAs[Int]("hamming") == 0)
          .map(_.getAs[Long]("batch_id")).toSet)),
      startTwin("x113_audio", wantAudio, sink => (
        n => { memAudio.addData(audioRows.map(r =>
            if (n == 1) r else (r._1 + CopyOffset, r._2))): Unit },
        CurationStreams.incrementalAudioProbe(
          memAudio.toDF().toDF("media_id", "content"), baseSf, sink)
          .start()),
        out => missing(audioEligible, out
          .filter(r => r.getAs[Long]("batch_id") ==
            r.getAs[Long]("hist_id") + CopyOffset)
          .map(_.getAs[Long]("batch_id")).toSet)),
      startTwin("x116_video", wantVideo, sink => (
        n => { memVideo.addData(videoRows.map(r =>
            if (n == 1) r else (r._1 + CopyOffset, r._2, r._3))): Unit },
        CurationStreams.incrementalVideoNearDups(
          memVideo.toDF().toDF("media_id", "content", "n_frames"),
          baseSf, sink).start()),
        out => missing(videoEligible, out
          .filter(r => r.getAs[Long]("batch_id") ==
              r.getAs[Long]("hist_id") + CopyOffset &&
            r.getAs[Double]("jaccard") == 1.0)
          .map(_.getAs[Long]("batch_id")).toSet)),
      startTwin("x123_neardup", wantNearDup, sink => (
        n => { memDocsLang.addData(docLangRows.map(r =>
            if (n == 1) r else (r._1 + CopyOffset, r._2, r._3, r._4))): Unit },
        CurationStreams.incrementalNearDups(
          memDocsLang.toDF().toDF("doc_id", "text", "lang", "n_chars"),
          baseSf, sink).start()),
        out => missing(textEligible, out
          .filter(r => r.getAs[Long]("doc_a") ==
              r.getAs[Long]("doc_b") + CopyOffset &&
            r.getAs[Double]("jaccard") == 1.0)
          .map(_.getAs[Long]("doc_a")).toSet)),
      startTwin("x124_embed", wantEmbed, sink => (
        n => { memVecs.addData(vecRows.map(r =>
            if (n == 1) r else (r._1 + CopyOffset, r._2))): Unit },
        CurationStreams.incrementalEmbedProbe(
          memVecs.toDF().toDF("vec_id", "embedding"), ivfDir, sink)
          .start()),
        out => missing(embedEligible, out
          .filter(r => r.getAs[Long]("batch_id") ==
              r.getAs[Long]("hist_id") + CopyOffset &&
            r.getAs[Double]("cos_sim") == 1.0)
          .map(_.getAs[Long]("batch_id")).toSet)))

    try {
      import scala.jdk.CollectionConverters._
      // ---- micro-batch 1: all six at once, then gate A ------------------
      val t1 = System.nanoTime()
      twins.foreach(_.addHalf(1))
      twins.foreach(_.q.processAllAvailable())
      val wall1 = (System.nanoTime() - t1) / 1e9
      twins.foreach { t =>
        val got = t.out.asScala.map(_.toSeq).toSet
        assert(got == t.want1, s"${t.name}: concurrent stream batch-1 " +
          s"diverged from the batch operator (${got.size} vs " +
          s"${t.want1.size} rows)")
      }
      val batch1Counts = twins.map(t => t.name -> t.out.size).toMap
      println(f"STREAMING-CRAWL batch1 wall=$wall1%.1f s " +
        s"rows=$batch1Counts gateA=identicalx${twins.size}")

      // ---- micro-batch 2: verbatim copies, then gate B -------------------
      val marks1 = twins.map(_.out.asScala.toSeq) // batch-1 rows per twin
      val t2 = System.nanoTime()
      twins.foreach(_.addHalf(2))
      twins.foreach(_.q.processAllAvailable())
      val wall2 = (System.nanoTime() - t2) / 1e9
      twins.zip(marks1).foreach { case (t, before) =>
        val delta = t.out.asScala.toSeq.diff(before)
        val misses = t.copyGateMisses(delta)
        assert(misses == 0L, s"${t.name}: $misses eligible copies not " +
          "recognized against their batch-1 originals (store growth " +
          "not visible to the next micro-batch)")
      }
      println(f"STREAMING-CRAWL batch2 wall=$wall2%.1f s " +
        s"gateB=all-copies-recognizedx${twins.size} " +
        f"load=${graft.Bench.loadAvg()}%.2f")
      // post-run saturation loudness (DEDUP_TUNING §5.1) for the two
      // bloom-sidecar stores THIS rehearsal's twins append to (gram
      // x102, band x123 — exact-doc x86's twin is the bounded-state
      // variant and builds no HashHistory here)
      def satLine(name: String, s: Option[graft.sources.KeyBloom.Saturation])
          : String = s.map(v => s"$name[${v.render}]")
        .getOrElse(s"$name[no-sidecar]")
      println("STREAMING-CRAWL drift " +
        satLine("gram", GramHistory.bloomStat(spark, baseSf)) + " " +
        satLine("band", MinHashHistory.bloomStat(spark, baseSf)))
    } finally {
      twins.foreach(t => try t.q.stop() catch { case _: Throwable => () })
    }
    spark.stop()
  }
}
