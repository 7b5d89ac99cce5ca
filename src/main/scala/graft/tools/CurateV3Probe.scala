package graft.tools

import graft.util.LocalSession
import org.apache.spark.sql.functions._

/** Wall-clock evidence for curateV3 (the streaming removal-first
  * curation pipeline): drives N micro-batches of the scaled corpus
  * through the exact production batch body
  * ([[graft.streaming.CurationStreams.curateV3Batch]]) against a GROWING
  * [[graft.sources.GramHistory]] store, measuring per-batch wall vs
  * batch index — the store-as-state contract says the cost must stay
  * BATCH-sized as history grows (probe rides the store's bucket layout
  * with no history-side exchange).
  *
  * Correctness side: every batch's sink output is compared against the
  * STORELESS batch composition ([[graft.streaming.CurationStreams
  * .curateV3Frame]] with an in-memory gram union grown batch-by-batch) —
  * the bucketed store + replay-watermark path must be invisible to the
  * results (the N-batch ≡ N-sequential-batch-runs contract of the x118
  * twin, here driven at corpus scale instead of fixture scale).
  *
  * The frozen model and the nll threshold are derived OFFLINE from the
  * reference window (first arg), the production posture curateV3's
  * scaladoc prescribes — never from the batch being curated.
  *
  * Usage: runMain graft.tools.CurateV3Probe [refDir] [corpusDir] [nBatches]
  * (defaults: /root/testdata/sf0.1 /tmp/graft_scale10 10)
  */
object CurateV3Probe {

  def main(args: Array[String]): Unit = {
    val refDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val corpusDir = if (args.length > 1) args(1) else "/tmp/graft_scale10"
    val nBatches = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession()
    import spark.implicits._
    println(s"[curatev3-probe] loadavg ${graft.Bench.loadAvg()} " +
      s"ref=$refDir corpus=$corpusDir batches=$nBatches")

    val k = graft.queries.TextOps.DupGramK
    import graft.operators.{Percentiles, UnigramLm}
    // offline model + threshold from the reference window
    val ref = graft.queries.Tables.documents(spark, refDir)
    val (vocab, scalars) = UnigramLm.train(ref)
    val model = UnigramLm.freeze(vocab, scalars)
    val scoredRef = UnigramLm.selfScore(ref)
      .select(round(col("nll") * UnigramLm.LnScale.toDouble)
        .cast("long").as("v"))
    val maxNll = Percentiles.exactThreshold(scoredRef, "v", 9L, 10L)
      .toDouble / UnigramLm.LnScale.toDouble
    println(f"[curatev3-probe] offline maxNll=$maxNll%.6f")

    val storeDir = s"/tmp/graft_curatev3_probe"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(storeDir))
    graft.sources.GramHistory.create(spark, storeDir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), k)

    val docs = graft.queries.Tables.documents(spark, corpusDir)
      .localCheckpoint(true)
    val guard = new graft.sources.StreamMark.Guard
    var histGrams = Seq.empty[Long].toDF(graft.sources.GramHistory.GramCol)
      .localCheckpoint(true)
    val walls = Seq.newBuilder[Double]
    for (b <- 0 until nBatches) {
      val batch = docs.filter(pmod(xxhash64(col("doc_id")), lit(nBatches)) === b)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      val t0 = System.nanoTime()
      graft.streaming.CurationStreams.curateV3Batch(
        batch, b.toLong, storeDir, k, model, maxNll,
        df => out ++= df.select(col("doc_id"), col("removed_chars"),
          col("nll")).as[(Long, Long, Double)].collect(),
        guard, inc => graft.sources.GramHistory.append(spark, storeDir, inc))
      val wall = (System.nanoTime() - t0) / 1e9
      walls += wall
      // storeless twin on the SAME batch against the in-memory gram union
      val want = graft.streaming.CurationStreams
        .curateV3Frame(batch, histGrams, k, model, maxNll, 5, 0.2)
        .select(col("doc_id"), col("removed_chars"), col("nll"))
        .as[(Long, Long, Double)].collect().toSet
      val equal = out.toSet == want
      val storeGrams = spark.table(
        graft.sources.GramHistory.registeredTable(spark, storeDir).get).count()
      val nIn = batch.count()
      println(f"CURATEV3 batch=$b wall=$wall%.2f s in=$nIn kept=${out.size} " +
        f"store_grams=$storeGrams batch_equal=$equal " +
        f"load=${graft.Bench.loadAvg()}%.2f")
      assert(equal,
        s"batch $b: store path diverged from the storeless composition")
      // the twin's gram union only matters while there is a NEXT batch to
      // check — the post-last-batch distinct+checkpoint is corpus-history-
      // sized wasted work (and at 100× its block-manager pressure can
      // evict the prior checkpoint mid-job)
      if (b < nBatches - 1) {
        histGrams = histGrams
          .unionByName(graft.sources.GramHistory.gramHashes(batch, k))
          .distinct().localCheckpoint(true)
      }
    }
    val w = walls.result()
    println(f"CURATEV3-SUMMARY corpus=$corpusDir batches=$nBatches " +
      f"first=${w.head}%.2f s last=${w.last}%.2f s " +
      f"max=${w.max}%.2f s mean=${w.sum / w.size}%.2f s")
    graft.sources.GramHistory.invalidate(spark, storeDir)
    spark.stop()
  }
}
