package graft.sources

import graft.SparkSpec
import graft.operators.{Dedup, EmbedHistory, IvfStore, Multimodal}
import graft.queries.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The RESTART path for every incremental store: a new application (here
  * simulated by dropping the session registry entry while the persisted
  * tables remain) re-attaches with `attach()` instead of rebuilding — at
  * store scale a rebuild is exactly what the persisted table exists to
  * avoid. Each member: create → probe → invalidate (registry only) →
  * attach → probe answers IDENTICALLY → append still lands (the attach
  * carries the bucket layout). Plus the EmbedHistory ownership contract:
  * an attached external IvfStore is never deleted by eviction or
  * invalidate.
  */
class AttachSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-attach-$tag").toString

  private val baseText =
    (1 to 29).map(i => s"tok$i").mkString(" ") + " tail"
  private val novelText =
    (1 to 30).map(i => s"novel$i").mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, t) => (id, t, "en", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "n_chars")

  test("HashHistory: attach re-serves the store and appends land") {
    val dir = freshDir("hash")
    val hist = docs(1L -> baseText)
    HashHistory.create(spark, dir,
      hist.select(unhex(md5(col("text"))).as("th")), buckets = 4)
    def probe(): Set[(Long, String)] =
      Dedup.incrementalStatusBinary(docs(10L -> baseText, 11L -> novelText),
          HashHistory.scanOrCompute(spark, dir)(sys.error("unreachable")))
        .as[(Long, String)].collect().toSet
    val before = probe()
    assert(before == Set((10L, "dup_of_history"), (11L, "kept")))
    HashHistory.invalidate(spark, dir)
    assert(HashHistory.registeredTable(spark, dir).isEmpty)
    HashHistory.attach(spark, dir, buckets = 4)
    assert(probe() == before, "attach served a different answer")
    HashHistory.append(spark, dir,
      docs(20L -> novelText).select(unhex(md5(col("text"))).as("th")))
    assert(probe() == Set((10L, "dup_of_history"), (11L, "dup_of_history")),
      "post-attach append not visible")
    HashHistory.invalidate(spark, dir)
  }

  test("GramHistory: attach re-serves the store and appends land") {
    val dir = freshDir("gram")
    GramHistory.create(spark, dir, docs(1L -> baseText), TextOps.DupGramK,
      buckets = 4)
    def frac(): Map[Long, Double] =
      Dedup.incrementalDupGrams(docs(10L -> baseText, 11L -> novelText),
          GramHistory.scanOrCompute(spark, dir)(sys.error("unreachable")),
          k = TextOps.DupGramK)
        .select(col("doc_id"), col("hist_frac"))
        .as[(Long, Double)].collect().toMap
    val before = frac()
    assert(before(10L) == 1.0 && before(11L) == 0.0)
    GramHistory.invalidate(spark, dir)
    GramHistory.attach(spark, dir, buckets = 4)
    assert(frac() == before)
    GramHistory.append(spark, dir,
      GramHistory.gramHashes(docs(20L -> novelText), TextOps.DupGramK))
    assert(frac()(11L) == 1.0, "post-attach append not visible")
    GramHistory.invalidate(spark, dir)
  }

  test("MinHashHistory: attach re-serves both relations and appends land") {
    val dir = freshDir("mh")
    val hist = docs(1L -> baseText)
    MinHashHistory.create(spark, dir, TextOps.minHashBandsOf(hist),
      TextOps.minHashShinglesOf(hist), buckets = 4)
    def pairs(): Set[(Long, Long)] = {
      val (bands, sh) = MinHashHistory.scanOrCompute(spark, dir)(
        sys.error("unreachable"))
      Dedup.incrementalNearDups(
          TextOps.shingleArrays(docs(10L -> baseText, 11L -> novelText)),
          bands, sh)
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    }
    val before = pairs()
    assert(before == Set((10L, 1L)))
    MinHashHistory.invalidate(spark, dir)
    MinHashHistory.attach(spark, dir, buckets = 4)
    assert(pairs() == before)
    val inc = docs(20L -> novelText)
    MinHashHistory.append(spark, dir, TextOps.minHashBandsOf(inc),
      TextOps.minHashShinglesOf(inc))
    assert(pairs() == Set((10L, 1L), (11L, 20L)),
      "post-attach append not visible")
    MinHashHistory.invalidate(spark, dir)
  }

  // tiny deterministic payloads for the three media stores
  private def payload(seed: Long): Array[Byte] =
    Array.tabulate(640)(i => (((i + seed) * 2654435761L >> 3) & 0xff).toByte)

  test("PhashHistory: attach re-serves the store and appends land") {
    val dir = freshDir("phash")
    val histFps = Multimodal.payloadFingerprints(
      Seq((1L, payload(1))).toDF("media_id", "content"))
    PhashHistory.create(spark, dir, histFps, buckets = 4)
    val batch = Seq((10L, payload(1)), (11L, payload(997)))
      .toDF("media_id", "content")
    def hits(): Set[(Long, Long)] =
      Multimodal.incrementalPayloadNearDups(batch,
          PhashHistory.scanOrCompute(spark, dir)(sys.error("unreachable")))
        .select(col("hist_id"), col("batch_id"))
        .as[(Long, Long)].collect().toSet
    val before = hits()
    assert(before == Set((1L, 10L)))
    PhashHistory.invalidate(spark, dir)
    PhashHistory.attach(spark, dir, buckets = 4)
    assert(hits() == before)
    PhashHistory.append(spark, dir, Multimodal.payloadFingerprints(
      Seq((20L, payload(997))).toDF("media_id", "content")))
    assert(hits() == Set((1L, 10L), (20L, 11L)),
      "post-attach append not visible")
    PhashHistory.invalidate(spark, dir)
  }

  test("FrameHistory: attach requires BOTH tables and appends land") {
    val dir = freshDir("frame")
    def frames(rows: (Long, Array[Byte])*): DataFrame =
      Multimodal.videoFrameRows(rows.toSeq.map { case (id, c) => (id, c, 8) }
        .toDF("media_id", "content", "n_frames"))
    FrameHistory.create(spark, dir, frames(1L -> payload(1)), buckets = 4)
    val batchFrames = frames(10L -> payload(1), 11L -> payload(997))
    def pairs(): Set[(Long, Long)] = {
      val (hf, hs) = FrameHistory.scanOrCompute(spark, dir)(
        sys.error("unreachable"))
      Multimodal.incrementalVideoNearDups(batchFrames, hf, hs)
        .select(col("hist_id"), col("batch_id"))
        .as[(Long, Long)].collect().toSet
    }
    val before = pairs()
    assert(before == Set((1L, 10L)))
    FrameHistory.invalidate(spark, dir)
    FrameHistory.attach(spark, dir, buckets = 4)
    assert(pairs() == before)
    FrameHistory.append(spark, dir, frames(20L -> payload(997)))
    assert(pairs() == Set((1L, 10L), (20L, 11L)),
      "post-attach append not visible")
    FrameHistory.invalidate(spark, dir)
  }

  test("LandmarkHistory: attach re-serves the store and appends land") {
    val dir = freshDir("lm")
    // repeated-sentence payloads (the CurationStreamsSpec audio fixture
    // shape — raw pseudo-random bytes yield too few coherent landmarks)
    def audio(seed: Long): Array[Byte] =
      (s"the quick brown fox track number $seed jumps again " * 12)
        .getBytes("UTF-8")
    def lms(rows: (Long, Array[Byte])*): DataFrame =
      Multimodal.audioLandmarkRows(rows.toSeq.toDF("media_id", "content"))
    LandmarkHistory.create(spark, dir, lms(1L -> audio(1)), buckets = 4)
    val batchLms = lms(10L -> audio(1), 11L -> audio(997))
    def pairs(): Set[(Long, Long)] =
      Multimodal.incrementalAudioNearDups(batchLms,
          LandmarkHistory.scanOrCompute(spark, dir)(sys.error("unreachable")))
        .select(col("hist_id"), col("batch_id"))
        .as[(Long, Long)].collect().toSet
    val before = pairs()
    assert(before == Set((1L, 10L)), s"fixture drifted: $before")
    LandmarkHistory.invalidate(spark, dir)
    LandmarkHistory.attach(spark, dir, buckets = 4)
    assert(pairs() == before)
    LandmarkHistory.append(spark, dir, lms(20L -> audio(997)))
    assert(pairs() == Set((1L, 10L), (20L, 11L)),
      "post-attach append not visible")
    LandmarkHistory.invalidate(spark, dir)
  }

  test("attach with the wrong bucket count fails loudly (layout protection)") {
    val hist = docs(1L -> baseText)
    val media = Seq((1L, payload(1))).toDF("media_id", "content")
    val creates: Seq[(BucketedStore[_], String => Unit)] = Seq(
      HashHistory -> (HashHistory.create(spark, _,
        hist.select(unhex(md5(col("text"))).as("th")), buckets = 4)),
      GramHistory -> (GramHistory.create(spark, _, hist, TextOps.DupGramK,
        buckets = 4)),
      MinHashHistory -> (MinHashHistory.create(spark, _,
        TextOps.minHashBandsOf(hist), TextOps.minHashShinglesOf(hist),
        buckets = 4)),
      PhashHistory -> (PhashHistory.create(spark, _,
        Multimodal.payloadFingerprints(media), buckets = 4)),
      FrameHistory -> (FrameHistory.create(spark, _, Multimodal.videoFrameRows(
        media.withColumn("n_frames", lit(8))), buckets = 4)),
      LandmarkHistory -> (LandmarkHistory.create(spark, _,
        Multimodal.audioLandmarkRows(media), buckets = 4)))
    for ((store, create) <- creates) {
      val dir = freshDir("buckets")
      create(dir)
      store.invalidate(spark, dir)
      val e = intercept[IllegalArgumentException](
        store.attach(spark, dir, buckets = 8))
      assert(e.getMessage.contains("corrupt"), e.getMessage)
      store.attach(spark, dir, buckets = 4) // the matching count works
      store.invalidate(spark, dir)
    }
  }

  test("attach on a store that was never created fails loudly") {
    val dir = freshDir("missing")
    intercept[IllegalArgumentException](HashHistory.attach(spark, dir))
    intercept[IllegalArgumentException](GramHistory.attach(spark, dir))
    intercept[IllegalArgumentException](MinHashHistory.attach(spark, dir))
    intercept[IllegalArgumentException](PhashHistory.attach(spark, dir))
    intercept[IllegalArgumentException](FrameHistory.attach(spark, dir))
    intercept[IllegalArgumentException](LandmarkHistory.attach(spark, dir))
    intercept[IllegalArgumentException](
      EmbedHistory.attach(spark, dir, dir + "/nope"))
  }

  test("EmbedHistory: attach serves the external store and NEVER deletes it") {
    val dir = freshDir("embed")
    val store = freshDir("embed-store") + "/idx"
    val vecs = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    IvfStore.create(spark, store, vecs, nlist = 1, kmeansIters = 1)
    EmbedHistory.attach(spark, dir, store)
    // the registry serves the attached path without evaluating history
    val served = EmbedHistory.cachedStore(spark, dir,
      sys.error("attached entry must not rebuild"))
    assert(served == java.nio.file.Paths.get(store).toString)
    // invalidate drops the registration but must NOT delete the external
    // store (the registry did not create it)
    EmbedHistory.invalidate(dir)
    assert(new java.io.File(store, "centroids").exists(),
      "invalidate deleted an ATTACHED external store")
    // re-attach works — the store survived
    EmbedHistory.attach(spark, dir, store)
    assert(IvfStore.search(spark, store,
        Seq((9L, Array.fill(8)(0.5f))).toDF("query_id", "qe"),
        k = 1, nprobe = 1)
      .filter(col("cos_sim") >= 0.999).count() == 1L)
    EmbedHistory.invalidate(dir)
  }
}
