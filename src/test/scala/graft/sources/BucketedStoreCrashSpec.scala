package graft.sources

import graft.SparkSpec
import graft.operators.{Dedup, Multimodal}
import graft.queries.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The append crash point for every [[BucketedStore]]: an increment that
  * throws while it is evaluated (mid-fold for the sidecar stores, mid-write
  * for all) must propagate, leave every table's rows and the probe answers
  * as they were, and release the mutation marker so the next append lands
  * at once. The sidecar stores also drop their sidecar (it may miss keys),
  * so their bloom-path probes stay exact over the plain scan.
  */
class BucketedStoreCrashSpec extends SparkSpec {

  import spark.implicits._

  private val K = TextOps.DupGramK

  private val baseText = (1 to 29).map(i => s"tok$i").mkString(" ") + " tail"
  private val novelText = (1 to 30).map(i => s"novel$i").mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, t) => (id, t, "en", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "n_chars")

  private def payload(seed: Long): Array[Byte] =
    Array.tabulate(640)(i => (((i + seed) * 2654435761L >> 3) & 0xff).toByte)

  private def audio(seed: Long): Array[Byte] =
    (s"the quick brown fox track number $seed jumps again " * 12)
      .getBytes("UTF-8")

  private def frames(rows: (Long, Array[Byte])*): DataFrame =
    Multimodal.videoFrameRows(rows.toSeq.map { case (id, c) => (id, c, 8) }
      .toDF("media_id", "content", "n_frames"))

  private def lms(rows: (Long, Array[Byte])*): DataFrame =
    Multimodal.audioLandmarkRows(rows.toSeq.toDF("media_id", "content"))

  private def fps(rows: (Long, Array[Byte])*): DataFrame =
    Multimodal.payloadFingerprints(rows.toSeq.toDF("media_id", "content"))

  private val batchDocs = docs(10L -> baseText, 11L -> novelText)

  /** One store under test: `append(dir, f)` appends the store's novel
    * increment with every input frame passed through `f`; `probe` answers
    * for a batch holding one history copy and the novel item.
    */
  private final case class Fixture(name: String, store: BucketedStore[_],
                                   create: String => Unit,
                                   append: (String, DataFrame => DataFrame) => Unit,
                                   probe: String => Set[Any],
                                   before: Set[Any], after: Set[Any],
                                   bloom: Boolean)

  private val fixtures = Seq(
    Fixture("hash", HashHistory,
      dir => HashHistory.create(spark, dir,
        docs(1L -> baseText).select(unhex(md5(col("text"))).as("th")),
        buckets = 4),
      (dir, f) => HashHistory.append(spark, dir,
        f(docs(20L -> novelText).select(unhex(md5(col("text"))).as("th")))),
      dir => Dedup.incrementalStatusBinary(batchDocs,
          HashHistory.probeHistory(spark, dir,
            batchDocs.select(unhex(md5(col("text"))).as("th")))(
            sys.error("unreachable")))
        .as[(Long, String)].collect().toSet[Any],
      before = Set((10L, "dup_of_history"), (11L, "kept")),
      after = Set((10L, "dup_of_history"), (11L, "dup_of_history")),
      bloom = true),
    Fixture("gram", GramHistory,
      dir => GramHistory.create(spark, dir, docs(1L -> baseText), K,
        buckets = 4),
      (dir, f) => GramHistory.append(spark, dir,
        f(GramHistory.gramHashes(docs(20L -> novelText), K))),
      dir => Dedup.incrementalDupGrams(batchDocs,
          GramHistory.probeHistory(spark, dir,
            GramHistory.gramHashes(batchDocs, K))(sys.error("unreachable")),
          k = K, broadcastProbe = false)
        .select(col("doc_id"), col("hist_frac"))
        .as[(Long, Double)].collect().toSet[Any],
      before = Set((10L, 1.0), (11L, 0.0)),
      after = Set((10L, 1.0), (11L, 1.0)),
      bloom = true),
    Fixture("minhash", MinHashHistory,
      dir => MinHashHistory.create(spark, dir,
        TextOps.minHashBandsOf(docs(1L -> baseText)),
        TextOps.minHashShinglesOf(docs(1L -> baseText)), buckets = 4),
      (dir, f) => MinHashHistory.append(spark, dir,
        f(TextOps.minHashBandsOf(docs(20L -> novelText))),
        f(TextOps.minHashShinglesOf(docs(20L -> novelText)))),
      { dir =>
        val (bands, sh) = MinHashHistory.scanOrCompute(spark, dir)(
          sys.error("unreachable"))
        Dedup.incrementalNearDups(TextOps.shingleArrays(batchDocs), bands, sh,
            bandReducer = MinHashHistory.bandScanReducer(spark, dir))
          .select(col("doc_a"), col("doc_b"))
          .as[(Long, Long)].collect().toSet[Any]
      },
      before = Set((10L, 1L)),
      after = Set((10L, 1L), (11L, 20L)),
      bloom = true),
    Fixture("phash", PhashHistory,
      dir => PhashHistory.create(spark, dir, fps(1L -> payload(1)),
        buckets = 4),
      (dir, f) => PhashHistory.append(spark, dir, f(fps(20L -> payload(997)))),
      dir => Multimodal.incrementalPayloadNearDups(
          Seq((10L, payload(1)), (11L, payload(997)))
            .toDF("media_id", "content"),
          PhashHistory.scanOrCompute(spark, dir)(sys.error("unreachable")))
        .select(col("hist_id"), col("batch_id"))
        .as[(Long, Long)].collect().toSet[Any],
      before = Set((1L, 10L)),
      after = Set((1L, 10L), (20L, 11L)),
      bloom = false),
    Fixture("landmark", LandmarkHistory,
      dir => LandmarkHistory.create(spark, dir, lms(1L -> audio(1)),
        buckets = 4),
      (dir, f) => LandmarkHistory.append(spark, dir, f(lms(20L -> audio(997)))),
      dir => Multimodal.incrementalAudioNearDups(
          lms(10L -> audio(1), 11L -> audio(997)),
          LandmarkHistory.scanOrCompute(spark, dir)(sys.error("unreachable")))
        .select(col("hist_id"), col("batch_id"))
        .as[(Long, Long)].collect().toSet[Any],
      before = Set((1L, 10L)),
      after = Set((1L, 10L), (20L, 11L)),
      bloom = false),
    Fixture("frame", FrameHistory,
      dir => FrameHistory.create(spark, dir, frames(1L -> payload(1)),
        buckets = 4),
      (dir, f) => FrameHistory.append(spark, dir,
        f(frames(20L -> payload(997)))),
      { dir =>
        val (hf, hs) = FrameHistory.scanOrCompute(spark, dir)(
          sys.error("unreachable"))
        Multimodal.incrementalVideoNearDups(
            frames(10L -> payload(1), 11L -> payload(997)), hf, hs)
          .select(col("hist_id"), col("batch_id"))
          .as[(Long, Long)].collect().toSet[Any]
      },
      before = Set((1L, 10L)),
      after = Set((1L, 10L), (20L, 11L)),
      bloom = false))

  // throws on the first row it evaluates
  private def poison(df: DataFrame): DataFrame =
    df.filter(raise_error(lit("crash-point")).isNull)

  /** Every row of the store's tables (main + siblings), binary-safe. */
  private def tableRows(store: BucketedStore[_], dir: String): Seq[Seq[String]] =
    Seq("", "_sh", "_sizes").map(store.tableFor(dir) + _)
      .filter(spark.catalog.tableExists)
      .map(t => spark.table(t).toJSON.collect().toSeq.sorted)

  fixtures.foreach { fx =>
    test(s"${fx.name}: an append whose increment throws leaves the store as it was") {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-crash-${fx.name}").toString
      // a marker left behind would fail the next append at once
      spark.conf.set("spark.graft.store.guardWaitMillis", "0")
      try {
        fx.create(dir)
        assert(fx.probe(dir) == fx.before, "fixture drifted")
        assert(fx.store.bloomStat(spark, dir).isDefined == fx.bloom)
        val rows = tableRows(fx.store, dir)

        val e = intercept[Exception](fx.append(dir, poison))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains("crash-point")),
          s"a different failure surfaced: $e")
        assert(tableRows(fx.store, dir) == rows, "rows changed")
        assert(fx.probe(dir) == fx.before, "answers changed")
        val base = Bucketing.guardBase(spark, fx.store.tableFor(dir))
        assert(!WriterLease(base).held(new org.apache.hadoop.fs.Path(base)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)),
          "guard marker left behind")
        // a sidecar that may miss keys after a failed fold is dropped
        assert(fx.store.bloomStat(spark, dir).isEmpty)

        fx.append(dir, identity)
        assert(fx.probe(dir) == fx.after, "the next append did not land")
      } finally {
        spark.conf.unset("spark.graft.store.guardWaitMillis")
        fx.store.invalidate(spark, dir)
      }
    }
  }
}
