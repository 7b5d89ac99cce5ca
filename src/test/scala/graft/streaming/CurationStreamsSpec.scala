package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, struct, sum}
import graft.SparkSpec

class CurationStreamsSpec extends SparkSpec {

  final case class Doc(doc_id: Long, ts: Timestamp, text: String,
                       lang: String, source: String)

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2026-03-01 $hhmm:00")

  private def drive(batches: Seq[Seq[Doc]]): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Doc]
    val q = CurationStreams.curate(mem.toDF())
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table("curated").collect().toSeq
  }

  private val good =
    "the quick brown fox jumps over the lazy dog again and again"

  test("quality gates drop short and punctuation-heavy docs") {
    val rows = drive(Seq(Seq(
      Doc(1, ts("10:00"), good, "en", "s"),
      Doc(2, ts("10:01"), "too short", "en", "s"),
      Doc(3, ts("10:02"), "!!! ??? ... ;;; ::: ,,, one two three four five", "en", "s"))))
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(1L))
  }

  test("empty text survives the gate expressions (no ANSI divide-by-zero)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Doc]
    // minTokens = 0 forces the punct_ratio expression to evaluate on len 0
    val q = CurationStreams.curate(mem.toDF(), minTokens = 0)
      .writeStream.format("memory").queryName("curated_empty")
      .outputMode("append").start()
    try {
      mem.addData(Seq(Doc(1, ts("10:00"), "", "en", "s"),
        Doc(2, ts("10:01"), good, "en", "s")))
      q.processAllAvailable() // would throw DIVIDE_BY_ZERO without the guard
    } finally q.stop()
    val ids = spark.table("curated_empty").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(2L)) // empty doc scored as all-punct and dropped
  }

  test("within-watermark duplicates collapse to one admitted doc") {
    val rows = drive(Seq(
      Seq(Doc(1, ts("10:00"), good, "en", "s"),
        Doc(2, ts("10:05"), good, "en", "s")),
      Seq(Doc(3, ts("10:10"), good, "en", "s"),
        Doc(4, ts("10:11"), good + " but different", "en", "s"))))
    // all four share a hash except doc 4
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("doc_id")).toSet.contains(4L))
  }

  test("streaming LSH pairs near-dup docs across batches, skips unrelated") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok7", "tokX") // ~90% shingle overlap
    val unrelated = (1 to 40).map(i => s"other$i").mkString(" ")
    val mem = MemoryStream[Doc]
    val q = CurationStreams.nearDupCandidates(mem.toDF())
      .writeStream.format("memory").queryName("cands")
      .outputMode("append").start()
    try {
      mem.addData(Seq(Doc(1, ts("10:00"), base, "en", "s")))
      q.processAllAvailable()
      mem.addData(Seq(Doc(2, ts("10:05"), nearDup, "en", "s"),
        Doc(3, ts("10:06"), unrelated, "en", "s")))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("cands")
      .select("doc_a", "doc_b").distinct().as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc paired: $pairs")
  }

  test("streaming simhash pairs equal the batch x45 pairs across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // exact dup + one-word variant + unrelated docs, split across batches
    // so cross-batch state pairing is exercised
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val variant = base.replace("tok7", "tokX")
    val unrelated = (1 to 40).map(i => s"other$i word$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), (3L, variant), (4L, unrelated), (5L, base))
    val mem = MemoryStream[Doc]
    val q = CurationStreams.simHashNearDupPairs(mem.toDF())
      .writeStream.format("memory").queryName("shpairs")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(2).zipWithIndex.map { case ((id, t), i) =>
        Doc(id, ts(f"10:0$i"), t, "en", "s") })
      q.processAllAvailable()
      mem.addData(docs.drop(2).zipWithIndex.map { case ((id, t), i) =>
        Doc(id, ts(f"10:1$i"), t, "en", "s") })
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("shpairs")
      .select("doc_a", "doc_b", "hamming").distinct()
      .as[(Long, Long, Int)].collect().toSet
    // the batch plan on the same corpus (uncapped = exact banding)
    val batch = graft.operators.Dedup.simHashNearDups(
        docs.toDF("doc_id", "text"), maxPerBucket = 0)
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
    // sanity on content: exact dups pair at distance 0, unrelated never pairs
    assert(streamed.contains((1L, 2L, 0)) && streamed.contains((1L, 5L, 0)))
    assert(!streamed.exists(p => p._1 == 4L || p._2 == 4L))
  }

  final case class Media(media_id: Long, ts: Timestamp, content: Array[Byte])

  test("streaming payload pairs equal the batch x104 pairs across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    // original payload + its stub-re-encoded variant (the transform a
    // perceptual hash absorbs) + an unrelated payload, split across
    // batches so cross-batch state pairing is exercised
    val base = Array.tabulate(600)(i => ((i * 37 + 11) % 251).toByte)
    val variant = Multimodal.Kernels.stubReencode(base)
    val unrelated = Array.tabulate(600)(i => ((i * i * 13 + 5) % 241).toByte)
    val media = Seq((1L, base), (2L, variant), (3L, unrelated), (4L, base))
    val mem = MemoryStream[Media]
    val q = CurationStreams.payloadNearDupPairs(mem.toDF())
      .writeStream.format("memory").queryName("plpairs")
      .outputMode("append").start()
    try {
      mem.addData(media.take(2).zipWithIndex.map { case ((id, c), i) =>
        Media(id, ts(f"10:0$i"), c) })
      q.processAllAvailable()
      mem.addData(media.drop(2).zipWithIndex.map { case ((id, c), i) =>
        Media(id, ts(f"10:1$i"), c) })
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("plpairs")
      .select("doc_a", "doc_b", "hamming").distinct()
      .as[(Long, Long, Int)].collect().toSet
    // the batch plan (uncapped = exact banding) on the same payloads
    val batch = Multimodal.payloadNearDups(
        media.map { case (id, c) => (id, c) }.toDF("media_id", "content"),
        maxPerBucket = 0)
      .select("media_a", "media_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
    // content sanity: the re-encoded variant pairs with its original and
    // the duplicate original pairs at distance 0; unrelated never pairs
    assert(streamed.contains((1L, 4L, 0)))
    assert(streamed.exists(p => p._1 == 1L && p._2 == 2L))
    assert(!streamed.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("streaming decontamination equals batch x70 on the x70 fixture, stateless, bloom-shaped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the REAL x70 fixture: documents' src0 rows are the eval suite, the
    // rest are the corpus — stream the corpus through in two micro-batches
    // and require bit-identical scores to the batch x70 relation
    val documents = graft.queries.Tables.documents(spark, Sf)
    val bench = graft.operators.Decontaminate.benchSide(
      documents.filter(col("source") === "src0"))
    val corpus = documents.filter(col("source") =!= "src0")
      .select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val (firstHalf, secondHalf) = corpus.splitAt(corpus.length / 2)
    val collected = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    val mem = MemoryStream[(Long, String)]
    val q = CurationStreams.decontaminate(
        mem.toDF().toDF("doc_id", "text"), bench,
        sink = b => collected ++= b.as[(Long, Long, Int)].collect())
      .start()
    try {
      mem.addData(firstHalf.toIndexedSeq); q.processAllAvailable()
      mem.addData(secondHalf.toIndexedSeq); q.processAllAvailable()
      // stateless contract: scoring keeps no cross-batch streaming state
      // (no state store rows, no watermark) — per-batch join+agg only
      val stateOps = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
      assert(stateOps.isEmpty || stateOps.forall(_.numRowsTotal == 0L),
        s"decontamination must be stateless: ${stateOps.mkString(",")}")
    } finally q.stop()
    val batch = graft.SparkEntry.queries("x70_decontaminate")(spark, Sf)
      .select("doc_id", "n_overlap", "contaminated")
      .as[(Long, Long, Int)].collect().toSet
    assert(collected.nonEmpty && collected.toSet == batch,
      s"stream-only: ${collected.toSet -- batch take 5}; " +
        s"batch-only: ${batch -- collected.toSet take 5}")
    bench.release()
  }

  test("streaming vector near-dup pairs equal the batch LSH-bucket plan across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    // 30 random unit-scale vectors + 10 noisy twins (cosine ~0.999): twins
    // arrive in a LATER batch than their bases, so cross-batch state
    // pairing is exercised; random-random cosine on 64 dims is ~0 so the
    // 0.9 threshold keeps only planted pairs
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val bases = (1L to 30L).map(i => i -> vec())
    val twins = bases.take(10).map { case (id, v) =>
      (id + 100L) -> v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    }
    val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
    val q = CurationStreams.vectorNearDupPairs(
        mem.toDF().toDF("vec_id", "ts", "embedding"), threshold = 0.9)
      .writeStream.format("memory").queryName("vecpairs")
      .outputMode("append").start()
    try {
      mem.addData(bases.map { case (id, v) => (id, ts("10:00"), v.toSeq) })
      q.processAllAvailable()
      mem.addData(twins.map { case (id, v) => (id, ts("10:05"), v.toSeq) })
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("vecpairs")
      .select("vec_a", "vec_b", "cos_sim").distinct()
      .as[(Long, Long, Double)].collect().toSet
    // batch reference: the same deterministic hyperplane buckets, per-bucket
    // pairing, exact cosine cut (the native scoring expression shares the
    // state function's summation order, so values are bit-equal)
    val planes = Similarity.gaussianPlanes(64, 64)
    val emb = (bases ++ twins).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val banded = emb.select(col("vec_id"), col("embedding"),
      org.apache.spark.sql.functions.posexplode(
        Similarity.bandBuckets(col("embedding"), planes, 16))
        .as(Seq("band", "bucket")))
    val a = banded.select(col("band"), col("bucket"),
      col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = banded.select(col("band"), col("bucket"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val batch = a.join(b, Seq("band", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", Similarity.cosine(col("ea"), col("eb")))
      .filter(col("cos_sim") >= 0.9)
      .select("vec_a", "vec_b", "cos_sim").distinct()
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"stream-only: ${streamed -- batch take 5}; batch-only: ${batch -- streamed take 5}")
    // every planted twin pair survives (twins collide in most bands)
    (1L to 10L).foreach { id =>
      assert(streamed.exists(p => p._1 == id && p._2 == id + 100L),
        s"planted pair ($id, ${id + 100L}) missed")
    }
  }

  test("streaming semantic dup components equal batch Components over the pair store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-semcc")
    val pairStore = s"$dir/pairs"
    // planted clusters: {1, 101} (twin arrives in batch 2) and
    // {2, 102, 202} (102 with 2 in batch 1; 202's twin-of-102 arrives in
    // batch 2 — the component must CHAIN through 102 across batches);
    // random 64-dim vectors keep background cosine ~0 under the 0.9 cut
    val rnd = new scala.util.Random(23)
    def vec() = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    def twin(v: Array[Float]) = v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val v1 = vec(); val v2 = vec(); val v3 = vec()
    val v102 = twin(v2)
    val batch1 = Seq((1L, ts("10:00"), v1.toSeq), (2L, ts("10:00"), v2.toSeq),
      (102L, ts("10:01"), v102.toSeq), (3L, ts("10:00"), v3.toSeq))
    val batch2 = Seq((101L, ts("10:05"), twin(v1).toSeq),
      (202L, ts("10:05"), twin(v102).toSeq))
    val labelings = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    val storeSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
    val q = CurationStreams.semanticDupComponents(
        mem.toDF().toDF("vec_id", "ts", "embedding"),
        appendPairs = p => p.write.mode("append").parquet(pairStore),
        allPairs = () => spark.read.parquet(pairStore),
        sink = lbl => labelings.synchronized {
          labelings += lbl.collect()
            .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
        },
        threshold = 0.9,
        onStoreSize = n => storeSizes.synchronized { storeSizes += n })
      .option("checkpointLocation", s"$dir/ckp")
      .outputMode("append")
      .start()
    try {
      mem.addData(batch1)
      q.processAllAvailable()
      mem.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()
    // final labeling: both planted clusters resolved, chained across
    // batches; singleton 3 never appears (no pairs)
    val last = labelings.last
    assert(last(1L) == last(101L), s"twin cluster split: $last")
    assert(last(2L) == last(102L) && last(102L) == last(202L),
      s"chained cluster split: $last")
    assert(!last.contains(3L), s"singleton must not be labeled: $last")
    // the streaming resolution equals the batch operator over the SAME
    // accumulated pair store (the parity contract)
    val batch = graft.operators.Components
      .connectedComponents(spark.read.parquet(pairStore),
        srcCol = "vec_a", dstCol = "vec_b")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component"))
      .toMap
    assert(last == batch, s"stream $last != batch $batch")
    // the size metric tracked monotone store growth
    val sizes = storeSizes.toSeq
    assert(sizes.nonEmpty && sizes == sizes.sorted,
      s"store-size metric not monotone: $sizes")
    assert(sizes.last >= 2L, s"store should hold both planted pairs: $sizes")
  }

  test("compacting the pair store mid-stream leaves semantic resolution unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-semcpt")
    // the store path is swappable so compaction can atomically re-point
    // the callbacks at the rewritten relation (production: a manifest or
    // generation-suffixed path, as PairStore.refresh publishes)
    @volatile var storePath = s"$dir/pairs_g0"
    val rnd = new scala.util.Random(31)
    def vec() = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    def twin(v: Array[Float]) = v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val v2 = vec()
    val v102 = twin(v2)
    val v202 = twin(v102)
    val labelings = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
    val q = CurationStreams.semanticDupComponents(
        mem.toDF().toDF("vec_id", "ts", "embedding"),
        appendPairs = p => p.write.mode("append").parquet(storePath),
        allPairs = () => spark.read.parquet(storePath),
        sink = lbl => labelings.synchronized {
          labelings += lbl.collect()
            .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
        },
        threshold = 0.9)
      .option("checkpointLocation", s"$dir/ckp")
      .outputMode("append")
      .start()
    try {
      // batches 1+2 build cluster {2, 102, 202} (102~2, 202~102 chains)
      mem.addData(Seq((2L, ts("10:00"), v2.toSeq), (102L, ts("10:01"), v102.toSeq)))
      q.processAllAvailable()
      mem.addData(Seq((202L, ts("10:05"), v202.toSeq)))
      q.processAllAvailable()
      assert(labelings.last.keySet == Set(2L, 102L, 202L))
      // COMPACT: rewrite the store as its spanning star at a new
      // generation path and swap the pointer (never overwrite-in-place
      // under a potential reader)
      val compacted = graft.operators.Components.compactPairs(
        spark.read.parquet(storePath), srcCol = "vec_a", dstCol = "vec_b")
      val g1 = s"$dir/pairs_g1"
      compacted.write.parquet(g1)
      storePath = g1
      assert(spark.read.parquet(g1).count() == 2L,
        "star of a 3-chain must be 2 pairs")
      // batch 3: a twin of 202 must STILL join the compacted cluster
      // (its pair chains through 202, which the star kept as a member)
      mem.addData(Seq((303L, ts("10:06"), twin(v202).toSeq)))
      q.processAllAvailable()
    } finally q.stop()
    val last = labelings.last
    assert(Set(2L, 102L, 202L, 303L).forall(last.contains), s"missing: $last")
    assert(last.values.toSet == Set(2L), s"cluster split after compaction: $last")
    // and the streamed labeling equals the batch operator over the final store
    val batch = graft.operators.Components
      .connectedComponents(spark.read.parquet(storePath),
        srcCol = "vec_a", dstCol = "vec_b")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component"))
      .toMap
    assert(last == batch, s"stream $last != batch $batch")
  }

  test("curateV2: the frozen-model per-row nll is bit-identical to batch x95") {
    import spark.implicits._
    import graft.operators.UnigramLm
    val documents = graft.queries.Tables.documents(spark, Sf)
    val (vocab, scalars) = UnigramLm.train(documents)
    val model = UnigramLm.freeze(vocab, scalars)
    val batch = graft.SparkEntry.queries("x95_unigram_lm")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val texts = documents.select("doc_id", "text").as[(Long, String)].collect()
    assert(texts.nonEmpty)
    texts.foreach { case (id, t) =>
      assert(model.nll(t) == batch(id), s"doc $id: ${model.nll(t)} != ${batch(id)}")
    }
  }

  test("curateV2 admits exactly the gate + nll + dedup survivors") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.UnigramLm
    val common = "alpha beta alpha beta alpha beta"
    val rare = "zeta omega kappa sigma delta gamma"
    val train = ((1L to 9L).map(i => (i, "s", common)) :+ ((10L, "s", rare)))
      .toDF("doc_id", "source", "text")
    val (vocab, scalars) = UnigramLm.train(train)
    val model = UnigramLm.freeze(vocab, scalars)
    val maxNll = (model.nll(common) + model.nll(rare)) / 2.0
    val mem = MemoryStream[Doc]
    val q = CurationStreams.curateV2(mem.toDF(), model, maxNll)
      .writeStream.format("memory").queryName("curated_v2")
      .outputMode("append").start()
    try {
      mem.addData(Seq(
        Doc(1, ts("10:00"), common, "en", "s"),          // admitted
        Doc(2, ts("10:01"), common, "en", "s"),          // dup of 1 -> dropped
        Doc(3, ts("10:02"), rare, "en", "s"),            // nll gate -> dropped
        Doc(4, ts("10:03"), "too short", "en", "s")))    // length gate -> dropped
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("curated_v2").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L), s"got $ids")
    // nll column rides along for threshold tuning
    assert(spark.table("curated_v2").columns.contains("nll"))
  }

  test("curateV3: removal-first curation — strips corpus spans, gates the residual, grows the store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.UnigramLm
    val k = 5
    val boiler = "abcdeabcdeabcde"
    val quality = "alpha beta gamma delta epsilon zeta eta theta"
    val quality2 = "omega kappa sigma lambda upsilon phi chi psi"
    val fresh = "brand newly minted sentence nobody ever wrote"
    val dir = s"/tmp/curate_v3_spec_${System.nanoTime}"
    val corpus = Seq((1L, boiler)).toDF("doc_id", "text")
    graft.sources.GramHistory.create(spark, dir, corpus, k, buckets = 4)
    val train = Seq((1L, "s", quality), (2L, "s", quality2),
      (3L, "s", fresh)).toDF("doc_id", "source", "text")
    val (vocab, scalars) = UnigramLm.train(train)
    val model = UnigramLm.freeze(vocab, scalars)
    val maxNll = Seq(quality, quality2, fresh).map(model.nll(_)).max + 1.0
    val out = scala.collection.mutable.ListBuffer[(Long, String, Long)]()
    val mem = MemoryStream[Doc]
    val q = CurationStreams.curateV3(mem.toDF(), dir, k, model, maxNll,
        df => out ++= df.select("doc_id", "text", "removed_chars")
          .as[(Long, String, Long)].collect())
      .start()
    try {
      val b1 = Seq(
        Doc(10, ts("10:00"), boiler + " " + quality, "en", "s"), // stripped, kept
        Doc(11, ts("10:01"), boiler, "en", "s"),                 // fully stripped -> too short
        Doc(12, ts("10:02"), quality2, "en", "s"),               // novel, kept untouched
        Doc(13, ts("10:03"), "!!.. ,,;; ::!! ..,, ;;!!", "en", "s")) // punct gate
      mem.addData(b1)
      q.processAllAvailable()
      val got1 = out.toList
      assert(got1.map(_._1).toSet == Set(10L, 12L), s"admitted ${got1}")
      val byId = got1.map(r => r._1 -> ((r._2, r._3))).toMap
      assert(byId(10L) == ((" " + quality, boiler.length.toLong)), byId(10L).toString)
      assert(byId(12L) == ((quality2, 0L)), byId(12L).toString)
      // the stream's micro-batch equals the batch composition exactly
      val want1 = CurationStreams.curateV3Frame(
          b1.map(d => (d.doc_id, d.ts, d.text, d.lang, d.source))
            .toDF("doc_id", "ts", "text", "lang", "source"),
          graft.sources.GramHistory.gramHashes(corpus, k),
          k, model, maxNll, 5, 0.2)
        .select("doc_id", "text", "removed_chars")
        .as[(Long, String, Long)].collect().toSet
      assert(got1.toSet == want1, s"stream ${got1.toSet} != batch $want1")
      // batch 2: doc 12's text is now corpus history (batch 1 appended) —
      // a re-delivery is fully stripped and gated out; fresh text passes
      mem.addData(Seq(Doc(20, ts("10:10"), quality2, "en", "s"),
        Doc(21, ts("10:11"), fresh, "en", "s")))
      q.processAllAvailable()
      val got2 = out.toList.drop(got1.length)
      assert(got2.map(_._1).toSet == Set(21L),
        s"batch-1 content not stripped from batch 2: $got2")
    } finally q.stop()
    graft.sources.GramHistory.invalidate(spark, dir)
  }

  test("streaming drift monitor equals batch x98 against the self-trained reference") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DistributionDrift
    val documents = graft.queries.Tables.documents(spark, Sf)
    val tfRef = DistributionDrift.sliceTokenCounts(documents, "source")
    val vocab = tfRef.groupBy("tok").agg(sum("cs").as("c")).cache()
    val scalars = vocab.agg(sum("c").as("n_total"), count(lit(1)).as("v")).cache()
    vocab.count(); scalars.count()
    val corpus = documents.select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    var collected = Seq.empty[(String, Long, Double, Double)]
    val mem = MemoryStream[(Long, String, String)]
    val q = CurationStreams.driftMonitor(
        mem.toDF().toDF("doc_id", "source", "text"), vocab, scalars,
        sink = r => collected = r.as[(String, Long, Double, Double)].collect().toSeq)
      .start()
    try {
      // ONE batch carrying the whole corpus: per-slice distributions then
      // equal the batch x98 fixture exactly (drift of the corpus against
      // its own model is zero only per-construction when slices == corpus;
      // here slices are sources, so kl matches sourceKl per source)
      mem.addData(corpus.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.SparkEntry.queries("x98_source_kl")(spark, Sf)
      .as[(String, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(collected.nonEmpty && collected.size == batch.size)
    collected.foreach { case (s, n, kl, oov) =>
      assert(batch(s) == ((n, kl)), s"$s: stream ($n,$kl) != batch ${batch(s)}")
      assert(oov == 0.0)
    }
    vocab.unpersist(); scalars.unpersist()
  }

  test("streaming heavy hitters: the cross-batch summary honors the W/(k+1) bound") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // skewed stream: tok_i gets weight max(1, 500/i), split over 3 batches
    val rows = (1 to 60).flatMap { i =>
      Seq.fill(3)((s"tok$i", math.max(1L, 500L / i)))
    }
    val truth = rows.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
    val w = truth.values.sum
    val k = 12
    val bound = w.toDouble / (k + 1)
    var last = Map.empty[String, Long]
    val mem = MemoryStream[(String, Long)]
    val q = CurationStreams.heavyHitters(
        mem.toDF().toDF("tok", "tf"), k, sink = s => last = s)
      .start()
    try {
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    assert(last.nonEmpty && last.size <= k)
    last.foreach { case (t, e) =>
      assert(e <= truth(t), s"$t overcounted: $e > ${truth(t)}")
      assert(truth(t) - e <= bound, s"$t past the bound: ${truth(t)} - $e > $bound")
    }
    truth.filter(_._2 > bound).keys.foreach { t =>
      assert(last.contains(t), s"heavy token $t missing after 3 batches")
    }
  }

  test("streaming perplexity scoring equals batch x95 against the same frozen model") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.UnigramLm
    // model frozen from the full documents corpus, the same corpus
    // streamed through in two micro-batches — per-doc (n_toks, nll) must
    // be bit-identical to the batch x95 relation (same integer-scaled
    // arithmetic, same broadcast join)
    val documents = graft.queries.Tables.documents(spark, Sf)
    val (vocab, scalars) = UnigramLm.train(documents)
    val vocabC = vocab.cache(); vocabC.count()
    val scalarsC = scalars.cache(); scalarsC.count()
    val corpus = documents.select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val (a, b) = corpus.splitAt(corpus.length / 2)
    val collected = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val mem = MemoryStream[(Long, String)]
    val q = CurationStreams.perplexityScore(
        mem.toDF().toDF("doc_id", "text"), vocabC, scalarsC,
        sink = r => collected ++= r.as[(Long, Long, Double)].collect())
      .start()
    try {
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
      val stateOps = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
      assert(stateOps.isEmpty || stateOps.forall(_.numRowsTotal == 0L),
        s"perplexity scoring must be stateless: ${stateOps.mkString(",")}")
    } finally q.stop()
    val batch = graft.SparkEntry.queries("x95_unigram_lm")(spark, Sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(collected.nonEmpty && collected.toSet == batch,
      s"stream-only: ${collected.toSet -- batch take 5}; " +
        s"batch-only: ${batch -- collected.toSet take 5}")
    vocabC.unpersist(); scalarsC.unpersist()
  }

  test("streaming shared-span scoring equals batch x82 against the same frozen vocabulary") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    // the x82 fixture: vocabulary frozen from the full documents corpus,
    // the same corpus streamed through in two micro-batches — per-doc
    // scores must be bit-identical to the batch x82 relation
    val documents = graft.queries.Tables.documents(spark, Sf)
    val vocab = TextAnalysis.sharedSpanVocab(documents).cache()
    vocab.count()
    val corpus = documents.select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val (a, b) = corpus.splitAt(corpus.length / 2)
    val collected = scala.collection.mutable.ArrayBuffer[(Long, Int, Int, Double)]()
    val mem = MemoryStream[(Long, String)]
    val q = CurationStreams.sharedSpans(
        mem.toDF().toDF("doc_id", "text"), vocab,
        sink = r => collected ++= r.as[(Long, Int, Int, Double)].collect())
      .start()
    try {
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
      val stateOps = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
      assert(stateOps.isEmpty || stateOps.forall(_.numRowsTotal == 0L),
        s"shared-span scoring must be stateless: ${stateOps.mkString(",")}")
    } finally q.stop()
    val batch = graft.SparkEntry.queries("x82_shared_spans")(spark, Sf)
      .as[(Long, Int, Int, Double)].collect().toSet
    assert(collected.nonEmpty && collected.toSet == batch,
      s"stream-only: ${collected.toSet -- batch take 5}; " +
        s"batch-only: ${batch -- collected.toSet take 5}")
    vocab.unpersist()
  }

  test("streaming LSH recall: every true near-dup pair surfaces as a candidate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 60 base docs of seeded word soup; every third gets a near-dup twin
    // (one word changed out of 40 -> trigram Jaccard ~0.93)
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "omega", "sigma",
      "kappa", "lambda", "theta", "zeta")
    val bases = (0 until 60).map { i =>
      i.toLong -> Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val twins = bases.collect { case (id, text) if id % 3 == 0 =>
      (id + 1000L) -> text.replaceFirst("\\w+", "changed")
    }
    val truePairs = twins.map { case (tid, _) => (tid - 1000L, tid) }.toSet
    val all = rnd.shuffle(bases ++ twins).zipWithIndex.map { case ((id, t), i) =>
      Doc(id, ts(f"10:${i % 60}%02d"), t, "en", "s")
    }
    val mem = MemoryStream[Doc]
    val q = CurationStreams.nearDupCandidates(mem.toDF(), watermark = "4 hours",
      horizonMs = 4 * 3600 * 1000L)
      .writeStream.format("memory").queryName("recall")
      .outputMode("append").start()
    try all.grouped(30).foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    val cands = spark.table("recall").select("doc_a", "doc_b")
      .distinct().as[(Long, Long)].collect().toSet
    val missed = truePairs.diff(cands)
    assert(missed.isEmpty, s"streaming LSH missed ${missed.size}/${truePairs.size}: $missed")
  }

  test("streaming verified pairs equal the batch x40 pairs on the 80-doc corpus") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the recall corpus: 60 word-soup bases, every third with a near-dup twin
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "omega", "sigma",
      "kappa", "lambda", "theta", "zeta")
    val bases = (0 until 60).map { i =>
      i.toLong -> Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val twins = bases.collect { case (id, text) if id % 3 == 0 =>
      (id + 1000L) -> text.replaceFirst("\\w+", "changed")
    }
    val corpus = (bases ++ twins).map { case (id, t) => (id, t, "en", t.length) }
      .toDF("doc_id", "text", "lang", "n_chars")
    // batch truth: the x40 plan (MinHash-LSH -> exact Jaccard), no bucket filter
    val batchPairs = graft.operators.Dedup.minHashNearDupsFromShingleArrays(
        graft.queries.TextOps.shingleArrays(corpus).select("doc_id", "shs"),
        threshold = 0.8)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
      .toSet
    assert(batchPairs.nonEmpty)
    // streaming replay of the same corpus through the verified-pair loop
    val collected = scala.collection.mutable.Set[(Long, Long, Double)]()
    val all = rnd.shuffle(bases ++ twins).zipWithIndex.map { case ((id, t), i) =>
      Doc(id, ts(f"10:${i % 60}%02d"), t, "en", "s")
    }
    val mem = MemoryStream[Doc]
    val q = CurationStreams.verifiedNearDups(
        mem.toDF(),
        seenDocs = () => corpus,
        sink = vf => collected.synchronized {
          collected ++= vf.collect().map(r =>
            (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
        },
        watermark = "4 hours", horizonMs = 4 * 3600 * 1000L)
      .outputMode("append").start()
    try all.grouped(30).foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    assert(collected.toSet == batchPairs,
      s"streaming=${collected.toSet.size} batch=${batchPairs.size}; " +
        s"missing=${batchPairs -- collected}; extra=${collected.toSet -- batchPairs}")
  }

  test("verified pairs against a GROWING persisted doc store (production wiring)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // production wiring: the doc store commits BEFORE the candidate stream
    // processes the batch (candidates only reference admitted docs). The
    // verify stream runs as AvailableNow restarts over ONE checkpoint, so
    // bucket state survives restarts — this also exercises checkpoint
    // recovery of the flatMapGroupsWithState state between rounds.
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-store")
    val storePath = s"$dir/docs"
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val rounds = Seq(
      Seq(Doc(1, ts("10:00"), base, "en", "s")),
      Seq(Doc(2, ts("10:05"), base.replace("word7", "wordX"), "en", "s"),
        Doc(3, ts("10:06"), (1 to 40).map(i => s"other$i").mkString(" "), "en", "s")))
    val collected = scala.collection.mutable.Set[(Long, Long)]()
    val mem = MemoryStream[Doc]
    rounds.foreach { b =>
      // the admitted-docs store commits first (the doc sink's job upstream)
      b.map(d => (d.doc_id, d.text, d.lang, d.text.length))
        .toDF("doc_id", "text", "lang", "n_chars")
        .write.mode("append").parquet(storePath)
      mem.addData(b)
      val q = CurationStreams.verifiedNearDups(
          mem.toDF(),
          seenDocs = () => spark.read.parquet(storePath),
          sink = vf => collected.synchronized {
            collected ++= vf.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
          })
        .option("checkpointLocation", s"$dir/ckp_cands")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "verify stream round timed out")
    }
    assert(collected.toSet == Set((1L, 2L)),
      s"expected exactly the true near-dup pair, got $collected")
  }

  test("streaming dup components: a cross-batch pair merges clusters (retro-relabel)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-cc")
    val docStore = s"$dir/docs"
    val pairStore = s"$dir/pairs"
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    // doc1 ~ doc2 (1 token apart), doc2 ~ doc5 (1 token from doc2);
    // doc1 vs doc5 is 2 tokens apart — BELOW the 0.8 verify cut, so the
    // only path putting 5 into 1's cluster is the transitive merge
    val rounds = Seq(
      Seq(Doc(1, ts("10:00"), base, "en", "s"),
        Doc(2, ts("10:01"), base.replace("word7", "wordX"), "en", "s")),
      Seq(Doc(5, ts("10:05"),
        base.replace("word7", "wordX").replace("word23", "wordY"), "en", "s")))
    val labelings = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    val storeSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val mem = MemoryStream[Doc]
    rounds.foreach { b =>
      b.map(d => (d.doc_id, d.text, d.lang, d.text.length))
        .toDF("doc_id", "text", "lang", "n_chars")
        .write.mode("append").parquet(docStore)
      mem.addData(b)
      val q = CurationStreams.dupComponents(
          mem.toDF(),
          seenDocs = () => spark.read.parquet(docStore),
          appendPairs = p => p.select(col("doc_a"), col("doc_b"))
            .write.mode("append").parquet(pairStore),
          allPairs = () => spark.read.parquet(pairStore),
          sink = lbl => labelings.synchronized {
            labelings += lbl.collect()
              .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
          },
          onStoreSize = n => storeSizes.synchronized { storeSizes += n })
        .option("checkpointLocation", s"$dir/ckp_cc")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "cc stream round timed out")
    }
    assert(labelings.head == Map(1L -> 1L, 2L -> 1L),
      s"round 1 labeling wrong: ${labelings.head}")
    // the size metric tracked the store's growth: 1 pair after round 1
    // (1~2), 2 after round 2 (+ 2~5). It reports once per MICRO-BATCH —
    // AvailableNow appends an empty state-flush batch per round, so sizes
    // repeat within a round; the contract is monotone growth, not one
    // report per round
    val sizes = storeSizes.toSeq
    assert(sizes.nonEmpty && sizes == sizes.sorted && sizes.toSet == Set(1L, 2L),
      s"store-size metric wrong: $storeSizes")
    // round 2: doc5 pairs with doc2 only, yet lands in component 1 — and
    // the relabeling equals the batch Components over the full pair store
    val last = labelings.last
    assert(last == Map(1L -> 1L, 2L -> 1L, 5L -> 1L),
      s"transitive merge failed: $last")
    val batch = graft.operators.Components
      .connectedComponents(spark.read.parquet(pairStore))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(last == batch, s"stream $last != batch $batch")
  }

  test("streaming dup components: an over-budget pair store fails LOUDLY") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ccb")
    val docStore = s"$dir/docs"
    val pairStore = s"$dir/pairs"
    // a store that has ALREADY accumulated more pairs than the bound —
    // resolution latency over it is no longer the contract, so the query
    // must stop with the budget error, not resolve and keep going
    (0L until 40L).map(i => (i + 1000000L, i + 2000000L))
      .toDF("doc_a", "doc_b")
      .write.mode("overwrite").parquet(pairStore)
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq(Doc(1, ts("10:00"), base, "en", "s"),
      Doc(2, ts("10:01"), base.replace("word7", "wordX"), "en", "s"))
    docs.map(d => (d.doc_id, d.text, d.lang, d.text.length))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(docStore)
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()
    var sinkCalled = false
    val mem = MemoryStream[Doc]
    mem.addData(docs)
    val q = CurationStreams.dupComponents(
        mem.toDF(),
        seenDocs = () => spark.read.parquet(docStore),
        appendPairs = p => p.select(col("doc_a"), col("doc_b"))
          .write.mode("append").parquet(pairStore),
        allPairs = () => spark.read.parquet(pairStore),
        sink = _ => sinkCalled = true,
        maxStorePairs = 25L,
        onStoreSize = n => sizes.synchronized { sizes += n })
      .option("checkpointLocation", s"$dir/ckp_ccb")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(60000)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("maxStorePairs")),
      s"expected the pair-store budget error, got: $ex")
    // the metric still reported the measured size before the failure
    assert(sizes.nonEmpty && sizes.head > 25L, s"metric not reported: $sizes")
    assert(!sinkCalled, "resolution must not run over an over-budget store")
  }

  test("streaming incremental dedup equals batch x86 statuses on in-order ids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val history = Seq("seen before", "also seen").toDF("text")
      .select(md5(col("text")).as("th"))
    // ids in arrival order, so the streaming first-arrived keeper coincides
    // with the batch min-id keeper
    val batchDocs = Seq(
      (10L, "10:00", "seen before"),   // dup_of_history
      (11L, "10:01", "brand new"),     // kept
      (12L, "10:02", "brand new"),     // dup_in_batch (same micro-batch)
      (13L, "10:03", "also seen"),     // dup_of_history
      (14L, "10:10", "brand new"),     // dup_in_batch (LATER micro-batch — state)
      (15L, "10:11", "only here"))     // kept
    val mem = MemoryStream[Doc]
    val q = CurationStreams.incrementalStatus(mem.toDF(), history)
      .writeStream.format("memory").queryName("inc_dedup")
      .outputMode("append").start()
    try {
      val (b1, b2) = batchDocs.partition(_._1 <= 13L)
      Seq(b1, b2).foreach { b =>
        mem.addData(b.map { case (id, t, x) => Doc(id, ts(t), x, "en", "s") })
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("inc_dedup").as[(Long, String)].collect().toMap
    val want = graft.operators.Dedup.incrementalStatus(
      batchDocs.map { case (id, _, x) => (id, x) }.toDF("doc_id", "text"), history)
      .as[(Long, String)].collect().toMap
    assert(got == want, s"stream $got != batch $want")
    assert(got(14L) == "dup_in_batch", "cross-batch state lost")
  }

  test("streaming gram audit: one micro-batch is bit-identical to batch x102 semantics") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val k = 8
    val dir = s"/tmp/gram_audit_spec_one_${System.nanoTime}"
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    graft.sources.GramHistory.create(spark, dir, corpus, k, buckets = 4)
    val batchDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // full overlap
      (11L, "completely unrelated words written here now"), // zero overlap
      (12L, "xx alpha beta gamma delta epsilon zeta"))      // partial
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Long, Double)]()
    val mem = MemoryStream[(Long, String)]
    val q = CurationStreams.incrementalDupGrams(
        mem.toDF().toDF("doc_id", "text"), dir, k,
        df => out ++= df.as[(Long, Long, Long, Double)].collect())
      .start()
    try { mem.addData(batchDocs); q.processAllAvailable() } finally q.stop()
    val want = graft.operators.Dedup.incrementalDupGrams(
        batchDocs.toDF("doc_id", "text"),
        graft.sources.GramHistory.gramHashes(corpus, k), k)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out.toSet == want, s"stream ${out.toSet} != batch $want")
    val byId = out.map(r => r._1 -> r._4).toMap
    assert(byId(10L) == 1.0 && byId(11L) == 0.0 &&
      byId(12L) > 0.0 && byId(12L) < 1.0)
    graft.sources.GramHistory.invalidate(spark, dir)
  }

  test("streaming gram audit: later batches see earlier batches' grams (store growth)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val k = 8
    val dir = s"/tmp/gram_audit_spec_grow_${System.nanoTime}"
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    graft.sources.GramHistory.create(spark, dir, corpus, k, buckets = 4)
    val novel = "some brand new sentence nobody wrote before"
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Long, Double)]()
    val mem = MemoryStream[(Long, String)]
    val q = CurationStreams.incrementalDupGrams(
        mem.toDF().toDF("doc_id", "text"), dir, k,
        df => out ++= df.as[(Long, Long, Long, Double)].collect())
      .start()
    try {
      mem.addData(Seq((20L, novel))); q.processAllAvailable()
      mem.addData(Seq((21L, novel))); q.processAllAvailable()
    } finally q.stop()
    val byId = out.map(r => r._1 -> r._4).toMap
    // batch 1: novel text scores zero against the corpus store; batch 2:
    // the SAME text scores 1.0 — batch 1's append made it history
    assert(byId(20L) == 0.0, s"batch-1 doc contaminated: $byId")
    assert(byId(21L) == 1.0, s"batch-1 grams not visible to batch 2: $byId")
    // equals two sequential batch runs with the store grown between them
    val h1 = graft.sources.GramHistory.gramHashes(corpus, k)
    val seq1 = graft.operators.Dedup.incrementalDupGrams(
      Seq((20L, novel)).toDF("doc_id", "text"), h1, k)
    val h2 = h1.unionAll(graft.sources.GramHistory.gramHashes(
      Seq((20L, novel)).toDF("doc_id", "text"), k)).distinct()
    val seq2 = graft.operators.Dedup.incrementalDupGrams(
      Seq((21L, novel)).toDF("doc_id", "text"), h2, k)
    val want = (seq1.as[(Long, Long, Long, Double)].collect() ++
      seq2.as[(Long, Long, Long, Double)].collect()).toSet
    assert(out.toSet == want, s"stream ${out.toSet} != sequential $want")
    graft.sources.GramHistory.invalidate(spark, dir)
  }

  test("streaming gram audit: a failed append is retried on replay, a committed one is skipped") {
    import spark.implicits._
    val k = 8
    val dir = s"/tmp/gram_audit_spec_replay_${System.nanoTime}"
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    graft.sources.GramHistory.create(spark, dir, corpus, k, buckets = 4)
    val batch = Seq((20L, "some brand new sentence nobody wrote before"))
      .toDF("doc_id", "text")
    val appended = new graft.sources.StreamMark.Guard
    var appendCalls = 0
    var failNext = true
    val flaky: org.apache.spark.sql.DataFrame => Unit = { inc =>
      appendCalls += 1
      if (failNext) { failNext = false; throw new java.io.IOException("injected") }
      graft.sources.GramHistory.append(spark, dir, inc)
    }
    def run(): Unit = CurationStreams.gramAuditBatch(
      batch, 0L, dir, k, _ => (), appended, flaky)
    // epoch fails mid-append: the guard must NOT have advanced
    intercept[java.io.IOException](run())
    assert(appended.get() == -1L, "guard advanced before the append committed")
    // replay of the failed epoch RETRIES the append and then commits
    run()
    assert(appendCalls == 2 && appended.get() == 0L)
    // replay of a committed epoch skips the append (bounded store growth)
    run()
    assert(appendCalls == 2, "committed epoch re-appended on replay")
    // and the store now holds the batch's grams: the same text scores 1.0
    val hist = graft.sources.GramHistory.scanOrCompute(spark, dir)(
      fail("store not registered"))
    val frac = graft.operators.Dedup.incrementalDupGrams(
        batch.select((batch("doc_id") + 1).as("doc_id"), batch("text")), hist, k)
      .select("hist_frac").as[Double].collect().head
    assert(frac == 1.0, s"failed epoch's grams missing from the store: $frac")
    // RESTART recovery: a fresh guard (new JVM) recovers the persisted
    // watermark and still skips the committed epoch's append
    val restarted = new graft.sources.StreamMark.Guard
    CurationStreams.gramAuditBatch(
      batch, 0L, dir, k, _ => (), restarted, flaky)
    assert(appendCalls == 2, "committed epoch re-appended after restart")
    assert(restarted.get() == 0L, "persisted watermark not recovered")
    graft.sources.GramHistory.invalidate(spark, dir)
  }

  test("streaming span removal: one micro-batch equals batch x118; later batches strip earlier content") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val k = 5
    val dir = s"/tmp/gram_removal_spec_${System.nanoTime}"
    val histText = "abcdeabcde"
    val corpus = Seq((1L, histText)).toDF("doc_id", "text")
    graft.sources.GramHistory.create(spark, dir, corpus, k, buckets = 4)
    val out = scala.collection.mutable.ListBuffer[(Long, String)]()
    val mem = MemoryStream[(Long, String)]
    val q = CurationStreams.incrementalRemoveSpans(
        mem.toDF().toDF("doc_id", "text"), dir, k,
        df => out ++= df.select("doc_id", "text_clean")
          .as[(Long, String)].collect())
      .start()
    try {
      // batch 1: corpus-known span in a novel wrapper + novel content
      mem.addData(Seq((10L, "xx" + histText + "yy"),
        (11L, "pqrstpqrst")))
      q.processAllAvailable()
      val batch1 = out.toMap
      // bit-identical to the batch operator against the same history
      val want = graft.operators.Dedup.incrementalRemoveSpans(
          Seq((10L, "xx" + histText + "yy"), (11L, "pqrstpqrst"))
            .toDF("doc_id", "text"),
          graft.sources.GramHistory.gramHashes(corpus, k), k)
        .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
      assert(batch1 == want, s"stream $batch1 != batch $want")
      assert(batch1(10L) == "xxyy" && batch1(11L) == "pqrstpqrst")
      // batch 2: batch 1's novel content is now history — stripped
      mem.addData(Seq((20L, "NN" + "pqrstpqrst" + "MM")))
      q.processAllAvailable()
      assert(out.toMap.apply(20L) == "NNMM",
        s"batch-1 grams not visible to batch 2: ${out.toMap.apply(20L)}")
    } finally q.stop()
    graft.sources.GramHistory.invalidate(spark, dir)
  }

  test("a RECREATED store starts a fresh lineage: the stale replay watermark is cleared") {
    import spark.implicits._
    val k = 8
    val dir = s"/tmp/gram_audit_spec_recreate_${System.nanoTime}"
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    graft.sources.GramHistory.create(spark, dir, corpus, k, buckets = 4)
    // first lineage: three committed epochs advance the persisted mark to 2
    val guard1 = new graft.sources.StreamMark.Guard
    for (b <- 0L to 2L)
      CurationStreams.gramAuditBatch(
        Seq((100L + b, s"first lineage text number $b entirely fresh"))
          .toDF("doc_id", "text"),
        b, dir, k, _ => (), guard1, inc => graft.sources.GramHistory.append(spark, dir, inc))
    assert(guard1.get() == 2L)
    val table = graft.sources.GramHistory.registeredTable(spark, dir).get
    assert(graft.sources.StreamMark.read(spark, table) == 2L)
    // store re-created: the mark MUST reset, or a new stream's batchIds
    // 0..2 (fresh checkpoint lineage) silently skip their appends and the
    // store permanently misses those grams
    graft.sources.GramHistory.create(spark, dir, corpus, k, buckets = 4)
    assert(graft.sources.StreamMark.read(spark, table) == -1L,
      "stale replay watermark survived store re-creation")
    var appends = 0
    val guard2 = new graft.sources.StreamMark.Guard
    val newBatch = Seq((200L, "second lineage sentence nobody wrote before"))
      .toDF("doc_id", "text")
    CurationStreams.gramAuditBatch(
      newBatch, 0L, dir, k, _ => (), guard2, inc => { appends += 1; graft.sources.GramHistory.append(spark, dir, inc) })
    assert(appends == 1, "new lineage's batch 0 append was skipped")
    assert(guard2.get() == 0L)
    val hist = graft.sources.GramHistory.scanOrCompute(spark, dir)(
      fail("store not registered"))
    val frac = graft.operators.Dedup.incrementalDupGrams(
        newBatch.select((newBatch("doc_id") + 1).as("doc_id"),
          newBatch("text")), hist, k)
      .select("hist_frac").as[Double].collect().head
    assert(frac == 1.0, s"new lineage's grams missing from the store: $frac")
    graft.sources.GramHistory.invalidate(spark, dir)
  }

  test("replay watermarks are scoped to the streaming-query lineage: a " +
      "fresh checkpoint over a surviving store skips NOTHING") {
    import spark.implicits._
    val k = 8
    val QidKey = "sql.streaming.queryId"
    val dir = s"/tmp/gram_audit_spec_lineage_${System.nanoTime}"
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    graft.sources.GramHistory.create(spark, dir, corpus, k, buckets = 4)
    val table = graft.sources.GramHistory.registeredTable(spark, dir).get
    try {
      // lineage A (simulated stream thread): three committed epochs
      spark.sparkContext.setLocalProperty(QidKey, "lineage-A")
      val guardA = new graft.sources.StreamMark.Guard
      for (b <- 0L to 2L)
        CurationStreams.gramAuditBatch(
          Seq((100L + b, s"lineage A text number $b entirely fresh"))
            .toDF("doc_id", "text"),
          b, dir, k, _ => (), guardA, inc => graft.sources.GramHistory.append(spark, dir, inc))
      assert(graft.sources.StreamMark.read(spark, table) == 2L,
        "same-lineage read must see its own high-water mark")
      // lineage B: a FRESH checkpoint's batchIds restart at 0 — the old
      // mark must not be honored, or batches 0..2 silently skip probe,
      // sink AND appends (the round-17 regression this test pins)
      spark.sparkContext.setLocalProperty(QidKey, "lineage-B")
      assert(graft.sources.StreamMark.read(spark, table) == -1L,
        "another lineage's watermark leaked across checkpoints")
      var sinks = 0
      var appends = 0
      val guardB = new graft.sources.StreamMark.Guard
      CurationStreams.gramAuditBatch(
        Seq((200L, "lineage B sentence nobody wrote before"))
          .toDF("doc_id", "text"),
        0L, dir, k, _ => sinks += 1, guardB, inc => { appends += 1
          graft.sources.GramHistory.append(spark, dir, inc) })
      assert(sinks == 1, "fresh lineage's batch 0 sink was skipped")
      assert(appends == 1, "fresh lineage's batch 0 append was skipped")
      // lineage B's commit overwrote the mark; A's view is gone, and a
      // DIRECT (non-streaming) read never honors a real stream's mark
      spark.sparkContext.setLocalProperty(QidKey, null)
      assert(graft.sources.StreamMark.read(spark, table) == -1L,
        "a streaming lineage's mark leaked into non-streaming reads")
    } finally {
      spark.sparkContext.setLocalProperty(QidKey, null)
      graft.sources.GramHistory.invalidate(spark, dir)
    }
  }

  test("triage full-epoch skip is lineage-scoped: a fresh checkpoint's " +
      "batch 0 still probes and sinks over committed stores") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{md5, unhex}
    import graft.queries.TextOps
    val QidKey = "sql.streaming.queryId"
    val dir = s"/tmp/triage_lineage_${System.nanoTime}"
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta",
      "en", 44)).toDF("doc_id", "text", "lang", "n_chars")
    graft.sources.HashHistory.create(spark, dir,
      corpus.select(unhex(md5(col("text"))).as("th")), buckets = 4)
    graft.sources.GramHistory.create(spark, dir, corpus, TextOps.DupGramK,
      buckets = 4)
    graft.sources.MinHashHistory.create(spark, dir,
      TextOps.minHashBandsOf(corpus), TextOps.minHashShinglesOf(corpus),
      buckets = 4)
    val batch = Seq((10L, "a wholly novel lineage-test document body here",
      "en", 46)).toDF("doc_id", "text", "lang", "n_chars")
    def guards() = (new graft.sources.StreamMark.Guard,
      new graft.sources.StreamMark.Guard,
      new graft.sources.StreamMark.Guard)
    try {
      // lineage A commits epochs 0..3 (marks at 3 on all three stores)
      spark.sparkContext.setLocalProperty(QidKey, "lineage-A")
      val (h1, g1, m1) = guards()
      for (b <- 0L to 3L)
        CurationStreams.triageBatch(
          Seq((20L + b, s"lineage A novel body number $b", "en", 27))
            .toDF("doc_id", "text", "lang", "n_chars"),
          b, dir, TextOps.DupGramK, _ => (), h1, g1, m1, bh => graft.sources.HashHistory.append(spark, dir,
            bh.select(unhex(md5(col("text"))).as("th"))),
          bg => graft.sources.GramHistory.append(spark, dir,
            graft.sources.GramHistory.gramHashes(bg, TextOps.DupGramK)),
          bm => graft.sources.MinHashHistory.append(spark, dir,
            TextOps.minHashBandsOf(bm), TextOps.minHashShinglesOf(bm)))
      // lineage B (fresh checkpoint, batchIds restart at 0): before the
      // fix the three marks (all >= 0) skipped probe, sink AND appends
      spark.sparkContext.setLocalProperty(QidKey, "lineage-B")
      var sinks = 0
      var appends = 0
      val (h2, g2, m2) = guards()
      CurationStreams.triageBatch(batch, 0L, dir, TextOps.DupGramK,
        _ => sinks += 1, h2, g2, m2, _ => appends += 1, _ => appends += 1, _ => appends += 1)
      assert(sinks == 1, "fresh lineage's triage batch 0 was fully skipped")
      assert(appends == 3,
        s"fresh lineage's triage appends skipped: $appends of 3 ran")
    } finally {
      spark.sparkContext.setLocalProperty(QidKey, null)
      graft.sources.HashHistory.invalidate(spark, dir)
      graft.sources.GramHistory.invalidate(spark, dir)
      graft.sources.MinHashHistory.invalidate(spark, dir)
    }
  }

  // ------------------------------------- streaming incremental payload

  // monotone ramp payload: the stub re-encode's one-cell dropout flips
  // exactly one gradient bit (a NEAR-dup at d=1, same device as
  // PhashHistorySpec)
  private def rampPayload: Array[Byte] =
    Array.tabulate(600)(i => ((i / 3) % 200).toByte)
  private def novelPayload: Array[Byte] =
    Array.tabulate(600)(i => ((i * i * 13 + 5) % 241).toByte)

  test("streaming payload audit: one micro-batch equals batch x109 semantics; growth visible") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    val dir = s"/tmp/payload_audit_spec_${System.nanoTime}"
    val histMedia = Seq((1L, rampPayload)).toDF("media_id", "content")
    graft.sources.PhashHistory.create(spark, dir,
      Multimodal.payloadFingerprints(histMedia), buckets = 4)
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Int)]()
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = CurationStreams.incrementalPayloadNearDups(
        mem.toDF().toDF("media_id", "content"), dir,
        df => out ++= df.as[(Long, Long, Int)].collect())
      .start()
    try {
      // batch 1: a re-encode of history + a novel payload
      mem.addData(Seq((10L, Multimodal.Kernels.stubReencode(rampPayload)),
        (11L, novelPayload)))
      q.processAllAvailable()
      val batch1 = out.toSet
      // bit-identical to the batch operator against the same history
      val want1 = Multimodal.incrementalPayloadNearDups(
          Seq((10L, Multimodal.Kernels.stubReencode(rampPayload)),
            (11L, novelPayload)).toDF("media_id", "content"),
          graft.sources.PhashHistory.chunkKeys(
            Multimodal.payloadFingerprints(histMedia)))
        .as[(Long, Long, Int)].collect().toSet
      assert(batch1 == want1, s"stream $batch1 != batch $want1")
      assert(batch1.contains((1L, 10L, 1)) && !batch1.exists(_._2 == 11L))
      // batch 2: an exact copy of batch 1's novel payload — batch 1's
      // append made it history, so it must now flag at d=0
      mem.addData(Seq((20L, novelPayload)))
      q.processAllAvailable()
      assert((out.toSet -- batch1) == Set((11L, 20L, 0)),
        s"batch-1 fingerprints not visible to batch 2: ${out.toSet -- batch1}")
    } finally q.stop()
    graft.sources.PhashHistory.invalidate(spark, dir)
  }

  test("streaming payload audit: failed append retried on replay, committed one skipped") {
    import spark.implicits._
    import graft.operators.Multimodal
    val dir = s"/tmp/payload_audit_replay_${System.nanoTime}"
    graft.sources.PhashHistory.create(spark, dir,
      Multimodal.payloadFingerprints(
        Seq((1L, rampPayload)).toDF("media_id", "content")), buckets = 4)
    val batch = Seq((20L, novelPayload)).toDF("media_id", "content")
    val appended = new graft.sources.StreamMark.Guard
    var appendCalls = 0
    var failNext = true
    val flaky: org.apache.spark.sql.DataFrame => Unit = { inc =>
      appendCalls += 1
      if (failNext) { failNext = false; throw new java.io.IOException("injected") }
      graft.sources.PhashHistory.append(spark, dir, inc)
    }
    def run(guard: graft.sources.StreamMark.Guard): Unit =
      CurationStreams.payloadAuditBatch(
        batch, 0L, dir, _ => (), guard, flaky)
    intercept[java.io.IOException](run(appended))
    assert(appended.get() == -1L, "guard advanced before the append committed")
    run(appended)
    assert(appendCalls == 2 && appended.get() == 0L)
    run(appended)
    assert(appendCalls == 2, "committed epoch re-appended on replay")
    // restart recovery honors the persisted watermark
    val restarted = new graft.sources.StreamMark.Guard
    run(restarted)
    assert(appendCalls == 2, "committed epoch re-appended after restart")
    assert(restarted.get() == 0L, "persisted watermark not recovered")
    graft.sources.PhashHistory.invalidate(spark, dir)
  }

  // ------------------------------------- streaming incremental audio

  private def trackPayload(sentence: String): Array[Byte] =
    (sentence + " ").*(12).getBytes("UTF-8")
  private def audioT1 = trackPayload("the quick brown fox jumps over the lazy dog")
  private def audioNovel = trackPayload("0123456789 9876543210 13579 24680 1122334455")

  test("streaming audio probe: one micro-batch equals batch x113 semantics; growth visible") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    val dir = s"/tmp/audio_probe_spec_${System.nanoTime}"
    val histLms = Multimodal.audioLandmarkRows(
      Seq((1L, audioT1)).toDF("media_id", "content"))
    graft.sources.LandmarkHistory.create(spark, dir, histLms, buckets = 4)
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Int, Int)]()
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = CurationStreams.incrementalAudioProbe(
        mem.toDF().toDF("media_id", "content"), dir,
        df => out ++= df.select("hist_id", "batch_id", "n_votes", "best_off")
          .as[(Long, Long, Int, Int)].collect())
      .start()
    try {
      // batch 1: a re-encode of history + a novel track
      mem.addData(Seq((10L, Multimodal.Kernels.stubReencode(audioT1)),
        (11L, audioNovel)))
      q.processAllAvailable()
      val batch1 = out.toSet
      // bit-identical to the batch operator against the same history
      val want1 = Multimodal.incrementalAudioNearDups(
          Multimodal.audioLandmarkRows(
            Seq((10L, Multimodal.Kernels.stubReencode(audioT1)),
              (11L, audioNovel)).toDF("media_id", "content")),
          graft.sources.LandmarkHistory.storeShape(histLms))
        .select("hist_id", "batch_id", "n_votes", "best_off")
        .as[(Long, Long, Int, Int)].collect().toSet
      assert(batch1 == want1, s"stream $batch1 != batch $want1")
      assert(batch1.exists(p => p._1 == 1L && p._2 == 10L && p._4 == 0) &&
        !batch1.exists(_._2 == 11L))
      // batch 2: an exact copy of batch 1's novel track — batch 1's
      // append made it history, so it must now match at offset 0 with
      // full query coverage
      mem.addData(Seq((20L, audioNovel)))
      q.processAllAvailable()
      val d2 = out.toSet -- batch1
      assert(d2.size == 1 && d2.head._1 == 11L && d2.head._2 == 20L &&
        d2.head._4 == 0,
        s"batch-1 landmarks not visible to batch 2: $d2")
    } finally q.stop()
    graft.sources.LandmarkHistory.invalidate(spark, dir)
  }

  test("streaming audio probe: failed append retried on replay, committed one skipped") {
    import spark.implicits._
    import graft.operators.Multimodal
    val dir = s"/tmp/audio_probe_replay_${System.nanoTime}"
    graft.sources.LandmarkHistory.create(spark, dir,
      Multimodal.audioLandmarkRows(
        Seq((1L, audioT1)).toDF("media_id", "content")), buckets = 4)
    val batch = Seq((20L, audioNovel)).toDF("media_id", "content")
    val appended = new graft.sources.StreamMark.Guard
    var appendCalls = 0
    var failNext = true
    val flaky: org.apache.spark.sql.DataFrame => Unit = { inc =>
      appendCalls += 1
      if (failNext) { failNext = false; throw new java.io.IOException("injected") }
      graft.sources.LandmarkHistory.append(spark, dir, inc)
    }
    def run(guard: graft.sources.StreamMark.Guard): Unit =
      CurationStreams.audioProbeBatch(
        batch, 0L, dir, _ => (), guard, flaky)
    intercept[java.io.IOException](run(appended))
    assert(appended.get() == -1L, "guard advanced before the append committed")
    run(appended)
    assert(appendCalls == 2 && appended.get() == 0L)
    run(appended)
    assert(appendCalls == 2, "committed epoch re-appended on replay")
    // restart recovery honors the persisted watermark
    val restarted = new graft.sources.StreamMark.Guard
    run(restarted)
    assert(appendCalls == 2, "committed epoch re-appended after restart")
    assert(restarted.get() == 0L, "persisted watermark not recovered")
    graft.sources.LandmarkHistory.invalidate(spark, dir)
  }

  // ------------------------------------- streaming incremental near-dup

  private def ndText(tail: String): String =
    (1 to 29).map(i => s"tok$i").mkString(" ") + " " + tail
  private def ndNovel: String = (1 to 30).map(i => s"novel$i").mkString(" ")
  private def ndDoc(id: Long, text: String): (Long, String, String, Long) =
    (id, text, "en", text.length.toLong)

  test("streaming near-dup probe: one micro-batch equals batch x123; growth visible") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.queries.TextOps
    val dir = s"/tmp/neardup_probe_spec_${System.nanoTime}"
    val hist = Seq(ndDoc(1L, ndText("tail")))
      .toDF("doc_id", "text", "lang", "n_chars")
    graft.sources.MinHashHistory.create(spark, dir,
      TextOps.minHashBandsOf(hist), TextOps.minHashShinglesOf(hist),
      buckets = 4)
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Double)]()
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = CurationStreams.incrementalNearDups(
        mem.toDF().toDF("doc_id", "text", "lang", "n_chars"), dir,
        df => out ++= df.select("doc_a", "doc_b", "jaccard")
          .as[(Long, Long, Double)].collect())
      .start()
    try {
      // batch 1: a near-dup of history doc 1 + a novel doc
      mem.addData(Seq(ndDoc(10L, ndText("edited")), ndDoc(11L, ndNovel)))
      q.processAllAvailable()
      val batch1 = out.toSet
      // bit-identical to the batch operator against the same history
      val want1 = graft.operators.Dedup.incrementalNearDups(
          TextOps.shingleArrays(
            Seq(ndDoc(10L, ndText("edited")), ndDoc(11L, ndNovel))
              .toDF("doc_id", "text", "lang", "n_chars")),
          TextOps.minHashBandsOf(hist), TextOps.minHashShinglesOf(hist))
        .as[(Long, Long, Double)].collect().toSet
      assert(batch1 == want1, s"stream $batch1 != batch $want1")
      assert(batch1.exists(p => p._1 == 10L && p._2 == 1L && p._3 > 0.8) &&
        !batch1.exists(_._1 == 11L))
      // batch 2: an exact copy of batch 1's novel doc — batch 1's append
      // made it history, so it must now pair at exactly 1.0
      mem.addData(Seq(ndDoc(20L, ndNovel)))
      q.processAllAvailable()
      val d2 = out.toSet -- batch1
      assert(d2 == Set((20L, 11L, 1.0)),
        s"batch-1 docs not visible to batch 2: $d2")
    } finally q.stop()
    graft.sources.MinHashHistory.invalidate(spark, dir)
  }

  test("streaming near-dup probe: failed append retried on replay, committed one skipped") {
    import spark.implicits._
    import graft.queries.TextOps
    val dir = s"/tmp/neardup_probe_replay_${System.nanoTime}"
    val hist = Seq(ndDoc(1L, ndText("tail")))
      .toDF("doc_id", "text", "lang", "n_chars")
    graft.sources.MinHashHistory.create(spark, dir,
      TextOps.minHashBandsOf(hist), TextOps.minHashShinglesOf(hist),
      buckets = 4)
    val batch = Seq(ndDoc(20L, ndNovel)).toDF("doc_id", "text", "lang", "n_chars")
    val appended = new graft.sources.StreamMark.Guard
    var appendCalls = 0
    var failNext = true
    val flaky: org.apache.spark.sql.DataFrame => Unit = { b =>
      appendCalls += 1
      if (failNext) { failNext = false; throw new java.io.IOException("injected") }
      graft.sources.MinHashHistory.append(spark, dir,
        TextOps.minHashBandsOf(b), TextOps.minHashShinglesOf(b))
    }
    def run(guard: graft.sources.StreamMark.Guard): Unit =
      CurationStreams.nearDupBatch(
        batch, 0L, dir, _ => (), guard, flaky)
    intercept[java.io.IOException](run(appended))
    assert(appended.get() == -1L, "guard advanced before the append committed")
    run(appended)
    assert(appendCalls == 2 && appended.get() == 0L)
    run(appended)
    assert(appendCalls == 2, "committed epoch re-appended on replay")
    // restart recovery honors the persisted watermark
    val restarted = new graft.sources.StreamMark.Guard
    run(restarted)
    assert(appendCalls == 2, "committed epoch re-appended after restart")
    assert(restarted.get() == 0L, "persisted watermark not recovered")
    graft.sources.MinHashHistory.invalidate(spark, dir)
  }

  // ------------------------------------- streaming crawl triage (x125)

  private def mkTriageStores(dir: String): Unit = {
    import graft.queries.TextOps
    import org.apache.spark.sql.functions.{md5 => smd5, unhex}
    import spark.implicits._
    val hist = Seq(ndDoc(1L, ndText("tail")))
      .toDF("doc_id", "text", "lang", "n_chars")
    graft.sources.HashHistory.create(spark, dir,
      hist.select(unhex(smd5(col("text"))).as("th")), buckets = 4)
    graft.sources.GramHistory.create(spark, dir, hist,
      TextOps.DupGramK, buckets = 4)
    graft.sources.MinHashHistory.create(spark, dir,
      TextOps.minHashBandsOf(hist), TextOps.minHashShinglesOf(hist),
      buckets = 4)
  }

  private def triageInvalidate(dir: String): Unit = {
    graft.sources.HashHistory.invalidate(spark, dir)
    graft.sources.GramHistory.invalidate(spark, dir)
    graft.sources.MinHashHistory.invalidate(spark, dir)
  }

  test("streaming crawl triage: one micro-batch equals batch x125 semantics; copy drops exact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.queries.TextOps
    val dir = s"/tmp/triage_spec_${System.nanoTime}"
    mkTriageStores(dir)
    // four verdicts in one batch: near-dup of history (drop_near), novel
    // (keep), verbatim history copy (drop_exact), and a doc whose prefix
    // copies history verbatim but whose novel tail pushes trigram Jaccard
    // under 0.8 AND the near-dup length window (so only the gram leg can
    // catch it: strip_spans)
    val stripText = ndText("tail") + " " +
      (1 to 30).map(i => s"zfresh$i").mkString(" ")
    val b1 = Seq(ndDoc(10L, ndText("edited")), ndDoc(11L, ndNovel),
      ndDoc(12L, ndText("tail")), ndDoc(13L, stripText))
    val out = scala.collection.mutable.ListBuffer[(Long, String, Double, Double, String)]()
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = CurationStreams.crawlTriage(
        mem.toDF().toDF("doc_id", "text", "lang", "n_chars"), dir,
        sink = df => out ++= df
          .select("doc_id", "status", "best_jaccard", "hist_frac", "verdict")
          .as[(Long, String, Double, Double, String)].collect())
      .start()
    try {
      mem.addData(b1)
      q.processAllAvailable()
      val verdicts = out.map(r => r._1 -> r._5).toMap
      assert(verdicts == Map(10L -> "drop_near", 11L -> "keep",
        12L -> "drop_exact", 13L -> "strip_spans"), s"got $verdicts")
      // bit-identical to the batch composition against the same
      // (pre-append) derived history
      val hist = Seq(ndDoc(1L, ndText("tail")))
        .toDF("doc_id", "text", "lang", "n_chars")
      val batchDf = b1.toDF("doc_id", "text", "lang", "n_chars")
      val status = graft.operators.Dedup.incrementalStatusBinary(batchDf,
        hist.select(org.apache.spark.sql.functions.unhex(
          org.apache.spark.sql.functions.md5(col("text"))).as("th")))
      val gramFrac = graft.operators.Dedup.incrementalDupGrams(batchDf,
          graft.sources.GramHistory.gramHashes(hist, TextOps.DupGramK),
          k = TextOps.DupGramK)
        .select(col("doc_id"), col("hist_frac"))
      val best = graft.operators.Dedup.incrementalNearDups(
          TextOps.shingleArrays(batchDf),
          TextOps.minHashBandsOf(hist), TextOps.minHashShinglesOf(hist))
        .groupBy(col("doc_a").as("doc_id"))
        .agg(org.apache.spark.sql.functions.max(col("jaccard"))
          .as("best_jaccard"))
      val want = TextOps.triageFrame(status, best, gramFrac)
        .select("doc_id", "status", "best_jaccard", "hist_frac", "verdict")
        .as[(Long, String, Double, Double, String)].collect().toSet
      assert(out.toSet == want, s"stream ${out.toSet} != batch $want")
      // batch 2: a verbatim copy of batch 1's novel doc — batch 1's
      // appends made it history in ALL THREE stores, so it must now be
      // drop_exact with a 1.0 near-dup and 1.0 gram fraction attached
      mem.addData(Seq(ndDoc(20L, ndNovel)))
      q.processAllAvailable()
      val d2 = out.filter(_._1 == 20L)
      assert(d2.size == 1 && d2.head._5 == "drop_exact" &&
        d2.head._3 == 1.0 && d2.head._4 == 1.0,
        s"batch-1 docs not history to batch 2: $d2")
    } finally q.stop()
    triageInvalidate(dir)
  }

  test("streaming crawl triage CASCADE: verdicts identical, unprobed legs read 0, " +
      "stream equals the batch cascade on the same pre-append stores") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.queries.TextOps
    val dir = s"/tmp/triage_casc_${System.nanoTime}"
    mkTriageStores(dir)
    val stripText = ndText("tail") + " " +
      (1 to 30).map(i => s"zfresh$i").mkString(" ")
    val b1 = Seq(ndDoc(10L, ndText("edited")), ndDoc(11L, ndNovel),
      ndDoc(12L, ndText("tail")), ndDoc(13L, stripText))
    val batchDf = b1.toDF("doc_id", "text", "lang", "n_chars")
    // batch cascade against the SAME pre-append stores, computed BEFORE
    // the stream grows them (the fallback never fires — stores are
    // registered)
    val want = TextOps.triageCascade(spark, dir, batchDf,
        TextOps.shingleArrays(batchDf),
        sys.error("unreachable: stores registered"))
      .select("doc_id", "status", "best_jaccard", "hist_frac", "verdict")
      .as[(Long, String, Double, Double, String)].collect().toSet
    val out = scala.collection.mutable.ListBuffer[(Long, String, Double, Double, String)]()
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = CurationStreams.crawlTriage(
        mem.toDF().toDF("doc_id", "text", "lang", "n_chars"), dir,
        sink = df => out ++= df
          .select("doc_id", "status", "best_jaccard", "hist_frac", "verdict")
          .as[(Long, String, Double, Double, String)].collect(),
        cascade = true)
      .start()
    try {
      mem.addData(b1)
      q.processAllAvailable()
      // same verdicts as the all-legs twin's fixture expectation
      val verdicts = out.map(r => r._1 -> r._5).toMap
      assert(verdicts == Map(10L -> "drop_near", 11L -> "keep",
        12L -> "drop_exact", 13L -> "strip_spans"), s"got $verdicts")
      assert(out.toSet == want, s"stream ${out.toSet} != batch cascade $want")
      // the cascade's defining shape: unprobed legs read 0 — the exact
      // drop carries no near-dup/gram measures, the near drop no gram
      val d12 = out.find(_._1 == 12L).get
      assert(d12._3 == 0.0 && d12._4 == 0.0,
        s"exact drop probed downstream legs: $d12")
      val d10 = out.find(_._1 == 10L).get
      assert(d10._4 == 0.0, s"near drop probed the gram leg: $d10")
      // batch 2: a verbatim copy of batch 1's novel doc resolves at the
      // exact leg (batch 1's appends made it history), measures 0
      mem.addData(Seq(ndDoc(20L, ndNovel)))
      q.processAllAvailable()
      val d2 = out.filter(_._1 == 20L)
      assert(d2.size == 1 && d2.head._5 == "drop_exact" &&
        d2.head._3 == 0.0 && d2.head._4 == 0.0,
        s"cascade copy not resolved at the exact leg: $d2")
    } finally q.stop()
    triageInvalidate(dir)
  }

  test("streaming cascade with a DERIVED strip threshold gates exactly as " +
      "x127's scaled-integer comparison; stream equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.queries.TextOps
    val dir = s"/tmp/triage_derived_${System.nanoTime}"
    val stripText = ndText("tail") + " " +
      (1 to 30).map(i => s"zfresh$i").mkString(" ")
    val b1 = Seq(ndDoc(10L, ndText("edited")), ndDoc(11L, ndNovel),
      ndDoc(12L, ndText("tail")), ndDoc(13L, stripText))
    val batchDf = b1.toDF("doc_id", "text", "lang", "n_chars")
    // doc 13's exact hist_frac against the (pre-append) store history
    val hist = Seq(ndDoc(1L, ndText("tail")))
      .toDF("doc_id", "text", "lang", "n_chars")
    val frac13 = graft.operators.Dedup.incrementalDupGrams(batchDf,
        graft.sources.GramHistory.gramHashes(hist, TextOps.DupGramK),
        k = TextOps.DupGramK)
      .filter(col("doc_id") === 13L)
      .select("hist_frac").as[Double].collect().head
    assert(frac13 > 0.0 && frac13 < 1.0)
    val v13 = math.round(frac13 * 1000000.0)
    def drive(thr: Long): Map[Long, String] = {
      val out = scala.collection.mutable.ListBuffer[(Long, String)]()
      val mem = MemoryStream[(Long, String, String, Long)]
      // both drives must see the SAME store state: each starts from
      // freshly built stores (a drive's appends grow them)
      mkTriageStores(dir)
      val q = CurationStreams.crawlTriage(
          mem.toDF().toDF("doc_id", "text", "lang", "n_chars"), dir,
          sink = df => out ++= df.select("doc_id", "verdict")
            .as[(Long, String)].collect(),
          cascade = true, stripThrScaled = Some(thr))
        .start()
      try {
        mem.addData(b1); q.processAllAvailable()
      } finally q.stop()
      out.toMap
    }
    // thr just BELOW doc 13's scaled measure: the strict > gate trips
    val below = drive(v13 - 1)
    assert(below == Map(10L -> "drop_near", 11L -> "keep",
      12L -> "drop_exact", 13L -> "strip_spans"), s"got $below")
    // thr AT doc 13's scaled measure: x127's comparison is strictly
    // greater-than — the gate must NOT trip (a >= gate would diverge
    // from the batch x127 form exactly here)
    val at = drive(v13)
    assert(at(13L) == "keep",
      s"scaled-integer gate is not strict-greater: $at")
    // full-tuple equality with the batch cascade fed the same scalar,
    // over the same pre-append stores
    mkTriageStores(dir)
    val want = TextOps.triageCascade(spark, dir, batchDf,
        TextOps.shingleArrays(batchDf),
        sys.error("unreachable: stores registered"),
        stripThrScaled = Some(v13 - 1))
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(below == want, s"stream $below != batch twin $want")
    // the derivation helper matches the x127 inline device on a measured
    // matrix: p90 over ONE eligible row is that row's own value
    val measures = Seq((13L, "kept", 0.0, frac13))
      .toDF("doc_id", "status", "best_jaccard", "hist_frac")
    assert(TextOps.deriveStripThrScaled(measures).contains(v13))
    triageInvalidate(dir)
  }

  test("streaming crawl triage: a failed middle append retries alone; committed stores skip") {
    import spark.implicits._
    import graft.queries.TextOps
    val dir = s"/tmp/triage_replay_${System.nanoTime}"
    mkTriageStores(dir)
    val batch = Seq(ndDoc(20L, ndNovel)).toDF("doc_id", "text", "lang", "n_chars")
    val (aH, aG, aM) = (new graft.sources.StreamMark.Guard,
      new graft.sources.StreamMark.Guard,
      new graft.sources.StreamMark.Guard)
    var (nH, nG, nM) = (0, 0, 0)
    var nSink = 0
    var failGram = true
    def run(): Unit = CurationStreams.triageBatch(batch, 0L, dir,
      TextOps.DupGramK, _ => nSink += 1, aH, aG, aM, appendHash = b => { nH += 1
        graft.sources.HashHistory.append(spark, dir,
          b.select(org.apache.spark.sql.functions.unhex(
            org.apache.spark.sql.functions.md5(col("text"))).as("th"))) },
      appendGram = b => { nG += 1
        if (failGram) { failGram = false; throw new java.io.IOException("injected") }
        graft.sources.GramHistory.append(spark, dir,
          graft.sources.GramHistory.gramHashes(b, TextOps.DupGramK)) },
      appendMh = b => { nM += 1
        graft.sources.MinHashHistory.append(spark, dir,
          TextOps.minHashBandsOf(b), TextOps.minHashShinglesOf(b)) })
    intercept[java.io.IOException](run())
    assert((nH, nG, nM) == (1, 1, 0) && aH.get() == 0L &&
      aG.get() == -1L && aM.get() == -1L,
      s"pre-retry state: $nH $nG $nM ${aG.get()}")
    run() // the replay: hash committed -> skipped; gram retried; mh runs
    assert((nH, nG, nM) == (1, 2, 1),
      s"replay did not retry exactly the failed store: $nH $nG $nM")
    assert(aH.get() == 0L && aG.get() == 0L && aM.get() == 0L)
    assert(nSink == 2, s"sink must run on the partial replay: $nSink")
    run() // fully committed epoch: nothing re-appends AND the sink is
    // skipped — re-probing against stores that already contain the batch
    // would re-emit this batchId with every verdict flipped to drop_exact
    assert((nH, nG, nM) == (1, 2, 1), "committed epoch re-appended")
    assert(nSink == 2, s"committed-epoch replay re-emitted to the sink: $nSink")
    // restart recovery: fresh guards read all three persisted marks
    val (rH, rG, rM) = (new graft.sources.StreamMark.Guard,
      new graft.sources.StreamMark.Guard,
      new graft.sources.StreamMark.Guard)
    CurationStreams.triageBatch(batch, 0L, dir, TextOps.DupGramK, _ => (),
      rH, rG, rM, appendHash = _ => nH += 1, appendGram = _ => nG += 1,
      appendMh = _ => nM += 1)
    assert((nH, nG, nM) == (1, 2, 1), "committed epoch re-appended after restart")
    assert(rH.get() == 0L && rG.get() == 0L && rM.get() == 0L,
      "persisted watermarks not recovered")
    triageInvalidate(dir)
  }

  test("streaming crawl triage: a leg that throws inside the parallel score " +
      "rethrows its own exception, sinks and appends nothing, and replays") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{md5 => smd5, unhex}
    import graft.queries.TextOps
    import graft.sources.{GramHistory, HashHistory, MinHashHistory, StreamMark}
    val dir = s"/tmp/triage_legfail_${System.nanoTime}"
    mkTriageStores(dir)
    val batch = Seq(ndDoc(10L, ndText("edited")), ndDoc(11L, ndNovel))
      .toDF("doc_id", "text", "lang", "n_chars")
    val (gH, gG, gM) =
      (new StreamMark.Guard, new StreamMark.Guard, new StreamMark.Guard)
    var sinks = 0
    var appends = 0
    var sunk = Map.empty[Long, String]
    def run(): Unit = CurationStreams.triageBatch(batch, 0L, dir,
      TextOps.DupGramK, df => { sinks += 1
        sunk = df.select("doc_id", "verdict").as[(Long, String)].collect().toMap },
      gH, gG, gM, appendHash = b => { appends += 1
        HashHistory.append(spark, dir, b.select(unhex(smd5(col("text"))).as("th"))) },
      appendGram = b => { appends += 1
        GramHistory.append(spark, dir, GramHistory.gramHashes(b, TextOps.DupGramK)) },
      appendMh = b => { appends += 1
        MinHashHistory.append(spark, dir,
          TextOps.minHashBandsOf(b), TextOps.minHashShinglesOf(b)) })
    def marks(): Seq[Long] = Seq(HashHistory.tableFor(dir),
      GramHistory.tableFor(dir), MinHashHistory.tableFor(dir))
      .map(StreamMark.read(spark, _))
    // the near-dup store stays registered while its shingle table is
    // gone, so the near-dup leg throws while its siblings are running
    val sh = MinHashHistory.shTableFor(dir)
    spark.sql(s"ALTER TABLE $sh RENAME TO ${sh}_away")
    val e =
      try intercept[org.apache.spark.sql.AnalysisException](run())
      finally spark.sql(s"ALTER TABLE ${sh}_away RENAME TO $sh")
    assert(e.getMessage.contains(sh), s"not the leg's own exception: $e")
    assert(sinks == 0 && appends == 0,
      s"a failed score reached the sink ($sinks) or an append ($appends)")
    assert(marks() == Seq(-1L, -1L, -1L) &&
      Seq(gH, gG, gM).forall(_.get() == -1L),
      s"a failed score moved a mark: ${marks()}")
    // the replay, with the store back, scores and appends as a first
    // delivery does
    run()
    assert(sinks == 1 && appends == 3, s"replay: $sinks sinks, $appends appends")
    assert(sunk == Map(10L -> "drop_near", 11L -> "keep"), s"got $sunk")
    assert(marks() == Seq(0L, 0L, 0L) && Seq(gH, gG, gM).forall(_.get() == 0L))
    triageInvalidate(dir)
  }

  // ------------------------------------- streaming incremental embedding

  private def embVec(seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(8)(r.nextFloat() * 2f - 1f)
  }

  test("streaming embed probe: one micro-batch equals batch x124 semantics; growth visible") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.IvfStore
    val dir = {
      val d = java.nio.file.Files.createTempDirectory("embed_probe_spec").toFile
      d.deleteOnExit(); d.getAbsolutePath + "/idx"
    }
    val hist = Seq((1L, embVec(11)), (2L, embVec(23)), (3L, embVec(47)))
      .toDF("vec_id", "embedding")
    IvfStore.create(spark, dir, hist, nlist = 2, kmeansIters = 1)
    // the batch-operator answer against the PRE-APPEND store: a verbatim
    // recrawl of history vec 1 plus a novel vector
    val b1 = Seq((10L, embVec(11)), (11L, embVec(997)))
    val want1 = IvfStore.search(spark, dir,
        b1.toDF("query_id", "qe"), k = 4, nprobe = 2)
      .filter(col("cos_sim") >= 0.999)
      .select(col("query_id"), col("vec_id"),
        org.apache.spark.sql.functions.round(col("cos_sim"), 4))
      .as[(Long, Long, Double)].collect().toSet
    assert(want1 == Set((10L, 1L, 1.0)), s"fixture drifted: $want1")
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Double)]()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = CurationStreams.incrementalEmbedProbe(
        mem.toDF().toDF("vec_id", "embedding"), dir,
        df => out ++= df.select("batch_id", "hist_id", "cos_sim")
          .as[(Long, Long, Double)].collect(),
        nprobe = 2)
      .start()
    try {
      mem.addData(b1)
      q.processAllAvailable()
      val batch1 = out.toSet
      assert(batch1 == want1, s"stream $batch1 != batch $want1")
      // batch 2: an exact copy of batch 1's novel vector — batch 1's
      // append made it history, so it must now pair at exactly 1.0
      mem.addData(Seq((20L, embVec(997))))
      q.processAllAvailable()
      val d2 = out.toSet -- batch1
      assert(d2 == Set((20L, 11L, 1.0)),
        s"batch-1 vectors not visible to batch 2: $d2")
    } finally q.stop()
  }

  test("streaming embed probe: failed append retried on replay, committed one skipped") {
    import spark.implicits._
    import graft.operators.IvfStore
    val dir = {
      val d = java.nio.file.Files.createTempDirectory("embed_probe_replay").toFile
      d.deleteOnExit(); d.getAbsolutePath + "/idx"
    }
    IvfStore.create(spark, dir,
      Seq((1L, embVec(11))).toDF("vec_id", "embedding"),
      nlist = 1, kmeansIters = 1)
    val batch = Seq((20L, embVec(997))).toDF("vec_id", "embedding")
    val appended = new graft.sources.StreamMark.Guard
    var appendCalls = 0
    var failNext = true
    val flaky: org.apache.spark.sql.DataFrame => Unit = { inc =>
      appendCalls += 1
      if (failNext) { failNext = false; throw new java.io.IOException("injected") }
      IvfStore.append(spark, dir, inc)
    }
    def run(guard: graft.sources.StreamMark.Guard): Unit =
      CurationStreams.embedProbeBatch(
        batch, 0L, dir, _ => (), guard, flaky)
    intercept[java.io.IOException](run(appended))
    assert(appended.get() == -1L, "guard advanced before the append committed")
    run(appended)
    assert(appendCalls == 2 && appended.get() == 0L)
    run(appended)
    assert(appendCalls == 2, "committed epoch re-appended on replay")
    // restart recovery honors the persisted watermark
    val restarted = new graft.sources.StreamMark.Guard
    run(restarted)
    assert(appendCalls == 2, "committed epoch re-appended after restart")
    assert(restarted.get() == 0L, "persisted watermark not recovered")
    // a recreated store starts a fresh lineage: the mark clears
    IvfStore.create(spark, dir,
      Seq((1L, embVec(11))).toDF("vec_id", "embedding"),
      nlist = 1, kmeansIters = 1)
    val fresh = new graft.sources.StreamMark.Guard
    failNext = false
    run(fresh)
    assert(appendCalls == 3 && fresh.get() == 0L,
      "recreated store did not reset the replay watermark")
  }

  // ------------------------------------- streaming incremental video

  /** MediaRow-shaped video frame from (id, content, n_frames) rows. */
  private def videoDf(rows: Seq[(Long, Array[Byte], Int)]) = {
    import spark.implicits._
    rows.toDF("media_id", "content", "n_frames")
      .select(col("media_id"), lit("video").as("kind"), col("content"),
        struct(lit(0).as("width"), lit(0).as("height"),
          lit(0).as("sampleRate"), col("n_frames").as("nFrames"),
          lit("").as("mime")).as("meta"))
  }

  // pseudo-random payloads so per-frame dHashes are effectively unique
  // (regular ramps can collapse to one gradient pattern per video)
  private def videoC1: Array[Byte] =
    Array.tabulate(640)(i => (((i * 2654435761L) >> 3) & 0xff).toByte)
  private def videoNovel: Array[Byte] =
    Array.tabulate(640)(i => ((((i + 997) * 40503L) >> 2) & 0xff).toByte)

  test("streaming video probe: one micro-batch equals batch x116 semantics; growth visible") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    val dir = s"/tmp/video_probe_spec_${System.nanoTime}"
    val histMedia = videoDf(Seq((1L, videoC1, 8)))
    val histFrames = Multimodal.frameFingerprints(histMedia)
    graft.sources.FrameHistory.create(spark, dir, histFrames, buckets = 4)
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Int, Double)]()
    val mem = MemoryStream[(Long, Array[Byte], Int)]
    val q = CurationStreams.incrementalVideoNearDups(
        mem.toDF().toDF("media_id", "content", "n_frames"), dir,
        df => out ++= df.as[(Long, Long, Int, Double)].collect())
      .start()
    try {
      // batch 1: an exact copy of the history video + a novel one
      mem.addData(Seq((10L, videoC1, 8), (11L, videoNovel, 8)))
      q.processAllAvailable()
      val batch1 = out.toSet
      // bit-identical to the batch operator against the same history
      val want1 = Multimodal.incrementalVideoNearDups(
          Multimodal.frameFingerprints(
            videoDf(Seq((10L, videoC1, 8), (11L, videoNovel, 8)))),
          graft.sources.FrameHistory.storeRows(histFrames),
          graft.sources.FrameHistory.sizeRows(histFrames))
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(batch1 == want1, s"stream $batch1 != batch $want1")
      assert(batch1.exists(p => p._1 == 1L && p._2 == 10L && p._4 == 1.0),
        s"exact copy did not pair at jaccard 1.0: $batch1")
      assert(!batch1.exists(_._2 == 11L), s"novel video matched history: $batch1")
      // batch 2: a copy of batch 1's novel video — batch 1's append made
      // it history (frames AND sizes), so it must now pair at 1.0
      mem.addData(Seq((20L, videoNovel, 8)))
      q.processAllAvailable()
      val delta = out.toSet -- batch1
      assert(delta.map(p => (p._1, p._2, p._4)) == Set((11L, 20L, 1.0)),
        s"batch-1 frames not visible to batch 2: $delta")
    } finally q.stop()
    graft.sources.FrameHistory.invalidate(spark, dir)
  }

  test("streaming video probe: failed append retried on replay, committed one skipped") {
    import graft.operators.Multimodal
    val dir = s"/tmp/video_probe_replay_${System.nanoTime}"
    graft.sources.FrameHistory.create(spark, dir,
      Multimodal.frameFingerprints(videoDf(Seq((1L, videoC1, 8)))),
      buckets = 4)
    val batch = {
      import spark.implicits._
      Seq((20L, videoNovel, 8)).toDF("media_id", "content", "n_frames")
    }
    val appended = new graft.sources.StreamMark.Guard
    var appendCalls = 0
    var failNext = true
    val flaky: org.apache.spark.sql.DataFrame => Unit = { inc =>
      appendCalls += 1
      if (failNext) { failNext = false; throw new java.io.IOException("injected") }
      graft.sources.FrameHistory.append(spark, dir, inc)
    }
    def run(guard: graft.sources.StreamMark.Guard): Unit =
      CurationStreams.videoProbeBatch(
        batch, 0L, dir, _ => (), guard, flaky)
    intercept[java.io.IOException](run(appended))
    assert(appended.get() == -1L, "guard advanced before the append committed")
    run(appended)
    assert(appendCalls == 2 && appended.get() == 0L)
    run(appended)
    assert(appendCalls == 2, "committed epoch re-appended on replay")
    // restart recovery honors the persisted watermark
    val restarted = new graft.sources.StreamMark.Guard
    run(restarted)
    assert(appendCalls == 2, "committed epoch re-appended after restart")
    assert(restarted.get() == 0L, "persisted watermark not recovered")
    graft.sources.FrameHistory.invalidate(spark, dir)
  }

  test("every store twin: a replay of a committed epoch calls neither the sink nor the append") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import graft.operators.{IvfStore, Multimodal, UnigramLm}
    import graft.queries.TextOps
    import graft.sources._
    type Sink = DataFrame => Unit
    val k = 8
    val gramCorpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val gramBatch = Seq((20L, "some brand new sentence nobody wrote before"))
      .toDF("doc_id", "text")
    val model = {
      val (vocab, scalars) = UnigramLm.train(
        gramBatch.select(col("doc_id"), lit("s").as("source"), col("text")))
      UnigramLm.freeze(vocab, scalars)
    }
    val ndBatch = Seq(ndDoc(20L, ndNovel)).toDF("doc_id", "text", "lang", "n_chars")
    // (twin, store setup for a dir returning the twin's batch-0 body)
    val twins: Seq[(String, String => (Sink, Sink) => Unit)] = Seq(
      "gram audit" -> { dir =>
        GramHistory.create(spark, dir, gramCorpus, k, buckets = 4)
        val g = new StreamMark.Guard
        (sink, append) => CurationStreams.gramAuditBatch(
          gramBatch, 0L, dir, k, sink, g, append)
      },
      "span removal" -> { dir =>
        GramHistory.create(spark, dir, gramCorpus, k, buckets = 4)
        val g = new StreamMark.Guard
        (sink, append) => CurationStreams.gramRemovalBatch(
          gramBatch, 0L, dir, k, sink, g, append)
      },
      "curateV3" -> { dir =>
        GramHistory.create(spark, dir, gramCorpus, k, buckets = 4)
        val g = new StreamMark.Guard
        (sink, append) => CurationStreams.curateV3Batch(gramBatch, 0L, dir, k,
          model, Double.MaxValue, sink, g, append)
      },
      "payload" -> { dir =>
        PhashHistory.create(spark, dir, Multimodal.payloadFingerprints(
          Seq((1L, rampPayload)).toDF("media_id", "content")), buckets = 4)
        val batch = Seq((20L, novelPayload)).toDF("media_id", "content")
        val g = new StreamMark.Guard
        (sink, append) => CurationStreams.payloadAuditBatch(
          batch, 0L, dir, sink, g, append)
      },
      "near-dup" -> { dir =>
        val hist = Seq(ndDoc(1L, ndText("tail")))
          .toDF("doc_id", "text", "lang", "n_chars")
        MinHashHistory.create(spark, dir, TextOps.minHashBandsOf(hist),
          TextOps.minHashShinglesOf(hist), buckets = 4)
        val g = new StreamMark.Guard
        (sink, append) => CurationStreams.nearDupBatch(
          ndBatch, 0L, dir, sink, g, append)
      },
      "audio" -> { dir =>
        LandmarkHistory.create(spark, dir, Multimodal.audioLandmarkRows(
          Seq((1L, audioT1)).toDF("media_id", "content")), buckets = 4)
        val batch = Seq((20L, audioNovel)).toDF("media_id", "content")
        val g = new StreamMark.Guard
        (sink, append) => CurationStreams.audioProbeBatch(
          batch, 0L, dir, sink, g, append)
      },
      "video" -> { dir =>
        FrameHistory.create(spark, dir,
          Multimodal.frameFingerprints(videoDf(Seq((1L, videoC1, 8)))),
          buckets = 4)
        val batch = Seq((20L, videoNovel, 8))
          .toDF("media_id", "content", "n_frames")
        val g = new StreamMark.Guard
        (sink, append) => CurationStreams.videoProbeBatch(
          batch, 0L, dir, sink, g, append)
      },
      "embed" -> { dir =>
        IvfStore.create(spark, dir,
          Seq((1L, embVec(11))).toDF("vec_id", "embedding"),
          nlist = 1, kmeansIters = 1)
        val batch = Seq((20L, embVec(997))).toDF("vec_id", "embedding")
        val g = new StreamMark.Guard
        (sink, append) => CurationStreams.embedProbeBatch(
          batch, 0L, dir, sink, g, append)
      },
      "triage" -> { dir =>
        mkTriageStores(dir)
        val (gH, gG, gM) =
          (new StreamMark.Guard, new StreamMark.Guard, new StreamMark.Guard)
        (sink, append) => CurationStreams.triageBatch(ndBatch, 0L, dir,
          TextOps.DupGramK, sink, gH, gG, gM, append, append, append)
      })
    val base = java.nio.file.Files.createTempDirectory("replay_skip").toString
    twins.zipWithIndex.foreach { case ((name, twin), i) =>
      val dir = s"$base/$i"
      val run = twin(dir)
      var (sinks, appends) = (0, 0)
      val sink: Sink = _ => sinks += 1
      val append: Sink = _ => appends += 1
      run(sink, append)
      assert(sinks == 1 && appends > 0, s"$name: batch 0 did not commit")
      val committed = (sinks, appends)
      run(sink, append)
      assert((sinks, appends) == committed,
        s"$name: the committed epoch's replay called the sink or the append")
      Seq[BucketedStore[_]](GramHistory, PhashHistory, MinHashHistory,
        LandmarkHistory, FrameHistory, HashHistory)
        .foreach(_.invalidate(spark, dir))
    }
  }

  test("streaming band buckets are bit-identical to the batch LSH buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val shingles = graft.operators.Kernels.wordTrigramSet(text)
    val sig = graft.operators.Kernels.minHashSig(shingles, 128)
    // the batch plan's bucket column: xxhash64(lit(b), sig[b*4] .. sig[b*4+3])
    val df = Seq(Tuple1(sig.toSeq)).toDF("sig")
    val batchBuckets = df.select((0 until 32).map(b =>
      xxhash64(lit(b) +: (0 until 4).map(r => col("sig")(b * 4 + r)): _*)
        .as(s"b$b")): _*).collect().head.toSeq.map(_.asInstanceOf[Long])
    val kernelBuckets =
      graft.operators.Kernels.minHashBandBuckets(shingles, 128, 32).toSeq
    assert(batchBuckets == kernelBuckets)
  }

  test("pred_lang and stats columns are attached") {
    val rows = drive(Seq(Seq(Doc(1, ts("10:00"), good, "en", "s"))))
    val r = rows.head
    assert(r.getAs[String]("pred_lang") != null)
    assert(r.getAs[Int]("n_tokens") == 12)
    assert(r.getAs[Double]("punct_ratio") == 0.0)
    assert(r.getAs[String]("content_hash").length == 32)
  }
}
