package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.FeatureStore._

class FeatureStoreSpec extends SparkSpec {

  private val cfg0 = StoreConfig(
    path = "",
    attrs = Seq(AttrField("size", "int"), AttrField("score", "double"),
      AttrField("name", "text"), AttrField("seen", "date")))

  private def tmpDir(): String =
    Files.createTempDirectory("graft-fs").toString

  private def featureJson(id: String, lon: Double, lat: Double,
                          props: String): String =
    s"""{"type":"Feature","id":"$id","geometry":{"type":"Point","coordinates":[$lon,$lat]},"properties":$props}"""

  private val lines = Seq(
    featureJson("a", 10.0, 50.0, """{"size":3,"score":1.5,"name":"ok","seen":"2024-05-01"}"""),
    // missing properties -> type defaults
    featureJson("b", 10.1, 50.1, """{}"""),
    // numeric STRING in a double field -> coerced (Tyler.kt:77-87)
    featureJson("c", 10.2, 50.2, """{"score":"3.5"}"""),
    // string in an int field -> dead-letter
    featureJson("d", 10.3, 50.3, """{"size":"abc"}"""),
    // integral string in an int field -> ALSO dead-letter (IntValue only)
    featureJson("e", 10.4, 50.4, """{"size":"3"}"""),
    // non-integral number in an int field -> dead-letter
    featureJson("f", 10.5, 50.5, """{"size":3.5}"""),
    // unparseable date -> dead-letter
    featureJson("g", 10.6, 50.6, """{"seen":"not-a-date"}"""),
    // no id -> deterministic uid
    s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[11.0,51.0]},"properties":{"size":7}}""")

  private def ingestLines(ls: Seq[String]): Ingested = {
    import spark.implicits._
    FeatureStore.ingest(ls.toDF("raw"), cfg0)
  }

  test("coercion matrix: defaults, lenient double, strict int, dead-letter") {
    val r = ingestLines(lines)
    val good = r.good.collect().map(x => x.getAs[String]("uid") -> x).toMap
    val rejected = r.rejected.collect().map(_.getString(0))

    assert(good.keySet.count(_.length > 1) >= 1) // deterministic uid row
    assert(good.contains("a") && good.contains("b") && good.contains("c"))
    // dead-letter rows carry their original JSON
    assert(rejected.length == 4)
    assert(rejected.exists(_.contains("\"size\":\"abc\"")))
    assert(rejected.exists(_.contains("\"size\":\"3\"")))
    assert(rejected.exists(_.contains("\"size\":3.5")))
    assert(rejected.exists(_.contains("not-a-date")))

    val a = good("a")
    assert(a.getAs[Int]("size") == 3 && a.getAs[Double]("score") == 1.5 &&
      a.getAs[String]("name") == "ok" &&
      a.getAs[java.sql.Date]("seen").toString == "2024-05-01")
    val b = good("b")
    assert(b.getAs[Int]("size") == 0 && b.getAs[Double]("score") == 0.0 &&
      b.getAs[String]("name") == "" &&
      b.getAs[java.sql.Date]("seen").toString == "1970-01-01")
    val c = good("c")
    assert(c.getAs[Double]("score") == 3.5)
    // every good row has a Morton hash and WKT geometry
    assert(good.values.forall(_.getAs[Int]("hash") > 0))
    assert(good.values.forall(_.getAs[String]("geometry").startsWith("POINT")))
  }

  test("FeatureCollection reader ingests the same rows as NDJSON") {
    val dir = tmpDir()
    val fcPath = s"$dir/fc.json"
    val ndPath = s"$dir/nd.json"
    val goodLines = lines.filterNot(l =>
      Seq("\"size\":\"abc\"", "\"size\":\"3\"", "\"size\":3.5", "not-a-date")
        .exists(l.contains))
    Files.writeString(java.nio.file.Paths.get(fcPath),
      s"""{"type":"FeatureCollection","features":[${goodLines.mkString(",")}]}""")
    Files.writeString(java.nio.file.Paths.get(ndPath), lines.mkString("\n"))

    val fc = FeatureStore.readFeatureCollection(spark, fcPath, cfg0)
    val nd = FeatureStore.readNdjson(spark, ndPath, cfg0)
    val fcIds = fc.good.select("uid").collect().map(_.getString(0)).toSet
    val ndIds = nd.good.select("uid").collect().map(_.getString(0)).toSet
    assert(fcIds.intersect(Set("a", "b", "c")) == Set("a", "b", "c"))
    assert(fcIds.filter(_.length == 1) == ndIds.filter(_.length == 1))
  }

  test("FeatureCollection parse streams: big collection, uids identical to NDJSON") {
    val dir = tmpDir()
    val fcPath = s"$dir/big_fc.json"
    val ndPath = s"$dir/big_nd.json"
    // 5k id-less features -> every uid is the md5 of the feature text, so
    // any serialization drift between the two ingest paths would show up
    val feats = (0 until 5000).map { i =>
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[${10.0 + i * 0.001},50.0]},"properties":{"size":$i,"name":"f$i"}}"""
    }
    // features is NOT the first field, and trailing fields follow the array
    // (the incremental parser must skip both without buffering the document)
    Files.writeString(java.nio.file.Paths.get(fcPath),
      s"""{"type":"FeatureCollection","bbox":[0,0,90,90],"features":[${feats.mkString(",")}],"meta":{"n":5000}}""")
    Files.writeString(java.nio.file.Paths.get(ndPath), feats.mkString("\n"))
    val fc = FeatureStore.readFeatureCollection(spark, fcPath, cfg0)
    val nd = FeatureStore.readNdjson(spark, ndPath, cfg0)
    val fcIds = fc.good.select("uid").collect().map(_.getString(0)).toSet
    val ndIds = nd.good.select("uid").collect().map(_.getString(0)).toSet
    assert(fcIds.size == 5000 && fcIds == ndIds)
    assert(fc.rejected.isEmpty)
    // the temp spill is cleaned up
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_fc_tmp_"))
    assert(leftovers.isEmpty, s"temp not cleaned: ${leftovers.mkString(",")}")
  }

  test("FeatureCollection parse rejects a non-collection document") {
    val dir = tmpDir()
    val p = s"$dir/notfc.json"
    Files.writeString(java.nio.file.Paths.get(p), """{"type":"Feature","geometry":null}""")
    intercept[IllegalArgumentException] {
      FeatureStore.readFeatureCollection(spark, p, cfg0)
    }
  }

  test("streaming NDJSON ingest appends good rows to the store and bad rows to dead-letter") {
    val dir = tmpDir()
    val src = s"$dir/incoming"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val cfg = cfg0.copy(path = s"$dir/store")
    val q = FeatureStore.startIngestStream(spark, src, cfg, s"$dir/ckpt")
    try {
      Files.writeString(java.nio.file.Paths.get(s"$src/batch1.ndjson"),
        Seq(lines(0), lines(1)).mkString("\n"))
      q.processAllAvailable()
      assert(FeatureStore.read(spark, cfg).count() == 2)
      // second batch: one good row, one dead-letter row
      Files.writeString(java.nio.file.Paths.get(s"$src/batch2.ndjson"),
        Seq(lines(2), lines(3)).mkString("\n"))
      q.processAllAvailable()
      assert(FeatureStore.read(spark, cfg).count() == 3)
      assert(spark.read.parquet(s"${cfg.path}_rejected").count() == 1)
      // exactly-once: reprocessing adds nothing
      q.processAllAvailable()
      assert(FeatureStore.read(spark, cfg).count() == 3)
    } finally q.stop()

    // compaction merges the per-microbatch small files, preserving rows
    val (before, after) = FeatureStore.compact(spark, cfg)
    assert(after < before, s"no compaction: $before -> $after")
    assert(FeatureStore.read(spark, cfg).count() == 3)
  }

  /** A raw-line source that counts how often each line is read: every
    * re-run of the ingest parse over the raw lineage reads it again.
    */
  private def countingRaw(raw: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.util.LongAccumulator) = {
    val reads = spark.sparkContext.longAccumulator("raw line reads")
    val counted = udf { (s: String) => reads.add(1); s }.asNondeterministic()
    (raw.select(counted(col("value")).as("raw")), reads)
  }

  test("streaming ingest parses each raw line once per batch, rejected lines included") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = tmpDir()
    val cfg = cfg0.copy(path = s"$dir/store")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val (raw, reads) = countingRaw(mem.toDF())
    val q = FeatureStore.ingestStream(raw, cfg, s"$dir/ckpt")
    try {
      mem.addData(lines)
      q.processAllAvailable()
    } finally q.stop()
    assert(FeatureStore.read(spark, cfg).count() == 4)
    assert(spark.read.parquet(s"${cfg.path}_rejected").count() == 4)
    assert(reads.value == lines.size,
      s"${reads.value} raw-line reads for one batch of ${lines.size} lines")
  }

  test("appendRaw parses each raw line once: good rows appended, rejected dead-lettered, touched cells returned") {
    import spark.implicits._
    val dir = tmpDir()
    val cfg = cfg0.copy(path = s"$dir/store")
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.ndjson"), lines.mkString("\n"))
    val (raw, reads) = countingRaw(spark.read.text(s"$dir/in.ndjson"))
    val (n, touched) = FeatureStore.appendRaw(raw, cfg)
    assert(reads.value == lines.size,
      s"${reads.value} raw-line reads for ${lines.size} lines")
    val stored = FeatureStore.read(spark, cfg)
    assert(n == 4 && stored.count() == 4)
    assert(touched.toSet == stored.select("hash").as[Int].collect().toSet)
    assert(spark.read.parquet(s"${cfg.path}_rejected").count() == 4)
  }

  test("a second ingest stream with a fresh checkpoint over a surviving store ingests its own batch 0") {
    val dir = tmpDir()
    val cfg = cfg0.copy(path = s"$dir/store")
    def ingestOne(name: String, line: String): Unit = {
      val src = java.nio.file.Paths.get(s"$dir/in_$name")
      Files.createDirectories(src)
      Files.writeString(src.resolve("batch.ndjson"), line)
      val q = FeatureStore.startIngestStream(spark, src.toString, cfg,
        s"$dir/ckpt_$name")
      try q.processAllAvailable() finally q.stop()
    }
    ingestOne("a", lines(0))
    ingestOne("b", lines(1))
    assert(FeatureStore.read(spark, cfg).count() == 2,
      "the second stream's batch 0 was skipped as already ingested")
  }

  test("a full write clears the ingest stream mark; vacuum never sweeps it") {
    val dir = tmpDir()
    val cfg = cfg0.copy(path = s"$dir/store")
    FeatureStore.write(ingestLines(lines.take(2)).good, cfg)
    StreamMark.writeAt(spark, cfg.path, 5)
    // an aged mark is not crash debris: a committing write's vacuum keeps it
    Files.setLastModifiedTime(
      java.nio.file.Paths.get(StreamMark.markPathAt(cfg.path).toString),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis -
        FeatureStore.Manifests.debrisGraceMillis(cfg) - 60000))
    FeatureStore.delete(spark, cfg, "a")
    assert(StreamMark.readAt(spark, cfg.path) == 5L)
    // a full overwrite starts a new store lineage
    FeatureStore.write(ingestLines(lines.take(2)).good, cfg)
    assert(StreamMark.readAt(spark, cfg.path) == -1L,
      "a stale ingest mark survived the full write")
  }

  test("write/read roundtrip: hash-sorted layout, lookup, delete, update, tile delete") {
    val dir = tmpDir()
    val cfg = cfg0.copy(path = s"$dir/store")
    val r = ingestLines(lines)
    FeatureStore.write(r.good, cfg)
    FeatureStore.writeRejected(r.rejected, cfg)

    val stored = FeatureStore.read(spark, cfg)
    assert(stored.count() == 4)
    assert(spark.read.parquet(s"${cfg.path}_rejected").count() == 4)

    // A4 lookup
    assert(FeatureStore.lookup(spark, cfg, "a").count() == 1)

    // A6 update preserves untouched attrs
    FeatureStore.update(spark, cfg, "a", None, Map("name" -> "renamed"))
    val a = FeatureStore.lookup(spark, cfg, "a").collect().head
    assert(a.getAs[String]("name") == "renamed")
    assert(a.getAs[Int]("size") == 3, "update clobbered an untouched attr")

    // A6 geometry update recomputes the hash
    val oldHash = a.getAs[Int]("hash")
    FeatureStore.update(spark, cfg, "a", Some("POINT (-70 -30)"), Map.empty)
    val a2 = FeatureStore.lookup(spark, cfg, "a").collect().head
    assert(a2.getAs[Int]("hash") != oldHash)

    // A5 delete
    FeatureStore.delete(spark, cfg, "b")
    assert(FeatureStore.lookup(spark, cfg, "b").count() == 0)
    assert(FeatureStore.read(spark, cfg).count() == 3)

    // A8: tile delete removes everything in the z=9 tile around (10.2, 50.2)
    val tx = graft.core.WebMercator.tileX(10.2, 9)
    val ty = graft.core.WebMercator.tileY(50.2, 9)
    FeatureStore.deleteTile(spark, cfg, 9, tx, ty)
    val left = FeatureStore.read(spark, cfg).select("uid").collect().map(_.getString(0))
    assert(!left.contains("c"), s"tile delete left $left")
  }

  test("delete/update rewrite only the touched files; others stay byte-identical") {
    import spark.implicits._
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")))
    // 40 well-spread points -> 8 range-partitioned files with disjoint hash ranges
    val ls = (0 until 40).map { i =>
      featureJson(s"u$i", -170.0 + i * 8.4, -80.0 + i * 4.0, s"""{"v":$i}""")
    }
    FeatureStore.write(FeatureStore.ingest(ls.toDF("raw"), cfg).good, cfg, partitions = 8)

    def snapshot(): Map[String, (Long, Long)] = {
      val d = new java.io.File(cfg.path)
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val before = snapshot()
    assert(before.size >= 4, s"need multiple files, got ${before.size}")

    val h = FeatureStore.lookup(spark, cfg, "u7").collect().head.getAs[Int]("hash")
    FeatureStore.delete(spark, cfg, "u7", Seq(h))
    assert(FeatureStore.lookup(spark, cfg, "u7").count() == 0)
    assert(FeatureStore.read(spark, cfg).count() == 39)

    val after = snapshot()
    // no original is ever modified in place, and exactly one replacement
    // file appeared; the replaced original LINGERS until it leaves the
    // manifest retention window (so a reader one snapshot behind still
    // finds it)
    assert(before.keySet.subsetOf(after.keySet),
      s"an original vanished before retention expired")
    before.keySet.foreach { name =>
      assert(before(name) == after(name), s"$name was modified in place")
    }
    assert(after.size == before.size + 1,
      s"expected 1 replacement file, got ${after.size - before.size}")

    // update: same contract, and the file replaced by the EARLIER delete
    // has now aged out of retention and been vacuumed
    FeatureStore.update(spark, cfg, "u3", None, Map("v" -> 999))
    val after2 = snapshot()
    val survivors = before.keySet.intersect(after2.keySet)
    assert(survivors.size == before.size - 1,
      s"first delete's replaced file not vacuumed: ${after2.keySet}")
    survivors.foreach { name => assert(before(name) == after2(name)) }
    assert(FeatureStore.lookup(spark, cfg, "u3").collect().head.getAs[Int]("v") == 999)
    assert(FeatureStore.read(spark, cfg).count() == 39)
  }

  test("time travel: readAt serves retained snapshots, expired ones fail loudly") {
    import spark.implicits._
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")))
    def ingested(i: Int) = FeatureStore.ingest(
      Seq(featureJson(s"u$i", -170.0 + i * 8.4, -80.0 + i * 4.0,
        s"""{"v":$i}""")).toDF("raw"), cfg).good
    FeatureStore.write(ingested(0), cfg) // snapshot 1
    FeatureStore.append(ingested(1), cfg) // snapshot 2
    val afterTwo = FeatureStore.snapshots(spark, cfg)
    assert(afterTwo == Seq(1L, 2L), s"got $afterTwo")
    // as-of reads differ while the current read serves the newest
    assert(FeatureStore.readAt(spark, cfg, 1L).count() == 1)
    assert(FeatureStore.readAt(spark, cfg, 2L).count() == 2)
    assert(FeatureStore.read(spark, cfg).count() == 2)
    // two more commits age snapshot 1 out of the RetainManifests=2 window
    FeatureStore.append(ingested(2), cfg) // snapshot 3 (vacuum drops m_1)
    FeatureStore.append(ingested(3), cfg) // snapshot 4 (vacuum drops m_2)
    val retained = FeatureStore.snapshots(spark, cfg)
    assert(retained == Seq(3L, 4L), s"retention drift: $retained")
    assert(FeatureStore.readAt(spark, cfg, 4L).count() == 4)
    val ex = intercept[IllegalArgumentException] {
      FeatureStore.readAt(spark, cfg, 1L)
    }
    assert(ex.getMessage.contains("unknown snapshot"), ex.getMessage)
  }

  test("concurrent reader during a delete sees old or new snapshot, never partial") {
    import spark.implicits._
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")))
    val ls = (0 until 30).map { i =>
      featureJson(s"u$i", -170.0 + i * 11.2, -80.0 + i * 5.3, s"""{"v":$i}""")
    }
    FeatureStore.write(FeatureStore.ingest(ls.toDF("raw"), cfg).good, cfg, partitions = 6)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val n = FeatureStore.read(spark, cfg).count()
          if (n != 30L && n != 29L) errors.add(s"partial snapshot: $n rows")
        } catch { case e: Exception => errors.add(s"read failed: ${e.getMessage}") }
      }
    })
    reader.start()
    try {
      val h = FeatureStore.lookup(spark, cfg, "u7").collect().head.getAs[Int]("hash")
      FeatureStore.delete(spark, cfg, "u7", Seq(h))
    } finally { stop = true; reader.join(30000) }
    assert(errors.isEmpty, s"reader saw: ${errors.toArray.mkString("; ")}")
    assert(FeatureStore.read(spark, cfg).count() == 29)
  }

  test("vacuum sweeps aged orphan tmp dirs but spares fresh ones (grace period)") {
    import spark.implicits._
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")))
    val ls = (0 until 8).map(i =>
      featureJson(s"u$i", -100.0 + i * 20.0, 10.0, s"""{"v":$i}"""))
    FeatureStore.write(FeatureStore.ingest(ls.toDF("raw"), cfg).good, cfg, partitions = 2)
    // a crashed append from long ago: an aged orphan spill dir
    val aged = java.nio.file.Paths.get(s"$dir/store_ap_tmp_dead")
    java.nio.file.Files.createDirectories(aged)
    java.nio.file.Files.writeString(aged.resolve("part-junk.parquet"), "x")
    java.nio.file.Files.setLastModifiedTime(aged,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - FeatureStore.Manifests.DebrisGraceMillis - 60000))
    // a spill dir written moments ago (possibly a live writer's): must survive
    val fresh = java.nio.file.Paths.get(s"$dir/store_ap_tmp_live")
    java.nio.file.Files.createDirectories(fresh)
    java.nio.file.Files.writeString(fresh.resolve("part-inflight.parquet"), "x")
    // any committing write triggers the sweep
    FeatureStore.delete(spark, cfg, "u3")
    assert(!java.nio.file.Files.exists(aged), "aged orphan tmp dir not swept")
    assert(java.nio.file.Files.exists(fresh),
      "fresh (possibly in-flight) tmp dir swept inside the grace period")
    assert(FeatureStore.read(spark, cfg).count() == 7)
  }

  test("writer lease: a second writer fails loudly while the lease is held, store intact") {
    import spark.implicits._
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")),
      leaseWaitMillis = 300)
    val ls = (0 until 8).map(i =>
      featureJson(s"u$i", -100.0 + i * 20.0, 10.0, s"""{"v":$i}"""))
    val good = FeatureStore.ingest(ls.toDF("raw"), cfg).good
    FeatureStore.write(good, cfg, partitions = 2)
    val fs = new org.apache.hadoop.fs.Path(cfg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer A holds the lease (mid-operation)
    val tokenA = FeatureStore.lease(cfg).acquire(fs)
    // writer B: every mutating path must fail loudly after the bounded wait
    val e = intercept[IllegalStateException] {
      FeatureStore.delete(spark, cfg, "u3")
    }
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    // the store is untouched by the failed writer
    assert(FeatureStore.read(spark, cfg).count() == 8)
    // A releases; the same mutation now succeeds
    FeatureStore.lease(cfg).release(fs, tokenA)
    FeatureStore.delete(spark, cfg, "u3")
    assert(FeatureStore.read(spark, cfg).count() == 7)
  }

  test("writer lease: a second writer WAITS for release, then proceeds (no failure)") {
    import spark.implicits._
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")),
      leaseWaitMillis = 15000)
    val ls = (0 until 8).map(i =>
      featureJson(s"u$i", -100.0 + i * 20.0, 10.0, s"""{"v":$i}"""))
    FeatureStore.write(FeatureStore.ingest(ls.toDF("raw"), cfg).good, cfg, partitions = 2)
    val fs = new org.apache.hadoop.fs.Path(cfg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer A holds the lease briefly; B's mutation must SERIALIZE behind
    // it (acquire retries within the wait) — this is how concurrent REST
    // mutations queue instead of failing, as long as waits cover op length
    val tokenA = FeatureStore.lease(cfg).acquire(fs)
    val releaser = new Thread(() => {
      Thread.sleep(700)
      FeatureStore.lease(cfg).release(fs, tokenA)
    })
    releaser.start()
    val t0 = System.nanoTime()
    FeatureStore.delete(spark, cfg, "u3") // blocks ~700ms, then proceeds
    releaser.join()
    assert((System.nanoTime() - t0) / 1e6 >= 500, "delete did not wait for the lease")
    assert(FeatureStore.read(spark, cfg).count() == 7)
  }

  test("writer lease: a stale lease is stolen, and the stale holder's commit is fenced") {
    import spark.implicits._
    val dir = tmpDir()
    // TTL of 1 ms: any lease is immediately stale
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")),
      leaseWaitMillis = 300, leaseTtlMillis = 1)
    val ls = (0 until 8).map(i =>
      featureJson(s"u$i", -100.0 + i * 20.0, 10.0, s"""{"v":$i}"""))
    FeatureStore.write(FeatureStore.ingest(ls.toDF("raw"), cfg).good, cfg, partitions = 2)
    val fs = new org.apache.hadoop.fs.Path(cfg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val crashed = FeatureStore.lease(cfg).acquire(fs)
    Thread.sleep(5) // the crashed writer's lease expires
    // a new writer steals the stale lease at the next epoch...
    val thief = FeatureStore.lease(cfg).acquire(fs)
    assert(thief.epoch == crashed.epoch + 1)
    // ...and the stale holder can no longer commit: the fence trips
    val e = intercept[IllegalArgumentException] {
      FeatureStore.Manifests.commit(fs, cfg, identity, Some(crashed))
    }
    assert(e.getMessage.contains("lease"), e.getMessage)
    // the store still reads fine on the committed snapshot
    assert(FeatureStore.read(spark, cfg).count() == 8)
    FeatureStore.lease(cfg).release(fs, thief)
  }

  test("writer lease: a torn lease file (crashed creator) is stolen, never wedges the store") {
    import spark.implicits._
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")),
      leaseWaitMillis = 500)
    val ls = (0 until 8).map(i =>
      featureJson(s"u$i", -100.0 + i * 20.0, 10.0, s"""{"v":$i}"""))
    FeatureStore.write(FeatureStore.ingest(ls.toDF("raw"), cfg).good, cfg, partitions = 2)
    // a creator that crashed between create and write leaves an EMPTY lease
    // file; one that crashed mid-write leaves garbage. Both must be
    // stealable once PAST the torn grace (the epoch reads from the NAME),
    // not a permanent wedge. mtime is aged so the grace treats them as
    // crashes, not in-flight creators.
    def tornLease(epoch: Int, content: String): Unit = {
      val p = java.nio.file.Paths.get(s"$dir/store_lease_e$epoch")
      java.nio.file.Files.writeString(p, content)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis - cfg.leaseTornGraceMillis - 60000))
    }
    tornLease(7, "")
    FeatureStore.delete(spark, cfg, "u3") // must acquire e8 over the torn e7
    assert(FeatureStore.read(spark, cfg).count() == 7)
    tornLease(9, "garbage not-a-number")
    FeatureStore.delete(spark, cfg, "u4")
    assert(FeatureStore.read(spark, cfg).count() == 6)
    // dead lower-epoch files were swept by the successful acquires; only
    // the latest holder's lease file + its release marker may remain
    // (epochs stay monotone so a late release can never delete a
    // successor's lease)
    val leases = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("store_lease_e")).map(_.getName)
    assert(leases.length <= 2, s"stale lease files not swept: ${leases.mkString(",")}")
    // a fresh torn file (an in-flight creator) is NOT stealable: the next
    // writer must wait out the grace and fail loudly within its bounded wait
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/store_lease_e99"), "")
    val e = intercept[IllegalStateException] {
      FeatureStore.delete(spark, cfg, "u5")
    }
    assert(e.getMessage.contains("torn, within grace"), e.getMessage)
    assert(FeatureStore.read(spark, cfg).count() == 6, "blocked writer mutated")
  }

  test("writer lease: a store basename containing _e<digits> never confuses the epoch sweep") {
    import spark.implicits._
    val dir = tmpDir()
    // the basename itself matches `_e\d+` — an UNANCHORED sweep regex would
    // parse every lease file's epoch from the basename (always 2), read the
    // winner's own current lease as below-epoch, delete it, and wedge every
    // later commit on the fence
    val cfg = StoreConfig(path = s"$dir/corpus_e2", attrs = Seq(AttrField("v", "int")))
    val ls = (0 until 8).map(i =>
      featureJson(s"u$i", -100.0 + i * 20.0, 10.0, s"""{"v":$i}"""))
    FeatureStore.write(FeatureStore.ingest(ls.toDF("raw"), cfg).good, cfg, partitions = 2)
    // three mutations push the lease epoch past the basename's "2"; with the
    // unanchored regex the third acquire's sweep deletes its own lease and
    // the commit fence fails — with the fix all succeed
    FeatureStore.delete(spark, cfg, "u0")
    FeatureStore.delete(spark, cfg, "u1")
    FeatureStore.update(spark, cfg, "u2", None, Map("v" -> 99))
    assert(FeatureStore.read(spark, cfg).count() == 6)
    assert(FeatureStore.lookup(spark, cfg, "u2").collect().head.getAs[Int]("v") == 99)
    // the sweep still works: at most current lease + its marker remain
    val leases = new java.io.File(dir).listFiles()
      .filter(f => f.getName.contains("_lease_e") && !f.getName.startsWith("."))
      .map(_.getName)
    assert(leases.length <= 2, s"stale lease files not swept: ${leases.mkString(",")}")
  }

  test("vacuum debris grace always exceeds the lease TTL (derived, not fixed)") {
    // a slow writer can hold a live spill dir for a full TTL before being
    // stolen from; the sweep cutoff must cover that window even when a
    // store raises leaseTtlMillis past the fixed floor
    val base = cfg0.copy(path = "/tmp/x")
    assert(FeatureStore.Manifests.debrisGraceMillis(base) ==
      FeatureStore.Manifests.DebrisGraceMillis)
    val slow = base.copy(leaseTtlMillis = 60 * 60 * 1000L) // 1 h TTL
    assert(FeatureStore.Manifests.debrisGraceMillis(slow) > slow.leaseTtlMillis,
      "grace did not scale with the TTL")
  }

  test("a commit whose snapshot id was taken mid-write fails loudly — " +
      "never overwrites the racer's manifest (POSIX rename overwrites)") {
    // deterministic re-run of the schedule the lease storm caught under
    // load: a writer stalls between reading `latest` and renaming, a
    // second writer commits the same snapshot id, the first wakes and
    // renames — on HDFS the rename refuses, but POSIX rename(2)
    // silently clobbers the racer's committed manifest. The update
    // function runs exactly in that window, so a nested commit inside it
    // IS the race.
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store",
      attrs = Seq(AttrField("v", "int")))
    val fs = new org.apache.hadoop.fs.Path(cfg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-base.parquet")
    val boom = intercept[IllegalArgumentException] {
      FeatureStore.Manifests.commit(fs, cfg, { base =>
        // the "stall": another writer takes our snapshot id right here
        FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-racer.parquet")
        base :+ "part-stale.parquet"
      })
    }
    assert(boom.getMessage.contains("concurrent writer"),
      s"wrong failure: $boom")
    val fin = FeatureStore.Manifests.latest(fs, cfg).map(_._2).getOrElse(Nil)
    assert(fin.contains("part-racer.parquet"),
      s"racer's committed file lost from the snapshot: $fin")
    assert(!fin.contains("part-stale.parquet"),
      s"the stale writer's file reached the snapshot anyway: $fin")
  }

  test("lease storm: concurrent writers with random crashes — liveness and integrity") {
    // N threads x M lease-guarded commits; ~25% of ops "crash" after
    // acquiring (no commit, no release) so successors must STEAL after the
    // TTL. Asserts: (1) liveness — no thread wedges, every acquire
    // eventually succeeds within its bounded wait; (2) integrity — the
    // final manifest contains EVERY committed name (no lost update) and NO
    // crashed op's name; commits interrupted by a steal fail loudly
    // (fence/rename), never silently. The lease's 300+ lines of edge-case
    // handling evolve — this storm keeps them honest.
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")),
      leaseWaitMillis = 30000, leaseTtlMillis = 200, leaseTornGraceMillis = 100)
    val fs = new org.apache.hadoop.fs.Path(cfg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val threads = 4; val opsPerThread = 6
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val crashed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fenced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(1000 + t) // deterministic storm
        (0 until opsPerThread).foreach { i =>
          val name = s"part-t$t-o$i.parquet"
          try {
            val token = FeatureStore.lease(cfg).acquire(fs)
            if (rnd.nextDouble() < 0.25) {
              crashed.add(name) // crashed holder: successors steal after TTL
            } else {
              try {
                FeatureStore.Manifests.commit(fs, cfg, _ :+ name, Some(token))
                committed.add(name)
              } catch {
                // stolen mid-commit: the fence (verify) or the m_<n> rename
                // refuses — loud, and the name must NOT reach the manifest
                case e: IllegalArgumentException => fenced.add(name)
              } finally FeatureStore.lease(cfg).release(fs, token)
            }
          } catch {
            case e: Exception =>
              errors.add(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(90)}")
          }
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(ts.forall(!_.isAlive), "a writer thread is still wedged after the storm")
    assert(errors.isEmpty, s"liveness violated: ${errors.toArray.mkString("; ")}")
    val fin = FeatureStore.Manifests.latest(fs, cfg).map(_._2).getOrElse(Nil).toSet
    val committedNames = committed.toArray(Array.empty[String])
    assert(committedNames.nonEmpty, "storm committed nothing — fixture broken")
    committedNames.foreach { n =>
      assert(fin.contains(n), s"committed $n lost from the final snapshot")
    }
    crashed.toArray(Array.empty[String]).foreach { n =>
      assert(!fin.contains(n), s"crashed op's $n leaked into the snapshot")
    }
    fenced.toArray(Array.empty[String]).foreach { n =>
      assert(!fin.contains(n), s"fenced op's $n reached the snapshot anyway")
    }
    // post-storm health: a fresh writer acquires (stealing any crashed
    // holder's stale lease) and commits normally. This phase is NOT part of
    // the storm — it runs on a production-shaped TTL, not the 200 ms pinned
    // above to force steals: stealability of the storm's leftover leases is
    // decided by the expiresAt already written INSIDE them, so the longer
    // TTL here still steals crashed holders while keeping a load-stalled
    // health commit from running outside its own lease window
    val calmCfg = cfg.copy(leaseTtlMillis = 30000, leaseTornGraceMillis = 1000)
    val after = FeatureStore.lease(calmCfg).acquire(fs)
    FeatureStore.Manifests.commit(fs, calmCfg, _ :+ "part-post.parquet", Some(after))
    FeatureStore.lease(calmCfg).release(fs, after)
    assert(FeatureStore.Manifests.latest(fs, calmCfg).get._2.contains("part-post.parquet"))
  }

  // The storm above SAMPLES the lease protocol's behavior under random
  // crash/steal interleavings; the two tests below PIN its contract
  // deterministically — one interleaving each, no randomness, no sleeps
  // racing a concurrent thread.

  test("lease liveness: a stalled (crashed) writer is stolen within TTL + grace") {
    val dir = tmpDir()
    val ttl = 300L
    // leaseWaitMillis bounds the steal latency the test asserts: a successor
    // must get the lease within TTL + torn-grace + scheduling slack, or
    // acquire throws and the assertion below fails loudly
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")),
      leaseWaitMillis = ttl + 100 + 20000, leaseTtlMillis = ttl,
      leaseTornGraceMillis = 100)
    val fs = new org.apache.hadoop.fs.Path(cfg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val crashed = FeatureStore.lease(cfg).acquire(fs) // never released: stall
    val t0 = System.currentTimeMillis
    val thief = FeatureStore.lease(cfg).acquire(fs) // must steal, not wedge
    val waited = System.currentTimeMillis - t0
    assert(thief.epoch > crashed.epoch,
      s"successor did not advance the epoch (${thief.epoch} vs ${crashed.epoch})")
    // the successor had to OUTWAIT the TTL (the stalled lease was live until
    // expiry) — a steal before expiry would break the single-writer
    // contract. The lease's expiresAt clock starts at the CRASHED acquire,
    // a few ms before t0, hence the small slack below ttl; the 300 ms TTL
    // plus generous leaseWaitMillis make this deterministic.
    assert(waited >= ttl - 100,
      s"lease stolen $waited ms after the successor started waiting — " +
        s"before the $ttl ms TTL expired (single-writer violation)")
    intercept[IllegalArgumentException] {
      FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-stale.parquet", Some(crashed))
    }
    assert(!FeatureStore.Manifests.latest(fs, cfg).exists(_._2.contains("part-stale.parquet")),
      "a fenced stalled writer's commit reached the manifest")
    FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-thief.parquet", Some(thief))
    FeatureStore.lease(cfg).release(fs, thief)
    assert(FeatureStore.Manifests.latest(fs, cfg).get._2 == Seq("part-thief.parquet"))
  }

  test("verify tolerates a torn lease-file content read via epoch identity") {
    // the round-9 fence fix: a holder whose lease file CONTENT reads torn
    // (create-no-overwrite means the epoch file is still provably ours)
    // must not abort its own commit — only a genuinely advanced epoch may
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")),
      leaseWaitMillis = 30000, leaseTtlMillis = 60000, leaseTornGraceMillis = 100)
    val fs = new org.apache.hadoop.fs.Path(cfg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = FeatureStore.lease(cfg).acquire(fs)
    // tear the content in place: epoch file identity unchanged, bytes
    // unparseable (what an in-flight read observes under IO load)
    val leaseFile = new java.io.File(dir).listFiles()
      .filter(_.getName.matches(".*_lease_e\\d+$")).head
    java.nio.file.Files.write(leaseFile.toPath, "t".getBytes("UTF-8"))
    // strict holds() now fails on content — the epoch-identity fallback
    // must let the legitimate holder's commit proceed
    FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-torn.parquet", Some(token))
    assert(FeatureStore.Manifests.latest(fs, cfg).get._2.contains("part-torn.parquet"))
    // but a STOLEN lease still aborts: a successor steals (torn past grace)
    Thread.sleep(150) // age the torn file past leaseTornGraceMillis
    val thief = FeatureStore.lease(cfg).acquire(fs)
    assert(thief.epoch > token.epoch)
    intercept[IllegalArgumentException] {
      FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-late.parquet", Some(token))
    }
    FeatureStore.lease(cfg).release(fs, thief)
  }

  test("verify's torn-read fallback still aborts a use-after-release commit") {
    // round-10 fence hardening: a holder that already RELEASED keeps epoch
    // identity until a successor acquires, and release makes the lease
    // immediately stealable — so a torn content read must not let a
    // post-release commit slip through on epoch identity alone. The
    // `_released` marker is a separate atomic create, readable even when
    // the lease file's bytes are torn.
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")),
      leaseWaitMillis = 30000, leaseTtlMillis = 60000, leaseTornGraceMillis = 100)
    val fs = new org.apache.hadoop.fs.Path(cfg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = FeatureStore.lease(cfg).acquire(fs)
    FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-live.parquet", Some(token))
    FeatureStore.lease(cfg).release(fs, token)
    // tear the lease content so strict holds() fails and verify reaches
    // the fallback — which must now see the release marker and refuse
    val leaseFile = new java.io.File(dir).listFiles()
      .filter(_.getName.matches(".*_lease_e\\d+$")).head
    java.nio.file.Files.write(leaseFile.toPath, "t".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-after-release.parquet", Some(token))
    }
    assert(!FeatureStore.Manifests.latest(fs, cfg).get._2.contains("part-after-release.parquet"),
      "a released holder's commit reached the manifest via the torn-read fallback")
    // the store remains consistent for the next legitimate writer
    val next = FeatureStore.lease(cfg).acquire(fs)
    FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-next.parquet", Some(next))
    FeatureStore.lease(cfg).release(fs, next)
    assert(FeatureStore.Manifests.latest(fs, cfg).get._2 ==
      Seq("part-live.parquet", "part-next.parquet"))
  }

  test("lease contract: a live writer stalled past 2×TTL completes if unstolen, aborts loudly if stolen") {
    val dir = tmpDir()
    val ttl = 200L
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")),
      leaseWaitMillis = 30000, leaseTtlMillis = ttl, leaseTornGraceMillis = 100)
    val fs = new org.apache.hadoop.fs.Path(cfg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // case A — stalled past 2×TTL, NO competitor: expiry makes a lease
    // STEALABLE, not void, so the still-current holder's commit completes
    // (on a quiet store an over-TTL stall is harmless; fencing only bites
    // when someone actually took the lease away)
    val slow = FeatureStore.lease(cfg).acquire(fs)
    Thread.sleep(2 * ttl + 100)
    FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-slow.parquet", Some(slow))
    FeatureStore.lease(cfg).release(fs, slow)
    assert(FeatureStore.Manifests.latest(fs, cfg).get._2.contains("part-slow.parquet"))

    // case B — stalled past TTL and STOLEN: the commit must abort loudly
    // (IllegalArgumentException from the fence) and leave no trace in the
    // manifest; the thief's own commit proceeds normally
    val victim = FeatureStore.lease(cfg).acquire(fs)
    Thread.sleep(ttl + 50) // expire
    val thief = FeatureStore.lease(cfg).acquire(fs) // steals deterministically
    assert(thief.epoch > victim.epoch)
    intercept[IllegalArgumentException] {
      FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-victim.parquet", Some(victim))
    }
    assert(!FeatureStore.Manifests.latest(fs, cfg).get._2.contains("part-victim.parquet"),
      "a stolen-from writer's commit reached the manifest")
    FeatureStore.Manifests.commit(fs, cfg, _ :+ "part-thief2.parquet", Some(thief))
    FeatureStore.lease(cfg).release(fs, thief)
    assert(FeatureStore.Manifests.latest(fs, cfg).get._2.contains("part-thief2.parquet"))
  }

  test("a crash between file move-in and manifest commit leaves the old snapshot intact") {
    import spark.implicits._
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")))
    val ls = (0 until 8).map(i =>
      featureJson(s"u$i", -100.0 + i * 20.0, 10.0, s"""{"v":$i}"""))
    FeatureStore.write(FeatureStore.ingest(ls.toDF("raw"), cfg).good, cfg, partitions = 2)
    assert(FeatureStore.read(spark, cfg).count() == 8)
    // simulate the crash window: replacement files landed in the store dir
    // but the manifest commit never happened — readers must not see them
    val stray = java.nio.file.Paths.get(cfg.path, "part-uncommitted-crash.parquet")
    val donor = new java.io.File(cfg.path).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(donor.toPath, stray)
    assert(FeatureStore.read(spark, cfg).count() == 8,
      "uncommitted data file leaked into the snapshot")
    // the next committed write sweeps the orphan out of the store
    FeatureStore.delete(spark, cfg, "u0")
    FeatureStore.delete(spark, cfg, "u1") // ages the orphan past retention
    assert(FeatureStore.read(spark, cfg).count() == 6)
    assert(!java.nio.file.Files.exists(stray),
      "uncommitted orphan file survived vacuum")
  }

  test("delete with multiple known hashes removes a uid present in two cells") {
    import spark.implicits._
    val dir = tmpDir()
    val cfg = StoreConfig(path = s"$dir/store", attrs = Seq(AttrField("v", "int")))
    // same uid ingested twice with far-apart geometry -> two rows whose
    // Morton hashes differ (the duplicate-uid state a double POST creates)
    val ls = Seq(
      featureJson("dup", -170.0, -80.0, """{"v":1}"""),
      featureJson("dup", 170.0, 80.0, """{"v":2}""")) ++
      (0 until 10).map(i => featureJson(s"u$i", -100.0 + i * 20.0, 0.0, s"""{"v":$i}"""))
    FeatureStore.write(FeatureStore.ingest(ls.toDF("raw"), cfg).good, cfg, partitions = 4)
    val hashes = FeatureStore.lookup(spark, cfg, "dup")
      .select("hash").collect().map(_.getInt(0)).toIndexedSeq
    assert(hashes.distinct.size == 2, s"fixture needs two cells, got $hashes")
    FeatureStore.delete(spark, cfg, "dup", hashes)
    assert(FeatureStore.lookup(spark, cfg, "dup").count() == 0,
      "a hash-pruned delete must remove EVERY row of the uid")
    assert(FeatureStore.read(spark, cfg).count() == 10)
  }

  test("read resolves a committed snapshot once: a second read starts no schema-inference job") {
    import spark.implicits._
    val cfg = StoreConfig(path = s"${tmpDir()}/store", attrs = Seq(AttrField("v", "int")))
    FeatureStore.write(FeatureStore.ingest(
      Seq(featureJson("u0", 1.0, 2.0, """{"v":0}""")).toDF("raw"), cfg).good, cfg)
    // jobs are attributed by the job group of the submitting thread, so
    // jobs of other suites sharing the session never count
    val sc = spark.sparkContext
    val group = s"read-${java.util.UUID.randomUUID()}"
    def read(): (org.apache.spark.sql.DataFrame, Int) = {
      val (df, groups) = jobProperties("spark.jobGroup.id") {
        sc.setJobGroup(group, "read")
        try FeatureStore.read(spark, cfg) finally sc.clearJobGroup()
      }
      (df, groups.count(_ == group))
    }
    val (first, firstJobs) = read()
    val (second, secondJobs) = read()
    assert(firstJobs >= 1, "fixture broken: resolving a fresh snapshot started no job")
    assert(secondJobs == 0, s"second read started $secondJobs job(s)")
    assert(second eq first)
    assert(second.count() == 1)
  }

  test("read picks up every kind of commit, including a full overwrite that reuses m_1") {
    import spark.implicits._
    val cfg = StoreConfig(path = s"${tmpDir()}/store", attrs = Seq(AttrField("v", "int")))
    def ingested(ids: Range) = FeatureStore.ingest(ids.map(i =>
      featureJson(s"u$i", -170.0 + i * 8.4, -80.0 + i * 4.0, s"""{"v":$i}""")).toDF("raw"),
      cfg).good
    def rows(): Map[String, Int] = FeatureStore.read(spark, cfg)
      .select("uid", "v").as[(String, Int)].collect().toMap
    def expect(ids: Range) = ids.map(i => s"u$i" -> i).toMap

    FeatureStore.write(ingested(20 until 23), cfg)
    assert(rows() == expect(20 until 23))
    // a full overwrite restarts the history: the new snapshot is m_1 again
    FeatureStore.write(ingested(0 until 10), cfg, partitions = 2)
    assert(FeatureStore.snapshots(spark, cfg) == Seq(1L))
    assert(rows() == expect(0 until 10), "overwrite not visible")

    FeatureStore.append(ingested(10 until 12), cfg)
    assert(rows() == expect(0 until 12), "append not visible")

    FeatureStore.update(spark, cfg, "u3", None, Map("v" -> 999))
    assert(rows() == expect(0 until 12) + ("u3" -> 999), "update not visible")

    FeatureStore.delete(spark, cfg, "u4")
    val afterDelete = expect(0 until 12) + ("u3" -> 999) - "u4"
    assert(rows() == afterDelete, "delete not visible")

    val (lon5, lat5) = (-170.0 + 5 * 8.4, -80.0 + 5 * 4.0)
    FeatureStore.deleteTile(spark, cfg, 9,
      graft.core.WebMercator.tileX(lon5, 9), graft.core.WebMercator.tileY(lat5, 9))
    val afterTile = afterDelete - "u5"
    assert(rows() == afterTile, "tile delete not visible")

    val filesBefore = FeatureStore.read(spark, cfg).inputFiles.toSet
    val (_, filesAfter) = FeatureStore.compact(spark, cfg, partitions = 1)
    val compacted = FeatureStore.read(spark, cfg).inputFiles.toSet
    assert(filesAfter == 1 && compacted.size == 1 && !compacted.subsetOf(filesBefore),
      s"compaction not visible: $compacted")
    assert(rows() == afterTile)
  }

  test("deleteTile pushes its hash ranges into the touched-file probe in a session that never registered the strategy") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.functions.HashRangePushdown
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(HashRangePushdown),
      "fixture broken: the session already has the strategy")
    val cfg = StoreConfig(path = s"${tmpDir()}/store", attrs = Seq(AttrField("v", "int")))
    // a 9×5 grid around (10, 50): some points in the z9 tile, some around it
    val pts = for { i <- 0 until 9; j <- 0 until 5 } yield (9.0 + i * 0.25, 49.5 + j * 0.25)
    FeatureStore.write(FeatureStore.ingest(pts.zipWithIndex.map { case ((lon, lat), k) =>
      featureJson(s"u$k", lon, lat, s"""{"v":$k}""") }.toDF("raw"), cfg).good, cfg, partitions = 4)
    val (z, tx, ty) = (9, graft.core.WebMercator.tileX(10.2, 9), graft.core.WebMercator.tileY(50.2, 9))
    val ranges = graft.core.ZRange.coverWithBuffer(z, tx, ty, cfg.hashLevel, 0.0)
    val before = FeatureStore.read(fresh, cfg).select("uid", "hash").as[(String, Int)].collect()
    val (inTile, outside) = before.partition { case (_, h) =>
      ranges.exists { case (lo, hi) => lo <= h && h <= hi } }
    assert(inTile.nonEmpty && outside.nonEmpty, "fixture broken: the tile must split the grid")

    val probes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains("file_path")) probes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    fresh.listenerManager.register(listener)
    try {
      FeatureStore.deleteTile(fresh, cfg, z, tx, ty)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (probes.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally fresh.listenerManager.unregister(listener)
    assert(!probes.isEmpty, "the touched-file probe never ran")
    val scan = probes.peek().sparkPlan.collectFirst { case s: FileSourceScanExec => s }.get
    val pushed = scan.metadata("PushedFilters")
    ranges.foreach { case (lo, hi) =>
      assert(pushed.contains(s"GreaterThanOrEqual(hash,$lo)") &&
        pushed.contains(s"LessThanOrEqual(hash,$hi)"), s"[$lo, $hi] not pushed: $pushed")
    }
    val left = FeatureStore.read(fresh, cfg).select("uid").as[String].collect().sorted.toSeq
    assert(left == outside.map(_._1).sorted.toSeq)
  }
}
