package graft.server

import java.net.{HttpURLConnection, URI}
import graft.SparkSpec
import graft.core.WebMercator
import graft.sources.FeatureStore
import graft.sources.FeatureStore.{AttrField, StoreConfig}
import graft.tiles.{Mvt, TileService}

/** End-to-end drive of the REST surface: every reference route (A1-A9)
  * against a live server, including cache invalidation on writes.
  */
class TankServerSpec extends SparkSpec {

  private val cfg = StoreConfig(
    path = java.nio.file.Files.createTempDirectory("graft-srv").toString + "/store",
    attrs = Seq(AttrField("class", "text"), AttrField("value", "double"),
      AttrField("day", "date")))
  private val tileCfg = TileService.TileConfig(
    mainAttr = "class", attributes = Seq("class", "value"))

  private lazy val server = new TankServer(spark, cfg, tileCfg)
  private lazy val port = server.start()

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def http(method: String, path: String, body: Option[String] = None,
                   headers: Map[String, String] = Map.empty, at: => Int = port)
      : (Int, Array[Byte]) = {
    val (code, bytes, _) = httpFull(method, path, body, headers, at)
    (code, bytes)
  }

  private def httpFull(method: String, path: String, body: Option[String] = None,
                       headers: Map[String, String] = Map.empty, at: => Int = port)
      : (Int, Array[Byte], Map[String, String]) = {
    val conn = new URI(s"http://localhost:$at$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    body.foreach { b =>
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      os.write(b.getBytes("UTF-8")); os.close()
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val bytes = if (is != null) is.readAllBytes() else Array.empty[Byte]
    val respHeaders = {
      import scala.jdk.CollectionConverters._
      // the JDK server normalizes header casing; compare lowercased
      conn.getHeaderFields.asScala.collect {
        case (k, vs) if k != null => k.toLowerCase -> vs.get(0)
      }.toMap
    }
    conn.disconnect()
    (code, bytes, respHeaders)
  }

  private def feature(id: String, lon: Double, lat: Double, cls: String): String =
    s"""{"type":"Feature","id":"$id","geometry":{"type":"Point","coordinates":[$lon,$lat]},"properties":{"class":"$cls","value":1.5}}"""

  private val (lon, lat) = (10.0, 50.0)
  private val (tx, ty) = (WebMercator.tileX(lon, 13), WebMercator.tileY(lat, 13))

  test("A1: liveness") {
    val (code, body) = http("GET", "/")
    assert(code == 200 && new String(body).contains("tankspark"))
  }

  test("A2+A4: ingest one feature, read it back as GeoJSON") {
    val (code, body) = http("POST", "/", Some(feature("f1", lon, lat, "roads")))
    assert(code == 200 && new String(body) == """{"ingested":1}""")
    val (gc, gb) = http("GET", "/f1")
    val json = new String(gb)
    assert(gc == 200 && json.contains(""""id":"f1"""") &&
      json.contains(""""type":"Point"""") && json.contains(""""class":"roads""""),
      json)
  }

  test("A7: tile read returns a decodable MVT containing the feature; filters work") {
    val (code, body) = http("GET", s"/tile/13/$tx/$ty")
    assert(code == 200)
    val layer = Mvt.decode(body).head
    assert(layer.name == "io.marauder.tank")
    assert(layer.features.exists(_.props.get("class").contains("roads")))
    // attribute filter: no match -> empty tile
    val (_, filtered) = http("GET",
      s"/tile/13/$tx/$ty?filter=%7B%22class%22%3A%22water%22%7D")
    assert(Mvt.decode(filtered).head.features.isEmpty)
  }

  test("A3: bulk NDJSON ingest dead-letters bad rows and invalidates the tile cache") {
    // prime the cache
    http("GET", s"/tile/13/$tx/$ty")
    val bulk = Seq(
      feature("f2", lon + 0.0005, lat + 0.0005, "water"),
      s"""{"type":"Feature","id":"bad","geometry":{"type":"Point","coordinates":[$lon,$lat]},"properties":{"value":"not-a-number"}}""")
    val (code, body) = http("POST", "/_bulk", Some(bulk.mkString("\n")))
    assert(code == 200 && new String(body) == """{"ingested":1}""")
    // the cached tile MUST have been invalidated: f2 appears immediately
    val (_, tb) = http("GET", s"/tile/13/$tx/$ty")
    assert(Mvt.decode(tb).head.features.exists(_.props.get("class").contains("water")),
      "stale cache served after a write touching the tile")
  }

  test("A9: heatmap returns count cells") {
    val (code, body) = http("GET", s"/heatmap/13/$tx/$ty")
    assert(code == 200)
    val cells = Mvt.decode(body).head.features
    assert(cells.nonEmpty && cells.forall(_.props.get("count").exists(_.asInstanceOf[Long] > 0)))
  }

  test("A6: update preserves untouched attrs and refreshes the tile") {
    val (code, _) = http("PUT", "/f1",
      Some("""{"properties":{"class":"poi"}}"""))
    assert(code == 200)
    val (_, gb) = http("GET", "/f1")
    val json = new String(gb)
    assert(json.contains(""""class":"poi"""") && json.contains(""""value":1.5"""), json)
    val (_, tb) = http("GET", s"/tile/13/$tx/$ty")
    assert(Mvt.decode(tb).head.features.exists(_.props.get("class").contains("poi")))
  }

  test("A5: delete removes the feature from store and tiles") {
    http("DELETE", "/f1")
    val (gc, _) = http("GET", "/f1")
    assert(gc == 404)
    val (_, tb) = http("GET", s"/tile/13/$tx/$ty")
    assert(!Mvt.decode(tb).head.features.exists(_.props.get("class").contains("poi")))
  }

  test("A8: tile delete empties the tile") {
    val (code, _) = http("DELETE", s"/tile/13/$tx/$ty")
    assert(code == 200)
    val (_, tb) = http("GET", s"/tile/13/$tx/$ty")
    assert(Mvt.decode(tb).head.features.isEmpty)
  }

  test("A8: tile delete also invalidates neighbors rendering the halo") {
    // a feature just inside tile (tx2, ty2)'s west edge sits in the clip
    // buffer of the WESTERN neighbor tile, which therefore renders it
    val z = 13
    val tx2 = WebMercator.tileX(-20.0, z) // far from the other fixtures
    val ty2 = WebMercator.tileY(-30.0, z)
    val edgeLon = WebMercator.tileLon(tx2, z) + 1e-7 // just inside west edge
    val midLat = (WebMercator.tileLat(ty2, z) + WebMercator.tileLat(ty2 + 1, z)) / 2
    http("POST", "/", Some(feature("halo1", edgeLon, midLat, "poi")))
    def nFeats(b: Array[Byte]): Int =
      Mvt.decode(b).headOption.map(_.features.size).getOrElse(0)
    val (_, westBytes) = http("GET", s"/tile/$z/${tx2 - 1}/$ty2")
    assert(nFeats(westBytes) == 1,
      "fixture broken: neighbor tile must render the halo feature")
    http("DELETE", s"/tile/$z/$tx2/$ty2")
    val (_, westAfter) = http("GET", s"/tile/$z/${tx2 - 1}/$ty2")
    assert(nFeats(westAfter) == 0,
      "stale cached neighbor tile still renders the deleted halo feature")
  }

  test("unknown route is a 404") {
    assert(http("GET", "/no/such/route/x")._1 == 404)
  }

  // -------- A13/A10/A3-variant surface (post-round-1 verdict items) --------

  // fresh location: tile 13/(tx2,ty2) untouched by the delete tests above
  private val (lon2, lat2) = (11.0, 51.0)
  private val (tx2, ty2) = (WebMercator.tileX(lon2, 13), WebMercator.tileY(lat2, 13))

  test("A13: OPTIONS preflight is 204 with CORS headers") {
    val (code, body, hdrs) = httpFull("OPTIONS", "/tile/13/0/0")
    assert(code == 204 && body.isEmpty, new String(body))
    assert(hdrs.get("access-control-allow-origin").contains("*"), hdrs)
    assert(hdrs("access-control-allow-methods").contains("OPTIONS"))
  }

  test("A13: CORS headers ride every response") {
    val (_, _, hdrs) = httpFull("GET", "/")
    assert(hdrs.get("access-control-allow-origin").contains("*"), hdrs)
  }

  test("A13: gzip response when Accept-Encoding: gzip") {
    http("POST", "/", Some(feature("g1", lon2, lat2, "roads")))
    val (code, body, hdrs) =
      httpFull("GET", s"/tile/13/$tx2/$ty2", headers = Map("Accept-Encoding" -> "gzip"))
    assert(code == 200 && hdrs.get("content-encoding").contains("gzip"), hdrs)
    val raw = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(body)).readAllBytes()
    assert(Mvt.decode(raw).head.features.exists(_.props.get("class").contains("roads")))
  }

  test("A3: FeatureCollection bulk via ?geojson=true") {
    val fc =
      s"""{"type":"FeatureCollection","features":[${feature("fc1", lon2 + 0.001, lat2, "fcA")},${feature("fc2", lon2 + 0.002, lat2, "fcB")}]}"""
    val (code, body) = http("POST", "/_bulk?geojson=true", Some(fc))
    assert(code == 200 && new String(body) == """{"ingested":2}""", new String(body))
    val (gc, gb) = http("GET", "/fc1")
    assert(gc == 200 && new String(gb).contains(""""class":"fcA""""))
  }

  test("A2/A3: {layer} route variants accepted") {
    val (c1, b1) = http("POST", "/roads", Some(feature("ly1", lon2 + 0.003, lat2, "lyr")))
    assert(c1 == 200 && new String(b1) == """{"ingested":1}""", new String(b1))
    val (c2, _) = http("POST", "/_bulk/roads", Some(feature("ly2", lon2 + 0.004, lat2, "lyr")))
    assert(c2 == 200)
  }

  test("A7: typed date filter binds by the attribute's configured type") {
    val withDay =
      s"""{"type":"Feature","id":"d1","geometry":{"type":"Point","coordinates":[${lon2 + 0.005},$lat2]},"properties":{"class":"dated","value":2.0,"day":"2026-01-05"}}"""
    http("POST", "/", Some(withDay))
    val hit = http("GET",
      s"/tile/13/$tx2/$ty2?filter=%7B%22day%22%3A%222026-01-05%22%7D")._2
    assert(Mvt.decode(hit).head.features.exists(_.props.get("class").contains("dated")))
    val miss = http("GET",
      s"/tile/13/$tx2/$ty2?filter=%7B%22day%22%3A%222026-01-06%22%7D")._2
    assert(Mvt.decode(miss).head.features.isEmpty)
  }

  test("A10: static map viewer page served") {
    val (code, body) = http("GET", "/static/index.html")
    val html = new String(body)
    assert(code == 200 && html.contains("maplibre") &&
      html.contains(tileCfg.baseLayer), html.take(200))
  }

  test("A10: extra assets served from a real static dir; index falls back; traversal is 404") {
    val assets = java.nio.file.Files.createTempDirectory("graft-static")
    java.nio.file.Files.writeString(assets.resolve("app.css"), "body{color:red}")
    java.nio.file.Files.writeString(assets.resolve("data.json"), """{"k":1}""")
    val cfgS = StoreConfig(
      path = java.nio.file.Files.createTempDirectory("graft-srv-static").toString + "/store",
      attrs = Seq(AttrField("class", "text")))
    val srv = new TankServer(spark, cfgS, tileCfg, staticDir = Some(assets.toString))
    val p = srv.start()
    def get(path: String): (Int, String, String) = {
      val conn = new URI(s"http://localhost:$p$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("GET")
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = new String(Option(is).map(_.readAllBytes()).getOrElse(Array.empty))
      val ct = Option(conn.getHeaderField("Content-Type")).getOrElse("")
      conn.disconnect()
      (code, body, ct)
    }
    try {
      val (c1, b1, t1) = get("/static/app.css")
      assert(c1 == 200 && b1 == "body{color:red}" && t1.startsWith("text/css"))
      val (c2, b2, t2) = get("/static/data.json")
      assert(c2 == 200 && b2 == """{"k":1}""" && t2.startsWith("application/json"))
      // no index.html on disk -> generated viewer fallback
      val (c3, b3, _) = get("/static/index.html")
      assert(c3 == 200 && b3.contains("maplibre"))
      val (c4, _, _) = get("/static/missing.js")
      assert(c4 == 404)
      val (c5, _, _) = get("/static/..%2Fsecret")
      assert(c5 == 404)
    } finally srv.stop()
  }

  test("A4: string attrs with quotes/backslashes produce valid JSON") {
    val tricky = """he said \"hi\" \\ there"""
    val f =
      s"""{"type":"Feature","id":"esc1","geometry":{"type":"Point","coordinates":[${lon2 + 0.006},$lat2]},"properties":{"class":"$tricky","value":1.0}}"""
    http("POST", "/", Some(f))
    val (gc, gb) = http("GET", "/esc1")
    assert(gc == 200)
    // must parse as JSON and round-trip the raw value
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(gb)
    assert(node.get("properties").get("class").asText() == """he said "hi" \ there""",
      new String(gb))
  }

  test("streaming serving loop: file-source ingest surfaces in HTTP tile reads (cache invalidated per batch)") {
    // the end-to-end loop EntrySmoke closes for queries, closed for serving:
    // a co-located Structured Streaming ingest appends to the server's
    // store AND invalidates its tile cache per committed micro-batch — an
    // HTTP reader must see streamed features without ever being served a
    // stale cached tile
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-srv").toString
    val scfg = StoreConfig(path = s"$dir/store",
      attrs = Seq(AttrField("class", "text"), AttrField("value", "double")))
    val srv = new TankServer(spark, scfg, tileCfg)
    val p = srv.start()
    def getTile: Seq[Mvt.DecodedFeature] = {
      val conn = new URI(s"http://localhost:$p/tile/13/$tx/$ty").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      val bytes = conn.getInputStream.readAllBytes()
      conn.disconnect()
      Mvt.decode(bytes).headOption.map(_.features).getOrElse(Nil)
    }
    try {
      // seed one feature over REST (creates the store), then PRIME the
      // cache with the seed-only tile — the staleness trap for the stream
      val conn0 = new URI(s"http://localhost:$p/").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn0.setRequestMethod("POST"); conn0.setDoOutput(true)
      val os0 = conn0.getOutputStream
      os0.write(feature("s0", lon, lat, "seed").getBytes("UTF-8")); os0.close()
      assert(conn0.getResponseCode == 200); conn0.disconnect()
      val primed = getTile
      assert(primed.exists(_.props.get("class").contains("seed")) &&
        !primed.exists(_.props.get("class").contains("stream")))
      val src = s"$dir/incoming"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val q = srv.startIngestStream(src, s"$dir/ckpt")
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$src/batch1.ndjson"),
          feature("s1", lon + 0.0003, lat + 0.0003, "stream") + "\n" +
            // schema-violating row: must dead-letter, not poison the batch
            s"""{"type":"Feature","id":"bad","geometry":{"type":"Point","coordinates":[$lon,$lat]},"properties":{"value":"not-a-number"}}""" + "\n")
        q.processAllAvailable()
        val after = getTile
        assert(after.exists(_.props.get("class").contains("stream")),
          s"streamed feature not served (stale cache or lost append): $after")
        // second batch chains: the re-primed cache is invalidated again
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$src/batch2.ndjson"),
          feature("s2", lon + 0.0006, lat + 0.0006, "stream2") + "\n")
        q.processAllAvailable()
        val after2 = getTile
        assert(after2.exists(_.props.get("class").contains("stream2")),
          s"second streamed batch not served: $after2")
        // the bad row landed in the dead-letter channel, not the store
        assert(spark.read.parquet(s"${scfg.path}_rejected").count() == 1)
      } finally q.stop()
    } finally srv.stop()
  }

  test("A2: empty layer on an empty base layer is a 400") {
    val cfg2 = StoreConfig(
      path = java.nio.file.Files.createTempDirectory("graft-srv2").toString + "/store",
      attrs = Seq(AttrField("class", "text")))
    val srv2 = new TankServer(spark, cfg2, tileCfg.copy(baseLayer = ""))
    val port2 = srv2.start()
    try {
      val conn = new URI(s"http://localhost:$port2/").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      os.write(feature("z1", lon2, lat2, "x").getBytes("UTF-8")); os.close()
      assert(conn.getResponseCode == 400)
      conn.disconnect()
    } finally srv2.stop()
  }

  test("concurrent tile reads racing a bulk insert never leave a stale tile cached") {
    import spark.implicits._
    val rcfg = StoreConfig(
      path = java.nio.file.Files.createTempDirectory("graft-srv-race").toString + "/store",
      attrs = Seq(AttrField("class", "text"), AttrField("value", "double")))
    // a 4x2 block of z14 tiles and their 32 z15 children: enough cold
    // renders that many are in flight across the insert's commit
    val (x14, y14) = (WebMercator.tileX(30.0, 14), WebMercator.tileY(40.0, 14))
    val parents = for (dx <- 0 until 4; dy <- 0 until 2) yield (14, x14 + dx, y14 + dy)
    val children = for ((_, x, y) <- parents; cx <- 0 until 2; cy <- 0 until 2)
      yield (15, 2 * x + cx, 2 * y + cy)
    val tiles = parents ++ children
    def center(z: Int, x: Int, y: Int): (Double, Double) =
      ((WebMercator.tileLon(x, z) + WebMercator.tileLon(x + 1, z)) / 2,
        (WebMercator.tileLat(y, z) + WebMercator.tileLat(y + 1, z)) / 2)
    // one feature per z15 tile before the server starts; the insert adds
    // one more per z15 tile, in the middle of the readers' cold round
    val points = children.map { case (z, x, y) => center(z, x, y) }
    val base = points.zipWithIndex.map { case ((lon, lat), j) =>
      feature(s"base$j", lon - 0.003, lat, "base")
    }
    FeatureStore.write(FeatureStore.ingest(base.toDF("raw"), rcfg).good, rcfg)
    val inserted = points.zipWithIndex.map { case ((lon, lat), j) =>
      feature(s"ins$j", lon, lat, s"ins$j")
    }
    def path(i: Int) = { val (z, x, y) = tiles(i); s"/tile/$z/$x/$y" }
    def hasInserted(i: Int, bytes: Array[Byte]): Boolean = {
      val (z, x, y) = tiles(i)
      val classes = Mvt.decode(bytes).headOption.toSeq.flatMap(_.features)
        .flatMap(_.props.get("class")).toSet
      points.zipWithIndex.forall { case ((lon, lat), j) =>
        WebMercator.tileX(lon, z) != x || WebMercator.tileY(lat, z) != y ||
          classes.contains(s"ins$j")
      }
    }

    final case class Got(tile: Int, startNs: Long, code: Int, bytes: Array[Byte])
    val srv = new TankServer(spark, rcfg, tileCfg)
    val p = srv.start()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Got]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val firstResponses = new java.util.concurrent.CountDownLatch(4)
    @volatile var insertedAt = Long.MaxValue
    try {
      // each reader walks every tile, in its own order, until it has
      // finished a whole round that began after the insert returned
      val readers = (0 until 4).map { r =>
        new Thread(() => {
          try {
            var done = false
            while (!done) {
              val roundStart = System.nanoTime()
              tiles.indices.foreach { k =>
                val i = (k + r * tiles.size / 4) % tiles.size
                val t0 = System.nanoTime()
                val (code, bytes) = http("GET", path(i), at = p)
                got.add(Got(i, t0, code, bytes))
                firstResponses.countDown()
              }
              done = roundStart > insertedAt
            }
          } catch { case e: Throwable => errors.add(e) }
        })
      }
      readers.foreach(_.start())
      assert(firstResponses.await(120, java.util.concurrent.TimeUnit.SECONDS))
      val (code, body) = http("POST", "/_bulk", Some(inserted.mkString("\n")), at = p)
      assert(code == 200 && new String(body) == s"""{"ingested":${points.size}}""")
      insertedAt = System.nanoTime()
      readers.foreach(_.join(300000))
      assert(errors.isEmpty, s"reader failed: ${errors.peek()}")
      assert(readers.forall(!_.isAlive), "a reader did not finish")

      val all = got.toArray(Array.empty[Got]).toSeq
      assert(all.forall(_.code == 200))
      val after = all.filter(_.startNs > insertedAt)
      assert(after.size >= 4 * tiles.size)
      after.foreach(g => assert(hasInserted(g.tile, g.bytes),
        s"${path(g.tile)} fetched after the insert returned lacks an inserted feature"))
      // what the server serves now (from its cache where it cached) is the
      // final snapshot's tile, byte for byte
      val fin = FeatureStore.read(spark, rcfg)
      tiles.indices.foreach { i =>
        val (z, x, y) = tiles(i)
        val fresh = TileService.tile(fin, z, x, y, None, tileCfg)
        assert(hasInserted(i, fresh))
        val (c, served) = http("GET", path(i), at = p)
        assert(c == 200 && served.sameElements(fresh), s"stale tile cached: ${path(i)}")
      }
    } finally srv.stop()
  }

  test("each request's Spark jobs carry its route as the job description") {
    // a z12 tile no other case fetches: a cold render runs Spark jobs
    val (x12, y12) = (WebMercator.tileX(lon, 12), WebMercator.tileY(lat, 12))
    val (code, descs) = jobProperties("spark.job.description") {
      http("GET", s"/tile/12/$x12/$y12")._1
    }
    assert(code == 200)
    assert(descs.contains(s"GET /tile/12/$x12/$y12"),
      s"no job described by the route: ${descs.mkString(", ")}")
  }

  test("stop() leaves no handler thread alive") {
    import scala.jdk.CollectionConverters._
    val srv = new TankServer(spark, cfg, tileCfg)
    val p = srv.start()
    def handlers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith(srv.threadPrefix) && t.isAlive)
    (0 until 8).foreach(_ => assert(http("GET", "/", at = p)._1 == 200))
    assert(handlers.nonEmpty, "fixture broken: no handler thread ran a request")
    srv.stop()
    assert(handlers.isEmpty, s"alive after stop(): ${handlers.map(_.getName)}")
  }
}
