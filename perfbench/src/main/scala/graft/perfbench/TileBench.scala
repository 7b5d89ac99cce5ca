package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import graft.core.{WebMercator, ZRange}
import graft.server.TankServer
import graft.sources.FeatureStore
import graft.sources.FeatureStore.{AttrField, StoreConfig}
import graft.tiles.{Mvt, TileService}
import graft.tiles.TileService.TileConfig

/** `tile_viewer`: map viewers against `TankServer` over HTTP, with the
  * server in this process.
  *
  * The store holds seeded, clustered synthetic features (points, lines and
  * polygons with varied vertex counts, so tile density is uneven), written
  * in setup with `FeatureStore.ingest`/`write`. Each viewer is a closed
  * loop: a seeded pan/zoom walk that goes back over part of the ground it
  * saw, fetching a whole K×K viewport (vector tiles at z12–15, heatmaps at
  * z9–11, `Accept-Encoding: gzip`) before it moves.
  *
  * Tracing attributes Spark jobs to HTTP requests by time: the server
  * handles one request at a time (its HttpServer has no executor) and runs
  * a request's jobs before it sends the response headers, so a job belongs
  * to the first response whose headers arrive after the job ended.
  */
object TileBench {
  /** Viewport edge in tiles. */
  val K = 2
  val Features = 10000
  /** Zoom band of each viewer: three browse vector tiles, one heatmaps. */
  val Bands = IndexedSeq((12, 13), (14, 15), (13, 14), (9, 11))
  /** Every FlyEvery-th viewport step flies to a seeded feature elsewhere
    * and every other ZoomEvery-th zooms by one level, instead of panning.
    * Flights let a run sample many places, so runs with different seeds
    * cost alike.
    */
  val FlyEvery = 3
  val ZoomEvery = 10
  /** The data area: 12×8 tiles at z11 (about 2.1° × 1.1°) around Berlin. */
  val AreaZ = 11
  private val cfgTile = TileConfig()

  private final case class Feat(lon: Double, lat: Double)

  /** One tile or heatmap request of a viewport, as the client saw it. */
  private final case class Req(kind: String, z: Int, x: Int, y: Int,
                               viewport: Long, t: Timed)

  private final case class Viewport(id: Long, viewer: Int, z: Int, vx: Int,
                                    vy: Int, startNs: Long, endNs: Long,
                                    startMs: Long, endMs: Long)

  private final class Area {
    val x0: Int = WebMercator.tileX(12.3, AreaZ)
    val y0: Int = WebMercator.tileY(53.1, AreaZ)
    val lonMin: Double = WebMercator.tileLon(x0, AreaZ)
    val lonMax: Double = WebMercator.tileLon(x0 + 12, AreaZ)
    val latMax: Double = WebMercator.tileLat(y0, AreaZ)
    val latMin: Double = WebMercator.tileLat(y0 + 8, AreaZ)
    private val eps = 1e-9
    def tiles(z: Int): (Int, Int, Int, Int) = (
      WebMercator.tileX(lonMin + eps, z), WebMercator.tileX(lonMax - eps, z),
      WebMercator.tileY(latMax - eps, z), WebMercator.tileY(latMin + eps, z))
    /** Top-left of a K×K viewport clamped into the area's tiles at z. */
    def clamp(z: Int, vx: Int, vy: Int): (Int, Int) = {
      val (ax0, ax1, ay0, ay1) = tiles(z)
      (math.min(math.max(vx, ax0), math.max(ax0, ax1 - K + 1)),
        math.min(math.max(vy, ay0), math.max(ay0, ay1 - K + 1)))
    }
    /** Keys the viewers' walk can request. */
    def universe: Int = (Bands.map(_._1).min to Bands.map(_._2).max).map { z =>
      val (ax0, ax1, ay0, ay1) = tiles(z)
      (ax1 - ax0 + K) * (ay1 - ay0 + K)
    }.sum
  }

  // ----------------------------------------------------------- generation

  private def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.6f", d)

  private def geometryJson(kind: String, lon: Double, lat: Double,
                           r: Random): String = kind match {
    case "Point" => s"""{"type":"Point","coordinates":[${fmt(lon)},${fmt(lat)}]}"""
    case "LineString" =>
      var x = lon; var y = lat
      val pts = (0 until 2 + r.nextInt(29)).map { i =>
        if (i > 0) { x += (r.nextDouble() - 0.5) * 0.0008; y += (r.nextDouble() - 0.5) * 0.0005 }
        s"[${fmt(x)},${fmt(y)}]"
      }
      s"""{"type":"LineString","coordinates":[${pts.mkString(",")}]}"""
    case _ =>
      val n = 4 + r.nextInt(37)
      val rad = 0.0003 + r.nextDouble() * 0.0027
      val angles = Array.fill(n)(r.nextDouble() * 2 * math.Pi).sorted
      val ring = angles.map { a =>
        val rr = rad * (0.7 + 0.6 * r.nextDouble())
        s"[${fmt(lon + rr * math.cos(a))},${fmt(lat + 0.6 * rr * math.sin(a))}]"
      }
      s"""{"type":"Polygon","coordinates":[[${(ring :+ ring.head).mkString(",")}]]}"""
  }

  private def featureLine(uid: String, geom: String, cls: String, value: Double): String =
    s"""{"type":"Feature","id":"$uid","geometry":$geom,"properties":{"class":"$cls","value":$value}}"""

  /** Seeded clustered features: many towns of different sizes and
    * spreads over a thin uniform background, clipped to the area. Density
    * is uneven from tile to tile, but any stretch a viewer pans over holds
    * a similar mix, so runs with different seeds cost alike.
    */
  private def generate(seed: Long, area: Area): (Seq[Feat], Seq[String]) = {
    val r = rng(seed, 0)
    def uniform() = (area.lonMin + r.nextDouble() * (area.lonMax - area.lonMin),
      area.latMin + r.nextDouble() * (area.latMax - area.latMin))
    val towns = (0 until 150).map { _ =>
      val (x, y) = uniform()
      (x, y, 0.004 + r.nextDouble() * 0.016, 0.5 + r.nextDouble())
    }
    val wsum = towns.map(_._4).sum
    val out = (0 until Features).map { i =>
      val (lon0, lat0) =
        if (r.nextDouble() < 0.2) uniform()
        else {
          var u = r.nextDouble() * wsum
          val (cx, cy, sd, _) = towns.find { c => u -= c._4; u <= 0 }.getOrElse(towns.last)
          (cx + r.nextGaussian() * sd, cy + r.nextGaussian() * sd * 0.6)
        }
      val lon = math.min(area.lonMax - 0.004, math.max(area.lonMin + 0.004, lon0))
      val lat = math.min(area.latMax - 0.003, math.max(area.latMin + 0.003, lat0))
      val p = r.nextDouble()
      val kind = if (p < 0.6) "Point" else if (p < 0.85) "LineString" else "Polygon"
      (Feat(lon, lat), featureLine(s"f$i", geometryJson(kind, lon, lat, r),
        s"c${r.nextInt(7)}", r.nextInt(1000) / 10.0))
    }
    (out.map(_._1), out.map(_._2))
  }

  // ----------------------------------------------------------- http

  /** One exchange as the client saw it; status -1 on an exception or a
    * timeout. The body is decoded (gunzipped) when it came compressed.
    * `hdr*` is when the status and headers arrived: the server writes them
    * as soon as the response is ready, while the body's second write may
    * wait up to ~40 ms for the client's delayed ACK, so the header arrival
    * is the one that marks when the server was done (0 when none arrived).
    */
  private final case class Timed(status: Int, body: Array[Byte], startNs: Long,
                                 endNs: Long, startMs: Long, endMs: Long,
                                 hdrNs: Long, hdrMs: Long)

  /** A map client: HTTP/1.1 keep-alive connections, gzip accepted, the
    * tiles of one viewport requested together.
    */
  private final class Client(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1)
      .executor(java.util.concurrent.Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, "perfbench-http"); t.setDaemon(true); t
      })
      .connectTimeout(Duration.ofSeconds(30)).build()

    private def start(path: String): java.util.concurrent.CompletableFuture[Timed] = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(Duration.ofSeconds(120))
        .header("Accept-Encoding", "gzip").GET().build()
      val hdr = Array(0L, 0L)
      val handler: HttpResponse.BodyHandler[Array[Byte]] = { _ =>
        hdr(0) = System.nanoTime(); hdr(1) = System.currentTimeMillis()
        HttpResponse.BodySubscribers.ofByteArray()
      }
      val s = System.nanoTime(); val sm = System.currentTimeMillis()
      http.sendAsync(req, handler).handle[Timed] { (resp, err) =>
        val decoded = if (err != null) {
          System.err.println(s"[perfbench] GET $path: $err")
          (-1, Array.emptyByteArray)
        } else try {
          val raw = resp.body()
          val gz = resp.headers().firstValue("Content-Encoding").orElse("") == "gzip"
          (resp.statusCode(),
            if (gz && raw.nonEmpty) new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(raw)).readAllBytes()
            else raw)
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] GET $path: $e")
            (-1, Array.emptyByteArray)
        }
        Timed(decoded._1, decoded._2, s, System.nanoTime(), sm, System.currentTimeMillis(),
          hdr(0), hdr(1))
      }
    }

    def get(path: String): Timed = start(path).join()

    /** GETs all paths at once, as a map client fetches a viewport. */
    def getAll(paths: Seq[String]): Seq[Timed] = paths.map(start).map(_.join())

  }

  /** Stream `stream` of `seed`: well mixed even for neighbouring seeds. */
  private def rng(seed: Long, stream: Int): Random =
    new Random(new java.util.SplittableRandom(seed * 1000003L + stream).nextLong())


  /** Each viewer's band and first viewport: at the band's lower zoom, over a
    * seeded feature, so viewers look where the data is. At most one viewer
    * thread per core.
    */
  private def starts(ctx: Ctx, area: Area, feats: Seq[Feat])
      : IndexedSeq[((Int, Int), (Int, Int, Int))] = {
    val r = rng(ctx.seed, 300)
    Bands.takeRight(math.max(1, ctx.cpus)).map { case band @ (lo, _) =>
      val f = feats(r.nextInt(feats.size))
      val z = lo
      val (vx, vy) = area.clamp(z, WebMercator.tileX(f.lon, z) - K / 2,
        WebMercator.tileY(f.lat, z) - K / 2)
      band -> (z, vx, vy)
    }
  }

  private def product(z: Int): String = if (z <= 11) "heatmap" else "tile"

  // ----------------------------------------------------------- run

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val o = new Outcome
    val area = new Area
    val cfg = StoreConfig(path = ctx.work.resolve("store").toString,
      attrs = Seq(AttrField("class", "text"), AttrField("value", "double")))

    val b0 = System.nanoTime()
    val (feats, lines) = generate(ctx.seed, area)
    val inputBytes = lines.map(_.getBytes("UTF-8").length + 1L).sum
    // a rejected feature shows in the final row-count check
    FeatureStore.write(FeatureStore.ingest(lines.toDF("raw"), cfg).good, cfg)
    val buildS = (System.nanoTime() - b0) / 1e9

    val server = new TankServer(spark, cfg, cfgTile)
    val port = server.start()
    try {
      val warm = new Client(port)
      val w0 = System.nanoTime()
      // the vector-tile viewers start on warm viewports (the server's panel
      // preload, one Spark job per zoom)
      val start = starts(ctx, area, feats)
      start.map(_._2).filter(_._1 >= 12).groupBy(_._1).foreach { case (z, vs) =>
        server.warmPanel(z, vs.flatMap { case (_, vx, vy) =>
          for (dx <- 0 until K; dy <- 0 until K) yield (vx + dx, vy + dy) }.distinct)
      }
      // warm the hit and miss paths on keys outside every viewer's walk
      val far = Seq(("tile", 14, 100, 100), ("heatmap", 10, 50, 50))
      for ((k, z, x, y) <- far; _ <- 0 until 2) warm.get(s"/$k/$z/$x/$y")
      val setupS = (System.nanoTime() - ctx.t0) / 1e9
      o.details("build_s") = buildS
      o.details("warm_s") = (System.nanoTime() - w0) / 1e9

      val (reqs, viewports) = drive(ctx, port, area, feats, start)
      val measuredS = (viewports.map(_.endNs).max - viewports.map(_.startNs).min) / 1e9
      val peak = Main.peakRssMb()
      // a failed request fails the run, and its viewport is no latency sample
      reqs.foreach(r => o.check(r.t.status == 200,
        s"/${r.kind}/${r.z}/${r.x}/${r.y} returned status ${r.t.status}"))
      val failedVps = reqs.filter(_.t.status != 200).map(_.viewport).toSet
      val vpMs = viewports.filterNot(v => failedVps(v.id)).map(v => (v.endNs - v.startNs) / 1e6)
      o.check(vpMs.nonEmpty, "every viewport had a failed request")
      val (tail, tailP) = Stats.tail(vpMs)
      val served = reqs.filter(_.t.status == 200)
      o.metrics("setup_s") = setupS
      o.metrics("op_p50_ms") = Stats.p50(vpMs)
      o.metrics("op_tail_ms") = tail
      o.metrics("work_per_s") = served.size / measuredS
      o.metrics("live_heap_mb") = Main.liveHeapMb()
      o.details("peak_rss_mb") = peak
      o.metrics("store_bytes_per_input_byte") =
        Main.dirBytes(Path.of(cfg.path)).toDouble / inputBytes
      o.details("op") = "viewport"
      o.details("ops") = vpMs.size
      o.details("viewports_failed") = failedVps.size
      o.details("tail_percentile") = tailP
      o.details("viewport_ms") = vpMs
      o.details("measured_s") = measuredS
      o.details("sizes") = Map("features" -> feats.size, "input_bytes" -> inputBytes,
        "store_bytes" -> Main.dirBytes(Path.of(cfg.path)),
        "tile_universe" -> area.universe, "tile_cache_cap" -> 65536,
        "distinct_keys_served" -> served.map(r => (r.kind, r.z, r.x, r.y)).distinct.size)

      ctx.meter.foreach(m => trace(ctx, m, o, reqs, viewports, cfg, buildS))
      checkTiles(ctx, o, warm, cfg, served, start.map(s => product(s._2._1)).distinct)
      val rows = FeatureStore.read(spark, cfg).count()
      o.check(rows == feats.size, s"store holds $rows features, expected ${feats.size}")
    } finally server.stop()
    o
  }

  /** The timed window: viewers until `ctx.seconds` have passed; each viewer
    * finishes the viewport it is fetching.
    */
  private def drive(ctx: Ctx, port: Int, area: Area, feats: Seq[Feat],
                    start: IndexedSeq[((Int, Int), (Int, Int, Int))])
      : (Seq[Req], Seq[Viewport]) = {
    val reqs = new ConcurrentLinkedQueue[Req]()
    val vps = new ConcurrentLinkedQueue[Viewport]()
    val vpIds = new AtomicInteger(0)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L

    val viewers = start.indices.map { v =>
      new Thread(() => {
        val c = new Client(port)
        val r = rng(ctx.seed, 1 + v)
        val (lo, hi) = start(v)._1
        var (z, vx, vy) = start(v)._2
        var (dirX, dirY) = (if (r.nextBoolean()) 1 else -1, if (r.nextBoolean()) 1 else -1)
        var step = 0
        var zoomDir = 1
        while (System.nanoTime() < deadline) {
          val id = vpIds.incrementAndGet().toLong
          val p = product(z)
          val keys = for (dy <- 0 until K; dx <- 0 until K) yield (vx + dx, vy + dy)
          val got = c.getAll(keys.map { case (tx, ty) => s"/$p/$z/$tx/$ty" })
          keys.zip(got).foreach { case ((tx, ty), t) => reqs.add(Req(p, z, tx, ty, id, t)) }
          vps.add(Viewport(id, v, z, vx, vy, got.map(_.startNs).min, got.map(_.endNs).max,
            got.map(_.startMs).min, got.map(_.endMs).max))
          // a lawnmower pan: one tile along the row, one tile down (or up)
          // at the area's edge, so each step brings one new row or column
          // of tiles and goes back over the rest. On a fixed schedule a
          // step zooms one level inside the viewer's band instead, or flies
          // to a seeded feature elsewhere, so a run samples many places.
          step += 1
          val (ax0, ax1, ay0, ay1) = area.tiles(z)
          if (step % FlyEvery == 0) {
            val f = feats(r.nextInt(feats.size))
            val (fx, fy) = area.clamp(z, WebMercator.tileX(f.lon, z) - K / 2,
              WebMercator.tileY(f.lat, z) - K / 2)
            vx = fx; vy = fy
          } else if (step % ZoomEvery == 0) {
            // the zoom level ping-pongs across the band, the same way for
            // every seed, so each run renders the same mix of zoom levels
            if (z + zoomDir > hi || z + zoomDir < lo) zoomDir = -zoomDir
            val cx = vx + K / 2; val cy = vy + K / 2
            val (nx, ny) =
              if (zoomDir > 0) (2 * cx - K / 2, 2 * cy - K / 2) else (cx / 2 - K / 2, cy / 2 - K / 2)
            z += zoomDir
            val (cx2, cy2) = area.clamp(z, nx, ny)
            vx = cx2; vy = cy2
          } else if (vx + dirX >= ax0 && vx + dirX + K - 1 <= ax1) vx += dirX
          else {
            dirX = -dirX
            if (vy + dirY < ay0 || vy + dirY + K - 1 > ay1) dirY = -dirY
            vy = area.clamp(z, vx, vy + dirY)._2
          }
        }
      }, s"perfbench-viewer-$v")
    }
    viewers.foreach(_.start())
    viewers.foreach(_.join())
    (reqs.asScala.toSeq, vps.asScala.toSeq.sortBy(_.id))
  }

  // ----------------------------------------------------------- checks

  /** A seeded sample of the tiles and heatmaps served during the run,
    * fetched again after the window, must be byte-identical to a fresh
    * uncached render from the final snapshot. Each product a viewer walked
    * must have been served.
    */
  private def checkTiles(ctx: Ctx, o: Outcome, c: Client, cfg: StoreConfig,
                         served: Seq[Req], products: Seq[String]): Unit = {
    val r = rng(ctx.seed, 200)
    val keys = served.map(q => (q.kind, q.z, q.x, q.y)).distinct.sorted
    val sample = r.shuffle(keys.filter(_._1 == "tile")).take(5) ++
      r.shuffle(keys.filter(_._1 == "heatmap")).take(3)
    products.foreach(p => o.check(sample.exists(_._1 == p), s"no $p was served"))
    val features = FeatureStore.read(ctx.spark, cfg)
    sample.foreach { case (k, z, x, y) =>
      val got = c.get(s"/$k/$z/$x/$y")
      val want =
        if (k == "tile") TileService.tile(features, z, x, y, None, cfgTile)
        else TileService.heatmap(features, z, x, y, cfgTile)
      val decodes = try { Mvt.decode(got.body); true } catch { case _: Exception => false }
      o.check(got.status == 200 && decodes && java.util.Arrays.equals(got.body, want),
        s"/$k/$z/$x/$y served ${got.body.length} bytes (status ${got.status}) " +
          s"!= fresh render ${want.length} bytes")
    }
  }

  // ----------------------------------------------------------- tracing

  /** Per-layer metrics of a traced run. Runs only benchmark-side code (no
    * Spark job) until the numbers are taken.
    */
  private def trace(ctx: Ctx, meter: JobMeter, o: Outcome, all: Seq[Req],
                    viewports: Seq[Viewport], cfg: StoreConfig, buildS: Double): Unit = {
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    // the requests in the order the server answered them (a request with
    // no headers never reached a response, and the run's checks failed it)
    val reqs = all.filter(_.t.hdrNs > 0).sortBy(_.t.hdrNs).toIndexedSeq
    val w0 = reqs.map(_.t.startMs).min
    val w1 = reqs.map(_.t.hdrMs).max
    val jobs = meter.jobs.filter(j => j.start >= w0 && j.end <= w1)
    // a job belongs to the first response whose headers arrived after the
    // job ended, among the requests sent before it started. A job that
    // ends within 2 ms of another response's headers is counted: there
    // the client's clock resolution could have put it on the wrong side.
    val byReq = Array.fill(reqs.size)(mutable.ArrayBuffer[JobRec]())
    var unattributed = 0
    var nearBoundary = 0
    jobs.foreach { j =>
      val i = reqs.indexWhere(r => r.t.hdrMs >= j.end && r.t.startMs <= j.start)
      if (i < 0) unattributed += 1
      else {
        byReq(i) += j
        if (reqs.indices.exists(k => k != i && math.abs(reqs(k).t.hdrMs - j.end) <= 2))
          nearBoundary += 1
      }
    }
    // server-side service time: the server takes the next request once it
    // has sent the previous response's headers
    val service = reqs.indices.map { i =>
      val from = if (i == 0) reqs(i).t.startNs else math.max(reqs(i).t.startNs, reqs(i - 1).t.hdrNs)
      (reqs(i).t.hdrNs - from) / 1e6
    }
    val ok = reqs.indices.filter(i => reqs(i).t.status == 200)
    val misses = ok.filter(i => byReq(i).nonEmpty)
    val hits = ok.filter(i => byReq(i).isEmpty)
    val missSums = misses.map(i => JobMeter.sum(byReq(i).toSeq))
    val rowsOf = misses.map(i => Mvt.decode(reqs(i).t.body).map(_.features.size).sum)
    def frac(a: Double, b: Double) = if (b > 0) a / b else 0.0

    o.metrics("tiles.cache_hit_ratio") = frac(hits.size, ok.size)
    o.metrics("tiles.miss_time_frac") = frac(misses.map(service).sum, service.sum)
    o.metrics("server.miss_driver_frac") = frac(
      misses.zip(missSums).map { case (i, s) => math.max(0.0, service(i) - s.inJobMs) }.sum,
      misses.map(service).sum)
    o.metrics("spark.jobs_per_miss") = frac(missSums.map(_.jobs).sum, misses.size)
    o.metrics("spark.tasks_per_miss") = frac(missSums.map(_.tasks).sum, misses.size)
    o.metrics("tiles.rows_per_miss") = frac(rowsOf.sum, misses.size)
    o.metrics("tiles.mvt_bytes_p50") = Stats.median(ok.map(i => reqs(i).t.body.length.toDouble))
    o.metrics("sources.scan_rows_per_result_row") = frac(missSums.map(_.scanRows).sum, rowsOf.sum)
    o.metrics("sources.scan_bytes_per_miss") = frac(missSums.map(_.scanBytes).sum, misses.size)
    val keys = ok.map(i => (reqs(i).z, reqs(i).x, reqs(i).y)).distinct
    val bufFrac = cfgTile.buffer.toDouble / cfgTile.extent
    o.metrics("core.cover_ranges_per_tile") = frac(keys.map { case (z, x, y) =>
      ZRange.coverWithBuffer(z, x, y, cfgTile.hashLevel, bufFrac).size }.sum, keys.size)
    o.metrics("sources.snapshots_end") = FeatureStore.snapshots(ctx.spark, cfg).size
    o.metrics("sources.store_files_end") = {
      val s = Files.list(Path.of(cfg.path))
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count().toDouble
      finally s.close()
    }
    o.metrics("sources.build_s") = buildS

    // generic per-operation numbers: an operation is a viewport
    val vpJobs = viewports.map(v => v.id -> mutable.ArrayBuffer[JobRec]()).toMap
    reqs.indices.foreach(i => vpJobs(reqs(i).viewport) ++= byReq(i))
    val sums = viewports.map(v => JobMeter.sum(vpJobs(v.id).toSeq))
    val opWall = viewports.map(v => (v.endNs - v.startNs) / 1e6)
    val n = viewports.size.toDouble
    o.metrics("spark.jobs_per_op") = sums.map(_.jobs).sum / n
    o.metrics("spark.stages_per_op") = sums.map(_.stages).sum / n
    o.metrics("spark.tasks_per_op") = sums.map(_.tasks).sum / n
    o.metrics("spark.job_ms_per_op") = sums.map(_.inJobMs).sum / n
    o.metrics("spark.driver_ms_per_op") =
      opWall.zip(sums).map { case (w, s) => math.max(0.0, w - s.inJobMs) }.sum / n
    o.metrics("spark.scan_bytes_per_op") = sums.map(_.scanBytes).sum / n
    o.metrics("spark.shuffle_bytes_per_op") = sums.map(_.shuffleBytes).sum / n
    o.metrics("spark.spill_bytes_per_op") = sums.map(_.spillBytes).sum / n
    o.metrics("traced.op_p50_ms") = o.metrics("op_p50_ms")
    o.metrics("traced.op_tail_ms") = o.metrics("op_tail_ms")

    // spans: viewport → request → spark.job
    val spans = ctx.spans
    val vpSpan = viewports.map { v =>
      val id = spans.nextId()
      spans.add(Span(id, 0, "viewport", v.startNs, v.endNs, v.startMs, v.endMs,
        Map("viewer" -> v.viewer, "z" -> v.z, "x" -> v.vx, "y" -> v.vy)))
      v.id -> id
    }.toMap
    reqs.indices.foreach { i =>
      val r = reqs(i)
      val id = spans.nextId()
      spans.add(Span(id, vpSpan(r.viewport), "request", r.t.startNs, r.t.endNs,
        r.t.startMs, r.t.endMs, Map("kind" -> r.kind, "z" -> r.z, "x" -> r.x,
          "y" -> r.y, "status" -> r.t.status, "headers_ms" -> r.t.hdrMs,
          "service_ms" -> service(i), "bytes" -> r.t.body.length)))
      byReq(i).foreach(j => spans.add(Span(spans.nextId(), id, "spark.job", 0, 0,
        j.start, j.end, Map("job" -> j.id, "stages" -> j.stages, "tasks" -> j.tasks,
          "scan_rows" -> j.scanRows))))
    }
    def p50(is: Seq[Int]) = Stats.median(is.map(service))
    o.details("layer_times") = Map(
      "server.hit_ms_p50" -> p50(hits),
      "tiles.tile_miss_ms_p50" -> p50(misses.filter(i => reqs(i).kind == "tile")),
      "tiles.heatmap_miss_ms_p50" -> p50(misses.filter(i => reqs(i).kind == "heatmap")))
    o.details("jobs_unattributed") = unattributed
    o.details("jobs_near_boundary") = nearBoundary
    o.details("spans") = spans.list
  }
}
