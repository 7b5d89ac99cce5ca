package graft.server

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import com.fasterxml.jackson.core.JsonProcessingException
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{FeatureStore, GeoJson}
import graft.sources.FeatureStore.StoreConfig
import graft.tiles.{TileCache, TileService}
import graft.tiles.TileService.TileConfig

/** Thin HTTP shim reproducing the reference's REST surface (SURVEY §2.1
  * A1–A13; routes mirror `/root/reference/src/main/kotlin/io/marauder/tank/
  * application.kt:226-619`) over the Spark engine. Built on the JDK's
  * bundled HttpServer — zero new dependencies; the engine stays the
  * library, this is serving glue.
  *
  *   GET  /                     liveness text                (A1)
  *   POST /[{layer}]            ingest one GeoJSON feature   (A2)
  *   POST /_bulk[/{layer}]      ingest NDJSON body; `?geojson=true` parses
  *                              the body as one FeatureCollection (A3)
  *   GET  /{uid}                feature as GeoJSON           (A4)
  *   DELETE /{uid}              delete by uid                (A5)
  *   PUT  /{uid}                update (preserves attrs)     (A6)
  *   GET  /tile/{z}/{x}/{y}?filter={"attr":v}  MVT bytes     (A7)
  *   DELETE /tile/{z}/{x}/{y}   bulk delete tile             (A8)
  *   GET  /heatmap/{z}/{x}/{y}  count-grid MVT               (A9)
  *   GET  /static/...           demo map viewer page         (A10)
  *   OPTIONS *                  CORS preflight, 204          (A13)
  *
  * A13 also covers the reference's cross-cutting concerns: CORS headers on
  * every response (application.kt:207-213), gzip/deflate response
  * compression negotiated from Accept-Encoding (application.kt:192-203),
  * and structured error mapping (application.kt:620-649). The `{layer}`
  * route segments mirror application.kt:230-251 — the reference validates
  * layer non-emptiness but its single-table store ignores the value, and so
  * do we.
  *
  * The tile/heatmap cache (A11/O5) invalidates by the Morton cells each
  * write touches.
  *
  * Threads. Handler threads (`tank-http-<server>-<n>`, 16 per driver
  * core) only parse, check the cache, wait and write, so no cache hit or
  * queued miss waits for a thread. Spark work is bounded by a render gate
  * of one slot per core. An unfiltered tile or heatmap miss joins the
  * batch of its (kind, z) that is still waiting for a slot, or opens one;
  * batches take free slots oldest first, and the request that finds its
  * batch at the head renders every key in it with one
  * [[TileService.panel]]/[[TileService.heatmapPanel]] call and caches each.
  * There is no timer: batches form only from misses that queued while
  * every slot was busy, so an idle server renders a lone miss at once. A
  * request joins only a batch that has not yet resolved its snapshot,
  * never a render already running, so it sees every write that returned
  * before it arrived. Filtered tiles are uncached and render alone, under
  * a slot. Writes are serialized in the server (one writer at a time, as
  * the store's lease requires anyway), and a miss caches its bytes only if
  * no write invalidated the cache while it rendered ([[TileCache.put]]).
  *
  * Measured on a 4-core box with the perfbench `tile_viewer` workload
  * (four map viewers fetching 2×2 viewports over a 10k-feature store; 10
  * paired 30 s runs): with one handler thread per core and one Spark job
  * per miss, a viewport read a p50 of 668 ms and 22.7 tiles/s; with this
  * model, 386 ms and 40.4 tiles/s. Spark jobs per viewport fell from 2.91
  * to 1.35, and requests that ran no job went from a client p50 of 436 ms
  * (queued behind other viewers' misses) to 49 ms. Since each tile plan
  * compiles once (the panel's hash ranges are a [[graft.functions
  * .HashInRanges]] reference, not literals in the generated code), a
  * viewport reads 264 ms at the p50 instead of 394 ms, and 60.7 tiles/s
  * instead of 38.7 (10 more paired runs); a traced run kept ~1.3 Spark
  * jobs per miss while driver time per viewport fell from 242 to 160 ms
  * and in-job time from 126 to 57 ms. Every request's Spark
  * jobs carry its route as the job description, e.g.
  * `GET /tile/14/8793/5348`; a batch's jobs list every route they serve,
  * `GET /tile/14/8793/5348, /tile/14/8794/5348`.
  */
final class TankServer(spark: SparkSession, cfg: StoreConfig,
                       tileCfg: TileConfig = TileConfig(), port: Int = 0,
                       staticDir: Option[String] = None) {

  // the cache halo must match the tile query's (full clip-buffer fraction),
  // or invalidation would miss tiles the query would now include
  private val cache = new TileCache(tileCfg.hashLevel,
    bufferFrac = tileCfg.buffer.toDouble / tileCfg.extent.toDouble)
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[server] val threadPrefix = s"tank-http-${TankServer.servers.incrementAndGet()}-"
  private val handlerThreads = new ConcurrentLinkedQueue[Thread]()
  private val pool: ExecutorService = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(TankServer.HandlersPerCore * TankServer.cores, r => {
      val t = new Thread(r, threadPrefix + n.incrementAndGet())
      t.setDaemon(true)
      handlerThreads.add(t)
      t
    })
  }
  private val writeLock = new Object

  /** A cold render waiting for, or holding, a render slot: the keys of one
    * (kind, z) that requests registered before a slot holder took it, or
    * one filtered tile, which is uncached and so never shared.
    */
  private final class Batch(val kind: String, val z: Int,
                            val filter: Option[(String, Any)]) {
    val keys = mutable.LinkedHashSet[(Int, Int)]()
    var outcome: Either[Throwable, Map[(Int, Int), Array[Byte]]] = null
  }

  // the render gate; every field below is guarded by it
  private val gate = new Object
  private var freeSlots = TankServer.cores
  private val queue = mutable.Queue[Batch]() // batches not yet taken, oldest first
  private var stopping = false

  private def jsonStr(s: String): String = mapper.writeValueAsString(s)

  private def features: DataFrame = FeatureStore.read(spark, cfg)

  def start(): Int = {
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  /** Fail every render still queued for a slot, stop listening, then wait
    * for in-flight renders to finish their Spark work (their responses may
    * no longer reach the client), interrupting them after 30 s. The whole
    * wait, thread exits included, ends within 31 s.
    */
  def stop(): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(31)
    def left: Long = deadline - System.nanoTime()
    gate.synchronized {
      stopping = true
      queue.foreach(_.outcome = Left(new IllegalStateException("server stopped")))
      queue.clear()
      gate.notifyAll()
    }
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(left - TimeUnit.SECONDS.toNanos(1), TimeUnit.NANOSECONDS))
      pool.shutdownNow()
    handlerThreads.forEach(t => if (left > 0) t.join(math.max(1L, left / 1000000)))
    // session-memo hygiene: a stopped server releases its trained-model
    // memos (UnigramLm/Bpe are keyed per application and otherwise live
    // for the JVM — the round-14 unbounded-session-state nit)
    graft.operators.UnigramLm.invalidate()
    graft.operators.Bpe.invalidate()
    graft.operators.CleanedCorpus.invalidate()
    graft.operators.EmbedHistory.invalidate()
  }

  /** Co-located streaming ingest (the reference's poll-dir file runner,
    * FileWaitGroup.kt:19-73, as a Structured Streaming file source writing
    * THIS server's store): every committed micro-batch invalidates the
    * tile/heatmap cache by exactly the Morton cells it touched — the same
    * precise invalidation the REST write routes use — so HTTP readers never
    * see a stale tile after a streamed append. Returns the started query
    * (await/stop is the caller's business).
    */
  def startIngestStream(srcDir: String, checkpoint: String,
                        maxFilesPerTrigger: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    FeatureStore.startIngestStream(spark, srcDir, cfg, checkpoint,
      maxFilesPerTrigger,
      onTouched = hs => { cache.invalidateTouched(hs); () })

  /** Warm the tile cache for a whole PANEL in one Spark job
    * ([[TileService.panel]]) instead of one job per cold tile — the
    * viewer-pan/ops-preload verb (ServingLatencyProbe's cold row measured
    * ~490 ms/tile × panel sequential jobs). Only unfiltered tiles are
    * cached (the same cacheability rule as the GET route); tiles outside
    * the cache's zoom window are computed but not retained. Returns the
    * number of tiles cached.
    */
  def warmPanel(z: Int, tiles: Seq[(Int, Int)]): Int = {
    val asOf = cache.generation
    val bytes = TileService.panel(features, z, tiles, None, tileCfg)
    bytes.count { case ((x, y), b) => cache.put("tile", z, x, y, b, asOf) }
  }

  // ------------------------------------------------------------- routing

  private def handle(ex: HttpExchange): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription(s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}")
    try route(ex) finally sc.setJobDescription(null)
  }

  private def route(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val parts = path.split("/").toList.filter(_.nonEmpty)
    (ex.getRequestMethod, parts) match {
      case ("OPTIONS", _) => // CORS preflight (application.kt:228-234)
        respond(ex, 204, Array.empty, "text/plain")
      case ("GET", Nil) =>
        respond(ex, 200, "tankspark: Spark-native tank engine\n".getBytes, "text/plain")
      case ("POST", Nil) => postFeature(ex, layer = "")
      case ("POST", List("_bulk")) => postBulk(ex, layer = "")
      case ("POST", List("_bulk", layer)) => postBulk(ex, layer)
      case ("GET", "static" :: rest) => serveStatic(ex, rest)
      case ("GET", List(kind @ ("tile" | "heatmap"), z, x, y)) =>
        val (zi, xi, yi) = tileCoords(z, x, y)
        read(ex, kind, zi, xi, yi)
      case ("DELETE", List("tile", z, x, y)) =>
        val (zi, xi, yi) = tileCoords(z, x, y)
        deleteTile(ex, zi, xi, yi)
      case ("GET", List(uid)) => getFeature(ex, uid)
      case ("DELETE", List(uid)) => deleteFeature(ex, uid)
      case ("PUT", List(uid)) => putFeature(ex, uid)
      case ("POST", List(layer)) => postFeature(ex, layer)
      case _ => respond(ex, 404, """{"msg": "not found"}""".getBytes, "application/json")
    }
  } catch { // structured error mapping (application.kt:620-649)
    case _: TankServer.BodyTooLarge =>
      respond(ex, 413, s"""{"msg": "body over ${TankServer.MaxBodyBytes} bytes"}""".getBytes,
        "application/json")
    case _: NoSuchElementException =>
      respond(ex, 404, """{"msg": "item not found"}""".getBytes, "application/json")
    case e @ (_: IllegalArgumentException | _: JsonProcessingException) =>
      respond(ex, 400,
        s"""{"msg": "illegal argument", "cause": ${jsonStr(String.valueOf(e.getMessage))}}""".getBytes,
        "application/json")
    case _: NotImplementedError =>
      respond(ex, 500, """{"msg": "Not Implemented Yet, contact administrator"}""".getBytes,
        "application/json")
    case _: OutOfMemoryError =>
      respond(ex, 500, """{"msg": "Out of memory: reduce file/bulk size"}""".getBytes,
        "application/json")
    case e: Exception =>
      respond(ex, 500,
        s"""{"msg": ${jsonStr(String.valueOf(e.getMessage))}}""".getBytes, "application/json")
  }

  /** Layer must be non-empty once combined with the configured base layer
    * (application.kt:231-233,246-250; the combined name is otherwise unused
    * — the store is single-table in the reference too).
    */
  private def requireLayer(layer: String): Unit =
    if (tileCfg.baseLayer.isEmpty && layer.isEmpty)
      throw new IllegalArgumentException("Import layer must not be an empty string")

  // ------------------------------------------------------------- reads

  /** A tile or heatmap: from the cache when unfiltered, else rendered
    * under the render gate. Heatmaps take no filter.
    */
  private def read(ex: HttpExchange, kind: String, z: Int, x: Int, y: Int): Unit = {
    val filter = if (kind == "tile") parseFilter(ex) else None
    val cached = if (filter.isEmpty) cache.get(kind, z, x, y) else None
    val bytes = cached.getOrElse(render(kind, z, x, y, filter))
    respond(ex, 200, bytes, "application/x-protobuf")
  }

  /** Register (x, y) with the batch of its (kind, z) that no slot holder
    * has taken yet — or open one — and wait. Batches take free render
    * slots oldest first; whoever finds its batch at the head with a slot
    * free renders all of its keys, and everyone else waits for the result.
    */
  private def render(kind: String, z: Int, x: Int, y: Int,
                     filter: Option[(String, Any)]): Array[Byte] = {
    val (b, lead) = gate.synchronized {
      if (stopping) throw new IllegalStateException("server stopped")
      val b = queue.find(q => filter.isEmpty && q.filter.isEmpty && q.kind == kind && q.z == z)
        .getOrElse { val nb = new Batch(kind, z, filter); queue.enqueue(nb); nb }
      b.keys += ((x, y))
      while (b.outcome == null && (freeSlots == 0 || !queue.headOption.contains(b)))
        gate.wait()
      val lead = b.outcome == null
      if (lead) {
        queue.dequeue(); freeSlots -= 1
        gate.notifyAll() // the next batch may have a slot too
      }
      (b, lead)
    }
    if (lead) {
      val outcome = try Right(renderBatch(b)) catch { case e: Throwable => Left(e) }
      gate.synchronized {
        b.outcome = outcome; freeSlots += 1
        gate.notifyAll()
      }
    }
    b.outcome.fold(e => throw e, _((x, y)))
  }

  /** One Spark job for a taken batch (its key set is final), described by
    * every route it serves. The cache generation is read before the
    * snapshot is resolved, so a write that lands meanwhile drops the puts.
    */
  private def renderBatch(b: Batch): Map[(Int, Int), Array[Byte]] = {
    val keys = b.keys.toSeq
    val sc = spark.sparkContext
    val own = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(
      keys.map { case (x, y) => s"/${b.kind}/${b.z}/$x/$y" }.mkString("GET ", ", ", ""))
    try {
      val asOf = cache.generation
      val bytes =
        if (b.kind == "tile") TileService.panel(features, b.z, keys, b.filter, tileCfg)
        else TileService.heatmapPanel(features, b.z, keys, tileCfg)
      if (b.filter.isEmpty)
        bytes.foreach { case ((x, y), v) => cache.put(b.kind, b.z, x, y, v, asOf) }
      bytes
    } finally sc.setJobDescription(own)
  }

  private def getFeature(ex: HttpExchange, uid: String): Unit = {
    val rows = FeatureStore.lookup(spark, cfg, uid).collect()
    if (rows.isEmpty) { respond(ex, 404, "{}".getBytes, "application/json"); return }
    val r = rows.head
    val props = cfg.attrs.map { a =>
      val v = r.getAs[Any](a.name)
      val json = v match {
        case s: String => jsonStr(s) // escapes quotes/backslashes/control chars
        case d: java.sql.Date => "\"" + d + "\""
        case other => String.valueOf(other)
      }
      s""""${a.name}":$json"""
    }.mkString("{", ",", "}")
    val body =
      s"""{"type":"Feature","id":"$uid","geometry":${GeoJson.fromWkt(r.getAs[String]("geometry"))},"properties":$props}"""
    respond(ex, 200, body.getBytes("UTF-8"), "application/json")
  }

  // ------------------------------------------------------------- writes

  /** The request body as UTF-8, read up to [[TankServer.MaxBodyBytes]]; a
    * longer body answers 413 before anything is parsed or ingested.
    */
  private def readBody(ex: HttpExchange): String = {
    val b = ex.getRequestBody.readNBytes(TankServer.MaxBodyBytes + 1)
    if (b.length > TankServer.MaxBodyBytes) throw new TankServer.BodyTooLarge
    new String(b, "UTF-8")
  }

  private def postFeature(ex: HttpExchange, layer: String): Unit = {
    requireLayer(layer)
    val body = readBody(ex)
    val n = ingestRaw(Seq(body))
    respond(ex, if (n == 1) 200 else 400,
      s"""{"ingested":$n}""".getBytes, "application/json")
  }

  /** NDJSON body by default; `?geojson=true` parses the whole body as one
    * FeatureCollection (application.kt:257-262).
    */
  private def postBulk(ex: HttpExchange, layer: String): Unit = {
    requireLayer(layer)
    val body = readBody(ex)
    val lines =
      if (queryParam(ex, "geojson").contains("true")) {
        val root = mapper.readTree(body)
        val feats = Option(root.get("features")).filter(_.isArray)
          .getOrElse(throw new IllegalArgumentException("not a FeatureCollection"))
        (0 until feats.size).map(i => feats.get(i).toString)
      } else body.linesIterator.filter(_.nonEmpty).toSeq
    val n = ingestRaw(lines)
    respond(ex, 200, s"""{"ingested":$n}""".getBytes, "application/json")
  }

  private def ingestRaw(lines: Seq[String]): Long = writeLock.synchronized {
    import spark.implicits._
    val (n, touched) = FeatureStore.appendRaw(lines.toDF("raw"), cfg)
    cache.invalidateTouched(touched)
    n
  }

  private def deleteFeature(ex: HttpExchange, uid: String): Unit = {
    writeLock.synchronized {
      val hashes = FeatureStore.lookup(spark, cfg, uid)
        .select("hash").collect().map(_.getInt(0))
      FeatureStore.delete(spark, cfg, uid, hashes.toIndexedSeq)
      cache.invalidateTouched(hashes)
    }
    respond(ex, 200, "{}".getBytes, "application/json")
  }

  private def putFeature(ex: HttpExchange, uid: String): Unit = {
    val body = readBody(ex)
    val node = mapper.readTree(body)
    val geomWkt = Option(node.get("geometry")).map(g => GeoJson.toWkt(g.toString))
    val props = Option(node.get("properties")).map { p =>
      cfg.attrs.flatMap { a =>
        Option(p.get(a.name)).map { v =>
          a.name -> (a.typ match {
            case "int" => v.asInt()
            case "double" => v.asDouble()
            case _ => v.asText()
          })
        }
      }.toMap[String, Any]
    }.getOrElse(Map.empty[String, Any])
    writeLock.synchronized {
      val oldHashes = FeatureStore.lookup(spark, cfg, uid)
        .select("hash").collect().map(_.getInt(0))
      FeatureStore.update(spark, cfg, uid, geomWkt, props, oldHashes.toIndexedSeq)
      val newHashes = FeatureStore.lookup(spark, cfg, uid)
        .select("hash").collect().map(_.getInt(0))
      cache.invalidateTouched(oldHashes ++ newHashes)
    }
    respond(ex, 200, "{}".getBytes, "application/json")
  }

  private def deleteTile(ex: HttpExchange, z: Int, x: Int, y: Int): Unit = {
    writeLock.synchronized {
      FeatureStore.deleteTile(spark, cfg, z, x, y)
      // the cache applies each cached tile's clip-buffer halo itself, so the
      // raw bbox suffices: neighbors rendering this tile's edge features die
      cache.invalidateRegion(
        graft.core.WebMercator.tileLon(x, z), graft.core.WebMercator.tileLat(y + 1, z),
        graft.core.WebMercator.tileLon(x + 1, z), graft.core.WebMercator.tileLat(y, z))
    }
    respond(ex, 200, "{}".getBytes, "application/json")
  }

  // ------------------------------------------------------------- helpers

  /** Parse + bounds-check slippy coordinates: z in [0, 22], x/y in
    * [0, 2^z). Out-of-range values map to 400 (IllegalArgumentException),
    * never a degenerate empty Morton cover downstream.
    */
  private def tileCoords(z: String, x: String, y: String): (Int, Int, Int) = {
    val (zi, xi, yi) =
      try (z.toInt, x.toInt, y.toInt)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"bad tile coords $z/$x/$y")
      }
    require(zi >= 0 && zi <= 22 && xi >= 0 && yi >= 0 &&
      xi < (1 << zi) && yi < (1 << zi), s"tile $zi/$xi/$yi out of range")
    (zi, xi, yi)
  }

  private def queryParam(ex: HttpExchange, name: String): Option[String] = {
    val q = Option(ex.getRequestURI.getQuery).getOrElse("")
    q.split("&").find(_.startsWith(name + "=")).map(kv =>
      java.net.URLDecoder.decode(kv.drop(name.length + 1), "UTF-8"))
  }

  /** Filter value is bound by the ATTRIBUTE's configured type, not the JSON
    * literal's shape — int/double/date/text (application.kt:405-416; date is
    * a "YYYY-MM-DD" string in the filter JSON).
    */
  private def parseFilter(ex: HttpExchange): Option[(String, Any)] = {
    queryParam(ex, "filter").flatMap { json =>
      val node = mapper.readTree(json)
      val fields = node.properties().iterator()
      if (fields.hasNext) {
        val e = fields.next()
        val v: Any = cfg.attrs.find(_.name == e.getKey).map(_.typ) match {
          case Some("int") => e.getValue.asInt()
          case Some("double") => e.getValue.asDouble()
          case Some("date") => java.sql.Date.valueOf(e.getValue.asText())
          case Some(_) => e.getValue.asText()
          case None => // unconfigured attr: fall back to the literal's shape
            if (e.getValue.isInt) e.getValue.asInt()
            else if (e.getValue.isDouble) e.getValue.asDouble()
            else e.getValue.asText()
        }
        Some(e.getKey -> v)
      } else None
    }
  }

  /** All responses carry the reference's CORS + engine headers
    * (application.kt:206-213) and honor Accept-Encoding: gzip always wins
    * when accepted; deflate only for bodies >= 1 KiB (application.kt:192-203).
    */
  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
                      contentType: String): Unit = {
    val h = ex.getResponseHeaders
    h.set("Content-Type", contentType)
    h.set("X-Engine", "Spark")
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Access-Control-Allow-Methods", "GET, POST, OPTIONS, DELETE")
    h.set("Access-Control-Allow-Headers",
      "X-Engine,DNT,User-Agent,X-Requested-With,If-Modified-Since,Cache-Control,Content-Type,Range")
    h.set("Access-Control-Expose-Headers", "Content-Length,Content-Range")
    val accept = Option(ex.getRequestHeaders.getFirst("Accept-Encoding")).getOrElse("")
    val out =
      if (body.isEmpty) body
      else if (accept.contains("gzip")) {
        h.set("Content-Encoding", "gzip")
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(body); gz.close()
        bos.toByteArray
      } else if (accept.contains("deflate") && body.length >= 1024) {
        h.set("Content-Encoding", "deflate")
        val bos = new java.io.ByteArrayOutputStream()
        val df = new java.util.zip.DeflaterOutputStream(bos)
        df.write(body); df.close()
        bos.toByteArray
      } else body
    ex.sendResponseHeaders(code, if (out.isEmpty) -1L else out.length.toLong)
    val os = ex.getResponseBody
    os.write(out)
    os.close()
  }

  /** A10: serve files from the configured static asset dir (the reference
    * serves a `static/` resources folder, application.kt:617-619), with the
    * generated map-viewer page as the index fallback so the demo works with
    * no assets installed. Traversal-safe: a resolved path escaping the
    * asset dir is a 404.
    */
  private def serveStatic(ex: HttpExchange, rest: List[String]): Unit = {
    val rel = if (rest.isEmpty) "index.html" else rest.mkString("/")
    val fromDisk = staticDir.flatMap { d =>
      val base = java.nio.file.Paths.get(d).toAbsolutePath.normalize
      val f = base.resolve(rel).normalize
      if (f.startsWith(base) && java.nio.file.Files.isRegularFile(f))
        Some(java.nio.file.Files.readAllBytes(f) -> contentTypeFor(rel))
      else None
    }
    fromDisk match {
      case Some((bytes, ctype)) => respond(ex, 200, bytes, ctype)
      case None if rel == "index.html" =>
        respond(ex, 200, mapViewerHtml.getBytes("UTF-8"), "text/html")
      case None =>
        respond(ex, 404, """{"msg": "not found"}""".getBytes, "application/json")
    }
  }

  private def contentTypeFor(name: String): String = {
    val ext = name.substring(name.lastIndexOf('.') + 1).toLowerCase
    ext match {
      case "html" | "htm" => "text/html"
      case "css" => "text/css"
      case "js" => "application/javascript"
      case "json" | "geojson" => "application/json"
      case "png" => "image/png"
      case "jpg" | "jpeg" => "image/jpeg"
      case "svg" => "image/svg+xml"
      case "ico" => "image/x-icon"
      case _ => "application/octet-stream"
    }
  }

  /** Demo map viewer (A10) — our own page in the shape of the reference's
    * static resource (resources/static/index.html: a vector-tile map over
    * the /tile and /heatmap endpoints on an OSM raster background).
    */
  private def mapViewerHtml: String = {
    val layer = tileCfg.baseLayer
    s"""<!DOCTYPE html>
       |<html lang="en">
       |<head>
       |  <meta charset="UTF-8">
       |  <title>tankspark map</title>
       |  <meta name="viewport" content="initial-scale=1,maximum-scale=1,user-scalable=no"/>
       |  <script src="https://unpkg.com/maplibre-gl@3/dist/maplibre-gl.js"></script>
       |  <link href="https://unpkg.com/maplibre-gl@3/dist/maplibre-gl.css" rel="stylesheet"/>
       |  <style>body{margin:0;padding:0}#map{position:absolute;top:0;bottom:0;width:100%}</style>
       |</head>
       |<body>
       |<div id="map"></div>
       |<script>
       |  new maplibregl.Map({
       |    container: 'map', minZoom: 2, zoom: 4, center: [-95.7129, 37.0902],
       |    style: {
       |      version: 8,
       |      sources: {
       |        tank: {type: 'vector',
       |               tiles: [location.protocol + '//' + location.host + '/tile/{z}/{x}/{y}'],
       |               minzoom: 9},
       |        heat: {type: 'vector',
       |               tiles: [location.protocol + '//' + location.host + '/heatmap/{z}/{x}/{y}'],
       |               minzoom: 2, maxzoom: 12},
       |        osm: {type: 'raster', tileSize: 256,
       |              tiles: ['https://tile.openstreetmap.org/{z}/{x}/{y}.png']}
       |      },
       |      layers: [
       |        {id: 'osm', source: 'osm', type: 'raster'},
       |        {id: 'geo', source: 'tank', 'source-layer': '$layer', type: 'line',
       |         paint: {'line-color': '#000000'}},
       |        {id: 'heat', source: 'heat', 'source-layer': '$layer', type: 'fill',
       |         paint: {'fill-color': ['interpolate', ['linear'], ['get', 'count'],
       |                 0, 'rgba(0,255,0,0.1)', 1000, 'rgba(0,255,0,0.5)']}}
       |      ]
       |    }
       |  });
       |</script>
       |</body>
       |</html>
       |""".stripMargin
  }
}

object TankServer {
  private val servers = new AtomicInteger()
  private val cores = Runtime.getRuntime.availableProcessors()
  /** Handler threads per core: enough that a cache hit or a queued miss
    * never waits for a thread while the render slots are busy.
    */
  private val HandlersPerCore = 16
  /** Largest request body read: ~14× the biggest `/_bulk` chunk the
    * serving probe posts (10,000 features, ~2.3 MB).
    */
  val MaxBodyBytes: Int = 32 << 20
  private final class BodyTooLarge extends RuntimeException
}
