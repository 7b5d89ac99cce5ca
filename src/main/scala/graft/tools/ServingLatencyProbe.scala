package graft.tools

import java.net.{HttpURLConnection, URI}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.spark.sql.SparkSession

/** Concurrent tile-read latency for the serving shim — the ops row the
  * engine-side evidence never covered: [[graft.server.TankServer]] has
  * churn micro-benches (TileCacheSpec) but no measured p50/p99 under N
  * parallel HTTP readers against a warm store.
  *
  * Drives one live server through three phases over a K-tile panel. The
  * server handles requests on one thread per driver core: a cold tile is
  * a one-task Spark job, so one handler thread kept all but one core idle
  * (on a 4-core box, four map viewers read a viewport p50 of 2.1 s served
  * one request at a time, 0.67 s with the pool and per-snapshot relation
  * reuse; TankServer's doc has the setup).
  *
  *  1. COLD: first touch of every panel tile with an empty cache — the
  *     Spark-job-bound latency (scan + clip + MVT encode per tile).
  *  2. WARM sequential: the same tiles again — the cache+HTTP path.
  *  3. WARM concurrent: T ∈ {1, 4, 16} reader threads sampling the warm
  *     panel — up to the driver's core count they are served in parallel;
  *     beyond it they queue for a handler thread, and this row
  *     quantifies that queueing.
  *
  * Store: `nFeatures` point features bulk-ingested over a lon/lat box
  * spanning ~`panel` zoom-13 tiles, through the production `/_bulk`
  * route (the ingest wall is reported too).
  *
  * Usage: runMain graft.tools.ServingLatencyProbe [nFeatures] [panelTiles]
  */
object ServingLatencyProbe {

  private def get(port: Int, path: String): (Int, Int) = {
    val t0 = System.nanoTime()
    val conn = new URI(s"http://localhost:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val n = if (is != null) is.readAllBytes().length else 0
    conn.disconnect()
    (((System.nanoTime() - t0) / 1000).toInt, if (code == 200) n else -1)
  }

  private def pcts(us: Seq[Int]): (Double, Double, Double) = {
    val s = us.sorted
    def p(q: Double) = s(math.min(s.length - 1, (q * s.length).toInt)) / 1000.0
    (p(0.50), p(0.95), p(0.99))
  }

  def main(args: Array[String]): Unit = {
    val load0 = graft.Bench.loadAvg()
    val nFeatures = if (args.length > 0) args(0).toInt else 40000
    val panel = if (args.length > 1) args(1).toInt else 64
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"[serving-latency] loadavg $load0 features=$nFeatures panel=$panel")

    import graft.sources.FeatureStore.{AttrField, StoreConfig}
    val cfg = StoreConfig(
      path = java.nio.file.Files.createTempDirectory("graft-srvlat")
        .toString + "/store",
      attrs = Seq(AttrField("class", "text"), AttrField("value", "double")))
    val server = new graft.server.TankServer(spark, cfg,
      graft.tiles.TileService.TileConfig(
        mainAttr = "class", attributes = Seq("class", "value")))
    val port = server.start()

    // features spread over a lon box covering ~`panel` zoom-13 columns
    // (one z13 tile ≈ 0.044° of longitude)
    val lonSpan = 0.0439453125 * panel
    val rnd = new scala.util.Random(42)
    val lines = (0 until nFeatures).map { i =>
      val lon = 10.0 + rnd.nextDouble() * lonSpan
      val lat = 50.0 + rnd.nextDouble() * 0.03 // one z13 row
      s"""{"type":"Feature","id":"f$i","geometry":{"type":"Point","coordinates":[$lon,$lat]},"properties":{"class":"c${i % 7}","value":${i % 100}.5}}"""
    }
    val t0 = System.nanoTime()
    lines.grouped(10000).foreach { chunk =>
      val conn = new URI(s"http://localhost:$port/_bulk").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      os.write(chunk.mkString("\n").getBytes("UTF-8")); os.close()
      assert(conn.getResponseCode == 200, s"bulk ingest failed")
      conn.disconnect()
    }
    val ingestWall = (System.nanoTime() - t0) / 1e9
    println(f"SERVING-LATENCY ingest features=$nFeatures wall=$ingestWall%.1f s")

    val z = 13
    val ty = graft.core.WebMercator.tileY(50.015, z)
    val tx0 = graft.core.WebMercator.tileX(10.0001, z)
    val paths = (0 until panel).map(i => s"/tile/$z/${tx0 + i}/$ty")

    // phase 1: cold panel (cache empty — the Spark-job-bound path)
    val cold = paths.map(p => get(port, p))
    val nonEmpty = cold.count(_._2 > 0)
    val (c50, c95, c99) = pcts(cold.map(_._1))
    println(f"SERVING-LATENCY phase=cold tiles=${paths.size} " +
      f"non_empty=$nonEmpty p50=$c50%.1f ms p95=$c95%.1f ms p99=$c99%.1f ms " +
      f"load=${graft.Bench.loadAvg()}%.2f")
    assert(nonEmpty == paths.size,
      s"panel drifted: only $nonEmpty/${paths.size} tiles have features")

    // phase 1b: the warmPanel verb on a FRESH server over the same store
    // (empty cache) — ONE Spark job for the whole panel, vs the cold
    // phase's one job per tile
    val server2 = new graft.server.TankServer(spark, cfg,
      graft.tiles.TileService.TileConfig(
        mainAttr = "class", attributes = Seq("class", "value")))
    val tiles = (0 until panel).map(i => (tx0 + i, ty))
    val tp0 = System.nanoTime()
    val warmed = server2.warmPanel(z, tiles)
    val panelWall = (System.nanoTime() - tp0) / 1e9
    println(f"SERVING-LATENCY phase=panel_warm tiles=$warmed " +
      f"wall=$panelWall%.2f s cold_sum=${cold.map(_._1).sum / 1e6}%.2f s " +
      f"load=${graft.Bench.loadAvg()}%.2f")
    server2.stop()

    // phase 2: warm sequential (cache hits)
    val warm = paths.flatMap(p => Seq.fill(4)(get(port, p)._1))
    val (w50, w95, w99) = pcts(warm)
    println(f"SERVING-LATENCY phase=warm_seq reqs=${warm.size} " +
      f"p50=$w50%.1f ms p95=$w95%.1f ms p99=$w99%.1f ms")

    // phase 3: warm concurrent readers
    for (readers <- Seq(1, 4, 16)) {
      val perReader = 200
      val out = new ConcurrentLinkedQueue[Int]()
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(readers)
      val tw0 = System.nanoTime()
      (0 until readers).foreach { r =>
        new Thread(() => {
          start.await()
          val rr = new scala.util.Random(r)
          var i = 0
          while (i < perReader) {
            out.add(get(port, paths(rr.nextInt(paths.size)))._1)
            i += 1
          }
          done.countDown()
        }).start()
      }
      start.countDown()
      done.await()
      val wall = (System.nanoTime() - tw0) / 1e9
      import scala.jdk.CollectionConverters._
      val us = out.asScala.toSeq
      val (p50, p95, p99) = pcts(us)
      println(f"SERVING-LATENCY phase=warm_concurrent readers=$readers " +
        f"reqs=${us.size} p50=$p50%.1f ms p95=$p95%.1f ms p99=$p99%.1f ms " +
        f"rps=${us.size / wall}%.0f load=${graft.Bench.loadAvg()}%.2f")
    }
    server.stop()
    spark.stop()
  }
}
