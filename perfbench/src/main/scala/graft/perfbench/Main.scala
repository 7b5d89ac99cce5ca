package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Everything one workload run needs: the session, the options the
  * benchmark was started with, the run's private work directory, the clock
  * origin that `setup_s` is measured from, and — in a traced run — the
  * job listener and the span buffer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val work: Path, val t0: Long, val meter: Option[JobMeter],
                val spans: Spans) {
  def cpus: Int = spark.sparkContext.defaultParallelism
}

/** What a workload run reports: the operation counts, whether every output
  * check passed, its metrics by name, and free-form details for the run's
  * detail file (spans, percentiles, sample counts, sizes).
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  var correct = true
  val metrics = mutable.LinkedHashMap[String, Double]()
  val details = mutable.LinkedHashMap[String, Any]()

  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  /** An output check: counts as an operation and, when it fails, fails the
    * run's correctness.
    */
  def check(ok: Boolean, what: => String): Unit = {
    op(ok)
    if (!ok) {
      correct = false
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
  }
}

/** Benchmark entry point. Usage:
  *   Main --workload <tile_viewer|crawl_batch> --seed <n>
  *        --seconds <n> --trace <0|1> --work <dir> --out <file>
  *        --data <dir>
  * Writes the result object to `--out` and the run's details (the traced
  * run's spans and per-job counts too) to `<out>.details.json`.
  */
object Main {

  /** Metrics printed by an untraced run, with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "work_per_s" -> "1/s", "live_heap_mb" -> "MB",
    "store_bytes_per_input_byte" -> "ratio")

  /** Per-layer metrics every workload measures. They are the only ones
    * with a time unit, so no time reads a constant 0.
    */
  val Generic: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.job_ms_per_op" -> "ms",
    "spark.driver_ms_per_op" -> "ms", "spark.scan_bytes_per_op" -> "bytes",
    "spark.shuffle_bytes_per_op" -> "bytes",
    "spark.spill_bytes_per_op" -> "bytes",
    "sources.build_s" -> "s", "sources.store_files_end" -> "count",
    "traced.op_p50_ms" -> "ms", "traced.op_tail_ms" -> "ms")

  /** Metrics printed by a traced run, with units: the generic ones, then
    * those of layers only some workloads exercise, which read 0 elsewhere.
    */
  val PerLayer: Seq[(String, String)] = Generic ++ Seq(
    "tiles.cache_hit_ratio" -> "frac", "tiles.miss_time_frac" -> "frac",
    "server.miss_driver_frac" -> "frac", "spark.jobs_per_miss" -> "count",
    "spark.tasks_per_miss" -> "count", "tiles.rows_per_miss" -> "count",
    "tiles.mvt_bytes_p50" -> "bytes",
    "sources.scan_rows_per_result_row" -> "ratio",
    "sources.scan_bytes_per_miss" -> "bytes",
    "core.cover_ranges_per_tile" -> "count",
    "sources.snapshots_end" -> "count") ++
    CrawlBench.Entries.flatMap { e =>
      Seq(s"queries.$e.jobs" -> "count", s"queries.$e.stages" -> "count",
        s"queries.$e.tasks" -> "count", s"queries.$e.shuffle_bytes" -> "bytes",
        s"queries.$e.spill_bytes" -> "bytes", s"queries.$e.scan_bytes" -> "bytes",
        s"queries.$e.wall_frac" -> "frac", s"queries.$e.driver_frac" -> "frac")
    } ++ CrawlBench.Stores.map(s => s"sources.build_frac.$s" -> "frac")

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set of this JVM (VmHWM) in MB. With a fixed heap size
    * it mostly shows the heap the JVM touched, so it is a detail, not a
    * metric.
    */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap in use after a full collection, in MB: what the program
    * retains (caches, stores' session state, Spark's own).
    */
  def liveHeapMb(): Double = {
    // Spark frees broadcast and shuffle state from a cleaner thread once a
    // collection has found it unreachable, so collect until that has run
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = arg("--workload")
    require(Seq("tile_viewer", "crawl_batch").contains(workload),
      s"unknown workload $workload")
    val traced = arg("--trace") == "1"
    val work = Paths.get(arg("--work")).toAbsolutePath
    val out = Paths.get(arg("--out")).toAbsolutePath
    val load = loadAvg()
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = if (traced) Some(new JobMeter) else None
    meter.foreach(spark.sparkContext.addSparkListener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, arg("--seed").toLong, arg("--seconds").toInt,
      work, t0, meter, new Spans)
    val o = workload match {
      case "tile_viewer" => TileBench.run(ctx)
      case "crawl_batch" => CrawlBench.run(ctx, Paths.get(arg("--data")))
    }
    o.details("workload") = workload
    o.details("seed") = ctx.seed
    o.details("traced") = traced
    o.details("load_start") = load
    o.details("session_s") = sessionS
    o.details("cpus") = cpus
    if (traced) PerLayer.map(_._1).filterNot(Generic.map(_._1).contains)
      .foreach(n => o.metrics.getOrElseUpdate(n, 0.0))
    o.details("metrics") = o.metrics.toMap

    val wanted = if (traced) PerLayer else EndToEnd
    val missing = wanted.map(_._1).filterNot(o.metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val metrics = mutable.LinkedHashMap(wanted.map { case (n, u) =>
      n -> mutable.LinkedHashMap("value" -> o.metrics(n), "unit" -> u) }: _*)
    Files.writeString(Paths.get(out.toString + ".details.json"),
      Json.write(o.details) + "\n")
    Files.writeString(out, Json.write(mutable.LinkedHashMap("correct" -> o.correct,
      "attempted" -> o.attempted, "failed" -> o.failed, "metrics" -> metrics)) + "\n")
    spark.stop()
  }
}

/** JSON for the result and detail files (a NaN is written as "NaN"). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
