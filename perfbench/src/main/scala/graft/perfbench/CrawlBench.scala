package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.queries.TextOps
import graft.sources.{Bucketing, GramHistory, HashHistory, MinHashHistory,
  MutationGuard, StreamMark}

/** `crawl_batch`: one pipeline client runs passes over the six
  * incremental-dedup and crawl-triage registry entries, materializing each
  * full result on the driver (what a consumer of the entry runs), against
  * the three history stores those entries probe, built in setup. Its
  * operation is one pass.
  *
  * The corpus is the fixed sf0.1 `documents` table committed under
  * `perfbench/data`, so every entry's result can be checked against the
  * committed digest of its DuckDB oracle; the seed does not change it. At
  * this size the entries are bound by per-job fixed cost, so cuts in job
  * count show here and per-row kernel speed-ups mostly do not.
  */
object CrawlBench {

  val Entries: Seq[String] = Seq("x86_incremental_dedup",
    "x102_incremental_dupgrams", "x123_incremental_neardup",
    "x125_crawl_triage", "x126_crawl_triage_cascade",
    "x127_crawl_triage_derived")

  val Stores: Seq[String] = Seq("hash_history", "gram_history", "minhash_history")

  def run(ctx: Ctx, data: Path): Outcome = {
    val spark = ctx.spark
    val o = new Outcome
    val corpus = ctx.work.resolve("corpus")
    Files.createDirectories(corpus)
    Files.copy(data.resolve("documents.parquet"), corpus.resolve("documents.parquet"))
    val dir = corpus.toString
    val expected = readDigests(data.resolve("oracle_digests.json"))

    // first-parquet warm-up (datasource classloading, codegen init)
    spark.read.parquet(s"$dir/documents.parquet").count()
    // the warehouse is this run's own, but clear the markers anyway so a
    // store build never waits on a marker a killed process left behind
    for (t <- Seq(HashHistory.tableFor(dir), GramHistory.tableFor(dir),
        MinHashHistory.tableFor(dir))) {
      MutationGuard.clear(spark, Bucketing.guardBase(spark, t))
      StreamMark.clear(spark, t)
    }
    val builds: Seq[(String, () => Unit)] = Seq(
      "hash_history" -> (() => HashHistory.create(spark, dir,
        TextOps.x86HistoryHashes(spark, dir))),
      "gram_history" -> (() => GramHistory.create(spark, dir,
        TextOps.x86Split(spark, dir)._1, TextOps.DupGramK)),
      "minhash_history" -> (() => MinHashHistory.create(spark, dir,
        TextOps.x123HistoryBands(spark, dir), TextOps.x123HistoryShingles(spark, dir))))
    val buildS = builds.map { case (name, f) =>
      val t = System.nanoTime()
      f()
      name -> (System.nanoTime() - t) / 1e9
    }
    val setupS = (System.nanoTime() - ctx.t0) / 1e9

    // timed passes: at least one, then more while the next one is expected
    // to end inside the run's seconds
    final case class EntryRun(pass: Int, name: String, startNs: Long,
                              endNs: Long, startMs: Long, endMs: Long,
                              ok: Boolean)
    val runs = scala.collection.mutable.ArrayBuffer[EntryRun]()
    val passWalls = scala.collection.mutable.ArrayBuffer[Double]()
    val w0 = System.nanoTime()
    var pass = 0
    while (pass == 0 ||
        (System.nanoTime() - w0) / 1e9 + passWalls.last <= ctx.seconds) {
      val p0 = System.nanoTime()
      Entries.foreach { name =>
        val build = SparkEntry.queries(name)
        spark.sparkContext.setLocalProperty(JobMeter.TagKey, s"$pass/$name")
        spark.sparkContext.setJobGroup(s"perfbench/$pass/$name", name)
        val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
        val res = try {
          val df = build(spark, dir)
          Some((df.schema, df.collect()))
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $name FAILED: $e")
            None
        }
        val s1 = System.nanoTime(); val m1 = System.currentTimeMillis()
        spark.sparkContext.setLocalProperty(JobMeter.TagKey, null)
        spark.sparkContext.clearJobGroup()
        runs += EntryRun(pass, name, s0, s1, m0, m1, res.isDefined)
        res match {
          case Some((schema, rows)) =>
            val got = Digest.of(schema, rows)
            o.check(expected.get(name).contains(got),
              s"$name digest $got != oracle ${expected.getOrElse(name, "<none>")}")
          case None => o.check(ok = false, s"$name failed")
        }
        // builders may cache intermediates; one run's must not serve the next
        spark.catalog.clearCache()
      }
      passWalls += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val measuredS = (System.nanoTime() - w0) / 1e9
    val passMs = passWalls.map(_ * 1000).toSeq
    val (tail, tailP) = Stats.tail(passMs)
    val storeBytes = Main.dirBytes(ctx.work.resolve("warehouse"))
    val inputBytes = Files.size(corpus.resolve("documents.parquet"))

    o.metrics("setup_s") = setupS
    o.metrics("op_p50_ms") = Stats.p50(passMs)
    o.metrics("op_tail_ms") = tail
    o.metrics("work_per_s") = runs.size / passWalls.sum
    o.metrics("live_heap_mb") = Main.liveHeapMb()
    o.details("peak_rss_mb") = Main.peakRssMb()
    o.metrics("store_bytes_per_input_byte") = storeBytes.toDouble / inputBytes
    o.details("op") = "pass over the six entries, each result collected"
    o.details("ops") = pass
    o.details("tail_percentile") = tailP
    o.details("passes") = pass
    o.details("pass_s") = passWalls.toSeq
    o.details("measured_s") = measuredS
    o.details("build_s") = buildS.toMap
    o.details("entry_ms") = runs.map(r => Map("pass" -> r.pass, "entry" -> r.name,
      "ms" -> (r.endNs - r.startNs) / 1e6)).toSeq
    o.details("sizes") = Map("input_bytes" -> inputBytes, "store_bytes" -> storeBytes)

    ctx.meter.foreach { meter =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val jobs = meter.jobs
      val spans = ctx.spans
      val passIds = (0 until pass).map(p => p -> spans.nextId()).toMap
      runs.groupBy(_.pass).foreach { case (p, rs) =>
        spans.add(Span(passIds(p), 0, "pass", rs.map(_.startNs).min,
          rs.map(_.endNs).max, rs.map(_.startMs).min, rs.map(_.endMs).max,
          Map("pass" -> p)))
      }
      val byTag = jobs.groupBy(_.tag)
      runs.foreach { r =>
        val id = spans.nextId()
        val js = byTag.getOrElse(s"${r.pass}/${r.name}", Nil)
        spans.add(Span(id, passIds(r.pass), "entry", r.startNs, r.endNs,
          r.startMs, r.endMs, Map("entry" -> r.name, "ok" -> r.ok)))
        js.foreach(j => spans.add(Span(spans.nextId(), id, "spark.job", 0, 0,
          j.start, j.end, Map("job" -> j.id, "stages" -> j.stages,
            "tasks" -> j.tasks))))
      }
      val perEntry = Entries.map { e =>
        val rs = runs.filter(_.name == e)
        val sums = rs.map(r => JobMeter.sum(byTag.getOrElse(s"${r.pass}/$e", Nil)))
        val wall = rs.map(r => (r.endNs - r.startNs) / 1e6).sum
        val first = sums.head
        o.metrics(s"queries.$e.jobs") = first.jobs
        o.metrics(s"queries.$e.stages") = first.stages.toDouble
        o.metrics(s"queries.$e.tasks") = first.tasks.toDouble
        o.metrics(s"queries.$e.shuffle_bytes") = first.shuffleBytes.toDouble
        o.metrics(s"queries.$e.spill_bytes") = first.spillBytes.toDouble
        o.metrics(s"queries.$e.scan_bytes") = first.scanBytes.toDouble
        o.metrics(s"queries.$e.wall_frac") = wall / (passWalls.sum * 1000)
        o.metrics(s"queries.$e.driver_frac") =
          math.max(0.0, wall - sums.map(_.inJobMs).sum) / wall
        e -> sums
      }
      val all = perEntry.flatMap(_._2)
      val opWallMs = passMs.sum
      val n = pass.toDouble
      o.metrics("spark.jobs_per_op") = all.map(_.jobs).sum / n
      o.metrics("spark.stages_per_op") = all.map(_.stages).sum / n
      o.metrics("spark.tasks_per_op") = all.map(_.tasks).sum / n
      o.metrics("spark.job_ms_per_op") = all.map(_.inJobMs).sum / n
      o.metrics("spark.driver_ms_per_op") =
        math.max(0.0, opWallMs - all.map(_.inJobMs).sum) / n
      o.metrics("spark.scan_bytes_per_op") = all.map(_.scanBytes).sum / n
      o.metrics("spark.shuffle_bytes_per_op") = all.map(_.shuffleBytes).sum / n
      o.metrics("spark.spill_bytes_per_op") = all.map(_.spillBytes).sum / n
      o.metrics("sources.build_s") = buildS.map(_._2).sum
      o.metrics("sources.store_files_end") = countFiles(ctx.work.resolve("warehouse"))
      o.metrics("traced.op_p50_ms") = o.metrics("op_p50_ms")
      o.metrics("traced.op_tail_ms") = o.metrics("op_tail_ms")
      buildS.foreach { case (s, t) =>
        o.metrics(s"sources.build_frac.$s") = t / buildS.map(_._2).sum
      }
      o.details("counts") = perEntry.map { case (e, sums) => e -> sums.head }.toMap
      o.details("counts_repeat_across_passes") = perEntry.map { case (e, sums) =>
        e -> sums.map(s => s.copy(inJobMs = 0)).distinct.size.equals(1)
      }.toMap
      o.details("spans") = spans.list
      o.details("jobs_untagged") = byTag.getOrElse("", Nil).size
    }
    o
  }

  private def countFiles(p: Path): Double = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(".parquet")).count().toDouble
    finally s.close()
  }

  private def readDigests(p: Path): Map[String, String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    Entries.flatMap(e => Option(node.get(e)).map(v => e -> v.asText())).toMap
  }
}

/** Order-preserving SHA-256 of a result: a header of the columns sorted by
  * name with their types, then every row's values in that column order.
  * `perfbench/oracle_digest.py` computes the same digest over a DuckDB
  * result, so the two agree exactly when the results are identical in rows,
  * order, values and types.
  */
object Digest {
  private def tag(t: DataType): String = t match {
    case IntegerType => "i32"
    case LongType => "i64"
    case DoubleType => "f64"
    case StringType => "str"
    case BooleanType => "bool"
    case other => other.simpleString
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    cols.foreach { case (f, _) => put(s"${f.name}:${tag(f.dataType)}\n") }
    rows.foreach { r =>
      cols.foreach { case (f, i) =>
        if (r.isNullAt(i)) put("N")
        else f.dataType match {
          case DoubleType =>
            put("d" + java.lang.Long.toHexString(
              java.lang.Double.doubleToLongBits(r.getDouble(i))))
          case StringType =>
            val b = r.getString(i).getBytes("UTF-8")
            put(s"s${b.length}:"); md.update(b)
          case BooleanType => put(if (r.getBoolean(i)) "t" else "f")
          case _ => put("v" + r.get(i).toString)
        }
        put("\t")
      }
      put("\n")
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Writes the DuckDB oracle SQL of the crawl entries as JSON, for
  * `perfbench/oracle_digest.py`. Usage: OracleDump <out.json>
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sql = CrawlBench.Entries.map(e => e -> SparkEntry.oracleSql(e)).toMap
    Files.writeString(java.nio.file.Paths.get(args(0)), Json.write(sql) + "\n")
  }
}
