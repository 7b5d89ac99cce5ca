package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val load0 = Bench.loadAvg()
    if (load0 > 2.0)
      System.err.println(f"[verify] WARNING: 1-min loadavg $load0%.2f at " +
        "start — correctness is unaffected, but do not read this run's " +
        "wall-clock as performance signal")
    val spark = graft.util.LocalSession()
    new java.io.File(outDir).mkdirs()
    def rmTree(path: String): Unit = {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(path))
    }
    // the persisted history stores (the production probe paths): built
    // once up front so the registry entries — and the correctness compare
    // against the oracles' derived history — exercise the store-served
    // probes, not the in-query fallback
    graft.queries.HistoryStores.buildAll(spark, sfDir, "verify")
    // x94b's BM25 index store — same producer contract (store answers are
    // bit-identical to the transient chain, so the fallback is silent-safe)
    graft.sources.MutationGuard.clear(spark,
      graft.operators.Bm25Store.pathFor(sfDir))
    try graft.operators.Bm25Store.createFor(spark, sfDir,
      graft.queries.Tables.documents(spark, sfDir))
    catch { case e: Throwable =>
      System.err.println(s"[verify] bm25 store build failed " +
        s"(x94b falls back to the transient chain): ${e.getMessage}")
    }
    val failed = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      val outPath = s"$outDir/$name"
      // stale-output guard: several oracles replay a PRODUCER query's
      // parquet from this out dir (__VERIFY_OUT__ — x45/x82/x84/x85/x89).
      // Deleting the subdir BEFORE (re)writing guarantees a failed producer
      // leaves NO files behind, so a consumer's oracle errors loudly in
      // DuckDB instead of silently replaying a previous run's output.
      rmTree(outPath)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(outPath)
        // the written copy IS the producer materialization: register it so
        // the resolution queries (x84/x85/x89, iterated later) scan the
        // exact files their oracles replay
        if (SparkEntry.pairProducers.contains(name))
          graft.operators.PairStore.register(spark, name, sfDir, outPath)
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        rmTree(outPath) // drop any partial write too
      }
      spark.catalog.clearCache()
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] FAILED queries (${failed.size}): " +
        failed.mkString(", "))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracles may reference THIS run's persisted results (e.g. x45 replays
    // SimHash banding over the x44 fingerprints, which DuckDB cannot
    // recompute) via the __VERIFY_OUT__ placeholder — resolve it to the
    // actual out dir so the dumped SQL is runnable as-is
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__VERIFY_OUT__", outAbs))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
