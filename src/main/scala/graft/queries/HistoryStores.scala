package graft.queries

import org.apache.spark.sql.SparkSession

import graft.sources._

/** The ONE list of history-store builds a registry run makes up front
  * (Verify, Bench and the profiling/rehearsal tools): each store is built
  * once per corpus lifetime and amortized across every batch probe, so the
  * probe entries exercise — and time — the steady-state store-served path.
  * A store whose build fails stays unregistered, and its entries fall back
  * to their derived in-query history (`scanOrCompute` registers only on
  * success).
  */
object HistoryStores {

  /** One store build: `fallback` names what its entries do without it. */
  final case class Build(name: String, store: BucketedStore[_],
                         build: (SparkSession, String) => Unit,
                         fallback: String)

  val all: Seq[Build] = Seq(
    Build("hash", HashHistory, (s, d) =>
      HashHistory.create(s, d, TextOps.x86HistoryHashes(s, d)),
      "x86 falls back to derived history"),
    Build("gram", GramHistory, (s, d) =>
      GramHistory.create(s, d, TextOps.x86Split(s, d)._1, TextOps.DupGramK),
      "x102 falls back to derived history"),
    Build("phash", PhashHistory, (s, d) =>
      PhashHistory.create(s, d, VectorOps.x109HistoryFps(s, d)),
      "x109 falls back to derived history"),
    Build("landmark", LandmarkHistory, (s, d) =>
      LandmarkHistory.create(s, d, VectorOps.x113HistoryLms(s, d)),
      "x113 falls back to derived history"),
    Build("frame", FrameHistory, (s, d) =>
      FrameHistory.create(s, d, VectorOps.x116HistoryFrames(s, d)),
      "x116 falls back to derived history"),
    Build("minhash", MinHashHistory, (s, d) =>
      MinHashHistory.create(s, d, TextOps.x123HistoryBands(s, d),
        TextOps.x123HistoryShingles(s, d)),
      "x123 falls back to derived history"))

  /** Build every store for `dir` in a run that owns its warehouse: a
    * lease a killed run left is cleared first, and a failed build is
    * reported (prefixed `[tag]`) instead of failing the run.
    */
  def buildAll(spark: SparkSession, dir: String, tag: String): Unit =
    all.foreach { b =>
      b.store.clearStaleMarker(spark, dir)
      try b.build(spark, dir)
      catch { case e: Throwable =>
        System.err.println(s"[$tag] ${b.name} store build failed " +
          s"(${b.fallback}): ${e.getMessage}")
      }
    }
}
