package graft.util

import org.apache.spark.sql.SparkSession

/** The one local Spark session every main builds (Bench, Verify and the
  * graft.tools probes), so a probe times the same physical plans the
  * bench does:
  *  - `local[$SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
  *    partitions;
  *  - AQE coalescing sized by the advisory partition target instead of
  *    max parallelism (the Spark tuning guide's own recommendation for
  *    this flag): shuffle.partitions stays the scale knob, but
  *    post-shuffle reads collapse to data-sized partition counts — at
  *    bench scale that turns 32 near-empty reduce tasks per exchange into
  *    1-2, at cluster scale it is the guide §2.2 "fewer, larger reduce
  *    partitions" posture with the same 64 MB advisory target;
  *  - UTC session time zone, UI off, log level WARN.
  *
  * `extra` conf pairs are set last, over the defaults (e.g. a run-private
  * `spark.sql.warehouse.dir`).
  */
object LocalSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
