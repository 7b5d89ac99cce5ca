package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it. `start`/`end` are the listener's
  * epoch-millisecond stamps; `tag` is the `perfbench.span` local property
  * of the submitting thread (empty when none was set).
  */
final case class JobRec(id: Int, start: Long, end: Long, tag: String,
                        stages: Int, tasks: Long, scanBytes: Long,
                        scanRows: Long, shuffleBytes: Long, spillBytes: Long)

/** Counts what the engine did per job: stages run, tasks run, bytes and
  * rows scanned, shuffle bytes (read + written) and spill bytes. Registered
  * only in traced runs.
  */
final class JobMeter extends SparkListener {
  private final class Open(val start: Long, val tag: String) {
    var stages = 0; var tasks = 0L; var scanB = 0L; var scanR = 0L
    var shuffleB = 0L; var spillB = 0L
  }
  private val open = mutable.Map[Int, Open]()
  private val stageJob = mutable.Map[Int, Int]()
  private val done = mutable.ArrayBuffer[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobMeter.TagKey))).getOrElse("")
    open(e.jobId) = new Open(e.time, tag)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(open.get).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); o <- open.get(j)) {
      o.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        o.scanB += m.inputMetrics.bytesRead
        o.scanR += m.inputMetrics.recordsRead
        o.shuffleB += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        o.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      done += JobRec(e.jobId, o.start, e.time, o.tag, o.stages, o.tasks,
        o.scanB, o.scanR, o.shuffleB, o.spillB)
    }
  }

  def jobs: Seq[JobRec] = synchronized(done.toSeq.sortBy(_.id))
}

object JobMeter {
  /** Local property naming the benchmark span a job runs under. Spark's
    * job group is not used for this: `graft.util.Par.all` overwrites it on
    * its worker threads, while an ordinary local property is inherited.
    */
  val TagKey = "perfbench.span"

  /** Summed counts of a set of jobs. */
  final case class Sum(jobs: Int, stages: Long, tasks: Long, scanBytes: Long,
                       scanRows: Long, shuffleBytes: Long, spillBytes: Long,
                       inJobMs: Long)

  def sum(js: Seq[JobRec]): Sum = Sum(js.size, js.map(_.stages.toLong).sum,
    js.map(_.tasks).sum, js.map(_.scanBytes).sum, js.map(_.scanRows).sum,
    js.map(_.shuffleBytes).sum, js.map(_.spillBytes).sum, busyMs(js))

  /** Wall milliseconds during which at least one of the jobs ran (jobs of
    * one span may overlap when a builder runs legs concurrently).
    */
  def busyMs(js: Seq[JobRec]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    js.sortBy(_.start).foreach { j =>
      if (j.start > curE) {
        if (curE > curS) total += curE - curS
        curS = j.start; curE = j.end
      } else curE = math.max(curE, j.end)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** A timed interval of the benchmark, kept in memory and written out when
  * the run ends. `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      attrs: Map[String, Any])

final class Spans {
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = all.add(s)

  def list: Seq[Span] = all.asScala.toSeq.sortBy(_.id)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Harrell–Davis estimate of the median: the mean of all order
    * statistics weighted by a Beta((n+1)/2, (n+1)/2) distribution. A run
    * holds few viewports and their latencies bunch into modes (how many of
    * the queued tiles missed), so the sample median jumps between modes from
    * run to run while this estimate moves smoothly.
    */
  def p50(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) return Double.NaN
    val w = new org.apache.commons.math3.distribution.BetaDistribution((n + 1) / 2.0, (n + 1) / 2.0)
    s.indices.map { i =>
      (w.cumulativeProbability((i + 1.0) / n) - w.cumulativeProbability(i.toDouble / n)) * s(i)
    }.sum
  }

  /** The highest percentile with at least ten samples above it: the
    * sample with exactly ten above it (nearest rank), with its percentile.
    * The maximum, reported as percentile 100, when there are fewer than
    * eleven samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n < 11) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}
