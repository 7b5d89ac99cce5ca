package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. One session per suite
  * (getOrCreate reuses the JVM-wide session across suites in the forked
  * test JVM, so startup cost is paid once).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val Sf: String = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  /** Runs `body` and returns its result with the local property `key` of
    * every Spark job started meanwhile, on any thread (jobs without it are
    * skipped). A marker job tagged after `body` bounds the wait: the
    * listener bus delivers in order, so once it is seen, so are the jobs
    * submitted before it.
    */
  def jobProperties[A](key: String)(body: => A): (A, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val result = body
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      val prior = sc.getLocalProperty(key)
      sc.setLocalProperty(key, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, prior)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
      (result, seen.asScala.filter(_ != marker).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
