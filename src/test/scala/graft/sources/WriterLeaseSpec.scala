package graft.sources

import graft.SparkSpec
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch,
  CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The writer lease's one-winner claim, raced: four threads released
  * together by a barrier acquire one fresh base whose holder never
  * releases while the others try. Exactly one acquire may return; the
  * rest must fail loudly after their short wait — through the feature
  * store's lease and through the index stores' [[MutationGuard]].
  */
class WriterLeaseSpec extends SparkSpec {

  private val Racers = 4
  private val Rounds = 50
  private val WaitMillis = 100L

  /** (granted, refused, other failures) of one barrier-released round;
    * `take(base, granted)` acquires `base` and calls `granted` while it
    * holds it.
    */
  private def round(base: String)(
      take: (String, () => Unit) => Unit): (Int, Int, Seq[String]) = {
    val granted = new AtomicInteger
    val refused = new AtomicInteger
    val other = new ConcurrentLinkedQueue[String]()
    val barrier = new CyclicBarrier(Racers)
    // the holder keeps the lease until every other racer has failed
    val losersDone = new CountDownLatch(Racers - 1)
    val ts = (0 until Racers).map { _ =>
      new Thread(() => {
        barrier.await()
        try take(base, () => {
          granted.incrementAndGet()
          losersDone.await(10, TimeUnit.SECONDS): Unit
        })
        catch {
          case e: IllegalStateException
              if String.valueOf(e.getMessage).contains("not acquired") =>
            refused.incrementAndGet()
            losersDone.countDown()
          case e: Throwable =>
            other.add(e.toString)
            losersDone.countDown()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    (granted.get, refused.get, other.toArray(Array.empty[String]).toSeq)
  }

  private def race(name: String)(take: (String, () => Unit) => Unit): Unit = {
    val root = s"/tmp/writer_lease_race_${System.nanoTime}"
    val results = (0 until Rounds).map(r => round(s"$root/r$r/store")(take))
    val doubled = results.count(_._1 > 1)
    info(s"$name: $doubled/$Rounds rounds granted the lease more than once")
    results.zipWithIndex.foreach { case ((granted, refused, other), r) =>
      assert(granted == 1 && refused == Racers - 1 && other.isEmpty,
        s"$name round $r: $granted granted, $refused refused, " +
          s"other failures ${other.mkString("; ")}")
    }
  }

  test("a barrier-released race for one fresh lease has exactly one winner") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    race("FeatureStore lease") { (base, granted) =>
      val cfg = FeatureStore.StoreConfig(path = base,
        attrs = Seq(FeatureStore.AttrField("v", "int")),
        leaseWaitMillis = WaitMillis)
      FeatureStore.lease(cfg).acquire(fs) // never released
      granted()
    }
    race("MutationGuard") { (base, granted) =>
      MutationGuard.withGuard(spark, base, waitMillis = WaitMillis)(granted())
    }
  }
}
