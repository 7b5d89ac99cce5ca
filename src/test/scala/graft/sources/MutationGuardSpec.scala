package graft.sources

import graft.SparkSpec

/** The enforced single-mutating-writer guard behind every index-store
  * verb: a held marker blocks a second writer loudly, a crashed writer's
  * stale marker is stolen after the TTL, and both success and failure
  * release.
  */
class MutationGuardSpec extends SparkSpec {

  private def base = s"/tmp/mutguard_spec_${System.nanoTime}/store"

  private def fsOf(b: String) = new org.apache.hadoop.fs.Path(b)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether `b`'s writer lease is live: a second writer would wait. */
  private def held(b: String): Boolean = WriterLease(b).held(fsOf(b))

  test("a held guard makes a second writer fail loudly, not lose files") {
    val b = base
    val ex = intercept[IllegalStateException] {
      MutationGuard.withGuard(spark, b) {
        // second mutating verb arrives while the first holds the marker
        MutationGuard.withGuard(spark, b, waitMillis = 600L) { fail("acquired a held guard") }
      }
    }
    assert(ex.getMessage.contains("single-writer"))
  }

  test("the guard releases on success and on body failure") {
    val b = base
    MutationGuard.withGuard(spark, b) { () }
    intercept[RuntimeException] {
      MutationGuard.withGuard(spark, b) { throw new RuntimeException("boom") }
    }
    // both released: a fresh acquire succeeds immediately
    MutationGuard.withGuard(spark, b, waitMillis = 600L) { () }
  }

  test("a crashed writer's stale marker is stolen after the TTL") {
    val b = base
    // a writer that died holding it
    WriterLease(b, ttlMillis = 1L).acquire(fsOf(b))
    var ran = false
    MutationGuard.withGuard(spark, b, waitMillis = 2000L, ttlMillis = 1L) {
      ran = true
    }
    assert(ran, "stale marker not stolen")
    assert(!held(b), "marker left behind after release")
  }

  test("staleness honors the HOLDER's declared TTL, not the stealer's") {
    val b = base
    // a holder that declared a long TTL: NOT stealable even by a
    // session running a tiny TTL — it must wait and fail loudly
    WriterLease(b, ttlMillis = 3600 * 1000L).acquire(fsOf(b))
    intercept[IllegalStateException] {
      MutationGuard.withGuard(spark, b, waitMillis = 800L, ttlMillis = 1L) {
        fail("stole an unexpired marker")
      }
    }
    // once the marker outlives the DECLARED TTL, it is stolen promptly
    // even under a long session TTL
    MutationGuard.clear(spark, b)
    WriterLease(b, ttlMillis = 5L).acquire(fsOf(b))
    var ran = false
    MutationGuard.withGuard(spark, b, waitMillis = 2000L,
        ttlMillis = 3600 * 1000L) { ran = true }
    assert(ran, "TTL-outlived marker not stolen")
  }

  test("a stolen marker makes the overlapped writer fail loudly at release") {
    val b = base
    val ex = intercept[IllegalStateException] {
      MutationGuard.withGuard(spark, b, ttlMillis = 1L) {
        // a thief that stole after our TTL lapsed
        WriterLease(b, ttlMillis = 60000L).acquire(fsOf(b))
      }
    }
    assert(ex.getMessage.contains("stolen"))
    // and the thief's marker is left alone
    assert(held(b), "overlapped writer deleted the thief's marker")
    MutationGuard.clear(spark, b)
  }

  test("clear releases a killed run's lock: the next create succeeds at once") {
    import spark.implicits._
    val dir = s"/tmp/mutguard_spec_clear_${System.nanoTime}"
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    GramHistory.create(spark, dir, docs, k = 4, buckets = 2)
    // one bucketed store (the table-location base) and one path store
    val bm25 = graft.operators.Bm25Store.pathFor(dir)
    val creates: Seq[(String, () => Unit, () => Unit)] = Seq(
      (Bucketing.guardBase(spark, GramHistory.tableFor(dir)),
        () => GramHistory.create(spark, dir, docs, k = 4, buckets = 2),
        () => GramHistory.clearStaleMarker(spark, dir)),
      (bm25, () => graft.operators.Bm25Store.create(spark, bm25, docs),
        () => MutationGuard.clear(spark, bm25)))
    spark.conf.set("spark.graft.store.guardWaitMillis", "0")
    try creates.foreach { case (b, create, clear) =>
      // a holder killed mid-verb (kill -9): its lease is never released
      WriterLease(b).acquire(fsOf(b))
      intercept[IllegalStateException](create())
      clear()
      create()
      assert(!held(b), s"the rebuild left $b locked")
    } finally {
      spark.conf.unset("spark.graft.store.guardWaitMillis")
      GramHistory.invalidate(spark, dir)
      MutationGuard.clear(spark, bm25)
      fsOf(bm25).delete(new org.apache.hadoop.fs.Path(bm25), true): Unit
    }
  }

  test("store verbs run under the guard (a held marker blocks an append)") {
    import spark.implicits._
    val dir = s"/tmp/mutguard_spec_store_${System.nanoTime}"
    GramHistory.create(spark, dir,
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"), k = 4,
      buckets = 2)
    val b = Bucketing.guardBase(spark, GramHistory.tableFor(dir))
    val inc = GramHistory.gramHashes(
      Seq((2L, "epsilon zeta eta theta")).toDF("doc_id", "text"), 4)
    // fast-fail for the spec: the default 30 s wait, conf-overridden
    spark.conf.set("spark.graft.store.guardWaitMillis", "600")
    try {
      intercept[IllegalStateException] {
        MutationGuard.withGuard(spark, b) {
          val t0 = System.currentTimeMillis
          try GramHistory.append(spark, dir, inc)
          finally assert(System.currentTimeMillis - t0 >= 600L,
            "append did not wait on the held guard")
        }
      }
    } finally spark.conf.unset("spark.graft.store.guardWaitMillis")
    GramHistory.invalidate(spark, dir)
  }
}
