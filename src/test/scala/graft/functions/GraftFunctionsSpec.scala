package graft.functions

import graft.SparkSpec
import graft.core.{GeoHash, WebMercator, ZCurve}

class GraftFunctionsSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.register(spark)
  }

  test("quantile_bin matches a scalar model over random cuts and probes") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(3)
    (0 until 5).foreach { trial =>
      val cuts = Array.fill(1 + rnd.nextInt(40))(rnd.nextDouble() * 200 - 100).sorted
      val probes = Array.fill(200)(rnd.nextDouble() * 240 - 120) ++
        cuts.take(5) // exact-hit edge: bin ABOVE the cut
      // evaluate through the engine over a real scan shape (codegen path)
      import spark.implicits._
      val df = probes.toSeq.toDF("x")
      val got = df.select(col("x"),
          GraftBridge.column(QuantileBinExpr(GraftBridge.expression(col("x")), cuts)).as("b"))
        .collect().map(r => r.getDouble(0) -> r.getInt(1)).toMap
      probes.foreach { p =>
        val model = cuts.count(_ <= p) // # cuts at or below p = insertion point (post-dup collapse)
        val viaSearch = QuantileBinExpr.bin(cuts, p)
        assert(got(p) == viaSearch, s"trial $trial: engine ${got(p)} != kernel $viaSearch at $p")
        assert(viaSearch >= 0 && viaSearch <= cuts.length)
        if (!cuts.contains(p)) // binarySearch picks SOME index among dup cuts
          assert(viaSearch == model, s"trial $trial: $viaSearch != model $model at $p")
      }
    }
  }

  test("zcurve_hash is callable from SQL and matches the Scala core") {
    val rows = spark.sql(
      "SELECT zcurve_hash(3L, 5L) AS a, zcurve_hash(100L, 200L) AS b").collect().head
    assert(rows.getLong(0) == ZCurve.interleave(3, 5).toLong)
    assert(rows.getLong(1) == ZCurve.interleave(100, 200).toLong)
  }

  test("zcurve_hash participates in whole-stage codegen over a parquet scan") {
    val df = spark.read.parquet(s"$Sf/customer.parquet")
      .selectExpr("c_custkey AS x", "zcurve_hash(c_custkey % 8192, (c_custkey * 7) % 8192) AS h")
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (x, h) =>
      assert(h == ZCurve.interleaveLong(x % 8192, (x * 7) % 8192))
    }
    // the plan stays inside WholeStageCodegen (no fallback to interpreted)
    val wsc = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wsc.nonEmpty, df.queryExecution.executedPlan.toString)
  }

  test("cosine_sim/dot_f are bit-equal to the scalar model, codegen'd, null-safe") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val vecs = (1L to 50L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f))).toDF("id", "v")
    val q = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val df = vecs.crossJoin(
        org.apache.spark.sql.functions.broadcast(
          Seq(Tuple1(q)).toDF("q")))
      .select($"id", $"v", $"q",
        graft.operators.Similarity.cosine($"v", $"q").as("cos"),
        graft.operators.Similarity.dot($"v", $"q").as("dt"))
    // bit-equality vs the reference left-to-right double loop
    df.collect().foreach { r =>
      val v = r.getSeq[Float](1); val qq = r.getSeq[Float](2)
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < 64) {
        val x = v(i).toDouble; val y = qq(i).toDouble
        d += x * y; na += x * x; nb += y * y; i += 1
      }
      assert(r.getDouble(4) == d, "dot not bit-equal")
      assert(r.getDouble(3) == d / (math.sqrt(na) * math.sqrt(nb)),
        "cosine not bit-equal")
    }
    // the scoring projection stays inside whole-stage codegen — no ScalaUDF
    // (AQE wraps the stages, so assert on the plan string's `*(n)` spans
    // rather than collecting WholeStageCodegenExec nodes)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"vector math fell back to a UDF:\n$plan")
    assert(plan.contains("*(1) Project") && plan.contains("cosine_sim"),
      s"scoring projection not in a codegen span:\n$plan")
    // SQL surface + null propagation
    val r2 = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |       dot_f(CAST(NULL AS ARRAY<FLOAT>),
        |             array(CAST(1.0 AS FLOAT))) AS n""".stripMargin).collect().head
    assert(r2.getDouble(0) == 1.0)
    assert(r2.isNullAt(1))
  }

  test("scalar helper functions are registered") {
    val r = spark.sql(
      """SELECT haversine_km(52.52D, 13.405D, 48.8566D, 2.3522D) AS d,
        |       tile_x(10.0D, 13) AS tx, tile_y(50.0D, 13) AS ty,
        |       geohash_encode(57.64911D, 10.40744D, 11) AS gh""".stripMargin)
      .collect().head
    assert(math.abs(r.getDouble(0) - 878) < 5)
    assert(r.getInt(1) == WebMercator.tileX(10.0, 13))
    assert(r.getInt(2) == WebMercator.tileY(50.0, 13))
    assert(r.getString(3) == GeoHash.encode(57.64911, 10.40744, 11))
  }

  test("curation kernels are callable from SQL") {
    import graft.operators.Kernels
    val r = spark.sql(
      """SELECT simhash64('a b a') AS sh,
        |       winnow_fps('abcdefgh', 4, 3) AS fps,
        |       minhash_sig(array('a b c', 'b c d'), 8) AS sig,
        |       token_counts('the quick the', 4) AS tc,
        |       tri_stats('a b c a b c a b c') AS ts,
        |       quantize_int8(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT))) AS q""".stripMargin)
      .collect().head
    assert(r.getLong(0) == Kernels.simHash64("a b a"))
    assert(r.getSeq[Long](1) == Kernels.winnowFps("abcdefgh", 4, 3).toSeq)
    assert(r.getSeq[Long](2) == Kernels.minHashSig(Array("a b c", "b c d"), 8).toSeq)
    assert(r.getMap[String, Long](3) == Map("quick" -> 1L))
    assert(r.getSeq[Long](4) == Seq(7L, 3L))
    assert(r.getSeq[Int](5) == Seq(127, -63))
  }

  test("null inputs propagate null") {
    val r = spark.sql("SELECT zcurve_hash(CAST(NULL AS BIGINT), 5L) AS h").collect().head
    assert(r.isNullAt(0))
    val k = spark.sql(
      """SELECT simhash64(CAST(NULL AS STRING)) AS a,
        |       minhash_sig(CAST(NULL AS ARRAY<STRING>), 8) AS b,
        |       quantize_int8(CAST(NULL AS ARRAY<FLOAT>)) AS c""".stripMargin)
      .collect().head
    assert(k.isNullAt(0) && k.isNullAt(1) && k.isNullAt(2))
  }

  /** The tile at zoom `z` holding customer 100's point (q28/x46's tile at z9). */
  private def pointTile(z: Int): (Int, Int) = {
    val lon = ((100L * 37) % 36000) / 100.0 - 180.0
    val lat = ((100L * 53) % 17000) / 100.0 - 85.0
    (WebMercator.tileX(lon, z), WebMercator.tileY(lat, z))
  }

  test("in_tile predicate is rewritten to pushed-down hash ranges") {
    import graft.queries.Spatial
    val stored = Spatial.featuresStored(spark, Sf)
    stored.createOrReplaceTempView("features_stored")
    // the point's tile at z9 (q28/x46's), at zooms whose covers the z+5
    // granularity cap shapes differently, at the hash level and below it
    Seq(9, 4, 6, 13, 16).foreach { z =>
      val (tx, ty) = pointTile(z)
      val df = spark.sql(
        s"SELECT uid FROM features_stored WHERE in_tile(hash, $z, $tx, $ty)")
      val viaRule = df.collect().map(_.getString(0)).sorted
      // equals the hand-built range predicate of TileService
      val direct = stored.filter(
          graft.tiles.TileService.hashPredicate(z, tx, ty,
            graft.tiles.TileService.TileConfig()))
        .select("uid").collect().map(_.getString(0)).sorted
      assert(viaRule.nonEmpty && viaRule.toSeq == direct.toSeq, s"z$z tile ($tx, $ty)")
      // and the ranges reached the parquet scan as pushed filters (the plan
      // display truncates the filter list, so match the leading Or tree)
      val plan = df.queryExecution.executedPlan.toString
      if (z == 9) assert(plan.contains("PushedFilters: [Or("), plan.take(2000))
      assert(plan.contains("PushedFilters: [") && plan.contains("Equal(hash,"), plan.take(2000))
      // the rewrite happened: no in_tile call survives in the physical plan
      assert(!plan.contains("in_tile"), plan.take(2000))
    }
  }

  test("in_tile over a BIGINT hash returns the INT form's rows and keeps the pushdown") {
    import graft.queries.Spatial
    Spatial.featuresStored(spark, Sf).createOrReplaceTempView("features_bigint")
    val (tx, ty) = pointTile(9)
    def uids(hash: String) = spark.sql(
      s"SELECT uid FROM features_bigint WHERE in_tile($hash, 9, $tx, $ty)")
    val wide = uids("CAST(hash AS BIGINT)")
    val got = wide.collect().map(_.getString(0)).sorted.toSeq
    assert(got.nonEmpty && got == uids("hash").collect().map(_.getString(0)).sorted.toSeq)
    val plan = wide.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [Or("), plan.take(2000))
  }

  test("in_tile and st_centroid_in_bbox compile once: the same generated code for any tile or bbox") {
    import graft.queries.Spatial
    Spatial.featuresStored(spark, Sf).createOrReplaceTempView("features_codegen")
    def code(where: String): Seq[String] = {
      val df = spark.sql(s"SELECT uid FROM features_codegen WHERE $where")
      df.collect()
      df.queryExecution.debug.codegenToSeq().map(_._2)
    }
    val (t9, t13) = (pointTile(9), pointTile(13))
    val tile9 = code(s"in_tile(hash, 9, ${t9._1}, ${t9._2})")
    val tile13 = code(s"in_tile(hash, 13, ${t13._1 + 1}, ${t13._2})")
    assert(tile9.nonEmpty && tile9 == tile13,
      "in_tile queries over different tiles generate different code")
    val bbox1 = code("st_centroid_in_bbox(geometry, -170.005, -80.005, -140.005, -40.005)")
    val bbox2 = code("st_centroid_in_bbox(geometry, 10.0, 40.0, 12.5, 52.0)")
    assert(bbox1.nonEmpty && bbox1 == bbox2,
      "st_centroid_in_bbox queries over different bboxes generate different code")
  }

  test("wrong arity on SQL vector/zcurve functions raises an analysis error, not IOOBE") {
    Seq("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)))",
        "SELECT dot_f(array(CAST(1.0 AS FLOAT)))",
        "SELECT zcurve_hash(1L)",
        "SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)), 3)")
      .foreach { sql =>
        val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql))
        assert(e.getMessage.contains("2"), s"$sql -> ${e.getMessage}")
      }
  }

  test("st_centroid_in_bbox lowers to pushed hash ranges and keeps the exact test") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.queries.Spatial
    val stored = Spatial.featuresStored(spark, Sf)
    stored.createOrReplaceTempView("features_st_bbox")
    val df = spark.sql(
      """SELECT uid FROM features_st_bbox
        |WHERE st_centroid_in_bbox(geometry, -170.005, -80.005, -140.005, -40.005)""".stripMargin)
    val viaRule = df.collect().map(_.getString(0)).sorted.toSeq
    // ground truth from the point derivation (no spatial machinery at all)
    val direct = Spatial.points(spark, Sf)
      .filter(col("lon") >= -170.005 && col("lon") <= -140.005 &&
        col("lat") >= -80.005 && col("lat") <= -40.005)
      .select(concat(lit("uid-"), col("id"))).collect().map(_.getString(0)).sorted.toSeq
    assert(viaRule.nonEmpty && viaRule == direct)
    val plan = df.queryExecution.executedPlan.toString
    // the injected Z-range cover reached the parquet scan...
    assert(plan.contains("PushedFilters: [Or("), plan.take(2000))
    // ...and the exact conjunct SURVIVES (the cover over-scans by design;
    // dropping the exact test would leak out-of-bbox rows)
    assert(plan.contains("st_centroid_in_bbox"), plan.take(2000))
  }

  test("st_centroid_in_bbox: null geometry propagates null; boundary is inclusive") {
    val r = spark.sql(
      """SELECT st_centroid_in_bbox(CAST(NULL AS STRING), 0.0, 0.0, 1.0, 1.0) AS a,
        |       st_centroid_in_bbox('POINT (1 1)', 0.0, 0.0, 1.0, 1.0) AS b,
        |       st_centroid_in_bbox('POINT (1.1 1)', 0.0, 0.0, 1.0, 1.0) AS c,
        |       st_centroid_in_bbox('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', 0.5, 0.5, 1.5, 1.5) AS d
        |""".stripMargin).collect().head
    assert(r.isNullAt(0))
    assert(r.getBoolean(1))  // inclusive max edge
    assert(!r.getBoolean(2))
    assert(r.getBoolean(3))  // polygon centroid (1,1) inside bbox
  }

  test("in_tile with non-literal coords still evaluates (interpreted fallback)") {
    import graft.queries.Spatial
    val stored = Spatial.featuresStored(spark, Sf)
    stored.createOrReplaceTempView("features_stored2")
    val df = spark.sql(
      """SELECT COUNT(*) AS n FROM features_stored2
        |WHERE in_tile(hash, 9, CAST(hash % 512 AS INT), CAST(hash % 512 AS INT))""".stripMargin)
    assert(df.collect().head.getLong(0) >= 0) // no exception = fallback works
  }
}
