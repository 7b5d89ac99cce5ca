package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.core.{GeoHash, WebMercator}

/** SQL-surface registration of the engine's spatial functions.
  *
  * Two equivalent entry points share one definition table:
  *  - [[GraftExtensions]] for `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (the production path — functions exist in every session of the
  *    context);
  *  - [[GraftFunctions.register]] for an already-running session (tests,
  *    notebooks).
  *
  * `zcurve_hash` is the native codegen'd [[MortonHashExpr]]; the rest are
  * scalar helpers where a plain UDF is adequate (not on any pruning path).
  */
object GraftFunctions {

  /** Arity guard for the SQL builders: a wrong-arity call must surface as a
    * proper analysis-time error naming the function, not an
    * IndexOutOfBoundsException from inside the builder.
    */
  private def arity2(name: String)(build: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> "2",
          "actualNum" -> children.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    build(children(0), children(1))
  }

  /** Native-expression functions: name -> (info, builder). */
  val expressions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("zcurve_hash"),
      new ExpressionInfo(classOf[MortonHashExpr].getName, null, "zcurve_hash",
        "zcurve_hash(lon, lat) - 64-bit Morton (Z-order) hash of a WGS84 point.",
        "", "", "", "", "", "", "scala_udf"),
      arity2("zcurve_hash")(MortonHashExpr(_, _))),
    (FunctionIdentifier("in_tile"),
      new ExpressionInfo(classOf[InTileExpr].getName, "in_tile"),
      (children: Seq[Expression]) => InTileExpr(children)),
    (FunctionIdentifier("st_centroid_in_bbox"),
      new ExpressionInfo(classOf[StCentroidInBbox].getName, "st_centroid_in_bbox"),
      (children: Seq[Expression]) => StCentroidInBbox(children)),
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimExpr].getName, null, "cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two float vectors.",
        "", "", "", "", "", "", "scala_udf"),
      arity2("cosine_sim")(CosineSimExpr(_, _))),
    (FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotProductExpr].getName, null, "dot_f",
        "dot_f(a, b) - dot product of two float vectors.",
        "", "", "", "", "", "", "scala_udf"),
      arity2("dot_f")(DotProductExpr(_, _))))

  /** Register everything on a live session. */
  def register(spark: SparkSession): Unit = {
    expressions.foreach { case (ident, info, builder) =>
      org.apache.spark.sql.GraftBridge.registerFunction(spark, ident, info, builder)
    }
    Seq(TilePredicateRewrite, SpatialPredicateRewrite).foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ r
    }
    HashRangePushdown.register(spark)
    spark.udf.register("haversine_km",
      (lat1: Double, lon1: Double, lat2: Double, lon2: Double) =>
        WebMercator.haversineKm(lat1, lon1, lat2, lon2))
    spark.udf.register("tile_x", (lon: Double, z: Int) => WebMercator.tileX(lon, z))
    spark.udf.register("tile_y", (lat: Double, z: Int) => WebMercator.tileY(lat, z))
    spark.udf.register("geohash_encode",
      (lat: Double, lon: Double, precision: Int) => GeoHash.encode(lat, lon, precision))
    // curation kernels (operators.Kernels) — the per-doc tight-loop surface.
    // NULL inputs propagate null (Option return / explicit guards): Spark
    // does NOT null-check reference-typed UDF params for us
    import graft.operators.Kernels
    spark.udf.register("simhash64",
      (t: String) => Option(t).map(Kernels.simHash64))
    spark.udf.register("winnow_fps",
      (t: String, k: Int, w: Int) => Kernels.winnowFps(t, k, w))
    spark.udf.register("minhash_sig",
      (shs: Seq[String], n: Int) =>
        if (shs == null) null else Kernels.minHashSig(shs.toArray, n))
    spark.udf.register("token_counts",
      (t: String, minLen: Int) => Kernels.tokenCounts(t, minLen))
    spark.udf.register("tri_stats", (t: String) => Kernels.triStats(t))
    spark.udf.register("quantize_int8",
      (v: Seq[Float]) => if (v == null) null else Kernels.quantizeInt8(v.toArray))
  }
}

/** `spark.sql.extensions` entry point injecting the native expressions,
  * the two spatial lowering rules ([[TilePredicateRewrite]],
  * [[SpatialPredicateRewrite]]), which emit a [[HashInRanges]], and the
  * [[HashRangePushdown]] strategy that hands its hash ranges to the
  * parquet scan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.expressions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    ext.injectOptimizerRule(_ => TilePredicateRewrite)
    ext.injectOptimizerRule(_ => SpatialPredicateRewrite)
    ext.injectPlannerStrategy(_ => HashRangePushdown)
  }
}
