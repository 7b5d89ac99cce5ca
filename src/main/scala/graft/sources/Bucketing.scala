package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout for co-located joins — the shuffle-elimination
  * path for the biggest recurring joins at 100 TB (orders ⋈ lineitem,
  * documents ⋈ embeddings): both sides hash-bucketed on the join key at
  * write time join WITHOUT an Exchange on either side; only the bucket-local
  * sort remains. The bucket count is fixed at write time and should be
  * sized so one bucket of the larger table fits an executor core's share
  * (e.g. 100 TB lineitem at 512 MB/bucket-file ≈ 2^between 14 and 18
  * buckets; testdata uses 8).
  */
object Bucketing {

  /** Write a DataFrame as a bucketed+sorted managed table (idempotent:
    * drops any previous MANAGED table AND its leftover location first).
    *
    * An existing EXTERNAL table is REFUSED by default: its location is
    * caller-owned — often the shared source-data directory the table was
    * registered over — and deleting it would destroy data the catalog never
    * managed (`DROP TABLE` alone preserves an external table's files).
    * Pass `replaceExternal = true` only when the external location really
    * is disposable; the table is then dropped, its location deleted, and
    * the bucketed table written to the catalog's default managed path.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int = 8, replaceExternal: Boolean = false): Unit = {
    val spark = df.sparkSession
    if (org.apache.spark.sql.GraftBridge.isExternalTable(spark, table) &&
        !replaceExternal)
      throw new IllegalArgumentException(
        s"writeBucketed: '$table' is an EXTERNAL table — refusing to delete " +
          "its caller-owned location (likely shared source data). Either " +
          "DROP TABLE it yourself (preserves the files) and re-call, or pass " +
          "replaceExternal=true to destroy the location too.")
    // resolve the REAL location from the catalog (before the drop, so an
    // existing table's custom location is honored) — a reconstructed
    // <warehouse>/<db>.db/<table> guess misses databases created with a
    // custom LOCATION and breaks on catalog-qualified names
    val loc = new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.GraftBridge.tableLocation(spark, table))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** The table's declared bucket count from the catalog (None when the
    * DESCRIBE output carries no bucket spec) — the `attach()` verbs
    * validate against it: an attach with the wrong count would write
    * layout-incompatible append segments and silently corrupt the
    * no-exchange probe plan.
    */
  def bucketCountOf(spark: SparkSession, table: String): Option[Int] =
    spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .find(r => r.getString(0).trim.equalsIgnoreCase("Num Buckets"))
      .flatMap(r => scala.util.Try(r.getString(1).trim.toInt).toOption)

  /** attach()-side layout validation, shared by every history store: the
    * table MUST carry a parseable bucket spec equal to `expected`. A
    * MISSING spec fails just as loudly as a mismatched one — an
    * unbucketed (or catalog-drifted) table would silently accept
    * bucket-incompatible append segments, which is exactly the corruption
    * this check exists to block.
    */
  def requireBuckets(spark: SparkSession, table: String, expected: Int,
                     who: String): Unit = {
    val n = bucketCountOf(spark, table).getOrElse(
      throw new IllegalStateException(
        s"$who: table $table carries no parseable bucket spec — it is not " +
          "the bucketed layout appends require (unbucketed or " +
          "catalog-drifted); recreate the store"))
    require(n == expected,
      s"$who: table $table was created with $n buckets, attach got " +
        s"$expected - appends would corrupt the layout")
  }

  /** The [[MutationGuard]] anchor for a table's mutating verbs: the
    * resolved table location string — a warehouse path derived from the
    * table NAME, so the `<base>_lease_e<epoch>` files live beside the
    * table dir and survive the drop/rename inside [[compactDistinct]].
    */
  def guardBase(spark: SparkSession, table: String): String =
    new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.GraftBridge.tableLocation(spark, table)).toString

  /** Sibling-table-then-rename compaction for a bucketed history table —
    * the ONE definition of the choreography every history store's
    * compaction runs ([[BucketedStore.compact]]): rewrite the table to its
    * DISTINCT keys (or rows) as one bucketed segment in a `_compact`
    * sibling (the store table stays readable until the distinct result is
    * fully materialized), then drop the original — location included; a
    * plain DROP can orphan files under a custom location — and rename the
    * sibling in, preserving the bucket layout and thus the no-exchange
    * probe plan.
    *
    * CONCURRENCY CONTRACT — single mutating writer (the [[SwapDir]]
    * contract): an append committing between the distinct read and the
    * DROP is destroyed with the original table. The store verbs enforce
    * this by running under [[MutationGuard]] anchored at [[guardBase]];
    * reads are safe except in the drop+rename window, whose residue is a
    * missing table — loud, never silently wrong.
    */
  def compactDistinct(spark: SparkSession, table: String, key: String,
                      buckets: Int, replaceExternal: Boolean = false,
                      allColumns: Boolean = false): Unit = {
    // Same EXTERNAL-table refusal as writeBucketed, and checked FIRST:
    // DROP TABLE alone would preserve an external table's caller-owned
    // files, but the explicit location delete below would then destroy
    // them — e.g. a history table attached over a shared metastore path.
    if (org.apache.spark.sql.GraftBridge.isExternalTable(spark, table) &&
        !replaceExternal)
      throw new IllegalArgumentException(
        s"compactDistinct: '$table' is an EXTERNAL table — refusing to " +
          "delete its caller-owned location. Re-register it as a managed " +
          "table, or pass replaceExternal=true if the location really is " +
          "disposable.")
    val tmp = table + "_compact"
    // allColumns: stores whose rows carry a payload beside the bucket key
    // (e.g. PhashHistory's (bk, id, fp)) dedupe whole ROWS; the key-only
    // projection is the single-column membership-store form
    val distinctRows =
      if (allColumns) spark.table(table).distinct()
      else spark.table(table).select(key).distinct()
    writeBucketed(distinctRows, tmp, key, buckets)
    val loc = new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.GraftBridge.tableLocation(spark, table))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table"): Unit
  }

  /** Plain-parquet read of a bucketed table's files — the PROBE-side scan
    * for broadcast-semi consumers. A bucketed table scan is pinned to one
    * partition per bucket, which caps a pure membership scan at
    * `buckets`-way parallelism (8 tasks over a 100×-grown store on a
    * 32-core box — measured as the dominant gram-probe cost once the
    * store-side sort was gone); reading the same files as plain parquet
    * restores size-based splits. Layout-free by design: only valid where
    * the consumer does NOT rely on bucket co-location (broadcast probes,
    * full-scan aggregations) — co-located joins must keep
    * `spark.table(...)`. Schema is pinned from the catalog so an empty
    * store (no part files yet) still reads as an empty relation instead
    * of failing schema inference.
    */
  def probeScan(spark: SparkSession, table: String): DataFrame =
    probeScan(spark, table, None)

  /** [[probeScan]] restricted to a set of TABLE BUCKETS: only those
    * buckets' part files are read (Spark writers encode the bucket id in
    * the file name — `part-…_NNNNN.…`), so a probe whose candidate keys
    * map to k of n buckets scans k/n of the store's bytes. Sound because
    * a key can only live in its own bucket (`pmod(murmur3(key), n)` — the
    * routing `bucketBy` applied at write time; the layout gate in
    * GramHistorySpec pins the convention): rows outside the candidate
    * buckets cannot match any candidate key. A file whose name carries no
    * parseable bucket id is INCLUDED regardless (foreign files can only
    * add rows to a membership semi-join, never lose them). `Some(empty)`
    * reads nothing.
    */
  def probeScan(spark: SparkSession, table: String,
                bucketIds: Option[Set[Int]]): DataFrame = {
    val schema = spark.table(table).schema
    val loc = new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.GraftBridge.tableLocation(spark, table))
    bucketIds match {
      case None => spark.read.schema(schema).parquet(loc.toString)
      case Some(bids) =>
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files = fs.listStatus(loc).iterator
          .filter(_.isFile)
          .map(_.getPath.toString)
          .filterNot { p =>
            val name = p.substring(p.lastIndexOf('/') + 1)
            name.startsWith("_") || name.startsWith(".")
          }
          .filter(p => bucketIdOfFile(p).forall(bids.contains))
          .toSeq
        if (files.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else spark.read.schema(schema).parquet(files: _*)
    }
  }

  /** The bucket id encoded in a Spark bucketed part-file name
    * (`part-…_NNNNN.c000…` — the LAST `_ddddd.` group), or None when the
    * name carries none.
    */
  private[graft] def bucketIdOfFile(path: String): Option[Int] = {
    val m = BucketFilePattern.findAllMatchIn(path).toSeq.lastOption
    m.map(_.group(1).toInt)
  }

  private val BucketFilePattern = """_(\d{5})\.""".r

  /** Join two same-bucket-count tables on their bucket key; with bucketing
    * enabled (default) Catalyst plans a SortMergeJoin with NO Exchange.
    */
  def coLocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                    leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** Z-order clustered write over TWO numeric columns (the plain-parquet
    * analog of Delta's OPTIMIZE ZORDER BY): each column is binned by its
    * approximate quantiles, the bin indices are Morton-interleaved, and the
    * data is range-partitioned + sorted by the z value. Every output file
    * (and row group) then covers a narrow quad of (c1, c2) space, so the
    * parquet reader's row-group min/max pruning — and any stats-aware table
    * format on top — skips data for filters on EITHER column. The layout
    * answer when a table has two selective access paths and a plain sort
    * can serve only one.
    *
    * Scale posture: the only driver-side state is the 2·2^bits quantile
    * cuts (an approx sketch aggregation, not a sort); the write itself is
    * one range exchange + partition-local sort — the same cost as any
    * sorted write.
    */
  def zorderWrite(df: DataFrame, c1: String, c2: String, path: String,
                  files: Int = 8, bits: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    require(bits >= 1 && bits <= 16,
      s"bits=$bits: the Morton interleave covers the low 16 bits per dim")
    val nBins = 1 << bits
    val probes = (1 until nBins).map(_.toDouble / nBins).toArray
    // one sketch pass computes both columns' cuts
    val Array(cuts1, cuts2) =
      df.stat.approxQuantile(Array(c1, c2), probes, 0.001)
    // fully codegen'd z column: native bin lookup (QuantileBinExpr) into the
    // native interleave (MortonHashExpr) — no interpreted UDF on the write path
    def bin(cuts: Array[Double], c: org.apache.spark.sql.Column) = {
      import org.apache.spark.sql.GraftBridge
      GraftBridge.column(graft.functions.QuantileBinExpr(
        GraftBridge.expression(c), cuts))
    }
    val z = graft.functions.GeoColumns.mortonHash(
      bin(cuts1, col(c1).cast("double")),
      bin(cuts2, col(c2).cast("double")), bits)
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
