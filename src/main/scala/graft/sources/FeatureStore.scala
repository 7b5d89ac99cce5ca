package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.tiles.GeomUdfs

/** Feature ingest + storage: the Spark-native reproduction of the reference's
  * write path and CRUD surface (SURVEY.md §1.2-§1.3, §2.4):
  *
  *  - GeoJSON FeatureCollection and NDJSON readers (A2/A3).
  *  - The §1.3 lenient coercion matrix with tank's defaults: missing
  *    property → type default; string in an int field or unparseable number →
  *    the row goes to the DEAD-LETTER output with its original JSON (the
  *    Exhauster channel, Tyler.kt:152-169 / Exhauster.kt:28-40), never into
  *    the table.
  *  - Key assignment (I4): uid from the feature id (deterministic md5-uuid
  *    when absent — deviation from tank's random UUID, for replayability),
  *    Morton `hash` of the geometry centroid at hashLevel, ingest timestamp.
  *  - Storage layout designed for the 100 TB path: rows range-partitioned
  *    and sorted by `hash`, so every parquet file covers a narrow Morton
  *    range and tile reads prune on file-level min/max statistics — the
  *    moral equivalent of tank's Cassandra partition key.
  *  - CRUD (A4-A6) + Z-range tile delete (A8) as copy-on-write snapshot
  *    rewrites (the plain-parquet analog of Delta DELETE/MERGE).
  *
  * Attr types supported: int | double | text | date (application.conf:44-54
  * semantics; `timestamp`/`uuid` are engine-assigned reserved columns).
  */
object FeatureStore {

  final case class AttrField(name: String, typ: String)

  final case class StoreConfig(
      path: String,
      attrs: Seq[AttrField],
      hashLevel: Int = 13,
      targetFileRows: Int = 4 * 1000 * 1000,
      ingestTime: String = "2026-01-01 00:00:00",
      exhausterUrl: Option[String] = None,
      // writer-lease knobs: how long a second writer waits for the lease
      // before failing loudly, and how stale a lease must be before it is
      // considered abandoned and stealable. Size leaseWaitMillis to cover
      // the longest co-scheduled mutation — e.g. a streaming sink appending
      // while a maintenance compact() runs needs waits that outlast the
      // compaction (or compaction scheduled in quiet windows), else the
      // blocked append fails loudly and the streaming query with it.
      // leaseTornGraceMillis: how old a TORN lease file (created, content
      // never written) must be before it is treated as a crashed — not
      // in-flight — creator; it compares the local clock to the filesystem
      // mtime clock, so keep it well above any cross-clock skew
      leaseWaitMillis: Long = 30 * 1000L,
      leaseTtlMillis: Long = 10 * 60 * 1000L,
      leaseTornGraceMillis: Long = 10 * 1000L)

  /** Columns every feature row carries besides user attrs. */
  private val Reserved = Seq("hash", "uid", "timestamp", "geometry")

  // ------------------------------------------------------------- readers

  /** NDJSON: one GeoJSON feature per line (A3 `geojson=false`). */
  def readNdjson(spark: SparkSession, path: String, cfg: StoreConfig): Ingested =
    ingest(spark.read.text(path).select(col("value").as("raw")), cfg)

  /** Streaming NDJSON ingest (A3's true streaming twin, replacing the
    * reference's poll-dir + `.lock`-rename runner, FileWaitGroup.kt:19-73):
    * the file source tracks processed files in the checkpoint (exactly-once),
    * `maxFilesPerTrigger` bounds ingest concurrency like tank's 2-runner cap,
    * and every microbatch appends BOTH outputs — coerced rows into the
    * hash-sorted store, dead-letter rows with their original JSON.
    * Returns the started query (await/stop is the caller's business).
    */
  def startIngestStream(spark: SparkSession, srcDir: String, cfg: StoreConfig,
                        checkpoint: String,
                        maxFilesPerTrigger: Int = 2,
                        onTouched: Iterable[Int] => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(srcDir)
      .select(col("value").as("raw"))
    ingestStream(raw, cfg, checkpoint, onTouched)
  }

  /** foreachBatch split-sink for an already-built raw feature stream.
    *
    * Replay semantics: a restarted query re-invokes the last uncommitted
    * batchId; the per-batch marker file makes the re-run a no-op, so a
    * replay after a completed batch never duplicates rows. The residual
    * window is a crash BETWEEN the appends and the marker write (same
    * at-least-once boundary as any non-transactional two-sink foreachBatch
    * — full exactly-once across two sinks needs a table format).
    *
    * `onTouched` fires after each committed batch with the batch's distinct
    * Morton cells (bounded: cells, not rows) — the hook a co-located
    * serving layer uses for precise tile-cache invalidation
    * ([[graft.server.TankServer.startIngestStream]]). It is skipped for
    * marker-deduped replays: the only way to reach one is a restart, and
    * the in-memory cache the hook feeds died with the process anyway.
    */
  def ingestStream(raw: DataFrame, cfg: StoreConfig,
                   checkpoint: String,
                   onTouched: Iterable[Int] => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val marker = new org.apache.hadoop.fs.Path(
          s"${cfg.path}_batches/$batchId")
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker)) {
          val r = ingest(batch, cfg)
          // manifest-committed append: concurrent tile readers see the batch
          // atomically or not at all
          val good = r.good.sortWithinPartitions("hash")
          append(good, cfg)
          val rej = r.rejected
          if (!rej.isEmpty) writeRejected(rej, cfg)
          fs.create(marker, true).close()
          onTouched(good.select(col("hash")).distinct().collect()
            .map(_.getInt(0)).toSeq)
        }
      }
      .start()

  /** One whole FeatureCollection document (A3 `geojson=true`). The features
    * array is split with Jackson on the driver (the reference's own
    * whole-file import loop, Tyler.kt:49-58) — NOT via Spark JSON schema
    * inference, which would unify property types ACROSS features (one
    * string-typed value stringifies the column for every feature, mass
    * dead-lettering valid rows) and re-serialize `raw`, changing derived
    * md5 uids vs NDJSON ingest of the identical features.
    *
    * The parse is an INCREMENTAL Jackson `JsonParser` walk: the driver holds
    * one feature tree at a time (never the document tree, never the file
    * text), spilling features to a temp NDJSON file that the distributed
    * [[readNdjson]] path then ingests — a multi-GB collection streams
    * through bounded driver memory. Feature serialization is
    * `JsonNode.toString` per feature, identical to the NDJSON path's raw
    * lines for the same canonical text, so derived md5 uids match.
    */
  def readFeatureCollection(spark: SparkSession, path: String, cfg: StoreConfig): Ingested = {
    val src = new org.apache.hadoop.fs.Path(path)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inputs: Seq[org.apache.hadoop.fs.Path] =
      if (fs.getFileStatus(src).isDirectory)
        fs.listStatus(src).filter(_.isFile).map(_.getPath).sortBy(_.getName).toIndexedSeq
      else Seq(src)
    // temp NDJSON lives next to the store when configured, else next to the
    // source document (unique name per call — concurrent imports don't race)
    val tmpBase = if (cfg.path.nonEmpty) new org.apache.hadoop.fs.Path(cfg.path).getParent
      else src.getParent
    val tmpDir = new org.apache.hadoop.fs.Path(tmpBase,
      s"_fc_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = fs.create(new org.apache.hadoop.fs.Path(tmpDir, "features.ndjson"), true)
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8))
    try {
      var sawFeatures = false
      inputs.foreach { in =>
        val parser = mapper.getFactory.createParser(
          new java.io.InputStreamReader(fs.open(in), java.nio.charset.StandardCharsets.UTF_8))
        try {
          import com.fasterxml.jackson.core.JsonToken
          if (parser.nextToken() != JsonToken.START_OBJECT)
            throw new IllegalArgumentException("not a FeatureCollection")
          var done = false
          while (!done) {
            parser.nextToken() match {
              case JsonToken.FIELD_NAME if parser.currentName == "features" =>
                if (parser.nextToken() != JsonToken.START_ARRAY)
                  throw new IllegalArgumentException("not a FeatureCollection")
                sawFeatures = true
                while (parser.nextToken() != JsonToken.END_ARRAY) {
                  val feat: com.fasterxml.jackson.databind.JsonNode =
                    mapper.readTree(parser)
                  w.write(feat.toString)
                  w.newLine()
                }
              case JsonToken.FIELD_NAME =>
                parser.nextToken() // value of an uninteresting top-level field
                parser.skipChildren()
              case JsonToken.END_OBJECT | null => done = true
              case _ => ()
            }
          }
        } finally parser.close()
      }
      if (!sawFeatures)
        throw new IllegalArgumentException("not a FeatureCollection")
      w.close()
      // the temp file backs LAZY DataFrames; materialize both outputs so the
      // temp can be deleted before returning (results bounded by the
      // ingested rows, not the source document; executor-loss-safe when a
      // checkpoint dir is configured — see graft.util.Materialize)
      val ing = readNdjson(spark, new org.apache.hadoop.fs.Path(tmpDir, "features.ndjson").toString, cfg)
      val res = Ingested(graft.util.Materialize.eager(ing.good),
        graft.util.Materialize.eager(ing.rejected))
      fs.delete(tmpDir, true)
      res
    } catch {
      case e: Throwable =>
        try { w.close() } catch { case _: Exception => () }
        fs.delete(tmpDir, true)
        throw e
    }
  }

  /** Ingest result: coerced rows ready to write + dead-letter rows. */
  final case class Ingested(good: DataFrame, rejected: DataFrame)

  /** The coercion matrix over raw feature-JSON rows (column `raw`). */
  def ingest(raw: DataFrame, cfg: StoreConfig): Ingested = {
    val geomWkt = udf((g: String) => GeoJson.toWkt(g))
    val hashUdf = udf((wkt: String) => GeomUdfs.centroidHash(wkt, cfg.hashLevel))

    val attrNames = cfg.attrs.map(_.name)
    val propsU = udf((p: String) => PropsParser.parse(p, attrNames))
    var df = raw
      .withColumn("_geomjson", get_json_object(col("raw"), "$.geometry"))
      .withColumn("_props", get_json_object(col("raw"), "$.properties"))
      .withColumn("_id", get_json_object(col("raw"), "$.id"))
      .withColumn("geometry", geomWkt(col("_geomjson")))
      // ONE real JSON parse per row yields every attr's raw text + its
      // was-a-JSON-string flag. (A regex probe over the properties text
      // would false-positive on nested objects containing the same key,
      // and per-attr get_json_object re-parses the JSON per call.)
      .withColumn("_propvals", propsU(col("_props")))

    // per-attr: raw JSON text of the property (null if absent), plus the
    // string flag — tank's coercion is type-directed on the parsed JSON
    // value (Tyler.kt:75-116)
    val attrChecks: Seq[(Column, Column)] = cfg.attrs.map { a =>
      val entry = col("_propvals").getItem(a.name)
      val v = entry.getItem(0)
      val wasString = entry.getItem(1) === "1"
      val (coerced, bad) = a.typ match {
        case "int" =>
          // accepts integral JSON numbers only (IntValue, Tyler.kt:76);
          // strings and non-integral numbers dead-letter
          (coalesce(try_cast_long(v), lit(0L)).cast("int"),
            v.isNotNull && (wasString || try_cast_long(v).isNull))
        case "double" =>
          // accepts numbers and numeric strings (Tyler.kt:77-87)
          (coalesce(try_cast_double(v), lit(0.0)),
            v.isNotNull && try_cast_double(v).isNull)
        case "date" =>
          // parsed from the NAMED property (deviation D3: tank hard-codes
          // `img_date`, Tyler.kt:100-102); default 1970-01-01 (Tyler.kt:111)
          (coalesce(try_to_date_col(v), to_date(lit("1970-01-01"))),
            v.isNotNull && try_to_date_col(v).isNull)
        case _ => // text: lenient from any scalar, default ""
          (coalesce(v, lit("")), lit(false))
      }
      df = df.withColumn(a.name, coerced).withColumn(s"_bad_${a.name}", bad)
      (coerced, bad)
    }

    val anyBad = (col("geometry").isNull +: attrChecks.map(_._2))
      .reduce(_ || _)
    val withFlags = df.withColumn("_rejected", anyBad)

    val good = withFlags.filter(!col("_rejected"))
      .withColumn("uid",
        coalesce(col("_id"),
          // deterministic uuid-shaped id from the feature body
          concat_ws("-",
            substring(md5(col("raw")), 1, 8), substring(md5(col("raw")), 9, 4),
            substring(md5(col("raw")), 13, 4), substring(md5(col("raw")), 17, 4),
            substring(md5(col("raw")), 21, 12))))
      .withColumn("hash", hashUdf(col("geometry")))
      .withColumn("timestamp", to_timestamp(lit(cfg.ingestTime)))
      .select((Reserved.map(col) ++ cfg.attrs.map(a => col(a.name))): _*)

    val rejected = withFlags.filter(col("_rejected")).select(col("raw"))
    Ingested(good, rejected)
  }

  /** Executor-side single-parse property extractor: attr name ->
    * (raw text matching get_json_object semantics — unquoted for strings,
    * JSON text otherwise — and a "1"/"0" was-a-JSON-string flag).
    * Malformed / non-object properties yield no entries (every present
    * attr then reads null, exactly like the per-path probes did).
    */
  private object PropsParser extends Serializable {
    @transient private lazy val mapper =
      new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(props: String, names: Seq[String]): Map[String, Seq[String]] = {
      if (props == null) return Map.empty
      val node =
        try mapper.readTree(props)
        catch { case _: Exception => return Map.empty }
      if (node == null || !node.isObject) return Map.empty
      names.flatMap { n =>
        Option(node.get(n)).map { v =>
          val text = if (v.isTextual) v.textValue else v.toString
          n -> Seq(text, if (v.isTextual) "1" else "0")
        }
      }.toMap
    }
  }

  // try_* helpers (ANSI-safe lenient casts)
  private def try_cast_long(c: Column): Column = c.try_cast("long")
  private def try_cast_double(c: Column): Column = c.try_cast("double")
  private def try_to_date_col(c: Column): Column = try_to_timestamp(c).cast("date")

  // ------------------------------------------------------------- storage

  /** Writer lease — enforces the store's single-writer contract instead of
    * merely documenting it. Every mutating path (append / write / compact /
    * CRUD rewrite) holds the lease from its first probe to its manifest
    * commit, so two writers can no longer interleave probe→rewrite work and
    * then race the commit: the second writer fails LOUDLY at acquire (after
    * a bounded wait), not with a confusing mid-write FileNotFound.
    *
    * Mechanics: epoch-NAMED lease files, `<path>_lease_e<epoch>`, the same
    * scheme as the `m_<n>` manifests. The CURRENT lease is the highest
    * epoch; its content (`holder expiresAt`) says who holds it and until
    * when. Acquiring epoch e+1 is ONE `create(overwrite=false)` — atomic
    * winner, no delete-then-create window, so two concurrent stealers of an
    * expired lease can never both win (the loser's create throws and it
    * re-reads e+1 as the new valid lease). A lease past its TTL — or one
    * whose content is torn/unreadable (a creator that crashed mid-write;
    * the epoch still reads from the NAME, so a torn file can never wedge
    * the store) — is considered abandoned and stealable at the next epoch.
    * A slow writer that outlives its TTL and gets stolen from fails loudly
    * at commit time: [[Manifests.commit]] re-reads the current lease and
    * requires (epoch, holder) unchanged before any destructive step,
    * leaving the store on the thief's snapshot, never on a torn one.
    * Stale epoch files below the current one are dead by construction and
    * swept on acquire.
    */
  private[sources] object Lease {
    final case class Token(epoch: Long, holder: String)

    private def leaseDirGlob(cfg: StoreConfig) =
      new org.apache.hadoop.fs.Path(cfg.path + "_lease_e*")

    private def path(cfg: StoreConfig, epoch: Long) =
      new org.apache.hadoop.fs.Path(cfg.path + s"_lease_e$epoch")

    private def epochOf(p: org.apache.hadoop.fs.Path): Long =
      p.getName.substring(p.getName.lastIndexOf("_e") + 2).toLong

    /** All lease files, ascending epoch. */
    private def listLeases(fs: org.apache.hadoop.fs.FileSystem,
                           cfg: StoreConfig): Seq[org.apache.hadoop.fs.Path] =
      Option(fs.globStatus(leaseDirGlob(cfg))).getOrElse(Array.empty)
        .map(_.getPath).filter(_.getName.matches(".*_e\\d+$"))
        .sortBy(epochOf).toIndexedSeq

    /** Release marker for an epoch: EXISTENCE is the signal (content
      * irrelevant), so releasing is one atomic create — no truncate-rewrite
      * window that could leave the current lease file torn mid-release.
      * The name deliberately fails [[listLeases]]' `_e\d+$` filter.
      */
    private def releasedMarker(cfg: StoreConfig, epoch: Long) =
      new org.apache.hadoop.fs.Path(cfg.path + s"_lease_e${epoch}_released")

    private final case class LeaseFile(epoch: Long, mtime: Long,
                                       released: Boolean,
                                       content: Option[(String, Long)])

    /** The highest-epoch lease; `content` is None when torn (crashed or
      * in-flight creator) — the epoch always reads from the file NAME.
      */
    private def current(fs: org.apache.hadoop.fs.FileSystem,
                        cfg: StoreConfig): Option[LeaseFile] =
      listLeases(fs, cfg).lastOption.map { p =>
        val content =
          try {
            val in = fs.open(p)
            val line =
              try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
                .find(_.nonEmpty).getOrElse("")
              finally in.close()
            line.split("\\s+") match {
              case Array(h, x) => Some((h, x.toLong))
              case _ => None // torn: empty or partial content
            }
          } catch {
            case _: java.io.IOException | _: NumberFormatException => None
          }
        // unreadable mtime reads as FRESH (now), not ancient: the fallback
        // decides whether a torn lease is instantly stealable, and the safe
        // error is delaying a steal by the grace, not re-opening the
        // instant-steal race on an in-flight creator
        val mtime =
          try fs.getFileStatus(p).getModificationTime
          catch { case _: java.io.IOException => System.currentTimeMillis }
        val released =
          try fs.exists(releasedMarker(cfg, epochOf(p)))
          catch { case _: java.io.IOException => false }
        LeaseFile(epochOf(p), mtime, released, content)
      }

    /** STRICT fencing predicate ([[verify]] / commit-time): (epoch, holder)
      * must be the current lease, content readable, not released.
      */
    private def holds(fs: org.apache.hadoop.fs.FileSystem, cfg: StoreConfig,
                      epoch: Long, holder: String): Boolean =
      current(fs, cfg).exists(l =>
        l.epoch == epoch && !l.released && l.content.exists(_._1 == holder))

    /** TOLERANT ownership predicate for acquire-time self-checks: an epoch
      * file can only ever be created ONCE (create-no-overwrite; tombstoned
      * epochs are never reused), so if the current epoch is the one WE just
      * created, the file is ours even when its content reads torn — a
      * transient content-read failure must not make a winner delete its own
      * valid lease and churn epochs. (If our content write genuinely tore,
      * we hold a torn lease: others grace-wait on it and our own commit
      * fence will fail loudly — degraded, never silent.)
      */
    private def ownsEpoch(fs: org.apache.hadoop.fs.FileSystem, cfg: StoreConfig,
                          epoch: Long, holder: String): Boolean =
      current(fs, cfg).exists(l =>
        l.epoch == epoch && l.content.forall(_._1 == holder))

    /** Verify-time torn-read fallback: epoch identity AND not released.
      * Unlike [[ownsEpoch]] (acquire-time, where the creator has not
      * released yet by construction), verify must honor the `_released`
      * marker — a holder that already released keeps epoch identity until
      * a successor acquires, so without this check a use-after-release
      * commit would silently succeed and race the next acquirer (release
      * makes the lease immediately stealable). The marker is a separate
      * atomic create, unaffected by torn lease-file content, so checking
      * it here costs nothing in torn-read tolerance.
      */
    private def ownsLiveEpoch(fs: org.apache.hadoop.fs.FileSystem,
                              cfg: StoreConfig,
                              epoch: Long, holder: String): Boolean =
      current(fs, cfg).exists(l =>
        l.epoch == epoch && !l.released && l.content.forall(_._1 == holder))

    /** Take the lease, waiting up to `cfg.leaseWaitMillis` for the current
      * holder; released, expired — and torn-past-grace — leases are stolen
      * at the next epoch.
      */
    def acquire(fs: org.apache.hadoop.fs.FileSystem, cfg: StoreConfig): Token = {
      val deadline = System.currentTimeMillis + math.max(cfg.leaseWaitMillis, 0L)
      var blocker = "none" // what the last attempt saw, for the error message
      while (true) {
        val now = System.currentTimeMillis
        val cur = current(fs, cfg)
        val takeable = cur match {
          case None => true
          case Some(l) if l.released => true // holder finished; marker is atomic
          case Some(LeaseFile(epoch, _, _, Some((holder, expiresAt)))) =>
            if (expiresAt >= now) { blocker = s"holder $holder (epoch $epoch)"; false }
            else true // expired: crashed holder, stealable
          case Some(LeaseFile(epoch, mtime, _, None)) =>
            // torn content: only steal once the grace says it is a CRASHED
            // creator, not one mid-write — instant stealing would let the
            // creator's own post-create confirmation and the thief both win
            if (now - mtime <= cfg.leaseTornGraceMillis) {
              blocker = s"epoch $epoch mid-creation (torn, within grace)"; false
            } else true
        }
        if (takeable) {
          // race to CREATE the next epoch — exactly one concurrent
          // acquirer wins; nothing is deleted on this path, so a loser can
          // never remove a winner's valid lease
          val epoch = cur.map(_.epoch).getOrElse(0L) + 1
          val holder = java.util.UUID.randomUUID().toString
          var created = false
          try {
            val out = fs.create(path(cfg, epoch), false)
            try out.write(
              s"$holder ${now + cfg.leaseTtlMillis}".getBytes("UTF-8"))
            finally out.close()
            created = true
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                 _: java.nio.file.FileAlreadyExistsException =>
              // a racing creator won this epoch — unambiguous loss, and we
              // must NOT touch the file (it is the winner's live lease)
              blocker = s"epoch $epoch taken by a racing writer"
            case e: java.io.IOException =>
              // ambiguous: the CREATE may have succeeded with the failure
              // landing on write/close. Claim the epoch ONLY on STRICT
              // affirmative evidence — our holder readable in the current
              // epoch's content. The tolerant torn-counts-as-ours predicate
              // is WRONG here: on an FS signalling create-exists as a plain
              // IOException, a torn file at this epoch may be a RACER
              // mid-write, and claiming it would later delete their live
              // lease and reuse the epoch. Failing strict, do no cleanup
              // either (our possible torn debris is stolen past the
              // bounded grace; deleting a racer's lease is far worse).
              if (try holds(fs, cfg, epoch, holder)
                  catch { case _: java.io.IOException => false }) {
                created = true
              } else {
                blocker = s"lease-file create failing (${e.getMessage})"
              }
          }
          // post-create work runs OUTSIDE the create try-block: a transient
          // failure here must not read as "create failed" and abandon a
          // valid on-disk lease (which would block every writer for a TTL)
          if (created) {
            // tolerant self-check: our epoch number proves ownership even
            // when the content read is transiently unreadable — never
            // delete our own possibly-valid lease over a read hiccup
            val won =
              try ownsEpoch(fs, cfg, epoch, holder)
              catch { case _: java.io.IOException => true } // ours unless proven stolen
            if (won) {
              // best-effort sweep of EVERYTHING below the current epoch —
              // lease files AND release markers, including orphan markers
              // whose lease file a previous sweep already removed (a
              // fenced holder's late release creates one per steal; left
              // alone they accumulate and inflate every acquire's glob) —
              // plus any pre-epoch-scheme `<path>_lease` single file
              try {
                // anchored to the LEASE suffix: a store basename that itself
                // contains `_e<digits>` (e.g. `corpus_e2`) must not parse as
                // the epoch, or the sweep would read every file — including
                // the winner's just-created lease — as below-current and
                // delete it
                val eRe = "_lease_e(\\d+)(_released)?$".r
                Option(fs.globStatus(leaseDirGlob(cfg))).getOrElse(Array.empty)
                  .map(_.getPath)
                  .filter(p => eRe.findFirstMatchIn(p.getName)
                    .exists(_.group(1).toLong < epoch))
                  .foreach(fs.delete(_, false))
                fs.delete(new org.apache.hadoop.fs.Path(cfg.path + "_lease"), false)
              } catch { case _: java.io.IOException => () }
              return Token(epoch, holder)
            }
            try fs.delete(path(cfg, epoch), false) // dead below the thief's
            catch { case _: java.io.IOException => () }
            blocker = s"epoch $epoch stolen during creation"
          }
        }
        if (System.currentTimeMillis >= deadline)
          throw new IllegalStateException(
            s"writer lease for ${cfg.path} not acquired after " +
              s"${cfg.leaseWaitMillis} ms: $blocker — concurrent writer? " +
              "(single-writer contract; stale leases steal after " +
              s"${cfg.leaseTtlMillis} ms)")
        Thread.sleep(50)
      }
      throw new IllegalStateException("unreachable")
    }

    /** Fencing check: the token's epoch must still be the CURRENT lease and
      * carry the token's holder.
      *
      * A torn lease-file CONTENT read must not abort a legitimate holder:
      * unlike the ambiguous-create path in [[acquire]], at verify time we
      * KNOW this process created `token.epoch` (its acquire returned), the
      * epoch file is create-no-overwrite, and a thief always advances to
      * epoch+1 — so epoch identity plus an unreleased marker
      * ([[ownsLiveEpoch]]) proves the lease is still ours even when its
      * bytes read torn under IO load. The strict content check runs first,
      * gets one re-read (torn reads are transient), then falls back to
      * live epoch identity; a genuinely advanced/vanished epoch — or our
      * own `_released` marker (use-after-release) — aborts.
      */
    def verify(fs: org.apache.hadoop.fs.FileSystem, cfg: StoreConfig,
               token: Token): Unit = {
      def strict = try holds(fs, cfg, token.epoch, token.holder)
        catch { case _: java.io.IOException => false }
      val ok = strict || strict ||
        (try ownsLiveEpoch(fs, cfg, token.epoch, token.holder)
         catch { case _: java.io.IOException => false })
      require(ok,
        s"writer lease for ${cfg.path} lost (epoch ${token.epoch} stolen " +
          "after TTL expiry?) — aborting; the store remains on the " +
          "current holder's snapshot")
    }

    /** Release = CREATE the epoch's `_released` marker, never a delete and
      * never a rewrite of the lease file itself. Marker existence is the
      * whole signal, so the release is one atomic create (a truncate-
      * rewrite of the lease file would have a torn window that grace-stalls
      * the next writer). The lease file + marker persist until a successor
      * sweeps them from above, keeping epochs MONOTONE for the store's
      * lifetime — a slow stolen-from writer's late release can never remove
      * a successor's live lease (epoch names are never reused while their
      * files exist). The next acquirer reads the marker and steals epoch+1
      * immediately.
      */
    def release(fs: org.apache.hadoop.fs.FileSystem, cfg: StoreConfig,
                token: Token): Unit =
      try fs.create(releasedMarker(cfg, token.epoch), true).close()
      catch {
        case _: java.io.IOException => () // best-effort; TTL is the backstop
      }
  }

  /** Run `body` holding the store's writer lease; always released on exit. */
  private def withLease[A](fs: org.apache.hadoop.fs.FileSystem,
                           cfg: StoreConfig)(body: Lease.Token => A): A = {
    val token = Lease.acquire(fs, cfg)
    try body(token)
    finally Lease.release(fs, cfg, token)
  }

  /** Snapshot manifests — the store's committed file sets (the plain-parquet
    * core of a table format's commit log). Manifest `m_<n>` in the
    * `<path>_manifests` sibling dir lists the data-file NAMES composing
    * snapshot n; the CURRENT snapshot is the highest n. A commit writes the
    * next manifest to a temp name and renames it in (atomic on local/HDFS),
    * so a concurrent reader resolves either snapshot n or n+1 — never a
    * half-swapped file set. Replaced data files are retained until they fall
    * out of the newest `RetainManifests` snapshots ([[vacuum]]), so a reader
    * one commit behind still finds every file it resolved. Single-writer by
    * contract (like the reference's single Tank server), ENFORCED by the
    * [[Lease]]: mutators hold the lease across probe→rewrite→commit, and the
    * commit re-verifies it before the rename; true multi-writer concurrency
    * still needs a real table format.
    */
  private[sources] object Manifests {
    val RetainManifests = 2

    private def dir(cfg: StoreConfig) =
      new org.apache.hadoop.fs.Path(cfg.path + "_manifests")

    private def id(p: org.apache.hadoop.fs.Path): Long =
      p.getName.stripPrefix("m_").toLong

    private def listManifests(fs: org.apache.hadoop.fs.FileSystem,
                              cfg: StoreConfig): Seq[org.apache.hadoop.fs.Path] =
      if (!fs.exists(dir(cfg))) Nil
      else fs.listStatus(dir(cfg)).map(_.getPath)
        .filter(_.getName.matches("m_\\d+")).sortBy(id).toIndexedSeq

    private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path): Seq[String] = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    }

    /** (snapshot id, data-file names) of the current snapshot, if any. */
    def latest(fs: org.apache.hadoop.fs.FileSystem,
               cfg: StoreConfig): Option[(Long, Seq[String])] =
      listManifests(fs, cfg).lastOption.map(p => (id(p), readManifest(fs, p)))

    /** All committed snapshot ids still on disk, oldest first. */
    def ids(fs: org.apache.hadoop.fs.FileSystem, cfg: StoreConfig): Seq[Long] =
      listManifests(fs, cfg).map(id)

    /** Data-file names of snapshot `n`, if its manifest is still retained. */
    def at(fs: org.apache.hadoop.fs.FileSystem, cfg: StoreConfig,
           n: Long): Option[Seq[String]] =
      listManifests(fs, cfg).find(p => id(p) == n).map(readManifest(fs, _))

    private def storeListing(fs: org.apache.hadoop.fs.FileSystem,
                             cfg: StoreConfig): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(cfg.path)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).sorted.toIndexedSeq
    }

    /** Commit snapshot n+1 = `update`(current file set). Bootstraps the
      * first manifest from the physical listing (legacy stores).
      */
    def commit(fs: org.apache.hadoop.fs.FileSystem, cfg: StoreConfig,
               update: Seq[String] => Seq[String],
               lease: Option[Lease.Token] = None): Unit = {
      // fencing: a writer whose lease was stolen (TTL outlived) must not
      // commit — verify ownership as late as possible, just before the rename
      lease.foreach(Lease.verify(fs, cfg, _))
      val cur = latest(fs, cfg)
      val base = cur.map(_._2).getOrElse(storeListing(fs, cfg))
      val next = update(base).distinct.sorted
      val n = cur.map(_._1).getOrElse(0L) + 1
      fs.mkdirs(dir(cfg))
      val tmp = new org.apache.hadoop.fs.Path(dir(cfg),
        s"_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(next.mkString("\n").getBytes("UTF-8")) finally out.close()
      // a second writer racing this commit to the same snapshot id must
      // surface as a loud failure, never a silently-lost snapshot. HDFS
      // rename refuses an existing target, but POSIX rename(2) — and so
      // Hadoop's local filesystem — OVERWRITES it: a writer that stalled
      // past its lease TTL between reading `latest` and renaming would
      // clobber the thief's committed manifest with a list that lacks its
      // files (a lost update the lease storm caught under load). The
      // explicit exists() check runs at rename time — after any stall —
      // so that schedule now fails the require; the residual window
      // (a stall landing between exists() and rename()) is the same
      // check-then-act instant the lease protocol documents elsewhere.
      val target = new org.apache.hadoop.fs.Path(dir(cfg), s"m_$n")
      if (!(!fs.exists(target) && fs.rename(tmp, target))) {
        // lost race: clean our tmp (invisible to listManifests but
        // otherwise permanent) before the loud failure
        try { fs.delete(tmp, false): Unit }
        catch { case _: java.io.IOException => () }
        throw new IllegalArgumentException(
          s"requirement failed: manifest commit m_$n failed " +
            s"(concurrent writer?): ${cfg.path}")
      }
    }

    /** Drop every manifest and start a fresh history at snapshot 1 (full
      * overwrite path — the store dir was just rewritten in place).
      */
    def reset(fs: org.apache.hadoop.fs.FileSystem, cfg: StoreConfig,
              lease: Option[Lease.Token] = None): Unit = {
      // fence BEFORE the destructive delete: check-then-act, so a steal
      // landing in the instant between this verify and the delete can still
      // slip through — but it moves the common stolen-lease case (TTL
      // outlived long ago) from "wipe the thief's manifest history, then
      // fail" to "fail before touching anything"
      lease.foreach(Lease.verify(fs, cfg, _))
      fs.delete(dir(cfg), true)
      commit(fs, cfg, identity, lease)
    }

    /** Delete data files referenced by NO retained manifest, then the
      * expired manifests themselves. Run after a commit: files the new
      * snapshot dropped survive until `RetainManifests` newer snapshots
      * exist, so in-flight readers of recent snapshots never lose a file.
      */
    /** Floor for the debris grace: belt-and-braces under the lease (a writer
      * whose lease was stolen mid-write may still own a live spill dir; its
      * commit will fail the fence, but its files should not vanish under it
      * and turn the loud failure into a confusing FileNotFound).
      */
    val DebrisGraceMillis: Long = 15 * 60 * 1000L

    /** Effective grace: a slow writer can legitimately hold a spill dir for
      * a full lease TTL before its steal, so the grace must always exceed
      * the TTL — deriving it (rather than two independent constants) keeps
      * the protection positive when a store raises leaseTtlMillis.
      */
    private[sources] def debrisGraceMillis(cfg: StoreConfig): Long =
      math.max(DebrisGraceMillis, cfg.leaseTtlMillis + 5 * 60 * 1000L)

    def vacuum(fs: org.apache.hadoop.fs.FileSystem, cfg: StoreConfig): Unit = {
      // crash debris: an interrupted append/rewrite leaves an orphaned tmp
      // spill dir (its surviving parquet was either moved in before the
      // crash or never committed). Only dirs past the grace period go — a
      // live writer's spill is never hours old.
      val cutoff = System.currentTimeMillis - debrisGraceMillis(cfg)
      Seq("_ap_tmp_*", "_rw_tmp_*", "_tmp_*").foreach { pat =>
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(cfg.path + pat)))
          .getOrElse(Array.empty)
          .filter(_.getModificationTime < cutoff)
          .foreach(st => fs.delete(st.getPath, true))
      }
      val ms = listManifests(fs, cfg)
      if (ms.size <= RetainManifests) return
      val (expired, retained) = ms.splitAt(ms.size - RetainManifests)
      val referenced = retained.flatMap(readManifest(fs, _)).toSet
      storeListing(fs, cfg).filterNot(referenced).foreach { name =>
        fs.delete(new org.apache.hadoop.fs.Path(cfg.path, name), false)
      }
      expired.foreach(fs.delete(_, false))
    }
  }

  private def storeFs(spark: SparkSession, cfg: StoreConfig) =
    new org.apache.hadoop.fs.Path(cfg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write/overwrite the store: range-partitioned + sorted by `hash` so file
    * min/max stats align with Morton ranges (tile reads prune to O(tile)
    * files at any table size). A full overwrite rewrites the directory in
    * place (initial-load path — NOT snapshot-isolated; incremental paths
    * are) and restarts the manifest history.
    */
  def write(df: DataFrame, cfg: StoreConfig, partitions: Int = 0): Unit = {
    val fs = storeFs(df.sparkSession, cfg)
    withLease(fs, cfg) { token =>
      val n = if (partitions > 0) partitions
        else math.max(1, (df.count() / cfg.targetFileRows).toInt)
      // the in-place Overwrite is destructive BEFORE any commit (the
      // documented initial-load trade-off) — fence as late as possible so a
      // writer whose lease was stolen during the count usually aborts here
      // instead of clobbering the thief's store (check-then-act: a steal
      // landing after this line can still interleave; write() remains the
      // one path without full snapshot isolation)
      Lease.verify(fs, cfg, token)
      df.repartitionByRange(n, col("hash"), col("uid"))
        .sortWithinPartitions("hash")
        .write.mode(SaveMode.Overwrite).parquet(cfg.path)
      Manifests.reset(fs, cfg, Some(token))
    }
  }

  /** The current committed snapshot. Resolves the manifest (falling back to
    * the physical listing for stores never written through this API) so
    * concurrent rewrites are invisible until their commit.
    *
    * A committed snapshot's relation is resolved ONCE and returned until
    * the manifest moves: a fresh `spark.read.parquet` re-lists the files,
    * re-analyzes, and starts a schema-inference job (~45 ms on a 4-core
    * box, 0 rows scanned) — a cold tile served over TankServer averaged
    * 2.1 Spark jobs with a fresh relation per read and 1.4 with this memo.
    * The memo is keyed on the session, the store path and the manifest's
    * file list, never on the snapshot id alone: a full [[write]] restarts
    * the history at `m_1` with new files. One entry per store path; the
    * legacy no-manifest listing is not memoized.
    */
  def read(spark: SparkSession, cfg: StoreConfig): DataFrame = {
    val fs = storeFs(spark, cfg)
    Manifests.latest(fs, cfg) match {
      case Some((_, names)) if names.nonEmpty =>
        resolved.get(cfg.path) match {
          case Resolved(s, ns, df) if (s eq spark) && ns == names => df
          case _ =>
            val df = spark.read.parquet(names.map(n =>
              new org.apache.hadoop.fs.Path(cfg.path, n).toString): _*)
            resolved.put(cfg.path, Resolved(spark, names, df))
            df
        }
      case Some(_) => // empty snapshot: schema from any lingering file
        spark.read.parquet(cfg.path).limit(0)
      case None => spark.read.parquet(cfg.path)
    }
  }

  private final case class Resolved(spark: SparkSession, names: Seq[String],
                                    df: DataFrame)
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[String, Resolved]()

  /** Committed snapshot ids still on disk, oldest first (time-travel
    * catalog for [[readAt]]). Retention: [[Manifests.vacuum]] keeps the
    * newest `RetainManifests` snapshots, so this list is short by design.
    */
  def snapshots(spark: SparkSession, cfg: StoreConfig): Seq[Long] =
    Manifests.ids(storeFs(spark, cfg), cfg)

  /** Time-travel read: the store AS OF snapshot `snapshotId` (an id from
    * [[snapshots]]) — audit "what did the store serve yesterday", diff two
    * snapshots, or pin a training run's input while ingest continues.
    *
    * Only the newest `RetainManifests` snapshots are retention-protected;
    * an older id fails loudly here (unknown manifest) or via the
    * file-existence check (manifest present but a referenced file already
    * vacuumed — the check costs one exists() per file, acceptable at the
    * snapshot file counts the compactor maintains, and turns a confusing
    * mid-job FileNotFound into an immediate, named error).
    */
  def readAt(spark: SparkSession, cfg: StoreConfig, snapshotId: Long): DataFrame = {
    val fs = storeFs(spark, cfg)
    Manifests.at(fs, cfg, snapshotId) match {
      case Some(names) if names.nonEmpty =>
        val missing = names.filterNot(n =>
          fs.exists(new org.apache.hadoop.fs.Path(cfg.path, n)))
        require(missing.isEmpty,
          s"snapshot $snapshotId is no longer fully retained " +
            s"(vacuumed files: ${missing.take(3).mkString(", ")}): ${cfg.path}")
        spark.read.parquet(names.map(n =>
          new org.apache.hadoop.fs.Path(cfg.path, n).toString): _*)
      case Some(_) => // committed empty snapshot
        spark.read.parquet(cfg.path).limit(0)
      case None =>
        throw new IllegalArgumentException(
          s"unknown snapshot $snapshotId for store ${cfg.path}; " +
            s"retained: ${Manifests.ids(fs, cfg).mkString(", ")}")
    }
  }

  /** Append rows as new data files + a manifest commit: the snapshot-atomic
    * ingest path (REST single/bulk ingest and the streaming sink). The
    * files land under the store dir first, the commit makes them visible,
    * retention vacuuming never touches files a recent snapshot references.
    */
  def append(df: DataFrame, cfg: StoreConfig): Unit = {
    val spark = df.sparkSession
    val fs = storeFs(spark, cfg)
    withLease(fs, cfg) { token =>
      val tmp = new org.apache.hadoop.fs.Path(
        cfg.path + s"_ap_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val moved = moveDataFilesIn(fs, tmp, cfg)
      Manifests.commit(fs, cfg, base => base ++ moved, Some(token))
      Manifests.vacuum(fs, cfg)
      fs.delete(tmp, true)
    }
  }

  /** Move every data file of `tmp` into the store dir (part-file names are
    * UUID-unique, so no collisions); returns the moved names.
    */
  private def moveDataFilesIn(fs: org.apache.hadoop.fs.FileSystem,
                              tmp: org.apache.hadoop.fs.Path,
                              cfg: StoreConfig): Seq[String] = {
    val dst = new org.apache.hadoop.fs.Path(cfg.path)
    fs.mkdirs(dst)
    fs.listStatus(tmp).filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        fs.rename(st.getPath, new org.apache.hadoop.fs.Path(dst, st.getPath.getName))
        st.getPath.getName
      }.toIndexedSeq
  }

  /** Compact the store back into the hash-sorted target layout. Streaming
    * ingest appends one (or more) small files per microbatch, which erodes
    * both scan efficiency and hash-range pruning precision over time; a
    * periodic compaction (e.g. from the maintenance side of a foreachBatch)
    * restores O(tile) file reads. Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, cfg: StoreConfig,
              partitions: Int = 0): (Int, Int) = {
    val fs = storeFs(spark, cfg)
    // count the SNAPSHOT's files (replaced files linger physically until
    // they leave the manifest retention window)
    def parquetCount(): Int = Manifests.latest(fs, cfg) match {
      case Some((_, names)) => names.size
      case None =>
        fs.listStatus(new org.apache.hadoop.fs.Path(cfg.path))
          .count(_.getPath.getName.endsWith(".parquet"))
    }
    val before = parquetCount()
    rewrite(spark, cfg, df => {
      val n = if (partitions > 0) partitions
        else math.max(1, (df.count() / cfg.targetFileRows).toInt)
      df.repartitionByRange(n, org.apache.spark.sql.functions.col("hash"),
          org.apache.spark.sql.functions.col("uid"))
        .sortWithinPartitions("hash")
    })
    (before, parquetCount())
  }

  /** Dead-letter sink (the Exhauster channel): original JSON to the durable
    * parquet side-sink, plus the optional live HTTP fan-out when
    * `cfg.exhausterUrl` is set ([[Exhauster.post]] — best-effort, from the
    * executors, after the durable write).
    */
  def writeRejected(rejected: DataFrame, cfg: StoreConfig): Unit = {
    rejected.write.mode(SaveMode.Append).parquet(s"${cfg.path}_rejected")
    cfg.exhausterUrl.foreach(url => Exhauster.post(rejected, url))
  }

  // ------------------------------------------------------------- CRUD

  /** A4: point lookup by uid (plain pushed-down filter). */
  def lookup(spark: SparkSession, cfg: StoreConfig, uid: String): DataFrame =
    read(spark, cfg).filter(col("uid") === uid)

  /** A5: delete by uid — rewrites ONLY the parquet files containing the uid
    * (found via a pushed-down filter over `_metadata.file_path`); every
    * other file stays byte-identical on disk. Pass `knownHash` (e.g. from a
    * prior lookup) to prune the touched-file probe to the O(1) files whose
    * hash min/max covers it instead of scanning uid stats table-wide.
    */
  def delete(spark: SparkSession, cfg: StoreConfig, uid: String,
             knownHashes: Seq[Int] = Nil): Unit = {
    // ALL the uid's hashes must prune the probe — a uid ingested twice with
    // different geometry legitimately holds rows in different hash cells,
    // and restricting to the first would leave the others undeleted
    val touches =
      if (knownHashes.nonEmpty)
        col("hash").isin(knownHashes: _*) && col("uid") === uid
      else col("uid") === uid
    rewriteTouched(spark, cfg, touches, _.filter(col("uid") =!= uid))
  }

  /** A6: update = replace geometry/attrs of one uid, preserving every column
    * not supplied (tank re-imports the merged feature, application.kt:317-348).
    * Only the file(s) holding the uid are rewritten; if the new geometry
    * moves the row to a different Morton cell, the rewritten file simply
    * covers a wider hash range (pruning stays correct — ranges are read from
    * actual file stats).
    */
  def update(spark: SparkSession, cfg: StoreConfig, uid: String,
             newGeometryWkt: Option[String],
             newAttrs: Map[String, Any],
             knownHashes: Seq[Int] = Nil): Unit = {
    val hashUdf = udf((wkt: String) => GeomUdfs.centroidHash(wkt, cfg.hashLevel))
    val touches =
      if (knownHashes.nonEmpty)
        col("hash").isin(knownHashes: _*) && col("uid") === uid
      else col("uid") === uid
    rewriteTouched(spark, cfg, touches, df => {
      val updatedGeom = newGeometryWkt match {
        case Some(w) =>
          when(col("uid") === uid, lit(w)).otherwise(col("geometry"))
        case None => col("geometry")
      }
      val withAttrs = newAttrs.foldLeft(df.withColumn("geometry", updatedGeom)) {
        case (d, (k, v)) =>
          // pin the replacement to the column's EXISTING type: a bare lit
          // would coerce the whole column (e.g. int -> string), leaving the
          // rewritten file's schema diverging from every untouched file
          d.withColumn(k,
            when(col("uid") === uid, lit(v).cast(d.schema(k).dataType))
              .otherwise(col(k)))
      }
      withAttrs.withColumn("hash",
        when(col("uid") === uid, hashUdf(col("geometry"))).otherwise(col("hash")))
    })
  }

  /** A8: bulk delete of every feature in a tile's Z-range. The hash-range
    * predicate prunes the touched-file probe via parquet min/max stats, so
    * only the O(tile) files overlapping the tile's Morton ranges are read
    * or rewritten.
    */
  def deleteTile(spark: SparkSession, cfg: StoreConfig, z: Int, x: Int, y: Int): Unit = {
    val ranges = graft.core.ZRange.coverWithBuffer(z, x, y, cfg.hashLevel, 0.0)
    val inTile = ranges.map { case (lo, hi) => col("hash").between(lo, hi) }
      .reduce(_ || _)
    rewriteTouched(spark, cfg, inTile, _.filter(!inTile))
  }

  /** Targeted copy-on-write: rewrite ONLY the parquet files that contain at
    * least one row matching `touches`; untouched files are never read twice,
    * never rewritten, and stay byte-identical. This is the file-level-delete
    * shape of a table format (Delta/Iceberg) on plain parquet: a single-uid
    * DELETE touches O(1) files instead of rewriting the table — the round-1
    * full-table rewrite could not run at 100 TB.
    *
    * The probe scan benefits from pushdown: a hash-range `touches` predicate
    * prunes on file min/max stats (the store is hash-range-partitioned and
    * hash-sorted), so for tile deletes only O(tile) files are opened at all.
    *
    * The swap is SNAPSHOT-ATOMIC for concurrent readers: replacement files
    * move in first (unique names — invisible to the current manifest), one
    * manifest rename commits the new file set, and the replaced files are
    * only vacuumed once they fall out of the manifest retention window. A
    * crash at any point leaves either the old snapshot (commit not reached;
    * orphaned replacements are vacuumed later) or the new one — never a
    * store missing surviving rows.
    */
  private def rewriteTouched(spark: SparkSession, cfg: StoreConfig,
                             touches: Column,
                             f: DataFrame => DataFrame): Unit = {
    // resolve the filesystem FROM the store path — FileSystem.get(default)
    // throws "Wrong FS" whenever cfg.path lives on s3a://, hdfs://, …
    val fs = storeFs(spark, cfg)
    withLease(fs, cfg) { token =>
      // the probe runs INSIDE the lease: the touched-file set must be from
      // the snapshot this writer will commit against
      val touched = read(spark, cfg)
        .filter(touches)
        .select(col("_metadata.file_path").as("_file"))
        .distinct().collect().map(_.getString(0))
      if (touched.nonEmpty) {
        val next = f(spark.read.parquet(touched.toIndexedSeq: _*)).cache()
        val tmp = new org.apache.hadoop.fs.Path(
          cfg.path + s"_rw_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
        next.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        next.unpersist()
        val touchedNames = touched.map(fp =>
          new org.apache.hadoop.fs.Path(new java.net.URI(fp)).getName).toSet
        val moved = moveDataFilesIn(fs, tmp, cfg)
        Manifests.commit(fs, cfg,
          base => base.filterNot(touchedNames) ++ moved, Some(token))
        Manifests.vacuum(fs, cfg)
        fs.delete(tmp, true)
      }
    }
  }

  /** Full copy-on-write snapshot (compaction path): materialize the
    * transformed table as new files, commit them as the next snapshot.
    */
  private def rewrite(spark: SparkSession, cfg: StoreConfig,
                      f: DataFrame => DataFrame): Unit = {
    val fs = storeFs(spark, cfg)
    withLease(fs, cfg) { token =>
      val tmp = new org.apache.hadoop.fs.Path(
        cfg.path + s"_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      val next = f(read(spark, cfg)).cache()
      next.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      next.unpersist()
      val moved = moveDataFilesIn(fs, tmp, cfg)
      Manifests.commit(fs, cfg, _ => moved, Some(token))
      Manifests.vacuum(fs, cfg)
      fs.delete(tmp, true)
    }
  }
}
