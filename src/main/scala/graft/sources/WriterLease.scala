package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one writer lease of every store — enforces a store's single-writer
  * contract instead of merely documenting it. [[FeatureStore]]'s mutating
  * paths hold it from their first probe to their manifest commit, and
  * [[MutationGuard]] holds it around every index/history-store verb, so a
  * second writer fails LOUDLY at acquire (after a bounded wait), not with a
  * confusing mid-write FileNotFound or a silently lost append.
  *
  * Mechanics: epoch-NAMED lease files, `<base>_lease_e<epoch>`, the same
  * scheme as FeatureStore's `m_<n>` manifests. The CURRENT lease is the
  * highest epoch; its content (`holder expiresAt`) says who holds it and
  * until when — each holder writes its own expiry, so a long verb that
  * declared a long TTL is protected from a writer running a short one.
  * Acquiring epoch e+1 is ONE exclusive create: no delete-then-create
  * window, so two concurrent stealers of an expired lease can never both
  * win (the loser's create throws and it re-reads e+1 as the new valid
  * lease). A lease past its TTL — or one whose content is torn/unreadable
  * past the torn grace (a creator that crashed mid-write; the epoch still
  * reads from the NAME, so a torn file can never wedge the store) — is
  * considered abandoned and stealable at the next epoch. A slow writer
  * that outlives its TTL and gets stolen from fails loudly at [[verify]]
  * (FeatureStore's commit fence, MutationGuard's post-verb check). Stale
  * epoch files below the current one are dead by construction and swept
  * on acquire.
  *
  * The create is exclusive where the code runs: on the local filesystem
  * it is an O_EXCL open (`CREATE_NEW`) — Hadoop's local `create(p, false)`
  * is check-then-create and grants one path to several racers — and on
  * every other filesystem `create(p, false)`, atomic on HDFS. Object
  * stores (S3A) have no exclusive create: there the lease is best-effort
  * and a true lock must come from the job scheduler.
  *
  * `tornGraceMillis`: how old a TORN lease file (created, content never
  * written) must be before it is treated as a crashed — not in-flight —
  * creator; it compares the local clock to the filesystem mtime clock, so
  * keep it well above any cross-clock skew.
  */
final case class WriterLease(base: String,
                             waitMillis: Long = 30 * 1000L,
                             ttlMillis: Long = 10 * 60 * 1000L,
                             tornGraceMillis: Long = 10 * 1000L) {
  import WriterLease._

  private def path(epoch: Long) = new Path(base + s"_lease_e$epoch")

  /** Release marker for an epoch: EXISTENCE is the signal (content
    * irrelevant), so releasing is one atomic create — no truncate-rewrite
    * window that could leave the current lease file torn mid-release.
    */
  private def releasedMarker(epoch: Long) =
    new Path(base + s"_lease_e${epoch}_released")

  /** The highest-epoch lease; `content` is None when torn (crashed or
    * in-flight creator) — the epoch always reads from the file NAME.
    */
  private def current(fs: FileSystem): Option[LeaseFile] = {
    val files = leaseFiles(fs, base)
    files.filterNot(_._3).sortBy(_._2).lastOption.map {
      case (p, epoch, _) =>
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
        LeaseFile(epoch, mtime, files.exists(f => f._3 && f._2 == epoch),
          content)
    }
  }

  /** What keeps `cur` from being taken at `now`, None when it is free:
    * absent, released, expired, or torn past the grace.
    */
  private def blocker(cur: Option[LeaseFile], now: Long): Option[String] =
    cur match {
      case None => None
      case Some(l) if l.released => None // holder finished; marker is atomic
      case Some(LeaseFile(epoch, _, _, Some((holder, expiresAt)))) =>
        // expired: a crashed holder, stealable
        if (expiresAt >= now) Some(s"holder $holder (epoch $epoch)") else None
      case Some(LeaseFile(epoch, mtime, _, None)) =>
        // torn content: only steal once the grace says it is a CRASHED
        // creator, not one mid-write — instant stealing would let the
        // creator's own post-create confirmation and the thief both win
        if (now - mtime <= tornGraceMillis)
          Some(s"epoch $epoch mid-creation (torn, within grace)")
        else None
    }

  /** Whether the lease is live now: a writer acquiring would wait. */
  def held(fs: FileSystem): Boolean =
    blocker(current(fs), System.currentTimeMillis).isDefined

  /** Take the lease, waiting up to `waitMillis` for the current holder;
    * released, expired — and torn-past-grace — leases are stolen at the
    * next epoch.
    */
  def acquire(fs: FileSystem): Token = {
    val deadline = System.currentTimeMillis + math.max(waitMillis, 0L)
    var last = "none" // what the last attempt saw, for the error message
    while (true) {
      val now = System.currentTimeMillis
      val cur = current(fs)
      blocker(cur, now) match {
        case Some(b) => last = b
        case None =>
          // race to CREATE the next epoch — exactly one concurrent
          // acquirer wins; nothing is deleted on this path, so a loser can
          // never remove a winner's valid lease
          val epoch = cur.map(_.epoch).getOrElse(0L) + 1
          val holder = java.util.UUID.randomUUID().toString
          var created = false
          try {
            val out = createExclusive(fs, path(epoch))
            try out.write(s"$holder ${now + ttlMillis}".getBytes("UTF-8"))
            finally out.close()
            created = true
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                 _: java.nio.file.FileAlreadyExistsException =>
              // a racing creator won this epoch — unambiguous loss, and we
              // must NOT touch the file (it is the winner's live lease)
              last = s"epoch $epoch taken by a racing writer"
            case e: java.io.IOException =>
              // ambiguous: the CREATE may have succeeded with the failure
              // landing on write/close. Claim the epoch ONLY on STRICT
              // affirmative evidence — our holder readable in the current
              // epoch's content (a torn file at this epoch may be a racer
              // mid-write on a filesystem that signals create-exists as a
              // plain IOException). Failing strict, do no cleanup either:
              // our possible torn debris is stolen past the bounded grace,
              // deleting a racer's lease is far worse.
              if (try current(fs).exists(l => l.epoch == epoch &&
                    l.content.exists(_._1 == holder))
                  catch { case _: java.io.IOException => false }) created = true
              else last = s"lease-file create failing (${e.getMessage})"
          }
          // post-create work runs OUTSIDE the create try-block: a transient
          // failure here must not read as "create failed" and abandon a
          // valid on-disk lease (which would block every writer for a TTL)
          if (created) {
            // tolerant self-check: the epoch file is created exactly once,
            // so our epoch number proves ownership even when the content
            // read is transiently torn — never delete our own valid lease
            // over a read hiccup; only a thief at a higher epoch beats us
            val won =
              try current(fs).exists(l => l.epoch == epoch &&
                l.content.forall(_._1 == holder))
              catch { case _: java.io.IOException => true }
            if (won) {
              // best-effort sweep of EVERYTHING below the current epoch —
              // lease files AND release markers, including orphan markers
              // whose lease file a previous sweep already removed (a
              // fenced holder's late release creates one per steal) — plus
              // any pre-epoch-scheme `<base>_lease` single file
              try {
                leaseFiles(fs, base).filter(_._2 < epoch)
                  .foreach(f => fs.delete(f._1, false))
                fs.delete(new Path(base + "_lease"), false)
              } catch { case _: java.io.IOException => () }
              return Token(epoch, holder)
            }
            try fs.delete(path(epoch), false) // dead below the thief's
            catch { case _: java.io.IOException => () }
            last = s"epoch $epoch stolen during creation"
          }
      }
      if (System.currentTimeMillis >= deadline)
        throw new IllegalStateException(
          s"writer lease for $base not acquired after $waitMillis ms: " +
            s"$last — concurrent writer? (single-writer contract; stale " +
            s"leases steal after $ttlMillis ms)")
      Thread.sleep(50)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Why `token` no longer holds the lease, None while it does: its epoch
    * must be the CURRENT lease, unreleased, and carry the token's holder.
    *
    * A torn lease-file CONTENT read does not count as a loss: at this
    * point we KNOW this process created `token.epoch` (its acquire
    * returned), the epoch file is created once, and a thief always
    * advances to epoch+1 — so epoch identity plus an unreleased marker
    * proves the lease is still ours even when its bytes read torn under IO
    * load. A failed check gets one re-read (torn and IO failures are
    * transient); a genuinely advanced/vanished epoch — or our own
    * `_released` marker (use-after-release: release makes the lease
    * immediately stealable) — is a loss, and the reason names what was
    * seen.
    */
  def lost(fs: FileSystem, token: Token): Option[String] = {
    def look = try current(fs) catch { case _: java.io.IOException => None }
    def ours(l: LeaseFile) = l.epoch == token.epoch && !l.released &&
      l.content.forall(_._1 == token.holder)
    val first = look
    val seen = if (first.exists(ours)) first else look
    if (seen.exists(ours)) None
    else {
      val now = seen.fold("no lease file") { l =>
        val content = l.content.fold("torn/unreadable content") { c =>
          if (c._1 == token.holder) "this holder's content"
          else "another holder's content"
        }
        s"epoch ${l.epoch} with $content"
      }
      val marker =
        try if (fs.exists(releasedMarker(token.epoch))) "present" else "absent"
        catch { case _: java.io.IOException => "unreadable" }
      Some(s"writer lease for $base lost: token epoch ${token.epoch}, " +
        s"current $now, epoch ${token.epoch} _released marker $marker")
    }
  }

  /** Fencing check: throws (IllegalArgumentException) when [[lost]]. */
  def verify(fs: FileSystem, token: Token): Unit = {
    val why = lost(fs, token)
    require(why.isEmpty, why.get + " — aborting; the store remains on " +
      "the current holder's snapshot")
  }

  /** Release = CREATE the epoch's `_released` marker, never a delete and
    * never a rewrite of the lease file itself. The lease file + marker
    * persist until a successor sweeps them from above, keeping epochs
    * MONOTONE for the base's lifetime — a slow stolen-from writer's late
    * release can never remove a successor's live lease (epoch names are
    * never reused while their files exist). The next acquirer reads the
    * marker and steals epoch+1 immediately.
    */
  def release(fs: FileSystem, token: Token): Unit =
    try fs.create(releasedMarker(token.epoch), true).close()
    catch {
      case _: java.io.IOException => () // best-effort; TTL is the backstop
    }

  /** Run `body` holding the lease; always released on exit. */
  def hold[A](fs: FileSystem)(body: Token => A): A = {
    val token = acquire(fs)
    try body(token)
    finally release(fs, token)
  }
}

object WriterLease {
  final case class Token(epoch: Long, holder: String)

  private final case class LeaseFile(epoch: Long, mtime: Long,
                                     released: Boolean,
                                     content: Option[(String, Long)])

  // anchored to the LEASE suffix: a base whose name itself contains
  // `_e<digits>` (e.g. `corpus_e2`) must not parse as the epoch, or the
  // sweep would read every file — including the winner's just-created
  // lease — as below-current and delete it
  private val LeaseName = "_lease_e(\\d+)(_released)?$".r

  /** (path, epoch, is-release-marker) of every lease file of `base`. */
  private def leaseFiles(fs: FileSystem,
                         base: String): Seq[(Path, Long, Boolean)] =
    Option(fs.globStatus(new Path(base + "_lease_e*")))
      .getOrElse(Array.empty).toIndexedSeq.map(_.getPath).flatMap { p =>
        LeaseName.findFirstMatchIn(p.getName)
          .map(m => (p, m.group(1).toLong, m.group(2) != null))
      }

  /** A create with exactly one winner where the filesystem allows it. */
  private def createExclusive(fs: FileSystem,
                              p: Path): java.io.OutputStream = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      val f = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.newOutputStream(f,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    case _ => fs.create(p, false)
  }

  /** Remove every lease file of `base` — for single-tenant harnesses
    * (Verify/Bench/ScaleProbe) that OWN their warehouse and rebuild
    * stores from scratch: a previous killed run's lease would otherwise
    * stall the rebuild for the acquire wait. Never call this where another
    * writer might genuinely be live.
    */
  def clear(fs: FileSystem, base: String): Unit =
    try leaseFiles(fs, base).foreach(f => fs.delete(f._1, false))
    catch { case _: java.io.IOException => () }
}
