package graft.ops

import org.apache.spark.sql.DataFrame

/**
 * Single-writer lease for persisted incremental state: the image and
 * text band indexes, the semantic-dedup vector index, Snapshots commits
 * and CheckpointedTiles resumes. A concurrent append would interleave
 * files under the same bucket spec (or the same snapshot / bucket dir)
 * and corrupt the state silently, so writes must be serialized per
 * state root and this lease ENFORCES it. Writers go through
 * [[withLease]]; the bucketed band indexes through [[writeBandIndex]].
 *
 * Acquisition is an atomic create-file with an OWNER TOKEN in the body;
 * a daemon HEARTBEAT thread touches the lease mtime every leaseMs/3, so
 * a live append — however long — is never mistaken for a crashed
 * writer; only a lease whose mtime is older than `leaseMs` (heartbeat
 * dead == holder dead) is stolen. Release deletes the file only while
 * the token still matches (never a successor's lease).
 *
 * FENCING: a live writer whose heartbeat stalls past leaseMs (long GC,
 * NFS pause) can be legitimately stale-stolen. When its heartbeat
 * resumes it must NOT blindly touch the path — that is now the
 * successor's lease, and refreshing it while the original writer keeps
 * appending recreates the two-writer corruption. So every tick READS
 * the lease and compares the token: on mismatch (or a vanished file)
 * the heartbeat sets a `fenced` flag and exits without touching
 * anything; [[withLease]] calls [[checkFenced]] around the write and
 * the fenced writer FAILS instead of silently double-writing.
 */
object StateLease {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  final case class Lease(path: java.nio.file.Path, token: String, heartbeat: Thread,
                         fenced: java.util.concurrent.atomic.AtomicBoolean)

  /** Throw if this lease was stolen out from under a stalled heartbeat.
    * [[withLease]] calls this before AND after the body: before =
    * don't start doomed work; after = a steal DURING the write must
    * fail the job loudly (the successor may have interleaved files).
    *
    * The check re-reads the lease file SYNCHRONOUSLY and compares the
    * token, in addition to consulting the heartbeat's fenced flag: a
    * GC pause that froze appender and heartbeat together can end with
    * the appender reaching this check before the heartbeat thread is
    * ever rescheduled — the flag alone would pass in exactly the
    * stall-steal scenario this exists to catch. A transient read error
    * leaves the flag as the only signal (same as before); only a
    * readable-with-wrong-token or vanished lease fails here. */
  def checkFenced(l: Lease): Unit = {
    val stolen = l.fenced.get() || {
      try !java.nio.file.Files.readString(l.path).equals(l.token)
      catch {
        case _: java.nio.file.NoSuchFileException => true
        case scala.util.control.NonFatal(_) => false
      }
    }
    if (stolen) {
      l.fenced.set(true) // heartbeat must never touch the successor's file
      throw new IllegalStateException(
        s"lease ${l.path} was stale-stolen by another writer while this " +
          "append ran (heartbeat stalled past the lease window); state may " +
          "have two writers — verify the band index before further appends")
    }
  }

  /** Run `body` as the single writer of the state under `dir`: acquire
    * the lease, check the fence, run the body, check the fence again,
    * release in a finally. The body runs INSIDE the lease, so whatever
    * it reads of the state (a parent snapshot pointer, the index rows a
    * presence check compares against) is what it writes against. */
  def withLease[T](dir: String)(body: => T): T = {
    val lease = acquire(dir)
    try {
      checkFenced(lease)
      val r = body
      checkFenced(lease)
      r
    } finally release(lease)
  }

  /** The one writer of a bucketed band index (image and text dedup
    * state), under the lease on `dir`: `rows` land as parquet at
    * `dir/bands`, bucketed and sorted by `band_key`, registered as the
    * catalog table `table` (bucket metadata lives in the catalog, so
    * readers use spark.table, never read.parquet). `rebuild` drops and
    * overwrites the table — under the SAME lease the appenders hold, so
    * a rebuild never interleaves with an append; otherwise rows append,
    * and `buckets` must match the build's (Spark refuses mismatched
    * bucket specs). `rows` is evaluated inside the lease. */
  def writeBandIndex(table: String, dir: String, buckets: Int, rebuild: Boolean)
                    (rows: => DataFrame): Unit =
    withLease(dir) {
      val df = rows
      if (rebuild) df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
      df.write.mode(if (rebuild) "overwrite" else "append").format("parquet")
        .bucketBy(buckets, "band_key").sortBy("band_key")
        .option("path", s"$dir/bands").saveAsTable(table)
    }

  def acquire(dir: String, leaseMs: Long = 15 * 60 * 1000L): Lease = {
    val p = java.nio.file.Paths.get(dir, ".writer_lease")
    java.nio.file.Files.createDirectories(p.getParent)
    val token = java.util.UUID.randomUUID().toString
    def tryAcquire(): Boolean =
      try {
        java.nio.file.Files.writeString(p, token,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (!tryAcquire()) {
      // the holder may release between our failed CREATE_NEW and this
      // stat: a vanished lease is FREE — retry the clean acquire
      val mtime =
        try java.nio.file.Files.getLastModifiedTime(p).toMillis
        catch {
          case _: java.nio.file.NoSuchFileException =>
            if (tryAcquire()) return finishAcquire(p, token, leaseMs)
            else throw new IllegalStateException(
              s"lost the lease race for $dir (freed and re-taken mid-acquire)")
        }
      val age = System.currentTimeMillis() - mtime
      if (age <= leaseMs)
        throw new IllegalStateException(
          s"dedup state at $dir is held by another writer (lease age ${age}ms); " +
            "appends must be serialized per corpus — a concurrent append would " +
            "corrupt the band bucketing")
      // stale steal via ATOMIC RENAME: exactly one of N concurrent
      // stealers wins the move (the losers' moves throw), so a rival's
      // freshly re-acquired lease can never be deleted out from under
      // it (the delete-then-create steal had that TOCTOU)
      try {
        val grave = p.resolveSibling(s".writer_lease_stale_$token")
        java.nio.file.Files.move(p, grave,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        java.nio.file.Files.deleteIfExists(grave)
      } catch {
        case scala.util.control.NonFatal(_) =>
          throw new IllegalStateException(
            s"lost the stale-lease steal race for $dir (another writer took it)")
      }
      if (!tryAcquire())
        throw new IllegalStateException(s"lost the lease race for $dir after a stale steal")
    }
    finishAcquire(p, token, leaseMs)
  }

  private def finishAcquire(p: java.nio.file.Path, token: String, leaseMs: Long): Lease = {
    val fenced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb = new Thread(() => {
      // transient IO errors (NFS hiccup) must NOT kill the heartbeat —
      // a silent stop would let a live long append be "stale"-stolen
      var live = true
      while (live && !Thread.currentThread().isInterrupted) {
        try {
          Thread.sleep(math.max(leaseMs / 3, 1000L))
          // a synchronous checkFenced may have detected the steal while
          // this thread slept — stop without touching anything
          if (fenced.get()) { live = false }
          else {
          // verify the lease is still OURS before touching it: after a
          // stall-steal the path is the successor's lease, and touching
          // it would keep the successor "fresh" while we double-write
          val cur =
            try Some(java.nio.file.Files.readString(p))
            catch { case _: java.nio.file.NoSuchFileException => None }
          if (!cur.contains(token)) {
            fenced.set(true)
            live = false // never touch the successor's file
          } else
            java.nio.file.Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
          }
        } catch {
          case _: InterruptedException => Thread.currentThread().interrupt()
          case scala.util.control.NonFatal(_) => () // transient read/touch error: retry next tick
        }
      }
    }, "dedup-state-lease-heartbeat")
    hb.setDaemon(true)
    hb.start()
    Lease(p, token, hb, fenced)
  }

  def release(l: Lease): Unit = {
    l.heartbeat.interrupt()
    // a KNOWN-fenced writer never touches the path at all: it is the
    // successor's lease, and even a transient rename-out/restore window
    // would make the successor's own fence checks read a vanished file
    // and fail a healthy append
    if (l.fenced.get()) return
    // delete only OUR lease: if a (buggy or force-) successor replaced
    // it, removing theirs would let a third writer in mid-write. The
    // claim is an ATOMIC RENAME (the same trick acquire's stale steal
    // uses), not read-token-then-delete: that TOCTOU let a rival finish
    // a full stale-steal between our read (own token) and the delete —
    // deleting the rival's brand-new lease. Rename claims whatever sits
    // at the path; only if it PROVABLY is ours is it discarded,
    // otherwise (foreign token OR unreadable) it is put straight back —
    // a read hiccup must never strand the successor's lease in the
    // grave, which would be a permanent silent unlock.
    try {
      val grave = l.path.resolveSibling(s".writer_lease_release_${l.token}")
      java.nio.file.Files.move(l.path, grave,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // bounded read retry: the file is ~36 bytes and was JUST renamed
      // by this process — a transient IO hiccup deciding mine=false
      // would restore OUR OWN lease and abandon it, locking the dir
      // for the full stale horizon after every release-time hiccup
      def readMine(attempt: Int): Boolean =
        try java.nio.file.Files.readString(grave) == l.token
        catch {
          case scala.util.control.NonFatal(_) if attempt < 3 =>
            // interrupt during the backoff must not escape release()
            // (same contract as restore() below): re-assert the flag and
            // settle on ONE immediate retry — on a second failure decide
            // NOT-mine, the restore-to-path direction that never deletes
            // a possibly-foreign lease
            try Thread.sleep(20L << attempt)
            catch {
              case _: InterruptedException =>
                Thread.currentThread().interrupt()
                return try java.nio.file.Files.readString(grave) == l.token
                       catch { case scala.util.control.NonFatal(_) => false }
            }
            readMine(attempt + 1)
          case scala.util.control.NonFatal(_) => false
        }
      val mine = readMine(0)
      if (mine) java.nio.file.Files.deleteIfExists(grave)
      else {
        // a successor stale-stole our lease between the fence flag read
        // above and the rename: restore its file. A third writer
        // acquiring in this instant gets clobbered by the restore and
        // then FAILS LOUDLY at its next fence check (token mismatch) —
        // loud beats the old silent successor-delete. The restore move
        // RETRIES with backoff and logs loudly on final failure: a
        // swallowed one-shot failure stranded the successor's live
        // lease in the grave (a third writer could acquire immediately)
        // and was only caught later at a fence check.
        def stranded(cause: Throwable, attempts: Int): Unit =
          log.error(s"StateLease.release: FAILED to restore successor lease " +
            s"from $grave to ${l.path} after $attempts attempts — the " +
            s"successor's lease is stranded (a third writer can acquire until " +
            s"the successor's next fence check fails): $cause")
        def restore(attempt: Int): Unit =
          try java.nio.file.Files.move(grave, l.path,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          catch {
            case scala.util.control.NonFatal(_) if attempt < 4 =>
              // an interrupt during the backoff must not escape release()
              // (it previously never threw) with the lease still in the
              // grave: re-assert the interrupt flag, try the move ONCE
              // more immediately, and log the stranding if that fails too
              try Thread.sleep(20L << attempt)
              catch {
                case ie: InterruptedException =>
                  Thread.currentThread().interrupt()
                  try java.nio.file.Files.move(grave, l.path,
                    java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                    java.nio.file.StandardCopyOption.REPLACE_EXISTING)
                  catch { case scala.util.control.NonFatal(e2) => stranded(e2, attempt + 2) }
                  return
              }
              restore(attempt + 1)
            case scala.util.control.NonFatal(e) => stranded(e, attempt + 1)
          }
        restore(0)
      }
    } catch { case scala.util.control.NonFatal(_) => () } // no lease at path: already released
  }
}
