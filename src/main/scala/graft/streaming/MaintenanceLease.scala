package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path}

import BufferedChannel.readFullyUtf8

/** Cross-PROCESS serialization for index maintenance (compaction and
  * manifest heal): a lease FILE next to the index root, where
  * [[IndexSink]]'s JVM-local lock cannot reach — the reference's search
  * sink gets this for free from OpenSearch's server-side coordination;
  * a shared-filesystem index has to build it from FS primitives.
  *
  * Protocol (through the Hadoop FileSystem API, with an O_EXCL escape
  * hatch for `file://`):
  *  - ACQUIRE: atomic create-no-overwrite — `create(path, overwrite =
  *    false)` on HDFS; `java.nio.Files.createFile` (O_EXCL) on local
  *    paths, because Hadoop's RawLocalFileSystem implements the
  *    no-overwrite create as a NON-atomic exists-then-open, which would
  *    let two same-box contenders both win. The file body carries the
  *    holder's ownership TOKEN and TTL plus diagnostics; liveness rides
  *    on file MTIME. A create that succeeds but fails to write the body
  *    deletes the file before reporting failure — an unowned tokenless
  *    lease would otherwise block all maintenance for a full TTL.
  *  - RENEW: a daemon heartbeat re-touches the mtime (`setTimes`) every
  *    ttl/3 while held — an atomic metadata op, so readers never see a
  *    torn renewal. Long maintenance (a 100 TB compaction's snapshot
  *    shuffle) therefore holds the lease indefinitely while healthy.
  *  - SELF-HEAL: a lease whose mtime is older than the TTL RECORDED IN
  *    ITS OWN BODY (unreadable/tokenless body: max(contender TTL,
  *    default) — a transient read fault must not shrink the bar)
  *    belongs to a crashed or wedged holder — ≥3 consecutive missed
  *    heartbeats *by the holder's own cadence*. Judging by the
  *    contender's TTL instead would let a short-TTL contender break a
  *    healthy long-TTL holder between its (longer-spaced) beats. A
  *    contender breaks it by atomically RENAMING it to a unique
  *    tombstone (only one breaker can win the rename), RE-JUDGES
  *    staleness on the tombstone (rename preserves mtime; a fresh
  *    file — the re-create race — is renamed back, not deleted), and
  *    deletes a confirmed-stale tombstone, then retries acquisition.
  *  - The heartbeat and the release both verify the ownership token
  *    before acting, so a holder displaced by a TTL break can neither
  *    refresh nor delete its successor's lease.
  *  - RELEASE: delete the file ONLY if it still carries this holder's
  *    token ([[close]]; idempotent). An unconditional delete would free
  *    a SUCCESSOR's healthy lease whenever this holder had been
  *    TTL-broken during a long stall — the delete would succeed, on
  *    someone else's lease, and a third contender would then compact
  *    concurrently with the successor.
  *
  * Honest limits (inherent to TTL leases without fencing tokens): a
  * holder PAUSED past the full TTL — a stop-the-world GC spanning three
  * missed heartbeats — can race its breaker in the remaining
  * check-then-act windows (token-read vs act on beat/release; a
  * tombstone restore failing because the path was re-created again,
  * which leaves the displaced holder unprotected until its next beat
  * notices the foreign token and stands down). Size `ttlMs` well above
  * worst-case pause, not above maintenance duration (the heartbeat
  * covers duration). And object
  * stores without atomic create-no-overwrite (S3 without conditional
  * writes) weaken acquisition to best-effort; HDFS/local are exact.
  */
final class MaintenanceLease private (fs: FileSystem, val path: Path,
    ttlMs: Long, token: String) extends AutoCloseable {

  @volatile private var released = false

  private val beat: ScheduledFuture[_] =
    MaintenanceLease.scheduler.scheduleWithFixedDelay(() => {
      // A missed beat (transient FS fault) is absorbed by the TTL
      // margin: staleness needs ~3 consecutive misses. The beat
      // verifies OWNERSHIP before touching: after a TTL break +
      // re-acquire, the file at this path is the successor's, and a
      // zombie beat refreshing ITS mtime would falsify the successor's
      // liveness signal forever (mtime must only ever be advanced by
      // the file's actual holder). Token gone -> stop beating for good.
      try if (!released) {
        readFullyUtf8(fs, path) match {
          case Some(b) if b.contains(s"token=$token") =>
            fs.setTimes(path, System.currentTimeMillis(), -1)
          case Some(_) => released = true // confirmed foreign: stand down for good
          case None => () // read fault / missing: a MISSED beat, not a displacement
        }
      } catch { case _: Exception => () }
    }, math.max(1, ttlMs / 3), math.max(1, ttlMs / 3), TimeUnit.MILLISECONDS)

  /** Release: stop renewing, delete the lease file IF STILL OURS (the
    * body carries our token — after a TTL break + re-acquire the file
    * at this path belongs to the successor and must survive our
    * release). Idempotent; read/delete failures are not errors — a
    * breaker already freed it.
    */
  override def close(): Unit = {
    released = true
    beat.cancel(false)
    try {
      if (readFullyUtf8(fs, path).exists(_.contains(s"token=$token")))
        fs.delete(path, false)
    } catch { case _: Exception => () }
  }
}

object MaintenanceLease {

  /** Default TTL: generous next to any plausible GC pause (the failure
    * mode that matters — see the class scaladoc), irrelevant to
    * maintenance duration (the heartbeat covers that).
    */
  val DefaultTtlMs: Long = 10L * 60 * 1000

  /** Default acquisition patience before giving up loudly. */
  val DefaultAcquireTimeoutMs: Long = 2L * 60 * 1000

  private lazy val scheduler = {
    val s = Executors.newScheduledThreadPool(1, r => {
      val t = new Thread(r, "graft-maintenance-lease-heartbeat")
      t.setDaemon(true)
      t
    })
    s
  }

  /** Acquire the lease at `path`, breaking a stale one if found.
    * `timeoutMs = 0` means try-once: return None immediately when the
    * lease is held and fresh (the opportunistic-heal path). A positive
    * timeout polls until acquired or the deadline passes — then THROWS,
    * because the callers that wait (compact) must not silently proceed
    * unserialized.
    */
  def acquire(fs: FileSystem, path: Path,
      ttlMs: Long = DefaultTtlMs,
      timeoutMs: Long = DefaultAcquireTimeoutMs): Option[MaintenanceLease] = {
    require(ttlMs >= 3, s"ttlMs must cover a heartbeat interval, got $ttlMs")
    val deadline = System.currentTimeMillis() + timeoutMs
    var first = true
    while (first || System.currentTimeMillis() <= deadline) {
      first = false
      tryCreate(fs, path, ttlMs) match {
        case Some(tok) => return Some(new MaintenanceLease(fs, path, ttlMs, tok))
        case None =>
      }
      breakIfStale(fs, path, ttlMs)
      if (timeoutMs == 0) {
        // Try-once: one more create in case the stale-break just freed
        // it; otherwise report "held" without waiting.
        tryCreate(fs, path, ttlMs) match {
          case Some(tok) => return Some(new MaintenanceLease(fs, path, ttlMs, tok))
          case None => return None
        }
      }
      Thread.sleep(100)
    }
    throw new IOException(
      s"maintenance lease $path not acquired within ${timeoutMs}ms — " +
        "another process is (or a wedged one was) maintaining this index")
  }

  /** One atomic create attempt; Some(ownership token) on the win. The
    * body is written through the SAME handle as the create (hadoop
    * branch: one create(false) stream; nio branch: one CREATE_NEW
    * channel) — never a second open-by-path, which could truncate or
    * clobber a successor's lease after a stall between two steps.
    * A body-write failure must not leave an unowned tokenless lease
    * squatting for a full TTL; the cleanup delete is OWNERSHIP-GUARDED
    * (delete only if the body is empty/unreadable, carries OUR token,
    * or is a prefix of OUR body — our own torn write), so it can never
    * remove a lease someone else has since written.
    */
  private def tryCreate(fs: FileSystem, path: Path, ttlMs: Long): Option[String] = {
    val token = java.util.UUID.randomUUID().toString
    val body =
      (s"token=$token ttl=$ttlMs " +
        s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
        s"pid=${ProcessHandle.current().pid()} t=${System.currentTimeMillis()}\n")
        .getBytes(StandardCharsets.UTF_8)
    val bodyStr = new String(body, StandardCharsets.UTF_8)
    // Delete only what is provably OURS or nobody's: empty, carries our
    // token, or is a PREFIX of our body (our own torn partial write —
    // without the prefix case a truncated token squats unowned for a
    // full default TTL).
    def cleanup(): Unit =
      try {
        val b = readFullyUtf8(fs, path)
        if (b.forall(c => c.isEmpty || bodyStr.startsWith(c)))
          fs.delete(path, false)
      } catch { case _: Exception => () }
    if ("file".equalsIgnoreCase(fs.getScheme)) {
      // RawLocalFileSystem's create(overwrite = false) is exists-then-
      // open — NOT atomic. CREATE_NEW through ONE nio channel is the
      // O_EXCL create AND the body write on the same handle, so there
      // is no create-then-reopen window for a breaker + successor to
      // slip into (a second open-by-path would TRUNCATE the
      // successor's lease).
      val local = java.nio.file.Paths.get(path.toUri.getPath)
      try {
        Option(local.getParent).foreach(java.nio.file.Files.createDirectories(_))
        val ch = java.nio.channels.FileChannel.open(local,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val buf = java.nio.ByteBuffer.wrap(body)
          while (buf.hasRemaining) ch.write(buf)
          Some(token)
        } catch {
          case _: IOException => cleanup(); None
        } finally ch.close()
      } catch { case _: IOException => return None } // exists / racing loser
    } else {
      val out =
        try fs.create(path, false)
        catch { case _: IOException => return None }
      try { try out.write(body) finally out.close(); Some(token) }
      catch { case _: IOException => cleanup(); None }
    }
  }

  /** Best-effort removal of a local path's ChecksumFileSystem sidecar
    * (".&lt;name&gt;.crc" in the same directory) — for cleanup after raw
    * nio file ops that Hadoop's checksum layer cannot see.
    */
  private def dropLocalCrcSidecar(p: Path): Unit = {
    val crc = new Path(p.getParent, "." + p.getName + ".crc")
    try java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(crc.toUri.getPath))
    catch { case _: Exception => () }
  }

  /** The staleness bar for a lease file: the TTL RECORDED IN ITS BODY
    * (so a short-TTL contender never breaks a healthy long-TTL holder
    * between its beats). An unreadable or tokenless body — a transient
    * read fault, a torn write, a crashed pre-body create — falls back
    * CONSERVATIVELY to max(contender TTL, DefaultTtlMs): a single read
    * hiccup must not let a 1-second contender break a healthy default
    * holder whose mtime is legitimately minutes old, while a genuine
    * orphan still clears after the default TTL.
    */
  private def staleBarMs(body: Option[String], ttlMs: Long): Long =
    body.flatMap("""ttl=(\d+)""".r.findFirstMatchIn(_))
      .flatMap(m => scala.util.Try(m.group(1).toLong).toOption) // overflow-corrupt -> fallback
      .getOrElse(math.max(ttlMs, DefaultTtlMs))

  /** Break a lease whose mtime proves ≥ TTL of missed heartbeats.
    * The pre-check is advisory; the AUTHORITATIVE judgment happens on
    * the TOMBSTONE after the atomic rename (rename preserves mtime,
    * and the tombstone has no racing writers): if the renamed file
    * turns out FRESH — a successor re-created the path between our
    * pre-check and our rename — it is restored, not deleted. Exactly
    * one breaker can win the rename; the residual no-fencing window
    * (restore failing because the path was re-created again, leaving
    * the displaced holder unprotected until its ownership-checked beat
    * notices) is documented on the class.
    */
  private def breakIfStale(fs: FileSystem, path: Path, ttlMs: Long): Unit = {
    val mtime =
      try Some(fs.getFileStatus(path).getModificationTime)
      catch {
        case _: FileNotFoundException => None // released under us: retry create
        case _: IOException => None
      }
    mtime.foreach { m =>
      if (System.currentTimeMillis() - m > staleBarMs(readFullyUtf8(fs, path), ttlMs)) {
        val tomb = new Path(path.getParent,
          path.getName + ".broken-" + java.util.UUID.randomUUID())
        val won = try fs.rename(path, tomb) catch { case _: IOException => false }
        if (won) {
          // Re-judge on the tombstone: mtime rode along, the body is
          // stable, and nobody else renames this tombstone.
          val tm =
            try Some(fs.getFileStatus(tomb).getModificationTime)
            catch { case _: Exception => None }
          val staleForSure = tm.exists(t =>
            System.currentTimeMillis() - t > staleBarMs(readFullyUtf8(fs, tomb), ttlMs))
          if (staleForSure) {
            try fs.delete(tomb, false) catch { case _: Exception => () }
          } else {
            // We renamed a HEALTHY lease (the re-create race): put it
            // back. The restore must FAIL if the path was re-created
            // meanwhile — on local paths that means nio move WITHOUT
            // REPLACE_EXISTING (POSIX rename(2), which Hadoop's local
            // rename maps to, silently overwrites the destination and
            // would clobber the new holder's lease); HDFS rename
            // refuses an existing destination natively. On a failed
            // restore the tombstone is dropped — the displaced
            // holder's beat will find its token gone and stand down.
            val restored =
              if ("file".equalsIgnoreCase(fs.getScheme))
                try {
                  java.nio.file.Files.move(
                    java.nio.file.Paths.get(tomb.toUri.getPath),
                    java.nio.file.Paths.get(path.toUri.getPath))
                  true
                } catch { case _: Exception => false }
              else try fs.rename(tomb, path) catch { case _: Exception => false }
            if (!restored) {
              try fs.delete(tomb, false) catch { case _: Exception => () }
            } else if ("file".equalsIgnoreCase(fs.getScheme)) {
              // The raw nio move (needed for its no-REPLACE_EXISTING
              // semantics) bypasses ChecksumFileSystem, which tracks
              // local files via ".<name>.crc" sidecars: the earlier
              // Hadoop rename carried the sidecar to the tombstone
              // name, so after the move back the tombstone's sidecar
              // is orphaned and any crc left at the restored path is
              // stale (a mismatch fails later Hadoop reads). Drop
              // both, best-effort.
              dropLocalCrcSidecar(tomb)
              dropLocalCrcSidecar(path)
            }
          }
        }
      }
    }
  }
}
