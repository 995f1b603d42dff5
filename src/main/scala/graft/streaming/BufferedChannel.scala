package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Size-OR-time delivery buffering — the Firehose flush contract the
  * reference declares (5 MB or 60 s, whichever first:
  * iac/s2_app.py:810-815,323-341) and which Spark's time-only triggers
  * can't express (SURVEY §4 flagged this as the one custom piece).
  *
  * Mechanism: micro-batches append NDJSON part-files to a staging area
  * and bump a byte counter; when accumulated bytes reach `maxBytes` OR
  * the oldest staged batch is older than `maxAgeMillis`, all staged parts
  * are atomically promoted into one numbered delivery object directory —
  * reproducing Firehose's object-granularity output (one S3 object per
  * buffer flush), independent of the trigger cadence feeding it. A
  * background age tick delivers a stale partial buffer even when no
  * traffic arrives (Firehose flushes on time regardless of input).
  *
  * All file mechanics go through the Hadoop [[FileSystem]] API, so the
  * channel works unchanged on HDFS / S3A / local paths — promotion is
  * `fs.rename`, the 100 TB requirement for this sink.
  *
  * Restart-safety (at-least-once → effectively-once per channel):
  * - the object counter resumes past existing `object-*` dirs, so a new
  *   channel instance never merges into an already-delivered object;
  * - a persisted flushed-epoch watermark (`_flushed_watermark`) makes a
  *   replayed epoch that was ALREADY promoted a no-op instead of a
  *   duplicate delivery. One sink root belongs to one checkpoint lineage
  *   (epoch ids must be monotone — Structured Streaming's contract);
  * - a staged epoch dir counts once it is committed (`_SUCCESS`, the
  *   [[EpochStore.committed]] rule): a restart re-registers committed
  *   leftovers as complete epochs and deletes unmarked ones, whose
  *   batch never finished and is replayed. This holds on S3A too, where
  *   the staging rename is a copy and is not atomic.
  *
  * Driver state is only (per-epoch byte map, firstArrival, object
  * counter, watermark) — O(staged epochs); the data itself never
  * touches the driver.
  */
final class BufferedChannel(root: String, maxBytes: Long, maxAgeMillis: Long,
    hadoopConf: Configuration = new Configuration()) {

  private val rootPath = new Path(root)
  private val fs: FileSystem = rootPath.getFileSystem(hadoopConf)
  private val staging = new Path(rootPath, ".staging")
  private val watermarkFile = new Path(rootPath, "_flushed_watermark")

  @volatile private var firstArrivalMs: Long = -1L
  // Lock-free mirror of epochBytes.values.sum for monitoring: refreshed
  // at the END of every synchronized mutation region (one call site per
  // region — no per-mutation retraction arithmetic to get wrong), so
  // stagedBytes never blocks behind a stalled flush holding the monitor.
  @volatile private var stagedBytesCache: Long = 0L
  private val objectSeq = new AtomicLong(0L)
  // Per-epoch payload bytes: a replayed epoch overwrites its dir, so its
  // previous contribution must be retracted, not double-counted.
  private val epochBytes = scala.collection.mutable.Map.empty[Long, Long]
  // Highest epoch id already promoted to a delivery object; replays of
  // flushed epochs are skipped (they were delivered — re-staging them
  // would double-deliver on the next flush). Everything unreadable
  // degrades to "no watermark": at-least-once instead of an
  // unconstructible channel.
  @volatile private var flushedEpochWatermark: Long =
    BufferedChannel.readWatermarkFile(fs, watermarkFile)(None)

  fs.mkdirs(staging)
  // Resume the object counter past any objects a previous incarnation
  // delivered (fresh flushes must never merge into existing objects).
  objectSeq.set(existingObjectDirs.map(objectNumber).foldLeft(-1L)(math.max) + 1L)
  // Crash recovery: flush() promotes only REGISTERED epochs (see its
  // scaladoc), so staged dirs a crashed incarnation left behind must be
  // re-registered here or they would be orphaned forever. Construction
  // is single-threaded — the append/flush race the registration rule
  // guards against cannot occur yet. Only a COMMITTED dir counts
  // ([[EpochStore.committed]]; both staging paths write `_SUCCESS`
  // last): an unmarked one is an epoch whose batch never finished,
  // which Structured Streaming replays, so it is deleted. Epochs
  // at/below the persisted watermark were already delivered: their
  // leftovers (a crash mid-flush) are dropped, not double-delivered.
  listDirs(staging).map(_.getPath).foreach { d =>
    val id = scala.util.Try(d.getName.stripPrefix("epoch=").toLong).getOrElse(-1L)
    val recovered =
      if (id < 0 || id <= flushedEpochWatermark || !EpochStore.committed(fs, d)) 0L
      else partFiles(d).map(_.getLen).sum
    if (recovered > 0) {
      epochBytes(id) = recovered
      if (firstArrivalMs < 0) firstArrivalMs = System.currentTimeMillis()
    } else fs.delete(d, true)
  }
  refreshStagedBytes()

  private val ageTick: Option[ScheduledFuture[_]] =
    if (maxAgeMillis <= 0 || maxAgeMillis >= BufferedChannel.NoTickBeyondMs) None
    else {
      val period = math.max(maxAgeMillis / 2, 100L)
      Some(BufferedChannel.scheduler.scheduleWithFixedDelay(
        // A throw MUST NOT escape the Runnable: scheduleWithFixedDelay
        // suppresses every future execution after one, which would
        // silently void the "or 60 s" half of the flush contract on the
        // first transient IO failure. Flush is retry-safe (promoted
        // parts moved, the rest still staged and registered), so catch,
        // log, and let the next tick retry.
        () => try maybeFlush(System.currentTimeMillis())
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"BufferedChannel[$root] age-tick flush failed " +
              s"(will retry next tick): $e")
          },
        period, period, TimeUnit.MILLISECONDS))
    }

  /** Append one micro-batch worth of lines; flush if a threshold trips.
    * @param nowMs injectable clock for tests
    */
  def append(lines: DataFrame, epochId: Long,
      nowMs: () => Long = () => System.currentTimeMillis()): Unit =
    stage(epochId, nowMs)(dir => DeliveryPipeline.writeNdjson(lines, dir.toString))

  /** Stage one epoch: `place` puts the epoch's part files into the given
    * staging dir (writing them, or moving parts written elsewhere, and
    * replacing whatever a replay left there); then flush if a threshold
    * trips. The replay guard and the register step around `place` are
    * the same for every caller.
    */
  private[streaming] def stage(epochId: Long,
      nowMs: () => Long = () => System.currentTimeMillis())(place: Path => Unit): Unit = {
    // Replay guard + unregister in ONE synchronized block: with the
    // guard and the unregister in separate critical sections, an age-
    // tick flush slipping between them could promote the still-
    // registered epoch and advance the watermark — after which the
    // unchecked rewrite below would re-register the epoch and the next
    // flush would deliver it a second time. Under one lock the flush
    // either ran before (guard sees the advanced watermark → return) or
    // runs after the epoch is unregistered (skips it: promote-only-
    // registered). The unregister itself exists because a replay of a
    // REGISTERED epoch (re-run in this incarnation, or recovered from a
    // crashed one) overwrites its dir, and a concurrent flush must never
    // promote a dir whose overwrite is in flight — it would deliver a
    // partial part-set, delete the dir under the writer, and advance the
    // watermark past records that were never promoted.
    val alreadyFlushed = synchronized {
      val flushed = epochId <= flushedEpochWatermark && !epochBytes.contains(epochId)
      if (!flushed) {
        epochBytes.remove(epochId)
        if (epochBytes.isEmpty) firstArrivalMs = -1L
        refreshStagedBytes()
      }
      flushed
    }
    if (alreadyFlushed) return
    val dir = new Path(staging, s"epoch=$epochId")
    place(dir)
    // Only payload part-files count toward the size threshold (not
    // _SUCCESS markers or .crc checksums).
    val added = partFiles(dir).map(_.getLen).sum
    synchronized {
      if (epochId <= flushedEpochWatermark) {
        // Defense-in-depth re-check: if the watermark passed this epoch
        // while the write was in flight (cannot happen under a single
        // sequential micro-batch query, but can under a non-monotone
        // caller), registering now would deliver it a second time on the
        // next flush. Drop the rewrite instead — the epoch is covered by
        // the watermark, i.e. already delivered.
        fs.delete(dir, true)
      } else if (added == 0) {
        // Empty micro-batch (or an empty replay): don't accumulate empty
        // epoch dirs / map entries (idle streams tick every trigger).
        fs.delete(dir, true)
      } else {
        epochBytes(epochId) = added
        if (firstArrivalMs < 0) firstArrivalMs = nowMs()
      }
      refreshStagedBytes()
    }
    maybeFlush(nowMs())
  }

  /** Flush when size OR age threshold is met (Firehose: whichever first). */
  def maybeFlush(nowMs: Long): Boolean = synchronized {
    val aged = firstArrivalMs >= 0 && nowMs - firstArrivalMs >= maxAgeMillis
    if ((aged && epochBytes.nonEmpty) || epochBytes.values.sum >= maxBytes) {
      flush()
      true
    } else false
  }

  /** Promote every staged epoch into one numbered delivery object and
    * advance the watermark to the highest promoted epoch.
    *
    * Only epochs REGISTERED via `append()` (keys of `epochBytes`) are
    * promoted — never whatever happens to be under the staging dir. An
    * `append()` racing with this flush may have started its Spark write
    * (outside the lock) but not yet registered (fresh epoch) or have
    * unregistered itself first (replay overwrite); listing the directory
    * would promote that half-committed epoch, advance the watermark past
    * it, and make its replay a no-op — permanent record loss. The unre-
    * gistered dir simply stays staged and rides the next flush. Every
    * registered epoch is complete: it was staged by this incarnation,
    * or recovered only because its dir was committed.
    *
    * The object dir is created lazily on the first promoted part file —
    * a flush whose epochs hold zero parts publishes NO empty object (and
    * consumes no object number): Firehose never emits zero-record
    * objects.
    */
  def flush(): Unit = synchronized {
    val epochs = epochBytes.keys.toSeq.sorted
    if (epochs.nonEmpty) {
      var objDir: Path = null
      epochs.foreach { epochId =>
        val dir = new Path(staging, s"epoch=$epochId")
        partFiles(dir).foreach { f =>
          if (objDir == null) {
            objDir = new Path(rootPath, f"object-${objectSeq.getAndIncrement()}%06d")
            fs.mkdirs(objDir)
          }
          val dst = new Path(objDir, s"epoch=$epochId-${f.getPath.getName}")
          if (!fs.rename(f.getPath, dst))
            throw new java.io.IOException(
              s"BufferedChannel flush aborted: rename ${f.getPath} -> $dst failed")
        }
        fs.delete(dir, true)
        epochBytes.remove(epochId)
      }
      firstArrivalMs = -1L
      refreshStagedBytes()
      if (epochs.max > flushedEpochWatermark) {
        flushedEpochWatermark = epochs.max
        BufferedChannel.writeWatermarkFile(fs, watermarkFile, epochs.max)
      }
    }
  }

  /** Flush the tail and stop the age tick — the shutdown delivery. The
    * cancel is in a finally: a thrown shutdown flush must not leave the
    * dead channel ticking in the shared scheduler forever.
    */
  def close(): Unit =
    try flush()
    finally ageTick.foreach(_.cancel(false))

  def stagedBytes: Long = stagedBytesCache

  private def refreshStagedBytes(): Unit =
    stagedBytesCache = epochBytes.values.sum

  /** Delivery objects in delivery order. Sorted NUMERICALLY — the %06d
    * padding makes lexicographic == numeric only up to object-999999,
    * and the counter is unbounded across restarts.
    */
  def deliveredObjects: Seq[Path] = existingObjectDirs.sortBy(objectNumber)

  /** Only well-formed `object-<n>` dirs: a stray `object-tmp/` dropped
    * by an operator or tool is not a delivery object and must neither
    * crash construction nor perturb the resumed counter.
    */
  private def existingObjectDirs: Seq[Path] =
    listDirs(rootPath).map(_.getPath)
      .filter(p => objectNumber(p) >= 0L)

  private def objectNumber(p: Path): Long =
    if (!p.getName.startsWith("object-")) -1L
    else scala.util.Try(p.getName.stripPrefix("object-").toLong).getOrElse(-1L)

  private def listStatus(p: Path) =
    if (!fs.exists(p)) Seq.empty else fs.listStatus(p).toSeq

  private def partFiles(p: Path) =
    listStatus(p).filter(s => s.isFile && s.getPath.getName.startsWith("part-"))

  private def listDirs(p: Path) = listStatus(p).filter(_.isDirectory)
}

object BufferedChannel {
  /** Ages past this are "never" (test sentinels like Long.MaxValue/2) —
    * no background tick needed, and scheduling one would overflow the
    * executor's nano arithmetic.
    */
  private val NoTickBeyondMs: Long = 365L * 24 * 3600 * 1000

  /** A small shared daemon pool drives every channel's age tick — O(1)
    * threads regardless of channel count, but more than ONE: with a
    * single thread, one flush hung on a stalled remote rename (there is
    * no timeout in the flush path) would suspend the 60-second delivery
    * contract for every other channel in the process.
    */
  private lazy val scheduler = {
    val seq = new AtomicLong(0L)
    Executors.newScheduledThreadPool(4, r => {
      // Numbered names: a thread dump of the hung-flush scenario must
      // distinguish the stuck tick thread from the three healthy ones.
      val t = new Thread(r, s"graft-buffered-channel-age-tick-${seq.getAndIncrement()}")
      t.setDaemon(true)
      t
    })
  }

  private def tmpOf(p: Path) = new Path(p.getParent, p.getName + ".tmp")

  /** Crash-safe replace of the one-number state file `p` (this
    * channel's flush watermark, [[EpochStore]]'s replay fence): write
    * the value newline-terminated to a sibling tmp, delete `p`, rename
    * the tmp into place. `p` is only ever rename-complete, and the
    * crash window between delete and rename is covered by
    * [[readWatermarkFile]]'s tmp fallback.
    */
  private[streaming] def writeWatermarkFile(fs: FileSystem, p: Path, wm: Long): Unit = {
    val tmp = tmpOf(p)
    val out = fs.create(tmp, true)
    try out.write(s"$wm\n".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"watermark persist failed: rename $tmp -> $p")
  }

  /** Reads max(main, valid tmp) of a [[writeWatermarkFile]] file, -1
    * when neither holds a value: the swap is delete-old + rename-tmp
    * (HDFS rename won't overwrite), so a crash between the two leaves
    * ONLY the tmp — ignoring it would drop the watermark entirely. The
    * tmp is trusted only when terminator-complete (crash mid-tmp-write
    * leaves "12" of "123\n", which parses to a WRONG value — the
    * newline proves the write finished); max() keeps monotonicity when
    * a stale tmp from an older crash coexists with a newer main.
    * `unreadableMain` is what a missing or unparsable main counts as.
    */
  private[streaming] def readWatermarkFile(fs: FileSystem, p: Path)(
      unreadableMain: => Option[Long]): Long = {
    def parse(f: Path, requireTerminator: Boolean): Option[Long] =
      readFullyUtf8(fs, f).flatMap { s =>
        if (requireTerminator && !s.endsWith("\n")) None
        else scala.util.Try(s.trim.toLong).toOption // torn write → None
      }
    (parse(p, requireTerminator = false).orElse(unreadableMain).toSeq ++
      parse(tmpOf(p), requireTerminator = true).toSeq)
      .foldLeft(-1L)(math.max)
  }

  /** Whole-file UTF-8 read that degrades to None on ANY failure —
    * missing file, checksum error, concurrent deletion between the
    * exists check and the open (the small-state-file protocol shared by
    * the flush watermark, [[EpochStore]]'s compaction manifest and the
    * [[MaintenanceLease]] body).
    */
  private[streaming] def readFullyUtf8(fs: FileSystem, p: Path): Option[String] =
    scala.util.Try {
      if (!fs.exists(p)) None
      else {
        val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        val in = fs.open(p)
        try in.readFully(0, buf) finally in.close()
        Some(new String(buf, StandardCharsets.UTF_8))
      }
    }.toOption.flatten
}
