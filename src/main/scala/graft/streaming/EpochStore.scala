package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generic per-epoch parquet store with crash-safe compaction — the
  * storage discipline behind every incrementally-maintained artifact
  * here: the delivery index in [[IndexSink]], the live monitors
  * [[LiveSketch]] and [[LiveRates]], and the versioned stores
  * [[LiveTextIndex]], [[LiveSpanDedup]] and [[LiveNearDedup]], whose
  * sibling stores share one marker-activated protocol in
  * [[StoreFamily]]. One root directory holds `epoch=<id>`
  * subdirectories, each written once by a delivery (or maintenance)
  * pass. ONE completeness rule: an `epoch=<id>` dir counts once its
  * `_SUCCESS` marker is present ([[committed]] — Spark writes it last,
  * at job commit). Readers list the root once ([[readAll]]) and read
  * exactly the listed dirs; compaction folds exactly those, so a write
  * in flight is neither read nor folded, fenced or deleted. Compaction
  * replaces the epoch history with one resolved snapshot under the
  * same manifest + lease protocol [[IndexSink]] proved out:
  *
  *  - the snapshot is written OUTSIDE the root (`<root>.compact.tmp`),
  *    then renamed in under a fresh `epoch=compact-<gen>` name BEFORE
  *    the old epoch dirs are deleted, so the store is readable at
  *    every instant;
  *  - an in-flight manifest (`<root>.compact.inflight`, END-terminated)
  *    written after the rename and the commit hooks lets [[heal]]
  *    finish a crashed compaction's deletions — resolution semantics
  *    must therefore tolerate snapshot + victim epochs coexisting
  *    (rows duplicated with their original epoch values), which every
  *    resolver here does by construction (latest-wins keeps one
  *    winner; additive counts are re-resolved per read);
  *  - a cross-process [[MaintenanceLease]] (`<root>.maintenance.lease`)
  *    plus a JVM-local lock serialize maintenance mutations; readers
  *    stay unserialized.
  *
  * What is PLUGGABLE per store is only the resolution semantics
  * (`resolve`: collapse the epoch history to the snapshot content) and
  * the snapshot layout (`writeSnapshot`: partitioning / sort of the
  * snapshot files — e.g. term-clustered for a postings store). The
  * crash protocol is deliberately NOT pluggable: it is the part that
  * has to be right once.
  */
object EpochStore {

  import org.apache.hadoop.fs.{FileSystem, Path}

  /** OUTSIDE the store root, like `.compact.tmp`: a manifest inside the
    * root would be expanded by the raw-read star-glob as an explicit
    * root path (exempt from the hidden-file filter) and fail parquet
    * footer reads for the whole rename-to-deletion window.
    */
  private def manifestPath(root: String) =
    new Path(root.stripSuffix("/") + ".compact.inflight")

  /** Sibling of the manifest, for the same star-glob reason. */
  private[streaming] def leasePath(root: String) =
    new Path(root.stripSuffix("/") + ".maintenance.lease")

  /** One JVM-local lock per store root serializes compact() and the
    * heals embedded in read entries within THIS process — cheap, and it
    * also keeps same-process sessions from contending on the
    * cross-process [[MaintenanceLease]] underneath it. Unbounded growth
    * is not a concern: one entry per distinct store root ever touched.
    */
  private val maintenanceLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Target rows per snapshot output partition for [[writeKeyedSnapshot]].
    * 8M short key rows ≈ 100–200 MB of parquet — comfortable task-size
    * at write AND read.
    */
  private[graft] val SnapshotRowsPerPartition: Long = 8L * 1000 * 1000

  /** Snapshot writer for stores whose resolved size is O(keys) — e.g. a
    * doc-version store with one row per live document. A fixed
    * `repartition(1)` there means ONE task rewrites the entire store at
    * every compaction (at corpus scale: a single writer over ~10⁹
    * rows); a fixed high count means thousands of near-empty files for
    * small stores. Instead: hash-partition by `key` with a count derived
    * from the ACTUAL resolved row count (one cached count — the frame is
    * about to be written anyway, so the cache is not wasted work),
    * targeting `rowsPerPart` rows per file. Hash-keyed so a later
    * per-key lookup can prune files once sorted within partitions by
    * the same key.
    */
  private[graft] def writeKeyedSnapshot(df: DataFrame, tmp: String, key: String,
      rowsPerPart: Long = SnapshotRowsPerPartition): Unit = {
    import org.apache.spark.sql.functions.col
    val cached = df.persist()
    try {
      val n = cached.count()
      val parts = math.max(1L, (n + rowsPerPart - 1) / rowsPerPart)
        .min(1L << 20).toInt
      cached.repartition(parts, col(key)).sortWithinPartitions(key)
        .write.mode("overwrite").parquet(tmp)
    } finally cached.unpersist(blocking = false)
  }
  private def maintenanceLock(root: String): Object =
    maintenanceLocks.computeIfAbsent(root.stripSuffix("/"), _ => new Object)

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Every `epoch=` directory of the store, committed or not. */
  private def listRaw(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("epoch="))

  private def epochId(dir: Path): Option[Long] =
    scala.util.Try(dir.getName.stripPrefix("epoch=").toLong).toOption

  /** THE completeness rule for an epoch directory: it counts once its
    * `_SUCCESS` marker is present. Spark creates a write's output
    * directory at job setup and writes `_SUCCESS` last, at job commit;
    * [[DeliveryPipeline]]'s placement writes it after the move. A probe
    * fault reads as "not yet committed", the safe direction.
    */
  private[streaming] def committed(fs: FileSystem, dir: Path): Boolean =
    try fs.exists(new Path(dir, "_SUCCESS"))
    catch { case _: java.io.IOException => false }

  /** The store's epoch directories that count: every snapshot
    * (`epoch=compact-<gen>`, renamed in whole) and every numeric
    * directory that is [[committed]]. Reads, compactions and activation
    * all see this one set, so a write in flight is invisible to each of
    * them until it commits.
    */
  private[streaming] def listEpochs(fs: FileSystem, root: Path): Seq[Path] =
    listRaw(fs, root).filter(d => epochId(d).isEmpty || committed(fs, d))

  /** All of a store's epoch dirs as one frame — explicit paths from a
    * point-in-time listing (a bare root glob could not distinguish "no
    * store yet" from a listing fault), explicit schema so epoch dirs
    * whose delta was empty (zero files) and an entirely-empty store
    * both read cleanly. This is the ONE read rule every store shares.
    */
  def readAll(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val (fs, p) = fsOf(spark, root)
    val epochs = listEpochs(fs, p)
    if (epochs.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(epochs.map(_.toString): _*)
  }

  /** [[readAll]] with the schema inferred from the files (the delivery
    * index: payload plus `enrich` columns). A glob read of the root
    * would log a failed streaming-metadata probe at WARN on every read.
    */
  private[graft] def readEpochs(spark: SparkSession, root: String): DataFrame = {
    val (fs, p) = fsOf(spark, root)
    spark.read.parquet(listEpochs(fs, p).map(_.toString): _*)
  }

  /** The store's epoch directory NAMES — a pure listing, no data read.
    * Used to tell "store never existed / empty" apart from "store
    * populated" when choosing a legacy fallback or backfill path.
    */
  private[streaming] def epochDirNames(spark: SparkSession, root: String): Seq[String] = {
    val (fs, p) = fsOf(spark, root)
    listEpochs(fs, p).map(_.getName)
  }
  private[streaming] def hasEpochDirs(spark: SparkSession, root: String): Boolean =
    epochDirNames(spark, root).nonEmpty

  private def watermarkPath(root: String) =
    new Path(root.stripSuffix("/") + ".compacted.watermark")

  /** The highest epoch id a compaction has ever folded out of this
    * store (-1 when none): the REPLAY FENCE. An epoch is only folded
    * after its activation marker proved the delivery complete — so an
    * at-least-once streaming replay of an epoch ≤ this value must be a
    * NO-OP: its content already lives in snapshots, and re-deriving it
    * would read post-compaction state (superseded doc versions gone,
    * history folded) and write rows that disagree with what was
    * folded. Delta writers check this before writing; [[compact]]
    * advances it via `onCommit` while still holding the lease, BEFORE
    * the victim deletions (so the fence covers an epoch from before
    * the moment the snapshot becomes its only copy).
    *
    * An EXISTING-but-unreadable watermark file THROWS instead of
    * defaulting: the value now also gates read-side activation (which
    * stats deltas count) and compaction eligibility, so "guess -1"
    * would not merely re-expose pre-watermark replay behavior — it
    * would silently drop every folded epoch's delta from query
    * results. A transient read fault should fail the one operation
    * loudly and retryably, not mis-resolve it. A PERSISTENTLY corrupt
    * fence file needs operator repair (rewrite it with the true
    * highest folded epoch): no automatic overwrite is safe, because a
    * guessed-low value silently re-opens the replay window for every
    * epoch between the guess and the lost truth — the exact corruption
    * the fence exists to stop.
    */
  def readWatermark(spark: SparkSession, root: String): Long = {
    val (fs, _) = fsOf(spark, root)
    val p = watermarkPath(root)
    BufferedChannel.readWatermarkFile(fs, p) {
      if (fs.exists(p)) throw new java.io.IOException(
        s"unreadable compaction watermark $p — refusing to guess: a " +
          "stale fence would silently mis-resolve folded epochs")
      None
    }
  }

  /** Monotonic advance of the replay fence — call only while holding
    * the store's maintenance lease (compact's `onCommit` does), so
    * concurrent read-modify-writes cannot regress it. Written through
    * the flush watermark's tmp + rename protocol, so a crash mid-write
    * never leaves a torn fence.
    */
  def advanceWatermark(spark: SparkSession, root: String, epoch: Long): Unit = {
    val (fs, _) = fsOf(spark, root)
    if (epoch <= readWatermark(spark, root)) return
    BufferedChannel.writeWatermarkFile(fs, watermarkPath(root), epoch)
  }

  /** The replay-fence check every delta writer makes: `epoch` was not
    * yet folded out of the store at `root`, so writing it is not a
    * no-op.
    */
  def aboveFence(spark: SparkSession, root: String, epoch: Long): Boolean =
    epoch > readWatermark(spark, root)

  /** [[compact]]'s `onCommit` for a fenced store: advance the store's
    * replay fence to the highest folded epoch.
    */
  def foldFence(spark: SparkSession, root: String): Seq[Long] => Unit =
    folded => folded.reduceOption(_ max _).foreach(advanceWatermark(spark, root, _))

  /** Point-in-time operational snapshot of one store — pure metadata
    * (listings, file probes), no data read. What an operator checks
    * before trusting or maintaining a store: how much un-folded
    * history queries are paying for (`deltaEpochs`, the committed
    * numeric dirs, vs `snapshotGenerations`), whether an epoch write is
    * in flight or died mid-job (`uncommittedEpochs` — numeric dirs
    * without `_SUCCESS`, which no read or compaction sees; an in-flight
    * DELIVERY instead shows as a data store leading its marker store's
    * epoch count), whether a crashed
    * compaction awaits healing (`inflightManifest`), where the replay
    * fence stands, and whether a maintainer currently holds the lease.
    */
  final case class Status(
      root: String,
      deltaEpochs: Int,
      snapshotGenerations: Int,
      uncommittedEpochs: Int,
      watermark: Long,
      inflightManifest: Boolean,
      leaseHeld: Boolean)

  /** [[Status]] for the store at `root`. `leaseHeld` is advisory (a
    * point-in-time existence probe — the holder may release or expire
    * the next instant); everything else is exact at listing time.
    */
  def status(spark: SparkSession, root: String): Status = {
    val (fs, p) = fsOf(spark, root)
    val (numeric, snapshots) = listRaw(fs, p).partition(epochId(_).nonEmpty)
    val deltas = numeric.count(committed(fs, _))
    Status(
      root = root,
      deltaEpochs = deltas,
      snapshotGenerations = snapshots.size,
      uncommittedEpochs = numeric.size - deltas,
      watermark = readWatermark(spark, root),
      inflightManifest = fs.exists(manifestPath(root)),
      leaseHeld = fs.exists(leasePath(root)))
  }

  /** Serialize a MULTI-STORE maintenance pass across processes: hold
    * ONE lease at the INDEX root (`<indexRoot>.maintenance.lease` — a
    * sibling of the store roots nested under it, so it never collides
    * with their per-store leases) for the whole of `body`. The
    * per-store [[compact]] protocol serializes compactions of ONE
    * store, but an index made of sibling stores (postings + doclen,
    * occ + counts + docs) resolves each store AGAINST its siblings —
    * process A compacting the postings store reads doclen epoch dirs
    * that process B's concurrent doclen compaction may delete mid-job,
    * failing A's snapshot read (before any mutation, so retryable, but
    * a failure a coordinator-level lease removes entirely). Callers
    * take THIS lease first, then the per-store leases inside — a
    * strict outer-then-inner order on distinct paths, so no deadlock;
    * readers and delta writers take neither and stay unserialized.
    * Waits like [[compact]] does and THROWS past the timeout rather
    * than proceeding unserialized.
    */
  def withIndexLease[T](spark: SparkSession, indexRoot: String,
      leaseTtlMs: Long = MaintenanceLease.DefaultTtlMs,
      leaseTimeoutMs: Long = MaintenanceLease.DefaultAcquireTimeoutMs)
      (body: => T): T = maintenanceLock(indexRoot).synchronized {
    val (fs, _) = fsOf(spark, indexRoot)
    val lease = MaintenanceLease.acquire(fs, leasePath(indexRoot),
      ttlMs = leaseTtlMs, timeoutMs = leaseTimeoutMs)
      .getOrElse(throw new java.io.IOException( // reachable only at timeout=0
        s"index maintenance lease unavailable for $indexRoot"))
    try body finally lease.close()
  }

  /** DETERMINISTIC one-row-per-key pick: the row with the greatest
    * `order` value. Replay stability is the point: `dropDuplicates`
    * keeps whichever row a partition surfaces first, so a replayed
    * epoch could land DIFFERENT content, which would then coexist with
    * a compaction's folded copy of the first attempt. [[IndexSink]]'s
    * version rule (`registerLatestView`, `liveVectors`, `compact`)
    * orders by that rule; the live stores order by `_epoch` alone
    * (their rows are key-unique per epoch, so only the identical copies
    * of a crashed compaction's snapshot+victim window tie, and
    * row_number still keeps ONE). The epoch body marks the same pick
    * with [[flagOnePerKey]], so the live stores get key-unique input.
    */
  def onePerKey(df: DataFrame, key: String,
      order: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.col
    flagOnePerKey(df, key, order, "_rn").filter(col("_rn")).drop("_rn")
  }

  /** [[onePerKey]]'s pick as a boolean column `flag`; every row stays. */
  private[streaming] def flagOnePerKey(df: DataFrame, key: String,
      order: org.apache.spark.sql.Column, flag: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    df.withColumn(flag,
      row_number().over(Window.partitionBy(key).orderBy(order.desc)) === 1)
  }

  /** Finish a compaction that crashed between its snapshot rename and
    * its epoch deletions: if the in-flight manifest names a snapshot
    * that exists, the listed victim epochs are duplicates of snapshot
    * rows — delete any that remain. A manifest without its END
    * terminator is an incomplete write from a crash BEFORE the rename
    * (the rename only runs after the manifest is fully persisted): its
    * victim list cannot be trusted and nothing was renamed, so it is
    * simply discarded. A manifest that cannot be READ (readFullyUtf8
    * None on an existing path: checksum error, transient FS fault) is
    * NOT discarded — it may be a perfectly valid manifest whose victim
    * deletions are still pending, and deleting it would leave the
    * duplicate-masking resolution as the only defense until the next
    * full compact; the heal simply retries at the next entry.
    * Idempotent; no-op when no manifest exists.
    *
    * Serialized against [[compact]] at TWO scopes: the JVM-local lock
    * and the cross-process [[MaintenanceLease]] — a reader's heal
    * racing a LIVE compaction would otherwise read — and then delete —
    * the manifest the compaction is still relying on, re-opening the
    * crash window the manifest exists to close. The read-path heal is
    * OPPORTUNISTIC about the lease (try-once, no wait): a held-fresh
    * lease means a live maintainer that will finish its own deletions,
    * and a read must not block behind (or fail because of) it; a
    * crashed maintainer's lease goes TTL-stale and the next read
    * breaks it and heals. Readers themselves stay unserialized, as
    * always — the lease protects maintenance mutations, not scans.
    */
  def heal(spark: SparkSession, root: String): Unit = {
    val (fs, rootPath) = fsOf(spark, root)
    // Fast path OUTSIDE the locks: no manifest, nothing to heal — the
    // common case for every read entry on a healthy store.
    if (!fs.exists(manifestPath(root))) return
    maintenanceLock(root).synchronized {
      MaintenanceLease.acquire(fs, leasePath(root), timeoutMs = 0)
        .foreach { lease =>
          try healLocked(fs, rootPath, root) finally lease.close()
        }
    }
  }

  /** The heal body — caller must hold the JVM lock AND the lease. */
  private def healLocked(fs: FileSystem, root: Path, rootStr: String): Unit = {
    val mf = manifestPath(rootStr)
    if (!fs.exists(mf)) return
    BufferedChannel.readFullyUtf8(fs, mf).foreach { text =>
      val lines = text.split("\n", -1).toSeq.dropRight(1) // trailing \n
      if (lines.length >= 2 && lines.last == "END") {
        val snapshot = lines.head
        val victims = lines.tail.dropRight(1)
        if (fs.exists(new Path(root, snapshot)))
          victims.foreach(v => fs.delete(new Path(root, v), true))
      }
      // Spent (or torn-and-untrusted) — only now that the read
      // SUCCEEDED. On a read failure the manifest survives for the
      // next heal attempt (see scaladoc).
      fs.delete(mf, false)
    }
  }

  /** Replace the epoch history with one resolved snapshot.
    *
    * Crash-safe ordering (rename → onCommit → manifest → deletions):
    * the snapshot moves IN (under a fresh unique `epoch=compact-<gen>`
    * name) BEFORE the old epoch dirs are deleted, so the store is
    * readable at every instant — never a window where the only copy
    * sits outside the read glob. A crash mid-deletion leaves snapshot
    * + some old epochs coexisting; the in-flight manifest (written
    * after the rename AND after `onCommit` — see the commit-order
    * comment in the body) lets [[heal]] (run at every compact / read
    * entry) finish the deletions. Stale `.compact.tmp` from a crashed
    * attempt is dropped at entry.
    *
    * Concurrency-safe vs a live delivery query: the victims are the
    * COMMITTED epoch dirs ([[listEpochs]]), listed ONCE, up front, and
    * both the snapshot read and the deletion use exactly that set. A
    * write still in flight at the listing has no `_SUCCESS` yet, so it
    * is neither read, fenced nor deleted; an epoch delivered while the
    * snapshot is being written is not listed at all. Both simply ride
    * until the next compaction.
    *
    * Cross-process exclusivity for the WHOLE maintenance window (heal
    * through deletions): a compaction WAITS for the lease — and throws
    * past the timeout rather than proceeding unserialized (two
    * compactors listing, snapshotting, and deleting the same epochs
    * would lose whichever epochs landed between their listings).
    *
    * @param resolve collapse the listed epoch history (read as one
    *                DataFrame) to the snapshot content; must tolerate
    *                snapshot-plus-victims coexistence on later reads
    * @param writeSnapshot write the resolved frame to the given tmp
    *                      path (store-specific partitioning / sort)
    * @param epochEligible extra victim predicate over a NUMERIC epoch
    *                      id (prior `epoch=compact-*` snapshots are
    *                      always eligible — their content was already
    *                      judged). Stores whose rows are ACTIVATED by a
    *                      marker in a SIBLING store pass their family's
    *                      activation here ([[StoreFamily]]): a committed
    *                      data dir whose marker has not committed yet
    *                      (an in-flight delivery) would otherwise be
    *                      resolved as content-less — dropped from the
    *                      snapshot AND deleted, permanent loss.
    *                      Ineligible dirs are neither read nor deleted;
    *                      they ride.
    * @param onCommit invoked with the NUMERIC victim epoch ids once
    *                 the renamed snapshot has made their folding
    *                 durable, still under the lease and BEFORE any
    *                 victim deletion — the hook [[foldFence]]
    *                 fills. The fence must cover an epoch before
    *                 its directories can die; advancing after the
    *                 deletions would leave a crash window in which a
    *                 replay re-derives a destroyed epoch from
    *                 post-fold state.
    * @return rows in the snapshot, 0 when the store was empty
    */
  def compact(spark: SparkSession, root: String,
      resolve: DataFrame => DataFrame,
      writeSnapshot: (DataFrame, String) => Unit,
      leaseTtlMs: Long = MaintenanceLease.DefaultTtlMs,
      leaseTimeoutMs: Long = MaintenanceLease.DefaultAcquireTimeoutMs,
      epochEligible: Long => Boolean = _ => true,
      onCommit: Seq[Long] => Unit = _ => ()): Long =
      maintenanceLock(root).synchronized {
    val (fs, rootPath) = fsOf(spark, root)
    val lease = MaintenanceLease.acquire(fs, leasePath(root),
      ttlMs = leaseTtlMs, timeoutMs = leaseTimeoutMs)
      .getOrElse(throw new java.io.IOException( // unreachable: timeout>0 throws
        s"maintenance lease unavailable for $root"))
    try compactLeased(spark, root, rootPath, fs, resolve, writeSnapshot,
      epochEligible, onCommit)
    finally lease.close()
  }

  /** The NUMERIC epochs of the store's [[committed]] dirs. For a
    * marker store this is the proof-of-delivery set even when the
    * delivery had ZERO rows: the marker is written last, so a committed
    * marker dir means every sibling data dir of that epoch is complete.
    */
  def committedEpochs(spark: SparkSession, root: String): Set[Long] = {
    val (fs, p) = fsOf(spark, root)
    listEpochs(fs, p).flatMap(epochId).toSet
  }

  /** The compaction body — caller holds the JVM lock AND the lease. */
  private def compactLeased(spark: SparkSession, rootStr: String, root: Path,
      fs: FileSystem, resolve: DataFrame => DataFrame,
      writeSnapshot: (DataFrame, String) => Unit,
      epochEligible: Long => Boolean,
      onCommit: Seq[Long] => Unit): Long = {
    healLocked(fs, root, rootStr) // finish a crashed predecessor first
    val tmp = new Path(rootStr.stripSuffix("/") + ".compact.tmp")
    fs.delete(tmp, true)
    val old = listEpochs(fs, root).filter(d => epochId(d).forall(epochEligible))
    if (old.isEmpty) return 0L
    writeSnapshot(resolve(spark.read.parquet(old.map(_.toString): _*)),
      tmp.toString)
    val gen = 1L + old.map(_.getName)
      .filter(_.startsWith("epoch=compact-"))
      .map(n => scala.util.Try(n.stripPrefix("epoch=compact-").toLong).getOrElse(0L))
      .foldLeft(0L)(math.max)
    val snapshot = new Path(root, s"epoch=compact-$gen")
    if (!fs.rename(tmp, snapshot))
      throw new java.io.IOException(
        s"compact aborted: rename $tmp -> $snapshot failed")
    // COMMIT ORDER — rename, onCommit, manifest, deletions — so that by
    // the time any victim dir can die (here, or in a later heal), every
    // commit-time consequence is already durable. onCommit (the
    // watermark advance) MUST precede the deletions: the fence promises
    // "epoch folded ⇒ replay no-ops", and a crash that destroyed a
    // victim before advancing the fence would let the replay re-derive
    // the epoch from post-fold state — exactly the divergence the fence
    // exists to stop. The manifest in turn lands only AFTER onCommit,
    // because heal replays deletions from it with no knowledge of
    // onCommit: a manifest armed before the advance would let a heal
    // delete victims whose folding the fence never heard about. The
    // price is a narrow rename→manifest crash window with snapshot and
    // victims coexisting and nothing to trigger cleanup — safe
    // (duplicate-tolerant resolution masks the rows) and self-limiting
    // (the next compaction lists both, re-resolves, and retires them).
    onCommit(old.flatMap(epochId))
    val mf = manifestPath(rootStr)
    val out = fs.create(mf, true)
    try out.write((snapshot.getName +: old.map(_.getName) :+ "END")
      .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    old.foreach(p => fs.delete(p, true))
    fs.delete(mf, false) // deletions complete — the manifest is spent
    // Count the snapshot dir itself, not the whole glob: cheaper, and
    // correct when concurrent epochs landed during compaction.
    spark.read.parquet(snapshot.toString).count()
  }
}
