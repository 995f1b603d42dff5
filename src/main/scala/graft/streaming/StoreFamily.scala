package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** The versioned-store protocol, written once: a family of sibling
  * [[EpochStore]]s under one root, made current by one MARKER
  * sub-store of (doc_id, _epoch) rows. [[LiveTextIndex]] (marker
  * `doclen`), [[LiveSpanDedup]] and [[LiveNearDedup]] (marker `docs`)
  * declare only their sub-stores and derive their epochs' rows; the
  * crash protocol below is theirs by construction. [[LiveSketch]] is a
  * marker-less family: it uses only the family lease and per-store
  * fences.
  *
  *  - MARKER LAST ([[writeMarker]]): an epoch's data sub-stores are
  *    written first, its marker last, so the marker ACTIVATES the
  *    epoch — a reader between the writes sees the previous consistent
  *    state, and a crash leaves the data invisible until the streaming
  *    replay completes the delivery.
  *  - CURRENCY ([[current]]): a data row counts iff its `_epoch` is its
  *    doc's latest marker epoch. The marker, not data presence, is the
  *    authority: a re-delivered doc may emit no data rows at all and
  *    must still retire its previous version's rows.
  *  - ACTIVATION ([[activated]]): an epoch counts once it is at or
  *    below the marker's fence, or the marker's `epoch=e` dir is
  *    committed ([[EpochStore.committed]]). The marker is written last,
  *    so a committed marker means the epoch's data is complete; epochs
  *    are written serially, so an epoch at or below the fence had its
  *    marker land.
  *  - REPLAY FENCE ([[writeEpoch]]): an epoch at or below the marker
  *    store's compaction watermark was folded; its replay is a no-op.
  *    A replay whose marker already landed may be activated, so it
  *    takes the family lease and re-reads the fence under it.
  *  - HEAL AT ENTRY ([[writeEpoch]]): every sub-store finishes a
  *    crashed compaction's deletions before the epoch's body reads
  *    anything, so a snapshot and its victim dirs never both count.
  *  - SUPERSEDED VERSIONS ([[superseded]]): each re-delivered doc's
  *    latest marker row strictly before the epoch — what the epoch
  *    retires. Strictly before keeps a replay idempotent: the epoch's
  *    own landed marker never supersedes itself.
  *  - COMPACTION ([[compact]]): one family lease for the whole pass;
  *    the activation is read once; sub-stores fold in declaration
  *    order, each over activated epochs only.
  *
  * Epochs must be written serially in increasing order — the
  * `foreachBatch` contract every store here assumes.
  */
private[streaming] final case class StoreFamily(root: String,
    subs: StoreFamily.Sub*) {
  import StoreFamily._

  def rootOf(sub: Sub): String = root.stripSuffix("/") + "/" + sub.name
  def dir(sub: Sub, epoch: Long): String = s"${rootOf(sub)}/epoch=$epoch"
  def readAll(spark: SparkSession, sub: Sub,
      idType: DataType = StringType): DataFrame =
    EpochStore.readAll(spark, rootOf(sub), sub.schema(idType))

  private def marker: Sub = subs.find(_.fold == Marker).getOrElse(
    throw new IllegalStateException(s"store family $root has no marker"))

  /** Run one epoch's delta `body` unless the fence says the epoch was
    * folded, healing every sub-store first. A replay whose marker
    * already landed takes the family lease (serializing against
    * compaction only — a rare restart path, never the hot delivery
    * path) and re-checks the fence under it: the epoch is
    * activation-eligible, so a concurrent compaction could otherwise
    * fold it between the fence check and the body's reads or
    * overwrites. First deliveries need no lease: an unmarked epoch is
    * never folded out from under its writer.
    *
    * CHECK ORDER MATTERS: marker first, fence second. Compaction
    * advances the watermark BEFORE deleting a folded epoch's dirs
    * ([[EpochStore.compact]]'s commit order), so "marker absent" at the
    * probe means either never delivered (safe lease-free) or already
    * folded — and then the fence read after the probe sees the fold.
    * Probing after the fence would leave a window where the fold lands
    * in between and the replay proceeds lease-free on a stale fence.
    * The heals run inside the family lease, so the lease order is the
    * compaction's: family first, then each sub-store's.
    */
  def writeEpoch(spark: SparkSession, epoch: Long)(body: => Unit): Unit = {
    val probe = new org.apache.hadoop.fs.Path(dir(marker, epoch))
    def fencedBody(): Unit = if (EpochStore.aboveFence(spark, rootOf(marker), epoch)) {
      subs.foreach(s => EpochStore.heal(spark, rootOf(s)))
      body
    }
    if (probe.getFileSystem(spark.sessionState.newHadoopConf()).exists(probe))
      EpochStore.withIndexLease(spark, root)(fencedBody())
    else fencedBody()
  }

  /** The epoch's marker rows (`doc_id` plus any marker payload), written
    * LAST. Keyed, so a corpus-scale epoch's marker — one short row per
    * delivered doc — never funnels through one or two writer tasks.
    */
  def writeMarker(rows: DataFrame, epoch: Long, shards: Int): Unit =
    rows.withColumn("_epoch", lit(epoch))
      .repartition(math.max(1, shards / 2), col("doc_id"))
      .write.mode("overwrite").parquet(dir(marker, epoch))

  /** Latest marker row per doc — the currency authority. */
  def latest(spark: SparkSession, idType: DataType = StringType): DataFrame =
    EpochStore.onePerKey(readAll(spark, marker, idType), "doc_id", col("_epoch"))

  /** The versions `epoch` supersedes: for each doc of `docs` (a
    * `doc_id` column) delivered before, its latest marker row strictly
    * below `epoch`, payload included. The join runs first, so the
    * window covers the epoch's re-delivered docs only.
    */
  def superseded(spark: SparkSession, docs: DataFrame, epoch: Long,
      idType: DataType = StringType): DataFrame =
    EpochStore.onePerKey(readAll(spark, marker, idType)
        .filter(col("_epoch") < epoch)
        .join(docs.select("doc_id"), Seq("doc_id")),
      "doc_id", col("_epoch"))

  /** The family's [[Activation]] now. The marker dirs are listed BEFORE
    * the fence is read: a compaction advances the fence before it
    * deletes a folded marker dir, so an epoch is never missed by both.
    */
  def activated(spark: SparkSession): Activation = {
    val committed = EpochStore.committedEpochs(spark, rootOf(marker))
    Activation(EpochStore.readWatermark(spark, rootOf(marker)), committed)
  }

  /** The current rows of data sub-store `sub`: heal-at-entry, then the
    * currency join. The marker is listed BEFORE the data: an epoch
    * landing in between then shows data without a marker (invisible),
    * never a marker without its data. `dedup` collapses the identical
    * rows a crashed compaction's snapshot+victim window leaves, keyed by
    * the sub-store's identity columns.
    */
  def current(spark: SparkSession, sub: Sub,
      idType: DataType = StringType, dedup: Boolean = true): DataFrame = {
    EpochStore.heal(spark, rootOf(sub))
    EpochStore.heal(spark, rootOf(marker))
    val cur = latest(spark, idType)
    resolve(readAll(spark, sub, idType), cur, sub, dedup)
  }

  private def resolve(data: DataFrame, cur: DataFrame, sub: Sub,
      dedup: Boolean): DataFrame = {
    val live = data
      .join(cur.select(col("doc_id"), col("_epoch").as("_cur")), Seq("doc_id"))
      .filter(col("_epoch") === col("_cur")).drop("_cur")
    sub.fold match {
      case Current(identity) if dedup => live.dropDuplicates(identity)
      case _ => live
    }
  }

  /** Operational snapshot keyed by sub-store name — pure metadata
    * ([[EpochStore.status]]); an optional sub-store appears only once it
    * has epoch dirs.
    */
  def status(spark: SparkSession): Map[String, EpochStore.Status] =
    subs.filter(s => !s.optional || EpochStore.hasEpochDirs(spark, rootOf(s)))
      .map(s => s.name -> EpochStore.status(spark, rootOf(s))).toMap

  /** Fold every sub-store's epoch history into one snapshot each (crash
    * protocol in [[EpochStore.compact]]), in declaration order, under
    * ONE family-level lease ([[EpochStore.withIndexLease]]): a data
    * store resolves against the marker's epoch dirs, which a concurrent
    * marker compaction in another process could delete mid-read — the
    * per-store leases cannot see across stores.
    *
    * In a family with a marker, the [[activated]] epochs are read once,
    * up front, and every sub-store folds only those: an in-flight
    * epoch's data dir (marker not yet committed) resolved against a
    * currency that does not know it would drop every row from the
    * snapshot and then delete the only copy. Markers committing later
    * exclude their epochs from this pass — the safe direction;
    * ineligible dirs ride to the next compaction, and snapshot rows
    * keep their `_epoch`, so reads resolve any mix of snapshot and
    * deltas. Per fold kind:
    *
    *  - [[Current]]: resolved by currency;
    *  - [[Marker]]: latest row per doc, keyed snapshot. Folding it
    *    commits those epochs' history, so the replay fence advances
    *    under the lease;
    *  - [[Sidecar]]: the store's own resolution. In a marker-less
    *    family (no activation) it folds every committed epoch and
    *    advances its own fence.
    *
    * @return rows kept by the first [[Current]] sub-store, 0 if none
    */
  def compact(spark: SparkSession, shards: Int, leaseTtlMs: Long,
      leaseTimeoutMs: Long): Long = {
    require(shards > 0, s"shard count must be positive, got $shards")
    EpochStore.withIndexLease(spark, root, leaseTtlMs, leaseTimeoutMs) {
      val act = if (subs.exists(_.fold == Marker)) Some(activated(spark)) else None
      val eligible: Long => Boolean = act.fold((_: Long) => true)(a => a(_))
      val kept = subs.flatMap { s =>
        if (s.optional && !EpochStore.hasEpochDirs(spark, rootOf(s))) None
        else {
          val resolveFn: DataFrame => DataFrame = s.fold match {
            case Current(_) => data =>
              resolve(data, latest(spark, data.schema("doc_id").dataType), s, dedup = true)
            case Marker => EpochStore.onePerKey(_, "doc_id", col("_epoch"))
            case Sidecar(r) => r
          }
          val fenced = s.fold == Marker || act.isEmpty
          val n = EpochStore.compact(spark, rootOf(s), resolveFn,
            (df, tmp) => s.layout(df, tmp, shards), leaseTtlMs, leaseTimeoutMs,
            eligible,
            if (fenced) EpochStore.foldFence(spark, rootOf(s)) else _ => ())
          s.fold match {
            case Current(_) => Some(n)
            case _ => None
          }
        }
      }
      kept.headOption.getOrElse(0L)
    }
  }
}

private[streaming] object StoreFamily {

  /** Writes a frame to a path in a sub-store's file layout, given the
    * caller's shard count: the layout of every compaction snapshot, and
    * of each epoch delta where the store says so.
    */
  type Layout = (DataFrame, String, Int) => Unit

  /** How [[StoreFamily.compact]] folds a sub-store. */
  sealed trait Fold
  /** Data made current by the marker; `identity` keys the crash-window
    * dedup.
    */
  final case class Current(identity: Seq[String]) extends Fold
  /** The family's one marker store. */
  case object Marker extends Fold
  /** Additive or merge-only rows folded by `resolve`. */
  final case class Sidecar(resolve: DataFrame => DataFrame) extends Fold

  /** Which epochs a family's marker has activated: those at or below
    * the marker's `fence`, and those whose marker dir is `committed`.
    */
  final case class Activation(fence: Long, committed: Set[Long]) {
    def apply(epoch: Long): Boolean = epoch <= fence || committed(epoch)
    /** The same test over an `_epoch` column. */
    def apply(epoch: Column): Column =
      if (committed.isEmpty) epoch <= fence
      else epoch <= fence || epoch.isInCollection(committed)
  }

  /** One sibling store `<root>/<name>`: its schema for a doc_id type,
    * its fold, and its layout. An `optional` store is folded and
    * reported only once it has epoch dirs.
    */
  final case class Sub(name: String, schema: DataType => StructType,
      fold: Fold, layout: Layout = keyed, optional: Boolean = false)

  /** O(docs) stores: keyed and sized by row count
    * ([[EpochStore.writeKeyedSnapshot]]), never a single-task rewrite.
    */
  val keyed: Layout = (df, path, _) =>
    EpochStore.writeKeyedSnapshot(df, path, "doc_id")

  /** Hash-partitioned by the first column into `parts(shards)` files,
    * sorted by all of `by` within each (row-group pruning on `by.head`).
    */
  def clustered(parts: Int => Int, by: String*): Layout = (df, path, shards) =>
    df.repartition(parts(shards), col(by.head))
      .sortWithinPartitions(by.head, by.tail: _*)
      .write.mode("overwrite").parquet(path)

  /** One sorted file: sketch- or epoch-count-sized sidecars. */
  def oneFile(by: String*): Layout = (df, path, _) =>
    df.coalesce(1).sortWithinPartitions(by.head, by.tail: _*)
      .write.mode("overwrite").parquet(path)
}
