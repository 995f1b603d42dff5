package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** The versioned-store protocol, written once: a family of sibling
  * [[EpochStore]]s under one root, made current by one MARKER
  * sub-store of (doc_id, _epoch) rows. [[LiveTextIndex]] (marker
  * `doclen`), [[LiveSpanDedup]] and [[LiveNearDedup]] (marker `docs`)
  * declare only their sub-stores and derive their epochs' rows; the
  * crash protocol below is theirs by construction. [[LiveSketch]] is a
  * marker-less family: it uses only the family lease and the fence.
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
  *  - REPLAY FENCE ([[writeEpoch]]): an epoch at or below the marker
  *    store's compaction watermark was folded; its replay is a no-op.
  *    A replay whose marker already landed is activation-eligible, so
  *    it takes the family lease and re-reads the fence under it.
  *  - COMPACTION ([[compact]]): one family lease for the whole pass;
  *    the activation set is built once; sub-stores fold in declaration
  *    order, currency-resolved data stores over activated epochs only.
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
    * folded. A replay whose marker already landed takes the family
    * lease (serializing against compaction only — a rare restart path,
    * never the hot delivery path) and re-checks the fence under it: the
    * epoch is activation-eligible, so a concurrent compaction could
    * otherwise fold it between the fence check and the body's reads or
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
    */
  def writeEpoch(spark: SparkSession, epoch: Long)(body: => Unit): Unit = {
    val probe = new org.apache.hadoop.fs.Path(dir(marker, epoch))
    val fenced = rootOf(marker)
    if (probe.getFileSystem(spark.sessionState.newHadoopConf()).exists(probe))
      EpochStore.withIndexLease(spark, root) {
        if (EpochStore.aboveFence(spark, fenced, epoch)) body
      }
    else if (EpochStore.aboveFence(spark, fenced, epoch)) body
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
    EpochStore.latestPerKey(readAll(spark, marker, idType), "doc_id")

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
    * The ACTIVATION set is built once, up front: epochs with marker
    * rows plus committed marker dirs (a zero-row delivery has no marker
    * rows, but its committed marker dir still proves the epoch
    * complete; without it the empty data dir would ride forever).
    * Markers landing later exclude their data epochs from this pass —
    * the safe direction. Per fold kind:
    *
    *  - [[Current]]: resolved by currency, and only ACTIVATED epochs are
    *    eligible victims — an in-flight epoch's data dir (marker not yet
    *    landed) resolved against a currency that does not know it would
    *    drop every row from the snapshot and then delete the only copy.
    *    Ineligible dirs ride to the next compaction; snapshot rows keep
    *    their `_epoch`, so reads resolve any mix of snapshot and deltas.
    *  - [[Marker]]: latest row per doc, keyed snapshot; every listed
    *    epoch is eligible (its rows ARE the markers). Folding it commits
    *    those epochs' history, so the replay fence advances under the
    *    lease.
    *  - [[Sidecar]]: the store's own resolution; eligible are all epochs,
    *    or with `activeOnly` those folded below the marker fence (read
    *    at the sidecar's turn, after the marker fold) or activated.
    *
    * @return rows kept by the first [[Current]] sub-store, 0 if none
    */
  def compact(spark: SparkSession, shards: Int, leaseTtlMs: Long,
      leaseTimeoutMs: Long): Long = {
    require(shards > 0, s"shard count must be positive, got $shards")
    EpochStore.withIndexLease(spark, root, leaseTtlMs, leaseTimeoutMs) {
      val markerRoot = subs.find(_.fold == Marker).map(rootOf)
      val activated = markerRoot.fold(Set.empty[Long])(m =>
        EpochStore.rowEpochs(spark, m) ++ EpochStore.committedEpochs(spark, m))
      val kept = subs.flatMap { s =>
        if (s.optional && !EpochStore.hasEpochDirs(spark, rootOf(s))) None
        else {
          val (resolveFn, eligible, fenced) = s.fold match {
            case Current(_) => (
              (data: DataFrame) => resolve(data,
                latest(spark, data.schema("doc_id").dataType), s, dedup = true),
              (e: Long) => activated.contains(e), false)
            case Marker => (
              (dl: DataFrame) => EpochStore.latestPerKey(dl, "doc_id"),
              (_: Long) => true, true)
            case Sidecar(r, activeOnly, fenced) =>
              val eligible: Long => Boolean =
                if (!activeOnly) _ => true
                else {
                  val wm = EpochStore.readWatermark(spark, markerRoot.get)
                  e => e <= wm || activated.contains(e)
                }
              (r, eligible, fenced)
          }
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
  /** Additive or merge-only rows folded by `resolve`; see
    * [[StoreFamily.compact]] for `activeOnly`. `fenced` advances this
    * sub-store's own replay fence (a marker-less family's stores).
    */
  final case class Sidecar(resolve: DataFrame => DataFrame,
      activeOnly: Boolean = false, fenced: Boolean = false) extends Fold

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
