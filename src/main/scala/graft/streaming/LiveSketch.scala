package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Sketch

/** Live per-epoch sketch maintenance — the streaming form of
  * [[graft.operators.Sketch]]'s count-min and HyperLogLog summaries,
  * the monitoring artifacts a continuous delivery pipeline keeps
  * beside its indexes (hot-term detection, vocabulary growth — the
  * sublinear companions of the reference's exact per-channel counts,
  * `kds_example/oss_utils.py:43-55`). Each delivered epoch lands ONE
  * fixed-size delta per sketch (≤ depth×width count-min cells, ≤ 2^b
  * HLL registers), and the corpus sketch is the merge at read: cells
  * SUM, registers MAX — the sketches' defining mergeability, so the
  * merged state is EXACTLY the batch sketch of the concatenated
  * stream ([[LiveSketchSpec]] pins frame equality, before and after
  * compaction).
  *
  * SCOPE — append-only stream, deliberately: these sketch the
  * DELIVERY LOG, not the upsert-resolved corpus. Count-min counts
  * could in principle retract a superseded doc's contribution via net
  * deltas (the [[LiveSpanDedup]] rule), but computing that retraction
  * needs the superseded version's token stream — corpus-sized state
  * this store exists to avoid (keeping it is [[LiveTextIndex]]'s job,
  * whose postings ARE exact per-term counts when resolved counts are
  * wanted). HLL registers are max-merged and fundamentally
  * non-retractable. Stream-scoped is also the honest monitoring
  * contract: "what flowed since epoch a" is the question these answer.
  *
  * Two [[EpochStore]] roots, `<root>/cm` (r, b, cnt, _epoch) and
  * `<root>/hll` (bucket, reg, _epoch), independently compacted and
  * fenced. Crash/replay safety here comes from ALGEBRA, not protocol:
  * a delta is a pure function of its epoch's words (deterministic
  * aggregates), count-min reads deduplicate on (r, b, _epoch) before
  * summing — so a replayed or snapshot-coexisting epoch's identical
  * rows collapse — and a register max is idempotent under any
  * duplication. The watermark fence on writes only prevents zombie
  * epoch dirs below a fold; it is not load-bearing for correctness.
  * The two sub-stores commit independently: a crash between the cm
  * and hll writes of one epoch leaves their stream coverage differing
  * by that epoch until the streaming replay rewrites both (idempotent
  * whole-directory overwrites keyed by the epoch id).
  *
  * Compaction shows both merge modes on purpose:
  *  - count-min folds by RE-LAYOUT (rows keep their (r, b, cnt,
  *    _epoch) identity, one sidecar file): additive rows re-aggregated
  *    into a snapshot could not survive snapshot+victim coexistence
  *    (same cell key, different cnt — the duplicate-tolerant read
  *    would mix them), while identical preserved rows dedup exactly;
  *  - HLL folds by TRUE MAX (2^b rows, _epoch = the bucket's last
  *    contributor): max is idempotent, so coexistence is harmless and
  *    the fold is free to shrink history.
  * Both artifacts are sketch-sized — the deliberate one-file
  * O(epochs)-sidecar layout, never [[EpochStore.writeKeyedSnapshot]]'s
  * corpus-scale sharding.
  *
  * The sketch SHAPE (depth, width, b) must be fixed per store root —
  * cells and registers from different shapes merge into nonsense; the
  * shape is the caller's configuration, like [[LiveSpanDedup]]'s k.
  */
object LiveSketch {

  import StoreFamily.{Sidecar, Sub, oneFile}

  /** A marker-less [[StoreFamily]]: each sketch folds under the family
    * lease and advances its own replay fence.
    */
  private val Cm = Sub("cm", _ => StructType(Seq(
    StructField("r", IntegerType),
    StructField("b", LongType),
    StructField("cnt", LongType),
    StructField("_epoch", LongType))),
    Sidecar(_.dropDuplicates("r", "b", "_epoch")),
    oneFile("r", "b", "_epoch"))
  private val Hll = Sub("hll", _ => StructType(Seq(
    StructField("bucket", LongType),
    StructField("reg", LongType),
    StructField("_epoch", LongType))),
    Sidecar(regs => regs.groupBy("bucket")
      .agg(max("reg").as("reg"), max("_epoch").as("_epoch"))
      .select("bucket", "reg", "_epoch")),
    oneFile("bucket"))
  private def family(root: String) = StoreFamily(root, Cm, Hll)

  /** Append one epoch's sketch deltas. `words` carries the epoch's
    * token stream as a one-column (w) frame — occurrences, not
    * distincts (count-min counts frequency; HLL's max-merge absorbs
    * repeats anyway). Idempotent per (root, epoch): the delta is a
    * deterministic aggregate of the epoch's words, and whole-directory
    * overwrites land identical rows on a streaming replay. Epochs at
    * or below a store's fold watermark are skipped (their rows already
    * live in a snapshot; rewriting them would only create a zombie dir
    * whose rows the reads collapse anyway — see the class note). Both
    * sketches read `words`, so pass a cheap frame (IndexSink.start
    * passes its persisted epoch frame).
    */
  def writeDelta(words: DataFrame, root: String, epoch: Long,
      depth: Int, width: Int, b: Int): Unit = {
    val spark = words.sparkSession
    val f = family(root)
    if (EpochStore.aboveFence(spark, f.rootOf(Cm), epoch))
      Sketch.countMinCells(words, depth, width)
        .withColumn("_epoch", lit(epoch))
        .coalesce(1)
        .write.mode("overwrite").parquet(f.dir(Cm, epoch))
    if (EpochStore.aboveFence(spark, f.rootOf(Hll), epoch))
      Sketch.hllRegisters(words, b)
        .withColumn("_epoch", lit(epoch))
        .coalesce(1)
        .write.mode("overwrite").parquet(f.dir(Hll, epoch))
  }

  /** The merged count-min cell table (r, b, cnt) over every delivered
    * epoch — exactly [[Sketch.countMinCells]] of the concatenated
    * stream. The (r, b, _epoch) dedup is the crash-tolerance rule for
    * additive rows (identical duplicates from replays or a crashed
    * compaction collapse; divergent duplicates cannot exist because
    * the delta is deterministic).
    */
  def cells(spark: SparkSession, root: String): DataFrame =
    family(root).readAll(spark, Cm)
      .dropDuplicates("r", "b", "_epoch")
      .groupBy("r", "b").agg(sum("cnt").as("cnt"))

  /** The merged HLL register table (bucket, reg) — exactly
    * [[Sketch.hllRegisters]] of the concatenated stream. No dedup
    * needed: max is idempotent under any duplication.
    */
  def registers(spark: SparkSession, root: String): DataFrame =
    family(root).readAll(spark, Hll)
      .groupBy("bucket").agg(max("reg").as("reg"))

  /** Live heavy-hitter point estimates — [[Sketch.countMinEstimate]]
    * over the merged cells. The shape must match the store's.
    */
  def estimateTerms(spark: SparkSession, root: String, probes: DataFrame,
      depth: Int, width: Int): DataFrame =
    Sketch.countMinEstimate(cells(spark, root), probes, depth, width)

  /** Live distinct-count estimate — [[Sketch.hllEstimate]] over the
    * merged registers. `b` must match the store's.
    */
  def distinctEstimate(spark: SparkSession, root: String, b: Int): DataFrame =
    Sketch.hllEstimate(registers(spark, root), b)

  /** Fold epoch history under the family lease: count-min by row
    * re-layout, HLL by true max-merge (see the class note for why they
    * differ). Each sub-store's watermark advances when its fold
    * commits, fencing late replays of folded epochs into no-ops.
    */
  def compact(spark: SparkSession, root: String,
      leaseTtlMs: Long = MaintenanceLease.DefaultTtlMs,
      leaseTimeoutMs: Long = MaintenanceLease.DefaultAcquireTimeoutMs): Unit =
    family(root).compact(spark, shards = 1, leaseTtlMs, leaseTimeoutMs)
}
