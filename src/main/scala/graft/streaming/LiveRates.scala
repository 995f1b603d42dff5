package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Live per-epoch delivery-rate maintenance — the EXACT counting twin
  * of [[LiveSketch]]'s approximate monitors, and the streaming feeder
  * of [[graft.operators.Monitoring.robustAnomalies]]: each delivered
  * epoch lands one (k, cnt) delta — how many records of each key
  * (source, language, channel) that epoch carried — and the merged
  * store IS the (key × epoch) rate grid a monitoring surface watches
  * (the reference's per-delivery CloudWatch counts,
  * `kds_example/iac/s2_app.py:91-118`; its exact per-channel count
  * checks, `kds_example/oss_utils.py:43-55`).
  *
  * SCOPE — append-only delivery LOG, like [[LiveSketch]]: the rate of
  * what FLOWED per epoch. An upsert does not retract the superseded
  * version's delivery — it was delivered, and that is what a rate
  * monitor means. The epoch id is the time axis (what "bucket" means
  * under continuous delivery); an epoch whose delta carries no rows at
  * all is invisible to the grid, exactly as it is to a batch
  * `groupBy(key, epoch)` of the concatenated stream — the twin
  * equality [[LiveRatesSpec]] pins is over delivered records, and
  * per-KEY silences inside a delivered epoch DO densify to zero cells
  * (the gap the anomaly scorer must see).
  *
  * Crash/replay safety by ALGEBRA (the [[LiveSketch]] count-min rule):
  * a delta is a deterministic aggregate of its epoch's rows, reads
  * dedup on (k, _epoch) before any merge — so replayed epochs and
  * snapshot+victim coexistence collapse to one copy — and compaction
  * folds by row RE-LAYOUT (rows keep their (k, cnt, _epoch) identity
  * in one sidecar file; re-aggregated rows could not survive
  * coexistence). The watermark fence only prevents zombie dirs.
  *
  * Scale shape: a delta is keys-per-epoch rows (one mergeable
  * hash-agg of the epoch, key-cardinality-sized output); the grid is
  * keys × delivered-epochs — monitoring metadata, never corpus-sized;
  * anomaly scoring on top is [[graft.operators.Monitoring]]'s
  * grid-sized medians.
  */
object LiveRates {

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("cnt", LongType),
    StructField("_epoch", LongType)))

  /** Append one epoch's rate delta. `keyed` carries one row per
    * delivered record with the key column `k`. Idempotent per
    * (root, epoch); epochs at or below the fold watermark are skipped
    * (their rows already live in a snapshot).
    */
  def writeDelta(keyed: DataFrame, root: String, epoch: Long): Unit = {
    val spark = keyed.sparkSession
    if (EpochStore.aboveFence(spark, root, epoch))
      keyed.groupBy("k").agg(count(lit(1)).as("cnt"))
        .withColumn("_epoch", lit(epoch))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/epoch=$epoch")
  }

  /** The DENSE (k, _epoch, cnt) rate grid over every delivered epoch:
    * exactly `groupBy(k, epoch).count` of the concatenated stream,
    * densified so a key silent in a delivered epoch reads as an
    * explicit zero cell (the axes are the store's own keys × epochs).
    */
  def grid(spark: SparkSession, root: String): DataFrame = {
    val rows = EpochStore.readAll(spark, root, schema)
      .dropDuplicates("k", "_epoch")
    val axes = rows.select(col("_epoch")).distinct()
      .crossJoin(rows.select(col("k")).distinct())
    axes.join(rows, Seq("k", "_epoch"), "left")
      .na.fill(0L, Seq("cnt"))
      .select(col("k"), col("_epoch"), col("cnt"))
  }

  /** Live rate anomalies: [[graft.operators.Monitoring.robustAnomalies]]
    * over the merged grid, epoch id as the bucket axis — (key, day
    * = _epoch, cnt, med, mad, z, rnk).
    */
  def anomalies(spark: SparkSession, root: String, topN: Int = 10): DataFrame =
    graft.operators.Monitoring.robustAnomalies(
      grid(spark, root).select(col("k").as("key"),
        col("_epoch").as("day"), col("cnt")), topN)

  /** Fold epoch history by row re-layout (the additive-row rule — see
    * the class note). [[EpochStore.compact]] acquires the store lease
    * itself; this store has no sibling sub-roots to co-fence, so no
    * outer lease is taken (the [[LiveSketch]] outer lease exists to
    * make its cm+hll folds one critical section — wrapping a
    * SAME-root compact would self-deadlock on the lease file).
    */
  def compact(spark: SparkSession, root: String,
      leaseTtlMs: Long = MaintenanceLease.DefaultTtlMs,
      leaseTimeoutMs: Long = MaintenanceLease.DefaultAcquireTimeoutMs): Unit =
    EpochStore.compact(spark, root,
      resolve = _.dropDuplicates("k", "_epoch"),
      writeSnapshot = (df, tmp) => df.coalesce(1)
        .sortWithinPartitions("k", "_epoch")
        .write.mode("overwrite").parquet(tmp),
      leaseTtlMs = leaseTtlMs, leaseTimeoutMs = leaseTimeoutMs,
      onCommit = EpochStore.foldFence(spark, root))
}
