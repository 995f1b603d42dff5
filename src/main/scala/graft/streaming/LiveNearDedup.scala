package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.TrainingData

/** Cross-epoch document-level NEAR-dedup state — the streaming form of
  * MinHash-LSH banding ([[graft.queries.TrainingData.lshPairs]] /
  * [[graft.operators.Dedup.nearDedup]]), completing the live curation
  * surface: exact-substring dedup has [[LiveSpanDedup]], postings have
  * [[LiveTextIndex]], ANN search has the IndexSink enrich path — this
  * store makes the last batch-only stage (document near-dedup)
  * queryable per delivered epoch, the reference's continuous-indexing
  * behavior (`kds_example/iac/s2_app.py:841-858`: every delivery is immediately
  * visible to queries) applied to the duplicate-pair relation.
  *
  * Two [[EpochStore]] roots under one index root:
  *
  *  - `<root>/sig/epoch=<e>`: (doc_id, sig: array&lt;long&gt;[16],
  *    _epoch) — the epoch's MinHash signatures, computed ONCE at
  *    delivery from that epoch's text
  *    ([[TrainingData.signaturesDf]]): no prior epoch is ever
  *    re-shingled. Docs with fewer than 3 tokens emit no shingles and
  *    hence no signature row — exactly the batch exclusion;
  *  - `<root>/docs/epoch=<e>`: (doc_id, _epoch) — one row per
  *    delivered doc VERSION: the currency authority AND activation
  *    marker. Currency cannot ride on signature presence: an upsert
  *    that shortens a doc below 3 tokens delivers NO signature row,
  *    yet must retire the previous version's signature (and every
  *    pair it anchored).
  *
  * Band keys are NOT stored: they derive deterministically from a
  * signature row (a narrow 8× explode over O(docs) short rows —
  * [[TrainingData.lshBands]], the same function the batch path uses),
  * so a bands store could only duplicate or drift.
  *
  * Upsert retraction falls out of currency resolution, with no
  * net-delta machinery: signature rows are per-version FACTS (not
  * additive counts), so re-delivering doc X simply makes its latest
  * version the current one — X's old signature stops resolving and
  * every candidate pair it anchored disappears retroactively from
  * [[candidatePairs]]. This is why, unlike [[LiveSpanDedup]] /
  * [[LiveTextIndex]], writeDelta performs NO lookup against prior
  * epochs: the delta is a pure function of the epoch's own input and a
  * replay rewrites byte-identical content by construction.
  *
  * Write order (sig, then the docs marker), currency, the replay fence
  * and compaction are the one versioned-store protocol of
  * [[StoreFamily]].
  */
object LiveNearDedup {

  import StoreFamily.{Current, Marker, Sub}

  private val Sig = Sub("sig", idType => StructType(Seq(
    StructField("doc_id", idType),
    StructField("sig", ArrayType(LongType, containsNull = true)),
    StructField("_epoch", LongType))), Current(Seq("doc_id")))
  private val Docs = Sub("docs", idType => StructType(Seq(
    StructField("doc_id", idType),
    StructField("_epoch", LongType))), Marker)
  private def family(root: String) = StoreFamily(root, Sig, Docs)

  private val NH = graft.functions.MinHashAggregator.NumHashes

  /** Append one epoch's signature delta. `docs` is the epoch's
    * delivered documents as (doc_id, text) — EPOCH-sized; the shingle
    * + min-hash pass below is [[TrainingData.signaturesDf]]'s exact
    * corpus pass applied to one delivery. PRECONDITION: `docs` is
    * key-unique, as [[IndexSink.start]] resolves it (two versions in
    * ONE signature would estimate a document that never existed).
    * Idempotent per (root, epoch): whole-directory overwrites of
    * content derived only from the epoch's own input.
    */
  def writeDelta(docs: DataFrame, root: String, epoch: Long,
      shards: Int = 4): Unit = {
    require(shards > 0, s"shard count must be positive, got $shards")
    val spark = docs.sparkSession
    val f = family(root)
    // No derived state for the marker-present replay's lease to
    // protect here (the delta is a pure function of the epoch's
    // input): it serializes the whole-directory OVERWRITE itself
    // against a concurrent compaction's snapshot read of the same dir.
    f.writeEpoch(spark, epoch) {
      val one = docs.select(col("doc_id"), col("text"))
      TrainingData.signaturesDf(one)
        .select(col("doc_id"),
          array((0 until NH).map(j => col(s"mh$j")): _*).as("sig"),
          lit(epoch).as("_epoch"))
        .repartition(shards, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(f.dir(Sig, epoch))
      // Marker LAST: activates the epoch's signatures and the
      // supersession of any re-delivered doc's prior version together.
      f.writeMarker(one.select("doc_id"), epoch, shards)
    }
  }

  /** The resolved corpus's signature table in the WIDE (mh0..mh15)
    * layout the batch kernels consume: latest delivered version per
    * doc, signature-less versions excluded (their doc is simply absent,
    * like a short doc in the batch pass).
    */
  def currentSignatures(spark: SparkSession, root: String,
      idType: DataType = StringType): DataFrame =
    family(root).current(spark, Sig, idType)
      .select(col("doc_id") +:
        (0 until NH).map(j => col("sig")(j).as(s"mh$j")): _*)

  /** LSH candidate pairs over the RESOLVED corpus delivered so far:
    * (id1, id2, est_sim), id1 &lt; id2 — equal to running
    * [[TrainingData.lshPairs]] (q44's oracle-checked kernel) on the
    * resolved corpus, with no re-shingle of any prior epoch. Feed to
    * [[graft.operators.Dedup.components]] /
    * [[graft.operators.Dedup.nearDedup]]'s survivor logic unchanged.
    * Scale shape: banding is a narrow 8× explode over O(docs)
    * signature rows; candidates come from a hash join on band keys —
    * the batch plan, minus the corpus text pass.
    */
  def candidatePairs(spark: SparkSession, root: String,
      idType: DataType = StringType): DataFrame =
    // Same kernel as the batch path (lshPairsOver IS
    // lshPairsFromSignatures minus its cache()), but the shared frame
    // is localCheckpoint'd: a per-epoch reader must not leak one
    // CacheManager entry per call — the deltaPairs rationale.
    TrainingData.lshPairsOver(
      currentSignatures(spark, root, idType).localCheckpoint())

  /** The candidate pairs TOUCHING one delivered epoch: pairs of the
    * resolved corpus where at least one side's CURRENT version landed
    * in `epoch` — what an alert-on-ingest consumer reads after each
    * delivery instead of diffing two corpus-wide pair sets. Exactly
    * `candidatePairs.filter(side ∈ epoch)` (spec-pinned), computed as
    * epoch-bands ⋈ corpus-bands so the probe side is epoch-sized:
    * canonical (least, greatest) orientation, est_sim from the current
    * signatures. A doc delivered in `epoch` but already superseded by
    * a later delivery contributes nothing (its version is not
    * current — the pairs it would anchor are not pairs of the resolved
    * corpus).
    */
  def deltaPairs(spark: SparkSession, root: String, epoch: Long,
      idType: DataType = StringType): DataFrame = {
    // localCheckpoint, NOT cache: this runs once per delivered epoch
    // (alert-on-ingest), and a cache() here would register a new
    // CacheManager entry per call (the plan changes every epoch) that
    // nobody unpersists — a session-lifetime leak. A localCheckpoint
    // materializes the narrow O(docs) frame once for its two consumers
    // and its blocks are released with the RDD by the context cleaner.
    val sg = currentSignatures(spark, root, idType).localCheckpoint()
    val bands = TrainingData.lshBands(sg)
    val epochDocs = family(root).latest(spark, idType)
      .filter(col("_epoch") === epoch)
      .select("doc_id")
    val eBands = bands.join(epochDocs, Seq("doc_id"))
    val cand = eBands.select(col("doc_id").as("ida"), col("band"), col("key"))
      .join(bands.select(col("doc_id").as("idb"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
      .distinct()
    TrainingData.lshEstSim(cand, sg)
  }

  /** Operational snapshot of the two stores, keyed by store name —
    * pure metadata ([[EpochStore.status]]).
    */
  def status(spark: SparkSession, root: String): Map[String, EpochStore.Status] =
    family(root).status(spark)

  /** Fold each store's epoch history into one snapshot under one index
    * lease ([[StoreFamily.compact]]): signatures resolve against the
    * docs store's current epoch set over activated epochs; docs keep
    * the latest row per doc and advance the replay fence. Both
    * snapshots are keyed + row-count-sized
    * ([[EpochStore.writeKeyedSnapshot]]) — O(docs) stores, never a
    * single-task rewrite. Returns signature rows kept.
    */
  def compact(spark: SparkSession, root: String, shards: Int = 4,
      leaseTtlMs: Long = MaintenanceLease.DefaultTtlMs,
      leaseTimeoutMs: Long = MaintenanceLease.DefaultAcquireTimeoutMs): Long =
    family(root).compact(spark, shards, leaseTtlMs, leaseTimeoutMs)
}
