package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.SpanDedup

/** Cross-epoch exact-substring dedup state — the streaming form of
  * [[graft.operators.SpanDedup]]. The reference pipeline is streaming
  * end-to-end (`kds_example/iac/s2_app.py:313-317` wires source →
  * transform → sinks as one continuous flow); batch `duplicatedSpans`
  * can only judge a CLOSED corpus, so a span duplicated ACROSS
  * deliveries (epoch-3 boilerplate matching epoch-1 text) needs gram
  * state that outlives the epoch. This store keeps that state as
  * per-epoch deltas merged at read — the versioned-store protocol
  * ([[StoreFamily]]) applied to gram counts — WITH UPSERT RETRACTION:
  * re-delivering a doc_id replaces its text (the OpenSearch per-id
  * overwrite contract the rest of the delivery surface honors), its
  * superseded version's grams stop counting, and spans its old text
  * used to co-duplicate disappear retroactively.
  *
  * Three [[EpochStore]] roots:
  *
  *  - `<root>/occ/epoch=<e>`: (doc_id, pos, gh, bk, _epoch) — the
  *    epoch's gram occurrences (the rows batch SpanDedup
  *    materializes), written once per delivery: no corpus re-tokenize,
  *    ever. `bk` is the doc's hash bucket (`hash(doc_id) mod 64`),
  *    and files are bucket-clustered, so the per-upsert retraction
  *    lookup pushes `bk IN (re-delivered docs' buckets)` into the
  *    parquet scan — a ≤64-value driver-side filter that prunes
  *    files and row groups by footer min/max, instead of scanning the
  *    whole corpus-token-sized store under a broadcast join (which
  *    pushes nothing);
  *  - `<root>/counts/epoch=<e>`: (gh, cnt, _epoch) — the epoch's NET
  *    per-gram count delta: gross adds for the delivered text MINUS
  *    the full counts of each re-delivered doc's superseded version
  *    (computed at delivery from that version's stored occurrences —
  *    bounded by the epoch's re-delivered docs, found by doc-clustered
  *    row-group pruning after compaction);
  *  - `<root>/docs/epoch=<e>`: (doc_id, _epoch) — one short row per
  *    delivered doc VERSION: the currency authority (a re-delivered
  *    doc may emit NO grams at all — k-1 tokens — so occurrence
  *    presence cannot define currency).
  *
  * Read-side merge: corpus-wide count(gh) = Σ net deltas, and a doc's
  * occurrences mark only while its version is current — both EXACTLY
  * the values batch SpanDedup computes on the resolved corpus (each
  * version's grams are added once on delivery and subtracted once on
  * supersession, so the telescoped sum is the current corpus; the
  * currency join selects exactly the current occurrence rows). The
  * marking itself reuses the batch operator's salted join + interval
  * merge ([[SpanDedup.markAndMerge]]), twin-spec pinned equal to the
  * batch spans of the resolved corpus after every delivery.
  *
  * Crash tolerance (the additive-state rule): count rows are NET — one
  * row per (gh, epoch) — and deduplicate on (gh, _epoch) before
  * summing, so a crashed compaction's snapshot+victim coexistence
  * (identical rows, twice) cannot double a count; docs rows resolve by
  * max-epoch (duplicates harmless); duplicate OCCURRENCE rows need no
  * dedup at all — identical marks collapse in the interval merge.
  *
  * Delta write order is occ → counts → docs: the docs marker is what
  * ACTIVATES both the new occurrences (currency) and the retraction
  * (the old version stays current until it lands). A reader BETWEEN
  * the counts and docs writes sees a mixed transient — the counts
  * already reflect the epoch (its adds and its retractions) while
  * marking still runs over the pre-epoch currency — so a span can be
  * detected early (both copies will exist once the marker lands) or
  * missed briefly (a retracted copy's count is gone while its rows
  * still mark); the state converges the instant the marker lands, and
  * a crash inside the window converges on replay (writes are
  * whole-directory overwrites and the retraction reads only epochs
  * strictly earlier, so the replay rewrites identical content — see
  * [[writeDelta]]). Epochs must be written serially in increasing
  * order (what `foreachBatch` provides); the retraction of version v
  * assumes every delta before the current epoch is durable.
  */
object LiveSpanDedup {

  import StoreFamily.{Current, Marker, Sidecar, Sub, clustered}

  /** Occurrences fold like any currency-resolved data store,
    * re-clustered by hash bucket (the retraction-lookup pruning key —
    * see [[occForDocs]]). Counts KEEP their per-epoch NET rows — the
    * additive merge happens at read, per-epoch identity is the
    * crash-dedup key, and their sum already reflects every retraction —
    * so their fold is file consolidation plus duplicate scrubbing over
    * activated epochs, like every sub-store's. Declaration order is
    * fold order: occ, counts, docs.
    */
  private val Occ = Sub("occ", idType => StructType(Seq(
    StructField("doc_id", idType),
    StructField("pos", IntegerType),
    StructField("gh", LongType),
    StructField("bk", IntegerType),
    StructField("_epoch", LongType))), Current(Seq("doc_id", "pos")),
    clustered(s => s, "bk", "doc_id", "pos"))
  private val Counts = Sub("counts", _ => StructType(Seq(
    StructField("gh", LongType),
    StructField("cnt", LongType),
    StructField("_epoch", LongType))), Sidecar(_.dropDuplicates("gh", "_epoch")),
    clustered(s => math.max(1, s / 2), "gh"))
  private val Docs = Sub("docs", idType => StructType(Seq(
    StructField("doc_id", idType),
    StructField("_epoch", LongType))), Marker)
  private def family(root: String) = StoreFamily(root, Occ, Counts, Docs)

  /** Hash-bucket count for the occ store's retraction-pruning column —
    * an upper bound on the IN-list a retraction pushes into the scan,
    * and the granularity of the pruning. Fixed per store lifetime (the
    * bucket of a stored row must match the bucket a later lookup
    * computes for the same doc_id).
    */
  private val OccBuckets = 64
  private def bucketOf(docId: org.apache.spark.sql.Column) =
    pmod(xxhash64(docId), lit(OccBuckets)).cast("int")

  /** The stored occurrence rows relevant to `docs` (doc_id column):
    * the occ-store scan prefiltered to the docs' hash buckets — a
    * SUPERSET by bucket collision, exact after the caller's doc_id
    * join. The bucket set is collected driver-side (≤ [[OccBuckets]]
    * values — bounded metadata, the [[graft.operators.PrefixSum]]
    * rule) so it pushes into the parquet scan as a static IN filter:
    * footer min/max prunes the bucket-clustered files and row groups,
    * where the plain broadcast join this replaces scanned every row of
    * the store per upsert epoch. Every stored row carries its bucket
    * (`docs/MIGRATION.md` covers stores written before the column).
    */
  def occForDocs(spark: SparkSession, root: String, idType: DataType,
      docs: DataFrame): DataFrame = {
    val bks = docs.select(bucketOf(col("doc_id")).as("bk"))
      .distinct().collect().map(_.getInt(0)).toSeq
    family(root).readAll(spark, Occ, idType).filter(col("bk").isInCollection(bks))
  }

  /** Append one epoch's gram state, retracting superseded versions.
    * `toks` is the epoch's delivered docs as (doc_id, toks:
    * array&lt;string&gt;), key-unique and deterministic, as
    * [[IndexSink.start]] resolves it: a replay must land byte-identical
    * content even after a compaction folded the first attempt's counts.
    * `k` is
    * the span gram length and MUST match across every delta of a root
    * (k-gram hashes never collide across k, so mixing silently marks
    * nothing). Idempotent per (root, epoch): whole-directory
    * overwrites land identical content on a streaming replay —
    * including the retraction rows, which are computed from
    * strictly-earlier epochs' state.
    */
  def writeDelta(toks: DataFrame, root: String, epoch: Long, k: Int,
      shards: Int = 4): Unit = {
    require(shards > 0, s"shard count must be positive, got $shards")
    // REPLAY FENCE ([[StoreFamily.writeEpoch]]): a folded epoch's input
    // history — the superseded doc versions the retraction would need —
    // no longer exists; re-writing it from post-compaction state would
    // land gross-only counts that disagree with the folded net rows.
    // The replay's only correct action is nothing.
    val f = family(root)
    f.writeEpoch(toks.sparkSession, epoch)(writeDeltaBody(toks, f, epoch, k, shards))
  }

  private def writeDeltaBody(toks: DataFrame, f: StoreFamily, epoch: Long,
      k: Int, shards: Int): Unit = {
    val spark = toks.sparkSession
    val idType = toks.schema("doc_id").dataType
    val occ = SpanDedup.gramOccurrences(toks, k)
      .withColumn("bk", bucketOf(col("doc_id")))
      .withColumn("_epoch", lit(epoch))
    // Occurrences first (inactive until the docs marker lands) —
    // BUCKET-clustered (bk first, then doc_id, pos) so a later epoch's
    // retraction lookup prunes whole files and row groups with its
    // pushed bucket filter ([[occForDocs]]); docs stay contiguous
    // within a bucket.
    Occ.layout(occ, f.dir(Occ, epoch), shards)
    // Gross adds from the delta just written (one tokenize, two files
    // that can never disagree) ...
    val gross = spark.read.schema(Occ.schema(idType))
      .parquet(f.dir(Occ, epoch))
      .groupBy("gh").agg(count(lit(1)).as("cnt"))
    // ... minus the superseded versions' counts: each re-delivered
    // doc's version before this epoch ([[StoreFamily.superseded]])
    // contributes the negation of its stored occurrence counts.
    // localCheckpoint: `prior` (the re-delivered docs — tiny) feeds
    // three consumers (the isEmpty probe, the bucket collection, the
    // retraction join); one materialization beats three docs-store
    // scans.
    val prior = f.superseded(spark, toks, epoch, idType)
      .select(col("doc_id"), col("_epoch").as("_prev"))
      .localCheckpoint()
    val net =
      if (prior.isEmpty) gross
      else {
        // Scan bounded to the re-delivered docs' hash buckets — the
        // pushed IN filter prunes the bucket-clustered store's files
        // and row groups ([[occForDocs]]), so the lookup reads ~(re-
        // delivered buckets / 64) of the store, not all of it.
        val occStore = occForDocs(spark, f.root, idType,
          prior.select("doc_id"))
        val retract = occStore
          .join(prior, occStore("doc_id") === prior("doc_id") &&
            occStore("_epoch") === prior("_prev"))
          // Crash-window dedup AFTER the join: each occ row matches at
          // most one prior version, so deduping the matched rows is
          // equivalent to deduping the store — but the exchange it
          // costs is bounded by the re-delivered docs' rows, not one
          // corpus-token-sized shuffle per delivery (prior is tiny, so
          // the join itself broadcasts over the pruned occ scan).
          .select(occStore("doc_id").as("doc_id"), col("pos"), col("gh"))
          .dropDuplicates("doc_id", "pos")
          .groupBy("gh").agg((-count(lit(1))).as("cnt"))
        gross.unionByName(retract).groupBy("gh")
          .agg(sum(col("cnt")).as("cnt")).filter(col("cnt") =!= 0)
      }
    net.withColumn("_epoch", lit(epoch))
      .repartition(math.min(shards, 2))
      .write.mode("overwrite").parquet(f.dir(Counts, epoch))
    // Currency marker LAST (see class doc): activates the new rows and
    // the retraction together.
    f.writeMarker(toks.select("doc_id"), epoch, shards)
  }

  /** Maximal duplicated token spans over the RESOLVED corpus delivered
    * so far (latest version per doc_id): (doc_id, span_start,
    * span_end) — `SpanDedup.duplicatedSpans` contract, equal to
    * running the batch operator on the closed resolved corpus, with no
    * re-tokenize of any prior epoch. `idType` is the doc_id type the
    * deltas were written with.
    */
  def duplicatedSpans(spark: SparkSession, root: String, k: Int,
      idType: DataType = StringType): DataFrame = {
    val f = family(root)
    // The resolved corpus's occurrence table. No identity dedup:
    // identical occurrence rows collapse in the interval merge.
    val currentOcc = f.current(spark, Occ, idType, dedup = false)
      .select("doc_id", "pos", "gh")
    EpochStore.heal(spark, f.rootOf(Counts))
    val dup = f.readAll(spark, Counts, idType)
      .dropDuplicates("gh", "_epoch") // crash-window guard (class doc)
      .groupBy("gh").agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") > 1).select("gh")
    // Salt regime decided from the occ STORE SCAN, not the currency
    // join (whose Catalyst estimate is the product of its children —
    // a tiny store would read as huge and always pay the salt).
    val salted = SpanDedup.saltRegime(f.readAll(spark, Occ, idType))
    SpanDedup.markAndMerge(currentOcc, dup, k, salted)
  }

  /** Operational snapshot of the state's three stores, keyed by store
    * name — pure metadata ([[EpochStore.status]]): delta backlog per
    * store, replay fence, crashed-compaction and lease indicators.
    */
  def status(spark: SparkSession, root: String): Map[String, EpochStore.Status] =
    family(root).status(spark)

  /** Consolidate each store's epoch history into one snapshot under one
    * index lease ([[StoreFamily.compact]]; per-store folds at the
    * sub-store declarations): occurrences drop superseded versions over
    * activated epochs, counts consolidate, docs keep the latest row per
    * doc and advance the replay fence. Returns occurrence rows kept.
    */
  def compact(spark: SparkSession, root: String, shards: Int = 4,
      leaseTtlMs: Long = MaintenanceLease.DefaultTtlMs,
      leaseTimeoutMs: Long = MaintenanceLease.DefaultAcquireTimeoutMs): Long =
    family(root).compact(spark, shards, leaseTtlMs, leaseTimeoutMs)
}
