package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.Codecs
import graft.model.DeliveryStatus._

/** The reference's second delivery destination (A10): bulk-index the
  * transformed records into a queryable search index (`bank_account`, 24
  * shards — reference iac/s2_app.py:841-858,
  * debug/s1_test_oss_conn.py:15-31).
  *
  * Spark-native: the "index" is a parquet table registered as a view —
  * the OpenSearch query surface (count / match_all / search / text
  * match) becomes plain SQL over it (SURVEY §3 EP3). The shard count maps
  * to file-layout parallelism via repartition; per-epoch subdirectories
  * keep replays idempotent like the NDJSON channels.
  */
object IndexSink {

  /** Per-epoch BM25 maintenance hook for [[start]]: tokenize `field`
    * of each delivered epoch's Ok frame (after `enrich`) and append
    * the epoch's postings delta to the [[LiveTextIndex]] at `root` —
    * the reference's continuous-indexing behavior (OpenSearch ingests
    * each Firehose delivery and is immediately text-searchable with
    * live statistics, iac/s2_app.py:841-858). Query via
    * `LiveTextIndex.read` + the index-backed [[rankedMatch]].
    * `positions = true` additionally maintains the positional store
    * (live `match_phrase` via `SearchDsl.phraseMatch` over
    * `LiveTextIndex.readPositional`) — must be chosen at the index's
    * FIRST delivery; positions cannot be backfilled.
    */
  final case class LiveIndexSpec(root: String, field: String,
      key: String = "recordId", shards: Int = 4, compactEvery: Int = 0,
      positions: Boolean = false)

  /** Cross-epoch span-dedup maintenance for [[start]]: each delivered
    * epoch's Ok docs feed [[LiveSpanDedup.writeDelta]] — gram state
    * that outlives the epoch, so exact-substring duplication across
    * deliveries (and its retraction on per-id overwrite) is queryable
    * at any point via [[LiveSpanDedup.duplicatedSpans]] without ever
    * re-tokenizing a prior epoch. `k` is the span gram length, fixed
    * per store root.
    *
    * `compactEvery` (both specs): fold the store's epoch history into
    * one snapshot after every Nth delivered epoch (0 = never, the
    * default), bounding the per-query delta count without a separate
    * maintenance process. The compaction runs INSIDE the epoch commit
    * — the documented trade: the Nth delivery pays the fold's latency,
    * in exchange for queries between deliveries never seeing more
    * than N deltas. Deployments with an external maintenance cadence
    * leave this 0 and call compact() themselves.
    */
  final case class LiveSpanSpec(root: String, field: String,
      key: String = "recordId", k: Int = 8, shards: Int = 4,
      compactEvery: Int = 0)

  /** Cross-epoch document NEAR-dedup maintenance for [[start]]: each
    * delivered epoch's Ok docs feed [[LiveNearDedup.writeDelta]] —
    * MinHash signatures that outlive the epoch, so LSH candidate
    * pairs across deliveries (and their retraction on per-id
    * overwrite) are queryable at any point via
    * [[LiveNearDedup.candidatePairs]] / [[LiveNearDedup.deltaPairs]]
    * without ever re-shingling a prior epoch. Consumes the raw FIELD
    * text (shingling has its own tokenize), not the shared token
    * frame. `compactEvery` as in the sibling specs.
    */
  final case class LiveNearDupSpec(root: String, field: String,
      key: String = "recordId", shards: Int = 4, compactEvery: Int = 0)

  /** Per-epoch percolation (alert-on-ingest) for [[start]]: each
    * delivered epoch's Ok docs are matched against the registered
    * query table (`queries`: query_id + terms, the
    * [[graft.operators.SearchDsl.percolate]] contract) and the hits
    * land as one alert file per epoch under `alertsPath` —
    * (doc_id, query_id, _epoch) — the OpenSearch percolate-on-ingest /
    * alerting pattern over the same delivery the reference indexes
    * continuously. Alerts are a LOG of deliveries, not a resolved
    * view: a re-delivered doc that still matches alerts again (what a
    * notification channel wants), and the per-epoch whole-directory
    * overwrite keyed by epoch id keeps replays idempotent like every
    * other channel. Percolation is stateless per doc, so no store /
    * currency machinery is involved — the per-epoch union IS the
    * batch semantics (`SearchDslSpec` pins the equality), and the
    * registry broadcasts inside each epoch's one bounded exchange.
    */
  final case class PercolatorSpec(queries: DataFrame, alertsPath: String,
      field: String, key: String = "recordId")

  /** Live monitoring-sketch maintenance for [[start]]: each delivered
    * epoch's Ok docs feed [[LiveSketch.writeDelta]] — one fixed-size
    * count-min cell delta and one HLL register delta per epoch, merged
    * at read (cells SUM, registers MAX) into exactly the batch sketch
    * of everything delivered so far. Stream-scoped by contract (the
    * delivery log, not the upsert-resolved corpus — see
    * [[LiveSketch]]'s scope note). The sketch shape (depth, width, b)
    * is fixed per store root. `compactEvery` as in the sibling specs.
    */
  final case class LiveSketchSpec(root: String, field: String,
      key: String = "recordId", depth: Int = 3, width: Int = 64,
      b: Int = 6, compactEvery: Int = 0)

  /** Live delivery-rate maintenance for [[start]]: each delivered
    * epoch's Ok frame lands one per-`field`-value count delta in the
    * named [[LiveRates]] store — the EXACT counting twin of the
    * sketch hook, whose merged state is the (key × epoch) rate grid
    * behind [[LiveRates.anomalies]] (robust per-key z-scores, the
    * q177 scorer on the live store). Stream-scoped like the sketches:
    * rates of what FLOWED, upserts do not retract. `compactEvery` as
    * in the sibling specs.
    */
  final case class LiveRateSpec(root: String, field: String,
      compactEvery: Int = 0)

  /** Start the index-delivery query: decode → route → append Ok payloads
    * to `indexPath` (parquet, `shards`-way), with the raw-backup channel
    * written alongside (reference backs up ALL documents on the oss
    * pipeline, iac/s2_app.py:858-868).
    *
    * `enrich` runs over each epoch's routed Ok frame (recordId +
    * payload columns) before the write — the incremental-encode hook: a
    * vector delivery passes [[graft.operators.Ivf.withCell]] /
    * [[graft.operators.IvfPq.withCellCodes]] against a frozen model so
    * every landed epoch is immediately ANN-searchable (the reference's
    * sink is a continuously queryable index, iac/s2_app.py:830-914 —
    * its Spark twin must not need a batch re-index between epochs).
    * Identity by default. Narrow transformations only: a shuffle here
    * would serialize inside the epoch commit.
    *
    * `textIndex` adds the text half of the same continuously-queryable
    * contract: each epoch's delta lands in the named [[LiveTextIndex]]
    * AFTER the epoch's parquet commit (the index is the source of
    * truth; a crash between the two leaves a delivered epoch whose
    * postings delta arrives on replay — both writes are idempotent
    * whole-directory overwrites keyed by the same epoch id).
    * `spanState` is the third maintained artifact, same rules: each
    * epoch's gram-state delta lands in the named [[LiveSpanDedup]]
    * store, so cross-epoch duplicated spans are live-queryable.
    * `percolator` is the outbound twin of those inbound artifacts:
    * instead of maintaining state for future queries, it runs the
    * REGISTERED queries against each epoch as it lands and logs the
    * hits per epoch ([[PercolatorSpec]]). `nearDupState` is the fourth
    * maintained artifact: each epoch's MinHash signature delta lands
    * in the named [[LiveNearDedup]] store, so cross-epoch LSH
    * near-dup pairs are live-queryable with no corpus re-shingle.
    */
  def start(
      envelope: DataFrame,
      payloadSchema: StructType,
      indexPath: String,
      backupPath: String,
      checkpoint: String,
      shards: Int,
      dropIf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      trigger: Trigger = Trigger.AvailableNow(),
      enrich: DataFrame => DataFrame = identity,
      textIndex: Option[LiveIndexSpec] = None,
      spanState: Option[LiveSpanSpec] = None,
      percolator: Option[PercolatorSpec] = None,
      nearDupState: Option[LiveNearDupSpec] = None,
      sketchState: Option[LiveSketchSpec] = None,
      rateState: Option[LiveRateSpec] = None): StreamingQuery =
    envelope.writeStream
      .queryName("graft-index-delivery")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val src = batch.persist()
        try {
          // Raw-backup fidelity: back up the PRE-transform source bytes
          // (the reference's backup is the source record, not the Lambda
          // output — iac/s2_app.py:858-868). Backing up the routed
          // frame would store re-encoded JSON: reordered keys, schema-
          // mismatched values nulled, injected schema fields — an audit
          // copy that has lost the original record.
          DeliveryPipeline.writeNdjson(
            src.select(col("data").cast("string").as("line")),
            s"$backupPath/epoch=$epochId")
          enrich(Codecs.transformEnvelope(src, payloadSchema, dropIf)
              .filter(col("result") === Ok)
              .select(col("recordId"), col("payload.*")))
            .withColumn("_epoch", lit(epochId))
            .repartition(shards)
            .write.mode("overwrite").parquet(s"$indexPath/epoch=$epochId")
          // Epoch ids from foreachBatch start at 0, so "every Nth
          // delivery" is (epochId + 1) % N == 0 — the policy fires
          // first on epoch N-1, after N deltas exist. ONE cadence
          // helper for all the maintenance hooks.
          def due(n: Int) = n > 0 && (epochId + 1) % n == 0
          rateState.foreach { spec =>
            // The rate delta reads the epoch parquet just written (the
            // read-back-what-you-wrote rule below); one row per
            // delivered record, no tokenization involved.
            val keyed = src.sparkSession.read
              .parquet(s"$indexPath/epoch=$epochId")
              .select(col(spec.field).cast("string").as("k"))
            LiveRates.writeDelta(keyed, spec.root, epochId)
            if (due(spec.compactEvery))
              LiveRates.compact(src.sparkSession, spec.root)
          }
          nearDupState.foreach { spec =>
            // The near-dup delta reads the epoch parquet just written
            // (the read-back-what-you-wrote rule below) but takes the
            // raw FIELD, not the shared token frame — shingling
            // tokenizes internally via the same analyzer.
            val texts = src.sparkSession.read
              .parquet(s"$indexPath/epoch=$epochId")
              .select(col(spec.key).cast("string").as("doc_id"),
                col(spec.field).cast("string").as("text"))
            LiveNearDedup.writeDelta(texts, spec.root, epochId, spec.shards)
            if (due(spec.compactEvery))
              LiveNearDedup.compact(src.sparkSession, spec.root, spec.shards)
          }
          if (textIndex.nonEmpty || spanState.nonEmpty || percolator.nonEmpty ||
              sketchState.nonEmpty) {
            import graft.functions.TextFunctions.tokens
            // Tokenize the epoch parquet JUST WRITTEN, not the lazy
            // `ok` plan: one decode+transform+enrich evaluation per
            // epoch instead of two, and the maintained artifacts can
            // never disagree with the index content (e.g. under a
            // non-deterministic enrich) — the LiveSpanDedup
            // read-back-what-you-wrote rule. One (doc_id, toks) frame
            // per DISTINCT (key, field) pair, persisted when several
            // hooks share it, so a multi-hook configuration pays one
            // scan + tokenize per epoch, not one per hook.
            val pairs = textIndex.map(s => (s.key, s.field)).toSeq ++
              spanState.map(s => (s.key, s.field)).toSeq ++
              percolator.map(s => (s.key, s.field)).toSeq ++
              sketchState.map(s => (s.key, s.field)).toSeq
            val wanted = pairs.distinct
            val toksFor = wanted.map { case kf @ (key, field) =>
              val f = src.sparkSession.read
                .parquet(s"$indexPath/epoch=$epochId")
                .select(col(key).cast("string").as("doc_id"),
                  tokens(col(field)).as("toks"))
              kf -> (if (pairs.count(_ == kf) > 1) f.persist() else f)
            }.toMap
            try {
              textIndex.foreach { spec =>
                LiveTextIndex.writeDelta(toksFor((spec.key, spec.field)),
                  spec.root, epochId, spec.shards, spec.positions)
                if (due(spec.compactEvery))
                  LiveTextIndex.compact(src.sparkSession, spec.root,
                    spec.shards)
              }
              spanState.foreach { spec =>
                LiveSpanDedup.writeDelta(toksFor((spec.key, spec.field)),
                  spec.root, epochId, spec.k, spec.shards)
                if (due(spec.compactEvery))
                  LiveSpanDedup.compact(src.sparkSession, spec.root,
                    spec.shards)
              }
              sketchState.foreach { spec =>
                // Sketches count the DELIVERY LOG (stream-scoped —
                // LiveSketch's contract), so no onePerKey resolution:
                // every delivered occurrence is part of what flowed.
                val words = toksFor((spec.key, spec.field))
                  .select(explode(col("toks")).as("w"))
                LiveSketch.writeDelta(words, spec.root, epochId,
                  spec.depth, spec.width, spec.b)
                if (due(spec.compactEvery))
                  LiveSketch.compact(src.sparkSession, spec.root)
              }
              percolator.foreach { spec =>
                // Resolve in-epoch duplicate doc_ids BEFORE percolating
                // (the sibling stores' onePerKey invariant): two
                // versions of one doc in a single epoch would otherwise
                // evaluate the conjunctive match against the UNION of
                // their terms — alerting on a doc no delivered version
                // actually matches.
                val one = EpochStore.onePerKey(
                  toksFor((spec.key, spec.field)), "doc_id", col("toks"))
                graft.operators.SearchDsl.percolate(one, spec.queries)
                  .withColumn("_epoch", lit(epochId))
                  .write.mode("overwrite")
                  .parquet(s"${spec.alertsPath}/epoch=$epochId")
              }
            } finally toksFor.values.foreach(_.unpersist())
          }
        } finally src.unpersist()
      }
      .start()

  /** Register the delivered index as a queryable view (A14/A16). Heals
    * any crashed compaction first: a crash between compact()'s snapshot
    * rename and its epoch deletions leaves every latest-per-key row
    * DUPLICATED (snapshot + original epoch), which registerLatestView
    * masks but this raw view — and the A13 `_count` contract over it —
    * would report inflated.
    */
  def registerView(spark: SparkSession, indexPath: String, name: String): Unit = {
    healCompaction(spark, indexPath)
    spark.read.parquet(s"$indexPath/*").drop("_epoch").createOrReplaceTempView(name)
  }

  /** UPSERT semantics (the actual OpenSearch contract: indexing a doc id
    * again OVERWRITES it — reference iac/s2_app.py:841-858 delivers by
    * document id): last write per key wins, resolved at query time over
    * the epoch history. `compact` below materializes the same result.
    */
  def registerLatestView(spark: SparkSession, indexPath: String,
      name: String, key: String): Unit = {
    healCompaction(spark, indexPath)
    EpochStore.latestPerKey(spark.read.parquet(s"$indexPath/*"), key)
      .drop("_epoch")
      .createOrReplaceTempView(name)
  }

  /** Finish a crashed compaction (see [[EpochStore.heal]]) — for this
    * store, surviving victim epochs duplicate every latest-per-key row
    * (snapshot + original epoch), which `registerLatestView` masks but
    * the raw view — and the A13 `_count` contract over it — would
    * report inflated; the heal closes that window at every read entry.
    */
  private def healCompaction(spark: SparkSession, indexPath: String): Unit =
    EpochStore.heal(spark, indexPath)

  /** Materialize upsert resolution like an index segment merge: the
    * epoch history is REPLACED by one snapshot of the latest-per-`key`
    * rows (with their original `_epoch` values, so resolution stays
    * correct if a crash leaves snapshot + victims coexisting). The
    * crash-safe rename-then-delete protocol, the in-flight manifest,
    * and the lease + JVM-lock serialization all live in
    * [[EpochStore.compact]]; this store plugs in only its resolution
    * (last write per key) and its snapshot layout (`shards`-way).
    *
    * All file mechanics go through the Hadoop [[org.apache.hadoop.fs
    * .FileSystem]] API like every other component here, so compaction
    * works unchanged on HDFS / S3A / local paths.
    * Returns rows in the snapshot.
    */
  def compact(spark: SparkSession, indexPath: String, key: String,
      shards: Int,
      leaseTtlMs: Long = MaintenanceLease.DefaultTtlMs,
      leaseTimeoutMs: Long = MaintenanceLease.DefaultAcquireTimeoutMs): Long =
    EpochStore.compact(spark, indexPath,
      resolve = EpochStore.latestPerKey(_, key),
      writeSnapshot = (df, tmp) =>
        df.repartition(shards).write.mode("overwrite").parquet(tmp),
      leaseTtlMs = leaseTtlMs, leaseTimeoutMs = leaseTimeoutMs)

  /** The live VECTOR view over an enriched delivery index (see
    * [[start]]'s `enrich`): upsert-resolved (last write per `key`, like
    * [[registerLatestView]]) with the ANN columns intact — feed it
    * straight to [[graft.operators.Ivf.search]] /
    * [[graft.operators.IvfPq.search]] as their `indexed`/`encoded`
    * side. Heals crashed compactions first, like every read entry.
    */
  def liveVectors(spark: SparkSession, indexPath: String,
      key: String): DataFrame = {
    healCompaction(spark, indexPath)
    EpochStore.latestPerKey(spark.read.parquet(s"$indexPath/*"), key).drop("_epoch")
  }

  /** A13: the `_count` + match_all surface over the index. */
  def count(spark: SparkSession, name: String): Long =
    spark.table(name).count()

  /** Analyzed full-text `match` query — the reference's index mapping
    * types `description` as analyzed `text`
    * (debug/s1_test_oss_conn.py:21-29), so queries match at TOKEN
    * level, not whole-string. Both
    * sides go through the same analyzer ([[graft.functions.TextFunctions
    * .tokens]]: lowercase, \\W+ split — the standard-analyzer shape), and
    * `_score` is the count of matched query tokens (descending, doc key
    * tie-break left to the caller). `operator`:
    *  - "or" (the match-query default): ≥1 query token present;
    *  - "and": every query token present.
    * All pure codegen'd expressions over the view — a narrow filter +
    * project that scales as a scan, no shuffle.
    */
  def matchQuery(spark: SparkSession, name: String, field: String,
      query: String, operator: String = "or"): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val qToks = array_distinct(tokens(lit(query)))
    val dToks = array_distinct(tokens(col(field)))
    val score = size(array_intersect(dToks, qToks))
    val pred = operator.toLowerCase match {
      case "and" => size(array_except(qToks, dToks)) === 0 && size(qToks) > 0
      case _     => score > 0
    }
    spark.table(name)
      .withColumn("_score", score)
      .filter(pred)
      .orderBy(col("_score").desc)
  }

  /** BM25-RANKED analyzed match — what the reference's search endpoint
    * actually returns: OpenSearch scores a `match` query with BM25
    * (k1=1.2, b=0.75, the Lucene defaults) using the LIVE index's own
    * term/length statistics, so relevance shifts as deliveries land.
    * This runs [[graft.operators.Retrieval.bm25]] over the registered
    * view with the analyzed query tokens (same analyzer as
    * [[matchQuery]]: lowercase, \\W+ split, both sides) and returns the
    * top-k as (key, _score), score-descending with the key as
    * tie-break. `operator` as in [[matchQuery]]: "or" keeps any match
    * (BM25's natural domain), "and" keeps docs containing EVERY query
    * token — the distinct-matched-term count falls out of the scoring
    * agg, so AND costs no extra pass. Scale: one corpus-sized shuffle
    * (the tf agg) + TakeOrderedAndProject for the top-k — never a
    * global sort of the scored corpus.
    */
  def rankedMatch(spark: SparkSession, name: String, field: String,
      key: String, query: String, operator: String = "or",
      k: Int = 10): DataFrame = {
    import graft.functions.TextFunctions.tokens
    require(k > 0, s"top-k must be positive, got $k")
    val terms = analyzeQuery(query)
    val toks = spark.table(name)
      .select(col(key).as("doc_id"), tokens(col(field)).as("toks"))
    finishRanked(graft.operators.Retrieval.bm25(spark, toks, terms),
      key, terms.size, operator, k)
  }

  /** [[rankedMatch]] served from a PREBUILT postings index
    * ([[textIndex]] / `Retrieval.buildTextIndex` for a batch snapshot,
    * or [[LiveTextIndex.read]] for an index maintained incrementally
    * per delivered epoch — see [[start]]'s `textIndex` hook): same
    * analyzer, same scoring, but the query touches only its terms'
    * postings instead of re-scanning the view — the shape for a
    * query-heavy endpoint.
    */
  def rankedMatch(spark: SparkSession, index: graft.operators.Retrieval.TextIndex,
      key: String, query: String, operator: String, k: Int): DataFrame = {
    require(k > 0, s"top-k must be positive, got $k")
    val terms = analyzeQuery(query)
    finishRanked(graft.operators.Retrieval.bm25FromIndex(spark, index, terms),
      key, terms.size, operator, k)
  }

  /** One corpus pass over the registered view builds the reusable
    * postings index for the index-backed [[rankedMatch]] overload.
    */
  def textIndex(spark: SparkSession, name: String, field: String,
      key: String): graft.operators.Retrieval.TextIndex = {
    import graft.functions.TextFunctions.tokens
    graft.operators.Retrieval.buildTextIndex(spark,
      spark.table(name).select(col(key).as("doc_id"), tokens(col(field)).as("toks")))
  }

  /** Driver-side analyzer — identical semantics to tokens(): Java-
    * regex \\W+ split and LOCALE-ROOT lowercasing (Spark's lower() is
    * locale-independent; a bare toLowerCase under e.g. a Turkish
    * default locale folds I to dotless ı and silently matches
    * nothing). The term list must be a Scala value for bm25's isin
    * pushdown.
    */
  private def analyzeQuery(query: String): Seq[String] = {
    val terms = query.toLowerCase(java.util.Locale.ROOT)
      .split("\\W+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, s"query '$query' analyzes to no tokens")
    terms
  }

  /** Shared tail of both rankedMatch overloads: AND semantics from the
    * distinct-matched-term count, then rank and emit the ROUNDED score
    * (2 dp, key tie-break) — the raw per-doc float sum's addition
    * order is partition-dependent, so a last-ulp flip across runs of
    * the SAME live index could reorder or re-cut the top-k (the q85
    * lesson, applied to the live surface).
    */
  private def finishRanked(scored: DataFrame, key: String, nTerms: Int,
      operator: String, k: Int): DataFrame = {
    val kept = operator.toLowerCase(java.util.Locale.ROOT) match {
      case "and" => scored.filter(col("n_terms") === nTerms)
      case _     => scored
    }
    val r2 = floor(col("score") * 100 + lit(0.5)) / 100
    kept.select(col("doc_id").as(key), r2.as("_score"))
      .orderBy(col("_score").desc, col(key))
      .limit(k)
  }
}
