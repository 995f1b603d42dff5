package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Retrieval

/** Incrementally-maintained BM25 postings index over a delivered
  * corpus — the engine-side analogue of the reference's continuously-
  * indexing search sink (OpenSearch ingests each Firehose delivery and
  * is immediately queryable with live statistics — reference
  * `kds_example/iac/s2_app.py:841-858`). `Retrieval.buildTextIndex`
  * rebuilds its index from a full corpus pass per snapshot; this store
  * appends ONE EPOCH-SIZED DELTA per delivered epoch and merges at
  * read, so index maintenance cost tracks the delivery rate, not the
  * corpus size — the property that makes a query-heavy live corpus
  * affordable at 100 TB.
  *
  * Layout — three [[EpochStore]] roots under one index root:
  *
  *  - `<root>/postings/epoch=<e>`: (term, doc_id, tf, dl, _epoch) —
  *    the epoch's docs' postings, term-clustered within files so a
  *    query's `term IN (...)` filter prunes row groups;
  *  - `<root>/doclen/epoch=<e>`: (doc_id, dl, _epoch) — one row per
  *    delivered doc VERSION, including token-less docs;
  *  - `<root>/stats/epoch=<e>`: (n_delta, sumdl_delta, _epoch) — ONE
  *    row per epoch: the NET change this delivery makes to the current
  *    corpus's doc count and total token count (gross adds minus the
  *    superseded versions' contributions, the
  *    [[LiveSpanDedup]] net-delta rule applied to BM25's collection
  *    statistics). Per-query (n, avgdl) becomes a sum over O(epochs)
  *    one-row deltas instead of an O(docs) aggregation pass over the
  *    doclen store — the telescoped sum equals the doclen aggregate
  *    EXACTLY (longs, added once per version and subtracted once at
  *    supersession), so live scores are bit-identical to a batch
  *    rebuild's;
  *  - `<root>/positions/epoch=<e>` (OPTIONAL, [[writeDelta]]'s
  *    `positions` flag): (term, doc_id, pos, _epoch) — positional
  *    postings for live `match_phrase` queries
  *    ([[graft.operators.SearchDsl.phraseMatch]] over
  *    [[readPositional]]), same currency/activation rules as the
  *    postings. Opt-in because it is the one store whose size is the
  *    tokenized corpus itself (one row per token, vs one per distinct
  *    (doc, term)), the same price Lucene charges for positions.
  *
  * Upsert semantics (the OpenSearch contract: re-indexing a doc id
  * overwrites it): a doc's CURRENT version is its latest doclen epoch,
  * and a postings row counts only if its `_epoch` equals that — the
  * doclen table is the currency authority because a re-delivered doc
  * may simply LACK a term it used to contain (a per-term latest-epoch
  * rule would keep the stale posting forever). The doclen side is one
  * short row per doc version: its latest-per-doc resolution is a
  * doc-keyed window over O(docs) rows, never corpus-token-sized.
  *
  * Write order inside a delta is postings → stats → doclen: currency
  * is what ACTIVATES an epoch's rows, so the marker lands only after
  * everything it activates is durable — a reader between the writes
  * sees the previous consistent state, never a doc with its old
  * postings deactivated and its new ones missing. The stats sidecar
  * keeps that no-transient property: a stats delta only COUNTS once
  * its epoch's doclen marker proves the delivery complete (marker dir
  * committed, or the epoch already folded below the compaction
  * watermark — both file-metadata checks, no data pass), so a crash
  * between the stats and doclen writes leaves the delta invisible
  * until the streaming replay completes the delivery. The
  * below-the-watermark arm of that test infers activation from epoch
  * ORDER, so epochs must be written serially in increasing order —
  * the contract `foreachBatch` provides (a crashed epoch replays
  * before the next begins), and the one [[LiveSpanDedup]] already
  * requires for its retraction lookups.
  *
  * [[read]] returns a plain [[Retrieval.TextIndex]], so the whole
  * existing query surface ([[Retrieval.bm25FromIndex]],
  * [[IndexSink.rankedMatch]]'s index overload) runs on the live index
  * unchanged — per-query cost stays bounded by the query terms'
  * postings (the term filter pushes below the currency join and the
  * df aggregate to the delta scans) plus one O(docs) doclen pass for
  * currency; (n, avgdl) come from the O(epochs) stats sidecar.
  *
  * [[compact]] folds the epoch history into one resolved snapshot per
  * store under [[EpochStore]]'s crash-safe manifest + lease protocol,
  * bounding the per-query delta count between compactions.
  */
object LiveTextIndex {

  /** Where a live index keeps its stores (`positions` is optional —
    * see [[writeDelta]]'s `positions` flag).
    */
  private def postingsRoot(root: String) = root.stripSuffix("/") + "/postings"
  private def doclenRoot(root: String) = root.stripSuffix("/") + "/doclen"
  private def statsRoot(root: String) = root.stripSuffix("/") + "/stats"
  private def positionsRoot(root: String) = root.stripSuffix("/") + "/positions"

  private val postingsSchema = StructType(Seq(
    StructField("term", StringType),
    StructField("doc_id", StringType),
    StructField("tf", LongType),
    StructField("dl", LongType),
    StructField("_epoch", LongType)))
  private val doclenSchema = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("dl", LongType),
    StructField("_epoch", LongType)))
  private val statsSchema = StructType(Seq(
    StructField("n_delta", LongType),
    StructField("sumdl_delta", LongType),
    StructField("_epoch", LongType)))
  private val positionsSchema = StructType(Seq(
    StructField("term", StringType),
    StructField("doc_id", StringType),
    StructField("pos", LongType),
    StructField("_epoch", LongType)))

  /** Append one epoch's postings + doclen deltas. `toks` is the
    * epoch's delivered docs as (doc_id, toks: array&lt;string&gt;) —
    * EPOCH-sized, the whole point; the aggregation below is the same
    * shape as `Retrieval.buildTextIndex`'s corpus pass, applied to one
    * delivery. `doc_id` is stored as string (the delivery key is the
    * envelope recordId); callers with numeric keys cast on the way in
    * and out ([[IndexSink.start]]'s maintenance hook does).
    *
    * All writes are whole-directory overwrites keyed by the epoch id,
    * so a replayed epoch (streaming restart) lands a CONSISTENT set.
    * PRECONDITION: `toks` is key-unique (two versions of one doc would
    * double-count tf), deterministic and cheap to re-read, as
    * [[IndexSink.start]]'s resolved epoch frame is.
    */
  def writeDelta(toks: DataFrame, root: String, epoch: Long,
      shards: Int = 4, positions: Boolean = false): Unit = {
    require(shards > 0, s"shard count must be positive, got $shards")
    val spark = toks.sparkSession
    // The positional store cannot be BACKFILLED (deltas keep tokenized
    // aggregates, not the text), so partial coverage would silently
    // drop older docs from every phrase query. Fail the misuse loudly
    // at write time, in both directions: turning positions on after
    // epochs landed without them, and turning them off after epochs
    // maintained them. Both checks are dir listings ("other than this
    // epoch's own dir" keeps replays of the affected epoch valid).
    val posDirs = EpochStore.epochDirNames(spark, positionsRoot(root))
      .exists(_ != s"epoch=$epoch")
    val docDirs = EpochStore.epochDirNames(spark, doclenRoot(root))
      .exists(_ != s"epoch=$epoch")
    if (positions)
      require(posDirs || !docDirs,
        s"positions=true on $root, but earlier epochs were delivered without " +
          "a positional store — positions must be maintained from the index's " +
          "first delivery (they cannot be backfilled from postings deltas)")
    else
      require(!posDirs,
        s"positions=false on $root, but the index maintains a positional " +
          "store — later epochs' docs would be invisible to phrase queries")
    // A REPLAY whose first attempt's marker landed is the one delta
    // write a CONCURRENT compaction can corrupt: the epoch is
    // activation-eligible, so a compact running in another process may
    // fold it between the fence check and the lookups below — the
    // rewrite would then re-derive the superseded-version state from
    // post-fold history (prior versions gone) and land a gross-only
    // stats row diverging from the folded net row. Such replays take
    // the INDEX lease (serializing against compaction only — a rare
    // restart path, never the hot delivery path) and re-check the
    // fence under it. First deliveries need no lease: an epoch with no
    // marker cannot be folded out from under its writer.
    //
    // CHECK ORDER MATTERS: marker first, fence second. Compaction
    // advances the watermark BEFORE deleting a folded epoch's dirs
    // (EpochStore commit order), so "marker absent" at the time of
    // this probe means either never-delivered (safe lease-free) or
    // already-folded — and in the folded case the fence read BELOW the
    // probe is guaranteed to see the advanced watermark. Probing after
    // the fence would leave a window where the fold lands in between
    // and the replay proceeds lease-free on a stale fence reading.
    val markerDirExists = {
      val p = new org.apache.hadoop.fs.Path(s"${doclenRoot(root)}/epoch=$epoch")
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    if (markerDirExists)
      EpochStore.withIndexLease(spark, root) {
        // REPLAY FENCE (the LiveSpanDedup rule), re-read under the
        // lease: an epoch at or below the compaction watermark was
        // already folded — its content lives in snapshots, and the
        // replay's only correct action is nothing.
        if (epoch > EpochStore.readWatermark(spark, doclenRoot(root)))
          writeDeltaBody(toks, root, epoch, shards, positions)
      }
    else if (epoch > EpochStore.readWatermark(spark, doclenRoot(root)))
      writeDeltaBody(toks, root, epoch, shards, positions)
  }

  private def writeDeltaBody(toks: DataFrame, root: String, epoch: Long,
      shards: Int, positions: Boolean): Unit = {
    val spark = toks.sparkSession
    // Heal BEFORE the retraction lookup (the LiveSpanDedup rule): a
    // crashed doclen compaction's snapshot+victim coexistence is
    // masked at read by latestPerKey, which the lookup below uses too.
    EpochStore.heal(spark, doclenRoot(root))
    val one = toks.select(col("doc_id").cast("string").as("doc_id"), col("toks"))
    val posted = one
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("_epoch", lit(epoch))
    posted
      .repartition(shards, col("term")).sortWithinPartitions("term")
      .write.mode("overwrite")
      .parquet(s"${postingsRoot(root)}/epoch=$epoch")
    // Positional delta (optional — [[SearchDsl.phraseMatch]]'s input),
    // BEFORE the doclen marker like everything the marker activates:
    // a crash between this write and the marker leaves the epoch's
    // positions invisible until the replay completes the delivery.
    // Term-clustered like the postings so a phrase query's term filter
    // prunes row groups.
    if (positions)
      one.select(col("doc_id"),
          posexplode(col("toks")).as(Seq("pos", "term")))
        .select(col("term"), col("doc_id"),
          col("pos").cast("long").as("pos"), lit(epoch).as("_epoch"))
        .repartition(shards, col("term")).sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(s"${positionsRoot(root)}/epoch=$epoch")
    // NET stats delta: gross (docs, Σdl) of this epoch's versions minus
    // the contributions of the versions they supersede — each version's
    // dl enters the sum once at delivery and leaves once at
    // supersession, so Σ deltas telescopes to the CURRENT corpus's
    // exact (n, Σdl). The superseded lookup reads only doclen epochs
    // STRICTLY EARLIER than this one (the replay-idempotence rule: the
    // epoch's own already-landed marker must not retract itself), and
    // costs one O(docs) doclen pass PER DELIVERY — the pass the sidecar
    // removes from every query. Two one-row aggregates collected to the
    // driver: bounded metadata, not data.
    val g = one.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("s")).head
    val p = EpochStore.latestPerKey(
        EpochStore.readAll(spark, doclenRoot(root), doclenSchema)
          .filter(col("_epoch") < epoch), "doc_id")
      .join(one.select("doc_id"), Seq("doc_id"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("s")).head
    // LEGACY BACKFILL: the first delta on an index whose stats store
    // has no dirs besides (possibly) this epoch's own — a pre-sidecar
    // index being upgraded, or a replay of that first delta — folds
    // the whole legacy corpus's (n, Σdl) into its delta row, so the
    // read-side sum covers the pre-sidecar history. The own-dir
    // exclusion is what keeps the REPLAY deterministic: the first
    // attempt's stats dir must not flip the store to "populated" and
    // shrink the rewrite to an incremental row. Base and superseded
    // overlap is fine — base counts the old versions, p retracts them.
    val virgin = !EpochStore.epochDirNames(spark, statsRoot(root))
      .exists(_ != s"epoch=$epoch")
    val (baseN, baseS) =
      if (virgin && EpochStore.hasEpochDirs(spark, doclenRoot(root))) {
        val b = EpochStore.latestPerKey(
            EpochStore.readAll(spark, doclenRoot(root), doclenSchema)
              .filter(col("_epoch") < epoch), "doc_id")
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("dl")), lit(0L)).as("s")).head
        (b.getLong(0), b.getLong(1))
      } else (0L, 0L)
    spark.createDataFrame(
        java.util.Arrays.asList(
          Row(baseN + g.getLong(0) - p.getLong(0),
            baseS + g.getLong(1) - p.getLong(1), epoch)),
        statsSchema)
      .write.mode("overwrite")
      .parquet(s"${statsRoot(root)}/epoch=$epoch")
    // Currency marker LAST (see class doc): only after everything it
    // activates — the postings rows and the stats delta — is durable.
    // Keyed so a corpus-scale delivery epoch's marker never funnels
    // through one or two writer tasks (the delta is one short row per
    // delivered doc — epoch-bounded, but an epoch can be large).
    one.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        lit(epoch).as("_epoch"))
      .repartition(math.max(1, shards / 2), col("doc_id"))
      .write.mode("overwrite")
      .parquet(s"${doclenRoot(root)}/epoch=$epoch")
  }

  /** The live index as a point-in-time [[Retrieval.TextIndex]] view
    * over the current epoch set (lazy frames — each query re-reads the
    * deltas it needs; heal-at-entry like every store read). Empty
    * store → empty index (queries return no rows). The stats
    * activation test costs one watermark read, one doclen dir listing,
    * and one `_SUCCESS` probe per live doclen epoch dir — metadata
    * RPCs bounded by the compaction cadence, the accepted price of the
    * O(docs) aggregation pass the sidecar removes.
    */
  def read(spark: SparkSession, root: String): Retrieval.TextIndex = {
    EpochStore.heal(spark, postingsRoot(root))
    EpochStore.heal(spark, doclenRoot(root))
    EpochStore.heal(spark, statsRoot(root))
    val doclen = EpochStore.readAll(spark, doclenRoot(root), doclenSchema)
    val postings = EpochStore.readAll(spark, postingsRoot(root), postingsSchema)
    // Currency: latest doclen epoch per doc (row_number, so a crashed
    // compaction's duplicated winner rows still yield ONE currency row).
    val cur = EpochStore.latestPerKey(doclen, "doc_id")
      .select(col("doc_id"), col("dl"), col("_epoch").as("_cur"))
    // Stats from the sidecar: Σ net deltas over ACTIVATED epochs — one
    // row per epoch, against cur's O(docs) window. A delta counts once
    // its doclen marker proves the delivery complete: marker dir
    // committed, or the epoch already folded below the watermark (both
    // file-metadata checks). The telescoped long sums equal the doclen
    // aggregate exactly, and the same (sum.cast(double) / count-as-long)
    // shape keeps the resulting doubles bit-identical to
    // buildTextIndex's, so live scores match a batch rebuild's.
    // dropDuplicates(_epoch) guards the crashed-compaction window where
    // a snapshot and its victim dirs briefly carry identical rows.
    val wm = EpochStore.readWatermark(spark, doclenRoot(root))
    val committed = EpochStore.committedEpochs(spark, doclenRoot(root))
    val activeStats = EpochStore.readAll(spark, statsRoot(root), statsSchema)
      .dropDuplicates("_epoch")
      .filter(if (committed.isEmpty) col("_epoch") <= wm
        else col("_epoch") <= wm || col("_epoch").isInCollection(committed))
    // LEGACY FALLBACK: an index written before the sidecar existed has
    // doclen epochs but no stats store at all — computing n=0 from the
    // absent sidecar while still serving every posting would silently
    // zero the BM25 statistics. Detection is a pure dir listing; the
    // fallback is the pre-sidecar O(docs) aggregate. Mixed mode is
    // safe: the FIRST delta written to such a store backfills the
    // legacy corpus into its row (see writeDeltaBody), so as soon as
    // any stats dir exists, the sidecar sum is complete.
    val stats =
      if (!EpochStore.hasEpochDirs(spark, statsRoot(root)) &&
          EpochStore.hasEpochDirs(spark, doclenRoot(root)))
        cur.select(col("dl"))
          .agg(count(lit(1)).cast("double").as("n"),
            (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      else activeStats
        .agg(coalesce(sum(col("n_delta")), lit(0L)).cast("double").as("n"),
          (sum(col("sumdl_delta")).cast("double") / sum(col("n_delta")))
            .as("avgdl"))
    // A posting counts iff its epoch IS the doc's current version.
    // dropDuplicates guards the crashed-compaction window (snapshot +
    // victim epochs briefly coexist with identical rows) — keyed by
    // the same columns the query filters on, so its exchange runs over
    // the terms' postings only, not the corpus.
    val live = postings
      .join(cur.select("doc_id", "_cur"), Seq("doc_id"))
      .filter(col("_epoch") === col("_cur"))
      .select("term", "doc_id", "tf", "dl")
      .dropDuplicates("term", "doc_id")
    val df = live.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    Retrieval.TextIndex(live, df, stats)
  }

  /** The live POSITIONAL postings — (term, doc_id, pos), the
    * [[graft.operators.SearchDsl.phraseMatch]] input — resolved over
    * the current epoch set with the same doclen currency rule as
    * [[read]] (a re-delivered doc's old positions retire even though
    * its new version never mentions those terms). Phrase queries'
    * `isin` filter pushes below the currency join to the term-
    * clustered delta scans, so per-query cost is the phrase terms'
    * positional postings, never the corpus.
    *
    * Loud on an index that never maintained positions (deltas cannot
    * be backfilled — see [[writeDelta]]); empty store → empty frame.
    */
  def readPositional(spark: SparkSession, root: String): DataFrame = {
    EpochStore.heal(spark, positionsRoot(root))
    EpochStore.heal(spark, doclenRoot(root))
    if (!EpochStore.hasEpochDirs(spark, positionsRoot(root)) &&
        EpochStore.hasEpochDirs(spark, doclenRoot(root)))
      throw new IllegalStateException(
        s"live index $root has no positional store — it was maintained with " +
          "positions=false; phrase queries over it would return nothing")
    val doclen = EpochStore.readAll(spark, doclenRoot(root), doclenSchema)
    val cur = EpochStore.latestPerKey(doclen, "doc_id")
      .select(col("doc_id"), col("_epoch").as("_cur"))
    EpochStore.readAll(spark, positionsRoot(root), positionsSchema)
      .join(cur, Seq("doc_id"))
      .filter(col("_epoch") === col("_cur"))
      .select("term", "doc_id", "pos")
      .dropDuplicates("term", "doc_id", "pos")
  }

  /** Operational snapshot of the index's stores, keyed by store name
    * (`positions` present only when maintained) — pure metadata
    * ([[EpochStore.status]]): delta backlog per store, replay fence,
    * crashed-compaction and lease indicators.
    */
  def status(spark: SparkSession, root: String): Map[String, EpochStore.Status] =
    Map(
      "postings" -> EpochStore.status(spark, postingsRoot(root)),
      "doclen" -> EpochStore.status(spark, doclenRoot(root)),
      "stats" -> EpochStore.status(spark, statsRoot(root))) ++
      (if (EpochStore.hasEpochDirs(spark, positionsRoot(root)))
        Map("positions" -> EpochStore.status(spark, positionsRoot(root)))
      else Map.empty)

  /** Fold each store's epoch history into one snapshot (crash protocol
    * and serialization in [[EpochStore.compact]]). Postings resolve
    * against the doclen store's CURRENT epoch set — rows of superseded
    * doc versions are dropped. A delivery landing mid-compaction is
    * protected by the ACTIVATION rule: only postings epochs whose
    * doclen marker had landed when this compaction started are
    * eligible victims (the marker is written last, so an in-flight
    * epoch's data dir is listed but not yet activated — resolving it
    * against a currency that does not know it would drop its rows
    * from the snapshot and then delete the only copy). Ineligible
    * dirs simply ride to the next compaction. Snapshot rows keep
    * their original `_epoch` values so read-time resolution is
    * unchanged over any mix of snapshot and later deltas. Returns
    * postings rows kept.
    *
    * The whole two-store pass runs under ONE index-level lease
    * ([[EpochStore.withIndexLease]]): the postings resolution reads
    * the doclen store's epoch dirs, so a concurrent doclen compaction
    * in another process could delete them mid-read — the per-store
    * leases cannot see across stores.
    */
  def compact(spark: SparkSession, root: String, shards: Int = 4,
      leaseTtlMs: Long = MaintenanceLease.DefaultTtlMs,
      leaseTimeoutMs: Long = MaintenanceLease.DefaultAcquireTimeoutMs): Long = {
    require(shards > 0, s"shard count must be positive, got $shards")
    EpochStore.withIndexLease(spark, root, leaseTtlMs, leaseTimeoutMs) {
      // Point-in-time activated set: epochs whose currency marker rows
      // exist NOW, plus committed marker DIRS (a zero-row delivery has
      // no marker rows but its committed marker dir still proves the
      // epoch complete — without it the empty data dir would never
      // become a victim and would ride forever). Markers landing later
      // exclude their data epochs from this compaction — the safe
      // direction.
      val activated = EpochStore.rowEpochs(spark, doclenRoot(root)) ++
        EpochStore.committedEpochs(spark, doclenRoot(root))
      val kept = EpochStore.compact(spark, postingsRoot(root),
        resolve = posted => {
          val cur = EpochStore.latestPerKey(
              EpochStore.readAll(spark, doclenRoot(root), doclenSchema), "doc_id")
            .select(col("doc_id"), col("_epoch").as("_cur"))
          posted.join(cur, Seq("doc_id"))
            .filter(col("_epoch") === col("_cur"))
            .drop("_cur")
            .dropDuplicates("term", "doc_id")
        },
        writeSnapshot = (df, tmp) => df
          .repartition(shards, col("term")).sortWithinPartitions("term")
          .write.mode("overwrite").parquet(tmp),
        leaseTtlMs = leaseTtlMs, leaseTimeoutMs = leaseTimeoutMs,
        epochEligible = activated.contains)
      // The optional positional store resolves exactly like the
      // postings (currency filter + identity dedup), under the same
      // activation rule, BEFORE the doclen fold below advances the
      // fence — it reads the same un-folded doclen epoch set.
      if (EpochStore.hasEpochDirs(spark, positionsRoot(root)))
        EpochStore.compact(spark, positionsRoot(root),
          resolve = pos => {
            val cur = EpochStore.latestPerKey(
                EpochStore.readAll(spark, doclenRoot(root), doclenSchema), "doc_id")
              .select(col("doc_id"), col("_epoch").as("_cur"))
            pos.join(cur, Seq("doc_id"))
              .filter(col("_epoch") === col("_cur"))
              .drop("_cur")
              .dropDuplicates("term", "doc_id", "pos")
          },
          writeSnapshot = (df, tmp) => df
            .repartition(shards, col("term")).sortWithinPartitions("term")
            .write.mode("overwrite").parquet(tmp),
          leaseTtlMs = leaseTtlMs, leaseTimeoutMs = leaseTimeoutMs,
          epochEligible = activated.contains)
      // The doclen store is self-contained (its rows ARE the markers):
      // every listed epoch is eligible. Folding it commits those epochs'
      // history — advance the replay fence under the lease.
      EpochStore.compact(spark, doclenRoot(root),
        resolve = dl => EpochStore.latestPerKey(dl, "doc_id"),
        // O(resolved docs) rows — keyed + row-count-sized layout (a
        // fixed tiny partition count would single-task the rewrite of
        // a corpus-scale doclen store).
        writeSnapshot = (df, tmp) =>
          EpochStore.writeKeyedSnapshot(df, tmp, "doc_id"),
        leaseTtlMs = leaseTtlMs, leaseTimeoutMs = leaseTimeoutMs,
        onCommit = folded => folded.reduceOption(_ max _)
          .foreach(EpochStore.advanceWatermark(spark, doclenRoot(root), _)))
      // Stats deltas are ADDITIVE with per-epoch identity (the
      // LiveSpanDedup counts rule): folding moves rows without changing
      // the read-side sum, and dedup-by-epoch is the crash guard, so
      // resolution is consolidation only. Eligibility mirrors the READ
      // activation rule — folded below the watermark (re-read AFTER the
      // doclen compact just advanced it) or marker-activated — so an
      // in-flight delivery's stats dir rides, and the delta of an epoch
      // whose every doc version was later superseded (absent from
      // doclen's surviving rows, but part of the sum forever) still
      // folds instead of riding indefinitely.
      val wm = EpochStore.readWatermark(spark, doclenRoot(root))
      EpochStore.compact(spark, statsRoot(root),
        resolve = _.dropDuplicates("_epoch"),
        // ONE row per folded epoch — bounded by delivery count, never
        // corpus size, so a single-file snapshot is the right layout.
        writeSnapshot = (df, tmp) => df.repartition(1)
          .write.mode("overwrite").parquet(tmp),
        leaseTtlMs = leaseTtlMs, leaseTimeoutMs = leaseTimeoutMs,
        epochEligible = e => e <= wm || activated.contains(e))
      kept
    }
  }
}
