package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * its epoch is activated ([[StoreFamily.activated]] — file metadata,
  * no data pass), so a crash between the stats and doclen writes
  * leaves the delta invisible until the streaming replay completes the
  * delivery.
  *
  * [[read]] returns a plain [[Retrieval.TextIndex]], so the whole
  * existing query surface ([[Retrieval.bm25FromIndex]],
  * [[IndexSink.rankedMatch]]'s index overload) runs on the live index
  * unchanged — per-query cost stays bounded by the query terms'
  * postings (the term filter pushes below the currency join and the
  * df aggregate to the delta scans) plus one O(docs) doclen pass for
  * currency; (n, avgdl) come from the O(epochs) stats sidecar.
  *
  * Marker-last writes, currency, the replay fence and compaction are
  * the one versioned-store protocol of [[StoreFamily]]; [[compact]]
  * folds the epoch history into one resolved snapshot per store,
  * bounding the per-query delta count between compactions.
  */
object LiveTextIndex {

  import StoreFamily.{Current, Marker, Sidecar, Sub, clustered}

  /** The index's stores in fold order (`positions` is optional — see
    * [[writeDelta]]'s `positions` flag). Postings and positions resolve
    * by currency, term-clustered. Stats deltas are ADDITIVE with
    * per-epoch identity (the LiveSpanDedup counts rule): folding moves
    * rows without changing the read-side sum, and dedup-by-epoch is the
    * crash guard, so resolution is consolidation only. Like every
    * sub-store they fold activated epochs only, the rule [[read]]
    * counts them by, so an in-flight delivery's stats dir rides. One
    * row per folded epoch: a single-file snapshot.
    */
  private val Postings = Sub("postings", _ => StructType(Seq(
    StructField("term", StringType),
    StructField("doc_id", StringType),
    StructField("tf", LongType),
    StructField("dl", LongType),
    StructField("_epoch", LongType))), Current(Seq("term", "doc_id")),
    clustered(s => s, "term"))
  private val Positions = Sub("positions", _ => StructType(Seq(
    StructField("term", StringType),
    StructField("doc_id", StringType),
    StructField("pos", LongType),
    StructField("_epoch", LongType))), Current(Seq("term", "doc_id", "pos")),
    clustered(s => s, "term"), optional = true)
  private val Doclen = Sub("doclen", _ => StructType(Seq(
    StructField("doc_id", StringType),
    StructField("dl", LongType),
    StructField("_epoch", LongType))), Marker)
  private val Stats = Sub("stats", _ => StructType(Seq(
    StructField("n_delta", LongType),
    StructField("sumdl_delta", LongType),
    StructField("_epoch", LongType))),
    Sidecar(_.dropDuplicates("_epoch")),
    (df, path, _) => df.repartition(1).write.mode("overwrite").parquet(path))
  private def family(root: String) =
    StoreFamily(root, Postings, Positions, Doclen, Stats)

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
    * The delta is one query per store written — postings, positions
    * (when maintained), the stats row, the doclen marker — and
    * collects nothing to the driver.
    * PRECONDITION: `toks` is key-unique (two versions of one doc would
    * double-count tf), deterministic and cheap to re-read, as
    * [[IndexSink.start]]'s resolved epoch frame is.
    */
  def writeDelta(toks: DataFrame, root: String, epoch: Long,
      shards: Int = 4, positions: Boolean = false): Unit = {
    require(shards > 0, s"shard count must be positive, got $shards")
    val spark = toks.sparkSession
    val f = family(root)
    // The positional store cannot be BACKFILLED (deltas keep tokenized
    // aggregates, not the text), so partial coverage would silently
    // drop older docs from every phrase query. Fail the misuse loudly
    // at write time, in both directions: turning positions on after
    // epochs landed without them, and turning them off after epochs
    // maintained them. Both checks are dir listings ("other than this
    // epoch's own dir" keeps replays of the affected epoch valid).
    val posDirs = EpochStore.epochDirNames(spark, f.rootOf(Positions))
      .exists(_ != s"epoch=$epoch")
    val docDirs = EpochStore.epochDirNames(spark, f.rootOf(Doclen))
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
    // A marker-present REPLAY is the one delta write a concurrent
    // compaction can corrupt here: folded between the fence check and
    // the lookups below, the rewrite would re-derive the
    // superseded-version state from post-fold history and land a
    // gross-only stats row diverging from the folded net row — hence
    // the lease [[StoreFamily.writeEpoch]] takes for it.
    f.writeEpoch(spark, epoch)(writeDeltaBody(toks, f, epoch, shards, positions))
  }

  private def writeDeltaBody(toks: DataFrame, f: StoreFamily, epoch: Long,
      shards: Int, positions: Boolean): Unit = {
    val spark = toks.sparkSession
    val one = toks.select(col("doc_id").cast("string").as("doc_id"), col("toks"))
    val posted = one
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("_epoch", lit(epoch))
    Postings.layout(posted, f.dir(Postings, epoch), shards)
    // Positional delta (optional — [[SearchDsl.phraseMatch]]'s input),
    // BEFORE the doclen marker like everything the marker activates:
    // a crash between this write and the marker leaves the epoch's
    // positions invisible until the replay completes the delivery.
    // Term-clustered like the postings so a phrase query's term filter
    // prunes row groups.
    if (positions)
      Positions.layout(one.select(col("doc_id"),
          posexplode(col("toks")).as(Seq("pos", "term")))
        .select(col("term"), col("doc_id"),
          col("pos").cast("long").as("pos"), lit(epoch).as("_epoch")),
        f.dir(Positions, epoch), shards)
    // NET stats delta: gross (docs, Σdl) of this epoch's versions minus
    // the contributions of the versions they supersede — each version's
    // dl enters the sum once at delivery and leaves once at
    // supersession, so Σ deltas telescopes to the CURRENT corpus's
    // exact (n, Σdl). Two one-row aggregates cross-joined into the
    // row written: one query, nothing collected to the driver.
    val gross = one.agg(count(lit(1)).as("gn"),
      coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("gs"))
    val retired = f.superseded(spark, one, epoch)
      .agg(count(lit(1)).as("pn"), coalesce(sum(col("dl")), lit(0L)).as("ps"))
    gross.crossJoin(retired)
      .select((col("gn") - col("pn")).as("n_delta"),
        (col("gs") - col("ps")).as("sumdl_delta"), lit(epoch).as("_epoch"))
      .write.mode("overwrite")
      .parquet(f.dir(Stats, epoch))
    // Currency marker LAST (see class doc): only after everything it
    // activates — the postings rows and the stats delta — is durable.
    f.writeMarker(one.select(col("doc_id"),
      size(col("toks")).cast("long").as("dl")), epoch, shards)
  }

  /** The live index as a point-in-time [[Retrieval.TextIndex]] view
    * over the current epoch set (lazy frames — each query re-reads the
    * deltas it needs; heal-at-entry like every store read). Empty
    * store → empty index (queries return no rows). The stats
    * activation test costs one doclen dir listing with its `_SUCCESS`
    * probes and one watermark read — metadata RPCs bounded by the
    * compaction cadence, the accepted price of the O(docs) aggregation
    * pass the sidecar removes. (n, avgdl) come from the stats store
    * alone: every index keeps one from its first delivery
    * (`docs/MIGRATION.md` covers indexes written before it existed).
    */
  def read(spark: SparkSession, root: String): Retrieval.TextIndex = {
    val f = family(root)
    // A posting counts iff its epoch IS the doc's current version; the
    // identity dedup is keyed by the columns the query filters on, so
    // its exchange runs over the terms' postings only, not the corpus.
    val live = f.current(spark, Postings)
      .select("term", "doc_id", "tf", "dl")
    EpochStore.heal(spark, f.rootOf(Stats))
    // Stats from the sidecar: Σ net deltas over ACTIVATED epochs
    // ([[StoreFamily.activated]]) — one row per epoch, against an
    // O(docs) window. The telescoped long sums equal the doclen
    // aggregate exactly, and the same (sum.cast(double) / count-as-long)
    // shape keeps the resulting doubles bit-identical to
    // buildTextIndex's, so live scores match a batch rebuild's.
    // dropDuplicates(_epoch) guards the crashed-compaction window where
    // a snapshot and its victim dirs briefly carry identical rows.
    val stats = f.readAll(spark, Stats)
      .dropDuplicates("_epoch")
      .filter(f.activated(spark)(col("_epoch")))
      .agg(coalesce(sum(col("n_delta")), lit(0L)).cast("double").as("n"),
        (sum(col("sumdl_delta")).cast("double") / sum(col("n_delta")))
          .as("avgdl"))
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
    val f = family(root)
    val live = f.current(spark, Positions)
    if (!EpochStore.hasEpochDirs(spark, f.rootOf(Positions)) &&
        EpochStore.hasEpochDirs(spark, f.rootOf(Doclen)))
      throw new IllegalStateException(
        s"live index $root has no positional store — it was maintained with " +
          "positions=false; phrase queries over it would return nothing")
    live.select("term", "doc_id", "pos")
  }

  /** Operational snapshot of the index's stores, keyed by store name
    * (`positions` present only when maintained) — pure metadata
    * ([[EpochStore.status]]): delta backlog per store, replay fence,
    * crashed-compaction and lease indicators.
    */
  def status(spark: SparkSession, root: String): Map[String, EpochStore.Status] =
    family(root).status(spark)

  /** Fold each store's epoch history into one snapshot under one index
    * lease ([[StoreFamily.compact]]; per-store folds at the sub-store
    * declarations): postings (and positions, when maintained) drop
    * superseded doc versions over activated epochs, doclen keeps the
    * latest row per doc and advances the replay fence, then stats
    * consolidate. Snapshot rows keep their original `_epoch` values so
    * read-time resolution is unchanged over any mix of snapshot and
    * later deltas. Returns postings rows kept.
    */
  def compact(spark: SparkSession, root: String, shards: Int = 4,
      leaseTtlMs: Long = MaintenanceLease.DefaultTtlMs,
      leaseTimeoutMs: Long = MaintenanceLease.DefaultAcquireTimeoutMs): Long =
    family(root).compact(spark, shards, leaseTtlMs, leaseTimeoutMs)
}
