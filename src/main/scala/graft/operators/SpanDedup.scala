package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring deduplication — the span-level dedup of Lee et al.,
  * "Deduplicating Training Data Makes Language Models Better" (ACL
  * 2022): document-level dedup (q31/q72) misses the pervasive case
  * where two distinct documents share a long boilerplate RUN (headers,
  * licenses, templated paragraphs), so mark every token span of length
  * ≥ k that occurs more than once in the corpus and cut those spans,
  * keeping the surrounding novel text. The paper builds a corpus
  * suffix array; a single-machine structure has no 100 TB analogue, so
  * this operator uses the equivalent k-gram formulation: a token run
  * is duplicated iff every k-gram inside it is duplicated, so marking
  * duplicated k-gram occurrences and merging overlapping/adjacent
  * marks recovers exactly the maximal duplicated runs (paper §4.1's
  * windowed variant).
  *
  * Scale shape (big regime — inputs past [[SaltThresholdBytes]]): the
  * occurrence table (8-byte hashed keys — never gram text — on every
  * shuffle) materializes once, the corpus-wide gram count is a
  * two-phase hash aggregate, marking is a SALTED join back (no single
  * reducer ever holds a hot gram's occurrences — see
  * [[duplicatedSpans]]); small inputs instead take a one-scan,
  * one-exchange window count whose worst-case single-task fold is
  * bounded by the (small) input. Both regimes produce identical spans;
  * then ONE doc-keyed window pass merges marks
  * into maximal spans — the merge's two windows and the final span agg
  * all share the doc_id exchange. Nothing is ever pairwise over
  * documents; cost is bounded by occurrence count, and the marked
  * subset (what the merge windows see) is only the duplicated fraction
  * of the corpus.
  *
  * Hash collisions (h64, 60-bit) can mark a non-duplicated gram at
  * ~n²/2⁶¹ expected false positives — the standard trade the paper's
  * hash-windowed variant makes; the portable hash keeps the DuckDB
  * oracle bit-exact on the same decision.
  */
object SpanDedup {

  /** Regime switch for the skew-proof machinery, in bytes. Inputs
    * whose Catalyst size estimate is BELOW it take the small-regime
    * plan — single scan, plain gh exchange, no checkpoint, no salt
    * replication; at or above it, the salted two-phase form runs.
    * Rationale: the salt fan-out and the occurrence checkpoint exist to
    * stop a mega-gram (one k-gram in millions of documents) from
    * funnelling a corpus-scale partition through one task — but below
    * 256 MB of input even the worst case (every token one gram) costs
    * one reducer a fold over ≤256 MB of 20-byte occurrence keys —
    * seconds, not a scale-killer — while the salted form's extra
    * exchange + 16× key replication + eager checkpoint job triple the
    * cost of the common case (the r9→r10 lesson: the always-salted
    * rewrite cost 3–8× at small scale). Real corpora past it start
    * meeting boilerplate grams hot enough to own a partition.
    */
  private[graft] val SaltThresholdBytes: Long = 256L << 20

  /** True when `df`'s optimizer size estimate crosses the salt
    * threshold. Decided once per call from the operator's input: the
    * big regime's own occurrence checkpoint is not re-estimated, so
    * its mark join is salted with it.
    */
  private[graft] def saltRegime(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(SaltThresholdBytes)

  /** One row per k-gram occurrence of (doc_id, toks): (doc_id, pos,
    * gh) with pos the 0-based token index of the gram's first token
    * and gh the salted portable hash of its space-joined tokens. Docs
    * shorter than k emit nothing.
    */
  def gramOccurrences(toks: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"span gram length must be >= 2, got $k")
    // Fused codegen'd gram-hash kernel (round-14; was an interpreted
    // transform HOF building every gram string, then md5 after the
    // posexplode). The hash array preserves gram order, so posexplode
    // yields the same 0-based positions; values are pinned identical
    // in NgramExprSpec.
    toks.filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(
        graft.functions.Ngrams.wordNgramH64s(col("toks"), k, prefix = "sd|")))
      .select(col("doc_id"), col("pos"), col("col").as("gh"))
  }

  /** Maximal duplicated token spans per document: (doc_id, span_start,
    * span_end), token indices, end-exclusive, non-overlapping and
    * non-adjacent (touching marks merge — contiguous duplicated
    * tokens are one region). A gram occurrence is duplicated when its
    * hash occurs more than once CORPUS-WIDE — including twice within
    * one document, which is how within-doc boilerplate repetition is
    * caught.
    *
    * '''Materialization trade''': the gram-occurrence table (one row
    * per token position) is checkpointed so the count side and the
    * mark side share one scan. With no checkpoint dir configured this
    * is a `localCheckpoint` — executor-local blocks that are NOT
    * fault-tolerant (an executor loss fails the job; rerun to recover)
    * and that ContextCleaner frees only once the returned frame is
    * unreachable, so long-lived sessions holding many results
    * accumulate executor storage. For fault-critical or long-lived
    * runs, call `spark.sparkContext.setCheckpointDir(...)` first: the
    * operator then writes a reliable checkpoint to that FS and
    * executor loss becomes a re-read, at the price of one remote
    * write/read cycle.
    */
  def duplicatedSpans(toks: DataFrame, k: Int): DataFrame =
    duplicatedSpans(toks, k, saltRegime(toks))

  /** [[duplicatedSpans]] in the regime the caller names. */
  private[graft] def duplicatedSpans(toks: DataFrame, k: Int,
      salted: Boolean): DataFrame = {
    // SMALL REGIME (input below the salt threshold): the one-scan,
    // one-gh-exchange window count. A window partition cannot be split,
    // but below the threshold even a gram owning EVERY occurrence is a
    // bounded single-task fold — and this plan skips the eager
    // checkpoint job, the second exchange, and the 16× key replication
    // the skew-proof form pays.
    if (!salted) {
      val marked = gramOccurrences(toks, k)
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("gh")))
        .filter(col("cnt") > 1)
        .select(col("doc_id"), col("pos").as("s"),
          (col("pos") + lit(k)).cast("long").as("e"))
      return mergeMarks(marked)
    }
    // BIG REGIME: skew-proof two-phase duplicate detection. The small
    // regime's count over Window.partitionBy(gh) is one scan and one
    // exchange, but a window partition CANNOT be split: a mega-gram
    // (one k-gram occurring millions of times — boilerplate headers do
    // this at corpus scale) funnels every occurrence through a single
    // WindowExec task. The replacement keeps cost linear in occurrence
    // count while spreading the hot gram:
    //  1. occurrences materialize ONCE (checkpoint) — the window
    //     form's one-scan property survives because the count side and
    //     the mark side both read the checkpoint blocks instead of
    //     recomputing the tokenize-and-explode subtree (whose two
    //     exchange children differ, so ReuseExchange alone could not
    //     dedupe them — the q82 lesson). Costs of that materialization,
    //     not just its benefit (see the "materialization trade" note on
    //     the method scaladoc): the table is one row per token position,
    //     so at corpus scale it is a large spill; the localCheckpoint
    //     default truncates lineage WITHOUT fault tolerance (an executor
    //     loss fails the job instead of recomputing); and the blocks are
    //     freed by ContextCleaner only after the returned frame — and
    //     every derived plan — becomes unreachable, so a long-lived
    //     session that holds results accumulates executor storage.
    //     Sessions that set `sparkContext.setCheckpointDir` get a
    //     RELIABLE checkpoint instead: blocks live in the (typically
    //     replicated) checkpoint FS, executor loss re-reads instead of
    //     failing, and storage is bounded by the dir's own lifecycle.
    //  2. the corpus-wide gram count is a TWO-PHASE hash aggregate:
    //     the map-side partial is exactly the salted first phase of
    //     Skew.saltedCount with salt := source partition, so the hot
    //     gram's final reducer receives at most one partial row per
    //     map task, never raw occurrences;
    //  3. marking joins occurrences back to the duplicated gram keys
    //     via Skew.saltedJoin — the occurrence side takes a
    //     deterministic content salt and the dup-key side (8-byte
    //     rows, duplicated-gram-type cardinality) is replicated
    //     `MarkSaltFactor` ways, so a mega-gram's occurrences spread
    //     over MarkSaltFactor reducers instead of hashing into the one
    //     partition a plain equi-join would send them to.
    val grams = gramOccurrences(toks, k)
    val occ =
      if (toks.sparkSession.sparkContext.getCheckpointDir.isDefined)
        grams.checkpoint()
      else grams.localCheckpoint()
    val dup = occ.groupBy("gh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("gh")
    markAndMerge(occ, dup, k, salted = true)
  }

  /** Shared mark-and-merge tail: join of gram occurrences against the
    * duplicated-gram keys (see [[duplicatedSpans]] step 3), then the
    * one-exchange interval merge. The join is SALTED only in the big
    * regime, which the caller decides ([[saltRegime]] of its input): a
    * plain equi-join below the threshold lets AQE broadcast a
    * benchmark-sized key set over one scan with zero replication, while
    * past it a corpus-hot gram's occurrences spread over
    * [[MarkSaltFactor]] reducers instead of hashing into one sort-merge
    * partition. Identical output either way. Package-visible so the
    * cross-epoch streaming form ([[graft.streaming.LiveSpanDedup]])
    * shares the exact marking semantics with the batch operators; its
    * currency JOIN estimates as the product of its children, so it
    * decides from the underlying store scan instead.
    */
  private[graft] def markAndMerge(occ: DataFrame, dupKeys: DataFrame,
      k: Int, salted: Boolean): DataFrame = {
    val joined =
      if (salted) Skew.saltedJoin(occ, dupKeys, "gh", MarkSaltFactor)
      else occ.join(dupKeys, Seq("gh"))
    mergeMarks(joined
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(k)).cast("long").as("e")))
  }

  /** Salt fan-out for the mark joins: a hot gram spreads over this many
    * reducers; the replicated side pays 8 bytes × factor per gram key.
    */
  private val MarkSaltFactor = 16

  /** Maximal spans of `toks` whose k-grams appear ANYWHERE in `ref`
    * (another token corpus — q66's benchmark, a blocklist, a license
    * corpus): (doc_id, span_start, span_end), same contract as
    * [[duplicatedSpans]]. This is SPAN-LEVEL decontamination — the
    * surgical companion to `Decontaminate`'s drop-the-document
    * policy: a long document with one leaked benchmark passage loses
    * the passage ([[removeSpans]]), not its novel 99%. Marking is one
    * gram-keyed equi-join against the DISTINCT ref gram hashes (both
    * sides 8-byte keys; ref grams are typically benchmark-sized —
    * AQE broadcasts them — and `Decontaminate`'s Bloom prefilter
    * composes upstream when they are not).
    */
  def matchedSpans(toks: DataFrame, ref: DataFrame, k: Int): DataFrame = {
    val refGrams = gramOccurrences(ref, k).select("gh").distinct()
    // Same adaptive mark join as duplicatedSpans: below the salt
    // threshold a plain equi-join AQE-broadcasts the benchmark-sized
    // gram set; past it, a corpus-hot gram matching a ref gram would
    // pile into one sort-merge partition, so the salted form takes over.
    val occ = gramOccurrences(toks, k)
    markAndMerge(occ, refGrams, k, saltRegime(occ))
  }

  /** Classic streaming interval merge as two windows over ONE doc_id
    * exchange: a mark opens a new span iff it starts beyond the
    * running max end of everything before it; the running sum of
    * those openings numbers the spans. Shared by the duplicate and
    * ref-match markers.
    */
  private def mergeMarks(marked: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("s")
    val prevMax = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("ng", when(prevMax.isNull || col("s") > prevMax, 1).otherwise(0))
      .withColumn("grp", sum(col("ng"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min(col("s")).cast("long").as("span_start"), max(col("e")).as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** Cut `spans` out of the token arrays: (doc_id, toks) with every
    * token whose index falls inside a span removed and the remainder
    * in original order — the paper's destructive dedup step. `spans`
    * is [[duplicatedSpans]] output (or any (doc_id, span_start,
    * span_end) frame); docs without spans pass through unchanged via
    * the left join. The span list is grouped per doc (bounded by
    * doc length / k spans) and the cut is one compiled walk
    * ([[graft.functions.SpanCut]] — round 15; the previous
    * `transform(filter(sequence(...), i -> NOT exists(spans, ...)))`
    * spelling evaluated O(toks × spans) INTERPRETED lambdas per
    * document, and spans concentrate on exactly the heavily-duplicated
    * docs this operator targets) — no token explode, no extra shuffle
    * beyond the doc-keyed span agg. SpanDedupSpec pins the kernel
    * value-identical to the HOF spelling.
    */
  def removeSpans(toks: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").cast("long").as("s"),
        col("span_end").cast("long").as("e"))).as("spans"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.SpanCutFunctions
          .spanCut(col("toks"), col("spans")).as("toks"))
  }
}
