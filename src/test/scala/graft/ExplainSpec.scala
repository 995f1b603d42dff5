package graft

import java.io.{ByteArrayOutputStream, PrintStream}

/** Plan-shape regression tests: the physical plans that make the engine
  * scale must KEEP their shape — a silent regression to a full scan, a
  * lost broadcast, or a global sort where a top-k belongs would still
  * pass the value-correctness gate but die at 100 TB.
  */
class ExplainSpec extends SparkSpec {

  private def plan(name: String): String = explained(SparkEntry.queries(name)(spark, sfDir))

  private def explained(df: org.apache.spark.sql.DataFrame): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out, true, "UTF-8")) { df.explain("formatted") }
    out.toString("UTF-8")
  }

  test("q02: column pruning reaches the parquet scan (2-column ReadSchema)") {
    val p = plan("q02_project")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"), p)
  }

  test("q03: both predicates push down to the scan") {
    val p = plan("q03_filter")
    assert(p.contains("GreaterThan(l_quantity,45.0)"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q06/q07: dimension joins broadcast (no fact-side shuffle)") {
    assert(plan("q06_broadcast_join").contains("BroadcastHashJoin"))
    val p7 = plan("q07_multijoin")
    assert(p7.contains("BroadcastHashJoin"), p7)
  }

  test("q13: aggregation is two-phase (partial map-side combine)") {
    val p = plan("q13_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q28_json: props is parsed once per row (one from_json in the plan)") {
    val p = plan("q28_json")
    assert("from_json\\(".r.findAllIn(p).size == 1, p)
  }

  test("q18: sort+limit fuses to TakeOrderedAndProject (no global sort)") {
    val p = plan("q18_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q135: Gopher gates are pure scan-side compute — the only exchange " +
      "is the output sort") {
    val p = plan("q135_gopher_rules")
    // Every metric rides the projection; a join or aggregate here means
    // a rule started shuffling the corpus.
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
  }

  test("q136: tercile cutoffs broadcast back — no doc-level sort-merge, " +
      "windows only over the counts frame") {
    val p = plan("q136_ccnet_buckets")
    assert(!p.contains("SortMergeJoin"),
      s"cuts should broadcast onto the scored docs:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // The per-source cumulative window exists (over distinct rounded
    // scores), and its product is broadcast, not shuffled, onto docs.
    assert(p.contains("Window"), p)
  }

  test("q137: packing's running total is the two-phase PrefixSum — no " +
      "single-partition ORDER BY window anywhere in the plan") {
    val p = plan("q137_pack_sequences")
    assert("Window \\(\\d".r.findAllIn(p).isEmpty,
      s"a WindowExec means the corpus-wide prefix sum collapsed to one task:\n$p")
  }

  test("q138: paragraph verdicts are mergeable agg + key join — no " +
      "corpus-wide window inside a paragraph key, no cartesian") {
    val p = plan("q138_paragraph_dedup")
    // The ORACLE uses md5-partitioned windows (single-node DuckDB); the
    // engine must not — a window over a mega-hot boilerplate key would
    // put every occurrence in one task. Partial aggregation handles the
    // hot key map-side instead.
    assert("Window \\(\\d".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial"),
      s"expected a map-side partial aggregate on the paragraph key:\n$p")
  }

  test("q139: mining rides the cell-pruned broadcast search — no " +
      "cartesian, probes broadcast onto their cells") {
    val p = plan("q139_hard_negatives")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q140: the data card is mergeable aggregates + a sources-sized " +
      "broadcast join — no window, no cartesian anywhere") {
    val p = plan("q140_data_card")
    assert("Window \\(\\d".r.findAllIn(p).isEmpty,
      s"a card metric started sorting the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q141: shard totals broadcast back — no sort-merge join, no rank " +
      "window inside a shard") {
    val p = plan("q141_shard_plan")
    assert("Window \\(\\d".r.findAllIn(p).isEmpty,
      s"a per-shard rank window would put a whole shard in one task:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q154: the delivery->curation->packing->shards chain adds NO " +
      "shuffle beyond q82's + q137's — the tail is totals agg + " +
      "broadcast + output sort") {
    val p = plan("q154_delivery_to_shards")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // No rank window within a shard; the curation window and the
    // prefix-sum exchange live upstream of the PrefixSum RDD boundary.
    assert("Window \\(\\d".r.findAllIn(p).isEmpty, p)
    // Visible exchanges: the nShards-sized totals agg + the output
    // sort — anything more means the chain grew a corpus shuffle.
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("q142/q143: card redaction and line dedup are pure scan-side " +
      "compute — the only exchange is the output sort") {
    for (name <- Seq("q142_card_redact", "q143_line_dedup")) {
      val p = plan(name)
      assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"),
        s"$name shuffled the corpus for a per-doc transform:\n$p")
      assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, s"$name:\n$p")
    }
  }

  test("q146: BPE encode is a narrow column chain riding the scan — the " +
      "learned rules fold in as plan literals, no join, no aggregate") {
    val p = plan("q146_bpe_encode")
    // The rules come from the memoized driver-side model; an encode
    // pass that joins a dictionary back would shuffle the vocabulary
    // for nothing at 6 rules.
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"encode should be scan-side only:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
  }

  test("q147: every truncation rung broadcasts its probe set — no " +
      "sort-merge join, no cartesian on the corpus side") {
    val p = plan("q147_mrl_recall")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"ground truth must be probes-broadcast x corpus, never corpus²:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q150: markup extraction is pure scan-side compute — the only " +
      "exchange is the output sort") {
    val p = plan("q150_markup_strip")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
  }

  test("q151: fertility report is the scan-side encode + ONE " +
      "sources-sized two-phase agg — no join anywhere") {
    val p = plan("q151_fertility_report")
    assert(!p.contains("Join"), s"the rules are plan literals, not a dim:\n$p")
    assert(p.contains("partial"), s"lost the map-side combine:\n$p")
  }

  test("q153: the whole repetition tree is ONE per-document compiled " +
      "pass — no explode, no aggregate, no pivot; the only exchange is " +
      "the output sort") {
    // Round-15 fusion pin (supersedes the min-struct-partial-agg pin:
    // the aggregate itself is gone). A regression back to the exchange
    // plan shows as Generate/HashAggregate/extra Exchanges reappearing.
    val p = plan("q153_gopher_repetition")
    assert(p.contains("gopher_repetition_nums"), p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("HashAggregate"), p)
    assert("Window \\(\\d".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
    assert("- Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("q152: image pairing is the band-key EQUI-join — candidates from " +
      "key collisions, never an all-pairs product") {
    val p = plan("q152_image_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the Hamming verify must run on band collisions only:\n$p")
  }

  test("q148/q149: blocklist gate and URL dedup shuffle only their " +
      "aggregation keys — the flag/canonicalize compute is scan-side") {
    for (name <- Seq("q148_blocklist_filter", "q149_url_dedup")) {
      val p = plan(name)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name:\n$p")
      // Two-phase agg: a partial map-side combine before the key shuffle
      // (the hot-key discipline — a mega-dup canonical URL reaches its
      // reducer as one partial per map task).
      assert(p.contains("partial"), s"$name lost its map-side combine:\n$p")
    }
  }

  test("q57: money sums aggregate LONGS two-phase — no decimal aggregate " +
      "buffer in the plan (the r12 long-cents policy)") {
    // The r11 decimal form cost ~1.6x over double summation; the
    // long-cents form must keep integer sum() in both phases, with the
    // one cents->double division applied AFTER the final merge, and
    // still partial-aggregate map-side (grand totals over the whole
    // table would otherwise ship every row to one task at 100 TB).
    val p = plan("q57_cube")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.toLowerCase.contains("sum(cast"), p) // no per-row decimal cast feeding sum
    assert(!p.contains("DecimalType") && !p.contains("decimal(18"),
      s"decimal crept back into the money aggregate:\n$p")
  }

  test("q33: probes broadcast; codegen'd dot_f; per-partition top-k below the window") {
    val p = plan("q33_similarity_topk")
    assert(p.contains("Broadcast"), p)
    assert(p.contains("dot_f"), p)
    // Spark's WindowGroupLimit pushes rank<=k below the exchange — the
    // rewrite SURVEY §4 flagged; built-in since 3.5, so no custom Rule.
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q73: the index build is the codegen'd cell expression, not a typed map") {
    val p = plan("q73_ann_ivf")
    // The corpus encode must be the ivf_cell expression inside codegen;
    // a MapElements here means the typed-map ser/de crept back onto the
    // every-vector scan. (The remaining DeserializeToObject is the
    // probe-side flatMap — bounded by probe count, not corpus.)
    assert(p.contains("ivf_cell"), p)
    assert(!p.contains("MapElements"), p)
  }

  test("q74: quantized scorer broadcasts probes and runs the codegen'd dot_l") {
    val p = plan("q74_quantized_ann")
    assert(p.contains("Broadcast"), p)
    // The integer dot must be the fused expression, not an interpreted
    // aggregate(zip_with(...)) lambda chain.
    assert(p.contains("dot_l"), p)
    assert(!p.contains("zip_with"), p)
    // Rank<=k is pushed below the exchange like q33's.
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q35: top-10 selection is TakeOrderedAndProject, not a global window") {
    val p = plan("q35_tfidf")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q46: kernel is distributed — no driver-side corpus materialization") {
    val p = plan("q46_embed_neardup")
    // A collect()+broadcast kernel reappears as LocalTableScan / a scan
    // over an ExistingRDD built on the driver; the block-tiled kernel
    // reads the parquet corpus directly and top-k's via TakeOrdered.
    assert(!p.contains("LocalTableScan"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Scan parquet"), p)
  }

  test("q76: PQ scoring joins stay broadcast; rank is group-limited") {
    val p = plan("q76_pq_ann")
    // The coded corpus must join the per-probe lookup tables as the
    // STREAMED side of broadcast hash joins (the tables are probes x k
    // rows); a sort-merge here would shuffle the whole coded corpus
    // once per subspace. Rank<=k bounds the exchange map-side.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q75: semDedup pairs via an equi-join on cell — never all-pairs") {
    val p = plan("q75_semdedup")
    // The within-cell candidate join must stay a hash/sort-merge equi-join
    // keyed on the cell id; a CartesianProduct here is the n^2 shape the
    // coarse quantizer exists to prevent. The pair scorer is the
    // codegen'd dot_f, not an interpreted lambda chain.
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("dot_f"), p)
  }

  test("q11: bucketed interval join keeps an equi-join (no nested loop)") {
    val p = plan("q11_range_join")
    assert(!p.contains("NestedLoop"), p)
    assert(p.contains("Join"), p)
  }

  test("q66: decontamination is keyed joins + anti join, never all-pairs") {
    val p = plan("q66_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("LeftAnti"), p)
    // The benchmark-filter predicate reaches the corpus scan.
    assert(p.contains("Not(EqualTo(source,src0))"), p)
    // The verification join's benchmark side reads the grams
    // MATERIALIZED by contaminatedIds' localCheckpoint (a block scan),
    // not a re-derivation of the whole tokenize-explode-join subtree —
    // which would double-compute the benchmark grams per action.
    assert(p.contains("ExistingRDD"), p)
  }

  test("q67: hash sampling is a pure scan-side filter with pruned columns") {
    val p = plan("q67_hash_sample")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"), p)
  }

  test("q79: LM scoring under the localize gate is one compiled " +
      "scan-side pass — no explode, no agg, no join in the plan") {
    val p = plan("q79_lm_score")
    // The r15 LM kernel (functions/LmExpressions): the tf agg, both
    // count-table joins and the per-doc reduce were all doc_id-keyed,
    // so under the localize gate scoring is a narrow projection — the
    // only exchanges are the loader rebalance and the output sort.
    // (Above the driver-local bound the join spelling runs; this pin
    // covers the test-tier path.)
    assert(p.contains("lm_score_bigram"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Generate") && !p.contains("HashAggregate") &&
      !p.contains("Join"), p)
  }

  test("q81: duplication rate is one gram-keyed agg + join back") {
    val p = plan("q81_dup_gram_fraction")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q84: DSIR scoring joins the broadcast model — one doc reduce, no SMJ") {
    val p = plan("q84_dsir_weights")
    // The bucket-count tables and the totals row are ≤B-row broadcast
    // artifacts; a sort-merge join here would shuffle the corpus-sized
    // feature stream once per table instead of zero times.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q85: BM25 stats broadcast; top-10 is TakeOrderedAndProject") {
    val p = plan("q85_bm25")
    // df and (N, avgdl) broadcast against the tf stream; selection is
    // per-partition top-k, not a global sort or unpartitioned window
    // over the scored corpus.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q86: hybrid fusion — vector side group-limited, no cartesian corpus join") {
    val p = plan("q86_hybrid_rrf")
    assert(p.contains("dot_f"), p)
    // rank<=20 bounds the vector exchange map-side (q33's shape).
    assert(p.contains("WindowGroupLimit"), p)
    // The only nested-loop is the 3x20 probe x text-ranking replicate —
    // broadcast, never a shuffled CartesianProduct.
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q87 big regime: span dedup is a salted two-phase count — no per-gram fold") {
    // Forces the salted plan the 100 TB path takes; the sf0.001 input
    // would otherwise (correctly) pick the small regime.
    val p = q87Plan(salted = true)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    // The corpus scans ONCE, at checkpoint-build time: the final plan's
    // count side and mark side both read the materialized occurrence
    // blocks (ExistingRDD), never a second parquet pass.
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("ExistingRDD"), p)
    // The duplicate-gram count is a two-phase hash aggregate (map-side
    // partial = the salted first phase), NEVER a gram-partitioned
    // window fold — a mega-gram must not own a WindowExec partition.
    assert(p.contains("partial_count"), p)
    assert(!p.contains("windowspecdefinition(gh"), p)
    // The mark join-back carries the deterministic salt key, spreading
    // a hot gram over MarkSaltFactor reducers when the dup side is too
    // big to broadcast.
    assert(p.contains("_graft_salt"), p)
    // Both merge windows run per-doc — the unpartitioned-window trap
    // would funnel every marked gram through one task.
    assert(p.contains("windowspecdefinition(doc_id"), p)
  }

  test("q87 small regime: one pass over the token artifact, one gh " +
      "window count, no salt") {
    // Below the threshold (the bench scales live here) the plan must be
    // the cheap one: one pass over the memoized token artifact (an
    // ExistingRDD since the round-16 tokenized memo; previously the
    // parquet scan), the duplicate decision as a gh-partitioned window
    // count, and NO salt replication — the r9 3–8× constant-factor
    // regression came from paying the skew machinery on inputs that
    // can't skew. (The big-regime discriminator is the salt key + the
    // two-phase partial_count, pinned in the big-regime test.)
    val p = q87Plan(salted = false)
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("windowspecdefinition(gh"), p)
    assert(!p.contains("_graft_salt"), p)
    assert(p.contains("windowspecdefinition(doc_id"), p)
  }

  /** q87_span_dedup's plan with the salt regime pinned: the registry's
    * token artifact through the regime-taking operator form.
    */
  private def q87Plan(salted: Boolean): String =
    explained(graft.operators.SpanDedup.duplicatedSpans(
      graft.queries.TrainingData.tokenized(spark, sfDir), k = 8, salted)
      .orderBy("doc_id", "span_start"))

  test("q39: watermark running max is the two-phase scan — no window operator at all") {
    val p = plan("q39_watermark_late")
    // The old form's Window.orderBy(event_id) planned a single-partition
    // WindowExec over the whole events table; the PrefixSum rewrite
    // leaves NO window node anywhere (the tumbling agg is a plain
    // hash aggregate over the time-window projection).
    assert("Window \\(\\d".r.findAllIn(p).isEmpty, p)
    // The two-phase scan hands the plan its materialized rows.
    assert(p.contains("ExistingRDD"), p)
  }

  test("q94: the postings query never re-scans the corpus") {
    val p = plan("q94_bm25_postings")
    // The query side reads the MATERIALIZED index blocks (ExistingRDD
    // from the build-time localCheckpoint) — a parquet scan here means
    // the 'index' recomputed the corpus per query, the exact cost the
    // postings architecture exists to remove.
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q82: curation serves from the materialized survivor artifact — " +
      "a narrow filter, zero hash exchanges") {
    // Round-16: the filter+window-dedup stage output is the memoized
    // [[curated]] artifact shared with q92, so the per-call plan is a
    // scan-side sample filter over the materialized blocks — no Join,
    // no corpus-keyed hash exchange (the only exchange left is the
    // presentation sort's range partition). The artifact's own build
    // (fused filter pass + ONE text-keyed window exchange) runs once
    // per session and stays visible in queries_first.
    val p = plan("q82_curation_pipeline")
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Join"), p)
    assert("hashpartitioning".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("Scan parquet"), p)
  }

  test("q113/q114: pivot is ONE two-phase agg, unpivot a narrow Expand — no join") {
    val p = plan("q113_pivot")
    // Spark rewrites pivot to a two-step agg chain — (day, type) counts,
    // then pivotfirst over day. Both exchanges are bounded by DISTINCT
    // group counts after map-side combine (never event-sized), and the
    // explicit value list avoids the extra distinct-values job; what
    // must never appear is a per-column join or transpose.
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert("hashpartitioning".r.findAllIn(p).size == 2, p)
    val u = plan("q114_unpivot")
    assert(u.contains("Expand"), u)
    assert(!u.contains("Join"), u)
  }

  test("q111: percolate broadcasts the query registry — no corpus-side merge join") {
    val p = plan("q111_percolate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q110: search_after page is TakeOrderedAndProject (no offset materialization)") {
    val p = plan("q110_search_after")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q108: prefix expansion joins the postings via broadcast") {
    val p = plan("q108_prefix_search")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q129/q131/q132: event analytics and sampling avoid the global-order trap") {
    // Funnel: user-keyed aggs and joins only — no WindowExec at all,
    // no cartesian.
    val f = plan("q129_funnel")
    assert(!f.contains("Window"), f)
    assert(!f.contains("CartesianProduct"), f)
    // Stratified sample: the rank filter pushes below the exchange
    // (WindowGroupLimit), so only each group's top rows shuffle.
    val s = plan("q131_stratified_sample")
    assert(s.contains("WindowGroupLimit"), s)
    // Weighted sample: global top-k is TakeOrderedAndProject; the rank
    // window runs over the k survivors, never the corpus.
    val w = plan("q132_weighted_sample")
    assert(w.contains("TakeOrderedAndProject"), w)
  }

  test("q116: the one-call search request pages via TakeOrderedAndProject, " +
      "no cartesian anywhere in the composition") {
    val p = plan("q116_search_request")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // The stats cross-join must be the broadcast nested loop over ONE
    // row, never a shuffled product.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q164: winnowing fingerprint extraction is pure scan-side — zero " +
      "exchanges before the pair stage") {
    import org.apache.spark.sql.functions.col
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val df = graft.operators.Winnow.fingerprints(toks, 3, 4)
    val out = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out, true, "UTF-8")) { df.explain("formatted") }
    val p = out.toString("UTF-8")
    // The window scope is the document: grams, hashes, and the argmin
    // selection all ride the scan. An Exchange here means the per-doc
    // stage started shuffling the corpus.
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q167: group top-k is the mergeable aggregate — NO rank window " +
      "anywhere in the plan, partial aggregation below the exchange") {
    val p = plan("q167_topk_terms")
    // The whole point of TopKAggregator: the window form would shuffle
    // the full (source, term) count table and sort every group.
    assert("Window \\(\\d".r.findAllIn(p).isEmpty,
      s"a rank window means the aggregate degenerated:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("q165: the composite after-cursor reaches the parquet scan as one " +
      "pushed OR predicate; the page is TakeOrderedAndProject") {
    val p = plan("q165_composite_agg")
    assert(p.contains(
      "Or(GreaterThan(user_id,7),And(EqualTo(user_id,7),GreaterThan(event_type,purchase)))"),
      s"cursor must prune at the scan, not filter post-agg:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    // Two-phase aggregation: a partial HashAggregate below the exchange.
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q170: suggest candidates come from the broadcast delete-key join " +
      "— no sort-merge, no corpus scan at query time") {
    val p = plan("q170_term_suggest")
    // The query side's few dozen keys broadcast into the vocab index;
    // a SortMergeJoin here means the index join started shuffling the
    // exploded vocabulary against the query side.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // Work is vocabulary-index-sized: the only corpus-derived input is
    // the memoized vocab artifact (an RDD scan), never documents.parquet.
    assert(!p.contains("documents.parquet"), s"corpus scan at query time:\n$p")
  }

  test("q171: span_near terms filter before the ONE doc-keyed exchange; " +
      "window and both agg phases reuse it (only other exchange = output sort)") {
    val p = plan("q171_span_near")
    // isin prunes to the two terms' postings before any shuffle.
    assert(p.contains("IN (data,query)"), p)
    // Exactly two exchanges: hashpartitioning(doc_id) for the lag
    // window (the per-doc reduce rides the same partitioning — partial
    // AND final HashAggregate sit between the exchanges) and the final
    // rangepartitioning ORDER BY.
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q173: readability is scan-side regex counting + one two-phase " +
      "bucket agg — no join, no window, no explode") {
    val p = plan("q173_readability")
    assert(!p.contains("Join") && "Window \\(\\d".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("Generate"), s"an explode crept into the counting:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q174: CDC chunking rides the scan (one Generate, no join before " +
      "the chunk-key agg); report cut is TakeOrderedAndProject") {
    val p = plan("q174_cdc_chunks")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // One chunk-keyed two-phase agg; the totals come back broadcast.
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q172: the ranked page broadcasts into the label pass; ideal@k is " +
      "TakeOrderedAndProject, never a corpus sort") {
    val p = plan("q172_rank_eval")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q181: anchor terms and candidate scoring join broadcast; the " +
      "per-anchor cut is an aggregate, not a corpus window") {
    val p = plan("q181_training_triples")
    assert(p.contains("BroadcastHashJoin"), p)
    // The pair-partner anti-join deliberately carries NO broadcast hint
    // (its size is the anchors' clique degree — unbounded; round-14
    // ADVICE fix), so the STATIC plan may show it as SMJ and AQE
    // converts it at runtime when it fits. Every OTHER join must still
    // broadcast statically: the only SMJ allowed is that LeftAnti.
    val smj = "SortMergeJoin [A-Za-z]+".r.findAllIn(p).toSeq
    assert(smj.forall(_.contains("LeftAnti")), s"$smj\n$p")
    // the only Window is the per-anchor term rank over the ANCHORS'
    // postings rows (k·terms rows); the negative's top-1 is the
    // min(struct) hash-agg — assert no second window appeared
    assert("Window \\(\\d".r.findAllIn(p).size <= 1, p)
  }

  test("q45: simhash is one compiled pass — no Generate (explode), no " +
      "aggregate; the only exchange is the output sort") {
    // Round-15 kernel pin: the previous spelling exploded 16 bit-rows
    // per TOKEN through two aggregations; a regression back to it
    // shows as Generate/HashAggregate reappearing.
    val p = plan("q45_simhash")
    assert(p.contains("simhash16"), p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("HashAggregate"), p)
    // tree-prefix count: each node appears once in the tree ("+- X")
    // and once in the detail section ("(n) X")
    assert("- Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("q81: the gram exchanges carry the 8-byte h64 digest, never the " +
      "gram string") {
    val p = plan("q81_dup_gram_fraction")
    // the fused kernel emits gh directly; a 'gram' column anywhere in
    // the physical plan means the string came back
    assert(p.contains("word_ngram_h64s"), p)
    assert(!p.contains("gram#"), p)
  }

  test("loader rebalance: the forced floor adds one round-robin " +
      "exchange; the default floor leaves tiny tiers untouched") {
    // The bounded small-input rebalance (Tables.rebalanced) must stay
    // OFF below the byte floor (no exchange in front of broadcast
    // dims, spec-tier plans unchanged) and, when it engages, be a
    // single round-robin repartition — never a hash exchange.
    val p0 = plan("q02_project")
    assert(!p0.toLowerCase.contains("roundrobin"), p0)
    // q02's loader and projection with the floors forced to 1.
    val path = s"$sfDir/customer.parquet"
    val p = explained(graft.queries.Tables.rebalanced(spark, spark.read.parquet(path),
      path, minBytes = 1, minBytesPerRow = 1).select("c_custkey", "c_name"))
    assert(p.toLowerCase.contains("roundrobin"), p)
    assert(!p.contains("hashpartitioning"), p)
    // Narrow rows alone (customer ~21 compressed B/row) stay put even
    // under the forced byte floor: the rebalance buys scan-side
    // COMPUTE parallelism, which narrow relational rows never repay
    // (round-16 bytes-per-row gate; one-window A/B evidence in
    // OPTIMIZATION_r16.md).
    val pNarrow = explained(graft.queries.Tables.rebalanced(spark,
      spark.read.parquet(path), path, minBytes = 1).select("c_custkey", "c_name"))
    assert(!pNarrow.toLowerCase.contains("roundrobin"), pNarrow)
  }

  test("q66: the Bloom prefilter probes LONGS scan-side and the " +
      "verification join carries digests, never gram strings") {
    val p = plan("q66_decontaminate")
    assert(p.contains("bloom_might_contain_long"), p)
    assert(p.contains("word_ngram_h64s"), p)
    assert(!p.contains("gram#"), p)
  }
}
