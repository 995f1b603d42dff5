package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The rest of the search-sink query DSL. The reference delivers into
  * OpenSearch (`kds_example/iac/s2_app.py:841-858`) whose core query
  * surface is match / match_phrase / fuzzy / prefix / bool /
  * more_like_this; the engine already serves match (BM25,
  * [[Retrieval.bm25]]), match_all, term/range filters (plain
  * predicates), count and aggregations. This module adds the missing
  * query types so a user of the reference's search sink can issue
  * every query family engine-side:
  *
  *  - [[positionalPostings]] + [[phraseMatch]] — `match_phrase`
  *    (terms adjacent, in order), served from a positional postings
  *    table instead of a corpus re-scan;
  *  - [[fuzzyExpand]] — `fuzzy` term expansion (Levenshtein ≤ k over
  *    the vocabulary, length-banded);
  *  - [[mltTerms]] — `more_like_this` query-term selection (the
  *    probe's most characteristic terms by tf·idf), feeding the
  *    existing match machinery;
  *  - `bool` queries are composition (must = match-AND via
  *    [[Retrieval.bm25]]'s n_terms, filter/must_not = plain
  *    predicates) — see q104 in the registry for the canonical shape;
  *  - [[prefixExpand]] / [[wildcardExpand]] — `prefix` and `wildcard`
  *    term queries resolved against the term dictionary (q108/q112);
  *  - [[searchAfter]] — keyset pagination, the `search_after` cursor
  *    contract (q110);
  *  - [[percolate]] — reverse search over registered queries, the
  *    percolator/alerting surface (q111);
  *  - [[termsFacet]] — the `terms` aggregation panel beside a search
  *    page (q109);
  *  - [[significantTerms]] — the `significant_terms` aggregation
  *    (JLH-scored foreground-vs-background term skew, q159);
  *  - [[collapseTop]] — `collapse` field collapsing, one best hit per
  *    key with the inner-hits count (q161);
  *  - [[compositeAgg]] — the `composite` aggregation, keyset-paginated
  *    buckets (q165);
  *  - [[spanNear]] — the `span_near` proximity query over the same
  *    positional postings (q171);
  *  - [[termSuggest]] — the `term` suggester ("did you mean"),
  *    SymSpell delete-neighborhood candidates + exact Levenshtein
  *    (q170);
  *  - [[dateHistogramPipeline]] — `date_histogram` with the pipeline
  *    aggregations (`cumulative_sum` / `derivative` / `moving_fn`)
  *    over dense min_doc_count:0 buckets (q176).
  *
  * Scale shapes are per-method; the common theme mirrors
  * [[Retrieval]]: per-query work is bounded by the QUERY TERMS'
  * postings or by the (corpus-distinct, tiny) vocabulary — never a
  * corpus scan at query time.
  */
object SearchDsl {

  /** Positional postings: (term, doc_id, pos) with `pos` the 0-based
    * token position — the positional analogue of
    * [[Retrieval.buildTextIndex]]'s postings, what Lucene stores when
    * positions are enabled. One narrow projection + generate, no
    * shuffle; persist with [[writePositionalIndex]] so phrase queries
    * prune to their terms' buckets.
    */
  def positionalPostings(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** Persist positional postings BUCKETED BY term (the
    * [[Retrieval.writeTextIndex]] layout): a phrase query's
    * `term IN (...)` filter reads only the matching buckets, the
    * scan-pruned analogue of a positional postings-list read. Sorted
    * within buckets so footer min/max prune row groups too.
    */
  def writePositionalIndex(positional: DataFrame, name: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"bucket count must be positive, got $buckets")
    positional.write.mode("overwrite")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(s"${name}_pos")
  }

  /** Reopen a [[writePositionalIndex]] table by name. */
  def readPositionalIndex(spark: org.apache.spark.sql.SparkSession, name: String): DataFrame =
    spark.table(s"${name}_pos")

  /** `match_phrase`: documents containing the exact token sequence
    * `phrase`, with the number of occurrences — (doc_id, n_hits),
    * matching docs only.
    *
    * One occurrence-sized shuffle regardless of phrase length (the
    * per-doc reduce after it touches only hit rows): each occurrence of
    * phrase term `t` at position `p` proposes, for every slot `i`
    * where `phrase(i) == t`, the candidate phrase start `p − i`; a
    * start is a hit iff all m slots proposed it, i.e. the
    * (doc, start) group has exactly m rows — each slot contributes at
    * most one row to a given start (the token at start+i either is
    * phrase(i) or isn't), so `count(*) == m` is the full adjacency
    * check. The alternative m−1 self-joins on (doc_id, pos+i) shuffle
    * the same rows m−1 times and degrade with phrase length.
    *
    * Work is bounded by the PHRASE TERMS' postings: the `isin` filter
    * reaches the store scan (bucket-pruned under the
    * [[writePositionalIndex]] layout), the slot table is broadcast,
    * and the one exchange carries only matching occurrences. A stop-
    * word-heavy phrase ("the a the") degrades to its terms' postings
    * size — Lucene pays the same; there is no corpus-sized fallback.
    */
  def phraseMatch(positional: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    val spark = positional.sparkSession
    import spark.implicits._
    val m = phrase.length
    val slots = phrase.zipWithIndex.map { case (t, i) => (t, i.toLong) }
      .toDF("term", "slot")
    positional.filter(col("term").isin(phrase.distinct: _*))
      .join(broadcast(slots), "term")
      .select(col("doc_id"), (col("pos") - col("slot")).as("start"))
      .groupBy("doc_id", "start").agg(count(lit(1)).as("covered"))
      .filter(col("covered") === m)
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** `fuzzy` term expansion: vocabulary terms within `maxEdits`
    * Levenshtein edits of `query` — the input frame (expected: a
    * vocabulary table like [[Retrieval.TextIndex]]'s `df`, one row
    * per DISTINCT corpus term) filtered to matches, with a `dist`
    * column appended.
    *
    * The length band |len(term) − len(query)| ≤ maxEdits is a
    * necessary condition for edit distance and is a plain comparison
    * the scan evaluates before the O(len²) levenshtein runs — on a
    * length-sorted vocabulary table it prunes via footer min/max.
    * The vocabulary is corpus-DISTINCT terms (tens of millions of
    * rows at 100 TB, not corpus-sized), so even the banded scan is a
    * small fraction of any corpus pass; OpenSearch bounds the same
    * walk with its term automaton over the term dictionary.
    */
  def fuzzyExpand(vocab: DataFrame, query: String, maxEdits: Int = 2): DataFrame = {
    require(maxEdits >= 0, s"maxEdits must be >= 0, got $maxEdits")
    vocab
      .filter(abs(length(col("term")) - lit(query.length)) <= maxEdits)
      .withColumn("dist", levenshtein(col("term"), lit(query)).cast("long"))
      .filter(col("dist") <= maxEdits)
  }

  /** `prefix` term expansion: vocabulary terms starting with `prefix` —
    * the input frame (a vocabulary table like [[Retrieval.TextIndex]]'s
    * `df`) filtered to matches. OpenSearch's prefix query resolves the
    * same way: walk the term dictionary, then read the matching terms'
    * postings ([[Retrieval.bm25FromIndex]] or a postings join
    * downstream — q108 shows the composition).
    *
    * `startsWith` compiles to a `StartsWith` predicate the parquet
    * scan evaluates, and on a term-sorted dictionary (the
    * [[Retrieval.writeTextIndex]] layout sorts within buckets) footer
    * min/max prune whole row groups — the scan-pruned analogue of
    * Lucene seeking the term-dictionary block. The vocabulary is
    * corpus-DISTINCT terms, never corpus-sized.
    */
  def prefixExpand(vocab: DataFrame, prefix: String): DataFrame = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    vocab.filter(col("term").startsWith(prefix))
  }

  /** `rare_terms` aggregation: vocabulary terms with document
    * frequency ≤ `maxDocCount` — the long-tail counterpart of
    * [[significantTerms]] (that verb asks "what is this result set
    * about"; this one asks "what almost never occurs" — typo mining,
    * PII-ish identifiers, contamination tells). A plain predicate on
    * the vocabulary frame: vocabulary-sized work, never corpus-sized,
    * and on a df-sorted dictionary layout the comparison prunes via
    * footer min/max (ES computes the same thing with a CuckooFilter
    * sweep precisely because its per-shard agg model cannot see the
    * global df table this engine already has).
    */
  def rareTerms(vocab: DataFrame, maxDocCount: Long = 1L): DataFrame = {
    require(maxDocCount >= 1, s"maxDocCount must be >= 1, got $maxDocCount")
    vocab.filter(col("df") <= maxDocCount)
  }

  /** `wildcard` term expansion, Lucene pattern syntax (`*` = any run,
    * `?` = one char, `\` escapes the next character to a literal —
    * `\*` matches a literal asterisk). Translated to a SQL LIKE over
    * the vocabulary (SQL metacharacters, whether literal in the
    * pattern or produced by an escape, are LIKE-escaped); a dangling
    * trailing `\` is refused as Lucene does. A pattern with a
    * non-wildcard prefix keeps that prefix scannable — Catalyst
    * rewrites `LIKE 'sc*'`-shaped patterns to StartsWith, and mixed
    * patterns still evaluate scan-side on the dictionary, never
    * against the corpus. Lucene documents the same hazard this
    * inherits: a leading `*` forces a full dictionary walk (still
    * vocabulary-sized, not corpus-sized).
    */
  def wildcardExpand(vocab: DataFrame, pattern: String): DataFrame = {
    require(pattern.nonEmpty, "pattern must be non-empty")
    def likeLiteral(c: Char): String = c match {
      case '%' => "\\%"
      case '_' => "\\_"
      case '\\' => "\\\\"
      case other => other.toString
    }
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      pattern(i) match {
        case '\\' =>
          require(i + 1 < pattern.length,
            s"dangling escape at end of wildcard pattern '$pattern'")
          sb.append(likeLiteral(pattern(i + 1)))
          i += 2
        case '*' => sb.append('%'); i += 1
        case '?' => sb.append('_'); i += 1
        case c => sb.append(likeLiteral(c)); i += 1
      }
    }
    vocab.filter(col("term").like(sb.toString))
  }

  /** `search_after` keyset pagination: the next `k` results strictly
    * after the cursor `(afterScore, afterDoc)` in the engine's ranking
    * order (rounded score descending, doc_id ascending — the q85/q104
    * contract). `scoreCol` must already be the ROUNDED score the
    * cursor was taken from, so cursor comparisons are exact.
    *
    * This is why OpenSearch deprecates deep offset paging in favor of
    * search_after: an OFFSET n page materializes and discards n rows
    * per partition, while the keyset predicate filters scan-side and
    * the `limit(k)` compiles to TakeOrderedAndProject — per-partition
    * top-k then a k-row driver merge, never a global sort. Page cost
    * is flat in page DEPTH at any corpus size.
    */
  def searchAfter(scored: DataFrame, scoreCol: Column,
      afterScore: Double, afterDoc: Long, k: Int): DataFrame = {
    require(k > 0, s"page size must be positive, got $k")
    scored
      .filter(scoreCol < afterScore ||
        (scoreCol === afterScore && col("doc_id") > afterDoc))
      .orderBy(scoreCol.desc, col("doc_id"))
      .limit(k)
  }

  /** `percolate` — reverse search, the OpenSearch alerting pattern:
    * registered queries are DATA (`queries`: one row per saved query,
    * `query_id` + `terms` array), and each document in `toks` reports
    * which registered queries it satisfies (conjunctive match: every
    * query term present). Returns (doc_id, query_id) pairs.
    *
    * Shape: the registry is tiny next to the corpus (saved searches vs
    * 100 TB of docs), so its exploded (term, query_id, n_q) table
    * BROADCASTS; each doc's DISTINCT terms join against it map-side and
    * the only exchange groups the surviving (doc, query) candidate
    * rows — bounded by matches, not by corpus × queries. A query term
    * no document contains simply never matches (correct conjunctive
    * semantics: the count can't reach n_q). Duplicate terms inside one
    * registered query are collapsed so `count == n_q` is exact.
    *
    * Streaming: percolation is stateless per doc, so running this on
    * each delivered micro-batch (e.g. from [[graft.streaming.IndexSink]]'s
    * enrich hook) alerts on ingest exactly like the OpenSearch
    * percolator — the batch and per-epoch forms agree by construction.
    */
  def percolate(toks: DataFrame, queries: DataFrame): DataFrame = {
    val qt = queries
      .select(col("query_id"), array_distinct(col("terms")).as("terms"))
      .select(col("query_id"), size(col("terms")).as("n_q"),
        explode(col("terms")).as("term"))
    // countDistinct, not count(*): a doc_id appearing on several input
    // ROWS (an at-least-once delivery landing one record twice in an
    // epoch) would otherwise contribute each term per copy, push
    // `matched` past n_q, and silently suppress the alert for a doc
    // that DOES match. Distinct terms per (doc, query) is the
    // conjunctive check under any input multiplicity, still one
    // partial-aggregated exchange.
    toks
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
      .join(broadcast(qt), "term")
      .groupBy(col("doc_id"), col("query_id"))
      .agg(countDistinct(col("term")).as("matched"), first(col("n_q")).as("n_q"))
      .filter(col("matched") === col("n_q"))
      .select(col("doc_id"), col("query_id"))
  }

  /** One search request — the full query-DSL surface as a single value,
    * what a search sink's request body carries. Clause semantics follow
    * the engine's oracle-gated operators:
    *
    *  - `must`: analyzed match terms, BM25-scored ([[Retrieval.bm25]]);
    *    `matchAll = true` demands every term (AND via n_terms, q104's
    *    shape), else any term matches (OR, q85's);
    *  - `phrase`: a `match_phrase` clause the doc must also contain
    *    ([[phraseMatch]]) — non-scoring here (a pure constraint);
    *  - `mustNot`: docs containing ANY of these terms are excluded;
    *  - `filter`: a non-scoring predicate over the attribute table
    *    (never affects BM25, as in Lucene);
    *  - `size` / `after`: page size and the optional keyset cursor
    *    ([[searchAfter]]);
    *  - `highlight`: attach the first-occurrence snippet for a term
    *    ([[highlight]]); hits without the term keep a null snippet;
    *  - `facet`: a `terms` aggregation field over the FULL hit set
    *    (not the page — OpenSearch aggs run pre-pagination).
    */
  final case class SearchRequest(
      must: Seq[String],
      matchAll: Boolean = false,
      phrase: Seq[String] = Nil,
      mustNot: Seq[String] = Nil,
      filter: Option[Column] = None,
      size: Int = 10,
      after: Option[(Double, Long)] = None,
      highlight: Option[String] = None,
      facet: Option[String] = None)

  /** Parse a `simple_query_string`-style query into a [[SearchRequest]]
    * — the text box in front of the search endpoint. Supported syntax
    * (the OpenSearch simple_query_string subset that maps onto the
    * engine's clauses):
    *
    *  - bare words → `must` terms, analyzed with the INDEX analyzer
    *    (lowercase, non-word split — a token like `Data-Driven`
    *    contributes the terms `data` and `driven`, exactly as the
    *    indexed corpus was tokenized);
    *  - `"quoted words"` → the `phrase` clause (at most one);
    *  - `-word` → `mustNot` terms;
    *  - `defaultOperator` = "or" (any term) or "and" (every term, the
    *    `matchAll` flag).
    *
    * Syntax this engine serves through richer operators — wildcards
    * (`*`/`?` → [[wildcardExpand]]), fuzziness (`~` →
    * [[fuzzyExpand]]), boosts (`^`), field prefixes (`:`), grouping
    * (`( )`) — is REFUSED loudly instead of silently stripped: a
    * query the parser cannot honor must not quietly search for
    * something else.
    */
  def parseQueryString(qs: String, defaultOperator: String = "or"): SearchRequest = {
    require(qs.trim.nonEmpty, "query string must be non-empty")
    require(Seq("or", "and").contains(defaultOperator),
      s"defaultOperator must be 'or' or 'and', got '$defaultOperator'")
    val reserved = "*?~^:()|".toSet
    val bad = qs.filter(reserved)
    require(bad.isEmpty,
      s"unsupported query_string syntax '${bad.distinct}' in '$qs' — use " +
        "wildcardExpand/fuzzyExpand or the SearchRequest clauses directly")
    // Locale.ROOT, matching the INDEX analyzer's locale-independent
    // lower(): a bare toLowerCase under e.g. a Turkish default locale
    // folds I to dotless ı and silently matches nothing.
    def analyze(s: String): Seq[String] =
      s.toLowerCase(java.util.Locale.ROOT).split("\\W+").filter(_.nonEmpty).toSeq
    // Lex: quoted phrase segments, then whitespace-split the rest.
    val quote = "\"([^\"]*)\"".r
    val phraseMatches = quote.findAllMatchIn(qs).toSeq
    // A negated/boosted PHRASE has no SearchRequest clause — refuse it
    // before the extraction would silently strip the operator and
    // invert the user's intent (-"bad phrase" must not become a
    // positive constraint). Anchored to each phrase's OPENING quote —
    // a '-' or '+' INSIDE a phrase, or trailing before its closing
    // quote, is ordinary analyzed content.
    phraseMatches.foreach { m =>
      require(m.start == 0 || !"-+".contains(qs(m.start - 1)),
        s"negated or marked quoted phrases are not supported in '$qs'")
    }
    val phrases = phraseMatches.map(_.group(1))
    require(phrases.size <= 1,
      s"at most one quoted phrase is supported, got ${phrases.size} in '$qs'")
    require(qs.count(_ == '"') % 2 == 0, s"unbalanced quote in '$qs'")
    val rest = quote.replaceAllIn(qs, " ")
    val (neg, pos) = rest.split("\\s+").filter(_.nonEmpty).toSeq
      .partition(_.startsWith("-"))
    // Refuse-loudly extends to tokens the analyzer dissolves (a lone
    // '+', '--', punctuation runs): dropping them would silently
    // execute a DIFFERENT query than the user wrote.
    def analyzed(raw: String, stripped: String): Seq[String] = {
      // A stripped form STILL starting with an operator ('--word',
      // '+-word') is a doubled/ambiguous operator, not content — the
      // analyzer would dissolve the residue and silently accept the
      // token as if singly-marked, the exact inversion refuse-loudly
      // exists to block ('--' alone was already refused; this anchors
      // the rule for operator-prefixed residues too).
      require(!stripped.startsWith("-") && !stripped.startsWith("+"),
        s"unsupported doubled operator token '$raw' in '$qs'")
      val ts = analyze(stripped)
      require(ts.nonEmpty, s"unsupported query_string token '$raw' in '$qs'")
      ts
    }
    val must = pos.flatMap(t => analyzed(t, t.stripPrefix("+")))
    val mustNot = neg.flatMap(t => analyzed(t, t.stripPrefix("-")))
    val phrase = phrases.headOption.map(analyze).getOrElse(Nil)
    require(must.nonEmpty || phrase.nonEmpty,
      s"query '$qs' has no positive clause")
    // A phrase-only query still needs scoring terms: the phrase's own
    // tokens serve as the match terms (OpenSearch scores a lone
    // match_phrase the same way — by its terms' BM25).
    SearchRequest(
      must = if (must.nonEmpty) must.distinct else phrase.distinct,
      matchAll = defaultOperator == "and",
      phrase = phrase,
      mustNot = mustNot.distinct)
  }

  /** A request's results: the ranked page (`doc_id`, rounded `score`,
    * `rank` — 1-based within THIS page; cursor pages restart at 1, the
    * client's running offset supplies absolute positions — and
    * `snippet` when highlighting) and, when requested, the facet table
    * over the full hit set.
    */
  final case class SearchResponse(hits: DataFrame, facets: Option[DataFrame])

  /** Execute a [[SearchRequest]] — the single entry point composing the
    * oracle-gated clause operators into one response, the way a search
    * sink's query endpoint does. `toks` is the tokenized corpus (or a
    * live `LiveTextIndex`-backed view of it), `meta` the doc-keyed
    * attribute table for `filter`/`facet`.
    *
    * Plan shape: BM25's one corpus shuffle bounds everything — every
    * later clause either filters that hit set scan-side (mustNot rides
    * the tokenized frame, filter/facet join doc-keyed) or joins a
    * clause-bounded frame (the phrase terms' postings). Pagination is
    * TakeOrderedAndProject; the facet groupBy exchanges only hit rows.
    * Nothing downstream of the match re-scans the corpus.
    *
    * With `index` supplied (a [[Retrieval.buildTextIndex]] artifact
    * over THE SAME tokens), the match serves from the materialized
    * postings instead of re-deriving them — per-request cost becomes
    * proportional to the query terms' postings (the way the search
    * sink actually answers: build the index once per state, serve
    * every request from it), and mustNot resolves as an anti-join
    * against the banned terms' postings — the inverted-index negative
    * clause — instead of a corpus re-tokenize. Per-(doc, term) BM25
    * is bit-identical either way (RetrievalSpec); only the per-doc
    * float-sum order may differ, absorbed by the emitted r2 rounding
    * exactly as between the engine and the oracle. The phrase clause
    * keeps its scan-side positional pass in both modes (its
    * pre-shuffle term filter is already the pruned-postings shape;
    * [[writePositionalIndex]] is the persisted variant).
    */
  def search(toks: DataFrame, meta: DataFrame, req: SearchRequest,
      index: Option[Retrieval.TextIndex] = None): SearchResponse = {
    require(req.must.nonEmpty, "a search request needs at least one must term")
    require(req.size > 0, s"size must be positive, got ${req.size}")
    // Round-half-up-to-2-decimals in explicit IEEE ops (graft.queries.Par
    // spells out why this beats round(x, 2) for engine parity): the
    // cursor contract needs scores a CLIENT holds to compare exactly.
    def r2(c: Column): Column = floor(c * 100 + lit(0.5)) / 100
    var hits = index match {
      case Some(ix) => Retrieval.bm25FromIndex(ix, req.must)
      case None => Retrieval.bm25(toks, req.must)
    }
    if (req.matchAll) hits = hits.filter(col("n_terms") === req.must.distinct.size)
    if (req.phrase.nonEmpty)
      hits = hits.join(
        phraseMatch(positionalPostings(toks), req.phrase).select(col("doc_id")),
        "doc_id")
    if (req.mustNot.nonEmpty) hits = index match {
      case Some(ix) =>
        // {hits} minus {docs with any banned term}: identical to the
        // arrays_overlap filter below (every doc has a toks row, so
        // the inner join there is a pure subtraction too).
        hits.join(
          ix.postings.filter(col("term").isin(req.mustNot: _*))
            .select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      case None =>
        val banned = array(req.mustNot.map(lit): _*)
        hits.join(
          toks.filter(!arrays_overlap(col("toks"), banned)).select(col("doc_id")),
          "doc_id")
    }
    req.filter.foreach { pred =>
      hits = hits.join(meta.filter(pred).select(col("doc_id")), "doc_id")
    }
    val scored = hits.select(col("doc_id"), r2(col("score")).as("score"))
    val facets = req.facet.map { field =>
      termsFacet(scored.select(col("doc_id")), meta, field,
        Seq(count(lit(1)).as("n_docs")))
    }
    val page = req.after match {
      case Some((s, d)) => searchAfter(scored, col("score"), s, d, req.size)
      case None => scored.orderBy(col("score").desc, col("doc_id")).limit(req.size)
    }
    // `rank` is the position WITHIN the returned page (1..size). A
    // keyset cursor deliberately carries no global offset — that is
    // what makes page cost flat in depth — so the engine cannot know
    // how many rows precede the cursor without counting them; a client
    // that wants absolute positions adds its own running offset, as
    // q110 does when it labels page 2 ranks 11–20.
    val ranked = page.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))).cast("bigint"))
    val out = req.highlight match {
      case Some(term) =>
        // Highlight the PAGE's docs only (the highlight scaladoc's own
        // contract): semi-join the tokenized corpus down to the ≤ size
        // hit rows before snippetting — per-request highlight cost is
        // page-bounded, never a corpus-wide map.
        val pageToks = toks.join(ranked.select(col("doc_id")), "doc_id")
        ranked.join(highlight(pageToks, term).select(col("doc_id"), col("snippet")),
          Seq("doc_id"), "left")
      case None => ranked
    }
    SearchResponse(out.orderBy("rank"), facets)
  }

  /** `dis_max` score combination: each clause frame is (doc_id, score)
    * — a match, phrase, or vector ranking — and a doc's combined score
    * is its BEST clause plus `tieBreaker` times the rest
    * (max + tie·(sum − max), Lucene's disjunction-max). Union
    * semantics: a doc present in any clause is scored; absent clauses
    * contribute nothing (no zero-fill).
    *
    * Shape: unionByName + ONE per-doc hash agg — max and sum fold the
    * same group, so there is no k-way outer join however many clauses
    * combine; cost is the clauses' total hit rows, each already
    * query-bounded. Float note: with two clauses the per-doc sum is a
    * single IEEE add (order-exact); at three-plus the fold order is
    * engine-internal, so emit through an r2-style guard as q125 does.
    */
  def disMax(clauses: Seq[DataFrame], tieBreaker: Double = 0.0): DataFrame = {
    require(clauses.nonEmpty, "dis_max needs at least one clause")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tieBreaker must be in [0, 1], got $tieBreaker")
    clauses.map(_.select(col("doc_id"), col("score")))
      .reduce(_ unionByName _)
      .groupBy("doc_id")
      .agg(max(col("score")).as("mx"), sum(col("score")).as("sm"))
      .select(col("doc_id"),
        (col("mx") + lit(tieBreaker) * (col("sm") - col("mx"))).as("score"))
  }

  /** `multi_match` — one query string searched across several FIELDS
    * with per-field boosts, the most-typed query in any OpenSearch
    * search box. `fields` carries (tokenized frame (doc_id, toks),
    * boost) per field — e.g. a title projection next to the body.
    * `matchType`:
    *
    *  - `best_fields` (the API default): a doc ranks by its STRONGEST
    *    field, plus `tieBreaker` times the rest — [[disMax]] over the
    *    per-field BM25 clauses (Lucene compiles best_fields to exactly
    *    that DisjunctionMaxQuery);
    *  - `most_fields`: the per-field scores SUM (the bool-should
    *    compilation).
    *
    * Each field scores with ITS OWN corpus statistics (per-field
    * df/avgdl — Lucene's per-field index semantics; a short title
    * field has its own length norm, which is the entire point of
    * boosting it). Boost multiplies the clause score BEFORE
    * combination, one IEEE multiply per hit.
    *
    * Shape: one [[Retrieval.bm25]] chain per field (each a
    * postings-bounded agg over that field's term rows) + the disMax /
    * sum combiner's single per-doc hash agg. Nothing joins corpus-wide;
    * with two fields the combiner add is order-exact, at three-plus
    * callers emit through an r2 guard (the q125 float note).
    */
  def multiMatch(fields: Seq[(DataFrame, Double)], terms: Seq[String],
      matchType: String = "best_fields",
      tieBreaker: Double = 0.0): DataFrame = {
    require(fields.nonEmpty, "multi_match needs at least one field")
    require(terms.nonEmpty, "multi_match needs at least one term")
    val clauses = fields.map { case (toks, boost) =>
      Retrieval.bm25(toks, terms)
        .select(col("doc_id"), (col("score") * lit(boost)).as("score"))
    }
    combineFieldClauses(clauses, matchType, tieBreaker)
  }

  /** [[multiMatch]] served FROM per-field indexes — the live-store
    * twin: each field is its own [[Retrieval.TextIndex]] (the
    * per-field df/avgdl semantics map one-to-one onto one
    * [[graft.streaming.LiveTextIndex]] store per field, exactly
    * Lucene's per-field index layout), scored by
    * [[Retrieval.bm25FromIndex]] (bit-identical to the corpus
    * scoring), combined by the same disMax / sum. Per-query cost is
    * the terms' postings across the fields — no corpus is touched, so
    * a search endpoint can serve this repeatedly against stores the
    * delivery sink maintains incrementally.
    */
  def multiMatchFromIndexes(fields: Seq[(Retrieval.TextIndex, Double)],
      terms: Seq[String],
      matchType: String = "best_fields",
      tieBreaker: Double = 0.0): DataFrame = {
    require(fields.nonEmpty, "multi_match needs at least one field")
    require(terms.nonEmpty, "multi_match needs at least one term")
    val clauses = fields.map { case (index, boost) =>
      Retrieval.bm25FromIndex(index, terms)
        .select(col("doc_id"), (col("score") * lit(boost)).as("score"))
    }
    combineFieldClauses(clauses, matchType, tieBreaker)
  }

  private def combineFieldClauses(clauses: Seq[DataFrame],
      matchType: String, tieBreaker: Double): DataFrame =
    matchType match {
      case "best_fields" => disMax(clauses, tieBreaker)
      case "most_fields" =>
        clauses.reduce(_ unionByName _)
          .groupBy("doc_id").agg(sum(col("score")).as("score"))
      case other => throw new IllegalArgumentException(
        s"multi_match type must be best_fields|most_fields, got $other")
    }

  /** `boosting` query — rank by the positive clause but DEMOTE (never
    * exclude) docs matching the negative clause: matching hits keep
    * score × `negativeBoost` (the API's contract; Lucene's
    * BoostingQuery). The must_not verb EXCLUDES; this one keeps the
    * doc on the page, ranked down — "mortgage, but prefer not the
    * archived ones".
    *
    * `positive` is any (doc_id, score) ranking; `negative` a doc-id
    * frame (whatever predicate produced it — a term match, a filter).
    * Shape: ONE left join of query-bounded hit rows against the
    * negative id set + a narrow projection; the demotion multiply is
    * one IEEE op, so emission rounding composes exactly as for the
    * undemoted score.
    */
  def boosting(positive: DataFrame, negative: DataFrame,
      negativeBoost: Double): DataFrame = {
    require(negativeBoost >= 0.0 && negativeBoost <= 1.0,
      s"negative_boost must be in [0, 1], got $negativeBoost")
    val neg = negative.select(col("doc_id")).distinct()
      .withColumn("_neg", lit(1))
    positive.join(neg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_neg").isNotNull, col("score") * lit(negativeBoost))
          .otherwise(col("score")).as("score"))
  }

  /** `completion` suggester — prefix-typed suggestions from the term
    * dictionary, weighted: the search-as-you-type verb ([[termSuggest]]
    * is its FUZZY sibling for after the typo happened). Suggestions
    * are the index vocabulary's terms starting with `prefix`, ranked
    * by document frequency (the natural weight when none is curated)
    * with the term as total tie-break.
    *
    * Shape: the term DICTIONARY only — vocab-sized, orders of
    * magnitude below the corpus (the [[Retrieval.TextIndex]] df frame
    * is already materialized once per index state) — filtered
    * scan-side by the prefix and cut by TakeOrderedAndProject. At
    * 100 TB the dictionary is the artifact a suggester service loads;
    * OpenSearch builds an FST per shard for sub-ms lookups — the
    * analogue here is that the df frame is small enough to broadcast
    * or serve from memory, and the PLAN never touches postings or
    * corpus text.
    */
  def completionSuggest(vocabDf: DataFrame, prefix: String,
      size: Int = 10): DataFrame = {
    require(prefix.nonEmpty, "completion needs a non-empty prefix")
    require(size > 0, s"size must be positive, got $size")
    vocabDf
      .filter(col("term").startsWith(prefix))
      .select(col("term"), col("df").cast("long").as("weight"))
      .orderBy(col("weight").desc, col("term"))
      .limit(size)
  }

  /** `terms` facet (the OpenSearch aggregation served next to every
    * search page): bucket the HITS of a query by a document attribute
    * and aggregate per bucket. `hits` is whatever the retrieval stage
    * produced (must carry `doc_id`), `docs` the attribute table,
    * `metrics` the per-bucket aggregates (count, sums, min/max — the
    * facet panel's numbers).
    *
    * Cost rides the result set, not the corpus: the hits frame is
    * already query-bounded, the doc-keyed attribute join is the same
    * join every hydration step pays, and the facet groupBy exchanges
    * only hit rows with ≤ |field cardinality| groups out. OpenSearch
    * computes the same thing per-shard then merges — here the partial
    * aggregation before the exchange IS the per-shard half.
    */
  def termsFacet(hits: DataFrame, docs: DataFrame, field: String,
      metrics: Seq[Column]): DataFrame = {
    require(metrics.nonEmpty, "at least one facet metric required")
    hits.join(docs, "doc_id")
      .groupBy(col(field))
      .agg(metrics.head, metrics.tail: _*)
  }

  /** `function_score` with a `field_value_factor` function — the
    * relevance-tuning verb: rescale every hit's query score by a
    * function of a document FIELD (boost long docs, fresh docs,
    * high-pagerank docs) without a second query phase. This is the
    * corpus-wide cousin of [[graft.operators.Retrieval.rescore]]: the
    * factor is a cheap scan-side expression priced at every hit, where
    * rescore prices an expensive model at a top-k window only.
    *
    * `factorCol` is the field_value_factor expression over the `docs`
    * frame's columns, evaluated scan-side BEFORE the join so only the
    * one factor column is hydrated (e.g. `log(1 + n_chars)` — the
    * API's `log1p` modifier);
    * docs missing from `docs` take factor `missing` (the API's missing
    * parameter) instead of dropping, preserving the hit set. Combined
    * score = hit score × factor (the API's default multiply
    * boost_mode); scores must be in emission form per the house
    * ranking discipline — ln-family factors are fine, the q85 BM25
    * chain already relies on cross-engine ln agreement.
    *
    * Shape: one doc-keyed LEFT join (the hydration join every page
    * pays anyway — hits are query-bounded) + a narrow projection; no
    * aggregate, no window.
    */
  def functionScore(hits: DataFrame, docs: DataFrame, factorCol: Column,
      missing: Double = 1.0): DataFrame = {
    val factored = docs.select(col("doc_id"), factorCol.as("factor"))
    hits.join(factored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("score"),
        coalesce(col("factor"), lit(missing)).as("factor"))
      .select(col("doc_id"), col("score"), col("factor"),
        (col("score") * col("factor")).as("boosted"))
  }

  /** `composite` aggregation — paginated buckets, the aggregation twin
    * of [[searchAfter]]'s keyset pagination: buckets ordered by their
    * composite key, a page of `size` buckets at a time, the client
    * resuming from the last page's final key via `after`. OpenSearch
    * built this agg precisely because `terms` + from/offset cannot
    * stream a high-cardinality bucket space; the composite contract is
    * that each page costs the post-cursor slice, not the whole space.
    *
    * The `after` cursor is a strict LEXICOGRAPHIC lower bound over the
    * key columns ((k1 > a1) OR (k1 = a1 AND k2 > a2) …), applied to the
    * ROWS before any aggregation — the predicate is on the grouping
    * keys themselves, so pre-agg filtering is semantics-preserving and
    * reaches the scan (partition/row-group pruning on the leading
    * key). The page cut is an orderBy(keys).limit(size) —
    * TakeOrderedAndProject over the surviving buckets, never a global
    * sort. An OFFSET formulation would aggregate and materialize every
    * bucket below the page; this shape prices page N the same as
    * page 1 minus the pruned prefix.
    */
  def compositeAgg(rows: DataFrame, keys: Seq[String],
      after: Option[Seq[Column]], size: Int,
      metrics: Seq[Column]): DataFrame = {
    require(keys.nonEmpty, "composite needs at least one key source")
    require(size > 0, s"page size must be positive, got $size")
    require(metrics.nonEmpty, "at least one metric required")
    after.foreach(cur => require(cur.length == keys.length,
      s"after cursor has ${cur.length} values for ${keys.length} keys"))
    val paged = after match {
      case Some(cur) =>
        val pred = keys.zip(cur).foldRight(lit(false)) {
          case ((k, a), rest) => (col(k) > a) || (col(k) === a && rest)
        }
        rows.filter(pred)
      case None => rows
    }
    paged.groupBy(keys.map(col): _*)
      .agg(metrics.head, metrics.tail: _*)
      .orderBy(keys.map(col): _*)
      .limit(size)
  }

  /** `significant_terms` aggregation: terms UNUSUALLY frequent in a
    * foreground doc set relative to the whole corpus, scored with
    * Elasticsearch's JLH heuristic —
    * `(fgRate − bgRate) · (fgRate / bgRate)` where `fgRate` is the
    * fraction of foreground docs containing the term and `bgRate` the
    * corpus fraction (document frequency over the background SUPERSET,
    * the ES default) — the absolute-lift × relative-lift product that
    * suppresses both stopwords (high rate, no lift) and one-off typos
    * (huge lift, no support). Terms below `minDocCount` foreground
    * docs or with no positive lift are dropped, as the aggregation
    * does.
    *
    * `isFg` is a per-doc boolean column over `toks` (doc_id, toks) —
    * the foreground predicate (a query match, a source filter, …).
    *
    * Returns (term, fg_df, bg_df, score) for every surviving term.
    * Scale shape: ONE corpus-sized shuffle — the per-term hash-agg over
    * distinct (doc, term) pairs carries the foreground flag, so fg_df
    * (conditional sum) and bg_df (count) come out of the SAME partial
    * aggregate; the two corpus-count scalars broadcast. No doc-keyed
    * join anywhere, so a foreground of any size costs the same pass.
    * Portability: each score is scalar double arithmetic on exact
    * counts in one fixed op order — no summation-order caveat; callers
    * round only for EMISSION.
    */
  def significantTerms(toks: DataFrame, isFg: Column,
      minDocCount: Long = 3): DataFrame = {
    val dt = toks
      .select(col("doc_id"), isFg.cast("boolean").as("fg"),
        explode(array_distinct(col("toks"))).as("term"))
    val counts = toks
      .agg(count(lit(1)).cast("double").as("n_bg"),
        sum(isFg.cast("long")).cast("double").as("n_fg"))
    val fgRate = col("fg_df").cast("double") / col("n_fg")
    val bgRate = col("bg_df").cast("double") / col("n_bg")
    dt.groupBy("term")
      .agg(sum(col("fg").cast("long")).as("fg_df"),
        count(lit(1)).as("bg_df"))
      .filter(col("fg_df") >= minDocCount)
      .crossJoin(broadcast(counts))
      .select(col("term"), col("fg_df"), col("bg_df"),
        ((fgRate - bgRate) * (fgRate / bgRate)).as("score"))
      .filter(col("score") > 0)
  }

  /** `collapse` — field collapsing: ONE best hit per value of the
    * collapse field (top score, ties to the smallest doc_id) plus the
    * `inner_hits` count of matching docs folded under it, ordered like
    * the search page shows groups (best score first). `scoreCol` must
    * already be in emission form (rounded) — the collapse order is on
    * what the page displays, the house discipline for score ranking.
    *
    * Shape: annotate hits with the collapse key (one join — broadcast
    * when hits are a result page, which they are), then ONE mergeable
    * hash-agg per key: the best hit is a `min(struct(−score, doc_id))`
    * partial aggregate, never a rank window over the hit set — the
    * same window-free top-1 trick as the data-card/top-gram paths.
    */
  def collapseTop(hits: DataFrame, docs: DataFrame, field: String,
      scoreCol: Column): DataFrame = {
    hits.join(docs.select(col("doc_id"), col(field)), "doc_id")
      .groupBy(col(field))
      .agg(min(struct((-scoreCol).as("ns"), col("doc_id").as("d"))).as("top"),
        count(lit(1)).as("inner_hits"))
      .select(col(field), col("top.d").as("doc_id"),
        (-col("top.ns")).as("score"), col("inner_hits"))
  }

  /** `more_like_this` query planning: the probe document's
    * `maxQueryTerms` most characteristic terms by tf·idf over the
    * index, ties broken by term — returned driver-side (≤
    * maxQueryTerms strings, the same bounded-metadata class as IVF
    * centroids) to feed [[Retrieval.bm25FromIndex]] as an ordinary
    * match query that excludes the probe itself.
    *
    * idf is q35's ln((N+1)/(df+1)); tf·idf here is ONE product of a
    * long count and one log — no order-sensitive summation, so the
    * selection is bit-deterministic across engines with no rounding
    * guard. Cost: the probe's postings row-group-prune out of the
    * doc-minor-sorted postings table (a one-doc filter), joined to
    * the ≤|probe vocab| df rows — never a corpus pass.
    */
  def mltTerms(index: Retrieval.TextIndex, probeId: Any,
      maxQueryTerms: Int = 3): Seq[String] = {
    require(maxQueryTerms > 0, s"maxQueryTerms must be positive, got $maxQueryTerms")
    val probe = index.postings.filter(col("doc_id") === lit(probeId))
    probe.join(index.df, "term")
      .crossJoin(broadcast(index.stats))
      .select(col("term"),
        (col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0)))).as("tfidf"))
      .orderBy(col("tfidf").desc, col("term"))
      .limit(maxQueryTerms)
      .collect().map(_.getString(0)).toSeq
  }

  /** Convenience overload building the index in-session from
    * tokenized docs ([[Retrieval.buildTextIndex]]).
    */
  def mltTerms(toks: DataFrame, probeId: Any, maxQueryTerms: Int): Seq[String] =
    mltTerms(Retrieval.buildTextIndex(toks), probeId, maxQueryTerms)

  /** `highlight`: for every document containing `term`, the snippet
    * around its FIRST occurrence — (doc_id, pos, snippet) with `pos`
    * the 0-based token position and `snippet` the tokens from
    * max(0, pos − context) through min(end, pos + context) joined by
    * single spaces, every occurrence of `term` WITHIN the snippet
    * wrapped in `<em>…</em>` (the OpenSearch/Lucene highlighter's
    * default tags and unified-highlighter best-fragment behavior,
    * first-occurrence flavor).
    *
    * Pure narrow expressions over the tokenized corpus — first
    * occurrence via `array_position`, window via `slice`, wrapping via
    * `transform`: no shuffle, no explode; non-matching docs are
    * filtered scan-side. At 100 TB this is a map-only pass over
    * whatever doc set the caller's retrieval stage already bounded —
    * highlighters run on the RESULT page, never the corpus.
    */
  def highlight(toks: DataFrame, term: String, context: Int = 2): DataFrame = {
    require(context >= 0, s"context must be >= 0, got $context")
    toks
      .select(col("doc_id"), col("toks"),
        array_position(col("toks"), term).as("p")) // 1-based; 0 = absent
      .filter(col("p") > 0)
      .select(col("doc_id"), (col("p") - 1).as("pos"),
        concat_ws(" ",
          transform(
            slice(col("toks"),
              greatest(col("p") - context, lit(1)),
              least(col("p") + context,
                size(col("toks")).cast("long")) - greatest(col("p") - context, lit(1)) + 1),
            x => when(x === term, concat(lit("<em>"), x, lit("</em>")))
              .otherwise(x))).as("snippet"))
  }

  /** `date_histogram` buckets with the pipeline-aggregation family —
    * OpenSearch's `cumulative_sum`, `derivative` and `moving_fn` (here
    * the trailing-`window` mean) computed over the bucket series of
    * each key: (key, day, cnt, cum_cnt, deriv, mov_avg). Buckets are
    * DENSE — the day × key grid is generated from one scalar bounds
    * agg and absent cells carry an explicit zero, OpenSearch's
    * `min_doc_count: 0` + `extended_bounds` semantics, without which
    * `derivative` silently skips gaps and a monitoring chart lies.
    * `deriv` is NULL on each key's first bucket (the ES contract);
    * `mov_avg` divides the trailing-window EXACT long sum by the
    * window's actual row count, so the only double is one final
    * scalar division per bucket.
    *
    * Scale shape: ONE corpus-sized shuffle (the (key, day) count agg,
    * mergeable partial sums); the grid is days × keys — time-bounded
    * metadata, orders of magnitude below the corpus — so the per-key
    * windows run over bucket series, never over events. The left join
    * keys on the grid and broadcasts.
    */
  /** The dense daily bucket grid behind [[dateHistogramPipeline]] and
    * [[Monitoring.robustAnomalies]]: (key, day, cnt) for EVERY day in
    * the corpus bounds × every key, absent cells as explicit zeros.
    */
  def dateHistogramGrid(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    // ONE corpus pass: the (key, day) count agg materializes eagerly
    // (grid-sized — days × keys), and bounds and the key set derive
    // from IT, not from two further event scans (round-14 ADVICE fix:
    // the previous spelling re-scanned events for min/max(ts) and
    // distinct keys, 3 corpus reads where the scaladoc promised one).
    // min/max over counts.day equals to_date(min/max(ts)) because
    // to_date is monotone, and the counts frame carries exactly the
    // distinct keys events does.
    val counts = events
      .groupBy(col(keyCol).as("key"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val bounds = counts.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val days = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    val keys = counts.select(col("key")).distinct()
    days.crossJoin(keys)
      .join(counts, Seq("day", "key"), "left")
      .na.fill(0L, Seq("cnt"))
  }

  def dateHistogramPipeline(events: DataFrame, keyCol: String, tsCol: String,
      window: Int = 3): DataFrame = {
    require(window >= 1, s"moving window must be >= 1, got $window")
    val grid = dateHistogramGrid(events, keyCol, tsCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("day")
    val wTrail = w.rowsBetween(-(window - 1).toLong, 0L)
    grid.select(col("key"), col("day"), col("cnt"),
      sum(col("cnt")).over(w.rowsBetween(Long.MinValue, 0L)).as("cum_cnt"),
      (col("cnt") - lag(col("cnt"), 1).over(w)).as("deriv"),
      (sum(col("cnt")).over(wTrail).cast("double") /
        count(lit(1)).over(wTrail)).as("mov_avg"))
  }

  /** `span_near`, two-clause form: documents where `termA` and `termB`
    * occur within `slop` intervening tokens — (doc_id, n_a, n_b,
    * min_gap), matching docs only, where `min_gap` is the smallest
    * number of tokens strictly between an occurrence of one term and
    * an occurrence of the other (0 = adjacent). `inOrder = true`
    * additionally requires the `termA` occurrence to precede the
    * `termB` occurrence (Lucene's `span_near` `in_order` flag).
    *
    * The minimum over ALL cross pairs |p_a − p_b| is realized at a
    * pair that is ADJACENT in the position-sorted merge of both
    * terms' occurrence lists: any occurrence strictly between an
    * optimal pair would itself form a strictly closer pair with one
    * endpoint, contradicting optimality (and for the ordered variant,
    * the minimal A-before-B pair has no A or B between its endpoints
    * by the same exchange argument). So one `lag(1)` pass over the
    * two terms' merged postings replaces the quadratic per-doc
    * position join — the same merge walk Lucene's SpanNearQuery does
    * over its positional iterators.
    *
    * Scale shape: the two terms' positional postings only (the `isin`
    * filter evaluates before the shuffle, and bucket-prunes under the
    * [[writePositionalIndex]] layout); ONE doc-keyed exchange feeds
    * the lag window, and the per-doc reduce reuses that partitioning
    * (no second exchange). Work is postings-sized — a stop-word
    * clause degrades to its postings size exactly as Lucene does;
    * there is no corpus-sized fallback and no per-doc quadratic.
    */
  def spanNear(positional: DataFrame, termA: String, termB: String,
      slop: Int, inOrder: Boolean = false): DataFrame = {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    require(termA != termB, "span_near clauses must be distinct terms")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val pairOk =
      if (inOrder) lag(col("term"), 1).over(w) === termA && col("term") === termB
      else lag(col("term"), 1).over(w) =!= col("term")
    positional
      .filter(col("term").isin(termA, termB))
      .select(col("doc_id"), col("pos"), col("term"),
        when(pairOk, col("pos") - lag(col("pos"), 1).over(w) - 1).as("gap"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("term") === termA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("term") === termB, 1L).otherwise(0L)).as("n_b"),
        min(col("gap")).as("min_gap"))
      .filter(col("n_a") > 0 && col("n_b") > 0 && col("min_gap") <= slop)
  }

  /** All strings reachable from string column `c` by deleting at most
    * `maxEdits` (1 or 2) characters, the term itself included —
    * distinct, as an array column. The SymSpell delete-neighborhood
    * key set: if lev(a, b) ≤ d then deletes(a, d) ∩ deletes(b, d) is
    * non-empty (delete the substituted+deleted positions from one
    * side and the substituted+inserted positions from the other —
    * both remainders are the alignment's matched subsequence), so an
    * equi-join on these keys is a COMPLETE candidate generator for
    * edit distance ≤ d. [[SearchDslSpec]] property-tests the claim.
    */
  def deleteKeys(c: String, maxEdits: Int): Column = {
    def dels(v: String, lam: String): String =
      s"if(length($v) = 0, array($v), " +
        s"transform(sequence(1, length($v)), $lam -> " +
        s"concat(substring($v, 1, $lam - 1), substring($v, $lam + 1))))"
    maxEdits match {
      case 1 => expr(s"array_distinct(concat(array($c), ${dels(c, "i")}))")
      case 2 => expr(s"array_distinct(concat(array($c), ${dels(c, "i")}, " +
        s"flatten(transform(${dels(c, "i")}, s -> ${dels("s", "j")}))))")
      case d => throw new IllegalArgumentException(
        s"deleteKeys supports maxEdits in {1, 2}, got $d")
    }
  }

  /** Driver-side mirror of [[deleteKeys]] for the (tiny) query side. */
  def deletesLocal(s: String, maxEdits: Int): Set[String] = {
    def d1(x: String): Set[String] =
      if (x.isEmpty) Set(x) else x.indices.map(i => x.take(i) + x.drop(i + 1)).toSet
    (1 to maxEdits).foldLeft((Set(s), Set(s))) { case ((all, cur), _) =>
      val nxt = cur.flatMap(d1)
      (all ++ nxt, nxt)
    }._1
  }

  /** The `term` suggester: for each (misspelled) input term, the top
    * `topN` vocabulary corrections within `maxEdits` Levenshtein
    * edits, ranked the way OpenSearch's term suggester ranks with
    * `sort: frequency` — edit distance ascending, document frequency
    * descending, term ascending as the total tie-break. Output:
    * (input, term, dist, df, rnk).
    *
    * Candidate generation is the SymSpell delete-neighborhood join
    * (Garbe's algorithm; [[deleteKeys]] has the completeness
    * argument): the vocabulary explodes to its ≤maxEdits-delete keys
    * — the spell index, ~len²/2 keys per term, VOCABULARY-sized
    * (never corpus-sized; a production deployment persists it
    * bucketed by key exactly like [[writePositionalIndex]]) — and the
    * query side's few dozen keys broadcast into an equi-join. Exact
    * `levenshtein` then runs on the CANDIDATES only. Against the
    * q103-style banded vocabulary scan this trades one-off index
    * build for per-query work independent of vocabulary size — the
    * same trade Lucene makes with its Levenshtein automaton over the
    * shared term dictionary. The rank window partitions by input
    * term over the lev-filtered candidate set (a few rows per input).
    */
  def termSuggest(vocab: DataFrame, inputs: Seq[String], maxEdits: Int = 2,
      topN: Int = 3): DataFrame = {
    require(inputs.nonEmpty, "termSuggest needs at least one input term")
    val spark = vocab.sparkSession
    import spark.implicits._
    val qKeys = inputs.distinct
      .flatMap(in => deletesLocal(in, maxEdits).map(k => (in, k)))
      .toDF("input", "dkey")
    val cand = vocab
      .select(col("term"), col("df"),
        explode(deleteKeys("term", maxEdits)).as("dkey"))
      .join(broadcast(qKeys), "dkey")
      .select(col("input"), col("term"), col("df")).distinct()
      .withColumn("dist", levenshtein(col("term"), col("input")).cast("long"))
      .filter(col("dist") <= maxEdits)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("input")
      .orderBy(col("dist"), col("df").desc, col("term"))
    cand.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
  }
}
