package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-relevance ranking and rank fusion — the query-side surface of
  * the reference's search sink. The reference delivers into OpenSearch
  * and its observed query surface is match_all / count /
  * delete_by_query (`kds_example/oss_utils.py:43-55`) — it never
  * issues an analyzed relevance query. This module ADDS the standard
  * search-sink capability a user of that sink reaches for next:
  * analyzed full-text relevance, which in OpenSearch/Lucene defaults
  * to BM25 (k1=1.2, b=0.75), plus the headline hybrid-retrieval
  * pattern of fusing a BM25 ranking with a vector-similarity ranking
  * by reciprocal rank fusion.
  * This module provides both halves engine-side: [[bm25]] scores the
  * corpus against a bag of query terms, [[rrf]] fuses any number of
  * (key, rank) lists. The ANN ladder (`Similarity`/`Ivf`/`Pq`) supplies
  * the vector half.
  *
  * Scale shape, bm25: corpus statistics (N, avgdl) are ONE scalar
  * aggregate (no shuffle — partial aggs merge on the driver); the
  * per-(doc, term) frequencies are one hash-agg keyed by (doc_id,
  * term) with the document length riding through the same agg (max of
  * a doc-constant), so no second corpus scan joins lengths back; the
  * df table is bounded by |query terms| and broadcast. Total: one
  * corpus-sized shuffle (the tf agg) + one per-doc reduce that shares
  * its partitioning. rrf: rank lists are top-k by construction —
  * always tiny relative to the corpus — so the full-outer fusion join
  * never touches corpus-sized data.
  */
object Retrieval {

  /** Okapi BM25 scores of every document carrying at least one query
    * term: (doc_id, n_terms, score), where n_terms counts the DISTINCT
    * query terms present (callers implement match-AND semantics by
    * filtering n_terms = |terms| — it falls out of the same agg for
    * free). `toks` is (doc_id, toks: array&lt;string&gt;).
    *
    *   idf(t)  = ln(1 + (N − df + 0.5) / (df + 0.5))   [Lucene's form:
    *             always positive, unlike the classic log-odds]
    *   s(D, t) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))
    *
    * |D| counts ALL tokens of the doc (not just query terms) and avgdl
    * averages over ALL docs — the length normalization is corpus-wide.
    * Docs matching no term are absent (their BM25 is 0; retrieval
    * never materializes the non-matching corpus).
    *
    * Float notes for oracle parity: avgdl is an exact long sum divided
    * once (never a float running mean); the per-term expression is a
    * fixed left-associated chain so both engines evaluate identical
    * doubles; only the final per-doc sum is order-sensitive (callers
    * round the emitted score, q35 precedent).
    */
  def bm25(toks: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val stats = toks
      .select(size(col("toks")).cast("long").as("dl"))
      .agg(count(lit(1)).cast("double").as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // dl rides through the tf agg as max() of a per-doc constant —
    // joining a separate length table back would re-shuffle the corpus
    // on doc_id for a value this agg already has in hand.
    val tf = toks
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    score(tf, df, stats, k1, b)
  }

  /** The BM25 chain both entry points share: (doc_id, n_terms, score)
    * from the query terms' tf rows (term, doc_id, tf, dl), their df rows
    * (term, df) and the one-row (n, avgdl) stats.
    */
  private def score(tf: DataFrame, df: DataFrame, stats: DataFrame,
      k1: Double, b: Double): DataFrame =
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * col("tf") * lit(k1 + 1.0)
          / (col("tf") + lit(k1)
            * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
          .as("term_score"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("term_score")).as("score"))

  /** A materialized text index: the postings list plus its corpus
    * statistics — what OpenSearch maintains incrementally and
    * [[bm25]] recomputes per query. Build once per index state, then
    * every query costs only the postings OF ITS TERMS.
    * `postings`: (term, doc_id, tf, dl); `df`: (term, df) over the
    * full vocabulary; `stats`: one row (n, avgdl).
    */
  final case class TextIndex(postings: DataFrame, df: DataFrame, stats: DataFrame)

  /** ONE corpus pass builds the index ([[Dsir.train]]'s eager-
    * materialization pattern): the postings groupBy is the only
    * corpus-sized shuffle, document length rides it, df derives from
    * the materialized postings (vocab-bounded), stats from the raw
    * lengths (one scalar agg). In-session the artifacts localCheckpoint;
    * a production deployment writes `postings` as a parquet table
    * BUCKETED BY term, so a query's `term IN (...)` filter prunes to
    * the matching buckets — the scan-pruned analogue of reading a
    * postings list, with no server to keep alive.
    */
  def buildTextIndex(toks: DataFrame): TextIndex = {
    // Materialize the tokenized input ONCE: the stats agg and the
    // postings groupBy are separate eager jobs, and callers always
    // pass a computed projection (a regex tokenize of the corpus) —
    // without this checkpoint each job re-tokenizes the full corpus,
    // doubling the dominant build cost.
    val mat = toks.select(col("doc_id"), col("toks")).localCheckpoint(true)
    val stats = mat
      .select(size(col("toks")).cast("long").as("dl"))
      .agg(count(lit(1)).cast("double").as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      .localCheckpoint(true)
    val postings = mat
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .localCheckpoint(true)
    val df = postings.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
      .localCheckpoint(true)
    // mat's blocks become unreferenced here (the three artifacts have
    // truncated lineage) — the ContextCleaner reclaims them.
    TextIndex(postings, df, stats)
  }

  /** [[bm25]] semantics served FROM the index: (doc_id, n_terms,
    * score), bit-identical to scoring the corpus directly (the same
    * left-associated chain over the same exact counts) — but the only
    * data touched is the query terms' postings (scan-side `isin`,
    * bucket-prunable when the postings are a bucketed table) and the
    * matching ≤|terms| df rows. No corpus scan, no corpus shuffle:
    * the per-query cost is proportional to the result's postings, the
    * property that makes a search endpoint cheap to hit repeatedly.
    */
  def bm25FromIndex(index: TextIndex, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    score(index.postings.filter(col("term").isin(terms: _*)),
      index.df.filter(col("term").isin(terms: _*)), index.stats, k1, b)
  }

  /** Persist `index` as warehouse tables, the postings BUCKETED BY
    * term (`<name>_postings`, `<name>_df`, `<name>_stats`): at 100 TB
    * the postings table is the index, and bucketing by the query key
    * is what turns a term lookup into a pruned scan —
    * [[readTextIndex]]'s `term IN (...)` filter reads only the
    * matching buckets (the plan shows `SelectedBucketsCount`, pinned
    * in the spec), the scan-pruned analogue of a postings-list read
    * with no server to keep alive. Sorted within buckets so min/max
    * stats prune row groups too.
    */
  def writeTextIndex(index: TextIndex, name: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"bucket count must be positive, got $buckets")
    index.postings.write.mode("overwrite")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(s"${name}_postings")
    index.df.write.mode("overwrite").saveAsTable(s"${name}_df")
    index.stats.write.mode("overwrite").saveAsTable(s"${name}_stats")
  }

  /** Reopen a [[writeTextIndex]] index by name. */
  def readTextIndex(spark: SparkSession, name: String): TextIndex =
    TextIndex(spark.table(s"${name}_postings"), spark.table(s"${name}_df"),
      spark.table(s"${name}_stats"))

  /** Reciprocal rank fusion (Cormack et al. 2009) of rank lists:
    * every input frame carries `keys` plus a 1-based `rnk` column;
    * the result is (keys..., rrf) with
    *
    *   rrf = Σ_lists 1 / (k + rnk)
    *
    * over the lists that contain the key (full-outer semantics: a doc
    * present in one list still surfaces — that is what makes RRF
    * robust to one retriever missing a hit). Contributions add in
    * input-list order, so the sum is a fixed-order chain of exact
    * per-list divisions — bit-portable across engines with no
    * rounding guard.
    */
  def rrf(rankings: Seq[DataFrame], keys: Seq[String], k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrf needs at least one ranking")
    require(k > 0, s"rrf constant must be positive, got $k")
    val contribs = rankings.zipWithIndex.map { case (r, i) =>
      r.select(keys.map(col) :+
        (lit(1.0) / (lit(k.toDouble) + col("rnk"))).as(s"rrf_c$i"): _*)
    }
    val joined = contribs.reduce((acc, next) => acc.join(next, keys, "full_outer"))
    joined.select(keys.map(col) :+
      contribs.indices
        .map(i => coalesce(col(s"rrf_c$i"), lit(0.0)))
        .reduce(_ + _).as("rrf"): _*)
  }

  /** `rescore` — two-phase ranking, the OpenSearch/Elasticsearch
    * rescorer contract: re-rank only the top `windowSize` hits of a
    * cheap primary ranking with an expensive secondary scorer,
    * combining as `primary·queryWeight + secondary·rescoreWeight`
    * (the API's default `total` score mode). The page the user sees
    * comes from the window; everything below it keeps its primary
    * order untouched — which is exactly what makes the second model
    * affordable: it prices `windowSize` rows, not the corpus.
    *
    * `primary` must carry (doc_id, score) with score in EMISSION form
    * (rounded) — the window cut and the combination both happen on
    * what the primary phase would have displayed, so the combined
    * score stays engine-portable (one rounded double + one exact
    * product, fixed op order). `secondary` carries doc_id plus
    * whatever raw columns `secCol` needs (an embedding, features, …);
    * `secCol` is the rescore-scorer EXPRESSION, deliberately a Column
    * and not a pre-computed score column so it evaluates only on the
    * window's rows, never as a corpus-wide pass over `secondary`.
    * Docs missing from `secondary` rescore as 0, like a rescore query
    * that doesn't match.
    *
    * Shape: the window is a `TakeOrderedAndProject` top-k of the
    * primary (per-partition top-k, no global sort), collected as
    * bounded metadata ([[SearchDsl.mltTerms]]'s class — ≤ windowSize
    * id/score pairs) and PUSHED DOWN into the secondary scan as an
    * `IN` filter — the id-lookup a real rescorer issues to its
    * feature store, which reaches the parquet reader as a pushed
    * predicate (row-group pruning) instead of any corpus-shaped join.
    * The scorer expression sits above that filter, priced at
    * ≤ windowSize evaluations; the final combine is a broadcast join
    * of two ≤ windowSize-row frames. (A window-preserving LEFT join
    * could not broadcast — Spark cannot broadcast an outer join's
    * preserved side — so the join formulation would silently shuffle
    * the corpus on doc_id.)
    */
  def rescore(primary: DataFrame, secondary: DataFrame, secCol: Column,
      windowSize: Int, queryWeight: Double = 1.0,
      rescoreWeight: Double = 1.0): DataFrame = {
    require(windowSize > 0, s"rescore window must be positive, got $windowSize")
    val window = primary
      .orderBy(col("score").desc, col("doc_id"))
      .limit(windowSize)
      .localCheckpoint() // ≤ windowSize rows; don't recompute primary twice
    val ids = window.select(col("doc_id")).collect().map(_.get(0))
    val sec = secondary
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id"), secCol.as("sec"))
    window.join(broadcast(sec), Seq("doc_id"), "left")
      .select(col("doc_id"), col("score").as("primary_score"),
        coalesce(col("sec"), lit(0.0)).as("sec"))
      .select(col("doc_id"), col("primary_score"), col("sec"),
        (col("primary_score") * lit(queryWeight)
          + col("sec") * lit(rescoreWeight)).as("combined"))
  }
}
