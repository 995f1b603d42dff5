package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.{dot_f, norm_f}

/** Q31–Q35 + extended training-data operators (SURVEY.md §2B + the
  * 100 TB-pipeline mandate): dedup (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard / embedding-cosine), similarity search, text analysis
  * (token stats, TF-IDF, quality scoring, language heuristic,
  * fingerprinting), and binary-column (multimodal) plumbing.
  *
  * Scale notes are inline per query; the common theme: nothing here is
  * all-pairs over the full corpus — candidate generation is always keyed
  * (shingle, LSH band, broadcast probe set) so the join scales with
  * collision counts, not corpus².
  */
object TrainingData {
  import Tables.t

  private def q(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle))(build)

  /** doc_id + lowercase tokens — the corpus's FIRST materialized
    * pipeline artifact, memoized per (session, dir) like the text
    * index built over it: ~30 registry keys start from exactly this
    * frame, and each would otherwise re-run the tokenizer over the raw
    * corpus per call. Tokenization is deterministic (one regex split),
    * so sharing changes no result (the [[memo]] argument); the
    * localCheckpoint materializes values and drops the scan lineage.
    * The cold build cost stays visible in the bench's queries_first.
    */
  private[graft] def tokenized(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, "tokenized") {
      tokenizedDf(t(s, dir, "documents")).localCheckpoint(true)
    }

  def tokenizedDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))

  /** (doc_id, shingle) — distinct word 3-shingles. Derives from the
    * memoized tokenized artifact.
    */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesFromToks(tokenized(s, dir))

  private def shinglesFromToks(tk: DataFrame): DataFrame =
    tk.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(shingleExpr).as("shingle"))

  private val shinglesSql =
    """tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
      |        FROM documents),
      |sh AS (SELECT DISTINCT doc_id, toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2] AS shingle
      |       FROM tok, unnest(range(1, len(toks) - 1)) AS u(g)
      |       WHERE len(toks) >= 3)""".stripMargin

  // ------------------------------------------------------------ Q31: exact

  val q31_dedup_exact: QueryDef = q(
    "q31_dedup_exact",
    """SELECT min(doc_id) AS doc_id, md5(text) AS text_hash, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Exact dedup = hash-groupBy, keep min doc_id. At 100 TB you group by
    // md5(text) (fixed 16 bytes) rather than the text itself so the
    // shuffle carries digests, not documents.
    t(s, dir, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), md5(col("text")).as("text_hash"), col("n_copies"))
      .orderBy("doc_id")
  }

  // -------------------------------------------- Q32: near-dup (Jaccard)

  val q32_neardup_jaccard: QueryDef = q(
    "q32_neardup_jaccard",
    s"""WITH $shinglesSql,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT id1, id2, CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
       |FROM inter JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
       |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
       |ORDER BY id1, id2""".stripMargin
  ) { (s, dir) => jaccardPairs(s, dir).orderBy("id1", "id2") }

  /** The q32 pair computation without the presentation sort — shared with
    * q72, whose components() input doesn't care about order (feeding it
    * the sorted form would pay a global range exchange for nothing).
    *
    * EXACT near-dup join with prefix filtering (the classic lossless
    * candidate pruning from the set-similarity-join literature, e.g.
    * PPJoin): order each doc's shingles globally by ascending document
    * frequency; if Jaccard(A,B) >= t, A and B MUST share a shingle
    * within their first |X| - ceil(t*|X|) + 1 shingles of that order.
    * Candidates therefore come only from joining those ~(1-t)-fraction
    * prefixes — which by construction hold the RAREST shingles, so the
    * equality join's per-key fan-out stays tiny even when the corpus
    * shares a common vocabulary. Verification then computes the exact
    * Jaccard for the few candidates. Results are identical to the
    * all-shingles join (and the oracle); only the plan changes.
    */
  /** Memoized per (session, dir): q94, q105, q108 and q112 each want
    * the SAME postings artifact over the same corpus, and
    * `buildTextIndex` already materializes its frames via
    * localCheckpoint — sharing keeps ONE resident copy per scale
    * factor instead of one per key per rep. Counts are exact integers
    * (deterministic), so sharing changes no result (the [[memo]]
    * argument).
    */
  private def textIndexFor(s: SparkSession, dir: String): graft.operators.Retrieval.TextIndex =
    artifact(s, dir, "textindex|tokens") {
      graft.operators.Retrieval.buildTextIndex(tokenized(s, dir))
    }

  /** The passage-level index (q90's 32/24 chunk grid as the retrieval
    * unit, composite 'doc:chunk' key): what a RAG deployment actually
    * serves passage queries from — the postings artifact at CHUNK
    * granularity, built once per index state. Same memo contract as
    * [[textIndexFor]]; the key spells the chunk geometry so a re-tuned
    * caller forks its own entry.
    */
  private def chunkIndexFor(s: SparkSession, dir: String): graft.operators.Retrieval.TextIndex =
    artifact(s, dir, "chunkindex|tokens|s32x24") {
      graft.operators.Retrieval.buildTextIndex(
        graft.operators.Chunker.chunkTokens(tokenized(s, dir), size = 32, stride = 24)
          .select(concat_ws(":", col("doc_id"), col("chunk_id")).as("doc_id"),
            col("ctoks").as("toks")))
    }

  /** The q183 title field's own index (first 8 tokens per doc, the
    * short-field projection the multi_match key scores with boost 2) —
    * per-field stats ARE Lucene's per-field index layout, so the
    * title's postings/df/avgdl live in their own artifact exactly like
    * the body's. Same memo contract as [[textIndexFor]].
    */
  private def titleIndexFor(s: SparkSession, dir: String): graft.operators.Retrieval.TextIndex =
    artifact(s, dir, "textindex-title8|tokens") {
      graft.operators.Retrieval.buildTextIndex(
        tokenized(s, dir).select(col("doc_id"),
          slice(col("toks"), 1, 8).as("toks")))
    }

  /** Memoized + materialized per (dir): three registry keys consume
    * the identical pair set (q32 sorts it, q72 clusters it, q117
    * attributes it to sources), and the pair VALUES are exact
    * arithmetic over distinct shingle sets — deterministic, so
    * sharing changes no result (the model-memo argument; the memo
    * scaladoc's caveats apply). The localCheckpoint bounds what stays
    * resident to the tiny pair set, not the lineage's shuffles.
    */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, "jacpairs|sh3|t=0.8") {
      val sh = shingles(s, dir).cache()
      val out = jaccardPairsFrom(sh).localCheckpoint(true)
      sh.unpersist() // the checkpoint holds the VALUES; drop the lineage cache
      out
    }

  private def jaccardPairsFrom(sh: DataFrame): DataFrame = {
    val sdf = sh.groupBy("shingle").agg(count(lit(1)).as("sdf"))
    // One doc_id shuffle computes BOTH per-doc windows: |doc| via an
    // unordered count and the frequency rank via row_number share the
    // same partitioning, so Spark plans them over a single exchange —
    // no separate size-table groupBy + join.
    val byDoc = Window.partitionBy("doc_id")
    val w = byDoc.orderBy(col("sdf"), col("shingle"))
    val prefix = sh.join(sdf, "shingle")
      .withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceil(lit(0.8) * col("n")) + 1)
      .select(col("doc_id"), col("shingle"), col("n"))
    // Length filter (lossless: J(A,B) >= t ⟹ t·max(|A|,|B|) <= min):
    // applied AT candidate generation, before the expensive intersection
    // join — mismatched-size pairs never reach verification. The sizes
    // ride through the distinct (they are functions of the ids, so the
    // pair count is unchanged) — the verification stage needs no
    // size-table re-join.
    val cand = prefix.select(col("doc_id").as("id1"), col("shingle"), col("n").as("na"))
      .join(prefix.select(col("doc_id").as("id2"), col("shingle"), col("n").as("nb")), "shingle")
      .filter(col("id1") < col("id2") &&
        least(col("na"), col("nb")).cast("double") >=
          lit(0.8) * greatest(col("na"), col("nb")).cast("double"))
      .select("id1", "id2", "na", "nb").distinct()
    // Verification: join each side's full shingle SET (docs are bounded-
    // length, so the arrays are bounded) and intersect per pair — two
    // joins against a doc-keyed table instead of re-exploding both
    // sides' shingles through a (id1,id2) shuffle + count. Equivalent to
    // the exploded count because shingles are distinct within a doc.
    val docSh = sh.groupBy("doc_id").agg(collect_set(col("shingle")).as("shs"))
    val inter = cand
      .join(docSh.select(col("doc_id").as("id1"), col("shs").as("shA")), "id1")
      .join(docSh.select(col("doc_id").as("id2"), col("shs").as("shB")), "id2")
      .withColumn("i", size(array_intersect(col("shA"), col("shB"))))
    val jac = col("i").cast("double") /
      (col("na") + col("nb") - col("i")).cast("double")
    inter
      .select(col("id1"), col("id2"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** The session-artifact memo behind [[artifact]]. Every artifact
    * here is DETERMINISTIC by construction — trained models use
    * vec_id-ordered init with means snapped to the meanRound grid (the
    * properties that make them oracle-replayable), indexes and pair
    * sets are exact integer arithmetic — so a cached entry is exactly
    * what a rebuild would produce, and sharing it across registry keys
    * changes no result: registry entries are independent functions,
    * and without the memo a base rung and its recall rung, or the IVF
    * consumers, would each rebuild the same artifact.
    *
    * Builds nest (the `tokenized` artifact is memoized and read inside
    * other memo builds), and `computeIfAbsent` forbids its mapping
    * function from touching the map: a nested miss that lands in the
    * outer key's bin throws `IllegalStateException: Recursive update`.
    * So the map only ever receives a lazy holder, and the build runs
    * outside the bin lock when the holder is first forced; concurrent
    * callers of one key wait on the holder and share one build. A
    * failed build removes its holder, so failures are never cached.
    */
  private final class Memoized(build: () => AnyRef) { lazy val value: AnyRef = build() }
  private val modelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Memoized]()
  private[graft] def memo[T <: AnyRef](key: String)(train: => T): T = {
    val cell = modelMemo.computeIfAbsent(key, _ => new Memoized(() => train))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => modelMemo.remove(key, cell); throw e }
  }

  /** The one spelling of an artifact key: `name` carries the artifact
    * and its full configuration tuple (a caller tuned away from its
    * sharers forks its own entry instead of being served a stale
    * artifact), and the key always adds the session's applicationId
    * and the input dir. Frame artifacts hold localCheckpoint blocks
    * that a stopped context can no longer serve; keying driver-side
    * models the same way means no call site decides whether an
    * artifact is session-bound. One Verify/Bench run executes the
    * whole registry in one session.
    */
  private def artifact[T <: AnyRef](s: SparkSession, dir: String, name: String)(
      build: => T): T =
    memo(s"$name|${s.sparkContext.applicationId}|$dir")(build)

  // --------------------------------------- Q33: vector similarity top-k

  /** Embedding width (max array size), memoized per (session, dir):
    * the multi-table LSH entry points otherwise pay one eager corpus
    * agg job per CALL just to learn the plane width. Deterministic
    * metadata of the corpus; the model-memo argument.
    */
  private def embDim(s: SparkSession, dir: String): Int =
    artifact(s, dir, "embdim")(
      java.lang.Integer.valueOf(
        Option(t(s, dir, "embeddings").agg(max(size(col("embedding")))).head().get(0))
          .map(_.asInstanceOf[Int]).getOrElse(0))).intValue

  private def normed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"), col("embedding"),
      norm_f(col("embedding")).as("nrm"))

  val q33_similarity_topk: QueryDef = q(
    "q33_similarity_topk",
    """WITH nrm AS (SELECT vec_id, embedding,
      |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |      FROM embeddings),
      |probes AS (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pn FROM nrm WHERE vec_id < 5),
      |pairs AS (SELECT probe_id, e.vec_id AS neighbor_id,
      |        list_sum(list_transform(range(1, len(pe) + 1),
      |          i -> CAST(pe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) / (pn * e.nrm) AS cos
      |      FROM probes, nrm e WHERE e.vec_id <> probe_id),
      |ranked AS (SELECT probe_id, neighbor_id, cos,
      |        row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
      |      FROM pairs)
      |SELECT probe_id, neighbor_id, floor(cos * 100 + 0.5) / 100 AS cos_sim, CAST(rnk AS BIGINT) AS rnk
      |FROM ranked WHERE rnk <= 10 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // Brute-force baseline: broadcast the (tiny) probe set against the
    // corpus — one scan, no shuffle of the embedding table. Selection
    // happens on the RAW cosine (bit-identical fold in both engines);
    // only the emitted value is rounded. The block-partitioned/LSH scale
    // path lives in graft.operators.Similarity.
    val nrm = normed(s, dir)
    val probes = nrm.filter(col("vec_id") < 5).select(
      col("vec_id").as("probe_id"), col("embedding").as("pe"), col("nrm").as("pn"))
    val dot = dot_f(col("pe"), col("embedding"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    nrm.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (dot / (col("pn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 10)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("cos")).as("cos_sim"), col("rnk"))
      .orderBy("probe_id", "rnk")
  }

  // ------------------------------------------------- Q34/Q35: text stats

  private val toksUnnestSql =
    """toku AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS term
      |         FROM documents)""".stripMargin

  val q34_token_stats: QueryDef = q(
    "q34_token_stats",
    s"""WITH $toksUnnestSql
       |SELECT term, count(DISTINCT doc_id) AS df FROM toku
       |GROUP BY term ORDER BY df DESC, term LIMIT 20""".stripMargin
  ) { (s, dir) =>
    // df = docs containing the term. Dedup PER DOC scan-side
    // (array_distinct) so each (doc, term) reaches the aggregate once:
    // count(*) then equals countDistinct(doc_id) exactly, but the
    // exchange carries vocab-sized (term, partial-count) rows with
    // map-side aggregation instead of every (term, doc_id) pair
    // through countDistinct's two-phase expand (shuffle fewer bytes).
    tokenized(s, dir)
      .select(explode(array_distinct(col("toks"))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(20)
  }

  val q35_tfidf: QueryDef = q(
    "q35_tfidf",
    s"""WITH $toksUnnestSql,
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toku
       |       WHERE term IN ('data', 'spark', 'query') GROUP BY doc_id, term),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toku
       |       WHERE term IN ('data', 'spark', 'query') GROUP BY term),
       |nd AS (SELECT count(*) AS n FROM documents),
       |scored AS (SELECT doc_id, sum(tf * ln((n + 1.0) / (df + 1.0))) AS score
       |           FROM tf JOIN df USING (term) CROSS JOIN nd GROUP BY doc_id),
       |ranked AS (SELECT doc_id, score,
       |        row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |      FROM scored)
       |SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // Ranking deliberately uses the ROUNDED score: sum() addition order
    // is engine-internal, so raw scores of equal-tf docs can differ in
    // the last ulp across engines; rounding + doc_id tie-break makes the
    // ordering portable.
    val terms = Seq("data", "spark", "query")
    val toks = tokenized(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df derived from tf (one row per present (doc, term)) — saves a
    // second tokenize+explode pass over the corpus.
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = t(s, dir, "documents").agg(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(df), "term").join(broadcast(nd))
      .groupBy("doc_id")
      .agg(sum(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0))).as("score"))
    // Top-10 selection via orderBy+limit (TakeOrderedAndProject: per-
    // partition top-k, driver merges 10×P rows) — NOT an unpartitioned
    // window, which would funnel every scored doc through one task. The
    // rank window then runs over just the 10 selected rows.
    val top = scored
      .orderBy(Par.r2(col("score")).desc, col("doc_id"))
      .limit(10)
    val w = Window.orderBy(Par.r2(col("score")).desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("bigint"))
      .select(col("doc_id"), Par.r2(col("score")).as("score"), col("rank"))
      .orderBy("rank")
  }

  // ------------------------------------- q41+: extended training-data ops

  val q41_text_quality: QueryDef = q(
    "q41_text_quality",
    """WITH tk AS (SELECT doc_id, lang,
      |        list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks,
      |        length(text) AS n_char FROM documents),
      |m AS (SELECT doc_id, lang, CAST(len(toks) AS INT) AS n_tok,
      |        CAST(len(list_distinct(toks)) AS INT) AS n_uniq, CAST(n_char AS INT) AS n_char,
      |        CAST(len(list_filter(toks, x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in'], x))) AS INT) AS n_stop
      |      FROM tk)
      |SELECT doc_id, n_tok, n_uniq, n_char, n_stop,
      |  floor((CAST(n_uniq AS DOUBLE) / n_tok) * 100 + 0.5) / 100 AS ttr,
      |  floor((CAST(n_stop AS DOUBLE) / n_tok) * 100 + 0.5) / 100 AS stop_ratio,
      |  CASE WHEN n_stop > 0 THEN 'en' ELSE lang END AS lang_guess
      |FROM m WHERE n_tok > 0 ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Quality scoring + n-gram language heuristic: one narrow projection,
    // no shuffle at all — this runs at scan speed on any corpus size.
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"),
        length(col("text")).as("n_char"))
      .select(col("doc_id"), col("lang"), col("n_char"),
        size(col("toks")).as("n_tok"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        graft.functions.CountFunctions.countInSet(col("toks"),
          Seq("the", "a", "of", "and", "to", "in")).as("n_stop"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"), col("n_uniq"), col("n_char"), col("n_stop"),
        Par.r2(col("n_uniq").cast("double") / col("n_tok")).as("ttr"),
        Par.r2(col("n_stop").cast("double") / col("n_tok")).as("stop_ratio"),
        when(col("n_stop") > 0, "en").otherwise(col("lang")).as("lang_guess"))
      .orderBy("doc_id")
  }

  val q42_fingerprint: QueryDef = q(
    "q42_fingerprint",
    s"""SELECT doc_id, ${h64sql("lower(text)")} AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), h64(lower(col("text"))).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** MinHash over 16 portable hash functions: ONE md5 per shingle, then
    * 16 linear mixes `(hm * (2j+1) + j*7919) mod P` (P prime < 2^30 — all
    * arithmetic stays far from bigint overflow, which DuckDB checks).
    * The signature is 16 min-aggregates in a single groupBy pass — no row
    * multiplication through the shuffle at all. 8 bands × 2 rows puts the
    * miss probability for a 0.9-Jaccard pair at (1-0.81)^8 ≈ 2e-6.
    */
  // Constants and mix formula come from MinHashAggregator — the single
  // source of truth, so the typed Aggregator's sketches can never drift
  // from these oracle-checked signatures.
  private val P = graft.functions.MinHashAggregator.P
  private val NH = graft.functions.MinHashAggregator.NumHashes

  private val sigSql: String = {
    val mins = (0 until NH)
      .map(j => s"min(${graft.functions.MinHashAggregator.mixSql("hm", j)}) AS mh$j")
      .mkString(",\n|  ")
    s"""hm AS (SELECT doc_id, ${h64sql("shingle")} % $P AS hm FROM sh),
       |sig AS (SELECT doc_id,
       |  $mins
       |FROM hm GROUP BY doc_id)""".stripMargin
  }

  /** The MinHash signature table, memoized per (session, dir) —
    * exactly what [[graft.streaming.LiveNearDedup]] maintains as a
    * live STORE: q43 emits it, q44 bands it, and both used to rebuild
    * it per call. Deterministic integer mins (the oracle replays
    * them), so sharing changes no result; same memo contract as
    * [[textIndexFor]].
    */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, s"minhashsig|nh=$NH") {
      signaturesFromToks(tokenized(s, dir)).localCheckpoint(true)
    }

  def signaturesDf(docs: DataFrame): DataFrame =
    signaturesFromToks(tokenizedDf(docs))

  private def signaturesFromToks(tk: DataFrame): DataFrame = {
    // Fused gram-hash kernel: the signature path only ever
    // consumes h64(shingle), so the shingle STRING is never
    // materialized — array_distinct collapses on the 60-bit hash
    // instead of the string, which is EXACTLY equivalent here even
    // under a hash collision (a min over mixed values is unchanged by
    // dropping a duplicate), and the oracle's string-side distinct
    // yields the same hm multiset mins by the same argument.
    val h = tk
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.Ngrams.wordNgramH64s(col("toks"), 3))).as("hh"))
      .select(col("doc_id"), (col("hh") % P).as("hm"))
    val aggs = (0 until NH).map(j =>
      min(graft.functions.MinHashAggregator.mixCol(col("hm"), j)).as(s"mh$j"))
    h.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH candidate pairs over an arbitrary (doc_id, text) frame —
    * the library entry behind q44 (see Dedup.lshCandidatePairs). The
    * signature table it builds stays CACHED for the session (the
    * verify/bench harness clears the cache between queries); callers
    * that materialize the pairs eagerly should prefer
    * [[lshPairsWithHandle]] and release it.
    */
  def lshPairs(docs: DataFrame): DataFrame =
    lshPairsFromSignatures(signaturesDf(docs))

  /** [[lshPairs]] plus the cached signature table behind it, so a caller
    * that eagerly materializes the pairs (Dedup.nearDedup checkpoints
    * them) can `unpersist` the cache instead of leaking it for the
    * session lifetime.
    */
  private[graft] def lshPairsWithHandle(docs: DataFrame): (DataFrame, DataFrame) = {
    val sg = signaturesDf(docs).cache()
    (lshPairsFromSignatures(sg), sg)
  }

  val q43_minhash_sig: QueryDef = q(
    "q43_minhash_sig",
    s"""WITH $shinglesSql,
       |$sigSql
       |SELECT doc_id, ${(0 until 16).map(j => s"mh$j").mkString(", ")}
       |FROM sig ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    signatures(s, dir).orderBy("doc_id")
  }

  val q44_lsh_pairs: QueryDef = q(
    "q44_lsh_pairs",
    s"""WITH $shinglesSql,
       |$sigSql,
       |bands AS (SELECT doc_id, b,
       |        CASE b ${(0 until 8).map(b => (if (b < 7) s"WHEN $b THEN" else "ELSE") + s" concat(CAST(mh${2*b} AS VARCHAR), ',', CAST(mh${2*b+1} AS VARCHAR))").mkString(" ")} END AS key
       |      FROM sig CROSS JOIN unnest(range(0, 8)) AS u(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
       |         FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id)
       |SELECT id1, id2, CAST(
       |    ${(0 until 16).map(j => s"(CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END)").mkString(" + ")}
       |  AS DOUBLE) / 16 AS est_sim
       |FROM cand JOIN sig sa ON sa.doc_id = id1 JOIN sig sb ON sb.doc_id = id2
       |ORDER BY id1, id2""".stripMargin
  ) { (s, dir) =>
    lshPairsFromSignatures(signatures(s, dir)).orderBy("id1", "id2")
  }

  /** LSH band keys of a signature frame (8 bands × 2 rows):
    * (doc_id, band, key) — the banding half of
    * [[lshPairsFromSignatures]], shared with the live store
    * ([[graft.streaming.LiveNearDedup]]) so batch and live banding can
    * never drift.
    */
  private[graft] def lshBands(sig: DataFrame): DataFrame = {
    val bandCols = (0 until 8).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", col(s"mh${2 * b}").cast("string"),
          col(s"mh${2 * b + 1}").cast("string")).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Estimated similarity of candidate `(id1, id2)` pairs from the
    * signature table: fraction of agreeing MinHash components — the
    * scoring half of [[lshPairsFromSignatures]], shared with the live
    * store. Exact integer agreement count over a final /16, so the
    * double is bit-identical across engines and epochs.
    */
  private[graft] def lshEstSim(cand: DataFrame, sig: DataFrame): DataFrame = {
    val sa = sig.toDF(("id1" +: (0 until 16).map(j => s"a$j")): _*)
    val sb = sig.toDF(("id2" +: (0 until 16).map(j => s"b$j")): _*)
    val agree = (0 until 16)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sa, "id1").join(sb, "id2")
      .select(col("id1"), col("id2"), (agree.cast("double") / 16).as("est_sim"))
  }

  /** MinHash-LSH banding (8 bands × 2 rows): THE subquadratic near-dup
    * path at 100 TB — candidate pairs come from equality on band keys
    * (a plain hash join on short strings), never from comparing docs.
    */
  private[graft] def lshPairsFromSignatures(sig: DataFrame): DataFrame =
    lshPairsOver(sig.cache())

  /** The banding + scoring kernel of [[lshPairsFromSignatures]] over an
    * ALREADY-materialized signature frame — no cache() here. The batch
    * path above caches (the verify/bench harness clears between
    * queries); per-epoch callers ([[graft.streaming.LiveNearDedup]])
    * must NOT register a fresh session-lifetime CacheManager entry per
    * delivered epoch (the plan changes every epoch, so nothing ever
    * hits), and localCheckpoint their frame instead.
    */
  private[graft] def lshPairsOver(sg: DataFrame): DataFrame = {
    val bands = lshBands(sg)
    val cand = bands.select(col("doc_id").as("id1"), col("band"), col("key"))
      .join(bands.select(col("doc_id").as("id2"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    lshEstSim(cand, sg)
  }

  val q45_simhash: QueryDef = q(
    "q45_simhash",
    s"""WITH $toksUnnestSql,
       |h AS (SELECT doc_id, ${h64sql("term")} AS h FROM toku),
       |bits AS (SELECT doc_id, b,
       |        CASE WHEN sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |             THEN 1 ELSE 0 END AS bit
       |      FROM h CROSS JOIN unnest(range(0, 16)) AS u(b) GROUP BY doc_id, b)
       |SELECT doc_id, CAST(sum(bit * (1 << CAST(b AS INT))) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // 16-bit SimHash over token multiset: near-dup docs land on nearby
    // codes; grouping by code (or code bands) gives O(n) candidate
    // blocks. One compiled pass per document (Ngrams.simhash16) — the
    // previous spelling exploded 16 bit-rows per TOKEN through two
    // aggregations; the kernel folds the same ±1 votes in-place, so no
    // per-token rows ever exist and the only shuffle left is the
    // orderBy. The size(toks) > 0 filter preserves the explode
    // spelling's drop semantics (empty/null token arrays emit no row).
    tokenized(s, dir)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), graft.functions.Ngrams.simhash16(col("toks")).as("simhash"))
      .orderBy("doc_id")
  }

  val q46_embed_neardup: QueryDef = q(
    "q46_embed_neardup",
    """WITH nrm AS (SELECT vec_id, embedding,
      |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |      FROM embeddings),
      |pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
      |        CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN -1.0
      |             ELSE list_sum(list_transform(range(1, len(a.embedding) + 1),
      |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) END AS cos
      |      FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id)
      |SELECT id1, id2, floor(cos * 100 + 0.5) / 100 AS cos_sim
      |FROM pairs ORDER BY cos DESC, id1, id2 LIMIT 20""".stripMargin
  ) { (s, dir) =>
    // Embedding near-dup via the block-tiled distributed kernel
    // (graft.operators.Similarity.bruteForceTopPairs): same sequential
    // fold as the declarative dot_f form, ~10x faster because no pair of
    // float arrays is ever materialized through a join; no corpus data
    // touches the driver (tiles emit only their local top-k). The LSH
    // hyperplane path replaces it past brute-force compute budgets.
    // The oracle's CASE mirrors the kernel's zero-norm guard (cos :=
    // -1.0, ranked last) so parity holds even on corpora that contain a
    // zero vector — DuckDB's 0/0 NaN would otherwise sort FIRST and fill
    // the LIMIT while Spark's guarded top-k excludes it.
    graft.operators.Similarity
      .bruteForceTopPairs(s, t(s, dir, "embeddings"), 20)
      .select(col("id1"), col("id2"), Par.r2(col("cos")).as("cos_sim"))
  }

  val q47_multimodal_binary: QueryDef = q(
    "q47_multimodal_binary",
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS sig, hex(encode(substring(text, 1, 8))) AS head_hex
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Binary ("multimodal") column plumbing: payloads stay opaque bytes;
    // metadata extraction is pure column ops. Real decode/resize stubs
    // live in graft.operators.Multimodal (mapPartitions over binary).
    t(s, dir, "documents")
      .select(col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).cast("bigint").as("n_bytes"),
        md5(col("text")).as("sig"),
        hex(encode(substring(col("text"), 1, 8), "UTF-8")).as("head_hex"))
      .orderBy("doc_id")
  }

  val q101_image_decode: QueryDef = q(
    "q101_image_decode",
    """WITH ids AS (SELECT unnest(range(0, 20)) AS media_id),
      |expect AS (SELECT media_id,
      |    CAST(8 + media_id AS INT) AS width,
      |    CAST(12 + (media_id * 3) % 17 AS INT) AS height,
      |    CAST(CASE WHEN media_id % 3 = 1 THEN 1 ELSE 3 END AS INT) AS channels,
      |    CASE WHEN media_id % 3 = 2 THEN 'bmp' ELSE 'png' END AS format,
      |    CAST(1 AS INT) AS decoded
      |  FROM ids)
      |SELECT * FROM (
      |  SELECT * FROM expect
      |  UNION ALL SELECT CAST(20 AS BIGINT), NULL, NULL, NULL, NULL, CAST(0 AS INT)
      |  UNION ALL SELECT CAST(21 AS BIGINT), NULL, NULL, NULL, NULL, CAST(0 AS INT)
      |) ORDER BY media_id""".stripMargin
  ) { (s, _) =>
    // REAL image decode, correctness-gated (q47 covers the opaque-bytes
    // plumbing with a replayable stub; this key exercises the actual
    // javax.imageio path): Multimodal.syntheticImages ENCODES 20
    // genuine PNG/BMP images whose header facts are closed-form in the
    // id, decodeImages reads the headers back, and the oracle
    // recomputes the closed form independently — the encoded bytes are
    // free to differ across JDK encoders, the decoded facts are not.
    // Two poison rows (garbage bytes, null payload) gate the quarantine
    // contract: decoded = 0, null dims, no crash.
    import s.implicits._
    val real = graft.operators.Multimodal.syntheticImages(s, 20)
    val bad = Seq(
      (20L, Some("definitely not an image".getBytes(
        java.nio.charset.StandardCharsets.UTF_8)), "image"),
      (21L, None: Option[Array[Byte]], "image"))
      .toDF("media_id", "payload", "media_type")
    graft.operators.Multimodal.decodeImages(s, real.unionByName(bad))
      .select(col("media_id"), col("width"), col("height"), col("channels"),
        col("format"), col("decoded").cast("int").as("decoded"))
      .orderBy("media_id")
  }

  val q50_token_count: QueryDef = q(
    "q50_token_count",
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS INT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpeish_tokens,
      |  CAST(length(text) AS INT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Token counting two ways: whitespace words and a BPE-ish lexer
    // regex (letter runs | digit runs | single punctuation) — the cheap
    // corpus-budget estimator a training pipeline runs before the real
    // tokenizer. Narrow projection, scan-speed at any corpus size.
    t(s, dir, "documents").select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_ws_tokens"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpeish_tokens"),
      length(col("text")).as("n_chars")
    ).orderBy("doc_id")
  }

  val q51_langid: QueryDef = q(
    "q51_langid",
    """WITH tk AS (SELECT doc_id, lang,
      |        list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
      |      FROM documents),
      |sc AS (SELECT doc_id, lang,
      |        CAST(len(list_filter(toks, x -> list_contains(['the', 'and', 'of', 'to', 'in'], x))) AS INT) AS s_en,
      |        CAST(len(list_filter(toks, x -> list_contains(['der', 'und', 'die', 'das', 'ist'], x))) AS INT) AS s_de,
      |        CAST(len(list_filter(toks, x -> list_contains(['el', 'la', 'de', 'que', 'los'], x))) AS INT) AS s_es,
      |        CAST(len(list_filter(toks, x -> list_contains(['le', 'et', 'les', 'des', 'une'], x))) AS INT) AS s_fr
      |      FROM tk)
      |SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
      |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred
      |FROM sc ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Stopword-profile language ID (n-gram heuristic): one score per
    // candidate language, argmax with a fixed preference order on ties.
    def score(name: String, words: Seq[String]) =
      graft.functions.CountFunctions.countInSet(col("toks"), words).as(name)
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        score("s_en", Seq("the", "and", "of", "to", "in")),
        score("s_de", Seq("der", "und", "die", "das", "ist")),
        score("s_es", Seq("el", "la", "de", "que", "los")),
        score("s_fr", Seq("le", "et", "les", "des", "une")))
      .withColumn("lang_pred",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
          col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
      .orderBy("doc_id")
  }

  val q51b_langid_nb: QueryDef = q(
    "q51b_langid_nb",
    """WITH lo AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
      |tk AS (SELECT doc_id, lang AS cls,
      |        list_transform(range(1, length(t) - 1), i -> substring(t, i, 3)) AS toks
      |      FROM lo),
      |ccount AS (SELECT cls, count(*) AS nc FROM tk GROUP BY 1),
      |meta AS (SELECT CAST(sum(nc) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS k FROM ccount),
      |priors AS (SELECT cls, ln((nc + 1.0) / (n + k)) AS prior FROM ccount CROSS JOIN meta),
      |cnt AS (SELECT cls, term, count(*) AS cnt
      |    FROM (SELECT cls, unnest(toks) AS term FROM tk) GROUP BY 1, 2),
      |ctot AS (SELECT cls, sum(cnt) AS tc FROM cnt GROUP BY 1),
      |vmeta AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM cnt),
      |vocab AS (SELECT DISTINCT term FROM cnt),
      |w AS (SELECT ct.cls, vb.term,
      |        ln((coalesce(c.cnt, 0) + 1.0) / (CAST(ct.tc AS DOUBLE) + vmeta.v)) AS w
      |      FROM vocab vb CROSS JOIN ctot ct
      |      LEFT JOIN cnt c ON c.cls = ct.cls AND c.term = vb.term
      |      CROSS JOIN vmeta),
      |tf AS (SELECT doc_id, term, count(*) AS tf
      |    FROM (SELECT doc_id, unnest(toks) AS term FROM tk) GROUP BY 1, 2),
      |ev AS (SELECT tf.doc_id, w.cls, sum(tf.tf * w.w) AS ev
      |       FROM tf JOIN w USING (term) GROUP BY 1, 2),
      |sc AS (SELECT doc_id, ev.cls, floor((ev + prior) * 100 + 0.5) / 100 AS score
      |       FROM ev JOIN priors ON priors.cls = ev.cls),
      |wide AS (SELECT doc_id,
      |    max(CASE WHEN cls = 'de' THEN score END) AS s_de,
      |    max(CASE WHEN cls = 'en' THEN score END) AS s_en,
      |    max(CASE WHEN cls = 'es' THEN score END) AS s_es,
      |    max(CASE WHEN cls = 'fr' THEN score END) AS s_fr,
      |    max(CASE WHEN cls = 'zh' THEN score END) AS s_zh
      |  FROM sc GROUP BY doc_id)
      |SELECT d.doc_id, d.lang, s_de, s_en, s_es, s_fr, s_zh,
      |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred
      |FROM documents d JOIN wide USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // TRAINED language ID (operators/NaiveBayes.trainMulti/scoreMulti
    // — the model-based upgrade of q51's stopword heuristic): K-class
    // multinomial NB over character trigrams of the lowercased text,
    // the closed-form stand-in for CCNet's fastText langid gate
    // (Wenzek 2020 §2 — fastText langid is itself a char-n-gram linear
    // model). Trained on the corpus's own lang labels, scored over the
    // same corpus, argmax taken on the ROUNDED per-class scores with a
    // fixed alphabetical preference on ties (both engines decide from
    // identical doubles — the q106 discipline). Char trigrams handle
    // zh (no word boundaries) where the stopword heuristic cannot.
    // Scale shape: train = one corpus shuffle (label rides the gram
    // explode) + vocab-/class-sized artifacts (dense V×K smoothed
    // weight table — absent-term evidence is part of the model); score
    // = the q34-shaped tf agg joined to the weight table on term, one
    // more (doc, cls)-keyed agg, then a literal-class pivot. The
    // trigram projection binds lower(text) to its own alias first —
    // higher-order lambdas get no CSE.
    import graft.functions.TextFunctions.charNgrams
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), lower(col("text")).as("lo"))
      .select(col("doc_id"), col("lang"), charNgrams(col("lo"), 3).as("toks"))
    // Model-memo (the q79/ANN precedent): the train-once artifact is
    // the LOCALIZED model (the V×K map the broadcast join would ship
    // anyway) when it fits the driver, else the trained tables.
    val model = artifact(s, dir, "nbmulti") {
      val m = graft.operators.NaiveBayes.trainMulti(docs, col("lang"))
      graft.operators.NaiveBayes.localize(m).toRight(m)
    }
    langidScored(docs, model)
  }

  /** q51b's per-class rounded scores and argmax over (doc_id, lang,
    * toks). A localized model (Right) scores in one compiled scan-side
    * pass (functions/NbExpressions.scala): the tf agg, the (doc, cls)
    * evidence agg and the class pivot were all doc_id-keyed, so the
    * kernel replaces both corpus shuffles and the pivot with
    * per-document state. A model past the driver gate (Left) scores
    * through the join spelling and the class pivot. NbLocalSpec pins
    * the two spellings' rows equal.
    */
  private[graft] def langidScored(docs: DataFrame, model: Either[
      graft.operators.NaiveBayes.NbMultiModel,
      graft.functions.NbScoreKernel.LocalMultiModel]): DataFrame = {
    val classes = Seq("de", "en", "es", "fr", "zh")
    val wide = model match {
      case Right(local) =>
        val ci = local.classes.zipWithIndex.toMap
        // Explicit-class projection (pivot(classes) semantics): a class
        // absent from the trained model yields a null column.
        val scoreCols = classes.map { c =>
          ci.get(c) match {
            case Some(i) => Par.r2(col("sc")(i)).as(s"s_$c")
            case None => lit(null).cast("double").as(s"s_$c")
          }
        }
        docs.select(col("doc_id"), col("lang"),
            graft.functions.NbFunctions.nbScoreMulti(col("toks"), local).as("sc"))
          .filter(col("sc").isNotNull) // the join spelling's inner-join drop
          .select(col("doc_id") +: col("lang") +: scoreCols: _*)
      case Left(m) =>
        val pivoted = graft.operators.NaiveBayes.scoreMulti(docs, m)
          .select(col("doc_id"), col("cls"), Par.r2(col("score")).as("score"))
          .groupBy("doc_id").pivot("cls", classes).agg(first("score"))
        docs.select("doc_id", "lang").join(pivoted, Seq("doc_id"))
          .select(col("doc_id") +: col("lang") +: classes.map(c => col(c).as(s"s_$c")): _*)
    }
    val Seq(sDe, sEn, sEs, sFr, sZh) = classes.map(c => col(s"s_$c"))
    wide
      .withColumn("lang_pred",
        when(sDe >= sEn && sDe >= sEs && sDe >= sFr && sDe >= sZh, "de")
          .when(sEn >= sEs && sEn >= sFr && sEn >= sZh, "en")
          .when(sEs >= sFr && sEs >= sZh, "es")
          .when(sFr >= sZh, "fr")
          .otherwise("zh"))
      .orderBy("doc_id")
  }

  val q65_text_match: QueryDef = q(
    "q65_text_match",
    """WITH t AS (SELECT doc_id,
      |  CAST(len(list_intersect(
      |    list_distinct(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')),
      |    ['sort', 'merge', 'join'])) AS INT) AS match_score
      |  FROM documents)
      |SELECT doc_id, match_score FROM t
      |WHERE match_score > 0
      |ORDER BY match_score DESC, doc_id""".stripMargin
  ) { (s, dir) =>
    // Analyzed full-text match over the index surface (the reference's
    // `text`-typed description field, debug/s1_test_oss_conn.py:21-29):
    // both sides tokenized by the same analyzer, scored by
    // matched-token count. Runs through IndexSink.matchQuery — the same
    // code path a pipeline user queries the delivered index with.
    // Per-call unique view, dropped after the (eager) analysis — a fixed
    // name races concurrent builds and leaks into the session catalog.
    val view = s"q65_documents_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    t(s, dir, "documents").createOrReplaceTempView(view)
    try graft.streaming.IndexSink
      .matchQuery(s, view, "text", "sort merge join")
      .select(col("doc_id"), col("_score").as("match_score"))
      .orderBy(col("match_score").desc, col("doc_id"))
    finally s.catalog.dropTempView(view)
  }

  /** (doc_id, gram) — distinct word 8-grams per document (q66's gram
    * side, shared with DecontaminateSpec's exact-path reference).
    */
  def gram8Df(docs: DataFrame): DataFrame =
    // Codegen'd gram kernel (value-identical to the
    // transform(sequence(...)) HOF spelling — NgramExprSpec pins it).
    tokenizedDf(docs)
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.Ngrams.wordNgrams(col("toks"), 8))).as("gram"))

  /** [[gram8Df]] in digest form: (doc_id, gh) with gh the portable
    * 60-bit h64 of the gram — the fused kernel hashes each gram
    * without ever materializing the string, and downstream exchanges
    * carry 8-byte keys (the span-dedup design). array_distinct over
    * the hashes collapses exactly the per-doc distinct gram set (the
    * same 60-bit identity every h64-keyed operator in the repo
    * already relies on).
    */
  def gram8H64Df(docs: DataFrame): DataFrame =
    gram8H64FromToks(tokenizedDf(docs))

  private def gram8H64FromToks(tk: DataFrame): DataFrame =
    tk.filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.Ngrams.wordNgramH64s(col("toks"), 8))).as("gh"))

  val q66_decontaminate: QueryDef = q(
    "q66_decontaminate",
    s"""WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
      |            FROM documents),
      |g8 AS (SELECT DISTINCT doc_id,
      |         ${h64sql("toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2] || ' ' || toks[g+3] || ' ' || toks[g+4] || ' ' || toks[g+5] || ' ' || toks[g+6] || ' ' || toks[g+7]")} AS gh
      |       FROM tok, unnest(range(1, len(toks) - 6)) AS u(g)
      |       WHERE len(toks) >= 8),
      |bench AS (SELECT DISTINCT gh FROM g8
      |          JOIN documents d ON d.doc_id = g8.doc_id AND d.source = 'src0'),
      |contaminated AS (SELECT DISTINCT g8.doc_id FROM g8 JOIN bench USING (gh))
      |SELECT d.doc_id, d.source FROM documents d
      |WHERE d.source <> 'src0'
      |  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      |ORDER BY d.doc_id""".stripMargin
  ) { (s, dir) =>
    // Benchmark decontamination — drop training docs sharing any 8-gram
    // with the held-out set (source='src0' plays the benchmark). Scale
    // shape: the corpus gram side passes a broadcast BLOOM prefilter
    // (Decontaminate.contaminatedIds) so only possible matches reach
    // the candidate hash join — at 100 TB that join's corpus-side
    // exchange is the pipeline's biggest, and ~(1-fpp) of it is clean
    // grams the filter drops scan-side. False positives die in the
    // exact verification join, false negatives can't exist, so the
    // result is identical to the unfiltered plan (DecontaminateSpec
    // asserts it). The final step is a left_anti join, map-side after
    // AQE broadcasts the (small) contaminated-id set. Standard practice
    // for removing eval-set contamination from a 100 TB crawl.
    // The gram key is the 60-bit h64 digest (the q81 /
    // span-dedup exchange design) — the Bloom prefilter probes longs
    // (`mightContainLong`), the verification join carries 8-byte keys,
    // and the oracle hashes with the same portable h64 so parity is by
    // construction.
    val docs = t(s, dir, "documents")
    val g8 = gram8H64FromToks(tokenized(s, dir))
    // No distinct here: the operator deduplicates the benchmark side
    // internally (a second distinct would just add an exchange).
    val benchGrams = g8
      .join(docs.filter(col("source") === "src0").select("doc_id"), "doc_id")
      .select("gh")
    val contaminated =
      graft.operators.Decontaminate.contaminatedIdsH64(g8, benchGrams)
    docs.filter(col("source") =!= "src0")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  val q67_hash_sample: QueryDef = q(
    "q67_hash_sample",
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE ${h64sql("concat('sample|', CAST(doc_id AS VARCHAR))")} % 100 < 10
       |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Deterministic ~10% sample keyed on a salted portable hash of the
    // id — reproducible across engines, runs, and cluster sizes (unlike
    // rand()-based sampling), composable per split by changing the salt.
    // Pure narrow filter: pushes to the scan, no shuffle, trivially
    // 100 TB-safe.
    t(s, dir, "documents")
      .filter(pmod(h64(concat(lit("sample|"), col("doc_id").cast("string"))), lit(100)) < 10)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  val q68_token_budget: QueryDef = q(
    "q68_token_budget",
    """WITH tk AS (SELECT doc_id,
      |        CAST(len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS BIGINT) AS n_tokens
      |      FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |        CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
      |      FROM tk)
      |SELECT doc_id, n_tokens, cum_tokens FROM c
      |WHERE cum_tokens <= 10000
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Token-budget packing: take docs in key order until the budget is
    // spent — the "fill a training mix to N tokens" primitive. The
    // running total deliberately does NOT use sum() OVER (ORDER BY ...):
    // Spark plans that as a single-partition WindowExec. PrefixSum is
    // the two-phase distributed form (range exchange → P-long offsets →
    // narrow add), identical results, no single-task bottleneck.
    val counts = tokenized(s, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    graft.operators.PrefixSum
      .withRunningTotal(counts, "doc_id", "n_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= 10000)
      .orderBy("doc_id")
  }

  /** DuckDB spelling of one hyperplane sign bit — the exact twin of
    * [[graft.operators.Similarity.hyperplaneLsh]]'s expression: plane-p,
    * dim-d rademacher weight from an md5 bit, sequential double fold.
    */
  private def lshBitSql(p: Int): String =
    s"""CASE WHEN list_sum(list_transform(range(0, len(embedding)),
       |  d -> CAST(embedding[d + 1] AS DOUBLE) *
       |    CAST((CAST(concat('0x', substr(md5(concat('$p', '|', CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) & 1) * 2 - 1 AS DOUBLE)))
       |  >= 0 THEN '1' ELSE '0' END""".stripMargin

  /** q69's oracle chain up to `ranked` — shared with q118. */
  private val lshChainSql: String =
    s"""b AS (SELECT vec_id, embedding,
       |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
       |        ${(0 until 8).map(lshBitSql).mkString(" || ")} AS bucket
       |      FROM embeddings),
       |pairs AS (SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
       |        CASE WHEN p.nrm = 0 OR e.nrm = 0 THEN -1.0
       |             ELSE list_sum(list_transform(range(1, len(p.embedding) + 1),
       |               i -> CAST(p.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) / (p.nrm * e.nrm)
       |        END AS cos
       |      FROM b p JOIN b e ON p.bucket = e.bucket AND e.vec_id <> p.vec_id
       |      WHERE p.vec_id < 5),
       |ranked AS (SELECT probe_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
       |      FROM pairs)""".stripMargin

  /** q69's search, shared with q118: candidates only from the probe's
    * 8-plane LSH bucket, top-5 for the vec_id < 5 probes.
    */
  private def lshTop5(s: SparkSession, dir: String): DataFrame = {
    val emb = vectors(s, dir)
    graft.operators.Similarity.lshSearch(
      graft.operators.Similarity.hyperplaneLsh(emb, 8), emb.filter(col("vec_id") < 5),
      nPlanes = 8, k = 5)
  }

  val q69_ann_lsh: QueryDef = q(
    "q69_ann_lsh",
    s"""WITH $lshChainSql
       |SELECT probe_id, neighbor_id, floor(cos * 100 + 0.5) / 100 AS cos_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // The ANN scale path, oracle-checked: candidates come ONLY from the
    // probe's LSH bucket (hash join on the 8-bit hyperplane signature —
    // engine-portable planes, so DuckDB reproduces the buckets exactly),
    // then exact ZERO-NORM-GUARDED cosine (cosSafe: 0/0 = NaN outranks
    // every real cosine in a DESC sort and diverges from DuckDB's NaN
    // rendering; a directionless vector ranks last instead) + top-k
    // within the bucket — Similarity.lshSearch, the same module the
    // streaming twin runs over enrich-bucketed live epochs. This is
    // q33's search restricted to 1/2^8 of the corpus per probe — the
    // trade a 100 TB corpus makes. Selection on the raw cosine;
    // rounding on emit only.
    lshTop5(s, dir)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("cos")).as("cos_sim"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  val q70_mixture_sample: QueryDef = q(
    "q70_mixture_sample",
    s"""WITH r AS (SELECT doc_id, source,
       |        CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
       |                    WHEN 'src2' THEN 250 ELSE 100 END AS rate_m,
       |        ${h64sql("concat('mix|', CAST(doc_id AS VARCHAR))")} % 1000 AS h
       |      FROM documents)
       |SELECT doc_id, source FROM r WHERE h < rate_m ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Mixture weighting: per-source keep rates (src0 100%, src1 50%,
    // src2 25%, tail 10%) on a salted deterministic hash — how a
    // training mix up/down-weights domains. Same scale shape as q67:
    // a pure scan-side filter, reproducible anywhere, re-weightable by
    // changing only the rate map (the already-kept subset is stable
    // under rate increases because the hash, not the rate, orders docs).
    val rate = when(col("source") === "src0", 1000)
      .when(col("source") === "src1", 500)
      .when(col("source") === "src2", 250)
      .otherwise(100)
    t(s, dir, "documents")
      .filter(pmod(h64(concat(lit("mix|"), col("doc_id").cast("string"))), lit(1000)) < rate)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  val q71_repetition: QueryDef = q(
    "q71_repetition",
    """WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
      |            FROM documents),
      |m AS (SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS n_grams,
      |        CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
      |          g -> toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2]))) AS BIGINT) AS n_uniq_grams
      |      FROM tk WHERE len(toks) >= 3)
      |SELECT doc_id, n_grams, n_uniq_grams,
      |  floor((1.0 - CAST(n_uniq_grams AS DOUBLE) / n_grams) * 100 + 0.5) / 100 AS dup_frac
      |FROM m ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Repeated-trigram fraction — the within-document repetition signal
    // quality pipelines threshold on (distinct from q41's type-token
    // ratio: a doc can repeat PHRASES while using many words). Narrow
    // projection, scan speed; shingleExpr is already distinct, so
    // n_uniq is its size and the raw count is size(toks) - 2.
    tokenized(s, dir)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        (size(col("toks")) - 2).cast("long").as("n_grams"),
        size(shingleExpr).cast("long").as("n_uniq_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_uniq_grams"),
        Par.r2(lit(1.0) - col("n_uniq_grams").cast("double") / col("n_grams"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  val q72_cluster_dedup: QueryDef = q(
    "q72_cluster_dedup",
    s"""WITH RECURSIVE $shinglesSql,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT id1, id2
       |          FROM inter JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
       |          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
       |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b),
       |cc AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)
       |SELECT component AS survivor_id, count(*) AS n_members,
       |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
       |FROM cc GROUP BY component ORDER BY survivor_id""".stripMargin
  ) { (s, dir) =>
    // CLUSTER-level dedup — the survivor-selection step a real pipeline
    // runs after pairwise near-dup detection: duplicate clusters are the
    // connected components of the (exact, oracle-reproducible) Jaccard
    // >= 0.8 pair graph from q32, each keeping its min doc_id. Spark
    // resolves components by distributed min-label propagation
    // (Dedup.components: one join + one aggregate per iteration, never a
    // driver-side graph); the oracle's WITH RECURSIVE reachability is the
    // same fixpoint. The 3-member chains in the corpus make this a real
    // TRANSITIVITY check, not a pair echo: A~B and B~C land in one
    // cluster even when A~C itself scores below the threshold.
    val prs = jaccardPairs(s, dir).select("id1", "id2")
    graft.operators.Dedup.components(prs)
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        expr("concat_ws(',', transform(array_sort(collect_list(id)), x -> CAST(x AS STRING)))")
          .as("members"))
      .select(col("component").as("survivor_id"), col("n_members"), col("members"))
      .orderBy("survivor_id")
  }

  /** Squared L2 distance in DuckDB mirroring [[graft.operators.Ivf]]'s
    * `nearest` float math exactly: per-dim difference rounded to float32
    * (`CAST(a - b AS REAL)` — the double subtraction of two floats is
    * exact, so the cast IS the float rounding Scala's `cv(i) - v(i)`
    * performs), the square rounded to float32 the same way, then a
    * sequential double accumulation (list_sum), which is the Scala
    * loop's `d += t * t` widening. Bit-identical distances make the
    * argmin (and therefore every k-means assignment) engine-portable.
    */
  private def ivfSqDistSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1),
       |        i -> CAST(CAST(CAST($a[i] - $b[i] AS REAL) * CAST($a[i] - $b[i] AS REAL) AS REAL) AS DOUBLE)))""".stripMargin

  /** One k-means assignment as a CTE: nearest centroid by squared L2,
    * ties to the smallest cell — `Ivf.nearest` keeps the first (lowest)
    * cell on equal distance, which `ORDER BY dist, cell` reproduces.
    * `vt` names the vector table (default the shared `v` CTE; q76's PQ
    * subspaces pass their sliced twins).
    */
  private def ivfAssignSql(name: String, cents: String, vt: String = "v"): String =
    s"""$name AS (SELECT vec_id, embedding, cell FROM (
       |    SELECT $vt.vec_id, $vt.embedding, c.cell,
       |      row_number() OVER (PARTITION BY $vt.vec_id
       |        ORDER BY ${ivfSqDistSql(s"$vt.embedding", "c.cv")}, c.cell) AS rn
       |    FROM $vt CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin

  /** One Lloyd centroid update as CTEs: per-dimension double mean cast
    * to float32 (Ivf.train's `avg(x)` + `cast(s.m as float)`), empty
    * cells keeping their previous centroid (`centroids.toMap ++ sums`).
    * DuckDB's zipped unnest pairs each component with its 1-based
    * position, the twin of Spark's posexplode.
    */
  private def ivfCentroidSql(name: String, assigned: String, prev: String): String =
    s"""${name}u AS (SELECT cell, unnest(range(1, len(embedding) + 1)) AS d,
       |        unnest(embedding) AS x FROM $assigned),
       |${name}a AS (SELECT cell, d,
       |        CAST(floor(avg(CAST(x AS DOUBLE)) * 10000 + 0.5) / 10000 AS REAL) AS m
       |        FROM ${name}u GROUP BY cell, d),
       |$name AS (SELECT p.cell, COALESCE(n.cv, p.cv) AS cv FROM $prev p
       |  LEFT JOIN (SELECT cell, list(m ORDER BY d) AS cv FROM ${name}a GROUP BY cell) n
       |  ON n.cell = p.cell)""".stripMargin

  private val ivfDotSql: String =
    """list_sum(list_transform(range(1, len(pe.pemb) + 1),
      |      i -> CAST(pe.pemb[i] AS DOUBLE) * CAST(i2.embedding[i] AS DOUBLE)))""".stripMargin

  private def ivfNormSql(e: String): String =
    s"sqrt(list_sum(list_transform($e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  /** q73's oracle chain up to the probe table `pe` — the 3-step Lloyd
    * replay, the cell assignment `idx` and each probe's 2 nearest
    * cells `pc` — shared with q83.
    */
  private val ivfChainSql: String =
    s"""v AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT CAST(rn - 1 AS INT) AS cell, embedding AS cv FROM
       |       (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding FROM v) WHERE rn <= 8),
       |${ivfAssignSql("a1", "c0")}, ${ivfCentroidSql("c1", "a1", "c0")},
       |${ivfAssignSql("a2", "c1")}, ${ivfCentroidSql("c2", "a2", "c1")},
       |${ivfAssignSql("a3", "c2")}, ${ivfCentroidSql("c3", "a3", "c2")},
       |${ivfAssignSql("idx", "c3")},
       |pc AS (SELECT probe_id, cell FROM (
       |    SELECT v.vec_id AS probe_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfSqDistSql("v.embedding", "c.cv")}, c.cell) AS rn
       |    FROM v CROSS JOIN c3 c WHERE v.vec_id < 5) WHERE rn <= 2),
       |pe AS (SELECT vec_id AS probe_id, embedding AS pemb, ${ivfNormSql("embedding")} AS na FROM v WHERE vec_id < 5)""".stripMargin

  /** (vec_id, embedding): the corpus every ANN rung reads. */
  private def vectors(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))

  /** The q73 coarse quantizer, shared by every IVF consumer (q73/q83,
    * q75, q89, q139, q163, q180): deterministic k-means, init = first
    * 8 by vec_id, 3 Lloyd steps, meanRound = 4. A consumer must not
    * move centroids, so all of them index against this one model.
    */
  private def ivfModel(s: SparkSession, dir: String): graft.operators.Ivf.Model =
    artifact(s, dir, "ivf|k=8|it=3|r=4")(
      graft.operators.Ivf.train(s, vectors(s, dir), k = 8, iters = 3, meanRound = 4))

  /** q73's search, shared with its q83 recall rung: top-5 cosine over
    * each probe's 2 nearest cells, probes vec_id < 5.
    */
  private def ivfTop5(s: SparkSession, dir: String): DataFrame = {
    val emb = vectors(s, dir)
    val model = ivfModel(s, dir)
    val indexed = graft.operators.Ivf.index(emb, model)
    graft.operators.Ivf.search(s, indexed, model, emb.filter(col("vec_id") < 5),
      k = 5, nprobe = 2)
  }

  val q73_ann_ivf: QueryDef = q(
    "q73_ann_ivf",
    s"""WITH $ivfChainSql,
       |scored AS (SELECT pc.probe_id, i2.vec_id AS neighbor_id,
       |    CASE WHEN pe.na = 0 OR ${ivfNormSql("i2.embedding")} = 0 THEN -1.0
       |         ELSE $ivfDotSql / (pe.na * ${ivfNormSql("i2.embedding")}) END AS cos
       |  FROM pc JOIN pe ON pe.probe_id = pc.probe_id JOIN idx i2 ON i2.cell = pc.cell
       |  WHERE i2.vec_id <> pc.probe_id),
       |ranked AS (SELECT probe_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk FROM scored)
       |SELECT probe_id, neighbor_id, floor(cos * 100 + 0.5) / 100 AS cos_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // The IVF-flat ANN path surfaced in the registry: deterministic
    // k-means coarse quantizer (init = first k by vec_id, 3 Lloyd
    // steps), cell assignment, then top-5 cosine probing only the 2
    // nearest cells per probe. The oracle replays the SAME 3 Lloyd
    // iterations as chained CTEs with float-exact arithmetic (see
    // ivfSqDistSql) — every assignment, centroid, probe-cell choice and
    // cosine is engine-portable, so this entry is hash-checked like any
    // other (formerly the registry's one rows-only entry). Exact RECALL
    // vs brute force is asserted in StreamingTwinSpec ("IVF search
    // recall"). Residual engine-divergence risk — avg() summation order
    // (Spark partial aggregates vs DuckDB sequential) differing by ~1
    // double ulp across a float32 rounding boundary — is suppressed by
    // meanRound = 4: both engines snap each mean to a 1e-4 grid (floor
    // (m·1e4 + 0.5)/1e4) before the float cast, shrinking the collision
    // window by ~3 orders of magnitude below the already-tiny ulp case.
    ivfTop5(s, dir)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("cos")).as("cos_sim"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** q74's oracle chain up to `ranked` — shared with q119. */
  private val int8ChainSql: String =
    s"""v AS (SELECT vec_id, embedding,
       |        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
       |      FROM embeddings),
       |qz AS (SELECT vec_id,
       |    list_transform(embedding, x -> CASE WHEN mx = 0 THEN 0
       |      ELSE CAST(least(127, greatest(-127, floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5))) AS BIGINT) END) AS codes
       |  FROM v),
       |n AS (SELECT vec_id, codes, list_sum(list_transform(codes, c -> c * c)) AS nsq FROM qz),
       |pairs AS (SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
       |    CASE WHEN p.nsq = 0 OR e.nsq = 0 THEN -1.0
       |         ELSE CAST(list_sum(list_transform(range(1, len(p.codes) + 1), i -> p.codes[i] * e.codes[i])) AS DOUBLE)
       |              / (sqrt(CAST(p.nsq AS DOUBLE)) * sqrt(CAST(e.nsq AS DOUBLE))) END AS qcos
       |  FROM n p JOIN n e ON e.vec_id <> p.vec_id WHERE p.vec_id < 5),
       |ranked AS (SELECT probe_id, neighbor_id, qcos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY qcos DESC, neighbor_id) AS rnk FROM pairs)""".stripMargin

  /** q74's search, shared with q119: int8-coded brute-force top-5 for
    * the vec_id < 5 probes.
    */
  private def int8Top5(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id").as("id"),
      graft.operators.Quantize.int8Codes(col("embedding")).as("codes"))
    graft.operators.Quantize.topKQuantized(emb, emb.filter(col("id") < 5), 5)
  }

  val q74_quantized_ann: QueryDef = q(
    "q74_quantized_ann",
    s"""WITH $int8ChainSql
       |SELECT probe_id, neighbor_id, floor(qcos * 100 + 0.5) / 100 AS qcos, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // Int8 scalar-quantized ANN (operators/Quantize): the memory-bound
    // scale path — 4x fewer vector bytes than float32, and the whole
    // score is INTEGER arithmetic (per-vector scales cancel in cosine),
    // so Spark and DuckDB agree bit-for-bit with no float-summation-
    // order caveat at all. Quantization itself is double math with
    // explicit floor(x + 0.5) rounding on both engines. The top-k shape
    // is q33's broadcast-probe brute force over the coded corpus.
    int8Top5(s, dir)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("qcos")).as("qcos"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  val q75_semdedup: QueryDef = q(
    "q75_semdedup",
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT CAST(rn - 1 AS INT) AS cell, embedding AS cv FROM
       |       (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding FROM v) WHERE rn <= 8),
       |${ivfAssignSql("a1", "c0")}, ${ivfCentroidSql("c1", "a1", "c0")},
       |${ivfAssignSql("a2", "c1")}, ${ivfCentroidSql("c2", "a2", "c1")},
       |${ivfAssignSql("a3", "c2")}, ${ivfCentroidSql("c3", "a3", "c2")},
       |${ivfAssignSql("idx", "c3")},
       |nn AS (SELECT vec_id, embedding, cell, ${ivfNormSql("embedding")} AS nrm FROM idx),
       |dups AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
       |  FROM nn a JOIN nn b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN -1.0
       |        ELSE list_sum(list_transform(range(1, len(a.embedding) + 1),
       |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |          / (a.nrm * b.nrm) END >= 0.4
       |  GROUP BY b.vec_id)
       |SELECT i.vec_id, i.cell, d.dup_of,
       |  CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS kept
       |FROM idx i LEFT JOIN dups d ON d.vec_id = i.vec_id
       |ORDER BY i.vec_id""".stripMargin
  ) { (s, dir) =>
    // SEMANTIC dedup (SemDeDup, arXiv:2303.09540) surfaced in the
    // registry: the q73 coarse quantizer (deterministic k-means, 3 Lloyd
    // steps, meanRound = 4 — the oracle replays the same iterations as
    // chained CTEs) assigns cells; Dedup.semDedup then marks any vector
    // with a lower-id >= 0.4-cosine peer IN ITS CELL as a duplicate of
    // the smallest such peer. Every cosine is the bit-portable
    // sequential double fold (dot_f), so the threshold comparison is
    // engine-exact; the output carries only integer columns — no float
    // rendering in the hash at all.
    val indexed = graft.operators.Ivf.index(vectors(s, dir), ivfModel(s, dir))
    graft.operators.Dedup.semDedup(indexed, minCos = 0.4)
      .orderBy("vec_id")
  }

  /** One PQ subspace's oracle CTE chain: slice `src`, deterministic
    * init, 2 Lloyd steps, final encode assignment — the q73 machinery
    * on the sliced table. Names are prefixed per subspace (no
    * collisions). `withProbeTable` adds q76's probe lookup table over
    * the SLICED source (q77 skips it — its probe tables slice the full
    * probe vector, not the residual the chains train on).
    */
  private def pqSubspaceSql(j: Int, subDim: Int, k: Int, src: String = "v",
      withProbeTable: Boolean = true): String = {
    val lo = j * subDim + 1; val hi = (j + 1) * subDim
    val probeTable = if (!withProbeTable) "" else s""",
       |pt$j AS (SELECT p.vec_id AS probe_id, c.cell,
       |    list_sum(list_transform(range(1, len(c.cv) + 1),
       |      i -> CAST(p.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))) AS t,
       |    list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
       |  FROM v$j p CROSS JOIN pc2$j c WHERE p.vec_id < 5)""".stripMargin
    s"""v$j AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM $src),
       |cz$j AS (SELECT CAST(rn - 1 AS INT) AS cell, embedding AS cv FROM
       |       (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding FROM v$j) WHERE rn <= $k),
       |${ivfAssignSql(s"pa1$j", s"cz$j", s"v$j")}, ${ivfCentroidSql(s"pc1$j", s"pa1$j", s"cz$j")},
       |${ivfAssignSql(s"pa2$j", s"pc1$j", s"v$j")}, ${ivfCentroidSql(s"pc2$j", s"pa2$j", s"pc1$j")},
       |${ivfAssignSql(s"pe$j", s"pc2$j", s"v$j")}""".stripMargin + probeTable
  }

  /** q76's full oracle chain (training → encoding → ADC scoring →
    * `ranked`), shared with the q96 recall rung, which appends the
    * exhaustive ground truth instead of emitting the ranking.
    */
  private val pqChainSql: String =
    s"""v AS (SELECT vec_id, embedding FROM embeddings),
       |${(0 until 4).map(pqSubspaceSql(_, 16, 4)).mkString(",\n")},
       |pn AS (SELECT vec_id AS probe_id, ${ivfNormSql("embedding")} AS na FROM v WHERE vec_id < 5),
       |scored AS (SELECT pn.probe_id, e0.vec_id AS neighbor_id,
       |    CASE WHEN pn.na = 0 OR sqrt(t0.nsq + t1.nsq + t2.nsq + t3.nsq) = 0 THEN -1.0
       |         ELSE (t0.t + t1.t + t2.t + t3.t)
       |              / (pn.na * sqrt(t0.nsq + t1.nsq + t2.nsq + t3.nsq)) END AS pq_cos
       |  FROM pe0 e0 JOIN pe1 e1 USING (vec_id) JOIN pe2 e2 USING (vec_id)
       |  JOIN pe3 e3 USING (vec_id) CROSS JOIN pn
       |  JOIN pt0 t0 ON t0.probe_id = pn.probe_id AND t0.cell = e0.cell
       |  JOIN pt1 t1 ON t1.probe_id = pn.probe_id AND t1.cell = e1.cell
       |  JOIN pt2 t2 ON t2.probe_id = pn.probe_id AND t2.cell = e2.cell
       |  JOIN pt3 t3 ON t3.probe_id = pn.probe_id AND t3.cell = e3.cell
       |  WHERE e0.vec_id <> pn.probe_id),
       |ranked AS (SELECT probe_id, neighbor_id, pq_cos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY pq_cos DESC, neighbor_id) AS rnk FROM scored)""".stripMargin

  /** The PQ search of the q76/q78/q99 rungs and their recall rungs:
    * 4 subspaces x 16 dims, 4-centroid codebooks trained on `vecs`
    * (2 Lloyd steps, meanRound = 4), then ADC top-5 for the vec_id < 5
    * probes drawn from the same space. `space` names `vecs` in the
    * artifact key.
    */
  private def pqTop5(s: SparkSession, dir: String, space: String,
      vecs: DataFrame): DataFrame = {
    val model = artifact(s, dir, s"pq|$space|sub=4x16|k=4|it=2|r=4")(
      graft.operators.Pq.train(s, vecs, nSub = 4, subDim = 16, k = 4, iters = 2,
        meanRound = 4))
    val encoded = graft.operators.Pq.encode(vecs, model)
    graft.operators.Pq.search(s, encoded, model, vecs.filter(col("vec_id") < 5), k = 5)
  }

  /** q76's search over the raw corpus, shared with q96. */
  private def pqRawTop5(s: SparkSession, dir: String): DataFrame =
    pqTop5(s, dir, "raw", vectors(s, dir))

  val q76_pq_ann: QueryDef = q(
    "q76_pq_ann",
    s"""WITH $pqChainSql
       |SELECT probe_id, neighbor_id, floor(pq_cos * 100 + 0.5) / 100 AS pq_cos, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // Product quantization + ADC (operators/Pq): 4 subspaces x 16 dims,
    // 4-centroid codebooks (k-means via Ivf.train on the sliced corpus,
    // 2 Lloyd steps, meanRound = 4), corpus encoded as 4 small codes,
    // probes scored via per-probe lookup tables — dot(probe, recon) =
    // sum of per-subspace table entries, EXACT because reconstruction
    // is concatenation. The oracle replays training, encoding, and the
    // table adds with the same float-exact arithmetic as q73, so the
    // whole PQ path is hash-checked end-to-end.
    pqRawTop5(s, dir)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("pq_cos")).as("pq_cos"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** q77's per-subspace probe/norm tables: qt = dot(FULL-probe slice,
    * residual codebook entry); qw = |coarse-centroid slice + entry|² —
    * the ADC decomposition terms (see operators/IvfPq).
    */
  private def ivfpqTablesSql(j: Int, subDim: Int): String = {
    val lo = j * subDim
    s"""qt$j AS (SELECT p.vec_id AS probe_id, r.cell AS code,
       |    list_sum(list_transform(range(1, len(r.cv) + 1),
       |      i -> CAST(p.embedding[$lo + i] AS DOUBLE) * CAST(r.cv[i] AS DOUBLE))) AS t
       |  FROM v p CROSS JOIN pc2$j r WHERE p.vec_id < 5),
       |qw$j AS (SELECT c.cell, r.cell AS code,
       |    list_sum(list_transform(range(1, len(r.cv) + 1),
       |      i -> (CAST(c.cv[$lo + i] AS DOUBLE) + CAST(r.cv[i] AS DOUBLE))
       |         * (CAST(c.cv[$lo + i] AS DOUBLE) + CAST(r.cv[i] AS DOUBLE)))) AS w
       |  FROM gc2 c CROSS JOIN pc2$j r)""".stripMargin
  }

  /** q77's full oracle chain up to `ranked` — shared with q97. */
  private val ivfpqChainSql: String =
    s"""v AS (SELECT vec_id, embedding FROM embeddings),
       |gcz AS (SELECT CAST(rn - 1 AS INT) AS cell, embedding AS cv FROM
       |       (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding FROM v) WHERE rn <= 4),
       |${ivfAssignSql("ga1", "gcz", "v")}, ${ivfCentroidSql("gc1", "ga1", "gcz")},
       |${ivfAssignSql("ga2", "gc1", "v")}, ${ivfCentroidSql("gc2", "ga2", "gc1")},
       |${ivfAssignSql("gidx", "gc2", "v")},
       |rv AS (SELECT i.vec_id, list_transform(range(1, len(i.embedding) + 1),
       |    d -> CAST(i.embedding[d] - c.cv[d] AS REAL)) AS embedding
       |  FROM gidx i JOIN gc2 c ON c.cell = i.cell),
       |${(0 until 4).map(pqSubspaceSql(_, 16, 4, src = "rv", withProbeTable = false)).mkString(",\n")},
       |${(0 until 4).map(ivfpqTablesSql(_, 16)).mkString(",\n")},
       |pn AS (SELECT vec_id AS probe_id, ${ivfNormSql("embedding")} AS na FROM v WHERE vec_id < 5),
       |gpc AS (SELECT probe_id, cell FROM (
       |    SELECT v.vec_id AS probe_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfSqDistSql("v.embedding", "c.cv")}, c.cell) AS rn
       |    FROM v CROSS JOIN gc2 c WHERE v.vec_id < 5) WHERE rn <= 2),
       |gpt AS (SELECT p.vec_id AS probe_id, c.cell,
       |    list_sum(list_transform(range(1, len(c.cv) + 1),
       |      i -> CAST(p.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))) AS t
       |  FROM v p CROSS JOIN gc2 c WHERE p.vec_id < 5),
       |scored AS (SELECT pn.probe_id, i.vec_id AS neighbor_id,
       |    CASE WHEN pn.na = 0 OR sqrt(qw0.w + qw1.w + qw2.w + qw3.w) = 0 THEN -1.0
       |         ELSE (gpt.t + qt0.t + qt1.t + qt2.t + qt3.t)
       |              / (pn.na * sqrt(qw0.w + qw1.w + qw2.w + qw3.w)) END AS pq_cos
       |  FROM gidx i
       |  JOIN gpc ON gpc.cell = i.cell
       |  JOIN pn ON pn.probe_id = gpc.probe_id
       |  JOIN gpt ON gpt.probe_id = gpc.probe_id AND gpt.cell = i.cell
       |  JOIN pe0 e0 ON e0.vec_id = i.vec_id
       |  JOIN qt0 ON qt0.probe_id = gpc.probe_id AND qt0.code = e0.cell
       |  JOIN qw0 ON qw0.cell = i.cell AND qw0.code = e0.cell
       |  JOIN pe1 e1 ON e1.vec_id = i.vec_id
       |  JOIN qt1 ON qt1.probe_id = gpc.probe_id AND qt1.code = e1.cell
       |  JOIN qw1 ON qw1.cell = i.cell AND qw1.code = e1.cell
       |  JOIN pe2 e2 ON e2.vec_id = i.vec_id
       |  JOIN qt2 ON qt2.probe_id = gpc.probe_id AND qt2.code = e2.cell
       |  JOIN qw2 ON qw2.cell = i.cell AND qw2.code = e2.cell
       |  JOIN pe3 e3 ON e3.vec_id = i.vec_id
       |  JOIN qt3 ON qt3.probe_id = gpc.probe_id AND qt3.code = e3.cell
       |  JOIN qw3 ON qw3.cell = i.cell AND qw3.code = e3.cell
       |  WHERE i.vec_id <> gpc.probe_id),
       |ranked AS (SELECT probe_id, neighbor_id, pq_cos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY pq_cos DESC, neighbor_id) AS rnk FROM scored)""".stripMargin

  /** q77's search, shared with q97: coarse prune to 2 of 4 cells,
    * residual ADC top-5 for the vec_id < 5 probes.
    */
  private def ivfpqTop5(s: SparkSession, dir: String): DataFrame = {
    val emb = vectors(s, dir)
    val model = artifact(s, dir, "ivfpq|c=4x2|sub=4x16|k=4|it=2|r=4")(
      graft.operators.IvfPq.train(s, emb, kCoarse = 4, coarseIters = 2, nSub = 4,
        subDim = 16, kSub = 4, pqIters = 2, meanRound = 4))
    val encoded = graft.operators.IvfPq.encode(emb, model)
    graft.operators.IvfPq.search(s, encoded, model, emb.filter(col("vec_id") < 5),
      k = 5, nprobe = 2)
  }

  val q77_ivfpq_ann: QueryDef = q(
    "q77_ivfpq_ann",
    s"""WITH $ivfpqChainSql
       |SELECT probe_id, neighbor_id, floor(pq_cos * 100 + 0.5) / 100 AS pq_cos, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // IVF-PQ / ADC (operators/IvfPq — the FAISS-standard IVFADC): the
    // q73 coarse quantizer prunes the scan to 2 of 4 cells per probe;
    // residuals (vector - cell centroid, float subtraction) are PQ-
    // encoded with 4x16-dim codebooks of 4 centroids; candidates score
    // as dot(p,c) + per-subspace table adds over per-cell norm terms —
    // exact w.r.t. the real-arithmetic reconstruction c + r-hat via the
    // decomposition, so the oracle replays the ENTIRE path (coarse
    // Lloyd chain, residuals, per-subspace chains, encoding, tables)
    // with q73's float-exact arithmetic.
    ivfpqTop5(s, dir)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("pq_cos")).as("pq_cos"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** The q78/q99 shared mix prefix: raw corpus `v`, Householder
    * direction `u`, rotated corpus `r`.
    */
  private val opqMixSql: String =
    s"""v AS (SELECT vec_id, embedding FROM embeddings),
       |u AS (SELECT list(sgn / sqrt(64.0) ORDER BY d) AS uv FROM (
       |    SELECT d, CAST((CAST(concat('0x', substr(md5(concat('0|', CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) & 1) * 2 - 1 AS DOUBLE) AS sgn
       |    FROM (SELECT unnest(range(0, 64)) AS d))),
       |r AS (SELECT vec_id, list_transform(range(1, len(embedding) + 1),
       |      d -> CAST(CAST(embedding[d] AS DOUBLE) - 2.0 * uv[d] * s AS REAL)) AS embedding
       |  FROM (SELECT v.vec_id, v.embedding, u.uv,
       |      list_sum(list_transform(range(1, len(v.embedding) + 1),
       |        i -> uv[i] * CAST(v.embedding[i] AS DOUBLE))) AS s
       |    FROM v CROSS JOIN u))""".stripMargin

  /** The PQ ADC scoring tail over 4 trained subspaces, probes drawn
    * from `src` — shared by the q78 and q99 chains (q76's differs only
    * in reading probes from the raw `v`).
    */
  private def adcTailSql(src: String): String =
    s"""pn AS (SELECT vec_id AS probe_id, ${ivfNormSql("embedding")} AS na FROM $src WHERE vec_id < 5),
       |scored AS (SELECT pn.probe_id, e0.vec_id AS neighbor_id,
       |    CASE WHEN pn.na = 0 OR sqrt(t0.nsq + t1.nsq + t2.nsq + t3.nsq) = 0 THEN -1.0
       |         ELSE (t0.t + t1.t + t2.t + t3.t)
       |              / (pn.na * sqrt(t0.nsq + t1.nsq + t2.nsq + t3.nsq)) END AS pq_cos
       |  FROM pe0 e0 JOIN pe1 e1 USING (vec_id) JOIN pe2 e2 USING (vec_id)
       |  JOIN pe3 e3 USING (vec_id) CROSS JOIN pn
       |  JOIN pt0 t0 ON t0.probe_id = pn.probe_id AND t0.cell = e0.cell
       |  JOIN pt1 t1 ON t1.probe_id = pn.probe_id AND t1.cell = e1.cell
       |  JOIN pt2 t2 ON t2.probe_id = pn.probe_id AND t2.cell = e2.cell
       |  JOIN pt3 t3 ON t3.probe_id = pn.probe_id AND t3.cell = e3.cell
       |  WHERE e0.vec_id <> pn.probe_id),
       |ranked AS (SELECT probe_id, neighbor_id, pq_cos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY pq_cos DESC, neighbor_id) AS rnk FROM scored)""".stripMargin

  /** q78's full oracle chain up to `ranked` — shared with q98. */
  private val opqChainSql: String =
    s"""$opqMixSql,
       |${(0 until 4).map(pqSubspaceSql(_, 16, 4, src = "r")).mkString(",\n")},
       |${adcTailSql("r")}""".stripMargin

  /** q99's oracle chain: the Householder mix, then the LEARNED
    * variance-balancing allocation replayed in SQL — per-dim variance
    * (snapped to the 1e-4 grid `Opq.allocate` uses), descending-
    * variance rank, the closed-form snake assignment to 4 bins of 16,
    * the permutation as a list — then the q76 PQ path over the
    * permuted corpus `p2`. Shared with q100's recall rung.
    */
  private val opqLearnedChainSql: String =
    s"""$opqMixSql,
       |rv AS (SELECT d, floor(((sxx - sx * sx / n) / n) * 10000 + 0.5) / 10000 AS vr FROM (
       |    SELECT t.d AS d, sum(CAST(embedding[t.d] AS DOUBLE)) AS sx,
       |           sum(CAST(embedding[t.d] AS DOUBLE) * CAST(embedding[t.d] AS DOUBLE)) AS sxx,
       |           count(*) AS n
       |    FROM r, unnest(range(1, 65)) AS t(d)
       |    WHERE embedding IS NOT NULL GROUP BY t.d)),
       |rk AS (SELECT d, row_number() OVER (ORDER BY vr DESC, d) - 1 AS r0 FROM rv),
       |asn AS (SELECT d, r0, CASE WHEN (r0 // 4) % 2 = 0 THEN r0 % 4 ELSE 3 - (r0 % 4) END AS bin FROM rk),
       |slt AS (SELECT d, r0, bin * 16 + (row_number() OVER (PARTITION BY bin ORDER BY r0) - 1) AS slot FROM asn),
       |pm AS (SELECT list(d ORDER BY slot) AS pm FROM slt),
       |p2 AS (SELECT vec_id, list_transform(range(1, 65), j -> embedding[pm[j]]) AS embedding FROM r CROSS JOIN pm),
       |${(0 until 4).map(pqSubspaceSql(_, 16, 4, src = "p2")).mkString(",\n")},
       |${adcTailSql("p2")}""".stripMargin

  /** The Householder-mixed corpus (Opq.rotation(64)) the q78 and q99
    * rungs quantize.
    */
  private def rotated(s: SparkSession, dir: String): DataFrame =
    graft.operators.Opq.rotate(vectors(s, dir), graft.operators.Opq.rotation(64))

  /** q78's search over the rotated corpus, shared with q98. */
  private def pqRotatedTop5(s: SparkSession, dir: String): DataFrame =
    pqTop5(s, dir, "hh64", rotated(s, dir))

  val q78_opq_ann: QueryDef = q(
    "q78_opq_ann",
    s"""WITH $opqChainSql
       |SELECT probe_id, neighbor_id, floor(pq_cos * 100 + 0.5) / 100 AS pq_cos, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // OPQ-style rotated PQ (operators/Opq — Ge et al. 2013's data-
    // independent rotation rung): a deterministic Householder reflection
    // (signs from the q69 md5 plane rule, scaled 1/sqrt(64) — exactly
    // ±0.125, bit-portable) mixes every dimension into every subspace
    // in O(d) per vector, then the ENTIRE q76 PQ path (training,
    // encoding, ADC tables) runs over the rotated corpus with rotated
    // probes. The oracle replays rotation + the full chain float-exact.
    // The rotation is a narrow O(d) map recomputed per training pass at
    // this scale; a 100 TB pipeline materializes the rotated corpus
    // once (checkpoint/write) before training, like any derived table.
    pqRotatedTop5(s, dir)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("pq_cos")).as("pq_cos"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** Oracle replay of the add-one bigram LM train+score (q79's model):
    * CTEs `tok`..`scored`, where `scored` carries per-doc `n_bigrams`
    * and raw `nll`. Shared by q79/q136/q140 so the three gates replay
    * ONE model definition.
    */
  private val lmScoredSql: String =
    """tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
      |             FROM documents),
      |big AS (SELECT doc_id, toks[g] AS w1, toks[g+1] AS w2
      |        FROM tok, unnest(range(1, len(toks))) AS u(g) WHERE len(toks) >= 2),
      |dtf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM big GROUP BY 1, 2, 3),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
      |c1 AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY 1),
      |vc AS (SELECT count(*) AS v FROM c1),
      |scored AS (SELECT doc_id, sum(tf) AS n_bigrams,
      |      -sum(tf * ln((c2 + 1.0) / (c1 + v))) / sum(tf) AS nll
      |    FROM dtf JOIN c2 USING (w1, w2) JOIN c1 ON c1.w = dtf.w1 CROSS JOIN vc
      |    GROUP BY doc_id)""".stripMargin

  /** Per-doc `n_bigrams` and raw `nll` under the add-one bigram LM —
    * q79's model, shared by q79/q136/q140 (the Spark twin of
    * [[lmScoredSql]]). The count tables are the reusable artifact a
    * 100 TB run trains once and scores every shard against; training
    * is deterministic, so sharing changes no result, and the bench's
    * queries_first keeps the cold train path visible beside the
    * memo-warm min. The LOCALIZED form (size-gated; the NB-kernel
    * precedent) scores in one compiled scan-side pass — the tf agg,
    * both count-table joins and the per-doc reduce were all
    * doc_id-keyed, so no exchange is left. Above the gate (general
    * vocabulary at scale) the join spelling runs unchanged.
    */
  private def lmScored(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenized(s, dir)
    val model = artifact(s, dir, "ngramlm")(graft.operators.NgramLm.train(toks))
    artifact(s, dir, "ngramlm-local")(graft.operators.NgramLm.localize(model))
      .map(m => graft.operators.NgramLm.scoreLocal(toks, m))
      .getOrElse(graft.operators.NgramLm.score(toks, model))
  }

  val q79_lm_score: QueryDef = q(
    "q79_lm_score",
    s"""WITH $lmScoredSql
       |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |       floor(nll * 100 + 0.5) / 100 AS nll
       |FROM scored ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Statistical quality scoring (operators/NgramLm — the CCNet-recipe
    // LM filter): an add-one bigram LM trained on the corpus scores each
    // doc's mean NLL per bigram. Counts are two mergeable hash-aggs;
    // scoring is key-partitioned joins against the count tables (the
    // model artifact a 100 TB run trains once and reuses) and one
    // reduce per doc. The oracle replays train + score; r2 absorbs the
    // engines' sum-order and ln last-ulp drift (q35 precedent). The
    // only exchange under the localize gate is the output orderBy.
    lmScored(s, dir)
      .select(col("doc_id"), col("n_bigrams").cast("bigint").as("n_bigrams"),
        Par.r2(col("nll")).as("nll"))
      .orderBy("doc_id")
  }

  val q80_source_kl: QueryDef = q(
    "q80_source_kl",
    """WITH tok AS (SELECT source, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
      |             FROM documents),
      |tw AS (SELECT source, unnest(toks) AS w FROM tok),
      |cs AS (SELECT source, w, count(*) AS cs FROM tw GROUP BY 1, 2),
      |c AS (SELECT w, count(*) AS c FROM tw GROUP BY 1),
      |ns AS (SELECT source, sum(cs) AS ns FROM cs GROUP BY 1),
      |tot AS (SELECT sum(c) AS n, count(*) AS v FROM c),
      |grid AS (SELECT ns.source, c.w, c.c, ns.ns, tot.n, tot.v, cs.cs
      |         FROM c CROSS JOIN ns CROSS JOIN tot
      |         LEFT JOIN cs ON cs.source = ns.source AND cs.w = c.w),
      |kl AS (SELECT source,
      |    sum(((coalesce(cs, 0) + 1.0) / (ns + v))
      |        * ln((((coalesce(cs, 0) + 1.0) / (ns + v))) / ((c + 1.0) / (n + v)))) AS kl
      |  FROM grid GROUP BY source)
      |SELECT source, floor(kl * 10000 + 0.5) / 10000 AS kl
      |FROM kl ORDER BY source""".stripMargin
  ) { (s, dir) =>
    // Mixture diagnostics (operators/NgramLm.sourceDivergence): per-
    // source KL divergence of the source's unigram distribution from
    // the whole corpus, add-one smoothed over the shared vocabulary —
    // the drift monitor beside q70's mixture sampler. The vocab×sources
    // grid is a broadcast-replicated vocabulary pass (sources are few);
    // r4 because KL between near-identical mixtures lives below 0.01.
    val docs = t(s, dir, "documents")
      .select(col("source"), tokens(col("text")).as("toks"))
    graft.operators.NgramLm.sourceDivergence(docs)
      .select(col("source"), Par.r4(col("kl")).as("kl"))
      .orderBy("source")
  }

  val q81_dup_gram_fraction: QueryDef = q(
    "q81_dup_gram_fraction",
    s"""WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
      |             FROM documents),
      |g8 AS (SELECT DISTINCT doc_id,
      |         ${h64sql("toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2] || ' ' || toks[g+3] || ' ' || toks[g+4] || ' ' || toks[g+5] || ' ' || toks[g+6] || ' ' || toks[g+7]")} AS gh
      |       FROM tok, unnest(range(1, len(toks) - 6)) AS u(g)
      |       WHERE len(toks) >= 8),
      |nd AS (SELECT gh, count(*) AS nd FROM g8 GROUP BY 1),
      |per AS (SELECT doc_id, count(*) AS n_grams,
      |          sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_dup
      |        FROM g8 JOIN nd USING (gh) GROUP BY doc_id)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |       CAST(n_dup AS BIGINT) AS n_dup,
      |       CAST(n_dup AS DOUBLE) / n_grams AS dup_frac
      |FROM per ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Corpus-level duplication rate per document: the fraction of a
    // doc's distinct 8-grams that appear in at least one OTHER doc
    // (since g8 is per-doc distinct, gram multiplicity == number of
    // docs carrying it). This is the standard before/after measurement
    // for a dedup pass — q31/q72 REMOVE duplicates, this one QUANTIFIES
    // residual inter-document overlap. Scale shape: one hash-agg on the
    // gram key (mergeable), one key-partitioned join back, one reduce
    // per doc — gram cardinality bounds everything, never docs².
    // The gram key is the 60-bit h64 DIGEST, not the string (the
    // span-dedup exchange design: exchanges carry digests, not
    // documents) — both engines hash
    // with the same portable h64, so parity is by construction and the
    // two corpus-sized exchanges carry 8-byte keys instead of ~60-byte
    // gram strings; the fused gram-hash kernel never materializes the
    // string at all.
    // dup_frac is a single correctly-rounded double division of exact
    // integers, so the hash needs no rounding guard at all.
    val g8 = gram8H64FromToks(tokenized(s, dir))
    val nd = g8.groupBy("gh").agg(count(lit(1)).as("nd"))
    g8.join(nd, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup"))
      .select(col("doc_id"), col("n_grams").cast("bigint").as("n_grams"),
        col("n_dup").cast("bigint").as("n_dup"),
        (col("n_dup").cast("double") / col("n_grams")).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** q82's fused heuristic filter (length floor + stopword signal +
    * repetition ceiling) as ONE scan-side predicate binding the token
    * array once as a lambda variable — shared by q82 and the q92 full
    * chain (see q82's plan commentary for why the let-binding matters).
    */
  private val curationKeep = {
    // The stopword test is arrays_overlap (the same predicate as a
    // count-of-filter > 0, as one compiled containment scan instead of
    // an interpreted per-token lambda), and the trigram ratio rides
    // the codegen'd gram kernel ([[graft.functions.WordNgramsExpr]]).
    // The exists(array(...)) let-binding and the short-circuiting ANDs
    // stay: tokens bind once,
    // and the trigram branch still never evaluates on sub-10-token
    // docs.
    val stop = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
    exists(array(graft.functions.TextFunctions.tokens(col("text"))), t =>
      size(t) >= 10 &&
        arrays_overlap(t, stop) &&
        (lit(1.0) -
          size(array_distinct(graft.functions.Ngrams.wordNgrams(t, 3)))
            .cast("double") / (size(t) - 2)) <= 0.05)
  }

  /** The curation chain's survivor frame — fused heuristic filter +
    * window-min exact dedup over the raw corpus — memoized per
    * (session, dir): q82 and q92 are composites over exactly this
    * stage output, and each would otherwise re-run the filter + the
    * corpus-keyed dedup exchange per call. A real curation pipeline
    * materializes each stage's output once per
    * run; both consumers are deterministic functions of this frame
    * (exact integers + the portable salted hash), so sharing changes
    * no result. Columns are the union both need: q82 takes (doc_id,
    * source, n_tok), q92 additionally spans over toks. q154's twin
    * chain does NOT share this — its input is the delivery pipeline's
    * decoded Ok channel, not the raw corpus.
    */
  private def curated(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, "curated") {
      t(s, dir, "documents")
        .filter(curationKeep)
        .withColumn("min_id",
          min(col("doc_id")).over(Window.partitionBy("text")))
        .filter(col("doc_id") === col("min_id"))
        .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .localCheckpoint(true)
    }

  val q82_curation_pipeline: QueryDef = q(
    "q82_curation_pipeline",
    s"""WITH tk AS (SELECT doc_id, source, text,
       |        list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
       |      FROM documents),
       |m AS (SELECT doc_id, source, text, CAST(len(toks) AS BIGINT) AS n_tok,
       |        len(list_filter(toks, x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in'], x))) AS n_stop,
       |        1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
       |            g -> toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2]))) AS DOUBLE)
       |          / (len(toks) - 2) AS rep
       |      FROM tk WHERE len(toks) >= 10),
       |filt AS (SELECT doc_id, source, text, n_tok FROM m
       |         WHERE n_stop > 0 AND rep <= 0.05),
       |ded AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY text),
       |surv AS (SELECT f.doc_id, f.source, f.n_tok FROM filt f JOIN ded USING (doc_id))
       |SELECT doc_id, source, n_tok FROM surv
       |WHERE ${h64sql("concat('curate|', CAST(doc_id AS VARCHAR))")} % 100 < 50
       |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // The curation chain END-TO-END in one declarative plan — what a
    // user of this library actually runs over a crawl: length floor →
    // language heuristic (q51's stopword signal) → within-doc
    // repetition ceiling (q71's trigram signal) → exact dedup keeping
    // the smallest id (q31) → deterministic 50% salted-hash sample
    // (q67's portable-hash pattern, salt 'curate|'). Composition is the
    // point: every stage is the verified primitive, and the three
    // heuristic filters run as ONE narrow scan-side predicate. That
    // predicate binds the token array ONCE as a lambda variable
    // (`exists(array(toks), t -> ...)` — an expression-level let):
    // predicate pushdown substitutes aliases into the pushed filter
    // wholesale, and higher-order functions get no common-subexpression
    // elimination, so the naive three-metric filter re-tokenized every
    // row ~6× with quadratic shingle access — 5× the whole pipeline's
    // runtime at sf0.1. Dedup is a PARTITIONED window min (keep rows
    // where doc_id == min over the text partition) rather than a
    // groupBy + self-join — the join form computes the filtered subtree
    // twice, the window form gives the whole pipeline exactly ONE
    // exchange (digest-keyed at 100 TB, per q31's note); the sample
    // filter stays map-side. The filter+dedup stage output is the
    // memoized [[curated]] artifact shared with q92.
    curated(s, dir)
      .filter(pmod(h64(concat(lit("curate|"), col("doc_id").cast("string"))),
        lit(100)) < 50)
      .select(col("doc_id"), col("source"), col("n_tok"))
      .orderBy("doc_id")
  }

  val q83_ann_recall: QueryDef = q(
    "q83_ann_recall",
    s"""WITH $ivfChainSql,
       |iscored AS (SELECT pc.probe_id, i2.vec_id AS neighbor_id,
       |    CASE WHEN pe.na = 0 OR ${ivfNormSql("i2.embedding")} = 0 THEN -1.0
       |         ELSE $ivfDotSql / (pe.na * ${ivfNormSql("i2.embedding")}) END AS cos
       |  FROM pc JOIN pe ON pe.probe_id = pc.probe_id JOIN idx i2 ON i2.cell = pc.cell
       |  WHERE i2.vec_id <> pc.probe_id),
       |ivtop AS (SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
       |    FROM iscored) WHERE rnk <= 5),
       |bpairs AS (SELECT pe.probe_id, i2.vec_id AS neighbor_id,
       |    $ivfDotSql / (pe.na * ${ivfNormSql("i2.embedding")}) AS cos
       |  FROM pe CROSS JOIN v i2 WHERE i2.vec_id <> pe.probe_id),
       |bftop AS (SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
       |    FROM bpairs) WHERE rnk <= 5),
       |hits AS (SELECT i.probe_id, count(*) AS n_hits FROM ivtop i
       |         JOIN bftop b ON b.probe_id = i.probe_id AND b.neighbor_id = i.neighbor_id
       |         GROUP BY 1)
       |SELECT p.probe_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(n_hits, 0) AS DOUBLE) / 5 AS recall
       |FROM (SELECT vec_id AS probe_id FROM v WHERE vec_id < 5) p
       |LEFT JOIN hits ON hits.probe_id = p.probe_id
       |ORDER BY p.probe_id""".stripMargin
  ) { (s, dir) =>
    // Recall@5 of the IVF-flat index (q73's exact configuration)
    // against exhaustive search — the measurement that TUNES an ANN
    // index: a user picks nprobe/k by running this on a probe sample,
    // trading recall against the fraction of cells scanned. Both paths
    // rank on the raw cosine with the identical (cos DESC, neighbor_id)
    // tie-break, so the top-5 SETS are engine-portable (q73 and q33
    // each hash-prove their side) and recall is an exact integer
    // division — no rounding guard anywhere. Scale shape: the IVF side
    // scans only probed cells; the brute-force side broadcasts the
    // probe sample over one corpus scan (the ground truth is computed
    // for the SAMPLE, never corpus x corpus); the intersection join is
    // probes x k rows — trivially broadcast.
    recallVsExhaustive(s, dir, ivfTop5(s, dir))
  }

  /** Exhaustive-ground-truth recall tail shared by the oracles of the
    * q96/q97/q98/q100/q118/q119/q121/q168 recall rungs: intersect a
    * quantized `ranked` CTE's top-5 with
    * brute-force cosine top-5 over the RAW corpus `v` (recall is
    * always measured against TRUE neighbors — for OPQ that means the
    * unrotated space). q83's hits/recall contract verbatim: identical
    * (cos DESC, neighbor_id) tie-break on both engines, recall as an
    * exact integer division.
    */
  private val recallTailSql: String =
    s"""qtop AS (SELECT probe_id, neighbor_id FROM ranked WHERE rnk <= 5),
       |pe AS (SELECT vec_id AS probe_id, embedding AS pemb, ${ivfNormSql("embedding")} AS na FROM v WHERE vec_id < 5),
       |bpairs AS (SELECT pe.probe_id, i2.vec_id AS neighbor_id,
       |    $ivfDotSql / (pe.na * ${ivfNormSql("i2.embedding")}) AS cos
       |  FROM pe CROSS JOIN v i2 WHERE i2.vec_id <> pe.probe_id),
       |bftop AS (SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS brnk
       |    FROM bpairs) WHERE brnk <= 5),
       |hits AS (SELECT qt.probe_id, count(*) AS n_hits FROM qtop qt
       |         JOIN bftop b ON b.probe_id = qt.probe_id AND b.neighbor_id = qt.neighbor_id
       |         GROUP BY 1)
       |SELECT p.probe_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(n_hits, 0) AS DOUBLE) / 5 AS recall
       |FROM (SELECT vec_id AS probe_id FROM v WHERE vec_id < 5) p
       |LEFT JOIN hits ON hits.probe_id = p.probe_id
       |ORDER BY p.probe_id""".stripMargin

  /** Exhaustive ground-truth top-5 neighbor sets for the recall
    * rungs, memoized per (session, dir): the nine keys on
    * [[recallVsExhaustive]] (q83, q96, q97, q98, q100, q118, q119,
    * q121, q168) would otherwise each re-run the same brute-force
    * corpus scan + ranked window per call. The artifact is a 25-row
    * exact-arithmetic set (raw-cosine ranking, (cos DESC, neighbor_id)
    * tie-break — already the engine-portable contract), so sharing
    * changes no result; the [[memo]] argument, applied to the ground
    * truth the models are judged against.
    */
  private def exhaustiveTop5(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, "bftop5|p<5|k=5") {
      val nrm = normed(s, dir)
      val bprobes = nrm.filter(col("vec_id") < 5).select(
        col("vec_id").as("probe_id"), col("embedding").as("pe"), col("nrm").as("pn"))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
      nrm.join(broadcast(bprobes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          (dot_f(col("pe"), col("embedding")) / (col("pn") * col("nrm"))).as("cos"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("probe_id"), col("neighbor_id"))
        .localCheckpoint(true)
    }

  /** Spark side of the recall rungs (q83, q96, q97, q98, q100, q118,
    * q119, q121, q168): recall@5 of an ANN top-5 (`qtop`: probe_id,
    * neighbor_id, any other columns are dropped) against exhaustive
    * cosine search over the raw corpus. Scale shape: ground truth only
    * for the probe SAMPLE (broadcast probes × one corpus scan,
    * per-probe top-5 under a group limit), never corpus × corpus; the
    * intersection join is probes × k rows.
    */
  private def recallVsExhaustive(s: SparkSession, dir: String,
      qtop: DataFrame): DataFrame = {
    val nrm = normed(s, dir)
    val bftop = exhaustiveTop5(s, dir)
    val hits = qtop.select(col("probe_id"), col("neighbor_id"))
      .join(bftop, Seq("probe_id", "neighbor_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    nrm.filter(col("vec_id") < 5).select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).cast("bigint").as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 5).as("recall"))
      .orderBy("probe_id")
  }

  val q96_pq_recall: QueryDef = q(
    "q96_pq_recall",
    s"""WITH $pqChainSql,
       |$recallTailSql""".stripMargin
  ) { (s, dir) =>
    // Recall@5 of the PQ/ADC rung (q76's exact configuration) against
    // exhaustive search — the quantization quality loss MEASURED, not
    // assumed (q83 covers IVF-flat; q96–q98 complete the ladder). The
    // quantized top-5 and the ground-truth top-5 are each hash-proven
    // by their own registry entries; this rung hash-checks their
    // intersection as exact integers.
    recallVsExhaustive(s, dir, pqRawTop5(s, dir))
  }

  val q97_ivfpq_recall: QueryDef = q(
    "q97_ivfpq_recall",
    s"""WITH $ivfpqChainSql,
       |$recallTailSql""".stripMargin
  ) { (s, dir) =>
    // Recall@5 of the IVF-PQ rung (q77's exact configuration: coarse
    // prune to 2 of 4 cells + residual ADC) against exhaustive search.
    // Measures BOTH loss sources at once — cell pruning (q83's axis)
    // and residual quantization (q96's axis).
    recallVsExhaustive(s, dir, ivfpqTop5(s, dir))
  }

  val q98_opq_recall: QueryDef = q(
    "q98_opq_recall",
    s"""WITH $opqChainSql,
       |$recallTailSql""".stripMargin
  ) { (s, dir) =>
    // Recall@5 of the rotated-PQ rung (q78's exact configuration)
    // against exhaustive search over the UNROTATED corpus — ground
    // truth is always true neighbors; the rotation is part of the
    // index under test, not of the truth. Comparing q98 to q96
    // isolates what the rotation buys (or costs) at equal code budget.
    recallVsExhaustive(s, dir, pqRotatedTop5(s, dir))
  }

  /** q99's search, shared with q100: the learned allocation permutes
    * the rotated corpus, then the q76 PQ path runs over the result.
    */
  private def opqTop5(s: SparkSession, dir: String): DataFrame = {
    val mixed = rotated(s, dir)
    val alloc = artifact(s, dir, "opqalloc|hh64|d=64|sub=4")(
      graft.operators.Opq.allocate(mixed, dim = 64, nSub = 4))
    pqTop5(s, dir, "hh64+alloc", graft.operators.Opq.permute(mixed, alloc))
  }

  val q99_opq_learned: QueryDef = q(
    "q99_opq_learned",
    s"""WITH $opqLearnedChainSql
       |SELECT probe_id, neighbor_id, floor(pq_cos * 100 + 0.5) / 100 AS pq_cos, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // LEARNED OPQ rotation, oracle-gated (Ge et al. 2013 §4's
    // PARAMETRIC solution): after the q78 Householder mix, the engine
    // LEARNS a variance-balancing dimension allocation from corpus
    // statistics (Opq.allocate — per-dim variance snapped to a 1e-4
    // grid, descending-rank snake assignment into the 4 PQ subspaces;
    // a permutation matrix, so the composed transform stays exactly
    // orthogonal), then runs the q76 PQ path in the learned layout.
    // The closed-form allocation is what makes a LEARNED transform
    // oracle-replayable — the full alternating optimization
    // (Opq.trainRotation) needs an SVD no SQL engine replays and is
    // spec-gated in OpqSpec instead.
    opqTop5(s, dir)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("pq_cos")).as("pq_cos"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  val q100_opq_learned_recall: QueryDef = q(
    "q100_opq_learned_recall",
    s"""WITH $opqLearnedChainSql,
       |$recallTailSql""".stripMargin
  ) { (s, dir) =>
    // Recall@5 of the LEARNED-rotation rung (q99's exact configuration)
    // against exhaustive search over the raw corpus — completing the
    // recall ladder (q96 plain PQ, q98 fixed rotation, q100 learned):
    // the three at equal code budget isolate what each rotation rung
    // buys.
    recallVsExhaustive(s, dir, opqTop5(s, dir))
  }

  val q84_dsir_weights: QueryDef = q(
    "q84_dsir_weights",
    s"""WITH tok AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
       |             FROM documents),
       |uni AS (SELECT doc_id, source, 'u|' || w AS gram
       |        FROM (SELECT doc_id, source, unnest(toks) AS w FROM tok)),
       |big AS (SELECT doc_id, source, 'b|' || toks[g] || ' ' || toks[g+1] AS gram
       |        FROM tok, unnest(range(1, len(toks))) AS u(g) WHERE len(toks) >= 2),
       |feat AS (SELECT doc_id, source,
       |           ${h64sql("concat('dsir|', gram)")} % 1024 AS bucket
       |         FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
       |tc AS (SELECT bucket, count(*) AS ct FROM feat WHERE source = 'src0' GROUP BY 1),
       |rc AS (SELECT bucket, count(*) AS cr FROM feat GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM feat WHERE source = 'src0') AS nt,
       |               (SELECT count(*) FROM feat) AS nr),
       |sc AS (SELECT f.doc_id, count(*) AS n_feat,
       |         sum(ln((coalesce(ct, 0) + 1.0) / (nt + 1024.0))
       |           - ln((coalesce(cr, 0) + 1.0) / (nr + 1024.0))) AS logw
       |       FROM feat f LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
       |       CROSS JOIN tot GROUP BY 1)
       |SELECT doc_id, CAST(n_feat AS BIGINT) AS n_feat,
       |       floor(logw * 100 + 0.5) / 100 AS logw
       |FROM sc ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Importance-weighted data selection (operators/Dsir — the DSIR
    // recipe, Xie et al. 2023): per-doc log-likelihood ratio of hashed
    // unigram+bigram features under the target domain (src0 here — in
    // production, a curated in-domain sample) vs the raw corpus, both
    // add-one smoothed over 1024 hash buckets. High logw = "looks like
    // the target"; the q67 salted-hash sampler composes downstream for
    // the resampling step. Scale shape: both count tables are bounded
    // by the BUCKET count, not the vocabulary, so the model always
    // broadcasts and scoring is ONE shuffle (the doc_id reduce) — the
    // per-position ratio terms attach map-side. r2 absorbs the engines'
    // sum-order and ln last-ulp drift (q35/q79 precedent).
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
    val feats = graft.operators.Dsir.features(
      toks.select("doc_id", "toks"), buckets = 1024)
    val targetFeats = graft.operators.Dsir.features(
      toks.filter(col("source") === "src0").select("doc_id", "toks"),
      buckets = 1024)
    // Model-memo like q79's LM: the ≤1024-row count tables are the
    // train-once artifact; queries_first keeps the cold path visible.
    val model = artifact(s, dir, "dsir|b=1024")(
      graft.operators.Dsir.train(feats, targetFeats, buckets = 1024))
    graft.operators.Dsir.logWeights(feats, model)
      .select(col("doc_id"), col("n_feat").cast("bigint").as("n_feat"),
        Par.r2(col("logw")).as("logw"))
      .orderBy("doc_id")
  }

  /** The corpus `tok(doc_id, toks)` CTE shared by the BM25, span-dedup,
    * and chunking oracles.
    */
  private val docTokSql =
    """tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
      |        FROM documents)""".stripMargin

  /** Shared BM25 CTE chain (DuckDB) over an existing `tok` CTE:
    * Lucene-default BM25 (k1=1.2, b=0.75) of every doc carrying a query
    * term, mirroring `operators/Retrieval.bm25` — exact long-sum avgdl,
    * dl riding the tf agg, the same left-associated scoring chain.
    */
  private val bm25Sql =
    """stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |            CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM tok),
      |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      |       FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
      |       WHERE term IN ('data', 'spark', 'query') GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |bscored AS (SELECT doc_id,
      |      sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
      |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
      |    FROM tf JOIN df USING (term) CROSS JOIN stats GROUP BY doc_id)""".stripMargin

  private val bm25Terms = Seq("data", "spark", "query")

  /** Top-`n` of a BM25 `scored` frame by the ROUNDED score with
    * deterministic key tie-breaks: TakeOrderedAndProject selection
    * (per-partition top-k, never a global sort/window over the scored
    * corpus) first, then the rank window over just the survivors —
    * q35's shape, shared by q85/q86/q93. Adds `rnk` (int).
    */
  private def rankedTopByScore(scored: org.apache.spark.sql.DataFrame,
      n: Int, tie: Seq[String]): org.apache.spark.sql.DataFrame = {
    val ord = Par.r2(col("score")).desc +: tie.map(col)
    scored.orderBy(ord: _*).limit(n)
      .withColumn("rnk", row_number().over(Window.orderBy(ord: _*)))
  }

  val q85_bm25: QueryDef = q(
    "q85_bm25",
    s"""WITH $docTokSql,
       |$bm25Sql,
       |ranked AS (SELECT doc_id, score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM bscored)
       |SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // BM25 relevance ranking (operators/Retrieval.bm25): the scoring
    // function behind the reference's OpenSearch match queries, at the
    // Lucene defaults (k1=1.2, b=0.75), over the q35 term set. Like
    // q35, selection is TakeOrderedAndProject on the ROUNDED score
    // (per-doc sum order is engine-internal) with the rank window over
    // just the 10 survivors. Scale shape: one corpus shuffle (the tf
    // agg, document length riding along), stats and df broadcast.
    val scored = graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), bm25Terms)
    rankedTopByScore(scored, 10, Seq("doc_id"))
      .select(col("doc_id"), Par.r2(col("score")).as("score"),
        col("rnk").cast("bigint").as("rank"))
      .orderBy("rank")
  }

  val q86_hybrid_rrf: QueryDef = q(
    "q86_hybrid_rrf",
    s"""WITH $docTokSql,
       |$bm25Sql,
       |brank AS (SELECT doc_id, rnk FROM (
       |      SELECT doc_id, row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |      FROM bscored) WHERE rnk <= 20),
       |nrm AS (SELECT vec_id, embedding,
       |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |      FROM embeddings),
       |probes AS (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pn FROM nrm WHERE vec_id < 3),
       |vpairs AS (SELECT probe_id, e.vec_id AS neighbor_id,
       |        list_sum(list_transform(range(1, len(pe) + 1),
       |          i -> CAST(pe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) / (pn * e.nrm) AS cos
       |      FROM probes, nrm e WHERE e.vec_id <> probe_id),
       |vrank AS (SELECT probe_id, neighbor_id AS doc_id, rnk FROM (
       |      SELECT probe_id, neighbor_id,
       |        row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
       |      FROM vpairs) WHERE rnk <= 20),
       |pb AS (SELECT p.probe_id, b.doc_id, b.rnk
       |       FROM (SELECT vec_id AS probe_id FROM embeddings WHERE vec_id < 3) p CROSS JOIN brank b),
       |fused AS (SELECT probe_id, doc_id,
       |      coalesce(CAST(1.0 AS DOUBLE) / (60 + v.rnk), 0.0)
       |        + coalesce(CAST(1.0 AS DOUBLE) / (60 + pb.rnk), 0.0) AS rrf
       |    FROM vrank v FULL JOIN pb USING (probe_id, doc_id)),
       |ranked AS (SELECT probe_id, doc_id, rrf,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rnk
       |    FROM fused)
       |SELECT probe_id, doc_id, rrf, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 10 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // Hybrid retrieval (operators/Retrieval.rrf): fuse the BM25 text
    // ranking (top-20, shared across probes — one text query) with each
    // probe's brute-force cosine ranking (top-20, q33's exact shape) by
    // reciprocal rank fusion at k=60 — the OpenSearch hybrid-search
    // pattern over this engine's own two retrievers. rrf sums exact
    // divisions in fixed list order (vector first, text second, the
    // operator's input order), so ranking on the RAW rrf is
    // engine-portable with no rounding guard; ties (same-rank docs from
    // different lists) break on doc_id. Scale shape: both rank lists
    // are top-k (tiny) by construction, so the fusion join never
    // touches corpus-sized data; the probes broadcast against one
    // corpus scan on the vector side and the tf agg is the only
    // corpus shuffle on the text side.
    val scored = graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), bm25Terms)
    val brank = rankedTopByScore(scored, 20, Seq("doc_id"))
      .select(col("doc_id"), col("rnk"))
    val nrm = normed(s, dir)
    val probes = nrm.filter(col("vec_id") < 3).select(
      col("vec_id").as("probe_id"), col("embedding").as("pe"), col("nrm").as("pn"))
    val vw = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    val vrank = nrm.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (dot_f(col("pe"), col("embedding")) / (col("pn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(vw))
      .filter(col("rnk") <= 20)
      .select(col("probe_id"), col("neighbor_id").as("doc_id"), col("rnk"))
    val pb = probes.select(col("probe_id")).crossJoin(broadcast(brank))
    val fused = graft.operators.Retrieval.rrf(Seq(vrank, pb), Seq("probe_id", "doc_id"), k = 60)
    val fw = Window.partitionBy("probe_id").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(fw).cast("bigint"))
      .filter(col("rnk") <= 10)
      .select(col("probe_id"), col("doc_id"), col("rrf"), col("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** Span-dedup merge chain (DuckDB), mirroring
    * `operators/SpanDedup.duplicatedSpans` at k=8 over an existing
    * `tok(doc_id, toks)` CTE (the plain corpus for q87/q88; the
    * curation survivors for q92): every 8-gram occurrence hashed with
    * the 'sd|' salt, corpus-wide count > 1 marks, streaming interval
    * merge (coalesce(prevMax, -1) replays the operator's null-is-open
    * first-row case — positions are nonnegative).
    */
  /** 8-gram occurrences of a named tok CTE: `<name>(doc_id, pos, gh)`
    * — the marking input for both the duplicate chain and the
    * ref-match (span decontamination) chain.
    */
  private def spanOccSql(name: String, tokCte: String): String = {
    val gram = (0 until 8).map {
      case 0 => "toks[g]"
      case i => s"toks[g+$i]"
    }.mkString(" || ' ' || ")
    s"""$name AS (SELECT doc_id, g - 1 AS pos, ${h64sql(s"concat('sd|', $gram)")} AS gh
       |        FROM $tokCte, unnest(range(1, len(toks) - 6)) AS u(g)
       |        WHERE len(toks) >= 8)""".stripMargin
  }

  /** Streaming interval merge of a `marked(doc_id, s, e)` CTE into
    * `merged(doc_id, span_start, span_end)` — the tail shared by every
    * span chain (coalesce(prevMax, -1) replays the operator's
    * null-is-open first-row case; positions are nonnegative).
    */
  private val spanMergeTailSql =
    """flag AS (SELECT doc_id, s, e,
      |      CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS ng
      |    FROM marked),
      |grp AS (SELECT doc_id, s, e, sum(ng) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g FROM flag),
      |merged AS (SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start, CAST(max(e) AS BIGINT) AS span_end
      |           FROM grp GROUP BY doc_id, g)""".stripMargin

  private val spanMergeSql =
    s"""${spanOccSql("occ", "tok")},
       |dup AS (SELECT gh FROM (SELECT gh, count(*) AS c FROM occ GROUP BY 1) WHERE c > 1),
       |marked AS (SELECT doc_id, pos AS s, pos + 8 AS e FROM occ JOIN dup USING (gh)),
       |$spanMergeTailSql""".stripMargin

  val q87_span_dedup: QueryDef = q(
    "q87_span_dedup",
    s"""WITH $docTokSql,
       |$spanMergeSql
       |SELECT doc_id, span_start, span_end FROM merged
       |ORDER BY doc_id, span_start""".stripMargin
  ) { (s, dir) =>
    // Exact substring dedup (operators/SpanDedup — Lee et al. 2022):
    // maximal token runs whose every 8-gram repeats somewhere in the
    // corpus (another doc OR the same one), as merged end-exclusive
    // spans. This is the span-LEVEL complement of q31/q72's document-
    // level dedup — boilerplate shared between otherwise-distinct docs
    // — and removeSpans cuts the spans destructively (spec-covered;
    // the cut output is a token array, so the registry entry exposes
    // the span table, the operator's reusable artifact). Scale shape:
    // one gram-keyed count + join over 8-byte hashes, then one
    // doc-keyed exchange shared by both merge windows and the span
    // agg; only the duplicated fraction of occurrences reaches the
    // windows.
    graft.operators.SpanDedup.duplicatedSpans(tokenized(s, dir), k = 8)
      .orderBy("doc_id", "span_start")
  }

  val q88_span_coverage: QueryDef = q(
    "q88_span_coverage",
    s"""WITH $docTokSql,
       |$spanMergeSql,
       |cov AS (SELECT doc_id, count(*) AS n_spans, sum(span_end - span_start) AS dup_tok
       |        FROM merged GROUP BY 1),
       |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM tok)
       |SELECT l.doc_id, n_tok, CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
       |       CAST(coalesce(dup_tok, 0) AS BIGINT) AS dup_tok,
       |       CASE WHEN n_tok = 0 THEN CAST(0 AS DOUBLE)
       |            ELSE CAST(coalesce(dup_tok, 0) AS DOUBLE) / n_tok END AS dup_frac
       |FROM lens l LEFT JOIN cov USING (doc_id) ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Span-dedup coverage: what fraction of each doc's TOKENS sit
    // inside a duplicated run — the decision metric for whether to cut
    // spans (q87) or drop whole docs, and the companion to q81 (which
    // counts duplicated GRAM TYPES; this weighs duplicated token mass,
    // merged so overlapping grams never double-count). Every doc
    // surfaces via the left join, zero-coverage included. dup_frac is
    // one correctly-rounded division of exact longs — no rounding
    // guard (q81 precedent).
    val toks = tokenized(s, dir)
    val cov = graft.operators.SpanDedup.duplicatedSpans(toks, k = 8)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start")).as("dup_tok"))
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_spans"), lit(0L)).cast("bigint").as("n_spans"),
        coalesce(col("dup_tok"), lit(0L)).cast("bigint").as("dup_tok"),
        when(col("n_tok") === 0, lit(0.0))
          .otherwise(coalesce(col("dup_tok"), lit(0L)).cast("double") / col("n_tok"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  val q89_filtered_ann: QueryDef = q(
    "q89_filtered_ann",
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT CAST(rn - 1 AS INT) AS cell, embedding AS cv FROM
       |       (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding FROM v) WHERE rn <= 8),
       |${ivfAssignSql("a1", "c0")}, ${ivfCentroidSql("c1", "a1", "c0")},
       |${ivfAssignSql("a2", "c1")}, ${ivfCentroidSql("c2", "a2", "c1")},
       |${ivfAssignSql("a3", "c2")}, ${ivfCentroidSql("c3", "a3", "c2")},
       |${ivfAssignSql("idx", "c3")},
       |pc AS (SELECT probe_id, cell FROM (
       |    SELECT v.vec_id AS probe_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfSqDistSql("v.embedding", "c.cv")}, c.cell) AS rn
       |    FROM v CROSS JOIN c3 c WHERE v.vec_id < 5) WHERE rn <= 2),
       |pe AS (SELECT vec_id AS probe_id, embedding AS pemb, ${ivfNormSql("embedding")} AS na FROM v WHERE vec_id < 5),
       |scored AS (SELECT pc.probe_id, i2.vec_id AS neighbor_id,
       |    CASE WHEN pe.na = 0 OR ${ivfNormSql("i2.embedding")} = 0 THEN -1.0
       |         ELSE $ivfDotSql / (pe.na * ${ivfNormSql("i2.embedding")}) END AS cos
       |  FROM pc JOIN pe ON pe.probe_id = pc.probe_id JOIN idx i2 ON i2.cell = pc.cell
       |  JOIN embeddings lb ON lb.vec_id = i2.vec_id
       |  WHERE i2.vec_id <> pc.probe_id AND lb.label < 3),
       |ranked AS (SELECT probe_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk FROM scored)
       |SELECT probe_id, neighbor_id, floor(cos * 100 + 0.5) / 100 AS cos_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // FILTERED vector search — the ubiquitous production variant
    // ("nearest neighbors WHERE tenant/language/label ∈ ..."): q73's
    // exact IVF configuration with a metadata predicate on the
    // CANDIDATE side. The model trains on the full corpus (a filter
    // must not move centroids — queries with different filters share
    // one index); the predicate composes into the cell-pruned scan
    // BEFORE scoring, so disallowed vectors never cost a cosine. Here
    // the label lives in a side table and joins in (doc-keyed, the
    // test-data plumbing); a production index carries the label column
    // and the join collapses to a scan-side filter. Probes are NOT
    // filtered — the query vector needs no label.
    val embT = t(s, dir, "embeddings")
    val emb = embT.select(col("vec_id"), col("embedding"))
    val model = ivfModel(s, dir)
    val indexed = graft.operators.Ivf.index(emb, model)
    val filtered = indexed
      .join(embT.filter(col("label") < 3).select("vec_id"), "vec_id")
    val probes = emb.filter(col("vec_id") < 5)
    graft.operators.Ivf.search(s, filtered, model, probes, k = 5, nprobe = 2)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("cos")).as("cos_sim"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  val q90_chunking: QueryDef = q(
    "q90_chunking",
    s"""WITH $docTokSql,
       |ck AS (SELECT doc_id, g AS start_tok, len(toks) AS n, toks
       |       FROM tok, unnest(range(0, len(toks), 24)) AS u(g)
       |       WHERE len(toks) > 0)
       |SELECT doc_id, CAST(start_tok / 24 AS BIGINT) AS chunk_id,
       |       CAST(start_tok AS BIGINT) AS start_tok,
       |       CAST(least(32, n - start_tok) AS BIGINT) AS n_tok,
       |       ${h64sql("concat('ck|', array_to_string(toks[start_tok + 1 : start_tok + 32], ' '))")} AS chunk_hash
       |FROM ck ORDER BY doc_id, chunk_id""".stripMargin
  ) { (s, dir) =>
    // Overlapping token chunking (operators/Chunker, size 32 / stride
    // 24): the corpus-prep stage between curation and indexing —
    // retrieval corpora operate on bounded chunks, and the 8-token
    // overlap keeps boundary-straddling answers findable. Pure narrow
    // explode, zero shuffle (the presentation sort is the only
    // exchange); the chunk content rides as a portable hash so the
    // gate proves every chunk's exact token slice without ever
    // materializing duplicated text — the layout that avoids writing
    // ~1.3 copies of a 100 TB corpus into the chunk table.
    graft.operators.Chunker.chunks(tokenized(s, dir), size = 32, stride = 24)
      .orderBy("doc_id", "chunk_id")
  }

  val q91_source_budget: QueryDef = q(
    "q91_source_budget",
    """WITH tok AS (SELECT doc_id, source,
      |        len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS n_tok
      |      FROM documents),
      |c AS (SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
      |        sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok,
      |        CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500 ELSE 700 END AS budget
      |      FROM tok)
      |SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
      |FROM c WHERE cum_tok <= budget ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Per-SOURCE token budgeting — how a training mixture hits exact
    // per-domain token targets (q70 keeps a RATE of docs; this keeps a
    // token BUDGET): deterministic doc_id-ordered running total within
    // each source, keep while under the domain's cap. The cumulative
    // window is PARTITIONED by source, so unlike q68's corpus-global
    // packing (which needs the two-phase PrefixSum to avoid the
    // single-partition WindowExec) this parallelizes across sources
    // for free — one source-keyed exchange; a single pathological
    // mega-source degrades to q68's problem, and q68's operator is the
    // escape hatch. Exact integer arithmetic end to end.
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("budget",
        when(col("source") === "src0", lit(1000L))
          .when(col("source") === "src1", lit(500L))
          .otherwise(lit(700L)))
      .filter(col("cum_tok") <= col("budget"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("cum_tok").cast("bigint").as("cum_tok"))
      .orderBy("doc_id")
  }

  val q92_full_curation: QueryDef = q(
    "q92_full_curation",
    s"""WITH tk AS (SELECT doc_id, source, text,
       |        list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
       |      FROM documents),
       |m AS (SELECT doc_id, source, text, toks, CAST(len(toks) AS BIGINT) AS n_tok,
       |        len(list_filter(toks, x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in'], x))) AS n_stop,
       |        1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
       |            g -> toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2]))) AS DOUBLE)
       |          / (len(toks) - 2) AS rep
       |      FROM tk WHERE len(toks) >= 10),
       |filt AS (SELECT doc_id, source, text, toks, n_tok FROM m
       |         WHERE n_stop > 0 AND rep <= 0.05),
       |ded AS (SELECT doc_id, source, toks, n_tok FROM (
       |      SELECT doc_id, source, toks, n_tok,
       |        min(doc_id) OVER (PARTITION BY text) AS min_id FROM filt)
       |    WHERE doc_id = min_id),
       |tok AS (SELECT doc_id, toks FROM ded),
       |$spanMergeSql,
       |cov AS (SELECT doc_id, sum(span_end - span_start) AS dup_tok FROM merged GROUP BY 1),
       |kept AS (SELECT d.doc_id, d.source, d.n_tok FROM ded d LEFT JOIN cov USING (doc_id)
       |         WHERE coalesce(dup_tok, 0) * 2 <= n_tok),
       |bud AS (SELECT doc_id, source, n_tok,
       |        sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
       |      FROM kept)
       |SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
       |FROM bud WHERE cum_tok <= 600 ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // The curation chain end-to-end — what a user runs over a crawl:
    // q82's fused heuristic
    // filters → exact dedup (window min per text) → SPAN-coverage cap
    // (drop docs whose duplicated-run mass exceeds half their tokens —
    // q87/q88's operator, computed over the dedup SURVIVORS, the
    // honest staging) → per-source token budget (q91's partitioned
    // cumulative window, 600 tokens/domain). Everything after the
    // heuristic doubles is EXACT INTEGER arithmetic — the coverage cap
    // is the cross-multiplied dup_tok·2 ≤ n_tok, so the whole chain
    // hashes with no rounding guard. The survivor frame is the
    // memoized [[curated]] artifact (shared with q82): it
    // feeds both the span branch and the output join, and the two
    // consumers would otherwise each re-run the filter+dedup subtree.
    val ded = curated(s, dir)
    val cov = graft.operators.SpanDedup.duplicatedSpans(
        ded.select("doc_id", "toks"), k = 8)
      .groupBy("doc_id")
      .agg(sum(col("span_end") - col("span_start")).as("dup_tok"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ded.join(cov, Seq("doc_id"), "left")
      .filter(coalesce(col("dup_tok"), lit(0L)) * 2 <= col("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= 600)
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("cum_tok").cast("bigint").as("cum_tok"))
      .orderBy("doc_id")
  }

  val q93_passage_bm25: QueryDef = q(
    "q93_passage_bm25",
    s"""WITH $docTokSql,
       |ck AS (SELECT doc_id, CAST(g / 24 AS BIGINT) AS chunk_id, toks[g + 1 : g + 32] AS ctoks
       |       FROM tok, unnest(range(0, len(toks), 24)) AS u(g) WHERE len(toks) > 0),
       |cstat AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |            CAST(sum(len(ctoks)) AS DOUBLE) / count(*) AS avgdl FROM ck),
       |ctf AS (SELECT doc_id, chunk_id, term, count(*) AS tf, max(dl) AS dl
       |        FROM (SELECT doc_id, chunk_id, len(ctoks) AS dl, unnest(ctoks) AS term FROM ck)
       |        WHERE term IN ('data', 'spark', 'query') GROUP BY 1, 2, 3),
       |cdf AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM ctf GROUP BY 1),
       |cscored AS (SELECT doc_id, chunk_id,
       |      sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
       |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
       |    FROM ctf JOIN cdf USING (term) CROSS JOIN cstat GROUP BY 1, 2),
       |ranked AS (SELECT doc_id, chunk_id, score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id, chunk_id) AS rnk
       |    FROM cscored)
       |SELECT doc_id, chunk_id, floor(score * 100 + 0.5) / 100 AS score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // PASSAGE retrieval — the RAG primitive: q90's chunking feeds
    // q85's BM25, so relevance is scored per bounded chunk (tf, length
    // normalization, df, and avgdl all at CHUNK granularity — a long
    // doc cannot bury a dense passage). The retrieval unit is the
    // composite (doc, chunk) key, carried through bm25 as a portable
    // 'doc:chunk' string and unpacked for output — no numeric packing
    // bound. Same one-corpus-shuffle shape as q85 over the chunk
    // stream; selection on the rounded score with the numeric
    // composite tie-break (q35 precedent).
    // Served from the memoized passage index (the fdb0441 discipline
    // applied at chunk granularity): per-query cost proportional to
    // the terms' chunk postings, per-(chunk, term) scores bit-identical
    // to the corpus pass (RetrievalSpec), per-chunk sum-order absorbed
    // by the emitted rounding.
    val scored = graft.operators.Retrieval
      .bm25FromIndex(chunkIndexFor(s, dir), bm25Terms)
    val parts = split(col("doc_id"), ":")
    val unpacked = scored.select(
      parts.getItem(0).cast("long").as("doc_id"),
      parts.getItem(1).cast("long").as("chunk_id"), col("score"))
    rankedTopByScore(unpacked, 10, Seq("doc_id", "chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        Par.r2(col("score")).as("score"), col("rnk").cast("bigint").as("rank"))
      .orderBy("rank")
  }

  val q94_bm25_postings: QueryDef = q(
    "q94_bm25_postings",
    s"""WITH $docTokSql,
       |$bm25Sql,
       |ranked AS (SELECT doc_id, score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM bscored)
       |SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // q85's ranking served FROM A MATERIALIZED POSTINGS INDEX
    // (Retrieval.buildTextIndex → bm25FromIndex): build once — the one
    // corpus shuffle — then the query touches only its terms' postings
    // and df rows (scan-side isin; bucket-pruned when the postings are
    // a term-bucketed table). Same oracle as q85 because the scoring
    // chain and counts are identical; what changes is the ARCHITECTURE:
    // per-query cost proportional to matching postings, not the corpus
    // — the OpenSearch-analogue a query-heavy workload needs, with the
    // index as a reusable artifact instead of a server.
    val index = textIndexFor(s, dir)
    val scored = graft.operators.Retrieval.bm25FromIndex(index, bm25Terms)
    rankedTopByScore(scored, 10, Seq("doc_id"))
      .select(col("doc_id"), Par.r2(col("score")).as("score"),
        col("rnk").cast("bigint").as("rank"))
      .orderBy("rank")
  }

  val q95_decontaminate_spans: QueryDef = q(
    "q95_decontaminate_spans",
    s"""WITH tokc AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
       |              FROM documents WHERE source <> 'src0'),
       |tokb AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
       |         FROM documents WHERE source = 'src0'),
       |${spanOccSql("occ", "tokc")},
       |${spanOccSql("bocc", "tokb")},
       |bg AS (SELECT DISTINCT gh FROM bocc),
       |marked AS (SELECT doc_id, pos AS s, pos + 8 AS e FROM occ JOIN bg USING (gh)),
       |$spanMergeTailSql
       |SELECT doc_id, span_start, span_end FROM merged
       |ORDER BY doc_id, span_start""".stripMargin
  ) { (s, dir) =>
    // SPAN-LEVEL decontamination (SpanDedup.matchedSpans) — the
    // surgical companion to q66's drop-the-document policy, over the
    // same setup (src0 = the benchmark, everything else = the
    // corpus): the exact token runs whose every 8-gram appears in the
    // benchmark, merged; removeSpans then cuts the leaked passage and
    // keeps the document's novel remainder. Scale shape: one
    // gram-keyed equi-join against the DISTINCT benchmark gram hashes
    // (benchmark-sized — AQE broadcasts; Decontaminate's Bloom
    // prefilter composes upstream for a large blocklist), then the
    // shared doc-keyed merge.
    val docs = t(s, dir, "documents")
    graft.operators.SpanDedup.matchedSpans(
        tokenizedDf(docs.filter(col("source") =!= "src0")),
        tokenizedDf(docs.filter(col("source") === "src0")), k = 8)
      .orderBy("doc_id", "span_start")
  }

  // ------------------------------------------ q102: match_phrase

  val q102_phrase_match: QueryDef = q(
    "q102_phrase_match",
    s"""WITH $docTokSql,
       |hits AS (SELECT doc_id, count(*) AS n_hits
       |    FROM (SELECT doc_id, g FROM tok, unnest(range(1, len(toks))) AS u(g)
       |          WHERE toks[g] = 'table' AND toks[g+1] = 'hash')
       |    GROUP BY doc_id)
       |SELECT doc_id, n_hits FROM hits ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // match_phrase (operators/SearchDsl.phraseMatch): documents
    // containing the exact token sequence "table hash", with the
    // occurrence count — the OpenSearch phrase query the reference's
    // search sink serves, over positional postings instead of a
    // corpus re-scan. Scale shape: the phrase terms' postings only
    // (scan-side isin, bucket-pruned under writePositionalIndex's
    // layout), slot table broadcast, ONE exchange regardless of
    // phrase length (slot-coverage count, not m-1 self-joins).
    graft.operators.SearchDsl.phraseMatch(
        graft.operators.SearchDsl.positionalPostings(tokenized(s, dir)),
        Seq("table", "hash"))
      .orderBy("doc_id")
  }

  // ------------------------------------------ q103: fuzzy term query

  val q103_fuzzy_match: QueryDef = q(
    "q103_fuzzy_match",
    s"""WITH $docTokSql,
       |vocab AS (SELECT term, count(DISTINCT doc_id) AS df
       |    FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY 1)
       |SELECT term, CAST(levenshtein(term, 'spak') AS BIGINT) AS dist, df
       |FROM vocab
       |WHERE abs(length(term) - 4) <= 2 AND levenshtein(term, 'spak') <= 2
       |ORDER BY dist, term""".stripMargin
  ) { (s, dir) =>
    // fuzzy term query (operators/SearchDsl.fuzzyExpand): vocabulary
    // terms within 2 Levenshtein edits of the (misspelled) query
    // "spak", with their document frequency — OpenSearch's fuzzy
    // query resolved against the engine's own term dictionary. Scale
    // shape: the candidate set is the corpus-DISTINCT vocabulary
    // (never corpus-sized), length-banded BEFORE the O(len²) edit
    // distance runs; df rides the same vocab agg.
    val vocab = textIndexFor(s, dir).df
      .select(col("term"), col("df").cast("long").as("df"))
    graft.operators.SearchDsl.fuzzyExpand(vocab, "spak", maxEdits = 2)
      .select(col("term"), col("dist"), col("df"))
      .orderBy("dist", "term")
  }

  // ------------------------------------------ q104: bool query

  val q104_bool_search: QueryDef = q(
    "q104_bool_search",
    s"""WITH $docTokSql,
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |      CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM tok),
       |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |    FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
       |    WHERE term IN ('data', 'spark') GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, count(*) AS n_terms,
       |      sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
       |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
       |    FROM tf JOIN df USING (term) CROSS JOIN stats GROUP BY doc_id),
       |hits AS (SELECT s.doc_id, s.score FROM sc s
       |    JOIN documents d ON s.doc_id = d.doc_id
       |    JOIN tok tk ON tk.doc_id = s.doc_id
       |    WHERE s.n_terms = 2 AND d.lang = 'en'
       |      AND d.n_chars BETWEEN 100 AND 400
       |      AND NOT list_contains(tk.toks, 'slow')),
       |ranked AS (SELECT doc_id, score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM hits)
       |SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // bool query — the OpenSearch composition pattern, engine-side:
    //   must     = match "data" AND "spark" (BM25 with n_terms = 2 —
    //              AND semantics fall out of Retrieval.bm25's agg);
    //   filter   = lang = 'en' AND n_chars in [100, 400] (non-scoring,
    //              plain predicates on the metadata table);
    //   must_not = documents containing "slow".
    // Scored by the must clause only (filters never affect BM25, as
    // in Lucene), top-10 by rounded score. Scale shape: bm25's one
    // corpus shuffle; the metadata/filter join is doc-keyed; the
    // must_not check evaluates on the already-tokenized array —
    // no extra corpus pass, no new exchange beyond the doc-key join.
    val toksDf = tokenized(s, dir)
    val scored = graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), Seq("data", "spark"))
      .filter(col("n_terms") === 2)
    val meta = t(s, dir, "documents")
      .filter(col("lang") === "en" && col("n_chars").between(100, 400))
      .select(col("doc_id"))
    val hits = scored
      .join(meta, "doc_id")
      .join(toksDf.filter(!array_contains(col("toks"), "slow"))
        .select(col("doc_id")), "doc_id")
    rankedTopByScore(hits, 10, Seq("doc_id"))
      .select(col("doc_id"), Par.r2(col("score")).as("score"),
        col("rnk").cast("bigint").as("rank"))
      .orderBy("rank")
  }

  // ------------------------------------------ q105: more_like_this

  val q105_more_like_this: QueryDef = q(
    "q105_more_like_this",
    s"""WITH $docTokSql,
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |      CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM tok),
       |tfall AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |    FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
       |    GROUP BY 1, 2),
       |dfall AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfall GROUP BY 1),
       |mlt AS (SELECT term FROM (
       |      SELECT t.term, t.tf * ln((n + 1.0) / (df + 1.0)) AS tfidf
       |      FROM tfall t JOIN dfall USING (term) CROSS JOIN stats
       |      WHERE t.doc_id = 0)
       |    ORDER BY tfidf DESC, term LIMIT 3),
       |sc AS (SELECT doc_id, sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
       |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
       |    FROM tfall JOIN dfall USING (term) CROSS JOIN stats
       |    WHERE term IN (SELECT term FROM mlt) AND doc_id <> 0
       |    GROUP BY doc_id),
       |ranked AS (SELECT doc_id, score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM sc)
       |SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // more_like_this (operators/SearchDsl.mltTerms): select doc 0's 3
    // most characteristic terms by tf·idf (q35's idf; selection is a
    // single count×log product per term — bit-deterministic, no
    // rounding guard), then run them as an ordinary match query from
    // the SAME index, excluding the probe. Scale shape: term
    // selection reads the probe's postings rows + their df rows (a
    // one-doc filter, driver-bounded like IVF centroids); the match
    // is bm25FromIndex — per-query cost proportional to the selected
    // terms' postings, never a corpus re-scan.
    val idx = textIndexFor(s, dir)
    val terms = graft.operators.SearchDsl.mltTerms(idx, probeId = 0L, maxQueryTerms = 3)
    val scored = graft.operators.Retrieval.bm25FromIndex(idx, terms)
      .filter(col("doc_id") =!= 0L)
    rankedTopByScore(scored, 10, Seq("doc_id"))
      .select(col("doc_id"), Par.r2(col("score")).as("score"),
        col("rnk").cast("bigint").as("rank"))
      .orderBy("rank")
  }

  // ------------------------------------------ q106: NB quality filter

  val q106_nb_quality: QueryDef = q(
    "q106_nb_quality",
    """WITH tok AS (SELECT doc_id, lang = 'en' AS pos,
      |        list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
      |      FROM documents),
      |pr AS (SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np, count(*) AS n FROM tok),
      |cnt AS (SELECT term, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS pos_n, count(*) AS all_n
      |    FROM (SELECT pos, unnest(toks) AS term FROM tok) GROUP BY 1),
      |tot AS (SELECT CAST(sum(pos_n) AS DOUBLE) AS tp,
      |      CAST(sum(all_n - pos_n) AS DOUBLE) AS tn,
      |      CAST(count(*) AS DOUBLE) AS v FROM cnt),
      |w AS (SELECT term, ln((pos_n + 1.0) / (tp + v)) - ln((all_n - pos_n + 1.0) / (tn + v)) AS w
      |    FROM cnt CROSS JOIN tot),
      |tf AS (SELECT doc_id, term, count(*) AS tf
      |    FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY 1, 2),
      |sc AS (SELECT doc_id,
      |      sum(tf * w) + (SELECT ln((np + 1.0) / (n - np + 1.0)) FROM pr) AS log_odds
      |    FROM tf JOIN w USING (term) GROUP BY doc_id)
      |SELECT doc_id, floor(log_odds * 100 + 0.5) / 100 AS log_odds,
      |  CAST(CASE WHEN floor(log_odds * 100 + 0.5) / 100 > 0 THEN 1 ELSE 0 END AS INT) AS pred
      |FROM sc ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Trained quality/class filter (operators/NaiveBayes): multinomial
    // NB with Laplace smoothing, labels = (lang = 'en'), trained and
    // scored over the corpus — the GPT-3/CCNet classifier rung with a
    // closed-form (hence SQL-replayable) model. Emits the rounded
    // log-odds and the keep/route decision taken ON the rounded value
    // (so both engines decide from identical doubles). Scale shape:
    // train = one corpus shuffle (label rides the explode) + a
    // vocab-sized totals agg; score = the q34-shaped tf agg joined to
    // the vocab-sized weight table on term.
    // Model-memo + compiled scoring (the q51b shape): train once per
    // (session, dir) — exact integer counts, deterministic — and score
    // scan-side through the one-class kernel (log_odds = sc(0); the
    // no-vocab-term NULL reproduces score()'s inner-join drop). A
    // model past the driver gate scores through score()'s join.
    // NbLocalSpec pins the two spellings' rows equal.
    val lab = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"), col("lang"))
    val model = artifact(s, dir, "nbbin|en") {
      val m = graft.operators.NaiveBayes.train(lab, col("lang") === "en")
      graft.operators.NaiveBayes.localizeBinary(m).toRight(m)
    }
    nbQualityScored(lab, model)
  }

  /** q106's rounded log-odds and decision over (doc_id, toks): the
    * one-class kernel for a localized model (Right), score()'s join
    * spelling for one past the driver gate (Left).
    */
  private[graft] def nbQualityScored(lab: DataFrame, model: Either[
      graft.operators.NaiveBayes.NbModel,
      graft.functions.NbScoreKernel.LocalMultiModel]): DataFrame =
    model.fold(
      m => graft.operators.NaiveBayes.score(lab, m),
      local => lab.select(col("doc_id"),
          graft.functions.NbFunctions.nbScoreMulti(col("toks"), local).as("sc"))
        .filter(col("sc").isNotNull)
        .select(col("doc_id"), col("sc")(0).as("log_odds")))
      .select(col("doc_id"), Par.r2(col("log_odds")).as("log_odds"),
        (Par.r2(col("log_odds")) > 0).cast("int").as("pred"))
      .orderBy("doc_id")

  // ------------------------------------------ q107: highlight

  val q107_highlight: QueryDef = q(
    "q107_highlight",
    s"""WITH $docTokSql,
       |hit AS (SELECT doc_id, toks, list_position(toks, 'spark') AS p
       |    FROM tok WHERE list_position(toks, 'spark') > 0)
       |SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
       |  array_to_string(list_transform(
       |    toks[greatest(p - 2, 1):least(p + 2, len(toks))],
       |    x -> CASE WHEN x = 'spark' THEN '<em>' || x || '</em>' ELSE x END),
       |    ' ') AS snippet
       |FROM hit ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // highlight (operators/SearchDsl.highlight): the snippet around
    // the first occurrence of "spark" in every matching doc, the term
    // wrapped in <em> tags — the OpenSearch highlighter the reference's
    // search sink would serve next to every match query. Scale shape:
    // pure narrow expressions (array_position/slice/transform), no
    // shuffle — a map-only pass over the result set a retrieval stage
    // already bounded.
    graft.operators.SearchDsl.highlight(tokenized(s, dir), "spark", context = 2)
      .orderBy("doc_id")
  }

  // ------------------------------------------ q108: prefix query

  val q108_prefix_search: QueryDef = q(
    "q108_prefix_search",
    s"""WITH $docTokSql,
       |dt AS (SELECT DISTINCT doc_id, term
       |    FROM (SELECT doc_id, unnest(toks) AS term FROM tok) WHERE term LIKE 's%')
       |SELECT doc_id, count(*) AS n_terms FROM dt GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // prefix query (operators/SearchDsl.prefixExpand): documents
    // containing any term starting with "s", with the count of
    // distinct matching terms — OpenSearch's prefix query resolved
    // against the term dictionary, then served from the postings of
    // the expanded terms only. Scale shape: the StartsWith predicate
    // evaluates on the vocab-sized df table (footer-prunable on a
    // term-sorted dictionary); the postings join is bounded by the
    // expanded terms' postings, never a corpus re-scan; the expansion
    // frame broadcasts.
    val idx = textIndexFor(s, dir)
    val terms = graft.operators.SearchDsl.prefixExpand(idx.df, "s").select(col("term"))
    idx.postings.join(broadcast(terms), "term")
      .groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
      .orderBy("doc_id")
  }

  // ------------------------------------------ q109: facets

  val q109_facets: QueryDef = q(
    "q109_facets",
    s"""WITH $docTokSql,
       |$bm25Sql
       |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  max(n_chars) AS max_chars
       |FROM bscored JOIN documents USING (doc_id)
       |GROUP BY source ORDER BY n_docs DESC, source""".stripMargin
  ) { (s, dir) =>
    // terms facet (operators/SearchDsl.termsFacet): the OpenSearch
    // aggregation panel next to a search page — the q85 match query's
    // hits bucketed by `source` with per-bucket doc count and char
    // totals (integer metrics: exact in any engine, no rounding
    // guard). Scale shape: cost rides the HIT SET, not the corpus —
    // bm25's one shuffle bounds the hits, the doc-keyed metadata join
    // is the standard hydration join, and the facet groupBy partially
    // aggregates before its |sources|-group exchange.
    val hits = graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), bm25Terms)
      .select(col("doc_id"))
    graft.operators.SearchDsl.termsFacet(hits, t(s, dir, "documents"), "source",
        Seq(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          max(col("n_chars")).as("max_chars")))
      .orderBy(col("n_docs").desc, col("source"))
  }

  // ------------------------------------------ q110: search_after

  val q110_search_after: QueryDef = q(
    "q110_search_after",
    s"""WITH $docTokSql,
       |$bm25Sql,
       |ranked AS (SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM bscored)
       |SELECT doc_id, score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk BETWEEN 11 AND 20 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // search_after pagination (operators/SearchDsl.searchAfter): page 2
    // of the q85 BM25 ranking, fetched the way a search client pages —
    // page 1's last (score, doc_id) is the cursor, and the next page is
    // everything strictly after it in ranking order. The cursor rows
    // collected driver-side are one page (the client's previous
    // response), the bounded-metadata class. Scale shape: the keyset
    // predicate filters scan-side and limit(k) is
    // TakeOrderedAndProject — per-partition top-k + a k-row driver
    // merge; no OFFSET materialization, page cost flat in depth.
    val scored = graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), bm25Terms)
      .select(col("doc_id"), Par.r2(col("score")).as("score"))
    val page1 = scored.orderBy(col("score").desc, col("doc_id")).limit(10).collect()
    page1.lastOption match {
      // A short page 1 means the ranking is exhausted: page 2 is empty,
      // exactly the oracle's `rnk BETWEEN 11 AND 20` on a small corpus
      // (a search client stops paging when a page comes back short —
      // aborting here would fail where the oracle returns zero rows).
      case Some(cursor) if page1.length == 10 =>
        graft.operators.SearchDsl.searchAfter(scored, col("score"),
            cursor.getDouble(1), cursor.getLong(0), k = 10)
          .withColumn("rank",
            (row_number().over(Window.orderBy(col("score").desc, col("doc_id"))) + 10)
              .cast("bigint"))
          .orderBy("rank")
      case _ =>
        scored.filter(lit(false))
          .withColumn("rank", lit(0L))
          .select("doc_id", "score", "rank")
    }
  }

  // ------------------------------------------ q111: percolate

  val q111_percolate: QueryDef = q(
    "q111_percolate",
    s"""WITH $docTokSql,
       |qreg AS (SELECT * FROM (VALUES (0, ['spark', 'fast']), (1, ['data', 'query']),
       |      (2, ['dup']), (3, ['slow', 'window', 'merge']), (4, ['spark', 'zzz']))
       |    AS t(query_id, terms)),
       |qt AS (SELECT query_id, len(list_distinct(terms)) AS n_q,
       |      unnest(list_distinct(terms)) AS term FROM qreg),
       |dt AS (SELECT DISTINCT doc_id, term
       |    FROM (SELECT doc_id, unnest(toks) AS term FROM tok))
       |SELECT doc_id, CAST(query_id AS BIGINT) AS query_id
       |FROM dt JOIN qt USING (term)
       |GROUP BY doc_id, query_id, n_q HAVING count(*) = n_q
       |ORDER BY doc_id, query_id""".stripMargin
  ) { (s, dir) =>
    // percolate (operators/SearchDsl.percolate): reverse search — five
    // registered conjunctive term queries (saved searches) evaluated
    // against every document; each doc reports the query_ids it
    // satisfies. Query 2 probes the rare term, query 4 contains a term
    // no document has (never matches — the conjunctive count can't
    // reach n_q), and its duplicate-free n_q also pins the
    // distinct-collapse contract. This is the OpenSearch alerting
    // pattern; percolation is stateless per doc, so the same call
    // serves each delivered micro-batch (SearchDslSpec pins the
    // epoch-union = batch equality). Scale shape: the registry
    // broadcasts; the only exchange groups surviving (doc, query)
    // candidates — bounded by matches, never corpus × queries.
    import s.implicits._
    val reg = Seq(
      (0L, Seq("spark", "fast")), (1L, Seq("data", "query")), (2L, Seq("dup")),
      (3L, Seq("slow", "window", "merge")), (4L, Seq("spark", "zzz"))
    ).toDF("query_id", "terms")
    graft.operators.SearchDsl.percolate(tokenized(s, dir), reg)
      .orderBy("doc_id", "query_id")
  }

  // ------------------------------------------ q112: wildcard query

  val q112_wildcard: QueryDef = q(
    "q112_wildcard",
    s"""WITH $docTokSql,
       |vocab AS (SELECT term, count(DISTINCT doc_id) AS df
       |    FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY 1)
       |SELECT term, df FROM vocab WHERE term LIKE 's_a%' ORDER BY term""".stripMargin
  ) { (s, dir) =>
    // wildcard term query (operators/SearchDsl.wildcardExpand):
    // vocabulary terms matching the Lucene pattern "s?a*" (one char
    // between s and a, any tail), with document frequency — q103's
    // dictionary-resolution shape for the remaining Lucene term-level
    // query type. Scale shape: the LIKE evaluates on the
    // corpus-DISTINCT vocabulary scan-side; a non-wildcard prefix
    // keeps the dictionary walk seekable (footer min/max on a
    // term-sorted table), and even the leading-* worst case is a
    // vocabulary walk, never a corpus pass.
    // The memoized text index's df table IS this vocabulary (postings
    // are unique per (term, doc), so its count equals countDistinct
    // doc_id) — reuse it instead of paying a fresh corpus explode.
    val vocab = textIndexFor(s, dir).df
      .select(col("term"), col("df").cast("long").as("df"))
    graft.operators.SearchDsl.wildcardExpand(vocab, "s?a*")
      .orderBy("term")
  }

  // ------------------------------------------ q116: one search request

  val q116_search_request: QueryDef = q(
    "q116_search_request",
    s"""WITH $docTokSql,
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |      CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM tok),
       |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |    FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
       |    WHERE term IN ('data', 'spark') GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
       |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
       |    FROM tf JOIN df USING (term) CROSS JOIN stats GROUP BY doc_id),
       |hits AS (SELECT s.doc_id, s.score FROM sc s
       |    JOIN documents d ON s.doc_id = d.doc_id
       |    JOIN tok tk ON tk.doc_id = s.doc_id
       |    WHERE d.lang = 'en' AND NOT list_contains(tk.toks, 'slow')),
       |ranked AS (SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM hits),
       |hl AS (SELECT doc_id, array_to_string(list_transform(
       |      toks[greatest(p - 2, 1):least(p + 2, len(toks))],
       |      x -> CASE WHEN x = 'spark' THEN '<em>' || x || '</em>' ELSE x END),
       |      ' ') AS snippet
       |    FROM (SELECT doc_id, toks, list_position(toks, 'spark') AS p FROM tok)
       |    WHERE p > 0)
       |SELECT r.doc_id, r.score, CAST(rnk AS BIGINT) AS rank, hl.snippet
       |FROM ranked r LEFT JOIN hl ON r.doc_id = hl.doc_id
       |WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // One FULL search request through the single entry point
    // (operators/SearchDsl.search) — the capstone over the
    // clause-level keys: must = match "data" OR "spark" (BM25),
    // must_not = "slow", filter = lang 'en' (non-scoring), size 10,
    // highlight = "spark" (hits matching only "data" keep a null
    // snippet — LEFT join semantics, both engines). Scale shape is the
    // composition's: bm25's one corpus shuffle bounds the hit set,
    // every clause filters it scan-side or joins doc-keyed, the page
    // is TakeOrderedAndProject, and the highlighter is a narrow
    // map over the paged rows' source docs.
    val resp = graft.operators.SearchDsl.search(
      tokenized(s, dir), t(s, dir, "documents"),
      graft.operators.SearchDsl.SearchRequest(
        must = Seq("data", "spark"), mustNot = Seq("slow"),
        filter = Some(col("lang") === "en"), size = 10,
        highlight = Some("spark")),
      index = Some(textIndexFor(s, dir)))
    resp.hits.select(col("doc_id"), col("score"), col("rank"), col("snippet"))
      .orderBy("rank")
  }

  // ------------------------------------------ q118/q119: recall ladder tail

  val q118_lsh_recall: QueryDef = q(
    "q118_lsh_recall",
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
       |$lshChainSql,
       |$recallTailSql""".stripMargin
  ) { (s, dir) =>
    // Recall@5 of the hyperplane-LSH search (q69's exact
    // configuration) against exhaustive search — the rung q83/q96–q98
    // give every other ANN family, closing the ladder: LSH recall is
    // the most volatile of the five (a probe whose true neighbors
    // land across the hyperplane simply never sees them — candidates
    // come ONLY from the probe's bucket), which is exactly why it
    // must be measured per corpus before choosing nPlanes. Both top-5
    // sets are hash-proven by their own entries (q69/q33); recall is
    // an exact integer division.
    recallVsExhaustive(s, dir, lshTop5(s, dir))
  }

  val q119_int8_recall: QueryDef = q(
    "q119_int8_recall",
    s"""WITH $int8ChainSql,
       |$recallTailSql""".stripMargin
  ) { (s, dir) =>
    // Recall@5 of int8 scalar quantization (q74's exact configuration)
    // against float exhaustive search — what the 4x memory saving
    // costs in ranking fidelity. Unlike the PQ rungs there is no
    // trained codebook: the only loss is per-dimension rounding, so
    // this rung isolates PRECISION loss from codebook loss (comparing
    // q119 to q96 at equal bytes tells a user which quantizer to
    // deploy). Integer-exact scoring on the quantized side; exact
    // integer division for recall.
    recallVsExhaustive(s, dir, int8Top5(s, dir))
  }

  // ------------------------------ q120/q121: multi-table LSH + its recall

  /** One LSH table's 4-bit signature (table `t` = global planes
    * 4t … 4t+3 — Similarity.bucketExpr's indexing).
    */
  private def lshTableSql(t: Int): String =
    (0 until 4).map(p => lshBitSql(4 * t + p)).mkString(" || ")

  private val lshMultiChainSql: String =
    s"""b AS (SELECT vec_id, embedding,
       |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
       |        ${lshTableSql(0)} AS b0, ${lshTableSql(1)} AS b1,
       |        ${lshTableSql(2)} AS b2, ${lshTableSql(3)} AS b3
       |      FROM embeddings),
       |cand AS (SELECT DISTINCT probe_id, neighbor_id FROM (
       |    SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id FROM b p
       |      JOIN b e ON p.b0 = e.b0 AND e.vec_id <> p.vec_id WHERE p.vec_id < 5
       |    UNION ALL SELECT p.vec_id, e.vec_id FROM b p
       |      JOIN b e ON p.b1 = e.b1 AND e.vec_id <> p.vec_id WHERE p.vec_id < 5
       |    UNION ALL SELECT p.vec_id, e.vec_id FROM b p
       |      JOIN b e ON p.b2 = e.b2 AND e.vec_id <> p.vec_id WHERE p.vec_id < 5
       |    UNION ALL SELECT p.vec_id, e.vec_id FROM b p
       |      JOIN b e ON p.b3 = e.b3 AND e.vec_id <> p.vec_id WHERE p.vec_id < 5)),
       |pairs AS (SELECT c.probe_id, c.neighbor_id,
       |    CASE WHEN pb.nrm = 0 OR eb.nrm = 0 THEN -1.0
       |         ELSE list_sum(list_transform(range(1, len(pb.embedding) + 1),
       |           i -> CAST(pb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
       |              / (pb.nrm * eb.nrm) END AS cos
       |  FROM cand c JOIN b pb ON pb.vec_id = c.probe_id
       |  JOIN b eb ON eb.vec_id = c.neighbor_id),
       |ranked AS (SELECT probe_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM pairs)""".stripMargin

  /** q120's search, shared with q121: 4 tables of 4 planes, union
    * candidates exact-scored once, top-5 for the vec_id < 5 probes.
    */
  private def lshMultiTop5(s: SparkSession, dir: String): DataFrame = {
    val emb = vectors(s, dir)
    graft.operators.Similarity.lshSearchMulti(emb, emb.filter(col("vec_id") < 5),
      nPlanes = 4, tables = 4, k = 5, dim = embDim(s, dir))
  }

  val q120_ann_lsh_multi: QueryDef = q(
    "q120_ann_lsh_multi",
    s"""WITH $lshMultiChainSql
       |SELECT probe_id, neighbor_id, floor(cos * 100 + 0.5) / 100 AS cos_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  ) { (s, dir) =>
    // Multi-table LSH ANN (operators/Similarity.lshSearchMulti): the
    // standard OR-amplification — 4 independent 4-plane tables,
    // candidates = anyone sharing ANY table's bucket, union
    // exact-scored once. q69's single 8-plane table measures recall
    // 0.0 on this corpus (q118): true neighbors land across a
    // hyperplane and are never candidates; shorter signatures × more
    // tables recover recall (q121) for a bounded extra candidate
    // fraction. Scale shape: one corpus pass computes all four
    // signatures (narrow), posexplode stacks them into a (table,
    // bucket)-keyed join against broadcast probe signatures, distinct
    // collapses duplicate pairs BEFORE scoring, and the scoring join
    // is candidate-bounded.
    lshMultiTop5(s, dir)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("cos")).as("cos_sim"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  val q121_lsh_multi_recall: QueryDef = q(
    "q121_lsh_multi_recall",
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
       |$lshMultiChainSql,
       |$recallTailSql""".stripMargin
  ) { (s, dir) =>
    // Recall@5 of the 4×4 multi-table search — the measured payoff of
    // q120's amplification next to q118's single-table 0.0, same
    // exhaustive ground truth, exact integer division.
    recallVsExhaustive(s, dir, lshMultiTop5(s, dir))
  }

  // ------------------------------------------ q124: query_string search

  val q124_query_string: QueryDef = q(
    "q124_query_string",
    s"""WITH $docTokSql,
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |      CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM tok),
       |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |    FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
       |    WHERE term IN ('data', 'spark') GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
       |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
       |    FROM tf JOIN df USING (term) CROSS JOIN stats GROUP BY doc_id),
       |ph AS (SELECT DISTINCT doc_id
       |    FROM (SELECT doc_id FROM tok, unnest(range(1, len(toks))) AS u(g)
       |          WHERE toks[g] = 'data' AND toks[g+1] = 'spark')),
       |hits AS (SELECT s.doc_id, s.score FROM sc s
       |    JOIN ph USING (doc_id)
       |    JOIN tok tk ON tk.doc_id = s.doc_id
       |    WHERE NOT list_contains(tk.toks, 'slow')),
       |ranked AS (SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM hits)
       |SELECT doc_id, score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // query_string end-to-end (operators/SearchDsl.parseQueryString →
    // search): the text-box query 'data spark -slow "data spark"'
    // parsed into its clauses — must = match data OR spark, a phrase
    // constraint, must_not slow — and executed through the one-call
    // entry point. The parse is pure driver-side string work; the
    // executed plan is exactly q116's composition shape plus the
    // phrase clause's postings-bounded join.
    val req = graft.operators.SearchDsl
      .parseQueryString("data spark -slow \"data spark\"")
    graft.operators.SearchDsl
      .search(tokenized(s, dir), t(s, dir, "documents"), req,
        index = Some(textIndexFor(s, dir)))
      .hits.select(col("doc_id"), col("score"), col("rank"))
      .orderBy("rank")
  }

  // ------------------------------------------ q125: dis_max scoring

  val q125_dis_max: QueryDef = q(
    "q125_dis_max",
    s"""WITH $docTokSql,
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |      CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM tok),
       |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |    FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
       |    WHERE term IN ('data', 'spark') GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |scored AS (SELECT doc_id, ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
       |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
       |    FROM tf JOIN df USING (term) CROSS JOIN stats),
       |dm AS (SELECT doc_id, max(s) + 0.3 * (sum(s) - max(s)) AS score
       |    FROM scored GROUP BY doc_id),
       |ranked AS (SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM dm)
       |SELECT doc_id, score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // dis_max (operators/SearchDsl.disMax): two single-term match
    // clauses combined by best-clause-plus-tiebreaker — Lucene's
    // disjunction-max, the scoring OpenSearch uses when a query should
    // rank by its STRONGEST field/clause instead of the bool query's
    // sum. df note: each clause computes df over its own term's
    // postings, which equals the shared two-term chain's df, so the
    // oracle's per-(doc, term) rows ARE the two clauses' scores. One
    // union + one per-doc agg — no outer join however many clauses.
    val clause = (term: String) =>
      graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), Seq(term))
        .select(col("doc_id"), col("score"))
    val dm = graft.operators.SearchDsl
      .disMax(Seq(clause("data"), clause("spark")), tieBreaker = 0.3)
      .select(col("doc_id"), Par.r2(col("score")).as("score"))
    rankedTopByScore(dm, 10, Seq("doc_id"))
      .select(col("doc_id"), col("score"), col("rnk").cast("bigint").as("rank"))
      .orderBy("rank")
  }

  // ------------------------------------------ q127: histogram facet

  val q127_histogram: QueryDef = q(
    "q127_histogram",
    s"""WITH $docTokSql,
       |hits AS (SELECT doc_id FROM tok WHERE list_contains(toks, 'spark')),
       |b AS (SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket
       |    FROM hits JOIN documents USING (doc_id))
       |SELECT bucket, count(*) AS n_docs FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  ) { (s, dir) =>
    // histogram aggregation (the numeric sibling of q109's terms
    // facet): the hits of a term query bucketed by fixed-width
    // n_chars intervals — the OpenSearch histogram agg a search page
    // renders as a bar chart. Same scale shape as every facet: cost
    // rides the hit set, the bucket groupBy partially aggregates
    // before a |buckets|-group exchange.
    val hits = tokenized(s, dir)
      .filter(array_contains(col("toks"), "spark"))
      .select(col("doc_id"))
    val withBucket = t(s, dir, "documents")
      .withColumn("bucket", (floor(col("n_chars") / 100) * 100).cast("long"))
    graft.operators.SearchDsl.termsFacet(hits, withBucket, "bucket",
        Seq(count(lit(1)).as("n_docs")))
      .orderBy("bucket")
  }

  // --------------------------- q131/q132: stratified + weighted sampling

  val q131_stratified_sample: QueryDef = q(
    "q131_stratified_sample",
    s"""WITH r AS (SELECT doc_id, source,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY ${h64sql("text")}, doc_id) AS rn
       |    FROM documents)
       |SELECT doc_id, source, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 3 ORDER BY source, rank""".stripMargin
  ) { (s, dir) =>
    // Stratified fixed-n sampling: exactly 3 docs per source, chosen
    // by smallest content hash — the per-group CAP beside q67's
    // per-row rate and q70's proportional mixture (an eval set or a
    // per-source inspection sample wants exactly-n, not a rate).
    // Deterministic (content-hash order, doc_id tie-break), so
    // replayable in any engine. Scale shape: a PARTITIONED window —
    // Spark's WindowGroupLimit pushes rn <= 3 below the exchange, so
    // only each group's top rows shuffle, never the corpus (q19/q33's
    // pinned pattern); no global order anywhere.
    val w = Window.partitionBy("source").orderBy(h64(col("text")), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("source"), col("rank"))
      .orderBy("source", "rank")
  }

  val q132_weighted_sample: QueryDef = q(
    "q132_weighted_sample",
    s"""WITH w AS (SELECT doc_id, source,
       |      ln(CAST(${h64sql("text")} % 999983 + 1 AS DOUBLE) / 999984.0)
       |        / CAST(n_chars AS DOUBLE) AS k
       |    FROM documents),
       |ranked AS (SELECT doc_id, source, k,
       |      row_number() OVER (ORDER BY k DESC, doc_id) AS rn FROM w)
       |SELECT doc_id, source, CAST(rn AS BIGINT) AS rank
       |FROM ranked WHERE rn <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // Weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES): key = ln(u)/w with u a deterministic rational in (0, 1)
    // from the content hash and w = n_chars; the top-k keys ARE a
    // weighted sample — longer docs proportionally likelier, yet every
    // pick replayable (the data-mixing sampler beside q70's
    // per-source weights: THIS one weights per document). Float note:
    // u is an exact rational, ln and the divide are one fixed chain,
    // so both engines rank identical doubles; doc_id breaks ties.
    // Scale shape: narrow key computation; top-10 is
    // TakeOrderedAndProject, never a global-order window over the
    // corpus (the rank window runs over 10 survivors).
    val k = log(((h64(col("text")) % 999983 + 1).cast("double")) / 999984.0) /
      col("n_chars").cast("double")
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), k.as("k"))
    scored.orderBy(col("k").desc, col("doc_id")).limit(10)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("k").desc, col("doc_id"))).cast("bigint"))
      .select(col("doc_id"), col("source"), col("rank"))
      .orderBy("rank")
  }

  // ------------------------------------------ q117: source overlap matrix

  val q117_source_overlap: QueryDef = q(
    "q117_source_overlap",
    s"""WITH $shinglesSql,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT id1, id2,
       |      CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
       |    FROM inter JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
       |    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8)
       |SELECT least(da.source, db.source) AS src_a,
       |  greatest(da.source, db.source) AS src_b,
       |  count(*) AS n_pairs,
       |  floor(avg(jaccard) * 100 + 0.5) / 100 AS avg_jaccard
       |FROM pairs JOIN documents da ON id1 = da.doc_id
       |JOIN documents db ON id2 = db.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, dir) =>
    // Cross-source duplication matrix — the dataset-report diagnostic
    // behind mixture decisions ("which sources copy each other"):
    // q32's exact near-dup pairs attributed to their docs' sources,
    // the pair canonicalized with least/greatest so the matrix is
    // one triangle regardless of which doc got the smaller id. Scale
    // shape: the pair set is the subquadratic prefix-filtered join's
    // output (tiny next to the corpus); the two source lookups are
    // doc-keyed broadcastable joins; the matrix groupBy exchanges
    // |pairs| rows into ≤ |sources|² groups.
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
    jaccardPairs(s, dir)
      .join(d.select(col("doc_id").as("id1"), col("source").as("sa")), "id1")
      .join(d.select(col("doc_id").as("id2"), col("source").as("sb")), "id2")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("jaccard"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"), Par.r2(avg(col("jaccard"))).as("avg_jaccard"))
      .orderBy("src_a", "src_b")
  }

  // ------------------------------------------ q133: PII redaction

  val q133_pii_redact: QueryDef = q(
    "q133_pii_redact",
    """WITH injected AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |    '@example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR) ||
      |    '.0.' || CAST(doc_id % 100 AS VARCHAR) ||
      |    ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
      |    '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ||
      |    ' or +44 20 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |    ' ' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') ||
      |    ' end' AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
      |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(t, '\+\d{1,3}(?:[-. ]?\d{2,4}){2,5}\b')) AS BIGINT) AS n_intl_phones,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\+\d{1,3}(?:[-. ]?\d{2,4}){2,5}\b', '<PHONE>', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
      |FROM injected ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // PII redaction (operators/Redact) — the pre-release scrub stage of
    // a production curation pipeline. The synthetic corpus carries no
    // PII, so the fixture injects it CLOSED-FORM from doc_id (the q101
    // synthetic-image discipline: both engines derive identical input
    // independently), then masks it with the portable Java-regex ∩ RE2
    // pattern set; counts are the independent raw-text contract. Scale
    // shape: pure narrow regexp expressions riding the text scan —
    // zero shuffle beyond the output order.
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com ip 10."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit(".0."), pmod(col("doc_id"), lit(100L)).cast("string"),
        lit(" call 555-"),
        lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 3, "0"),
        lit("-"),
        lpad(pmod(col("doc_id") * 7, lit(10000L)).cast("string"), 4, "0"),
        lit(" or +44 20 "),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
        lit(" "),
        lpad(pmod(col("doc_id") * 3, lit(10000L)).cast("string"), 4, "0"),
        lit(" end")).as("t"))
    val (ne, ni, np, nx) = graft.operators.Redact.piiCounts(col("t"))
    injected.select(col("doc_id"), ne.as("n_emails"), ni.as("n_ips"),
        np.as("n_phones"), nx.as("n_intl_phones"),
        graft.operators.Redact.scrub(col("t")).as("redacted"))
      .orderBy("doc_id")
  }

  // ------------------------------------------ q134: text fix / normalize

  val q134_text_fix: QueryDef = q(
    "q134_text_fix",
    """WITH injected AS (
      |  SELECT doc_id,
      |    text || '  caf' || chr(101) || chr(769) || ' ' || chr(7) ||
      |      'x' || chr(9) || chr(9) || 'y' || chr(11) || 'z  ' AS t
      |  FROM documents),
      |fixed AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(nfc_normalize(t),
      |      '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g'),
      |      '[ \t\n\r\f]+', ' ', 'g')) AS fixed
      |  FROM injected)
      |SELECT doc_id, fixed, CAST(length(fixed) AS BIGINT) AS n_chars
      |FROM fixed ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Text cleanup (operators/TextFix — the ftfy/CCNet fix-the-bytes
    // rung before tokenization): NFC composition, control strip,
    // whitespace squash, trim. The word-salad corpus is already clean,
    // so the fixture injects a decomposed accent (e + U+0301), a BEL,
    // tabs, a VT, and edge spaces closed-form per doc (the q133/q101
    // discipline; Spark injects via \u literals because its chr() is
    // mod-256 ASCII while DuckDB's is codepoint-based — the oracle uses
    // chr()). Scale shape: narrow codegen'd expressions on the scan.
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit("  caf"), lit("e"), lit("\u0301"), lit(" "), lit("\u0007"),
        lit("x"), lit("\t"), lit("\t"), lit("y"), lit("\u000B"),
        lit("z  ")).as("t"))
    injected
      .select(col("doc_id"), graft.operators.TextFix.fix(col("t")).as("fixed"))
      .select(col("doc_id"), col("fixed"),
        length(col("fixed")).cast("bigint").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Oracle replay of the Gopher rule metrics + gates
    * (operators/QualityRules.gopher) over `$src`, a CTE with columns
    * (doc_id, t): CTEs `gtk`/`gm`/`gr`/`gpass`, where `gpass` carries
    * every per-doc metric plus the conjunction `passes`. Shared by
    * q135 (injected fixture) and q140 (raw corpus datasheet).
    */
  private def gopherPassSql(src: String): String =
    s"""gtk AS (SELECT doc_id, t,
       |        list_filter(string_split_regex(lower(t), '\\W+'), x -> x <> '') AS toks,
       |        string_split(t, chr(10)) AS lines
       |      FROM $src),
       |gm AS (SELECT doc_id,
       |        CAST(len(toks) AS BIGINT) AS n_words,
       |        list_sum(list_transform(toks, x -> length(x))) AS sum_len,
       |        (length(t) - length(replace(t, '#', ''))) + (length(t) - length(replace(t, '...', ''))) / 3 + (length(t) - length(replace(t, '…', ''))) AS n_symbols,
       |        CAST(len(lines) AS BIGINT) AS n_lines,
       |        len(list_filter(lines, x -> regexp_matches(ltrim(x), '^[-•*]'))) AS n_bullet,
       |        len(list_filter(lines, x -> regexp_matches(rtrim(x), '([.]{3}|…)$$'))) AS n_ellipsis,
       |        len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
       |        len(list_intersect(list_distinct(toks), ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS stop_hits
       |      FROM gtk WHERE len(toks) > 0),
       |gr AS (SELECT doc_id, n_words, CAST(stop_hits AS BIGINT) AS stop_hits,
       |        floor(CAST(sum_len AS DOUBLE) / n_words * 100 + 0.5) / 100 AS mean_word_len,
       |        floor(CAST(n_symbols AS DOUBLE) / n_words * 100 + 0.5) / 100 AS symbol_ratio,
       |        floor(CAST(n_bullet AS DOUBLE) / n_lines * 100 + 0.5) / 100 AS bullet_frac,
       |        floor(CAST(n_ellipsis AS DOUBLE) / n_lines * 100 + 0.5) / 100 AS ellipsis_frac,
       |        floor(CAST(n_alpha AS DOUBLE) / n_words * 100 + 0.5) / 100 AS alpha_frac
       |      FROM gm),
       |gpass AS (SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       |    ellipsis_frac, alpha_frac, stop_hits,
       |    CAST(CASE WHEN n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
       |        AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
       |        AND alpha_frac >= 0.8 AND stop_hits >= 2 THEN 1 ELSE 0 END AS INT) AS passes
       |  FROM gr)""".stripMargin

  val q135_gopher_rules: QueryDef = q(
    "q135_gopher_rules",
    s"""WITH injected AS (
       |  SELECT doc_id,
       |    text || CASE WHEN doc_id % 3 = 0
       |        THEN chr(10) || '- bullet list item...' || chr(10) || '# heading and more...'
       |      WHEN doc_id % 3 = 2 THEN chr(10) || 'plain tail… line here'
       |      ELSE '' END AS t
       |  FROM documents),
       |${gopherPassSql("injected")}
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       |  ellipsis_frac, alpha_frac, stop_hits, passes
       |FROM gpass ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Rule-based quality gates (operators/QualityRules — the Gopher
    // filter set, Rae 2021 A1.1): the standard first-pass curation
    // stage before model-based scoring (q79) or dedup. The word-salad
    // corpus has no lines/symbols, so the fixture injects a
    // deterministic structured suffix per doc_id residue (the q134
    // injection discipline; the residue-2 tail carries a Unicode '…' so
    // the ellipsis symbol term is exercised — both engines count
    // length() in codepoints, so the fold stays portable) — every
    // rule's numerator varies and the oracle checks the full surface,
    // not just the word gates. Scale shape: narrow projections on the
    // scan, zero shuffle at any corpus size.
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\n- bullet list item...\n# heading and more..."))
          .when(col("doc_id") % 3 === 2, lit("\nplain tail… line here"))
          .otherwise(lit(""))).as("text"))
    graft.operators.QualityRules.gopher(injected).orderBy("doc_id")
  }

  val q136_ccnet_buckets: QueryDef = q(
    "q136_ccnet_buckets",
    s"""WITH $lmScoredSql,
      |sc AS (SELECT d.doc_id, d.source, floor(nll * 100 + 0.5) / 100 AS nll
      |       FROM scored JOIN documents d ON d.doc_id = scored.doc_id),
      |counts AS (SELECT source, nll, count(*) AS c FROM sc GROUP BY 1, 2),
      |cum AS (SELECT source, nll,
      |          sum(c) OVER (PARTITION BY source ORDER BY nll) AS cum,
      |          sum(c) OVER (PARTITION BY source) AS n
      |        FROM counts),
      |cuts AS (SELECT source,
      |          min(CASE WHEN cum >= ceil(n / 3.0) THEN nll END) AS c1,
      |          min(CASE WHEN cum >= ceil(n * 2 / 3.0) THEN nll END) AS c2
      |         FROM cum GROUP BY source)
      |SELECT sc.doc_id, sc.source, sc.nll,
      |  CASE WHEN sc.nll <= c1 THEN 'head' WHEN sc.nll <= c2 THEN 'middle'
      |    ELSE 'tail' END AS bucket,
      |  CAST(CASE WHEN sc.nll <= c2 THEN 1 ELSE 0 END AS INT) AS keep
      |FROM sc JOIN cuts ON cuts.source = sc.source
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // CCNet-style perplexity bucketing (operators/NgramLm.sourceBuckets,
    // Wenzek 2020): per-source head/middle/tail terciles of the q79 LM
    // score, keep = head+middle — the model-based rung above q135's
    // rule gates. Shares q79's memoized count-table model (trained
    // once per corpus). Tercile cutoffs are VALUES at the ceil(n/3)
    // cumulative ranks over the r2-rounded scores, so ties share a
    // bucket and the boundary is engine-portable; the only window runs
    // over per-source DISTINCT rounded scores (2-dp domain), never a
    // doc-level sort, and the cutoff table broadcasts back — the
    // two-phase percentile discipline at any corpus size.
    val scored = lmScored(s, dir)
      .select(col("doc_id"), Par.r2(col("nll")).as("nll"))
      .join(t(s, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
      .select("doc_id", "source", "nll")
    graft.operators.NgramLm.sourceBuckets(scored)
      .select(col("doc_id"), col("source"), col("nll"), col("bucket"),
        col("keep"))
      .orderBy("doc_id")
  }

  val q137_pack_sequences: QueryDef = q(
    "q137_pack_sequences",
    """WITH tk AS (SELECT doc_id,
      |        CAST(len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS BIGINT) AS n_tokens
      |      FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |        CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
      |      FROM tk WHERE n_tokens > 0)
      |SELECT doc_id, n_tokens, cum - n_tokens AS start_tok,
      |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_first,
      |  CAST(floor((cum - 1) / 512.0) AS BIGINT) AS seq_last,
      |  CAST(floor((cum - 1) / 512.0) - floor((cum - n_tokens) / 512.0) + 1 AS BIGINT) AS n_seqs
      |FROM c ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Training-sequence packing (operators/Pack — the GPT-style
    // "concatenate the corpus, slice fixed-length context windows"
    // recipe): maps every doc to the 512-token training sequences its
    // span intersects — the loader's shard map and the
    // boundary-crossing attrition account. Complements q68 (budget
    // TRUNCATION of the same stream) and q90 (chunking WITHIN a doc).
    // Scale shape: the only corpus-wide dependency is the running
    // token total via PrefixSum's two-phase distributed form — never a
    // single-partition ORDER BY window; the rest is narrow projection.
    val counts = tokenized(s, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    graft.operators.Pack.sequenceSpans(counts, 512L).orderBy("doc_id")
  }

  val q138_paragraph_dedup: QueryDef = q(
    "q138_paragraph_dedup",
    """WITH injected AS (
      |  SELECT doc_id,
      |    text || chr(10) || 'common boilerplate paragraph ' || CAST(doc_id % 5 AS VARCHAR)
      |      || chr(10) || CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today'
      |        ELSE 'unique tail ' || CAST(doc_id AS VARCHAR) END AS t
      |  FROM documents),
      |sp AS (SELECT doc_id, string_split(t, chr(10)) AS ps FROM injected),
      |p AS (SELECT doc_id, CAST(g - 1 AS BIGINT) AS para_idx, trim(ps[g]) AS para
      |      FROM sp, unnest(range(1, len(ps) + 1)) AS u(g)
      |      WHERE trim(ps[g]) <> ''),
      |v AS (SELECT doc_id, para_idx,
      |        count(*) OVER (PARTITION BY md5(para)) AS occ,
      |        row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rn
      |      FROM p)
      |SELECT doc_id, para_idx, CAST(occ AS BIGINT) AS occ,
      |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
      |FROM v ORDER BY doc_id, para_idx""".stripMargin
  ) { (s, dir) =>
    // Paragraph-level exact dedup (operators/ParagraphDedup — the
    // CCNet/Dolma boilerplate-removal rung between q31's whole-doc
    // dedup and q87's span dedup): every newline paragraph is keyed by
    // its full md5 and all occurrences after the corpus-wide first are
    // marked drop. The word-salad corpus has no newlines, so the
    // fixture injects per-doc paragraphs (the q134/q135 discipline)
    // whose residues create genuinely HOT keys — 5 boilerplates each
    // covering ~20% of the corpus and a third one on every doc_id%3==0
    // — exercising the map-side-partial + AQE-skew join-back shape the
    // operator relies on. The oracle replays the verdicts via md5
    // windows (single-node DuckDB; the engine never sorts within a
    // paragraph key corpus-wide).
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit("\ncommon boilerplate paragraph "),
        (col("doc_id") % 5).cast("string"), lit("\n"),
        when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter today"))
          .otherwise(concat(lit("unique tail "), col("doc_id").cast("string"))))
        .as("text"))
    graft.operators.ParagraphDedup.dedup(injected)
      .orderBy("doc_id", "para_idx")
  }

  val q139_hard_negatives: QueryDef = q(
    "q139_hard_negatives",
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT CAST(rn - 1 AS INT) AS cell, embedding AS cv FROM
       |       (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding FROM v) WHERE rn <= 8),
       |${ivfAssignSql("a1", "c0")}, ${ivfCentroidSql("c1", "a1", "c0")},
       |${ivfAssignSql("a2", "c1")}, ${ivfCentroidSql("c2", "a2", "c1")},
       |${ivfAssignSql("a3", "c2")}, ${ivfCentroidSql("c3", "a3", "c2")},
       |vi AS (SELECT vec_id, embedding FROM v UNION ALL
       |       SELECT vec_id + 100000, embedding FROM v WHERE vec_id < 5),
       |${ivfAssignSql("idx", "c3", "vi")},
       |pc AS (SELECT probe_id, cell FROM (
       |    SELECT v.vec_id AS probe_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfSqDistSql("v.embedding", "c.cv")}, c.cell) AS rn
       |    FROM v CROSS JOIN c3 c WHERE v.vec_id < 5) WHERE rn <= 2),
       |pe AS (SELECT vec_id AS probe_id, embedding AS pemb, ${ivfNormSql("embedding")} AS na FROM v WHERE vec_id < 5),
       |scored AS (SELECT pc.probe_id, i2.vec_id AS neighbor_id,
       |    CASE WHEN pe.na = 0 OR ${ivfNormSql("i2.embedding")} = 0 THEN -1.0
       |         ELSE $ivfDotSql / (pe.na * ${ivfNormSql("i2.embedding")}) END AS cos
       |  FROM pc JOIN pe ON pe.probe_id = pc.probe_id JOIN idx i2 ON i2.cell = pc.cell
       |  WHERE i2.vec_id <> pc.probe_id),
       |retrieved AS (SELECT probe_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk FROM scored),
       |negs AS (SELECT probe_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS neg_rank
       |  FROM retrieved WHERE rnk <= 15 AND cos < 0.95)
       |SELECT probe_id, neighbor_id, floor(cos * 100 + 0.5) / 100 AS cos_sim,
       |  CAST(neg_rank AS BIGINT) AS neg_rank
       |FROM negs WHERE neg_rank <= 5 ORDER BY probe_id, neg_rank""".stripMargin
  ) { (s, dir) =>
    // Contrastive hard-negative mining (operators/HardNegatives —
    // Karpukhin 2020 §4.2, the DPR/E5 training-pair prep): per probe,
    // the top of a 15-deep cell-pruned retrieval MINUS the
    // near-duplicate band (raw cos >= 0.95 — the probe's own copies,
    // false negatives for a contrastive loss), re-ranked, top 5. The
    // synthetic embeddings are near-orthogonal (max cos ~0.39), so the
    // fixture PLANTS an exact copy of each probe at vec_id+100000 (the
    // q133/q135 injection discipline): the copy wins retrieval rank 1
    // with cos ~1.0 on both engines and the exclusion band must remove
    // it. The model is q73/q89's shared memoized IVF — a mining pass
    // must not move centroids (the shared-index discipline); the
    // planted corpus is only INDEXED (assigned to cells), never
    // retrained on.
    val emb = vectors(s, dir)
    val model = ivfModel(s, dir)
    val planted = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val indexed = graft.operators.Ivf.index(emb.unionByName(planted), model)
    val probes = emb.filter(col("vec_id") < 5)
    graft.operators.HardNegatives
      .mine(s, indexed, model, probes, kRetrieve = 15, dupCos = 0.95,
        n = 5, nprobe = 2)
      .select(col("probe_id"), col("neighbor_id"),
        Par.r2(col("cos")).as("cos_sim"),
        col("neg_rank").cast("bigint").as("neg_rank"))
      .orderBy("probe_id", "neg_rank")
  }

  val q140_data_card: QueryDef = q(
    "q140_data_card",
    s"""WITH $lmScoredSql,
       |rawdocs AS (SELECT doc_id, text AS t FROM documents),
       |${gopherPassSql("rawdocs")},
       |toksz AS (SELECT d.doc_id, d.source,
       |      CAST(len(list_filter(string_split_regex(lower(d.text), '\\W+'), x -> x <> '')) AS BIGINT) AS n_toks
       |    FROM documents d),
       |srcagg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |      CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM toksz GROUP BY source),
       |occ AS (SELECT doc_id, source, count(*) OVER (PARTITION BY md5(text)) AS o FROM documents),
       |dups AS (SELECT source, CAST(sum(CASE WHEN o >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
       |    FROM occ GROUP BY source),
       |gsrc AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_gated,
       |      CAST(sum(g.passes) AS BIGINT) AS n_pass
       |    FROM gpass g JOIN documents d USING (doc_id) GROUP BY d.source),
       |lsrc AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_scored,
       |      CAST(sum(CAST(floor(nll * 100 + 0.5) AS BIGINT)) AS BIGINT) AS nll_cents
       |    FROM scored JOIN documents d USING (doc_id) GROUP BY d.source)
       |SELECT s.source, s.n_docs, s.n_tokens,
       |  floor(CAST(s.n_tokens AS DOUBLE) / s.n_docs * 100 + 0.5) / 100 AS mean_doc_tokens,
       |  floor(CAST(coalesce(d.dup_docs, 0) AS DOUBLE) / s.n_docs * 100 + 0.5) / 100 AS dup_rate,
       |  floor(CAST(g.n_pass AS DOUBLE) / g.n_gated * 100 + 0.5) / 100 AS quality_pass_rate,
       |  floor(l.nll_cents / 100.0 / l.n_scored * 100 + 0.5) / 100 AS mean_nll
       |FROM srcagg s LEFT JOIN dups d USING (source)
       |JOIN gsrc g USING (source) JOIN lsrc l USING (source)
       |ORDER BY source""".stripMargin
  ) { (s, dir) =>
    // Per-source corpus datasheet (the Dolma/"Datasheets for Datasets"
    // data card): one row per source with volume (docs, tokens, mean
    // doc length), exact-duplication rate (corpus-wide md5 occurrence,
    // q31's machinery — a doc duplicated ACROSS sources counts in
    // each), Gopher pass rate (q135's gates on the RAW text, rate over
    // docs with >= 1 analyzer token), and mean LM score (q79's shared
    // memoized model). Portability: every mean divides exact BIGINTs —
    // token counts natively, nll via the long-cents policy (per-doc
    // r2 score -> integer cents, order-independent BIGINT sum, one
    // identical IEEE division at the end) — so no mean depends on
    // double summation order. Scale shape: four mergeable aggregates
    // over doc-keyed frames; the final source-keyed join is
    // sources-sized (tiny, broadcast).
    val docs = t(s, dir, "documents")
    val src = docs.select("doc_id", "source")
    // Sizes fold from the memoized token artifact instead of a fourth
    // tokenizer pass over the raw corpus; the doc-keyed join
    // back to source carries two ints per doc.
    val sizes = tokenized(s, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(src, "doc_id")
    val srcagg = sizes.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    val occ = docs.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val dups = occ
      .join(occ.groupBy("h").agg(count(lit(1)).as("o")), "h")
      .groupBy("source")
      .agg(sum(when(col("o") >= 2, 1L).otherwise(0L)).as("dup_docs"))
    val gsrc = graft.operators.QualityRules
      .gopher(docs.select("doc_id", "text"))
      .select(col("doc_id"), col("passes"))
      .join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_gated"), sum("passes").cast("long").as("n_pass"))
    val lsrc = lmScored(s, dir)
      .select(col("doc_id"),
        floor(col("nll") * 100 + lit(0.5)).cast("long").as("cents"))
      .join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_scored"), sum("cents").as("nll_cents"))
    srcagg
      .join(broadcast(dups), Seq("source"), "left")
      .na.fill(0L, Seq("dup_docs"))
      .join(broadcast(gsrc), "source").join(broadcast(lsrc), "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        Par.r2(col("n_tokens").cast("double") / col("n_docs")).as("mean_doc_tokens"),
        Par.r2(col("dup_docs").cast("double") / col("n_docs")).as("dup_rate"),
        Par.r2(col("n_pass").cast("double") / col("n_gated")).as("quality_pass_rate"),
        Par.r2(col("nll_cents") / lit(100.0) / col("n_scored")).as("mean_nll"))
      .orderBy("source")
  }

  val q141_shard_plan: QueryDef = q(
    "q141_shard_plan",
    s"""WITH tk AS (SELECT doc_id,
       |      CAST(len(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS BIGINT) AS n_toks
       |    FROM documents),
       |planned AS (SELECT doc_id, n_toks,
       |      ${h64sql("concat('shard|', CAST(doc_id AS VARCHAR))")} % 16 AS shard,
       |      ${h64sql("concat('order|', CAST(doc_id AS VARCHAR))")} AS sort_key
       |    FROM tk),
       |totals AS (SELECT shard, CAST(count(*) AS BIGINT) AS shard_docs,
       |      CAST(sum(n_toks) AS BIGINT) AS shard_tokens
       |    FROM planned GROUP BY shard)
       |SELECT p.doc_id, p.shard, p.sort_key, p.n_toks, t.shard_docs, t.shard_tokens
       |FROM planned p JOIN totals t USING (shard)
       |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Training shard plan (operators/Pack.shardPlan): the deterministic
    // global shuffle a training run applies after packing — every doc
    // gets a hash shard and a hash sort key (seeded, reproducible,
    // uncorrelated with doc_id order), plus its shard's doc/token
    // totals as the load-balance account. Scale shape: the shard/key
    // columns are narrow projections (the portable h64, q67's sampling
    // discipline); a writer repartitions on `shard` and
    // sortWithinPartitions on `sort_key` — never a rank window within
    // a shard (a 16-shard corpus would put 1/16th of 100 TB in one
    // task). The totals agg is mergeable and shards-sized; it
    // broadcasts back.
    val sizes = tokenized(s, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
    graft.operators.Pack.shardPlan(sizes, nShards = 16)
      .orderBy("doc_id")
  }

  val q142_card_redact: QueryDef = q(
    "q142_card_redact",
    s"""WITH injected AS (
       |  SELECT doc_id,
       |    text || ' pay 4111 1111 1111 1111 or ' ||
       |    CASE doc_id % 4
       |      WHEN 0 THEN '5500 0000 0000 0004'
       |      WHEN 1 THEN '4012-8888-8888-1881'
       |      WHEN 2 THEN '1234 5678 9012 3456'
       |      ELSE '378282246310005' END ||
       |    ' ref ' || lpad(CAST((doc_id * 2654435761) % 10000000000000000 AS VARCHAR), 16, '0') ||
       |    ' id 12345678901234567890 tail' AS t
       |  FROM documents),
       |cand AS (SELECT doc_id, t,
       |    regexp_extract_all(t, '\\b\\d(?:[ -]?\\d){12,18}\\b') AS cands
       |  FROM injected),
       |valid AS (SELECT doc_id, t, cands,
       |    list_filter(cands, c -> (list_sum(list_transform(
       |        range(1, length(regexp_replace(c, '[^0-9]', '', 'g')) + 1),
       |        i -> CASE WHEN i % 2 = 0
       |          THEN CASE WHEN 2 * (ascii(substr(reverse(regexp_replace(c, '[^0-9]', '', 'g')), i, 1)) - 48) > 9
       |               THEN 2 * (ascii(substr(reverse(regexp_replace(c, '[^0-9]', '', 'g')), i, 1)) - 48) - 9
       |               ELSE 2 * (ascii(substr(reverse(regexp_replace(c, '[^0-9]', '', 'g')), i, 1)) - 48) END
       |          ELSE ascii(substr(reverse(regexp_replace(c, '[^0-9]', '', 'g')), i, 1)) - 48 END)) % 10 = 0))
       |      AS valids
       |  FROM cand)
       |SELECT doc_id,
       |  CAST(len(cands) AS BIGINT) AS n_candidates,
       |  CAST(len(valids) AS BIGINT) AS n_valid,
       |  list_reduce(list_prepend(t, list_distinct(valids)),
       |    (acc, x) -> replace(acc, x, '<CARD>')) AS redacted
       |FROM valid ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Payment-card redaction with Luhn validation (operators/Redact,
    // the card extension of q133's scrub): candidates are word-bounded
    // 13–19 digit runs with optional single space/dash separators; only
    // candidates whose digits pass the Luhn mod-10 checksum mask (the
    // standard false-positive gate — a random digit run passes at
    // p = 1/10, a real PAN always). Validation is Spark's codegen'd
    // `luhn_check` builtin — functions-not-UDFs; the oracle replays the
    // checksum with list expressions. The fixture injects (q133/q101
    // discipline): one spaced valid VISA per doc, a residue-selected
    // second card (3 valid formats + 1 known-invalid), a doc-varying
    // 16-digit run whose Luhn verdict varies pseudo-randomly per doc,
    // and a 20-digit run that must produce NO candidate (the trailing
    // \b cannot land inside a digit run). Scale shape: narrow regexp +
    // higher-order array expressions riding the scan, zero shuffle.
    // NOTE list_distinct in the oracle fold vs array_distinct here:
    // both orders are first-occurrence over the SAME candidate order,
    // and the fold result is order-independent here because masking is
    // value-based on non-overlapping candidates.
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" pay 4111 1111 1111 1111 or "),
        when(pmod(col("doc_id"), lit(4L)) === 0, lit("5500 0000 0000 0004"))
          .when(pmod(col("doc_id"), lit(4L)) === 1, lit("4012-8888-8888-1881"))
          .when(pmod(col("doc_id"), lit(4L)) === 2, lit("1234 5678 9012 3456"))
          .otherwise(lit("378282246310005")),
        lit(" ref "),
        lpad(pmod(col("doc_id") * 2654435761L, lit(10000000000000000L))
          .cast("string"), 16, "0"),
        lit(" id 12345678901234567890 tail")).as("t"))
    injected.select(col("doc_id"),
        size(graft.operators.Redact.cardCandidates(col("t")))
          .cast("bigint").as("n_candidates"),
        size(graft.operators.Redact.luhnValidCards(col("t")))
          .cast("bigint").as("n_valid"),
        graft.operators.Redact.scrubCards(col("t")).as("redacted"))
      .orderBy("doc_id")
  }

  val q143_line_dedup: QueryDef = q(
    "q143_line_dedup",
    """WITH injected AS (
      |  SELECT doc_id,
      |    'nav menu home' || chr(10) || text || chr(10) || chr(10) ||
      |    'promo item ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
      |    '  ' || chr(10) ||
      |    'nav menu home' || chr(10) || chr(10) ||
      |    CASE WHEN doc_id % 2 = 0
      |      THEN 'promo item ' || CAST(doc_id % 5 AS VARCHAR)
      |      ELSE 'unique tail ' || CAST(doc_id AS VARCHAR) END ||
      |    chr(10) || '  ' || chr(10) || 'nav menu home' AS t
      |  FROM documents),
      |lns AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls FROM injected),
      |ln AS (SELECT doc_id, ls[i] AS line, i AS ord
      |       FROM lns, unnest(range(1, len(ls) + 1)) AS u(i)),
      |firsts AS (
      |  SELECT doc_id, line, ord FROM ln WHERE trim(line) = ''
      |  UNION ALL
      |  SELECT doc_id, line, min(ord) AS ord
      |  FROM ln WHERE trim(line) <> '' GROUP BY doc_id, line),
      |clean AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS cleaned
      |          FROM firsts GROUP BY doc_id),
      |counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
      |           FROM ln GROUP BY doc_id),
      |kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_lines
      |         FROM firsts GROUP BY doc_id)
      |SELECT i.doc_id, c.n_lines, k.n_kept_lines,
      |  floor((length(i.t) - length(cl.cleaned)) / length(i.t) * 100 + 0.5) / 100
      |    AS dup_char_frac,
      |  cl.cleaned
      |FROM injected i JOIN counts c USING (doc_id) JOIN clean cl USING (doc_id)
      |  JOIN kept k USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Within-document repeated-line removal (operators/LineDedup — the
    // Dolma/C4 boilerplate rung BELOW q138's corpus-wide paragraph
    // pass): exact repeats of an earlier line inside ONE document drop,
    // keeping the first occurrence — nav menus and footers repeated per
    // page section. Needs NO key exchange at all (the dedup scope is
    // the document), so the whole transform is narrow array expressions
    // on the scan — the cheapest rung of the dedup ladder. Blank and
    // whitespace-only lines are EXEMPT (paragraph breaks survive, in
    // position — the Dolma/C4 rule); the fixture plants repeated blank
    // and two-space lines alongside a 3× repeated nav line and a
    // residue-conditional promo repeat (q135 discipline — the
    // word-salad corpus has no newlines), so the gate exercises both
    // the drop rule and the exemption. The oracle replays keep-first
    // POSITIONALLY (min(ordinality) over non-blank lines + ordered
    // string_agg), so any order drift would hash-fail.
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(
        lit("nav menu home\n"), col("text"), lit("\n\n"),
        lit("promo item "), pmod(col("doc_id"), lit(5L)).cast("string"),
        lit("\n  \n"), lit("nav menu home"), lit("\n\n"),
        when(pmod(col("doc_id"), lit(2L)) === 0,
          concat(lit("promo item "), pmod(col("doc_id"), lit(5L)).cast("string")))
          .otherwise(concat(lit("unique tail "), col("doc_id").cast("string"))),
        lit("\n  \n"), lit("nav menu home")).as("t"))
    val (nl, nu, frac) = graft.operators.LineDedup.lineStats(col("t"))
    injected.select(col("doc_id"),
        nl.as("n_lines"), nu.as("n_kept_lines"), frac.as("dup_char_frac"),
        graft.operators.LineDedup.dedupLines(col("t")).as("cleaned"))
      .orderBy("doc_id")
  }

  val q144_soft_dedup: QueryDef = q(
    "q144_soft_dedup",
    s"""WITH RECURSIVE $shinglesSql,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT id1, id2
       |          FROM inter JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
       |          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
       |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b),
       |cc AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id),
       |sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS n FROM cc GROUP BY component)
       |SELECT d.doc_id, coalesce(s.n, 1) AS cluster_size,
       |  floor(1.0 / coalesce(s.n, 1) * 100 + 0.5) / 100 AS weight
       |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
       |LEFT JOIN sizes s ON s.component = cc.component
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, dir) =>
    // Soft dedup — keep duplicates, DOWNWEIGHT them (the
    // sampling-weight alternative to q72's survivor selection: recent
    // data recipes keep near-dup clusters but give each member weight
    // 1/|cluster| so the cluster contributes one document's worth of
    // gradient). Clusters are the connected components of the exact
    // Jaccard >= 0.8 pair graph (q32's pairs, q72's min-label
    // propagation); docs outside any cluster weigh 1. Scale shape:
    // components is pair-graph-sized label propagation (never
    // corpus-wide), the join back is doc-keyed, and the sizes frame is
    // clusters-sized. Weight is r2-rounded from an exact IEEE division
    // of small ints — portable.
    val prs = jaccardPairs(s, dir).select("id1", "id2")
    val comp = graft.operators.Dedup.components(prs)
      .withColumnRenamed("id", "doc_id")
    val sizes = comp.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    t(s, dir, "documents").select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .join(sizes, Seq("component"), "left")
      .na.fill(1L, Seq("cluster_size"))
      .select(col("doc_id"), col("cluster_size"),
        Par.r2(lit(1.0) / col("cluster_size")).as("weight"))
      .orderBy("doc_id")
  }

  /** One BPE round as oracle CTEs: pair counts over the previous
    * dictionary state, argmax with (count desc, pair lex) tie-break,
    * leftmost-non-overlapping rewrite, and the post-merge symbol total.
    * Chained by [[q145_bpe_merges]]; the engine twin is
    * [[graft.operators.Bpe.train]]'s per-round loop.
    */
  private def bpeRoundSql(r: Int): String = {
    val prev = if (r == 1) "s0" else s"s${r - 1}"
    s"""p$r AS (SELECT l, r, sum(f) AS cnt FROM (
       |    SELECT f, sy[i] AS l, sy[i+1] AS r FROM (
       |      SELECT f, string_split(trim(seq, '⟨⟩'), '⟩⟨') AS sy FROM $prev),
       |      unnest(range(1, len(sy))) AS u(i)) GROUP BY l, r),
       |m$r AS (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
       |s$r AS (SELECT replace(seq, '⟨' || l || '⟩⟨' || r || '⟩', '⟨' || l || r || '⟩') AS seq, f
       |        FROM $prev CROSS JOIN m$r),
       |c$r AS (SELECT CAST($r AS BIGINT) AS round, l AS lhs, r AS rhs,
       |        CAST(cnt AS BIGINT) AS pair_count,
       |        (SELECT CAST(sum(f * len(string_split(trim(seq, '⟨⟩'), '⟩⟨'))) AS BIGINT)
       |         FROM s$r) AS corpus_symbols
       |   FROM m$r)""".stripMargin
  }

  val q145_bpe_merges: QueryDef = q(
    "q145_bpe_merges",
    s"""WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
       |             FROM documents),
       |wf AS (SELECT w, count(*) AS f
       |       FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w),
       |s0 AS (SELECT regexp_replace(w, '(.)', '⟨\\1⟩', 'g') AS seq, f FROM wf),
       |${(1 to 6).map(bpeRoundSql).mkString(",\n")}
       |${(1 to 6).map(r => s"SELECT round, lhs, rhs, pair_count, corpus_symbols FROM c$r")
          .mkString("\nUNION ALL ")}
       |ORDER BY round""".stripMargin
  ) { (s, dir) =>
    // BPE merge-rule training (operators/Bpe — Sennrich 2016, the
    // tokenizer-training step after curation): 6 merges learned over
    // the corpus word-frequency dictionary, each round = pair counts
    // weighted by word frequency, corpus-wide argmax (ties lex on the
    // pair), leftmost-non-overlapping rewrite. The corpus is touched
    // ONCE (the word-freq hash-agg); every round after runs on the
    // Heaps-bounded vocabulary, and the only driver materialization is
    // one row per round. The output carries each round's post-merge
    // dictionary-wide symbol total — the compression account — so the
    // gate checks the REWRITE, not just the argmax. The learned rules
    // are shared with q146's encode pass via the model memo (training
    // is deterministic — argmax with lex tie-break — so sharing changes
    // no result, the memo scaladoc's argument).
    import s.implicits._
    bpeMerges(s, dir).toDF()
      .select("round", "lhs", "rhs", "pair_count", "corpus_symbols")
      .orderBy("round")
  }

  /** Memoized 6-rule BPE model per (session, dir) — a driver-side
    * O(k) list. */
  private def bpeMerges(s: SparkSession, dir: String): Seq[graft.operators.Bpe.Merge] =
    artifact(s, dir, "bpe|k=6")(graft.operators.Bpe.trainMerges(tokenized(s, dir), k = 6))

  /** The q146 oracle's per-word encode: bracketize then the 6 learned
    * replaces in training order, rule literals joined in from the
    * cross-producted one-row-per-round merge CTEs (l1/rr1 … l6/rr6).
    */
  private val bpeEncodeSql: String =
    (1 to 6).foldLeft("regexp_replace(w, '(.)', '⟨\\1⟩', 'g')") { (acc, i) =>
      s"replace($acc, '⟨' || l$i || '⟩⟨' || rr$i || '⟩', '⟨' || l$i || rr$i || '⟩')"
    }

  val q146_bpe_encode: QueryDef = q(
    "q146_bpe_encode",
    s"""WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
       |             FROM documents),
       |wf AS (SELECT w, count(*) AS f
       |       FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w),
       |s0 AS (SELECT regexp_replace(w, '(.)', '⟨\\1⟩', 'g') AS seq, f FROM wf),
       |${(1 to 6).map(bpeRoundSql).mkString(",\n")},
       |mm AS (SELECT ${(1 to 6).map(i => s"m$i.l AS l$i, m$i.r AS rr$i").mkString(", ")}
       |       FROM ${(1 to 6).map(i => s"m$i").mkString(", ")}),
       |enc AS (SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(toks, w ->
       |      len(string_split(trim($bpeEncodeSql, '⟨⟩'), '⟩⟨')))) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS n_chars
       |  FROM tok CROSS JOIN mm WHERE len(toks) >= 1)
       |SELECT doc_id, n_words, n_tokens, n_chars,
       |  floor(CAST(n_chars AS DOUBLE) / n_tokens * 100 + 0.5) / 100 AS chars_per_token
       |FROM enc ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // BPE ENCODE — applying q145's learned merges to the corpus (the
    // tokenize step a training loader runs once rules exist; Sennrich
    // 2016's apply_bpe): per document, word count, token count after
    // the 6 merges, character count, and chars/token — the compression
    // account that tells a budgeting pass (q68/q137) what a document
    // costs in tokens BEFORE packing. The rules come from the shared
    // memoized model (one training per tier, q145's exact argmax), and
    // encoding is a narrow per-row column chain — one regexp bracketize
    // + 6 literal replaces folded into the plan — so the whole pass is
    // scan-side: NO join, NO shuffle at any corpus size (the
    // alternative — encode the distinct-word dictionary and join back —
    // pays a vocabulary shuffle for no gain at these rule counts).
    val merges = bpeMerges(s, dir)
    val enc = tokenized(s, dir).filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_words"),
        graft.operators.Bpe.encodedLenSum(col("toks"), merges)
          .as("n_tokens"),
        graft.functions.Ngrams.tokenLengthSum(col("toks")).as("n_chars"))
    enc.select(col("doc_id"), col("n_words"), col("n_tokens"), col("n_chars"),
        Par.r2(col("n_chars").cast("double") / col("n_tokens")).as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** One truncation rung of the q147 oracle: brute top-5 by cosine over
    * the first `d` dimensions (renormalized by construction — the norm
    * is computed over the slice), ranked with the (cos DESC, vec_id)
    * tie-break every ANN rung here uses.
    */
  private def mrlTopSql(d: Int): String =
    s"""tr$d AS (SELECT vec_id, embedding[1:$d] AS emb,
       |    sqrt(list_sum(list_transform(embedding[1:$d], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |p$d AS (SELECT vec_id AS probe_id, emb AS pe, nrm AS pn FROM tr$d WHERE vec_id < 5),
       |top$d AS (SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY
       |        CASE WHEN pn * e.nrm = 0 THEN -1.0
       |             ELSE list_sum(list_transform(range(1, len(pe) + 1),
       |                    i -> CAST(pe[i] AS DOUBLE) * CAST(e.emb[i] AS DOUBLE))) / (pn * e.nrm) END DESC,
       |        e.vec_id) AS rnk
       |    FROM p$d, tr$d e WHERE e.vec_id <> probe_id) WHERE rnk <= 5)""".stripMargin

  val q147_mrl_recall: QueryDef = q(
    "q147_mrl_recall",
    s"""WITH ${Seq(64, 32, 16, 8).map(mrlTopSql).mkString(",\n")},
       |${Seq(32, 16, 8).map(d =>
         s"""h$d AS (SELECT a.probe_id, count(*) AS n FROM top$d a
            |  JOIN top64 b ON b.probe_id = a.probe_id AND b.neighbor_id = a.neighbor_id
            |  GROUP BY 1)""".stripMargin).mkString(",\n")}
       |${Seq(32, 16, 8).map(d =>
         s"""SELECT CAST($d AS BIGINT) AS dims, p.probe_id,
            |  CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
            |  CAST(coalesce(n, 0) AS DOUBLE) / 5 AS recall
            |FROM (SELECT vec_id AS probe_id FROM embeddings WHERE vec_id < 5) p
            |LEFT JOIN h$d ON h$d.probe_id = p.probe_id""".stripMargin)
         .mkString("\nUNION ALL\n")}
       |ORDER BY dims DESC, probe_id""".stripMargin
  ) { (s, dir) =>
    // Matryoshka truncated-dimension recall (Kusupati et al. 2022, MRL
    // — and the standard Adaptive Retrieval recipe built on it): rank
    // by cosine over only the FIRST d' dimensions and measure recall@5
    // against the full-dimension exact top-5. This is the measurement
    // that justifies the 100 TB first-pass trick — shortlist with a
    // d/8 prefix scan (8× less I/O and FLOPs than full vectors, and
    // far cheaper than PQ decode), then re-rank the shortlist at full
    // dimension; a user picks the prefix length by reading this ladder
    // exactly as q83/q96 pick nprobe/M. Scale shape per rung: ONE
    // corpus scan with the tiny probe set broadcast (the q33 brute
    // pattern — ground truth is sample × corpus, never corpus²); the
    // recall join is probes × k rows. Tie-break and double-fold cosine
    // are the portable forms every ANN rung here uses.
    def topAt(d: Int): DataFrame = {
      val tr = t(s, dir, "embeddings").select(col("vec_id"),
          slice(col("embedding"), 1, d).as("emb"))
        .select(col("vec_id"), col("emb"), norm_f(col("emb")).as("nrm"))
      val probes = tr.filter(col("vec_id") < 5).select(
        col("vec_id").as("probe_id"), col("emb").as("pe"), col("nrm").as("pn"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      tr.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          when(col("pn") * col("nrm") === 0, lit(-1.0))
            .otherwise(dot_f(col("pe"), col("emb")) / (col("pn") * col("nrm")))
            .as("cos"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("probe_id"), col("neighbor_id"))
    }
    val full = topAt(64)
    val probeIds = t(s, dir, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"))
    Seq(32, 16, 8).map { d =>
      // Both bookkeeping joins are probes x k rows; Catalyst can't see
      // that through the window-derived lineage (join-stat estimates
      // are child products), so broadcast explicitly or they fall to
      // sort-merge.
      val hits = topAt(d).join(broadcast(full), Seq("probe_id", "neighbor_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n"))
      probeIds.join(broadcast(hits), Seq("probe_id"), "left")
        .select(lit(d.toLong).as("dims"), col("probe_id"),
          coalesce(col("n"), lit(0L)).cast("bigint").as("n_hits"),
          (coalesce(col("n"), lit(0L)).cast("double") / 5).as("recall"))
    }.reduce(_ union _)
      .orderBy(col("dims").desc, col("probe_id"))
  }

  val q148_blocklist_filter: QueryDef = q(
    "q148_blocklist_filter",
    """WITH injected AS (
      |  SELECT doc_id, source, text ||
      |    CASE doc_id % 7
      |      WHEN 0 THEN ' casino jackpot offer'
      |      WHEN 3 THEN ' cheap VIAGRA now'
      |      WHEN 5 THEN ' casinos lotteryx scunthorpe'
      |      ELSE '' END AS t
      |  FROM documents),
      |tk AS (SELECT source,
      |    list_filter(string_split_regex(lower(t), '\W+'), x -> x <> '') AS toks
      |  FROM injected),
      |f AS (SELECT source,
      |    CASE WHEN len(list_filter(toks,
      |        x -> list_contains(['casino', 'viagra', 'lottery'], x))) > 0
      |      THEN 1 ELSE 0 END AS hit
      |  FROM tk)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(hit) AS BIGINT) AS n_flagged,
      |  floor(CAST(sum(hit) AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS flag_rate
      |FROM f GROUP BY source ORDER BY source""".stripMargin
  ) { (s, dir) =>
    // C4-style blocklist ("bad words") gate (Raffel 2020 §2.2 — the
    // other half of the rule ladder next to q135's Gopher set): flag a
    // document when any ANALYZER TOKEN is on the list, aggregate the
    // flag rate per source — the per-source report a curation run reads
    // before deciding what the list costs. Token-level matching is the
    // semantic point (the fixture's 'casinos'/'lotteryx'/'scunthorpe'
    // docs must NOT flag — substring matching would take all three);
    // case-insensitivity rides the analyzer's lower(). Scale shape: the
    // list is a plan literal inside a narrow scan-side arrays_overlap
    // predicate (operators/QualityRules.blocklistHit) — no join, and
    // the only exchange is the per-source partial agg (sources-sized).
    val blocklist = Seq("casino", "viagra", "lottery")
    val injected = t(s, dir, "documents").select(col("source"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(7L)) === 0, lit(" casino jackpot offer"))
          .when(pmod(col("doc_id"), lit(7L)) === 3, lit(" cheap VIAGRA now"))
          .when(pmod(col("doc_id"), lit(7L)) === 5,
            lit(" casinos lotteryx scunthorpe"))
          .otherwise(lit(""))).as("t"))
    injected
      .select(col("source"),
        graft.operators.QualityRules.blocklistHit(tokens(col("t")), blocklist)
          .cast("int").as("hit"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("hit").as("n_flagged"))
      .select(col("source"), col("n_docs").cast("bigint").as("n_docs"),
        col("n_flagged").cast("bigint").as("n_flagged"),
        Par.r2(col("n_flagged").cast("double") / col("n_docs"))
          .as("flag_rate"))
      .orderBy("source")
  }

  val q149_url_dedup: QueryDef = q(
    "q149_url_dedup",
    """WITH injected AS (
      |  SELECT doc_id,
      |    CASE doc_id % 3
      |      WHEN 0 THEN 'https://www.' || source || '.example.com'
      |      WHEN 1 THEN 'HTTP://' || upper(source) || '.EXAMPLE.com'
      |      ELSE 'https://' || source || '.example.com' END ||
      |    '/page/' || CAST(doc_id % 40 AS VARCHAR) ||
      |    CASE doc_id % 4
      |      WHEN 0 THEN '/'
      |      WHEN 1 THEN '?utm_source=feed'
      |      WHEN 2 THEN '?utm_campaign=x&id=' || CAST(doc_id % 2 AS VARCHAR)
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
      |  FROM documents),
      |canon AS (SELECT doc_id,
      |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+).*$', 1)), '^www\.', '', 'g') ||
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1),
      |            '#.*$', '', 'g'),
      |          '[?&](utm_[A-Za-z0-9_]*|fbclid)=[^&#]*', '', 'g'),
      |        '^([^?]*)&', '\1?', 'g'),
      |      '/+(\?|$)', '\1', 'g') AS url_canon
      |  FROM injected)
      |SELECT url_canon, min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM canon GROUP BY url_canon ORDER BY url_canon""".stripMargin
  ) { (s, dir) =>
    // Canonical-URL dedup (operators/Url — the rung a crawl pipeline
    // runs BEFORE any text dedup; CCNet/C4 key their first pass on
    // exactly this): scheme case, `www.`, utm_*/fbclid tracking
    // parameters, trailing slash and fragments unify; content-selecting
    // query parameters are KEPT. The fixture injects all five variant
    // axes by doc_id residue over a (source, path) grid, so the same
    // logical page arrives under many spellings and the gate checks the
    // whole normalization, not one rewrite. Scale shape: canonicalize
    // is narrow regexp chains riding the scan; dedup is a hash-groupBy
    // whose shuffle carries short canonical strings (the q31
    // digest-not-document discipline — at 100 TB you'd key on
    // md5(canonical) the same way).
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(
        when(pmod(col("doc_id"), lit(3L)) === 0,
          concat(lit("https://www."), col("source"), lit(".example.com")))
          .when(pmod(col("doc_id"), lit(3L)) === 1,
            concat(lit("HTTP://"), upper(col("source")), lit(".EXAMPLE.com")))
          .otherwise(
            concat(lit("https://"), col("source"), lit(".example.com"))),
        lit("/page/"), pmod(col("doc_id"), lit(40L)).cast("string"),
        when(pmod(col("doc_id"), lit(4L)) === 0, lit("/"))
          .when(pmod(col("doc_id"), lit(4L)) === 1, lit("?utm_source=feed"))
          .when(pmod(col("doc_id"), lit(4L)) === 2,
            concat(lit("?utm_campaign=x&id="),
              pmod(col("doc_id"), lit(2L)).cast("string")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5L)) === 0, lit("#frag"))
          .otherwise(lit(""))).as("url"))
    injected
      .select(col("doc_id"),
        graft.operators.Url.canonicalize(col("url")).as("url_canon"))
      .groupBy("url_canon")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("url_canon")
  }

  val q150_markup_strip: QueryDef = q(
    "q150_markup_strip",
    """WITH injected AS (
      |  SELECT doc_id,
      |    '<div class="art">' ||
      |    CASE WHEN doc_id % 3 = 0 THEN '<p id="x">' ELSE '' END ||
      |    text ||
      |    CASE doc_id % 4
      |      WHEN 0 THEN ' &amp;lt; stays escaped &nbsp;and&quot;quoted&quot;'
      |      WHEN 1 THEN ' a &lt; b &amp; c &#39;d&#39;'
      |      WHEN 2 THEN ' 5 < 7 stays prose'
      |      ELSE '' END ||
      |    '</p></div>' ||
      |    CASE WHEN doc_id % 5 = 0 THEN '<br/><!-- note -->' ELSE '' END AS t
      |  FROM documents),
      |cleaned AS (SELECT doc_id, t,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(replace(replace(
      |        regexp_replace(t, '<[A-Za-z/!?][^>]*>', ' ', 'g'),
      |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
      |      '[ \t\n\r\f]+', ' ', 'g')) AS cleaned
      |  FROM injected)
      |SELECT doc_id, cleaned,
      |  floor(CAST(length(cleaned) AS DOUBLE) / length(t) * 100 + 0.5) / 100
      |    AS kept_frac
      |FROM cleaned ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Markup → text extraction (operators/TextFix.stripMarkup — the
    // WET-file step upstream of every signal here: tags become word
    // boundaries, the core entities decode ONCE with &amp; last so
    // double-escaped text single-unescapes, whitespace re-squashes).
    // The fixture (q135 injection discipline — the corpus has no
    // markup) wraps every doc in nested tags and crosses three residue
    // axes: entity runs incl. the &amp;lt; double-escape trap, a bare
    // '<' in prose that the tag pattern's [A-Za-z/!?] first-char
    // constraint must KEEP, and a trailing comment. Narrow regexp +
    // literal-replace chain riding the scan; the only exchange is the
    // output sort. kept_frac is the extraction-yield signal a crawl
    // report shows per source.
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(
        lit("<div class=\"art\">"),
        when(pmod(col("doc_id"), lit(3L)) === 0, lit("<p id=\"x\">"))
          .otherwise(lit("")),
        col("text"),
        when(pmod(col("doc_id"), lit(4L)) === 0,
          lit(" &amp;lt; stays escaped &nbsp;and&quot;quoted&quot;"))
          .when(pmod(col("doc_id"), lit(4L)) === 1,
            lit(" a &lt; b &amp; c &#39;d&#39;"))
          .when(pmod(col("doc_id"), lit(4L)) === 2,
            lit(" 5 < 7 stays prose"))
          .otherwise(lit("")),
        lit("</p></div>"),
        when(pmod(col("doc_id"), lit(5L)) === 0, lit("<br/><!-- note -->"))
          .otherwise(lit(""))).as("t"))
    injected.select(col("doc_id"),
        graft.operators.TextFix.stripMarkup(col("t")).as("cleaned"),
        Par.r2(length(graft.operators.TextFix.stripMarkup(col("t")))
          .cast("double") / length(col("t"))).as("kept_frac"))
      .orderBy("doc_id")
  }

  val q151_fertility_report: QueryDef = q(
    "q151_fertility_report",
    s"""WITH tok AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
       |             FROM documents),
       |wf AS (SELECT w, count(*) AS f
       |       FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w),
       |s0 AS (SELECT regexp_replace(w, '(.)', '⟨\\1⟩', 'g') AS seq, f FROM wf),
       |${(1 to 6).map(bpeRoundSql).mkString(",\n")},
       |mm AS (SELECT ${(1 to 6).map(i => s"m$i.l AS l$i, m$i.r AS rr$i").mkString(", ")}
       |       FROM ${(1 to 6).map(i => s"m$i").mkString(", ")}),
       |enc AS (SELECT source,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(toks, w ->
       |      len(string_split(trim($bpeEncodeSql, '⟨⟩'), '⟩⟨')))) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS n_chars
       |  FROM tok CROSS JOIN mm WHERE len(toks) >= 1)
       |SELECT source, CAST(sum(n_words) AS BIGINT) AS n_words,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  floor(CAST(sum(n_tokens) AS DOUBLE) / sum(n_words) * 100 + 0.5) / 100
       |    AS tokens_per_word,
       |  floor(CAST(sum(n_chars) AS DOUBLE) / sum(n_tokens) * 100 + 0.5) / 100
       |    AS chars_per_token
       |FROM enc GROUP BY source ORDER BY source""".stripMargin
  ) { (s, dir) =>
    // Per-source tokenizer fertility (tokens-per-word — the standard
    // tokenizer-fit report a corpus card carries next to q140's
    // metrics: a source whose fertility is high is one the vocabulary
    // underserves, the signal that drives tokenizer retraining or
    // source reweighting). Rides q146's encode exactly (same shared
    // memoized rules, same scan-side literal fold), then ONE
    // sources-sized mergeable agg; every mean divides exact BIGINT
    // sums, so nothing depends on double summation order.
    val merges = bpeMerges(s, dir)
    val enc = t(s, dir, "documents")
      .select(col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("source"),
        size(col("toks")).cast("bigint").as("n_words"),
        graft.operators.Bpe.encodedLenSum(col("toks"), merges)
          .as("n_tokens"),
        graft.functions.Ngrams.tokenLengthSum(col("toks")).as("n_chars"))
    enc.groupBy("source")
      .agg(sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"))
      .select(col("source"), col("n_words"), col("n_tokens"), col("n_chars"),
        Par.r2(col("n_tokens").cast("double") / col("n_words"))
          .as("tokens_per_word"),
        Par.r2(col("n_chars").cast("double") / col("n_tokens"))
          .as("chars_per_token"))
      .orderBy("source")
  }

  val q152_image_neardup: QueryDef = q(
    "q152_image_neardup",
    """WITH specs AS (
      |  SELECT CAST(id AS BIGINT) AS media_id, CAST(id AS BIGINT) AS src_id, FALSE AS perturbed
      |    FROM (SELECT unnest(range(0, 30)) AS id)
      |  UNION ALL
      |  SELECT CAST(100 + id AS BIGINT), CAST(id AS BIGINT), FALSE
      |    FROM (SELECT unnest(range(0, 30)) AS id) WHERE id % 3 = 0
      |  UNION ALL
      |  SELECT CAST(200 + id AS BIGINT), CAST(id AS BIGINT), TRUE
      |    FROM (SELECT unnest(range(0, 30)) AS id) WHERE id % 4 = 1),
      |dims AS (SELECT *, CAST(8 + src_id % 24 AS BIGINT) AS w,
      |         CAST(12 + (src_id * 3) % 17 AS BIGINT) AS h FROM specs),
      |px AS (SELECT media_id, src_id, perturbed, w, h, p % w AS x, p // w AS y
      |       FROM dims, unnest(range(0, w * h)) AS u(p)),
      |gr AS (SELECT media_id, (y * 8 // h) * 8 + (x * 8 // w) AS c,
      |    (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255) + 114 * (v & 255)) // 1000 AS gray
      |  FROM (SELECT *, CASE WHEN perturbed AND x = 0 AND y = 0 THEN 8421504
      |                       ELSE xor(CAST(x * 31 + y * 7 AS BIGINT), src_id * 2654435761) & 16777215
      |                  END AS v
      |        FROM px)),
      |cells AS (SELECT media_id, c, sum(gray) // count(*) AS vc FROM gr GROUP BY 1, 2),
      |mn AS (SELECT media_id, sum(vc) // 64 AS m FROM cells GROUP BY 1),
      |bits AS (SELECT media_id, c, CASE WHEN vc >= m THEN 1 ELSE 0 END AS b
      |         FROM cells JOIN mn USING (media_id)),
      |ham AS (SELECT a.media_id AS id1, b2.media_id AS id2,
      |        sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) AS hamming
      |        FROM bits a JOIN bits b2 ON a.c = b2.c AND a.media_id < b2.media_id
      |        GROUP BY 1, 2)
      |SELECT id1, id2, CAST(hamming AS BIGINT) AS hamming
      |FROM ham WHERE hamming <= 7 ORDER BY id1, id2""".stripMargin
  ) { (s, _) =>
    // Multimodal NEAR-dedup — the dedup ladder applied to the image
    // column (CCNet-class multimodal curation runs exactly this pass;
    // aHash/pHash over decoded rasters, then Hamming-banded pairing):
    // the ENGINE really decodes the bytes (javax.imageio full-raster
    // read), hashes with all-integer aHash arithmetic, and pairs via
    // the 8×8-bit band join (pigeonhole-lossless for distance ≤ 7,
    // q44's banding discipline in bit space — never all-pairs). The
    // ORACLE never decodes anything: the RGB-only lossless fixture
    // (Multimodal.syntheticRgbImages — PNG and 24-bit BMP round-trip
    // pixels exactly) makes every pixel a closed form the oracle
    // replays arithmetically, so BOTH sides derive the pair set from
    // first principles. Planted structure: 10 pixel-identical copies in
    // the OPPOSITE container (cross-format dup — Hamming 0 only if the
    // engine actually decodes), 8 single-pixel perturbations (near-dup
    // band), 30 bases whose per-source hash pattern keeps unrelated
    // images far apart. Dims are residue-bounded (≤ 31×28) so the
    // fixture is tier-independent like q101's.
    import graft.operators.Multimodal
    import graft.operators.Multimodal.RgbSpec
    val specs =
      (0 until 30).map(j => RgbSpec(j.toLong, j.toLong,
        if (j % 2 == 0) "png" else "bmp", perturbed = false)) ++
      (0 until 30).filter(_ % 3 == 0).map(j => RgbSpec(100L + j, j.toLong,
        if (j % 2 == 0) "bmp" else "png", perturbed = false)) ++
      (0 until 30).filter(_ % 4 == 1).map(j => RgbSpec(200L + j, j.toLong,
        "png", perturbed = true))
    val hashes = Multimodal.aHash(s, Multimodal.syntheticRgbImages(s, specs))
    Multimodal.hammingPairs(hashes, maxDist = 7)
      .orderBy("id1", "id2")
  }

  val q153_gopher_repetition: QueryDef = q(
    "q153_gopher_repetition",
    s"""WITH injected AS (
       |  SELECT doc_id, text ||
       |    CASE doc_id % 6
       |      WHEN 0 THEN ' alpha beta alpha beta alpha beta alpha beta'
       |      WHEN 1 THEN ' one two three four five one two three four five'
       |      WHEN 2 THEN ' w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10'
       |      ELSE '' END AS t
       |  FROM documents),
       |tk AS (SELECT doc_id, list_filter(string_split_regex(lower(t), '\\W+'), x -> x <> '') AS toks
       |       FROM injected),
       |base AS (SELECT doc_id, toks, list_sum(list_transform(toks, x -> length(x))) AS tot
       |         FROM tk WHERE len(toks) > 0),
       |g AS (SELECT doc_id, tot, n, array_to_string(toks[i:i+n-1], ' ') AS gram
       |      FROM base, unnest(range(2, 11)) AS nn(n),
       |           unnest(range(1, len(toks) - n + 2)) AS u(i)),
       |ctop AS (SELECT doc_id, n, gram, tot, count(*) AS cnt,
       |      length(gram) - (n - 1) AS chars
       |      FROM g WHERE n <= 4 GROUP BY doc_id, n, gram, tot),
       |cdup AS (SELECT doc_id, n, tot, ${h64sql("gram")} AS gh,
       |      count(*) AS cnt, min(length(gram) - (n - 1)) AS chars
       |      FROM g WHERE n >= 5 GROUP BY doc_id, n, tot, gh),
       |top AS (SELECT doc_id, n, tot, cnt * chars AS num,
       |        row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram) AS rnk
       |        FROM ctop),
       |dup AS (SELECT doc_id, n, tot,
       |        sum(CASE WHEN cnt >= 2 THEN cnt * chars ELSE 0 END) AS num
       |        FROM cdup GROUP BY doc_id, n, tot),
       |pern AS (SELECT doc_id, n, least(floor(CAST(num AS DOUBLE) / tot * 100 + 0.5) / 100, 1.0) AS frac
       |         FROM top WHERE rnk = 1
       |         UNION ALL
       |         SELECT doc_id, n, least(floor(CAST(num AS DOUBLE) / tot * 100 + 0.5) / 100, 1.0)
       |         FROM dup),
       |wide AS (SELECT b.doc_id,
       |${(2 to 10).map(n =>
         s"    coalesce(max(CASE WHEN n = $n THEN frac END), 0.0) AS " +
           (if (n <= 4) s"top_${n}gram_char_frac" else s"dup_${n}gram_char_frac"))
         .mkString(",\n")}
       |  FROM base b LEFT JOIN pern p ON p.doc_id = b.doc_id GROUP BY b.doc_id)
       |SELECT *,
       |  CAST(CASE WHEN top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
       |    AND top_4gram_char_frac <= 0.16 AND dup_5gram_char_frac <= 0.15
       |    AND dup_6gram_char_frac <= 0.14 AND dup_7gram_char_frac <= 0.13
       |    AND dup_8gram_char_frac <= 0.12 AND dup_9gram_char_frac <= 0.11
       |    AND dup_10gram_char_frac <= 0.10 THEN 1 ELSE 0 END AS INT) AS passes
       |FROM wide ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Gopher's A1.2 repetition battery (operators/QualityRules
    // .ngramRepetition — q135 is the A1.1 half): top 2–4-gram and
    // duplicate 5–10-gram character fractions with the paper's
    // thresholds, the standard within-document repetition gate every
    // crawl recipe runs beside the rule filters. The fixture injects a
    // 4× repeated bigram, a 2× five-gram and a 2× ten-gram by residue
    // (the word-salad corpus barely repeats — the q135 injection
    // discipline), so every n-band's numerator is exercised; the
    // oracle replays the occurrence-sum contract with a per-(doc, n)
    // window (single-node DuckDB — the ENGINE's top gram is a
    // min-struct partial aggregate, never a window, ExplainSpec-pinned).
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(6L)) === 0,
          lit(" alpha beta alpha beta alpha beta alpha beta"))
          .when(pmod(col("doc_id"), lit(6L)) === 1,
            lit(" one two three four five one two three four five"))
          .when(pmod(col("doc_id"), lit(6L)) === 2,
            lit(" w1 w2 w3 w4 w5 w6 w7 w8 w9 w10" +
              " w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))
          .otherwise(lit(""))).as("text"))
    graft.operators.QualityRules.ngramRepetition(injected).orderBy("doc_id")
  }

  // ------------------------- q154: delivery -> curation -> shards E2E

  val q154_delivery_to_shards: QueryDef = q(
    "q154_delivery_to_shards",
    s"""WITH env AS (
       |  SELECT doc_id, text, n_chars,
       |    CASE WHEN doc_id % 17 = 0 THEN 'ProcessingFailed'
       |         WHEN n_chars < 200 THEN 'Dropped'
       |         ELSE 'Ok' END AS status
       |  FROM documents),
       |ok AS (SELECT doc_id, text FROM env WHERE status = 'Ok'),
       |tk AS (SELECT doc_id, text,
       |        list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
       |      FROM ok),
       |m AS (SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tok,
       |        len(list_filter(toks, x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in'], x))) AS n_stop,
       |        1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
       |            g -> toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2]))) AS DOUBLE)
       |          / (len(toks) - 2) AS rep
       |      FROM tk WHERE len(toks) >= 10),
       |filt AS (SELECT doc_id, text, n_tok FROM m
       |         WHERE n_stop > 0 AND rep <= 0.05),
       |ded AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY text),
       |surv AS (SELECT f.doc_id, f.n_tok FROM filt f JOIN ded USING (doc_id)
       |         WHERE ${h64sql("concat('curate|', CAST(f.doc_id AS VARCHAR))")} % 100 < 50),
       |c AS (SELECT doc_id, n_tok AS n_toks,
       |        CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum
       |      FROM surv WHERE n_tok > 0),
       |sp AS (SELECT doc_id, n_toks, cum - n_toks AS start_tok,
       |        CAST(floor((cum - n_toks) / 512.0) AS BIGINT) AS seq_first,
       |        CAST(floor((cum - 1) / 512.0) AS BIGINT) AS seq_last,
       |        CAST(floor((cum - 1) / 512.0) - floor((cum - n_toks) / 512.0) + 1 AS BIGINT) AS n_seqs,
       |        ${h64sql("concat('shard|', CAST(doc_id AS VARCHAR))")} % 8 AS shard,
       |        ${h64sql("concat('order|', CAST(doc_id AS VARCHAR))")} AS sort_key
       |      FROM c),
       |tot AS (SELECT shard, CAST(count(*) AS BIGINT) AS shard_docs,
       |        CAST(sum(n_toks) AS BIGINT) AS shard_tokens
       |      FROM sp GROUP BY shard)
       |SELECT doc_id, n_toks, start_tok, seq_first, seq_last, n_seqs,
       |  shard, sort_key, shard_docs, shard_tokens
       |FROM sp JOIN tot USING (shard)
       |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // The reference's pipeline CONTINUED to model-ready training shards
    // in one declarative plan — delivery routing through curation into
    // packing and the shard plan, every stage the already-verified
    // primitive:
    //   1. q40's envelope semantics run FOR REAL: each document is
    //      encoded to the NDJSON wire form (Codecs.encodeJson — A6),
    //      docs at doc_id % 17 == 0 get corrupted bytes, and
    //      Codecs.transformEnvelope does the actual decode + 3-way
    //      route (A3/A5; dropIf = n_chars < 200, the reference's
    //      Dropped predicate shape). The ORACLE replays routing as the
    //      CASE the fixture implies — so a decode/route bug on the
    //      engine side hash-fails the gate rather than being assumed.
    //   2. The Ok channel's DECODED payloads (not the source table)
    //      enter q82's curation chain: fused heuristic predicate,
    //      window-min exact dedup, salted 50% sample.
    //   3. Survivors pack into 512-token sequences (q137's PrefixSum
    //      spans) and get the q141 shard plan via Pack.withShardPlan —
    //      shard/sort_key as narrow projections on the SAME frame, the
    //      nShards-sized totals broadcast back.
    // Scale shape (ExplainSpec-pinned): the whole chain has exactly
    // ONE corpus-keyed window exchange (q82's dedup on text), ONE
    // range exchange (the prefix sum), one nShards-sized aggregate +
    // broadcast join, and the output sort — no SortMergeJoin, no
    // unpartitioned window, no new shuffle beyond what q82 + q137
    // already pay.
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.functions.Codecs
    import graft.model.DeliveryStatus
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val env = t(s, dir, "documents").select(
      col("doc_id").cast("string").as("recordId"),
      when(pmod(col("doc_id"), lit(17L)) === 0,
        lit("definitely not json\n").cast("binary"))
        .otherwise(Codecs.encodeJson(struct(col("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))).as("data"))
    val routed = Codecs.transformEnvelope(env, payloadSchema,
      dropIf = p => p.getField("n_chars") < 200)
    val okDocs = routed.filter(col("result") === DeliveryStatus.Ok)
      .select(col("payload.doc_id").as("doc_id"),
        col("payload.text").as("text"))
    deliveryToShards(okDocs)
  }

  /** q154's post-delivery chain (curation → 512-token packing → shard
    * plan) over the Ok channel's decoded (doc_id, text) — ONE
    * definition shared by the registry key and the streaming twin spec
    * (which feeds it the REAL DeliveryPipeline's success channel), so
    * the two paths cannot drift.
    */
  private[graft] def deliveryToShards(okDocs: DataFrame): DataFrame = {
    val curated = okDocs.filter(curationKeep)
      .withColumn("min_id",
        min(col("doc_id")).over(Window.partitionBy("text")))
      .filter(col("doc_id") === col("min_id"))
      .filter(pmod(h64(concat(lit("curate|"), col("doc_id").cast("string"))),
        lit(100)) < 50)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    val spans = graft.operators.Pack.sequenceSpans(curated, 512L)
      .withColumnRenamed("n_tokens", "n_toks")
    graft.operators.Pack.withShardPlan(spans, nShards = 8)
      .select("doc_id", "n_toks", "start_tok", "seq_first", "seq_last",
        "n_seqs", "shard", "sort_key", "shard_docs", "shard_tokens")
      .orderBy("doc_id")
  }

  // ------------------------------ q155: stupid-backoff trigram LM

  val q155_backoff_lm: QueryDef = q(
    "q155_backoff_lm",
    """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
      |             FROM documents),
      |train AS (SELECT doc_id, toks FROM tok WHERE doc_id % 2 = 0),
      |tw AS (SELECT unnest(toks) AS w FROM train),
      |c1 AS (SELECT w, count(*) AS c1 FROM tw GROUP BY 1),
      |nt AS (SELECT sum(c1) AS n, count(*) AS v FROM c1),
      |bg AS (SELECT toks[g] AS w1, toks[g+1] AS w2
      |       FROM train, unnest(range(1, len(toks))) AS u(g) WHERE len(toks) >= 2),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
      |tg AS (SELECT toks[g] AS w1, toks[g+1] AS w2, toks[g+2] AS w3
      |       FROM train, unnest(range(1, len(toks) - 1)) AS u(g) WHERE len(toks) >= 3),
      |c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
      |dtg AS (SELECT doc_id, toks[g] AS w1, toks[g+1] AS w2, toks[g+2] AS w3
      |       FROM tok, unnest(range(1, len(toks) - 1)) AS u(g) WHERE len(toks) >= 3),
      |dtf AS (SELECT doc_id, w1, w2, w3, count(*) AS tf FROM dtg GROUP BY 1, 2, 3, 4),
      |sc AS (SELECT dtf.doc_id, dtf.tf,
      |    CASE WHEN c3.c3 IS NOT NULL THEN CAST(c3.c3 AS DOUBLE) / ctx2.c2
      |         WHEN cb.c2 IS NOT NULL THEN 0.4 * CAST(cb.c2 AS DOUBLE) / ctx1.c1
      |         ELSE 0.16 * CAST(coalesce(cw3.c1, 0) + 1 AS DOUBLE) / (nt.n + nt.v) END AS s
      |  FROM dtf
      |  LEFT JOIN c3 USING (w1, w2, w3)
      |  LEFT JOIN c2 ctx2 ON ctx2.w1 = dtf.w1 AND ctx2.w2 = dtf.w2
      |  LEFT JOIN c2 cb ON cb.w1 = dtf.w2 AND cb.w2 = dtf.w3
      |  LEFT JOIN c1 ctx1 ON ctx1.w = dtf.w2
      |  LEFT JOIN c1 cw3 ON cw3.w = dtf.w3
      |  CROSS JOIN nt)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
      |  floor((-sum(tf * ln(s)) / sum(tf)) * 100 + 0.5) / 100 AS nll
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // Stupid-backoff trigram LM (operators/NgramLm.trainBackoff /
    // scoreBackoff — Brants 2007, the web-scale recipe CCNet's KenLM
    // rung approximates): TRAIN ON THE EVEN-doc_id HALF, score the
    // whole corpus, so the held-out half exercises all three backoff
    // branches (seen trigram / bigram backoff / add-one unigram floor
    // for out-of-vocabulary words) — a self-scored corpus would never
    // leave the first branch. The model upgrade over q79's add-one
    // bigram: longer context where evidence exists, graceful fallback
    // where it doesn't, still a closed form over exact counts (no
    // discount estimation), so train + score replay in portable SQL.
    // Scale shape: three mergeable count aggs (the reusable model
    // artifact), per-doc trigram tf, five key-partitioned joins
    // against vocab-sized tables, one reduce per doc. The backoff
    // factor literals (0.4, 0.16) are PARSED on both engines — a
    // folded 0.4*0.4 differs from literal 0.16 in the last ulp.
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val model = artifact(s, dir, "backofflm")(
      graft.operators.NgramLm.trainBackoff(
        toks.filter(pmod(col("doc_id"), lit(2L)) === 0)))
    // Size-gated compiled scorer (the q79/NB-kernel shape): all five
    // count-table joins plus the per-doc reduce were doc_id-keyed, so
    // under the gate scoring is one scan-side pass; above it the
    // key-partitioned join spelling runs unchanged.
    val local = artifact(s, dir, "backofflm-local")(
      graft.operators.NgramLm.localizeBackoff(model))
    local.map(m => graft.operators.NgramLm.scoreBackoffLocal(toks, m))
      .getOrElse(graft.operators.NgramLm.scoreBackoff(toks, model))
      .select(col("doc_id"),
        col("n_trigrams").cast("bigint").as("n_trigrams"),
        Par.r2(col("nll")).as("nll"))
      .orderBy("doc_id")
  }

  // -------------------- q156/q157: mergeable sketches (CM, HLL)

  val q156_countmin_heavy: QueryDef = q(
    "q156_countmin_heavy",
    s"""WITH $docTokSql,
       |w AS (SELECT unnest(toks) AS w FROM tok),
       |cells AS (SELECT r, b, count(*) AS cnt FROM (
       |    SELECT u.r AS r,
       |      ${h64sql("concat('cm', CAST(u.r AS VARCHAR), '|', w)")} % 64 AS b
       |    FROM w, unnest([0, 1, 2]) AS u(r))
       |  GROUP BY 1, 2),
       |probes AS (SELECT unnest(['and', 'data', 'query', 'the', 'zzzabsent']) AS term),
       |pk AS (SELECT term, u.r AS r,
       |      ${h64sql("concat('cm', CAST(u.r AS VARCHAR), '|', term)")} % 64 AS b
       |    FROM probes, unnest([0, 1, 2]) AS u(r)),
       |est AS (SELECT term, min(coalesce(cnt, 0)) AS est
       |    FROM pk LEFT JOIN cells USING (r, b) GROUP BY 1),
       |tru AS (SELECT w AS term, count(*) AS c FROM w GROUP BY 1)
       |SELECT term, CAST(est AS BIGINT) AS est,
       |  CAST(coalesce(c, 0) AS BIGINT) AS true_cnt,
       |  CAST(est - coalesce(c, 0) AS BIGINT) AS overcount
       |FROM est LEFT JOIN tru USING (term)
       |ORDER BY term""".stripMargin
  ) { (s, dir) =>
    // Count-min heavy-hitter sketch (operators/Sketch.countMinCells /
    // countMinEstimate — Cormode 2005): term frequencies from a
    // 3×64-cell mergeable summary instead of a vocabulary-sized agg.
    // The sketch is deterministic (salted h64 rows), so the ORACLE
    // REPLAYS THE SKETCH — est, true count, and the collision
    // overcount (always ≥ 0, the count-min upper-bound property) are
    // all hash-gated exactly; the absent-term probe shows pure
    // collision mass. Scale shape: one explode (3× the token stream)
    // + one mergeable groupBy to a 192-row artifact; probes broadcast.
    val words = tokenized(s, dir).select(explode(col("toks")).as("w"))
    val cells = graft.operators.Sketch.countMinCells(words, depth = 3, width = 64)
    import s.implicits._
    val probes = Seq("and", "data", "query", "the", "zzzabsent").toDF("term")
    val est = graft.operators.Sketch.countMinEstimate(cells, probes,
      depth = 3, width = 64)
    // True counts are only ever read for the 5 probe terms — filter
    // BEFORE the groupBy: unfiltered, the groupBy would shuffle a
    // vocabulary-sized partial-agg state to answer 5 keys.
    val tru = words.filter(col("w").isin("and", "data", "query", "the", "zzzabsent"))
      .groupBy(col("w").as("term")).agg(count(lit(1)).as("c"))
    est.join(tru, Seq("term"), "left")
      .select(col("term"), col("est").cast("bigint").as("est"),
        coalesce(col("c"), lit(0L)).cast("bigint").as("true_cnt"),
        (col("est") - coalesce(col("c"), lit(0L))).cast("bigint").as("overcount"))
      .orderBy("term")
  }

  val q157_hll_distinct: QueryDef = q(
    "q157_hll_distinct",
    s"""WITH $docTokSql,
       |wt AS (SELECT unnest(toks) AS w FROM tok),
       |ws AS (SELECT source AS w FROM documents),
       |rt AS (SELECT ${h64sql("w")} % 64 AS bucket,
       |      max(CASE WHEN (${h64sql("w")} // 64) = 0 THEN 55
       |        ELSE CAST(floor(log2(CAST(((${h64sql("w")} // 64) & -(${h64sql("w")} // 64)) AS DOUBLE))) AS BIGINT) + 1 END) AS reg
       |    FROM wt GROUP BY 1),
       |rs AS (SELECT ${h64sql("w")} % 64 AS bucket,
       |      max(CASE WHEN (${h64sql("w")} // 64) = 0 THEN 55
       |        ELSE CAST(floor(log2(CAST(((${h64sql("w")} // 64) & -(${h64sql("w")} // 64)) AS DOUBLE))) AS BIGINT) + 1 END) AS reg
       |    FROM ws GROUP BY 1),
       |spine AS (SELECT CAST(i AS BIGINT) AS bucket FROM unnest(range(0, 64)) AS t(i)),
       |at AS (SELECT sum(power(2.0, -coalesce(reg, 0))) AS s,
       |       CAST(sum(CASE WHEN coalesce(reg, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
       |    FROM spine LEFT JOIN rt USING (bucket)),
       |as_ AS (SELECT sum(power(2.0, -coalesce(reg, 0))) AS s,
       |       CAST(sum(CASE WHEN coalesce(reg, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
       |    FROM spine LEFT JOIN rs USING (bucket)),
       |et AS (SELECT zeros, 0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0 / s AS raw FROM at),
       |es AS (SELECT zeros, 0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0 / s AS raw FROM as_),
       |xt AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS exact FROM wt),
       |xs AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS exact FROM ws),
       |rows_ AS (
       |  SELECT 'sources' AS domain, es.zeros,
       |    floor((CASE WHEN es.raw <= 160.0 AND es.zeros > 0
       |        THEN 64.0 * ln(64.0 / es.zeros) ELSE es.raw END) * 100 + 0.5) / 100 AS est,
       |    xs.exact FROM es CROSS JOIN xs
       |  UNION ALL
       |  SELECT 'tokens', et.zeros,
       |    floor((CASE WHEN et.raw <= 160.0 AND et.zeros > 0
       |        THEN 64.0 * ln(64.0 / et.zeros) ELSE et.raw END) * 100 + 0.5) / 100,
       |    xt.exact FROM et CROSS JOIN xt)
       |SELECT domain, zeros, est, exact,
       |  floor(((est - exact) / exact) * 10000 + 0.5) / 10000 AS rel_err
       |FROM rows_ ORDER BY domain""".stripMargin
  ) { (s, dir) =>
    // HyperLogLog distinct-count sketch (operators/Sketch.hllRegisters
    // / hllEstimate — Flajolet 2007): vocabulary and per-domain
    // cardinality from a 64-register mergeable summary. Registers use
    // TRAILING zeros of the hash's bucket-quotient (same geometric law
    // as leading zeros; `v & -v` + exact log2 replays in any engine —
    // the quotient is a bit SHIFT, never `/`, which is double division
    // above 2^53). The Σ2^(−reg) sum is exact binary fractions, so the
    // oracle replays the whole estimate bit-for-bit; both the raw
    // branch (tokens: thousands of distincts, zero empty registers)
    // and the small-range correction (sources: ~20 distincts,
    // m·ln(m/zeros)) are exercised and gated with their TRUE relative
    // error — the sketch's accuracy is part of the verified contract.
    // Scale shape: one mergeable groupBy per domain to 64 rows.
    import graft.operators.Sketch
    def one(domain: String, words: DataFrame) = {
      val est = Sketch.hllEstimate(Sketch.hllRegisters(words, 6), 6)
      val exact = words.agg(countDistinct(col("w")).cast("bigint").as("exact"))
      est.crossJoin(exact)
        .select(lit(domain).as("domain"), col("zeros"),
          Par.r2(col("est")).as("est"), col("exact"))
    }
    val toks = one("tokens", tokenized(s, dir).select(explode(col("toks")).as("w")))
    val srcs = one("sources", t(s, dir, "documents").select(col("source").as("w")))
    srcs.unionByName(toks)
      .select(col("domain"), col("zeros"), col("est"), col("exact"),
        Par.r4((col("est") - col("exact")) / col("exact")).as("rel_err"))
      .orderBy("domain")
  }

  // ------------------------- q158: histogram quantile sketch

  val q158_hist_quantiles: QueryDef = q(
    "q158_hist_quantiles",
    """WITH xs AS (SELECT l_extendedprice AS x FROM lineitem),
      |st AS (SELECT min(x) AS mn, max(x) AS mx, CAST(count(*) AS BIGINT) AS n FROM xs),
      |hb AS (SELECT CASE WHEN (mx - mn) / 128 = 0 THEN 0
      |         ELSE CAST(least(floor((x - mn) / ((mx - mn) / 128)), 127) AS BIGINT) END AS bin,
      |       mn, (mx - mn) / 128 AS width, n
      |     FROM xs CROSS JOIN st),
      |hist AS (SELECT bin, mn, width, n, count(*) AS cnt FROM hb GROUP BY 1, 2, 3, 4),
      |cumh AS (SELECT *, sum(cnt) OVER (ORDER BY bin) AS cum FROM hist),
      |pees AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p),
      |est AS (SELECT p, min(mn + bin * width) AS est
      |        FROM cumh CROSS JOIN pees
      |        WHERE cum >= ceil(p * n) GROUP BY p),
      |vc AS (SELECT x, count(*) AS c FROM xs GROUP BY 1),
      |cumv AS (SELECT x, sum(c) OVER (ORDER BY x) AS cum FROM vc),
      |ex AS (SELECT p, min(x) AS exact
      |       FROM cumv CROSS JOIN st CROSS JOIN pees
      |       WHERE cum >= ceil(p * n) GROUP BY p)
      |SELECT est.p, floor(est.est * 100 + 0.5) / 100 AS est, ex.exact,
      |  floor((ex.exact - est.est) * 100 + 0.5) / 100 AS err
      |FROM est JOIN ex USING (p) ORDER BY p""".stripMargin
  ) { (s, dir) =>
    // Distributed quantile estimation from a mergeable equi-width
    // histogram (operators/Sketch.histogram/histQuantile) — the third
    // classic sketch family beside q156/q157: percentiles of a
    // 100 TB-wide column from a bins-row summary instead of a global
    // sort. Estimate = lower edge of the first bin reaching ceil(p·n)
    // cumulative — deterministic, so the oracle replays the sketch
    // AND the exact value-at-rank ground truth (PrefixSum two-phase
    // on the engine side — the corpus is never globally sorted in one
    // task; only the 128-row histogram sees a window) and the gate
    // checks the estimation ERROR exactly. p50/p90/p99 of
    // l_extendedprice.
    import graft.operators.{PrefixSum, Sketch}
    val ps = Seq(0.5, 0.9, 0.99)
    val xs = t(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
    // ONE corpus pass for the WHOLE query:
    // the corpus reduces to its value-count table once (map-side
    // partial agg into a value-cardinality exchange), PrefixSum
    // range-materializes it, and EVERYTHING downstream — the (mn, mx,
    // n) scalars, the 128-bin histogram estimate, and the exact
    // value-at-rank ground truth — derives from that one materialized
    // frame — no separate histogram min/max scan, binning scan, or
    // duplicate vc exchange behind broadcast(total). Estimates are
    // bit-identical (histogramWeighted's equivalence note);
    // n = coalesce(sum(c), 0) keeps count(*)'s empty-input zero.
    val vc = xs.groupBy("x").agg(count(lit(1)).as("c"))
    val cumv = PrefixSum.withRunningTotal(vc, "x", "c", "cum")
    val stats = cumv.agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
      coalesce(sum(col("c")), lit(0L)).as("n"))
    val est = Sketch.histQuantile(
      Sketch.histogramWeighted(cumv.select("x", "c"), 128), ps)
    // Exact ground truth: ONE conditional aggregate over the prefix
    // frame (per-p filters would replay the lineage |ps| times),
    // exploded to (p, exact) and broadcast onto est.
    val cumn = cumv.crossJoin(broadcast(stats.select(col("n"))))
    val exAggs = ps.zipWithIndex.map { case (p, i) =>
      min(when(col("cum") >= ceil(lit(p) * col("n")), col("x"))).as(s"_x$i")
    }
    val exact = cumn.agg(exAggs.head, exAggs.tail: _*)
      .select(explode(array(ps.zipWithIndex.map { case (p, i) =>
        struct(lit(p).as("p"), col(s"_x$i").as("exact")) }: _*)).as("pe"))
      .select(col("pe.p").as("p"), col("pe.exact").as("exact"))
    est.join(broadcast(exact), Seq("p"))
      .select(col("p"), Par.r2(col("est")).as("est"), col("exact"),
        Par.r2(col("exact") - col("est")).as("err"))
      .orderBy("p")
  }

  // ------------------------- q159: significant_terms aggregation

  val q159_significant_terms: QueryDef = q(
    "q159_significant_terms",
    """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
      |             FROM documents),
      |dt AS (SELECT doc_id, list_contains(toks, 'data') AS fg,
      |         unnest(list_distinct(toks)) AS term FROM tok),
      |counts AS (SELECT CAST(count(*) AS DOUBLE) AS n_bg,
      |         CAST(sum(CASE WHEN list_contains(toks, 'data') THEN 1 ELSE 0 END) AS DOUBLE) AS n_fg
      |       FROM tok),
      |g AS (SELECT term, sum(CASE WHEN fg THEN 1 ELSE 0 END) AS fg_df, count(*) AS bg_df
      |      FROM dt GROUP BY term),
      |sc AS (SELECT term, CAST(fg_df AS BIGINT) AS fg_df, CAST(bg_df AS BIGINT) AS bg_df,
      |      (CAST(fg_df AS DOUBLE) / n_fg - CAST(bg_df AS DOUBLE) / n_bg)
      |        * ((CAST(fg_df AS DOUBLE) / n_fg) / (CAST(bg_df AS DOUBLE) / n_bg)) AS score
      |    FROM g CROSS JOIN counts WHERE fg_df >= 3),
      |ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, term) AS rnk
      |           FROM sc WHERE score > 0)
      |SELECT term, fg_df, bg_df, floor(score * 10000 + 0.5) / 10000 AS score,
      |  CAST(rnk AS BIGINT) AS rnk
      |FROM ranked WHERE rnk <= 15 ORDER BY rnk""".stripMargin
  ) { (s, dir) =>
    // The significant_terms aggregation (operators/SearchDsl
    // .significantTerms): the top-15 terms unusually frequent in the
    // docs matching the query term 'data' relative to the whole
    // corpus, JLH-scored — the "what is this result set ABOUT"
    // aggregation of the reference's search sink, and the engine's
    // keyword-drift monitor for a curation slice. Each JLH score is
    // scalar double arithmetic on exact counts in one fixed op order
    // (two divisions, one difference, one quotient, one product — no
    // summation), so RANKING on the raw score is engine-portable with
    // no rounding guard; r4 is emission-only. Scale shape: ONE
    // corpus-sized shuffle — the per-term hash-agg carries the
    // foreground flag so fg_df and bg_df come from the same partial
    // aggregate; no doc-keyed join, and the top-15 cut is a
    // TakeOrderedAndProject over term-cardinality rows.
    val tk = tokenized(s, dir)
    val sig = graft.operators.SearchDsl.significantTerms(
      tk, array_contains(col("toks"), "data"), minDocCount = 3)
    sig.orderBy(col("score").desc, col("term")).limit(15)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col("term"))))
      .select(col("term"), col("fg_df").cast("bigint").as("fg_df"),
        col("bg_df").cast("bigint").as("bg_df"),
        Par.r4(col("score")).as("score"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("rnk")
  }

  // ------------------------- q160: rescore (two-phase ranking)

  val q160_rescore: QueryDef = q(
    "q160_rescore",
    s"""WITH $docTokSql,
       |$bm25Sql,
       |win AS (SELECT doc_id, primary_score FROM (
       |      SELECT doc_id, floor(score * 100 + 0.5) / 100 AS primary_score,
       |        row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |      FROM bscored) WHERE rnk <= 20),
       |pe AS (SELECT embedding AS pe,
       |      sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS pn
       |    FROM embeddings WHERE vec_id = 0),
       |resc AS (SELECT w.doc_id, w.primary_score,
       |      coalesce(list_sum(list_transform(range(1, len(pe) + 1),
       |          i -> CAST(pe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
       |        / (pn * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
       |        0.0) AS sec
       |    FROM win w CROSS JOIN pe LEFT JOIN embeddings e ON e.vec_id = w.doc_id),
       |comb AS (SELECT doc_id, primary_score, sec,
       |      primary_score * 1.0 + sec * 2.0 AS combined FROM resc),
       |ranked AS (SELECT *, row_number() OVER (ORDER BY combined DESC, doc_id) AS rnk FROM comb)
       |SELECT doc_id, primary_score, floor(sec * 10000 + 0.5) / 10000 AS cos,
       |  floor(combined * 10000 + 0.5) / 10000 AS combined, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 10 ORDER BY rnk""".stripMargin
  ) { (s, dir) =>
    // Two-phase ranking (operators/Retrieval.rescore): the OpenSearch
    // rescorer — BM25 ranks the corpus, then ONLY its top-20 window is
    // re-scored by the expensive model (here: embedding cosine to the
    // vec_id-0 probe, doc_id = vec_id), combined as primary·1 + cos·2
    // (the API's `total` mode), page = top-10 of the window. The
    // combination is a rounded primary + an exact fixed-fold cosine —
    // one add, one multiply — so ranking on the RAW combined score is
    // engine-portable (q86's discipline); r4 on cos/combined is
    // emission-only. Scale shape: the window is a
    // TakeOrderedAndProject top-k whose 20 ids PUSH DOWN into the
    // embeddings scan as an IN predicate (the feature-store id lookup
    // — row-group pruning, no corpus-shaped join); the cosine
    // evaluates above that filter, priced at 20 rows.
    val scored = graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), bm25Terms)
      .select(col("doc_id"), Par.r2(col("score")).as("score"))
    val emb = t(s, dir, "embeddings")
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("pe"))
    val secondary = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(probe))
    val cosCol = graft.operators.Similarity.cosSafe(
      dot_f(col("pe"), col("embedding")),
      sqrt(dot_f(col("pe"), col("pe"))),
      sqrt(dot_f(col("embedding"), col("embedding"))))
    val resc = graft.operators.Retrieval.rescore(
      scored, secondary, cosCol, windowSize = 20,
      queryWeight = 1.0, rescoreWeight = 2.0)
    resc.orderBy(col("combined").desc, col("doc_id")).limit(10)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("combined").desc, col("doc_id"))))
      .select(col("doc_id"), col("primary_score"),
        Par.r4(col("sec")).as("cos"), Par.r4(col("combined")).as("combined"),
        col("rnk").cast("bigint").as("rnk"))
      .orderBy("rnk")
  }

  // ------------------------- q161: collapse (field collapsing)

  val q161_collapse: QueryDef = q(
    "q161_collapse",
    s"""WITH $docTokSql,
       |$bm25Sql,
       |src AS (SELECT b.doc_id, floor(b.score * 100 + 0.5) / 100 AS score, d.source
       |        FROM bscored b JOIN documents d USING (doc_id)),
       |col AS (SELECT source, doc_id, score,
       |      row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn,
       |      count(*) OVER (PARTITION BY source) AS inner_hits
       |    FROM src)
       |SELECT source, doc_id, score, CAST(inner_hits AS BIGINT) AS inner_hits
       |FROM col WHERE rn = 1 ORDER BY score DESC, source""".stripMargin
  ) { (s, dir) =>
    // Field collapsing (operators/SearchDsl.collapseTop): the search
    // page's `collapse` — one best hit per source (top ROUNDED BM25
    // score, ties to the smallest doc_id) with the inner_hits count of
    // matching docs folded under it, groups ordered best-first. The
    // engine's best-per-key is a mergeable min(struct(−score, doc_id))
    // hash-agg (the window-free top-1 discipline — the oracle's rank
    // window is DuckDB-side only); the doc-keyed join to fetch the
    // collapse field is the one shuffle beside bm25's tf agg. Scale
    // shape: output is |sources| rows; nothing after the join exceeds
    // the aggregate's partial-merge width.
    val hits = graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), bm25Terms)
      .select(col("doc_id"), Par.r2(col("score")).as("score"))
    val docs = t(s, dir, "documents")
    graft.operators.SearchDsl.collapseTop(hits, docs, "source", col("score"))
      .select(col("source"), col("doc_id"), col("score"),
        col("inner_hits").cast("bigint").as("inner_hits"))
      .orderBy(col("score").desc, col("source"))
  }

  // ------------------------- q162: temperature-scaled source mixing

  val q162_temperature_mix: QueryDef = q(
    "q162_temperature_mix",
    """WITH tok AS (SELECT source,
      |        len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS n_tok
      |      FROM documents),
      |per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tok,
      |        sqrt(CAST(sum(n_tok) AS DOUBLE)) AS weight
      |      FROM tok GROUP BY source),
      |nrm AS (SELECT list_sum(list(weight ORDER BY source)) AS sum_w FROM per)
      |SELECT source, n_tok, weight,
      |  floor(weight / sum_w * 1000000 + 0.5) / 1000000 AS p,
      |  CAST(floor((floor(weight / sum_w * 1000000 + 0.5) / 1000000) * 100000 + 0.5) AS BIGINT) AS alloc_tok
      |FROM per CROSS JOIN nrm ORDER BY source""".stripMargin
  ) { (s, dir) =>
    // Temperature-scaled source sampling (operators/Mixture
    // .temperatureMix — Conneau 2020 §3.1 / Xue 2021 §3.2): p_i ∝
    // √n_i over per-source token counts, allocations for a 100k-token
    // budget. α is pinned at 1/2 because IEEE sqrt is CORRECTLY
    // rounded in both engines while pow() has a one-ulp license; the
    // normalizer Σ√n — the one order-sensitive double sum — folds
    // sequentially over source-ascending weights on BOTH sides
    // (aggregate over a sorted array here, list(ORDER BY) + list_sum
    // there), so every emitted double is bit-portable with rounding
    // only at the published-probability grid (r6). Scale shape: one
    // mergeable corpus shuffle (per-source token sums), then
    // #sources-row metadata math.
    val docs = t(s, dir, "documents")
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
    graft.operators.Mixture.temperatureMix(docs, col("n_tok"), budgetTok = 100000L)
      .orderBy("source")
  }

  // ------------------------- q163: per-cell prototype selection

  val q163_prototypes: QueryDef = q(
    "q163_prototypes",
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT CAST(rn - 1 AS INT) AS cell, embedding AS cv FROM
       |       (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding FROM v) WHERE rn <= 8),
       |${ivfAssignSql("a1", "c0")}, ${ivfCentroidSql("c1", "a1", "c0")},
       |${ivfAssignSql("a2", "c1")}, ${ivfCentroidSql("c2", "a2", "c1")},
       |${ivfAssignSql("a3", "c2")}, ${ivfCentroidSql("c3", "a3", "c2")},
       |asg AS (SELECT vec_id, cell, dist FROM (
       |    SELECT v.vec_id, c.cell, ${ivfSqDistSql("v.embedding", "c.cv")} AS dist,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfSqDistSql("v.embedding", "c.cv")}, c.cell) AS rn
       |    FROM v CROSS JOIN c3 c) WHERE rn = 1),
       |proto AS (SELECT cell, vec_id, dist,
       |      row_number() OVER (PARTITION BY cell ORDER BY dist, vec_id) AS rn FROM asg)
       |SELECT CAST(cell AS INT) AS cell, vec_id, floor(dist * 10000 + 0.5) / 10000 AS sqdist
       |FROM proto WHERE rn = 1 ORDER BY cell""".stripMargin
  ) { (s, dir) =>
    // Prototype/coreset selection (operators/Ivf.prototypes): the ONE
    // vector closest to its cell's centroid per IVF cell — the
    // geometric-diversity summary beside q75's SemDeDup (that REMOVES
    // a cell's redundant members; this PICKS its canonical one). Model
    // is the q73/q89/q139 shared memoized IVF (a selection pass must
    // not move centroids); distance is the codegen'd sqdist_f, the
    // bit-identical twin of the trainer's assignment metric and the
    // oracle's REAL-cast replay, so the per-cell argmin agrees across
    // engines with r4 as emission-only. Scale shape: centroids
    // broadcast, then ONE mergeable min(struct(dist, vec_id))
    // hash-agg — k output rows, no window over the corpus.
    val model = ivfModel(s, dir)
    val indexed = graft.operators.Ivf.index(vectors(s, dir), model)
    graft.operators.Ivf.prototypes(s, indexed, model)
      .select(col("cell").cast("int").as("cell"), col("vec_id"),
        Par.r4(col("sqdist")).as("sqdist"))
      .orderBy("cell")
  }

  // ------------------------- q164: winnowing fingerprints

  val q164_winnow_pairs: QueryDef = q(
    "q164_winnow_pairs",
    s"""WITH $docTokSql,
       |g AS (SELECT doc_id, g AS gi,
       |        toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2] AS gram
       |      FROM tok, unnest(range(1, len(toks) - 1)) AS u(g)
       |      WHERE len(toks) >= 3),
       |h AS (SELECT doc_id,
       |        list(CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) ORDER BY gi) AS gh
       |      FROM g GROUP BY doc_id),
       |sel AS (SELECT doc_id,
       |      list_min(gh[j:least(j + 3, len(gh))]) AS fp,
       |      list_max(list_filter(range(j, least(j + 4, len(gh) + 1)),
       |        i -> gh[i] = list_min(gh[j:least(j + 3, len(gh))]))) AS pos
       |    FROM h, unnest(range(1, CASE WHEN len(gh) <= 4 THEN 2 ELSE len(gh) - 2 END)) AS u(j)),
       |fp AS (SELECT DISTINCT doc_id, fp FROM sel),
       |keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) BETWEEN 2 AND 10),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |        CAST(count(*) AS BIGINT) AS shared
       |      FROM fp a JOIN keep USING (fp) JOIN fp b USING (fp)
       |      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (ORDER BY shared DESC, doc_a, doc_b) AS rnk
       |           FROM pairs WHERE shared >= 2)
       |SELECT doc_a, doc_b, shared, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 20 ORDER BY rnk""".stripMargin
  ) { (s, dir) =>
    // Winnowing fingerprints (operators/Winnow — Schleimer 2003, the
    // MOSS algorithm): hash token 3-grams, window w=4, select each
    // window's min (rightmost tie), giving the paper's guarantee that
    // any ≥ 6-token overlap between two docs shares a fingerprint at
    // ~2/(w+1) of span-dedup's index density. Output: the top-20 doc
    // pairs by count of shared fingerprint VALUES (≥ 2 witnesses), the
    // overlap-candidate report. All-integer (h64 hashes, argmin
    // selection) — bit-portable with no rounding anywhere. Scale
    // shape: the per-doc stage is narrow array expressions on the scan
    // (zero shuffle — window scope is the doc); the pair stage drops
    // fingerprints with df > 10 BEFORE the self-join (MOSS's
    // boilerplate rule = the LSH hot-bucket guard), then
    // TakeOrderedAndProject for the report cut.
    val fps = graft.operators.Winnow.fingerprints(tokenized(s, dir), k = 3, w = 4)
    val pairs = graft.operators.Winnow.sharedPairs(fps, maxDf = 10)
      .filter(col("shared") >= 2)
    pairs.orderBy(col("shared").desc, col("doc_a"), col("doc_b")).limit(20)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("shared").desc, col("doc_a"), col("doc_b"))))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("rnk").cast("bigint").as("rnk"))
      .orderBy("rnk")
  }

  // ------------------------- q165: composite aggregation pagination

  val q165_composite_agg: QueryDef = q(
    "q165_composite_agg",
    """SELECT user_id, event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events
      |WHERE user_id > 7 OR (user_id = 7 AND event_type > 'purchase')
      |GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 15""".stripMargin
  ) { (s, dir) =>
    // The `composite` aggregation (operators/SearchDsl.compositeAgg):
    // keyset-paginated buckets over (user_id, event_type) — the page
    // AFTER cursor (7, 'purchase'), 15 buckets (cursor low enough
    // that every tier, sf0.001 included, turns a non-empty page). The cursor predicate
    // is on the GROUPING KEYS, so it filters rows BEFORE the
    // aggregation and reaches the parquet scan (leading-key row-group
    // pruning); page cost is the post-cursor slice, never the whole
    // bucket space (the OFFSET formulation's trap). Metrics are exact
    // integers (count + long-cents sum of the double value, rounded
    // per-ROW in one fixed op order, so the sum is order-free and
    // engine-exact — the q17 long-cents discipline).
    val ev = t(s, dir, "events")
    graft.operators.SearchDsl.compositeAgg(
      ev, Seq("user_id", "event_type"),
      after = Some(Seq(lit(7L), lit("purchase"))), size = 15,
      metrics = Seq(
        count(lit(1)).cast("bigint").as("n_events"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("bigint"))
          .cast("bigint").as("sum_cents")))
  }

  // ------------------------- q166: Bloom filter membership + FP audit

  private val BloomK = 3
  private val BloomM = 262144 // 4096 packed longs, 32 KiB

  /** Bloom bit-position SQL, mirroring Sketch.bloomPos exactly. */
  private def bloomPosSql(e: String, j: Int): String =
    s"${h64sql(s"concat('bf$j|', $e)")} % $BloomM"

  val q166_bloom_filter: QueryDef = q(
    "q166_bloom_filter",
    s"""WITH $docTokSql,
       |sh AS (SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
       |       FROM tok, unnest(range(1, len(toks) - 1)) AS u(i) WHERE len(toks) >= 3),
       |pos AS (${(0 until BloomK).map(j =>
          s"SELECT ${bloomPosSql("g", j)} AS pos FROM sh").mkString(" UNION ALL ")}),
       |bits AS (SELECT pos // 64 AS wd, bit_or(CASE WHEN pos % 64 = 63
       |           THEN CAST(-9223372036854775807 AS BIGINT) - 1
       |           ELSE CAST(1 AS BIGINT) << CAST(pos % 64 AS INT) END) AS bits
       |         FROM pos GROUP BY 1),
       |probes AS (SELECT g AS term FROM sh
       |             JOIN (SELECT doc_id, toks FROM tok WHERE doc_id = 0) d
       |             ON list_contains(list_transform(range(1, len(d.toks) - 1),
       |                  i -> d.toks[i] || ' ' || d.toks[i+1] || ' ' || d.toks[i+2]), g)
       |           UNION ALL
       |           SELECT 'bfprobe ' || CAST(j AS VARCHAR) || ' absent' FROM unnest(range(0, 40)) AS t(j)),
       |pk AS (SELECT term, pos // 64 AS wd, CASE WHEN pos % 64 = 63
       |         THEN CAST(-9223372036854775807 AS BIGINT) - 1
       |         ELSE CAST(1 AS BIGINT) << CAST(pos % 64 AS INT) END AS m
       |       FROM (${(0 until BloomK).map(j =>
          s"SELECT term, ${bloomPosSql("term", j)} AS pos FROM probes").mkString(" UNION ALL ")})),
       |hit AS (SELECT term, min(CASE WHEN (coalesce(bits, 0) & m) = m THEN 1 ELSE 0 END) = 1 AS hit
       |        FROM pk LEFT JOIN bits USING (wd) GROUP BY term),
       |ex AS (SELECT h.term, h.hit, (s.g IS NOT NULL) AS present
       |       FROM hit h LEFT JOIN sh s ON s.g = h.term)
       |SELECT term, hit, present, (hit AND NOT present) AS is_fp
       |FROM ex ORDER BY term""".stripMargin
  ) { (s, dir) =>
    // Bloom-filter membership (operators/Sketch.bloomBits/bloomContains
    // — Bloom 1970), completing the mergeable-sketch family beside
    // count-min/HLL/histogram: the corpus's ~16k distinct 3-shingles in
    // a 32 KiB bitmap (k=3 salted h64 positions, bit_or merge). Probes
    // are doc 0's shingles (all present — the no-false-NEGATIVES half
    // of the contract, gate-asserted via `present → hit`) plus 40
    // fabricated strings whose exact membership is verified per probe,
    // so the emitted is_fp column IS the measured false-positive
    // behavior — the gate checks the filter's actual collisions, not a
    // formula. Scale shape: one explode (k× distinct shingles) + ONE
    // mergeable bit_or hash-agg to ≤ 4096 rows; probes broadcast.
    val toks = tokenized(s, dir)
    val sh = toks.filter(size(col("toks")) >= 3)
      .select(explode(graft.functions.TextFunctions.shingleExpr).as("g"))
      .distinct()
      .localCheckpoint() // three consumers: build, probe source, exact side
    val bits = graft.operators.Sketch.bloomBits(
      sh.select(col("g").as("w")), BloomK, BloomM)
    val docShingles = toks.filter(col("doc_id") === 0 && size(col("toks")) >= 3)
      .select(explode(graft.functions.TextFunctions.shingleExpr).as("g"))
      .distinct()
    val probes = sh.join(docShingles, "g").select(col("g").as("term"))
      .union(s.range(0, 40).select(
        concat(lit("bfprobe "), col("id").cast("string"), lit(" absent")).as("term")))
    val hits = graft.operators.Sketch.bloomContains(bits, probes, BloomK, BloomM)
    hits.join(sh.select(col("g").as("term"), lit(true).as("present")),
        Seq("term"), "left")
      .select(col("term"), col("hit"),
        coalesce(col("present"), lit(false)).as("present"))
      .withColumn("is_fp", col("hit") && !col("present"))
      .orderBy("term")
  }

  // ------------------------- q167: mergeable top-k per group

  val q167_topk_terms: QueryDef = q(
    "q167_topk_terms",
    s"""WITH $docTokSql,
       |tc AS (SELECT d.source, t.term, CAST(count(*) AS BIGINT) AS cnt
       |       FROM (SELECT doc_id, unnest(toks) AS term FROM tok) t
       |       JOIN documents d USING (doc_id) GROUP BY 1, 2),
       |ranked AS (SELECT source, term, cnt,
       |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rnk
       |  FROM tc)
       |SELECT source, term, cnt, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin
  ) { (s, dir) =>
    // Top-3 terms per source via the MERGEABLE top-k aggregate
    // (functions/TopKAggregator) — the window-free form of the rank
    // window the ORACLE uses: the buffer is the group's running top-k
    // (score desc, key asc), reduce inserts, merge re-cuts, so each
    // task ships ≤ k rows per group past the partial aggregate where
    // the window form shuffles the ENTIRE (source, term) count table
    // and sorts every group (the repo's min(struct) top-1 trick,
    // generalized). The kept set and order are total-order
    // deterministic — profile-independent like every key. Plan:
    // ExplainSpec pins no Window over the counts frame.
    val counts = t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(tokenized(s, dir), "doc_id")
      .select(col("source"), explode(col("toks")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
    val top = graft.functions.TopKAggregator.topK(3)
    counts
      .groupBy("source")
      .agg(top(col("cnt").cast("double"), col("term")).as("tk"))
      .select(col("source"), posexplode(col("tk.entries")).as(Seq("i", "e")))
      .select(col("source"), col("e.key").as("term"),
        col("e.score").cast("bigint").as("cnt"),
        (col("i") + 1).cast("bigint").as("rnk"))
      .orderBy("source", "rnk")
  }

  // ------------------------- q168: JL signed-random-projection recall

  private val JlDOut = 16

  val q168_jl_recall: QueryDef = {
    val signs = graft.operators.RandomProjection.signMatrix(JlDOut, 64)
    def signListSql(j: Int): String =
      "list_value(" + signs(j).map(v =>
        if (v > 0) "1.0" else "-1.0").mkString(", ") + ")"
    def projSql(e: String, j: Int): String =
      s"""list_sum(list_transform(range(1, 65),
         |      i -> CAST($e[i] AS DOUBLE) * (${signListSql(j)})[i]))""".stripMargin
    def pDotSql(a: String, b: String): String =
      s"list_sum(list_transform(range(1, ${JlDOut + 1}), i -> $a[i] * $b[i]))"
    q(
      "q168_jl_recall",
      s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
         |pj AS (SELECT vec_id, list_value(${(0 until JlDOut).map(j =>
            s"(${projSql("embedding", j)})").mkString(", ")}) AS p
         |       FROM v),
         |pn AS (SELECT vec_id, p, sqrt(${pDotSql("p", "p")}) AS nrm FROM pj),
         |pairs AS (SELECT pr.vec_id AS probe_id, e.vec_id AS neighbor_id,
         |    CASE WHEN pr.nrm = 0 OR e.nrm = 0 THEN -1.0
         |         ELSE ${pDotSql("pr.p", "e.p")} / (pr.nrm * e.nrm) END AS pcos
         |  FROM pn pr CROSS JOIN pn e WHERE pr.vec_id < 5 AND e.vec_id <> pr.vec_id),
         |ranked AS (SELECT probe_id, neighbor_id, pcos,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY pcos DESC, neighbor_id) AS rnk
         |  FROM pairs),
         |$recallTailSql""".stripMargin
    ) { (s, dir) =>
      // Recall@5 of signed-random-projection (JL) search at d' = 16 of
      // 64 — the NO-TRAINING rung of the compression ladder (int8 =
      // precision loss q119, PQ/OPQ = codebook loss q96/q98, MRL =
      // training-time truncation q147; JL needs no model at all — the
      // ±1 matrix regenerates from its seed formula on any executor,
      // operators/RandomProjection). Ranking runs entirely in the
      // projected space (q119's shape: measure the compressed metric's
      // own fidelity, no rescore). Each projection coordinate is one
      // codegen'd dot_f against a constant sign row — float·±1 is
      // exact, so the engine fold and the oracle's CAST-to-DOUBLE
      // replay see identical values in identical order. Scale shape:
      // projection is narrow scan-side compute (4× less downstream
      // I/O); candidates ride the broadcast probe set.
      import graft.operators.RandomProjection
      val emb = vectors(s, dir)
      val proj = emb.select(col("vec_id"),
        RandomProjection.project(col("embedding"), signs).as("p"))
      val pdot = (a: String, b: String) => expr(
        s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
      val pn = proj.select(col("vec_id"), col("p"),
        sqrt(pdot("p", "p")).as("nrm"))
      val probes = pn.filter(col("vec_id") < 5).select(
        col("vec_id").as("probe_id"), col("p").as("pp"), col("nrm").as("pnrm"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("pcos").desc, col("neighbor_id"))
      val qtop = pn.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          graft.operators.Similarity.cosSafe(
            pdot("pp", "p"), col("pnrm"), col("nrm")).as("pcos"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
      recallVsExhaustive(s, dir, qtop)
    }
  }

  // ------------------------- q169: function_score field boost

  val q169_function_score: QueryDef = q(
    "q169_function_score",
    s"""WITH $docTokSql,
       |$bm25Sql,
       |fs AS (SELECT b.doc_id, floor(b.score * 100 + 0.5) / 100 AS score,
       |      ln(1.0 + CAST(d.n_chars AS DOUBLE)) AS factor
       |    FROM bscored b LEFT JOIN documents d USING (doc_id)),
       |comb AS (SELECT doc_id, score, factor, score * factor AS boosted FROM fs),
       |ranked AS (SELECT *, row_number() OVER (ORDER BY boosted DESC, doc_id) AS rnk
       |           FROM comb)
       |SELECT doc_id, score, floor(factor * 10000 + 0.5) / 10000 AS factor,
       |  floor(boosted * 100 + 0.5) / 100 AS boosted, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 10 ORDER BY rnk""".stripMargin
  ) { (s, dir) =>
    // function_score / field_value_factor (operators/SearchDsl
    // .functionScore): BM25 hits boosted by log1p(n_chars) — the
    // relevance-tuning verb (long docs rank up), multiply boost_mode,
    // top-10 page. The factor is a cheap scan-side expression priced
    // per hit (the corpus-wide cousin of q160's windowed rescore);
    // ranking runs on the RAW product of the rounded BM25 score and
    // the ln factor (one multiply — the q85 chain already relies on
    // cross-engine ln agreement), r2/r4 emission-only. Shape: the
    // hydration join every page pays + a narrow projection; page cut
    // is TakeOrderedAndProject.
    val hits = graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), bm25Terms)
      .select(col("doc_id"), Par.r2(col("score")).as("score"))
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), log(lit(1.0) + col("n_chars").cast("double")).as("f"))
    val fs = graft.operators.SearchDsl.functionScore(hits, docs, col("f"))
    fs.orderBy(col("boosted").desc, col("doc_id")).limit(10)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("boosted").desc, col("doc_id"))))
      .select(col("doc_id"), col("score"), Par.r4(col("factor")).as("factor"),
        Par.r2(col("boosted")).as("boosted"), col("rnk").cast("bigint").as("rnk"))
      .orderBy("rnk")
  }

  // ------------------------- q170: term suggester (SymSpell index)

  val q170_term_suggest: QueryDef = q(
    "q170_term_suggest",
    s"""WITH $docTokSql,
       |vocab AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |    FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY 1),
       |inputs(input) AS (VALUES ('spak'), ('qery'), ('tabel')),
       |cand AS (SELECT i.input, v.term,
       |      CAST(levenshtein(v.term, i.input) AS BIGINT) AS dist, v.df
       |    FROM inputs i, vocab v
       |    WHERE abs(length(v.term) - length(i.input)) <= 2
       |      AND levenshtein(v.term, i.input) <= 2),
       |ranked AS (SELECT input, term, dist, df,
       |      row_number() OVER (PARTITION BY input
       |                         ORDER BY dist, df DESC, term) AS rnk
       |    FROM cand)
       |SELECT input, term, dist, df, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 3 ORDER BY input, rnk""".stripMargin
  ) { (s, dir) =>
    // term suggester / "did you mean" (operators/SearchDsl
    // .termSuggest): top-3 vocabulary corrections for three
    // misspelled inputs, ranked distance-then-frequency like
    // OpenSearch's term suggester with sort: frequency. The engine
    // runs the SymSpell delete-neighborhood index join (vocabulary
    // explodes to its ≤2-delete keys ONCE — the spell index; the
    // query side's few dozen keys broadcast) with exact levenshtein
    // on the candidates only; the ORACLE brute-forces the banded
    // vocabulary scan — the hash gate is therefore a proof that the
    // delete-key candidate generator is LOSSLESS at d ≤ 2, not just
    // a faster heuristic. Scale shape: index build is vocab-sized
    // (persisted bucketed-by-key in production), per-query work is
    // independent of vocabulary size.
    val vocab = textIndexFor(s, dir).df
      .select(col("term"), col("df").cast("long").as("df"))
    graft.operators.SearchDsl
      .termSuggest(vocab, Seq("spak", "qery", "tabel"), maxEdits = 2, topN = 3)
      .select(col("input"), col("term"), col("dist"), col("df"), col("rnk"))
      .orderBy("input", "rnk")
  }

  // ------------------------- q171: span_near proximity query

  val q171_span_near: QueryDef = q(
    "q171_span_near",
    s"""WITH $docTokSql,
       |posn AS (SELECT doc_id, g AS pos, toks[g] AS term
       |    FROM tok, unnest(range(1, len(toks) + 1)) AS u(g)
       |    WHERE toks[g] IN ('data', 'query')),
       |gaps AS (SELECT a.doc_id, CAST(min(abs(a.pos - b.pos) - 1) AS BIGINT) AS min_gap
       |    FROM posn a JOIN posn b ON a.doc_id = b.doc_id
       |    WHERE a.term = 'data' AND b.term = 'query'
       |    GROUP BY a.doc_id),
       |cnt AS (SELECT doc_id,
       |      CAST(sum(CASE WHEN term = 'data' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |      CAST(sum(CASE WHEN term = 'query' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |    FROM posn GROUP BY doc_id)
       |SELECT c.doc_id, n_a, n_b, min_gap
       |FROM cnt c JOIN gaps g ON c.doc_id = g.doc_id
       |WHERE min_gap <= 3 ORDER BY c.doc_id""".stripMargin
  ) { (s, dir) =>
    // span_near proximity query (operators/SearchDsl.spanNear):
    // documents where "data" and "query" occur within 3 intervening
    // tokens, with occurrence counts and the minimum gap — Lucene's
    // SpanNearQuery (in_order = false) over the q102 positional
    // postings. The engine walks each doc's merged occurrence list
    // with ONE lag(1) pass (the min cross-pair gap is realized at an
    // adjacent pair of the position-sorted merge — exchange
    // argument in the scaladoc); the ORACLE brute-forces the
    // quadratic per-doc position join, so the hash gate proves the
    // merge-walk optimization exact. Scale shape: the two terms'
    // postings only, one doc-keyed exchange shared by the window and
    // the reduce.
    graft.operators.SearchDsl.spanNear(
        graft.operators.SearchDsl.positionalPostings(tokenized(s, dir)),
        "data", "query", slop = 3)
      .select(col("doc_id"), col("n_a"), col("n_b"), col("min_gap"))
      .orderBy("doc_id")
  }

  // ------------------------- q172: rank_eval (NDCG / MRR / P / R)

  private val gainCaseSql =
    "CASE rel WHEN 0 THEN 0.0 WHEN 1 THEN 1.0 WHEN 2 THEN 3.0 ELSE 7.0 END"

  val q172_rank_eval: QueryDef = q(
    "q172_rank_eval",
    s"""WITH $docTokSql,
       |$bm25Sql,
       |topd AS (SELECT doc_id, rnk FROM (
       |      SELECT doc_id, row_number() OVER (
       |          ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |      FROM bscored) WHERE rnk <= 10),
       |rels AS (SELECT doc_id,
       |      (CASE WHEN list_contains(toks, 'data') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(toks, 'query') THEN 1 ELSE 0 END) AS rel
       |    FROM tok),
       |page AS (SELECT list_sum(list(term ORDER BY rnk)) AS dcg,
       |      min(CASE WHEN rel >= 2 THEN rnk END) AS first_rel,
       |      CAST(sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |    FROM (SELECT t.rnk, r.rel,
       |          ($gainCaseSql) / ln(CAST(t.rnk + 1 AS DOUBLE)) * ln(CAST(2.0 AS DOUBLE)) AS term
       |        FROM topd t JOIN rels r ON t.doc_id = r.doc_id)),
       |ideal AS (SELECT list_sum(list(term ORDER BY rnk)) AS idcg FROM (
       |      SELECT rnk, ($gainCaseSql) / ln(CAST(rnk + 1 AS DOUBLE)) * ln(CAST(2.0 AS DOUBLE)) AS term
       |      FROM (SELECT rel, row_number() OVER (ORDER BY rel DESC) AS rnk
       |            FROM (SELECT rel FROM rels ORDER BY rel DESC LIMIT 10)))),
       |tot AS (SELECT CAST(sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS total_relevant
       |    FROM rels)
       |SELECT CAST(10 AS BIGINT) AS k, hits, total_relevant,
       |  ${Par.r4sql("dcg")} AS dcg, ${Par.r4sql("idcg")} AS idcg,
       |  ${Par.r4sql("CASE WHEN idcg = 0 THEN 0.0 ELSE dcg / idcg END")} AS ndcg,
       |  ${Par.r4sql("CASE WHEN first_rel IS NULL THEN 0.0 ELSE 1.0 / CAST(first_rel AS DOUBLE) END")} AS mrr,
       |  ${Par.r4sql("CAST(hits AS DOUBLE) / 10")} AS p_at_k,
       |  ${Par.r4sql("CASE WHEN total_relevant = 0 THEN 0.0 ELSE CAST(hits AS DOUBLE) / CAST(total_relevant AS DOUBLE) END")} AS recall_at_k
       |FROM page CROSS JOIN ideal CROSS JOIN tot ORDER BY k""".stripMargin
  ) { (s, dir) =>
    // rank_eval (operators/RankEval): NDCG@10 / MRR / P@10 / R@10 of
    // the q85 BM25 page against graded labels rel = #distinct query
    // terms present (0–3, rel >= 2 binary-relevant) — the search
    // sink's offline ranking-evaluation endpoint, equally the
    // retrieval-quality gate for mined training pairs (q139). The two
    // DCG sums fold sequentially in rank order (the q162 recipe);
    // everything else is scalar arithmetic over exact integers.
    // Scale shape: ONE label pass (mergeable agg + top-k
    // TakeOrderedAndProject), page side broadcast; beyond what the
    // q85 ranking itself pays, metric state is O(k).
    val toksDf = tokenized(s, dir)
    val relDf = toksDf.select(col("doc_id"),
      (when(array_contains(col("toks"), "data"), 1).otherwise(0) +
        when(array_contains(col("toks"), "spark"), 1).otherwise(0) +
        when(array_contains(col("toks"), "query"), 1).otherwise(0)).as("rel"))
    val top = rankedTopByScore(
      graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), bm25Terms), 10, Seq("doc_id"))
    graft.operators.RankEval.rankEval(top, relDf, k = 10, relThreshold = 2)
      .select(col("k"), col("hits"), col("total_relevant"),
        Par.r4(col("dcg")).as("dcg"), Par.r4(col("idcg")).as("idcg"),
        Par.r4(col("ndcg")).as("ndcg"), Par.r4(col("mrr")).as("mrr"),
        Par.r4(col("p_at_k")).as("p_at_k"),
        Par.r4(col("recall_at_k")).as("recall_at_k"))
      .orderBy("k")
  }

  // ------------------------- q173: Flesch readability profile

  private val fleschSql = (w: String, s: String, syl: String) =>
    s"CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * (CAST($w AS DOUBLE) / CAST($s AS DOUBLE))" +
      s" - CAST(84.6 AS DOUBLE) * (CAST($syl AS DOUBLE) / CAST($w AS DOUBLE))"

  val q173_readability: QueryDef = q(
    "q173_readability",
    s"""WITH per AS (SELECT
       |      len(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS w,
       |      greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
       |      len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
       |    FROM documents),
       |f AS (SELECT w, s, syl, ${fleschSql("w", "s", "syl")} AS fl
       |    FROM per WHERE w >= 1),
       |g AS (SELECT CAST(floor(fl / CAST(10.0 AS DOUBLE)) AS BIGINT) AS bucket,
       |      CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(w) AS BIGINT) AS words,
       |      CAST(sum(s) AS BIGINT) AS sentences, CAST(sum(syl) AS BIGINT) AS syllables
       |    FROM f GROUP BY 1)
       |SELECT bucket, n_docs, words, sentences, syllables,
       |  ${Par.r2sql(fleschSql("words", "sentences", "syllables"))} AS bucket_flesch
       |FROM g ORDER BY bucket""".stripMargin
  ) { (s, dir) =>
    // Flesch reading-ease profile (operators/QualityRules
    // .fleschProfile): the readability rung of the quality family —
    // per-doc score from the classic cheap estimators (analyzer
    // tokens / sentence-punctuation runs / vowel-group syllables),
    // bucketed by decade, with EXACT BIGINT count sums per bucket and
    // the bucket score recomputed FROM the sums (the q140 data-card
    // discipline — never a mean of per-doc doubles). Scale shape:
    // three codegen'd regex passes in one narrow scan projection +
    // ONE mergeable hash-agg over ~40 buckets.
    graft.operators.QualityRules.fleschProfile(t(s, dir, "documents"))
      .select(col("bucket"), col("n_docs"), col("words"), col("sentences"),
        col("syllables"), Par.r2(col("bucket_flesch")).as("bucket_flesch"))
      .orderBy("bucket")
  }

  // ------------------------- q174: content-defined chunk dedup

  private val h64CastSql = (x: String) =>
    s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT)"

  val q174_cdc_chunks: QueryDef = q(
    "q174_cdc_chunks",
    s"""WITH $docTokSql,
       |gh AS (SELECT doc_id, toks,
       |      list_transform(range(1, len(toks) - 1), g ->
       |        ${h64CastSql("toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2]")}) AS gh
       |    FROM tok WHERE len(toks) >= 3),
       |bnd AS (SELECT doc_id, toks,
       |      list_transform(list_filter(range(1, len(gh) + 1), g -> gh[g] % 64 = 0),
       |        g -> g + 2) AS e0
       |    FROM gh),
       |en AS (SELECT doc_id, toks,
       |      CASE WHEN len(e0) > 0 AND e0[len(e0)] = len(toks) THEN e0
       |           ELSE list_append(e0, len(toks)) END AS ends
       |    FROM bnd),
       |longc AS (SELECT doc_id,
       |      array_to_string(toks[(CASE WHEN i = 1 THEN 1 ELSE ends[i-1] + 1 END):ends[i]], ' ') AS ctext,
       |      CAST(ends[i] - (CASE WHEN i = 1 THEN 1 ELSE ends[i-1] + 1 END) + 1 AS BIGINT) AS n_toks
       |    FROM en, unnest(range(1, len(ends) + 1)) AS u(i)),
       |shortc AS (SELECT doc_id, array_to_string(toks, ' ') AS ctext,
       |      CAST(len(toks) AS BIGINT) AS n_toks
       |    FROM tok WHERE len(toks) BETWEEN 1 AND 2),
       |allc AS (SELECT doc_id, ${h64CastSql("ctext")} AS ch, n_toks FROM longc
       |         UNION ALL
       |         SELECT doc_id, ${h64CastSql("ctext")}, n_toks FROM shortc),
       |byh AS (SELECT ch, CAST(count(*) AS BIGINT) AS n_occ,
       |      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |      CAST(max(n_toks) AS BIGINT) AS n_toks
       |    FROM allc GROUP BY ch),
       |stats AS (SELECT CAST(sum(n_occ) AS BIGINT) AS n_chunks,
       |      CAST(count(*) AS BIGINT) AS n_distinct,
       |      CAST(sum((n_occ - 1) * n_toks) AS BIGINT) AS dup_tokens,
       |      CAST(sum(n_occ * n_toks) AS BIGINT) AS total_tokens
       |    FROM byh),
       |ranked AS (SELECT ch, n_occ, n_docs, n_toks,
       |      row_number() OVER (ORDER BY n_occ DESC, ch) AS rnk FROM byh)
       |SELECT r.ch, r.n_occ, r.n_docs, r.n_toks, s.n_chunks, s.n_distinct,
       |  s.dup_tokens, s.total_tokens, CAST(r.rnk AS BIGINT) AS rnk
       |FROM ranked r CROSS JOIN stats s WHERE r.rnk <= 10 ORDER BY rnk""".stripMargin
  ) { (s, dir) =>
    // Content-defined chunking dedup (operators/Cdc — the LBFS/FastCDC
    // boundary rule at token granularity): boundaries where the 3-gram
    // h64 ≡ 0 (mod 64), chunk keys = h64 of the chunk text, report =
    // top-10 duplicated chunks + corpus totals (dup_tokens = what CDC
    // dedup would store once). Catches SHIFTED duplication that
    // paragraph keys (q138) miss and whole-doc hashes (q31/q42) can't
    // see. All-integer (md5-h64 + modular arithmetic) — bit-portable.
    // Scale shape: chunking is narrow scan-side array expressions
    // (zero shuffle); the report is one chunk-keyed mergeable hash-agg
    // shuffling 60-bit keys, never chunk text.
    val ch = graft.operators.Cdc.chunks(tokenized(s, dir), k = 3, mod = 64)
    graft.operators.Cdc.dupReport(ch, topN = 10)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n_occ").desc, col("ch"))).cast("long"))
      .select(col("ch"), col("n_occ"), col("n_docs"), col("n_toks"),
        col("n_chunks"), col("n_distinct"), col("dup_tokens"),
        col("total_tokens"), col("rnk"))
      .orderBy("rnk")
  }

  // ------------------------- q175: pair-graph PageRank

  val q175_pair_pagerank: QueryDef = q(
    "q175_pair_pagerank", {
      val S = "CAST(1000000000000 AS BIGINT)"
      val iters = (1 to 5).map { i =>
        s"""pr$i AS (SELECT e.dst AS id, b.b + sum(((r.r * 17) // 20) // d.deg) AS r
           |    FROM edges e JOIN pr${i - 1} r ON r.id = e.src
           |    JOIN deg d ON d.id = e.src CROSS JOIN basev b
           |    GROUP BY e.dst, b.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH $shinglesSql,
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS MATERIALIZED (SELECT id1, id2
         |          FROM inter JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
         |          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
         |edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |deg AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         |basev AS (SELECT ($S * 3) // 20 // n AS b FROM nn),
         |pr0 AS (SELECT id, $S // n AS r FROM deg CROSS JOIN nn),
         |$iters,
         |ranked AS (SELECT p.id, d.deg, CAST(p.r AS BIGINT) AS rank_scaled,
         |      row_number() OVER (ORDER BY p.r DESC, p.id) AS rnk
         |    FROM pr5 p JOIN deg d ON d.id = p.id)
         |SELECT id AS doc_id, deg, rank_scaled, CAST(rnk AS BIGINT) AS rnk
         |FROM ranked WHERE rnk <= 10 ORDER BY rnk""".stripMargin
    }
  ) { (s, dir) =>
    // PageRank centrality over the q32 Jaccard pair graph
    // (operators/Graph.pageRank): 5 damped rounds (d = 17/20) in
    // SCALED 64-BIT INTEGERS — per-edge contribution (r·17) div 20 div
    // deg, order-free long sums — so every iterate is bit-identical
    // under any partitioning and the oracle replays the exact fixpoint
    // path with // division (the Common-Crawl-style centrality prior,
    // ranking WITHIN duplication neighborhoods where q72 only names
    // the cluster). Top-10 nodes by final rank. Scale shape: one join
    // + one mergeable hash-agg per round over pair-graph-sized state,
    // each round localCheckpointed flat.
    val rank = graft.operators.Graph.pageRank(
      jaccardPairs(s, dir).select("id1", "id2"), iters = 5)
    rank.orderBy(col("r").desc, col("id")).limit(10)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("r").desc, col("id"))).cast("long"))
      .select(col("id").as("doc_id"), col("deg"),
        col("r").as("rank_scaled"), col("rnk"))
      .orderBy("rnk")
  }

  // ------------------------- q176/q177: pipeline aggs + rate anomalies

  /** The dense daily (event_type × day) grid CTE chain shared by the
    * q176 pipeline aggregations and the q177 anomaly report (DuckDB
    * side of SearchDsl.dateHistogramGrid).
    */
  private val dayGridSql =
    """bounds AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events),
      |days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS cnt
      |    FROM events GROUP BY 1, 2),
      |grid AS (SELECT t.event_type, d.day, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
      |    FROM days d CROSS JOIN types t
      |    LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type)""".stripMargin

  val q176_pipeline_aggs: QueryDef = q(
    "q176_pipeline_aggs",
    s"""WITH $dayGridSql
       |SELECT event_type, day, cnt,
       |  CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt,
       |  cnt - lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS deriv,
       |  ${Par.r4sql("CAST(sum(cnt) OVER w3 AS DOUBLE) / count(*) OVER w3")} AS mov_avg
       |FROM grid
       |WINDOW w3 AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |ORDER BY event_type, day""".stripMargin
  ) { (s, dir) =>
    // date_histogram + the pipeline-aggregation family (operators/
    // SearchDsl.dateHistogramPipeline): cumulative_sum, derivative and
    // a trailing-3 moving_fn mean over DENSE daily buckets
    // (min_doc_count: 0 + extended_bounds — a silent day is a zero
    // bucket, so derivative never silently skips gaps). Counts are
    // exact longs; the moving mean is one scalar division of the
    // window's exact sum. Scale shape: ONE corpus shuffle (the
    // (type, day) count agg); the windows run over the days × types
    // grid — time-bounded metadata, never events.
    graft.operators.SearchDsl.dateHistogramPipeline(
        t(s, dir, "events"), "event_type", "ts", window = 3)
      .select(col("key").as("event_type"), col("day"), col("cnt"),
        col("cum_cnt"), col("deriv"), Par.r4(col("mov_avg")).as("mov_avg"))
      .orderBy("event_type", "day")
  }

  val q177_rate_anomalies: QueryDef = q(
    "q177_rate_anomalies",
    s"""WITH $dayGridSql,
       |med AS (SELECT event_type, quantile_cont(cnt, 0.5) AS med FROM grid GROUP BY 1),
       |mad AS (SELECT g.event_type,
       |      quantile_cont(abs(CAST(cnt AS DOUBLE) - med), 0.5) AS mad
       |    FROM grid g JOIN med USING (event_type) GROUP BY 1),
       |z AS (SELECT g.event_type, g.day, g.cnt, m.med, d.mad,
       |      CASE WHEN d.mad = 0 THEN 0.0
       |           ELSE (CAST(g.cnt AS DOUBLE) - m.med) / (CAST(1.4826 AS DOUBLE) * d.mad)
       |      END AS z
       |    FROM grid g JOIN med m USING (event_type) JOIN mad d USING (event_type)),
       |ranked AS (SELECT *, row_number() OVER (
       |      ORDER BY floor(abs(z) * 10000 + 0.5) / 10000 DESC, event_type, day) AS rnk
       |    FROM z)
       |SELECT event_type, day, cnt, ${Par.r2sql("med")} AS med,
       |  ${Par.r2sql("mad")} AS mad, ${Par.r4sql("z")} AS z,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= 10 ORDER BY rnk""".stripMargin
  ) { (s, dir) =>
    // Robust rate-anomaly report (operators/Monitoring
    // .robustAnomalies): per-type median/MAD z-scores over the SAME
    // dense grid — the analytical half of the reference's CloudWatch
    // monitoring surface (kds_example/iac/s2_app.py:91-118). Median/
    // MAD, not mean/stddev: rate series contain the anomalies being
    // hunted and moment statistics chase them. Top-10 buckets by
    // ROUNDED |z| (the q85 ranking discipline). Scale shape: beyond
    // the grid's one count shuffle, two grid-sized mergeable medians
    // joined back broadcast.
    val grid = graft.operators.SearchDsl.dateHistogramGrid(
      t(s, dir, "events"), "event_type", "ts")
    graft.operators.Monitoring.robustAnomalies(grid, topN = 10)
      .select(col("key").as("event_type"), col("day"), col("cnt"),
        Par.r2(col("med")).as("med"), Par.r2(col("mad")).as("mad"),
        Par.r4(col("z")).as("z"), col("rnk"))
      .orderBy("rnk")
  }

  // ------------------------- q178: adjacency_matrix aggregation

  val q178_adjacency_matrix: QueryDef = q(
    "q178_adjacency_matrix",
    s"""WITH $docTokSql,
       |bits AS (SELECT
       |      CASE WHEN list_contains(toks, 'data') THEN 1 ELSE 0 END AS b1,
       |      CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END AS b2,
       |      CASE WHEN list_contains(toks, 'query') THEN 1 ELSE 0 END AS b3
       |    FROM tok),
       |m AS (SELECT CAST(sum(b1) AS BIGINT) AS c1, CAST(sum(b2) AS BIGINT) AS c2,
       |      CAST(sum(b3) AS BIGINT) AS c3,
       |      CAST(sum(b1 * b2) AS BIGINT) AS c12, CAST(sum(b1 * b3) AS BIGINT) AS c13,
       |      CAST(sum(b2 * b3) AS BIGINT) AS c23
       |    FROM bits)
       |SELECT k AS key, v AS doc_count FROM (
       |  SELECT unnest(['data', 'data&query', 'data&spark', 'query',
       |                 'spark', 'spark&query']) AS k,
       |         unnest([c1, c13, c12, c3, c2, c23]) AS v FROM m)
       |ORDER BY key""".stripMargin
  ) { (s, dir) =>
    // adjacency_matrix aggregation (OpenSearch): doc counts for each
    // named filter and each pairwise intersection — the co-occurrence
    // matrix behind "which topics overlap" panels. Filters here are
    // term memberships (data/spark/query). ONE corpus pass: membership
    // bits are scan-side, all 6 cells come from a single mergeable
    // scalar agg (ES evaluates filter pairs per doc the same way);
    // the reshape to (key, doc_count) rows is a 1-row explode. Keys
    // use ES's "&" intersection spelling, components alphabetical.
    val bits = tokenized(s, dir).select(
      array_contains(col("toks"), "data").cast("long").as("b1"),
      array_contains(col("toks"), "spark").cast("long").as("b2"),
      array_contains(col("toks"), "query").cast("long").as("b3"))
    bits.agg(
        sum(col("b1")).as("c1"), sum(col("b2")).as("c2"),
        sum(col("b3")).as("c3"),
        sum(col("b1") * col("b2")).as("c12"),
        sum(col("b1") * col("b3")).as("c13"),
        sum(col("b2") * col("b3")).as("c23"))
      .select(explode(map(
        lit("data"), col("c1"), lit("data&query"), col("c13"),
        lit("data&spark"), col("c12"), lit("query"), col("c3"),
        lit("spark"), col("c2"), lit("spark&query"), col("c23")))
        .as(Seq("key", "doc_count")))
      .orderBy("key")
  }

  // ------------------------- q179: terms_set query

  val q179_terms_set: QueryDef = q(
    "q179_terms_set",
    s"""WITH $docTokSql,
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |      CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM tok),
       |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |    FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
       |    WHERE term IN ('data', 'spark', 'query') GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, count(*) AS n_terms,
       |      sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
       |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
       |    FROM tf JOIN df USING (term) CROSS JOIN stats GROUP BY doc_id),
       |hits AS (SELECT doc_id, n_terms, score FROM sc WHERE n_terms >= 2),
       |ranked AS (SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms, score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM hits)
       |SELECT doc_id, n_terms, floor(score * 100 + 0.5) / 100 AS score,
       |  CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // terms_set query (OpenSearch): match documents containing at
    // least minimum_should_match of the term set — the middle ground
    // between q85's OR-match and q104's AND-must. Falls out of
    // Retrieval.bm25's n_terms (the per-doc matched-clause count its
    // agg already carries): filter n_terms >= 2 of {data, spark,
    // query}, score = BM25 over the matched terms only (Lucene's
    // CoveringQuery scores the same way), top-10 by rounded score.
    // Scale shape: exactly q85's — one corpus shuffle, stats/df
    // broadcast, TakeOrderedAndProject page cut.
    val scored = graft.operators.Retrieval.bm25FromIndex(textIndexFor(s, dir), bm25Terms)
      .filter(col("n_terms") >= 2)
    rankedTopByScore(scored, 10, Seq("doc_id"))
      .select(col("doc_id"), col("n_terms").cast("long").as("n_terms"),
        Par.r2(col("score")).as("score"), col("rnk").cast("bigint").as("rank"))
      .orderBy("rank")
  }

  // ------------------------- q180: IVF index-quality card

  val q180_ivf_quality: QueryDef = q(
    "q180_ivf_quality",
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT CAST(rn - 1 AS INT) AS cell, embedding AS cv FROM
       |       (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding FROM v) WHERE rn <= 8),
       |${ivfAssignSql("a1", "c0")}, ${ivfCentroidSql("c1", "a1", "c0")},
       |${ivfAssignSql("a2", "c1")}, ${ivfCentroidSql("c2", "a2", "c1")},
       |${ivfAssignSql("a3", "c2")}, ${ivfCentroidSql("c3", "a3", "c2")},
       |asg AS (SELECT vec_id, cell, dist FROM (
       |    SELECT v.vec_id, c.cell, ${ivfSqDistSql("v.embedding", "c.cv")} AS dist,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfSqDistSql("v.embedding", "c.cv")}, c.cell) AS rn
       |    FROM v CROSS JOIN c3 c) WHERE rn = 1),
       |qd AS (SELECT cell, CAST(floor(dist * 1000000 + 0.5) AS BIGINT) AS qd FROM asg),
       |per AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
       |      CAST(sum(qd) AS BIGINT) AS sum_qdist,
       |      CAST(max(qd) AS BIGINT) AS max_qdist
       |    FROM qd GROUP BY cell),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM per)
       |SELECT CAST(cell AS INT) AS cell, n, sum_qdist, max_qdist,
       |  ${Par.r4sql("CAST(sum_qdist AS DOUBLE) / CAST(n * 1000000 AS DOUBLE)")} AS mean_sqdist,
       |  ${Par.r4sql("CAST(n AS DOUBLE) / CAST(total AS DOUBLE)")} AS share
       |FROM per CROSS JOIN tot ORDER BY cell""".stripMargin
  ) { (s, dir) =>
    // IVF index-quality card (operators/Ivf.cellQuality) over the
    // shared frozen q73/q139/q163 model: per-cell population, inertia
    // and corpus share — the health report behind re-train/split
    // decisions (hot cells are probe hot-spots, high-inertia cells
    // under-serve recall; FAISS's imbalance factor). Distances are
    // the codegen'd sqdist_f (bit-identical twin of the oracle's
    // REAL-cast replay) quantized per row to 1e-6 units so the
    // inertia sums are ORDER-FREE long sums (the q175 integer-sum
    // rule). One broadcast + one k-row mergeable agg.
    val model = ivfModel(s, dir)
    val indexed = graft.operators.Ivf.index(vectors(s, dir), model)
    graft.operators.Ivf.cellQuality(s, indexed, model)
      .select(col("cell").cast("int").as("cell"), col("n"),
        col("sum_qdist"), col("max_qdist"),
        Par.r4(col("mean_sqdist")).as("mean_sqdist"),
        Par.r4(col("share")).as("share"))
      .orderBy("cell")
  }

  // ------------------------- q181: contrastive training triples

  val q181_training_triples: QueryDef = q(
    "q181_training_triples",
    s"""WITH $shinglesSql,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairsj AS MATERIALIZED (SELECT id1, id2,
       |      CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
       |    FROM inter JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
       |    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
       |anchors AS MATERIALIZED (SELECT id1 AS aid, id2 AS pos_id, jaccard
       |    FROM pairsj ORDER BY jaccard DESC, id1, id2 LIMIT 5),
       |tok2 AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
       |    FROM documents),
       |post AS MATERIALIZED (SELECT term, doc_id, count(*) AS tf
       |    FROM (SELECT doc_id, unnest(toks) AS term FROM tok2) GROUP BY 1, 2),
       |idf AS MATERIALIZED (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok2),
       |aterms AS (SELECT aid, term FROM (
       |    SELECT a.aid, p.term,
       |      row_number() OVER (PARTITION BY a.aid
       |        ORDER BY p.tf * ln((st.n + 1.0) / (idf.df + 1.0)) DESC, p.term) AS rnk
       |    FROM anchors a JOIN post p ON p.doc_id = a.aid
       |    JOIN idf USING (term) CROSS JOIN st) WHERE rnk <= 3),
       |scored AS (SELECT t.aid, p.doc_id,
       |      sum(p.tf * ln((st.n + 1.0) / (idf.df + 1.0))) AS score
       |    FROM aterms t JOIN post p USING (term)
       |    JOIN idf USING (term) CROSS JOIN st GROUP BY 1, 2),
       |elig AS (SELECT s.aid, a.pos_id, a.jaccard, s.doc_id, s.score
       |    FROM scored s JOIN anchors a USING (aid)
       |    WHERE s.doc_id <> s.aid AND s.doc_id <> a.pos_id
       |      AND NOT EXISTS (SELECT 1 FROM pairsj pp
       |        WHERE (pp.id1 = s.aid AND pp.id2 = s.doc_id)
       |           OR (pp.id2 = s.aid AND pp.id1 = s.doc_id))),
       |best AS (SELECT aid, pos_id, jaccard, doc_id, score,
       |      row_number() OVER (PARTITION BY aid
       |        ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM elig)
       |SELECT aid AS anchor, pos_id AS positive,
       |  ${Par.r4sql("jaccard")} AS jaccard, doc_id AS negative,
       |  ${Par.r2sql("score")} AS neg_score
       |FROM best WHERE rnk = 1 ORDER BY anchor""".stripMargin
  ) { (s, dir) =>
    // Contrastive training triples (operators/Triples.mine — the DPR
    // BM25-negatives recipe, Karpukhin 2020 §3.2): positives from the
    // q32 near-dup pair graph (top-5 anchors by Jaccard), hard
    // negatives = the top tf·idf hit under each anchor's mltTerms
    // query that is not the anchor, the gold positive, or a direct
    // pair partner. The end-to-end proof that the engine's dedup and
    // retrieval artifacts compose into model-ready training rows.
    // Scale shape: anchors are a pair-frame top-k; anchor terms touch
    // only the anchors' postings rows; candidate scoring is one
    // postings-sized shuffle; the per-anchor cut is the window-free
    // min(struct) aggregate.
    graft.operators.Triples.mine(jaccardPairs(s, dir),
        textIndexFor(s, dir), nAnchors = 5, termsPerAnchor = 3)
      .select(col("anchor"), col("positive"),
        Par.r4(col("jaccard")).as("jaccard"), col("negative"),
        col("neg_score"))
      .orderBy("anchor")
  }

  // ------------------------- q182: rare_terms aggregation

  val q182_rare_terms: QueryDef = q(
    "q182_rare_terms",
    s"""WITH $shinglesSql,
       |vocab AS (SELECT shingle AS term, CAST(count(*) AS BIGINT) AS df
       |    FROM sh GROUP BY 1)
       |SELECT term, df FROM vocab WHERE df <= 2
       |ORDER BY df, term LIMIT 50""".stripMargin
  ) { (s, dir) =>
    // rare_terms aggregation (operators/SearchDsl.rareTerms): the
    // long-tail counterpart of q159's significant_terms, run over the
    // 3-shingle PHRASE vocabulary (the synthetic word vocabulary is
    // 31 dense terms — no rare words exist; rare PHRASES are also the
    // operationally interesting answer: near-unique boilerplate,
    // identifier leakage, contamination tells). Dictionary terms in
    // at most 2 documents, first 50 by (df, term). A plain predicate
    // on the corpus-distinct dictionary — never corpus-sized work
    // (ES needs a CuckooFilter sweep for the same answer because its
    // per-shard agg model lacks this global df table).
    val vocab = shingles(s, dir)
      .groupBy(col("shingle").as("term"))
      .agg(count(lit(1)).as("df"))
    graft.operators.SearchDsl.rareTerms(vocab, maxDocCount = 2L)
      .orderBy("df", "term").limit(50)
      .select(col("term"), col("df"))
      .orderBy("df", "term")
  }

  // ------------------------------------------ q183: multi_match

  /** Per-field BM25 CTE chain (DuckDB) parameterized by the token
    * column: the q85 chain with every CTE name prefixed so two fields'
    * chains coexist in one query. Terms fixed to ('data', 'spark').
    */
  private def fieldBm25Sql(p: String, toksCol: String): String =
    s"""${p}stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |      CAST(sum(len($toksCol)) AS DOUBLE) / count(*) AS avgdl FROM fld),
       |${p}tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |    FROM (SELECT doc_id, len($toksCol) AS dl, unnest($toksCol) AS term FROM fld)
       |    WHERE term IN ('data', 'spark') GROUP BY 1, 2),
       |${p}df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM ${p}tf GROUP BY 1),
       |${p}sc AS (SELECT doc_id,
       |      sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
       |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
       |    FROM ${p}tf JOIN ${p}df USING (term) CROSS JOIN ${p}stats GROUP BY doc_id)""".stripMargin

  val q183_multi_match: QueryDef = q(
    "q183_multi_match",
    s"""WITH $docTokSql,
       |fld AS (SELECT doc_id, toks AS body, toks[1:8] AS title FROM tok),
       |${fieldBm25Sql("b", "body")},
       |${fieldBm25Sql("t", "title")},
       |clauses AS (SELECT doc_id, score * 1.0 AS score FROM bsc
       |    UNION ALL SELECT doc_id, score * 2.0 AS score FROM tsc),
       |dm AS (SELECT doc_id, max(score) + 0.3 * (sum(score) - max(score)) AS score
       |    FROM clauses GROUP BY doc_id),
       |ranked AS (SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM dm)
       |SELECT doc_id, score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // multi_match best_fields (operators/SearchDsl.multiMatch): ONE
    // query string across two fields — a title projection (the doc's
    // first 8 tokens, boost 2.0: short fields deserve their own length
    // norm AND a boost, which is the entire reason the verb exists)
    // and the body (boost 1.0) — each field scored by BM25 under ITS
    // OWN corpus statistics (per-field df/avgdl, Lucene's per-field
    // index semantics), combined disjunction-max with tie 0.3 (Lucene
    // compiles best_fields to exactly that DisjunctionMaxQuery). The
    // oracle replays both per-field chains verbatim. Scale shape: two
    // postings-bounded scoring aggs + one per-doc combine agg — the
    // title projection is scan-side slice(), never a second corpus.
    val mm = graft.operators.SearchDsl.multiMatchFromIndexes(
        Seq((textIndexFor(s, dir), 1.0), (titleIndexFor(s, dir), 2.0)),
        Seq("data", "spark"),
        matchType = "best_fields", tieBreaker = 0.3)
      .select(col("doc_id"), Par.r2(col("score")).as("score"))
    rankedTopByScore(mm, 10, Seq("doc_id"))
      .select(col("doc_id"), col("score"), col("rnk").cast("bigint").as("rank"))
      .orderBy("rank")
  }

  // ------------------------------------------ q184: boosting query

  val q184_boosting: QueryDef = q(
    "q184_boosting",
    s"""WITH $docTokSql,
       |fld AS (SELECT doc_id, toks AS body FROM tok),
       |${fieldBm25Sql("b", "body")},
       |neg AS (SELECT DISTINCT doc_id FROM tok WHERE list_contains(toks, 'model')),
       |demoted AS (SELECT s.doc_id,
       |      CASE WHEN n.doc_id IS NOT NULL THEN s.score * 0.3 ELSE s.score END AS score
       |    FROM bsc s LEFT JOIN neg n ON s.doc_id = n.doc_id),
       |ranked AS (SELECT doc_id, floor(score * 100 + 0.5) / 100 AS score,
       |      row_number() OVER (ORDER BY floor(score * 100 + 0.5) / 100 DESC, doc_id) AS rnk
       |    FROM demoted)
       |SELECT doc_id, score, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // boosting query (operators/SearchDsl.boosting): rank by the
    // positive clause (BM25 on 'data spark') but DEMOTE — never
    // exclude — docs matching the negative clause (contains 'model'),
    // negative_boost 0.3. must_not EXCLUDES; this keeps the doc on
    // the page ranked down, the "prefer not" verb. One left join of
    // query-bounded hits against the negative id set; the demotion is
    // one IEEE multiply, so the rounded emission composes exactly.
    val idx = textIndexFor(s, dir)
    val positive = graft.operators.Retrieval
      .bm25FromIndex(idx, Seq("data", "spark"))
      .select(col("doc_id"), col("score"))
    // The negative id set from the index: postings are unique per
    // (term, doc), so this IS `array_contains(toks, 'model')` resolved
    // the inverted-index way (boosting distincts defensively anyway).
    val negative = idx.postings
      .filter(col("term") === "model").select(col("doc_id"))
    val demoted = graft.operators.SearchDsl
      .boosting(positive, negative, negativeBoost = 0.3)
      .select(col("doc_id"), Par.r2(col("score")).as("score"))
    rankedTopByScore(demoted, 10, Seq("doc_id"))
      .select(col("doc_id"), col("score"), col("rnk").cast("bigint").as("rank"))
      .orderBy("rank")
  }

  // ------------------------------------------ q185: completion suggester

  val q185_completion: QueryDef = q(
    "q185_completion",
    s"""WITH $docTokSql,
       |v AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |    FROM (SELECT DISTINCT doc_id, unnest(toks) AS term FROM tok)
       |    GROUP BY 1),
       |ranked AS (SELECT term, df AS weight,
       |      row_number() OVER (ORDER BY df DESC, term) AS rnk
       |    FROM v WHERE term LIKE 's%')
       |SELECT term, weight, CAST(rnk AS BIGINT) AS rank
       |FROM ranked WHERE rnk <= 10 ORDER BY rank""".stripMargin
  ) { (s, dir) =>
    // completion suggester (operators/SearchDsl.completionSuggest):
    // search-as-you-type over the term DICTIONARY — terms starting
    // with the typed prefix ranked by document frequency (q170's
    // termSuggest is the fuzzy AFTER-the-typo sibling; this is the
    // before). Runs against the materialized text index's df frame
    // (the artifact a suggester service loads — vocab-sized, never
    // postings, never corpus text), prefix filter scan-side, cut by
    // TakeOrderedAndProject.
    val index = graft.operators.Retrieval.buildTextIndex(tokenized(s, dir))
    val top = graft.operators.SearchDsl
      .completionSuggest(index.df, prefix = "s", size = 10)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("weight").desc, col("term"))))
    top.select(col("term"), col("weight"), col("rnk").cast("bigint").as("rank"))
      .orderBy("rank")
  }

  val all: Seq[QueryDef] = Seq(
    q31_dedup_exact, q32_neardup_jaccard, q33_similarity_topk,
    q34_token_stats, q35_tfidf, q41_text_quality, q42_fingerprint,
    q43_minhash_sig, q44_lsh_pairs, q45_simhash, q46_embed_neardup,
    q47_multimodal_binary, q50_token_count, q51_langid, q51b_langid_nb,
    q65_text_match,
    q66_decontaminate, q67_hash_sample, q68_token_budget, q69_ann_lsh,
    q70_mixture_sample, q71_repetition, q72_cluster_dedup, q73_ann_ivf,
    q74_quantized_ann, q75_semdedup, q76_pq_ann, q77_ivfpq_ann,
    q78_opq_ann, q79_lm_score, q80_source_kl, q81_dup_gram_fraction,
    q82_curation_pipeline, q83_ann_recall, q84_dsir_weights, q85_bm25,
    q86_hybrid_rrf, q87_span_dedup, q88_span_coverage, q89_filtered_ann,
    q90_chunking, q91_source_budget, q92_full_curation, q93_passage_bm25,
    q94_bm25_postings, q95_decontaminate_spans, q96_pq_recall,
    q97_ivfpq_recall, q98_opq_recall, q99_opq_learned,
    q100_opq_learned_recall, q101_image_decode, q102_phrase_match,
    q103_fuzzy_match, q104_bool_search, q105_more_like_this,
    q106_nb_quality, q107_highlight, q108_prefix_search, q109_facets,
    q110_search_after, q111_percolate, q112_wildcard, q116_search_request, q117_source_overlap,
    q118_lsh_recall, q119_int8_recall, q120_ann_lsh_multi, q121_lsh_multi_recall, q124_query_string,
    q125_dis_max, q127_histogram, q131_stratified_sample, q132_weighted_sample,
    q133_pii_redact, q134_text_fix, q135_gopher_rules, q136_ccnet_buckets,
    q137_pack_sequences, q138_paragraph_dedup, q139_hard_negatives,
    q140_data_card, q141_shard_plan, q142_card_redact, q143_line_dedup,
    q144_soft_dedup, q145_bpe_merges, q146_bpe_encode, q147_mrl_recall,
    q148_blocklist_filter, q149_url_dedup, q150_markup_strip,
    q151_fertility_report, q152_image_neardup, q153_gopher_repetition,
    q154_delivery_to_shards, q155_backoff_lm, q156_countmin_heavy,
    q157_hll_distinct, q158_hist_quantiles, q159_significant_terms,
    q160_rescore, q161_collapse, q162_temperature_mix, q163_prototypes,
    q164_winnow_pairs, q165_composite_agg, q166_bloom_filter,
    q167_topk_terms, q168_jl_recall, q169_function_score,
    q170_term_suggest, q171_span_near, q172_rank_eval, q173_readability,
    q174_cdc_chunks, q175_pair_pagerank, q176_pipeline_aggs,
    q177_rate_anomalies, q178_adjacency_matrix, q179_terms_set,
    q180_ivf_quality, q181_training_triples, q182_rare_terms,
    q183_multi_match, q184_boosting, q185_completion)
}
