package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical n-gram language-model scoring for corpus curation — the
  * CCNet-style quality filter (Wenzek et al., "CCNet: Extracting High
  * Quality Monolingual Datasets from Web Crawl Data", LREC 2020): score
  * every document by how predictable its text is under a language model
  * trained on the corpus itself, then filter/bucket on the score. The
  * reference's pipeline has no statistical quality stage (its transform
  * is a per-record status map, `kds_example/lbd/common.py:7-33`); this
  * operator adds the standard one a 100 TB training-data pipeline runs
  * between heuristic filtering (q41) and dedup.
  *
  * The model is an add-one-smoothed bigram LM over word tokens:
  *
  *   P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)
  *
  * with c(·) corpus counts, V the unigram vocabulary size, and every
  * token position counted in c(w1) (doc-final tokens included — the
  * simplest convention, stated so the oracle can replay it). A document
  * scores its mean negative log-likelihood per bigram:
  *
  *   nll(doc) = − (1/n) Σ_positions ln P(w2 | w1)
  *
  * — low = fluent/repetitive-in-corpus-patterns, high = out-of-
  * distribution garble. (True perplexity is exp(nll); the exp adds no
  * information and one more transcendental to drift, so the score stays
  * in log space.)
  *
  * Scale shape: counts are hash-aggregated (mergeable partial aggs, one
  * shuffle each on unigram / bigram key); scoring joins the per-doc
  * bigram tf against the count tables on their natural keys (sort-merge
  * at web-scale vocabularies, AQE demotes to broadcast when the vocab is
  * small) and reduces per doc_id. Nothing is driver-sized except V — a
  * scalar. At 100 TB the count tables are a reusable model artifact:
  * train once, write, score any number of shards against them.
  */
object NgramLm {

  /** Bigram LM counts. `unigrams`: (w, c1); `bigrams`: (w1, w2, c2);
    * `vocab`: |distinct w| — the smoothing denominator's V.
    */
  final case class Model(unigrams: DataFrame, bigrams: DataFrame, vocab: Long)

  /** Adjacent token pairs of a `toks` array column (docs with fewer
    * than 2 tokens yield an empty array). Codegen'd kernel (round-14;
    * was an interpreted transform(sequence(...)) HOF — NgramExprSpec
    * pins the struct-tuple equivalence).
    */
  private val bigramExpr = graft.functions.Ngrams.wordNgramStructs(col("toks"), 2)

  /** Count unigrams and bigrams over (doc_id, toks). Two shuffles, both
    * key-partitioned with map-side partial aggregation. The count
    * tables localCheckpoint EAGERLY (training is the action, the
    * `Dsir.train` pattern): each is consumed more than once per model
    * use — uni by the vocab count AND every score/divergence join, bi
    * by every score join — and without the materialization each
    * consumer re-runs the corpus tokenize-explode-aggregate lineage.
    * The vocab count then reads O(V) materialized blocks.
    */
  def train(toks: DataFrame): Model = {
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
      .localCheckpoint(true)
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(bigramExpr).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    Model(uni, bi, uni.count())
  }

  /** Per-document mean bigram NLL under `model`:
    * (doc_id, n_bigrams, nll). Docs with < 2 tokens have no bigram
    * positions and drop out (no row — a 0/0 score would be a lie).
    * Unseen grams (scoring held-out text) smooth through the +1 / +V
    * left-join coalesce; scoring the training corpus itself makes both
    * joins effectively inner.
    */
  def score(toks: DataFrame, model: Model): DataFrame = {
    // Per-doc bigram term frequency first: the count-table joins then
    // touch one row per DISTINCT (doc, bigram), not one per position.
    val tf = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(bigramExpr).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    tf.join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.unigrams.withColumnRenamed("w", "w1"), Seq("w1"), "left")
      .select(col("doc_id"), col("tf"),
        (coalesce(col("c2"), lit(0L)) + lit(1.0)).as("num"),
        (coalesce(col("c1"), lit(0L)) + lit(model.vocab.toDouble)).as("den"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        (-sum(col("tf") * log(col("num") / col("den"))) / sum(col("tf")))
          .as("nll"))
  }

  /** Collect a trained [[Model]] into the broadcastable form consumed
    * by the compiled scan-side scorer
    * ([[graft.functions.LmFunctions.lmScoreBigram]] — zero exchanges;
    * see LmExpressions.scala for the fusion argument), size-gated:
    * None when the count tables exceed the driver-local bound
    * ([[DriverLocal]]; above it callers stay on the key-partitioned
    * join spelling, the general-vocabulary scale path). The gate
    * reads O(1) counts off the localCheckpointed tables; the collect
    * is the SAME driver materialization a broadcast-join plan would
    * ship per scoring pass, done once and memoized beside the model.
    * At 100 TB this is the production CCNet shape: the quality LM is
    * a fixed-size pretrained artifact broadcast once; an unbounded
    * corpus-trained vocabulary falls back to the joins.
    */
  def localize(model: Model): Option[graft.functions.LmScoreKernel.LocalBigramModel] =
    if (!DriverLocal.fits(model.vocab + model.bigrams.count())) None
    else Some(graft.functions.LmScoreKernel.LocalBigramModel(
      collectUnigrams(model.unigrams, "w", "c1"),
      collectBigrams(model.bigrams), model.vocab))

  /** [[localize]]'s backoff sibling for
    * [[graft.functions.LmFunctions.lmScoreBackoff]]; same gate over
    * uni + bi + tri rows.
    */
  def localizeBackoff(model: BackoffModel):
      Option[graft.functions.LmScoreKernel.LocalBackoffModel] = {
    import org.apache.spark.unsafe.types.UTF8String
    if (!DriverLocal.fits(model.vocab + model.bigrams.count() + model.trigrams.count()))
      return None
    val tri = new java.util.HashMap[UTF8String,
      java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Long]]]()
    model.trigrams.select(col("w1"), col("w2"), col("w3"), col("c3")).collect()
      .foreach { r =>
        val outer = tri.computeIfAbsent(UTF8String.fromString(r.getString(0)),
          _ => new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Long]]())
        outer.computeIfAbsent(UTF8String.fromString(r.getString(1)),
          _ => new java.util.HashMap[UTF8String, java.lang.Long]())
          .put(UTF8String.fromString(r.getString(2)), r.getLong(3))
      }
    Some(graft.functions.LmScoreKernel.LocalBackoffModel(
      collectUnigrams(model.unigrams, "w", "c1"),
      collectBigrams(model.bigrams), tri, model.total, model.vocab))
  }

  private def collectUnigrams(df: DataFrame, k: String, v: String) = {
    import org.apache.spark.unsafe.types.UTF8String
    val m = new java.util.HashMap[UTF8String, java.lang.Long]()
    df.select(col(k), col(v)).collect()
      .foreach(r => m.put(UTF8String.fromString(r.getString(0)), r.getLong(1)))
    m
  }

  private def collectBigrams(df: DataFrame) = {
    import org.apache.spark.unsafe.types.UTF8String
    val m = new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Long]]()
    df.select(col("w1"), col("w2"), col("c2")).collect()
      .foreach { r =>
        m.computeIfAbsent(UTF8String.fromString(r.getString(0)),
          _ => new java.util.HashMap[UTF8String, java.lang.Long]())
          .put(UTF8String.fromString(r.getString(1)), r.getLong(2))
      }
    m
  }

  /** [[score]] through the compiled kernel: (doc_id, n_bigrams, nll)
    * with identical rounded values (LmLocalSpec pins the equivalence;
    * raw doubles differ only in per-doc sum order, the class the
    * engine/oracle gate already accepts). Zero exchanges.
    */
  def scoreLocal(toks: DataFrame,
      model: graft.functions.LmScoreKernel.LocalBigramModel): DataFrame =
    toks.select(col("doc_id"),
        graft.functions.LmFunctions.lmScoreBigram(col("toks"), model).as("s"))
      .filter(col("s").isNotNull) // the join spelling's short-doc drop
      .select(col("doc_id"), col("s.n").as("n_bigrams"), col("s.nll").as("nll"))

  /** [[scoreBackoff]] through the compiled kernel:
    * (doc_id, n_trigrams, nll), same equivalence contract as
    * [[scoreLocal]].
    */
  def scoreBackoffLocal(toks: DataFrame,
      model: graft.functions.LmScoreKernel.LocalBackoffModel): DataFrame =
    toks.select(col("doc_id"),
        graft.functions.LmFunctions.lmScoreBackoff(col("toks"), model).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), col("s.n").as("n_trigrams"), col("s.nll").as("nll"))

  /** Stupid-backoff trigram model (Brants et al. 2007, "Large Language
    * Models in Machine Translation" §4 — the web-scale LM recipe:
    * unnormalized relative frequencies with a fixed backoff factor,
    * no discounting, which is what makes the model a closed form over
    * exact counts and therefore oracle-replayable like [[Model]]).
    * `total` = training token positions N; `vocab` = |training
    * unigrams| (the add-one denominator at the unigram floor).
    */
  final case class BackoffModel(unigrams: DataFrame, bigrams: DataFrame,
      trigrams: DataFrame, total: Long, vocab: Long)

  private val trigramExpr = graft.functions.Ngrams.wordNgramStructs(col("toks"), 3)

  /** Count uni/bi/trigrams over (doc_id, toks) — three mergeable
    * hash-aggs, each localCheckpointed eagerly (the [[train]]
    * pattern: every table is consumed by several score joins).
    */
  def trainBackoff(toks: DataFrame): BackoffModel = {
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
      .localCheckpoint(true)
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(bigramExpr).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    val tri = toks.filter(size(col("toks")) >= 3)
      .select(explode(trigramExpr).as("t"))
      .select(col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
      .localCheckpoint(true)
    val total = uni.agg(sum(col("c1"))).head().getLong(0)
    BackoffModel(uni, bi, tri, total, uni.count())
  }

  /** Per-document mean trigram NLL under stupid backoff:
    *
    *   S(w3 | w1 w2) = c3/c2(w1w2)            when the trigram was seen
    *                 = 0.4 · c2(w2w3)/c1(w2)  else, when the bigram was
    *                 = 0.16 · (c1(w3)+1)/(N+V)  else (add-one floor, so
    *                   an out-of-vocabulary w3 scores finitely instead
    *                   of ln 0 — scoring HELD-OUT text is the point of
    *                   backoff; 0.16 is the LITERAL both engines parse,
    *                   not a folded 0.4·0.4, whose binary product
    *                   differs in the last ulp)
    *
    * Seen-trigram and seen-bigram branches never divide by null: a
    * seen n-gram's context (n−1)-gram is seen by construction. Output
    * (doc_id, n_trigrams, nll); docs with < 3 tokens drop out. Scale
    * shape: per-doc trigram tf first (the [[score]] discipline — joins
    * touch distinct (doc, gram) rows, not positions), then five
    * key-partitioned joins against the vocab-sized count tables and
    * one reduce per doc. Callers round the emitted nll
    * ([[graft.queries.Par.r2]], the q79 contract).
    */
  def scoreBackoff(toks: DataFrame,
      model: BackoffModel): DataFrame = {
    val tf = toks.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(trigramExpr).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
      .groupBy("doc_id", "w1", "w2", "w3").agg(count(lit(1)).as("tf"))
    val joined = tf
      .join(model.trigrams, Seq("w1", "w2", "w3"), "left")
      .join(model.bigrams.select(col("w1"), col("w2"), col("c2").as("c2ctx")),
        Seq("w1", "w2"), "left")
      .join(model.bigrams.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c2b")), Seq("w2", "w3"), "left")
      .join(model.unigrams.select(col("w").as("w2"), col("c1").as("c1ctx")),
        Seq("w2"), "left")
      .join(model.unigrams.select(col("w").as("w3"), col("c1").as("c1w3")),
        Seq("w3"), "left")
    val s =
      when(col("c3").isNotNull, col("c3").cast("double") / col("c2ctx"))
        .when(col("c2b").isNotNull,
          lit(0.4) * col("c2b").cast("double") / col("c1ctx"))
        .otherwise(lit(0.16) *
          (coalesce(col("c1w3"), lit(0L)) + lit(1)).cast("double") /
          lit((model.total + model.vocab).toDouble))
    joined
      .select(col("doc_id"), col("tf"), s.as("s"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_trigrams"),
        (-sum(col("tf") * log(col("s"))) / sum(col("tf"))).as("nll"))
  }

  /** Per-source KL divergence of the source's unigram distribution from
    * the whole-corpus distribution — the mixture-diagnostics companion
    * to deterministic mixture sampling (q70): a source whose D_KL spikes
    * is drifting from the corpus it is being blended into.
    *
    *   D_KL(P_s ‖ Q) = Σ_{w ∈ V} p_s(w) · ln(p_s(w) / q(w))
    *
    * with both distributions add-one smoothed over the SHARED vocabulary
    * V (so words a source never emits still contribute — that absence IS
    * divergence): p_s(w) = (c_s(w)+1)/(N_s+V), q(w) = (c(w)+1)/(N+V).
    *
    * Input: (source, toks). Output: (source, kl), one row per source.
    * Scale shape: the grid is |V| × |sources| rows — sources are few
    * (a mixture has dozens of components, not millions), so the grid is
    * a broadcast-replicated pass over the vocabulary, reduced per
    * source. Per-source totals and the corpus scalars ride along as
    * broadcast-joined aggregates.
    */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val toksrc = docs.select(col("source"), explode(col("toks")).as("w"))
    // ONE corpus pass: the (source, w) counts are the finest grain, and
    // both marginals are exact integer sums over them — c(w) = Σ_s
    // c_s(w), N_s = Σ_w c_s(w) — so the corpus-wide count table folds
    // from the vocab×sources frame instead of re-running
    // tokenize-explode-aggregate over the corpus a second time
    // (identical counts by associativity of integer addition; the
    // round-15 one-pass discipline, q176 precedent). The cs table
    // localCheckpoints eagerly: it feeds c, ns AND the grid join.
    val cs = toksrc.groupBy("source", "w").agg(count(lit(1)).as("cs"))
      .localCheckpoint(true)
    val c = cs.groupBy("w").agg(sum(col("cs")).as("c"))
    val ns = cs.groupBy("source").agg(sum(col("cs")).as("ns"))
    // Corpus scalars: total positions N and vocab V, one tiny frame.
    val tot = c.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    c.crossJoin(broadcast(ns)) // vocab × sources grid
      .join(cs, Seq("source", "w"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"),
        ((coalesce(col("cs"), lit(0L)) + lit(1.0)) / (col("ns") + col("v")))
          .as("p"),
        ((col("c") + lit(1.0)) / (col("n") + col("v"))).as("q"))
      .groupBy("source")
      .agg(sum(col("p") * log(col("p") / col("q"))).as("kl"))
  }

  /** CCNet-style per-source perplexity bucketing (Wenzek et al. 2020,
    * "CCNet": each language's corpus is split into head/middle/tail
    * terciles by LM perplexity; training keeps head+middle). Input:
    * (doc_id, source, nll) with nll ALREADY deterministically rounded
    * (the caller's [[graft.queries.Par.r2]] contract — the tercile
    * cutoffs are value comparisons, and an unrounded score's last ulp
    * would make the boundary engine-dependent). Output: the input plus
    * `bucket` ('head'|'middle'|'tail') and `keep` (1 for head+middle).
    *
    * Cutoffs are VALUES, not ranks: c1 = the smallest nll whose
    * cumulative count reaches ceil(n/3) within its source (c2 at
    * 2n/3), so every doc tied at a cutoff lands in the same bucket —
    * deterministic under any partitioning. Scale shape: this is the
    * two-phase percentile discipline ([[PrefixSum]] precedent) — the
    * doc-level frame is never globally sorted; the only window runs
    * over the per-source DISTINCT rounded scores (a 2-dp domain,
    * orders of magnitude below doc count), and the per-source cutoff
    * table broadcasts back onto the scan. CCNet's production recipe
    * samples to estimate cutoffs; exact counts keep the operator
    * oracle-checkable without changing the plan shape.
    */
  def sourceBuckets(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = scored.groupBy("source", "nll").agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("source").orderBy("nll")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
    val cuts = cum.groupBy("source").agg(
      min(when(col("cum") >= ceil(col("n") / lit(3.0)), col("nll"))).as("c1"),
      min(when(col("cum") >= ceil(col("n") * 2 / lit(3.0)), col("nll"))).as("c2"))
    scored.join(broadcast(cuts), Seq("source"))
      .withColumn("bucket",
        when(col("nll") <= col("c1"), "head")
          .when(col("nll") <= col("c2"), "middle")
          .otherwise("tail"))
      .withColumn("keep", (col("bucket") =!= "tail").cast("int"))
      .drop("c1", "c2")
  }
}
