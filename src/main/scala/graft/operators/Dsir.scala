package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Importance-weighted data selection — the DSIR recipe (Xie et al.,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023): score every raw-corpus document by how much more
  * likely its hashed n-gram features are under a TARGET distribution
  * (the domain you want more of) than under the raw-corpus
  * distribution, then select by weight. This is the principled
  * companion to the heuristic curation ladder (q41 quality → q79 LM
  * NLL): instead of "drop garble", it answers "of the clean corpus,
  * which documents look like my target domain?" — the selection step a
  * 100 TB pretraining mix runs per domain. The reference pipeline has
  * no selection stage at all (its transform is a per-record status map,
  * `kds_example/lbd/common.py:7-33`); this operator adds the standard
  * one.
  *
  * Features are hashed bag-of-n-grams, exactly the paper's construction:
  * unigrams and bigrams of the word tokens, hashed into `buckets`
  * fixed buckets (the hash collapses the unbounded vocabulary to a
  * fixed-dimension multinomial, which is what makes the model a
  * broadcast-able artifact). Both distributions are add-one smoothed
  * over the bucket space:
  *
  *   p[b] = (c[b] + 1) / (N + B)
  *
  * and a document's log importance weight is the log-likelihood ratio
  * of its feature multiset:
  *
  *   logw(doc) = Σ_positions ( ln p_target[b] − ln p_raw[b] )
  *
  * (resampling then draws ∝ exp(logw); the deterministic salted-hash
  * sampler — q67's pattern — composes downstream, so this operator
  * stops at the weights, the reusable quantity.)
  *
  * Scale shape: the count tables are bounded by B (buckets), NOT the
  * vocabulary — at any corpus size the model is two ≤B-row frames plus
  * two scalars, always broadcast. Scoring is therefore ONE shuffle
  * total: feature positions map-side join the broadcast count tables
  * and reduce per doc_id. Train once (corpus counts + a target sample's
  * counts), score every shard against the same model.
  */
object Dsir {

  /** Fitted bucket-count model. `targetCounts`/`rawCounts`: (bucket,
    * ct)/(bucket, cr) — ≤ `buckets` rows each, materialized at train
    * time, absent buckets are zero-count (the +1 smoothing keeps them
    * finite); `totals`: ONE row (nt, nr) of feature-position totals,
    * kept as a frame (not driver scalars) so scoring composes it as a
    * broadcast like the count tables.
    */
  final case class Model(targetCounts: DataFrame, rawCounts: DataFrame,
      totals: DataFrame, buckets: Int)

  /** Hashed n-gram feature positions of (doc_id, toks): one row per
    * unigram and per bigram occurrence, bucketed by the portable md5
    * hash (`'u|' + w` / `'b|' + w1 + ' ' + w2`, salt `dsir|`). Docs
    * with zero tokens contribute no rows (and so no weight — a doc
    * with no features has no likelihood to compare).
    */
  def features(toks: DataFrame, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // Fused codegen'd gram-hash kernel (round-14; was two interpreted
    // transform HOFs building 'u|'/'b|' strings, then md5 after the
    // explode). The hashed strings were 'dsir|u|' + w and
    // 'dsir|b|' + w1 + ' ' + w2 — exactly the kernel's prefix ++
    // space-joined-gram form, so the bucket values are bit-identical
    // (NgramExprSpec pins the h64 equivalence). Unigrams-then-bigrams
    // concat keeps the original row order; short docs contribute their
    // unigram lanes only (n = 2 on size < 2 is an empty array — the
    // CASE guard the HOF needed is the kernel's default).
    val ghs = concat(
      graft.functions.Ngrams.wordNgramH64s(col("toks"), 1, prefix = "dsir|u|"),
      graft.functions.Ngrams.wordNgramH64s(col("toks"), 2, prefix = "dsir|b|"))
    toks.select(col("doc_id"), explode(ghs).as("gh"))
      .select(col("doc_id"), pmod(col("gh"), lit(buckets.toLong)).as("bucket"))
  }

  /** Fit the two bucket multinomials. Both inputs are [[features]]
    * frames (the target one typically from a small in-domain sample —
    * the paper uses the target dataset itself). Two mergeable hash-aggs
    * on a ≤B-cardinality key. The ≤B-row count tables localCheckpoint
    * EAGERLY (training is the action, like `Ivf.train`): each is read
    * back by two consumers — its own broadcast and the totals row —
    * and every downstream action re-broadcasts, so without the
    * materialization each scoring pass re-tokenizes the corpus three
    * times and the target sample twice (the q66 double-compute class).
    */
  def train(rawFeats: DataFrame,
      targetFeats: DataFrame, buckets: Int): Model = {
    val t = targetFeats.groupBy("bucket").agg(count(lit(1)).as("ct"))
      .localCheckpoint(true)
    val r = rawFeats.groupBy("bucket").agg(count(lit(1)).as("cr"))
      .localCheckpoint(true)
    // coalesce: sum() over an EMPTY count table is NULL, not 0 — an
    // all-empty-docs target sample would otherwise poison every weight
    // to NULL downstream (the smoothed ratio is finite at zero counts:
    // 1/(0+B) — exactly what the oracle's scalar count(*) computes).
    val totals = t.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
      .crossJoin(r.agg(coalesce(sum(col("cr")), lit(0L)).as("nr")))
    Model(t, r, totals, buckets)
  }

  /** Per-document log importance weight under `model`:
    * (doc_id, n_feat, logw). ONE shuffle — the count tables and the
    * totals row are broadcast, so each feature position picks up its
    * per-position log-ratio map-side and the only exchange is the
    * doc_id reduce. Buckets the target never emitted still score
    * (smoothed to 1/(nt+B)): rare-in-target features PENALIZE, which
    * is the ratio doing its job.
    */
  def logWeights(feats: DataFrame, model: Model): DataFrame = {
    val b = lit(model.buckets.toDouble)
    feats
      .join(broadcast(model.targetCounts), Seq("bucket"), "left")
      .join(broadcast(model.rawCounts), Seq("bucket"), "left")
      .crossJoin(broadcast(model.totals))
      .select(col("doc_id"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("nt") + b))
          - log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / (col("nr") + b)))
          .as("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feat"), sum(col("term")).as("logw"))
  }
}
