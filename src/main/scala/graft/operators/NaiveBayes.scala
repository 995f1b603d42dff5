package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classifier — the TRAINED-classifier
  * rung of a curation pipeline (the GPT-3 data work filtered Common
  * Crawl with a linear quality classifier; CCNet ships a fastText
  * rung). The reference's only per-record classification hook is its
  * Lambda transform (`kds_example/kds_helper.py:43-51`), which routes
  * on exceptions — this operator supplies the statistical analogue a
  * 100 TB curation pipeline actually runs: learn class-conditional
  * term weights from a labeled sample, score every document, keep or
  * route by the score.
  *
  * The model is a CLOSED FORM over counts (Laplace-smoothed log-count
  * ratios) — the same property that makes the OPQ parametric rung
  * oracle-replayable makes this whole train+score chain expressible
  * in portable SQL: no iterative optimizer, every weight is
  * ln of exact long-count ratios evaluated in a fixed order.
  *
  * Scale shape: training is ONE corpus-sized shuffle (the per-term
  * label-count agg; the label bit rides the explode) + a vocab-sized
  * total agg; the weight table is vocab-sized — broadcast when small,
  * an ordinary term-keyed hash join otherwise. Scoring is the q34/q35
  * tf agg (corpus shuffle) + that join; nothing is per-pair or
  * iterative.
  */
object NaiveBayes {

  /** A trained binary model: `weights` = (term, w) with
    * w(t) = ln((c⁺(t)+1)/(T⁺+V)) − ln((c⁻(t)+1)/(T⁻+V)) over the
    * class-conditional token counts c, class token totals T and
    * vocabulary size V; `bias` = ln((N⁺+1)/(N⁻+1)), the smoothed
    * log-odds of the document priors (smoothed so a degenerate
    * single-class sample still trains instead of producing ±∞).
    */
  final case class NbModel(weights: DataFrame, bias: Double)

  /** Train on (doc_id, toks) with `isPos` any boolean Column over the
    * input frame (e.g. `col("lang") === "en"`). Null labels count as
    * negative (coalesce — Naive Bayes has no third class).
    */
  def train(toks: DataFrame, isPos: Column): NbModel = {
    val lab = toks.select(col("doc_id"), col("toks"),
      coalesce(isPos.cast("boolean"), lit(false)).as("pos"))
    val prior = lab.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
      count(lit(1)).as("n")).head()
    val (np, n) = (prior.getLong(0), prior.getLong(1))
    val bias = math.log((np + 1.0) / (n - np + 1.0))
    // One corpus-sized shuffle: per-term counts with the label riding
    // the exploded rows. Totals derive from the vocab-sized result.
    val counts = lab
      .select(col("pos"), explode(col("toks")).as("term"))
      .groupBy("term")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("pos_n"),
        count(lit(1)).as("all_n"))
    val totals = counts.agg(
      sum(col("pos_n")).cast("double").as("tp"),
      sum(col("all_n") - col("pos_n")).cast("double").as("tn"),
      count(lit(1)).cast("double").as("v"))
    // Eager localCheckpoint (the trainMulti convention): the weight
    // table is the train-once artifact — callers memoize the model,
    // and without the materialization every scoring plan replays the
    // corpus explode+agg lineage.
    val weights = counts.crossJoin(broadcast(totals))
      .select(col("term"),
        (log((col("pos_n") + lit(1.0)) / (col("tp") + col("v")))
          - log((col("all_n") - col("pos_n") + lit(1.0)) / (col("tn") + col("v"))))
          .as("w"))
      .localCheckpoint(true)
    NbModel(weights, bias)
  }

  /** [[localize]]'s binary sibling: the trained [[NbModel]] as a
    * one-class [[graft.functions.NbScoreKernel.LocalMultiModel]]
    * (classes = ["pos"], prior slot = the bias — added LAST per the
    * kernel contract, the same float op order as `sum(tf·w) + bias`),
    * so [[score]]'s whole plan collapses to the compiled scan-side
    * pass. None when the weight table does not fit the driver
    * ([[DriverLocal.fits]]): the join spelling in [[score]] is the
    * unbounded-vocabulary path.
    */
  def localizeBinary(model: NbModel): Option[graft.functions.NbScoreKernel.LocalMultiModel] =
    if (!DriverLocal.fits(model.weights.count())) None
    else {
      import org.apache.spark.unsafe.types.UTF8String
      val weights = new java.util.HashMap[UTF8String, Array[Double]]()
      model.weights.select(col("term"), col("w")).collect().foreach { r =>
        weights.put(UTF8String.fromString(r.getString(0)), Array(r.getDouble(1)))
      }
      Some(graft.functions.NbScoreKernel.LocalMultiModel(
        Array("pos"), Array(model.bias), weights))
    }

  /** A trained K-class model: `weights` = (cls, term, w) DENSE over
    * class × vocabulary — w(t,c) = ln((c_c(t)+1)/(T_c+V)) with the
    * zero-count smoothing row present for every vocab term the class
    * never saw (multinomial NB's absent-term evidence is part of the
    * model, not an OOV skip); `priors` = (cls, prior) with
    * prior(c) = ln((N_c+1)/(N+K)).
    */
  final case class NbMultiModel(weights: DataFrame, priors: DataFrame)

  /** Train a K-class multinomial NB on (doc_id, toks) with `label` a
    * string class Column (e.g. `col("lang")` — the CCNet langid rung,
    * Wenzek 2020 §2, with char-n-gram `toks`). Closed form like
    * [[train]]: every weight is ln of exact long-count ratios, so the
    * whole train+score chain replays in portable SQL.
    *
    * Scale shape: ONE corpus-sized shuffle (per-(class, term) counts —
    * the label rides the explode), then everything else is vocab- or
    * class-sized: class totals, the V×K dense weight table (vocab cross
    * the K-row class frame, broadcast on the class side), priors. No
    * driver-side collect anywhere.
    */
  def trainMulti(toks: DataFrame, label: Column): NbMultiModel = {
    val lab = toks.select(col("doc_id"), col("toks"),
      label.cast("string").as("cls"))
    val classCounts = lab.groupBy("cls").agg(count(lit(1)).as("nc"))
      .localCheckpoint(true)
    val classMeta = classCounts.agg(
      sum("nc").cast("double").as("n"),
      count(lit(1)).cast("double").as("k"))
    val priors = classCounts.crossJoin(broadcast(classMeta))
      .select(col("cls"),
        log((col("nc") + lit(1.0)) / (col("n") + col("k"))).as("prior"))
    // Eager localCheckpoint (the [[graft.operators.NgramLm.train]]
    // pattern): the (class, term) count table feeds FOUR consumers
    // below (class totals, vocab scalar, the dense grid's spine, and
    // its left join) plus every scoring join — un-materialized, each
    // one replays the corpus explode+agg lineage.
    val counts = lab
      .select(col("cls"), explode(col("toks")).as("term"))
      .groupBy("cls", "term").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val classTotals = counts.groupBy("cls").agg(sum("cnt").as("tc"))
    val vocabMeta = counts.select("term").distinct()
      .agg(count(lit(1)).cast("double").as("v"))
    val weights = counts.select("term").distinct()
      .crossJoin(broadcast(classTotals))
      .join(counts, Seq("cls", "term"), "left")
      .crossJoin(broadcast(vocabMeta))
      .select(col("cls"), col("term"),
        log((coalesce(col("cnt"), lit(0L)) + lit(1.0)) /
          (col("tc") + col("v"))).as("w"))
      .localCheckpoint(true)
    NbMultiModel(weights, priors)
  }

  /** Score (doc_id, toks) against a K-class model: (doc_id, cls, score)
    * with score = prior(c) + Σ_t tf(t)·w(t,c) over the document's
    * VOCAB terms (never-trained terms carry no evidence for any class —
    * the inner join skips them symmetrically; a doc with no vocab term
    * at all is absent, the [[score]] convention). The per-(doc, class)
    * sum is order-sensitive like every float agg — callers round
    * emitted scores (q106 precedent) and take argmax on the ROUNDED
    * values with a deterministic tie order.
    */
  def scoreMulti(toks: DataFrame, model: NbMultiModel): DataFrame =
    toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // The weight table is the broadcast side BY CONSTRUCTION: V×K
      // rows where V is the FEATURE vocabulary — char-n-gram features
      // (the langid use) are charset^n-bounded at any corpus size.
      // Without the hint Catalyst sees only the checkpoint RDD's
      // unknown stats and has been observed broadcasting the
      // corpus-sized tf side instead (collect-to-driver of millions
      // of rows). A word-feature corpus whose V×K outgrows broadcast
      // should score via [[score]] per class instead.
      .join(broadcast(model.weights), Seq("term"))
      .groupBy("doc_id", "cls").agg(sum(col("tf") * col("w")).as("ev"))
      .join(broadcast(model.priors), Seq("cls"))
      .select(col("doc_id"), col("cls"),
        (col("ev") + col("prior")).as("score"))

  /** Collect a K-class model into the broadcastable form
    * [[graft.functions.NbScoreKernel.LocalMultiModel]] consumed by the
    * compiled scan-side scorer ([[graft.functions.NbFunctions
    * .nbScoreMulti]] — zero exchanges; see NbExpressions.scala for the
    * fusion argument). The collect is V×K rows — the SAME driver
    * materialization `scoreMulti`'s `broadcast(model.weights)` already
    * performs per scoring plan, done once and reused. None when the
    * V×K rows do not fit the driver ([[DriverLocal.fits]]): then
    * [[scoreMulti]] scores. Classes sort ascending — the pivot column
    * order every caller uses.
    */
  def localize(model: NbMultiModel): Option[graft.functions.NbScoreKernel.LocalMultiModel] =
    if (!DriverLocal.fits(model.weights.count())) None
    else {
      import org.apache.spark.unsafe.types.UTF8String
      val pr = model.priors.collect()
      val classes = pr.map(_.getString(0)).sorted
      val idx = classes.zipWithIndex.toMap
      val priors = new Array[Double](classes.length)
      pr.foreach(r => priors(idx(r.getString(0))) = r.getDouble(1))
      val weights = new java.util.HashMap[UTF8String, Array[Double]]()
      model.weights.select(col("term"), col("cls"), col("w")).collect()
        .foreach { r =>
          val t = UTF8String.fromString(r.getString(0))
          var vec = weights.get(t)
          if (vec == null) { vec = new Array[Double](classes.length); weights.put(t, vec) }
          vec(idx(r.getString(1))) = r.getDouble(2)
        }
      Some(graft.functions.NbScoreKernel.LocalMultiModel(classes, priors, weights))
    }

  /** Score (doc_id, toks) against a trained model:
    * (doc_id, log_odds) with log_odds = bias + Σ_t tf(t)·w(t) over
    * the document's MODEL-KNOWN terms. Out-of-vocabulary terms are
    * skipped (the inner join) — the usual NB convention; a document
    * with no known terms at all is absent from the result (its
    * evidence is empty — callers needing every row left-join this
    * back). The per-doc sum is order-sensitive like every float agg
    * here — callers round emitted scores (q35 precedent).
    */
  def score(toks: DataFrame, model: NbModel): DataFrame =
    toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .join(model.weights, "term")
      .groupBy("doc_id")
      .agg((sum(col("tf") * col("w")) + lit(model.bias)).as("log_odds"))
}
