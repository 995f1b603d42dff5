package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions.dot_f

/** Product quantization (PQ) with asymmetric-distance (ADC) scoring —
  * the top rung of the engine's quantization ladder (below it:
  * [[Quantize]]'s per-vector int8 codes; beside it: [[Ivf]]'s coarse
  * cells). Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", IEEE TPAMI 2011.
  *
  * The vector space is split into `nSub` contiguous subspaces of
  * `subDim` dims; each subspace gets its own tiny k-means codebook
  * (reusing [[Ivf.train]] verbatim on the sliced corpus — deterministic
  * init, Lloyd steps, mean snapping). A corpus vector is then ONE SMALL
  * CODE PER SUBSPACE: at nSub=8, k=256 that is 8 bytes per vector —
  * 512x fewer than a d=1024 float32 vector, the compression regime
  * where a 100 TB corpus's candidate scan fits in cluster RAM.
  *
  * ADC scoring never reconstructs per pair: a probe precomputes its
  * dot product against every codebook centroid (`nSub × k` entries —
  * the lookup table), and a candidate's score is `nSub` table adds:
  *
  *   dot(probe, recon(codes)) = Σ_j dot(probe_j, codebook_j[code_j])
  *
  * exactly, because reconstruction is concatenation. Likewise the
  * reconstruction's squared norm is the sum of per-centroid squared
  * norms, precomputed once per codebook entry — so the full ADC cosine
  * is exact w.r.t. the reconstructed vectors, engine-portable, and
  * oracle-checkable (q76 replays training + encoding + scoring in SQL).
  *
  * Scale shape: codebooks are `nSub × k` centroids (driver/broadcast
  * scale); encoding is one narrow map over the corpus; search joins the
  * coded corpus against BROADCAST per-probe tables (probes × k rows per
  * subspace) — the corpus side never re-touches float bytes and never
  * shuffles before the rank-and-cut (WindowGroupLimit bounds the
  * exchange map-side, as in q33/q74).
  */
object Pq {

  /** `subModels(j)` is subspace j's codebook over dims
    * [j·subDim, (j+1)·subDim).
    */
  final case class Model(subModels: Array[Ivf.Model], subDim: Int)

  /** Train one codebook per subspace on the sliced corpus. Slicing is
    * positional and arithmetic-free, so each subspace's training run is
    * bit-identical to [[Ivf.train]] on a `subDim`-wide corpus.
    *
    * Fails LOUD when the corpus dimension is not exactly nSub·subDim:
    * slice() past the end silently yields short subspace vectors, the
    * dots fold over the short side, and [[search]]'s full-width probe
    * norm no longer matches the truncated numerator — pq_cos would be
    * the cosine of NOTHING, with no error anywhere (the same silent-
    * corruption class [[Ivf.nearest]] throws on).
    */
  def train(spark: SparkSession, embeddings: DataFrame, nSub: Int,
      subDim: Int, k: Int, iters: Int, meanRound: Int = 0): Model = {
    val d = embeddings.agg(
      min(size(col("embedding"))), max(size(col("embedding")))).head()
    require(!d.isNullAt(0) && d.getInt(0) == nSub * subDim
        && d.getInt(1) == nSub * subDim,
      s"Pq: corpus dims [${d.get(0)}, ${d.get(1)}] != nSub*subDim = " +
        s"${nSub * subDim} — PQ subspaces must tile the vector exactly")
    val subModels = (0 until nSub).map { j =>
      Ivf.train(spark,
        embeddings.select(col("vec_id"),
          slice(col("embedding"), j * subDim + 1, subDim).as("embedding")),
        k, iters, meanRound)
    }.toArray
    Model(subModels, subDim)
  }

  /** Encode every vector as its per-subspace nearest-centroid codes:
    * (vec_id, codes: array<int>, one entry per subspace). One narrow
    * codegen'd pass ([[graft.functions.PqCodesExpr]] — all `nSub`
    * codes computed in-place over the row's ArrayData, no typed-map
    * ser/de); the per-row tiling contract stays LOUD inside the
    * kernel, because a stray short vector would otherwise encode
    * against truncated slices and score as a cosine of nothing.
    */
  def encode(embeddings: DataFrame, model: Model): DataFrame = {
    val enc = graft.functions.AnnFunctions.pq_codes(col("embedding"),
      model.subModels.map(_.centroids), model.subDim)
    // Loud on null embeddings/elements, like the typed map this
    // replaces (the Ivf.index rationale: silent null codes vanish
    // from every ADC join).
    embeddings.select(col("vec_id"),
      when(enc.isNotNull, enc).otherwise(raise_error(lit(
        "Pq.encode: null embedding or null element — a batch build " +
          "refuses silent row loss"))).as("codes"))
  }

  /** Subspace j's codebook table: (cell, cv, nsq) — nsq is the
    * centroid's squared norm via the same sequential double fold the
    * SQL oracle's `list_sum(list_transform(...))` performs. Built
    * per-subspace (k rows, driver-side) so each lookup-table join's
    * plan computes ONLY its own subspace's dots — one frame carrying
    * all subspaces would re-run the full probes × (nSub·k) cross join
    * once per subspace join, nSub² dot tables where nSub suffice.
    */
  private[operators] def codebookDf(spark: SparkSession, model: Model, j: Int): DataFrame = {
    val rows = model.subModels(j).centroids.map { case (cell, cv) =>
      var s = 0.0; var i = 0
      while (i < cv.length) { s += cv(i).toDouble * cv(i).toDouble; i += 1 }
      Row(cell, cv.toSeq, s)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("cv", ArrayType(FloatType, containsNull = false), nullable = false),
        StructField("nsq", DoubleType, nullable = false))))
  }

  /** ADC top-k: score the coded corpus against each probe's lookup
    * table. `encoded` from [[encode]]; `probes` (vec_id, embedding).
    * Returns (probe_id, neighbor_id, pq_cos, rnk) — cosine of the probe
    * against the candidate's RECONSTRUCTION (the PQ approximation),
    * ties on neighbor_id; self-pairs excluded.
    */
  def search(spark: SparkSession, encoded: DataFrame, model: Model,
      probes: DataFrame, k: Int): DataFrame = {
    val nSub = model.subModels.length
    // Probe dimensions must tile exactly, like train/encode: dot_f folds
    // over the shorter vector, so a narrower/wider probe would produce a
    // truncated numerator against a full-width norm — a well-formed but
    // meaningless pq_cos, the silent-corruption class train()'s corpus
    // check exists to block. The row count rides the same aggregate to
    // tell ZERO probes (empty result, matching Ivf.search's lazily-
    // empty behavior) apart from probes whose embeddings are all NULL
    // (min/max skip nulls too — silently returning nothing for those
    // would report corrupt input as "no matches").
    val d = probes.agg(count(lit(1)),
      min(size(col("embedding"))), max(size(col("embedding")))).head()
    if (d.getLong(0) == 0L)
      return Similarity.emptyTopK(spark, probes.schema("vec_id").dataType,
        encoded.schema("vec_id").dataType, "pq_cos")
    require(!d.isNullAt(1),
      s"Pq.search: ${d.getLong(0)} probes, every embedding NULL")
    require(d.getInt(1) == nSub * model.subDim
        && d.getInt(2) == nSub * model.subDim,
      s"Pq.search: probe dims [${d.get(1)}, ${d.get(2)}] != nSub*subDim" +
        s" = ${nSub * model.subDim}")
    // Per-probe lookup tables: one per subspace, probes × k rows each —
    // tiny, broadcast. t = dot(probe-slice, centroid) through the same
    // codegen'd fold the oracle replays; the probe norm rides along
    // (one fold per probe). Each table's plan touches only its own
    // subspace's codebook (codebookDf(j)), so building all nSub of
    // them costs nSub probe-side scans, not nSub² dot tables.
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding"),
      sqrt(dot_f(col("embedding"), col("embedding"))).as("na"))
    // Candidate score/norm accumulate as strict left-to-right adds —
    // the exact order the oracle's + chain uses.
    val cand = encoded.crossJoin(broadcast(
        p.select(col("probe_id"), col("na"))))
      .filter(col("vec_id") =!= col("probe_id"))
    val joined = (0 until nSub).foldLeft(cand) { (df, j) =>
      val tj = p.crossJoin(codebookDf(spark, model, j))
        .select(col("probe_id").as(s"p$j"), col("cell").as(s"c$j"),
          dot_f(slice(col("embedding"), j * model.subDim + 1,
            model.subDim), col("cv")).as(s"t$j"),
          col("nsq").as(s"n$j"))
      df.join(broadcast(tj),
          col("probe_id") === col(s"p$j") &&
            col(s"c$j") === element_at(col("codes"), j + 1))
        .drop(s"p$j", s"c$j")
    }
    val num = (1 until nSub).foldLeft(col("t0")) { (e, j) => e + col(s"t$j") }
    val nsq = (1 until nSub).foldLeft(col("n0")) { (e, j) => e + col(s"n$j") }
    val scored = joined.select(col("probe_id"), col("vec_id").as("neighbor_id"),
      when(col("na") === 0.0 || sqrt(nsq) === 0.0, lit(-1.0))
        .otherwise(num / (col("na") * sqrt(nsq))).as("pq_cos"))
    Similarity.topKByScore(scored, "pq_cos", k)
  }
}
