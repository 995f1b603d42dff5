package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions.dot_f

/** IVF-PQ: the coarse quantizer composed with residual product
  * quantization — the FAISS-standard IVFADC index (Jégou et al. 2011,
  * §IV), and the top of the engine's similarity ladder:
  *
  *   - [[Ivf]] cells prune the SCAN (probe nprobe/k of the corpus);
  *   - residual PQ codes (vector minus its cell centroid, then [[Pq]])
  *     shrink the scanned BYTES (nSub codes per vector) — residuals are
  *     what make small codebooks work, since vectors within a cell
  *     share their centroid and only the (much smaller) offset needs
  *     encoding;
  *   - ADC scoring touches no float vectors at search time: per probe,
  *     one dot against each coarse centroid plus one small lookup table
  *     per subspace; per CANDIDATE, table adds only.
  *
  * Scoring is EXACT w.r.t. the real-arithmetic reconstruction
  * c + r̂ (cell centroid plus residual reconstruction) through the
  * decomposition — never by materializing it:
  *
  *   dot(p, c + r̂)  = dot(p, c) + Σ_j dot(p_j, rcb_j[code_j])
  *   |c + r̂|²       = Σ_j |c_j + rcb_j[code_j]|²
  *
  * every term a sequential double fold over float inputs (exact double
  * sums/products, deterministic order), so the whole score is
  * engine-portable bit-for-bit and q77's DuckDB oracle replays it —
  * training, residuals, encoding, and the table adds included.
  *
  * Scale shape: models are driver/broadcast scale (k coarse + nSub·kSub
  * residual centroids); encoding is one narrow map; search joins the
  * coded corpus (pruned to probed cells by an equi-join on `cell`)
  * against BROADCAST per-probe and per-cell tables, with the rank
  * group-limited map-side like q33/q74/q76.
  */
object IvfPq {

  final case class Model(coarse: Ivf.Model, pq: Pq.Model)

  /** Train the coarse quantizer, then the residual PQ codebooks on
    * (vector − assigned centroid) — float subtraction per dim, the
    * standard IVFADC training split. One corpus pass per Lloyd step
    * plus one for the residuals.
    */
  def train(spark: SparkSession, embeddings: DataFrame, kCoarse: Int,
      coarseIters: Int, nSub: Int, subDim: Int, kSub: Int, pqIters: Int,
      meanRound: Int = 0): Model = {
    val coarse = Ivf.train(spark, embeddings, kCoarse, coarseIters, meanRound)
    // Persisted across Pq.train's nSub+1 passes (dimension check + one
    // Ivf.train per subspace): unpersisted, the residual map — a full
    // corpus scan with a kCoarse-centroid nearest() per vector — would
    // re-execute for every subspace.
    val res = residuals(spark, embeddings, coarse).persist()
    try Model(coarse, Pq.train(spark, res, nSub, subDim, kSub, pqIters, meanRound))
    finally res.unpersist(blocking = false)
  }

  /** (vec_id, embedding = v − centroid(cell(v))) — float per-dim
    * subtraction, exactly `CAST(v[d] - cv[d] AS REAL)` in the oracle.
    */
  private def residuals(spark: SparkSession, embeddings: DataFrame,
      coarse: Ivf.Model): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(coarse)
    embeddings.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val cv = bc.value.centroids(Ivf.nearest(bc.value.centroids, v))._2
        (id, Array.tabulate(v.length)(d => v(d) - cv(d)))
      }
      .toDF("vec_id", "embedding")
  }

  /** Encode the corpus: (vec_id, cell, codes) in ONE narrow codegen'd
    * pass ([[graft.functions.IvfPqEncodeExpr]] — a single nearest()
    * for the cell, the residual, and the per-subspace codes per
    * vector, no shuffle, no typed-map ser/de; the wrong-width tiling
    * contract fails loud inside the kernel). Composing Ivf.index with
    * Pq.encode would scan the corpus twice and join the halves on
    * vec_id — a corpus-wide shuffle for data this pass derives
    * row-locally.
    */
  def encode(embeddings: DataFrame, model: Model): DataFrame = {
    val enc = graft.functions.AnnFunctions.ivfpq_encode(col("embedding"),
      model.coarse.centroids, model.pq.subModels.map(_.centroids),
      model.pq.subDim)
    embeddings
      // Loud on null embeddings/elements (the Ivf.index rationale);
      // the streaming withCellCodes keeps null-pass-through.
      .select(col("vec_id"),
        when(enc.isNotNull, enc).otherwise(raise_error(lit(
          "IvfPq.encode: null embedding or null element — a batch " +
            "build refuses silent row loss"))).as("_enc"))
      .select(col("vec_id"), col("_enc.cell").as("cell"),
        col("_enc.codes").as("codes"))
  }

  /** Column-preserving (cell, codes) assignment against a frozen model —
    * [[Ivf.withCell]]'s IVFADC sibling, for streaming epochs that must
    * come out ADC-searchable without a batch re-encode. Identical
    * arithmetic to [[encode]] (coarse nearest, residual, per-subspace
    * nearest), so epoch-appended codes are bit-identical to a batch
    * rebuild's. Null embeddings get null cell/codes.
    */
  def withCellCodes(df: DataFrame, model: Model,
      embCol: String = "embedding"): DataFrame = {
    // Codegen'd one-expression encode (graft.functions.IvfPqEncodeExpr,
    // the DotProductF pattern): no per-row Catalyst→Scala conversion on
    // the every-delivered-vector scan the Scala UDF it replaces paid,
    // same loud wrong-width failure, null embeddings → null cell/codes.
    val enc = graft.functions.AnnFunctions.ivfpq_encode(col(embCol),
      model.coarse.centroids,
      model.pq.subModels.map(_.centroids).toArray, model.pq.subDim)
    df.withColumn("_enc", enc)
      .withColumn("cell", col("_enc.cell"))
      .withColumn("codes", col("_enc.codes"))
      .drop("_enc")
  }

  /** Per-cell, per-subspace reconstruction norm terms:
    * w(cell, sub, code) = |c_slice + rcb[code]|², double adds/squares,
    * sequential — precomputed once from the (driver-side) models.
    */
  private def wTable(spark: SparkSession, model: Model): DataFrame = {
    val rows = for {
      (cell, cv) <- model.coarse.centroids.toSeq
      j <- 0 until model.pq.subModels.length
      (code, rv) <- model.pq.subModels(j).centroids.toSeq
    } yield {
      var s = 0.0; var i = 0
      while (i < rv.length) {
        val t = cv(j * model.pq.subDim + i).toDouble + rv(i).toDouble
        s += t * t; i += 1
      }
      Row(cell, j, code, s)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("sub", IntegerType, nullable = false),
        StructField("code", IntegerType, nullable = false),
        StructField("w", DoubleType, nullable = false))))
  }

  private def coarseDf(spark: SparkSession, model: Model): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        model.coarse.centroids.toSeq.map { case (c, cv) => Row(c, cv.toSeq) }, 1),
      StructType(Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("cv", ArrayType(FloatType, containsNull = false), nullable = false))))

  /** Subspace j's residual codebook as (code, rv) — Pq's own builder,
    * re-labeled (the nsq column it carries is Pq.search's; the IVFADC
    * norm term needs the cross-sum [[wTable]] instead).
    */
  private def rcbDf(spark: SparkSession, model: Model, j: Int): DataFrame =
    Pq.codebookDf(spark, model.pq, j)
      .select(col("cell").as("code"), col("cv").as("rv"))

  /** ADC top-k probing the `nprobe` nearest cells per probe.
    * `encoded` from [[encode]]; `probes` (vec_id, embedding). Returns
    * (probe_id, neighbor_id, pq_cos, rnk), ties on neighbor_id.
    */
  def search(spark: SparkSession, encoded: DataFrame, model: Model,
      probes: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val nSub = model.pq.subModels.length
    // Probe dimensions must tile exactly, like train/encode: a probe of
    // the wrong width would slice short, fold over min-length, and
    // score well-formed-but-meaningless cosines with no error anywhere
    // (the silent-corruption class Pq.train exists to block). The row
    // count rides the same aggregate to tell ZERO probes (empty result,
    // like Ivf.search's lazily-empty behavior) apart from probes whose
    // embeddings are all NULL (min/max skip nulls too — silently
    // returning nothing for those would report corrupt input as "no
    // matches").
    val d = probes.agg(count(lit(1)),
      min(size(col("embedding"))), max(size(col("embedding")))).head()
    if (d.getLong(0) == 0L)
      return Similarity.emptyTopK(spark, probes.schema("vec_id").dataType,
        encoded.schema("vec_id").dataType, "pq_cos")
    require(!d.isNullAt(1),
      s"IvfPq.search: ${d.getLong(0)} probes, every embedding NULL")
    require(d.getInt(1) == nSub * model.pq.subDim
        && d.getInt(2) == nSub * model.pq.subDim,
      s"IvfPq.search: probe dims [${d.get(1)}, ${d.get(2)}] != " +
        s"nSub*subDim = ${nSub * model.pq.subDim}")
    // nprobe nearest cells per probe — the ONE probe-cell rule
    // (Ivf.probeCells, shared with Ivf.search).
    val probeCells = Ivf.probeCells(spark, probes, model.coarse, nprobe)
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding"),
      sqrt(dot_f(col("embedding"), col("embedding"))).as("na"))
    // dot(p, c) per (probe, cell) — the centroid term of the numerator.
    val pcT = p.crossJoin(coarseDf(spark, model))
      .select(col("probe_id").as("pcp"), col("cell").as("pcc"),
        dot_f(col("embedding"), col("cv")).as("pct"))
    val w = wTable(spark, model)
    val cand = encoded
      .join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .join(broadcast(p.select(col("probe_id"), col("na"))), "probe_id")
      .join(broadcast(pcT),
        col("probe_id") === col("pcp") && col("cell") === col("pcc"))
      .drop("pcp", "pcc")
    val joined = (0 until nSub).foldLeft(cand) { (df, j) =>
      val tj = p.crossJoin(rcbDf(spark, model, j))
        .select(col("probe_id").as(s"p$j"), col("code").as(s"c$j"),
          dot_f(slice(col("embedding"), j * model.pq.subDim + 1,
            model.pq.subDim), col("rv")).as(s"t$j"))
      val wj = w.filter(col("sub") === j)
        .select(col("cell").as(s"wc$j"), col("code").as(s"wk$j"),
          col("w").as(s"w$j"))
      df.join(broadcast(tj),
          col("probe_id") === col(s"p$j") &&
            col(s"c$j") === element_at(col("codes"), j + 1))
        .join(broadcast(wj),
          col("cell") === col(s"wc$j") &&
            col(s"wk$j") === element_at(col("codes"), j + 1))
        .drop(s"p$j", s"c$j", s"wc$j", s"wk$j")
    }
    // Strict left-to-right adds: centroid term first, then subspaces in
    // order — the exact + chain the oracle spells out.
    val num = (0 until nSub).foldLeft(col("pct")) { (e, j) => e + col(s"t$j") }
    val nsq = (1 until nSub).foldLeft(col("w0")) { (e, j) => e + col(s"w$j") }
    val scored = joined.select(col("probe_id"), col("vec_id").as("neighbor_id"),
      when(col("na") === 0.0 || sqrt(nsq) === 0.0, lit(-1.0))
        .otherwise(num / (col("na") * sqrt(nsq))).as("pq_cos"))
    Similarity.topKByScore(scored, "pq_cos", k)
  }
}
