package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot_f

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path for similarity search (complements the LSH hyperplane
  * variant in [[Similarity]]).
  *
  * Train: deterministic Lloyd iterations over a broadcastable sample
  * (initial centroids = first k vectors by id — reproducible, no RNG).
  * Index: each vector is assigned to its nearest centroid (one narrow
  * pass; the assignment is the partition key, so a probe only touches
  * `nprobe / k` of the corpus). Search: score probes only against the
  * `nprobe` nearest cells' members.
  *
  * At 100 TB: centroids stay broadcast (k ≤ ~64k), the corpus is
  * hash-partitioned by cell, and the per-cell scan is the only data
  * touched — the classic IVF-flat trade of recall for a 1/k scan.
  */
object Ivf {

  final case class Model(centroids: Array[(Int, Array[Float])])

  /** Deterministic k-means: init = first k by id, `iters` Lloyd steps.
    * The projected input is cached for the loop (each Lloyd step would
    * otherwise re-run the full upstream scan) and released at the end;
    * per-iteration centroid broadcasts are destroyed once their step's
    * job finishes instead of accumulating on executors for app lifetime.
    *
    * @param meanRound when > 0, snap each centroid mean to a
    *   10^-meanRound grid (floor(m·10^r + 0.5)/10^r) before the float32
    *   cast. Motivation: the per-dimension mean is a parallel double
    *   sum whose value depends on partition add-order by ~1 ulp; an
    *   external replayer (sequential sum) can land on the other side of
    *   a float32 rounding boundary, flip one centroid component, and
    *   cascade into different assignments. Snapping to a coarser grid
    *   shrinks that collision window by the grid ratio (~1e3 at r=4,
    *   double-ulp vs 1e-4 spacing) at negligible quality cost. 0 (the
    *   default) keeps raw float means.
    */
  def train(spark: SparkSession, embeddings: DataFrame, k: Int, iters: Int,
      meanRound: Int = 0): Model = {
    import spark.implicits._
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].persist()
    try {
      var centroids: Array[(Int, Array[Float])] = vecs
        .orderBy("vec_id").limit(k)
        .collect().zipWithIndex.map { case ((_, v), i) => (i, v) }
      (0 until iters).foreach { _ =>
        // Assignment via the same codegen'd kernel as index()/withCell
        // (identical nearest arithmetic — the Lloyd chain the SQL
        // oracles replay cannot drift from the serving paths); the
        // per-iteration centroids ride as plan reference objects, so
        // no explicit broadcast lifecycle to manage. Loud on nulls,
        // like the typed map this replaces.
        val enc = graft.functions.AnnFunctions.ivf_cell(col("embedding"), centroids)
        val assigned = vecs.select(
          when(enc.isNotNull, enc).otherwise(raise_error(lit(
            "Ivf.train: null embedding or null element in the training set")))
            .as("cell"),
          col("embedding").as("v"))
        // Per-dimension mean via posexplode + two-level aggregate: never
        // collects a cell's vectors into one row (a hot cell at scale
        // would OOM a collect_list-based mean).
        val meanSql =
          if (meanRound > 0) {
            val p = math.pow(10, meanRound)
            s"transform(array_sort(collect_list(struct(d, m))), s -> cast(floor(s.m * ${p}d + 0.5d) / ${p}d as float))"
          } else "transform(array_sort(collect_list(struct(d, m))), s -> cast(s.m as float))"
        val sums = assigned
          .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
          .groupBy("cell", "d").agg(avg(col("x")).as("m"))
          .groupBy("cell")
          .agg(expr(meanSql).as("mean"))
          .collect()
        val updated = centroids.toMap ++ sums.map(r =>
          r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
        centroids = updated.toArray.sortBy(_._1)
      }
      Model(centroids)
    } finally vecs.unpersist(blocking = false)
  }

  private[graft] def nearest(cents: Array[(Int, Array[Float])], v: Array[Float]): Int = {
    var best = -1; var bestD = Double.MaxValue
    cents.foreach { case (c, cv) =>
      var d = 0.0; var i = 0
      val n = math.min(cv.length, v.length)
      while (i < n) { val t = cv(i) - v(i); d += t * t; i += 1 }
      if (d < bestD || (d == bestD && c < best)) { bestD = d; best = c }
    }
    // Fail LOUD, never return a sentinel: a NaN component makes every
    // distance NaN (all comparisons false), and a silent -1 here would
    // become a phantom cell in train()'s model — re-broadcast forever —
    // while index() rows tagged -1 silently vanish from every search.
    if (best < 0) throw new IllegalArgumentException(
      s"Ivf: no nearest centroid for a dim-${v.length} vector — empty " +
        "centroid set, or a non-finite component made every distance NaN")
    best
  }

  /** Assign every vector to its IVF cell (the index build) — the same
    * codegen'd [[graft.functions.IvfCellExpr]] kernel as [[withCell]]
    * (one corpus pass, no typed-map ser/de of the embedding array per
    * row, identical nearest arithmetic so the two paths cannot drift).
    * Null embeddings/elements FAIL LOUD here, like the typed map this
    * replaces: a batch build owns its whole corpus, and a null cell
    * would silently vanish from every probe's equi-join (the exact
    * hazard [[nearest]]'s sentinel comment names). The streaming
    * [[withCell]] keeps the documented null-pass-through instead.
    */
  def index(embeddings: DataFrame, model: Model): DataFrame = {
    val enc = graft.functions.AnnFunctions.ivf_cell(col("embedding"), model.centroids)
    embeddings.select(col("vec_id"), col("embedding"),
      when(enc.isNotNull, enc).otherwise(raise_error(lit(
        "Ivf.index: null embedding or null element — a batch build " +
          "refuses silent row loss; filter nulls upstream or use withCell")))
        .as("cell"))
  }

  /** Column-PRESERVING cell assignment against a frozen model: adds
    * `cell` to a frame of arbitrary schema — the incremental-encode
    * step of a streaming vector delivery, where each epoch's rows carry
    * the full delivered payload and must come out searchable without a
    * batch re-index ([[index]] projects down to exactly three columns,
    * which is right for the batch build and wrong for an epoch append).
    * Same nearest-centroid rule as [[index]] (one narrow pass, model
    * broadcast), so rows encoded epoch-by-epoch land in EXACTLY the
    * cells a batch rebuild would give them — [[search]] over the
    * accumulated epochs equals search over a batch index of the same
    * closed input. The assignment is the codegen'd
    * [[graft.functions.IvfCellExpr]] (the `DotProductF` pattern):
    * the dynamic payload schema rides untouched, the kernel reads the
    * ArrayData in place with no per-row Catalyst→Scala conversion —
    * this runs over every delivered vector exactly once, so the UDF
    * boundary it replaces sat on the heaviest scan of the ANN build.
    * Null embeddings get a null cell: absent from every probe's
    * equi-join, present in the table.
    */
  def withCell(df: DataFrame, model: Model,
      embCol: String = "embedding"): DataFrame =
    df.withColumn("cell",
      graft.functions.AnnFunctions.ivf_cell(col(embCol), model.centroids))

  /** The `nprobe` nearest cells per probe: (probe_id, cell). The
    * bit-parity-critical probe-cell rule — single-precision per-dim
    * subtract/square, double accumulation, ties to the smaller cell
    * (the SQL oracle's `ORDER BY sqdist, cell`) — lives HERE only;
    * [[search]] and [[IvfPq.search]] both call it, so the two paths
    * can never drift from the oracle contract independently.
    */
  private[operators] def probeCells(spark: SparkSession, probes: DataFrame,
      model: Model, nprobe: Int): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.centroids)
    probes.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        bc.value.map { case (c, cv) =>
          var d = 0.0; var i = 0
          val n = math.min(cv.length, v.length)
          while (i < n) { val t = cv(i) - v(i); d += t * t; i += 1 }
          (id, c, d)
        }.sortBy(x => (x._3, x._2)).take(nprobe).map { case (pid, c, _) => (pid, c) }
      }.toDF("probe_id", "cell")
  }

  /** Top-k cosine search probing only the `nprobe` nearest cells. */
  def search(spark: SparkSession, indexed: DataFrame, model: Model,
      probes: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cells = probeCells(spark, probes, model, nprobe)
    // Norms once per VECTOR before the join (not per joined pair — a
    // probe's norm would otherwise be re-folded for every candidate).
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        sqrt(dot_f(col("embedding"), col("embedding"))).as("na"))
      .join(cells, "probe_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    indexed
      .withColumn("nb", sqrt(dot_f(col("embedding"), col("embedding"))))
      .join(broadcast(p), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        // shared zero-norm guard: NaN would sort ABOVE every real cosine
        // and occupy rank 1 of every probe's top-k
        Similarity.cosSafe(dot_f(col("pe"), col("embedding")), col("na"), col("nb"))
          .as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Prototype (coreset) selection: the ONE vector closest to its
    * cell's centroid, per cell — the cheap geometric-diversity
    * summary of a corpus (a k-sized sample with at least one
    * representative per k-means region), the selection rung SemDeDup's
    * authors use for "keep the cluster's most central example" and the
    * standard seed set for herding-style data pruning. Complements
    * q75: SemDeDup removes a cell's redundant members, this PICKS the
    * cell's canonical one.
    *
    * `indexed` is an [[index]] output (vec_id, embedding, cell) against
    * the SAME frozen model (the q73/q89/q139 shared-index discipline).
    * Distance is the codegen'd [[graft.functions.SqDistF]] — the
    * bit-identical twin of [[nearest]]'s assignment metric, so the
    * chosen prototype is provably a member of its own cell.
    *
    * Returns (cell, vec_id, sqdist), one row per non-empty cell.
    * Shape: centroids join BROADCAST (k rows), then ONE mergeable
    * `min(struct(dist, vec_id))` hash-agg over the corpus — k output
    * rows, no window, no second pass; ties inside a cell go to the
    * smaller vec_id via the struct order.
    */
  def prototypes(spark: SparkSession, indexed: DataFrame, model: Model): DataFrame = {
    import spark.implicits._
    val cents = model.centroids.toSeq.toDF("cell", "cv")
    indexed.join(broadcast(cents), "cell")
      .select(col("cell"),
        graft.functions.VectorFunctions.sqdist_f(col("embedding"), col("cv")).as("d"),
        col("vec_id"))
      .groupBy("cell")
      .agg(min(struct(col("d"), col("vec_id"))).as("best"))
      .select(col("cell"), col("best.vec_id").as("vec_id"),
        col("best.d").as("sqdist"))
  }

  /** Per-cell index-quality card over a frozen model: (cell, n,
    * sum_qdist, max_qdist, mean_sqdist, share) — population, inertia
    * (Σ squared centroid distance) and the cell's corpus share. This
    * is the health report an IVF deployment watches: a cell with a
    * huge share is a probe hot-spot (every nprobe visit scans it), a
    * cell with outsized mean inertia under-serves recall (its vectors
    * sit far from the routing centroid; FAISS's imbalance-factor lore)
    * — both the operational signals behind re-training or splitting.
    *
    * Determinism discipline: per-vector distances are the codegen'd
    * `sqdist_f` (bit-identical to the trainer and the oracle's
    * REAL-cast replay), QUANTIZED per row to 1e-6 units — floor of a
    * bit-agreed double — so the per-cell inertia SUMS are order-free
    * long sums, exact under any partitioning (the q175 integer-sum
    * rule; a raw double sum here would be partial-sum-order
    * dependent). `mean_sqdist` and `share` are one scalar division
    * each off the exact integers.
    *
    * Scale shape: centroids broadcast, ONE mergeable k-row hash-agg
    * over the corpus pass the index build already pays, plus a 1-row
    * total broadcast back. No window, no join beyond the broadcast.
    */
  def cellQuality(spark: SparkSession, indexed: DataFrame, model: Model,
      quant: Long = 1000000L): DataFrame = {
    require(quant >= 1000L, s"quantization must be >= 1e3 units, got $quant")
    import spark.implicits._
    val cents = model.centroids.toSeq.toDF("cell", "cv")
    val per = indexed.join(broadcast(cents), "cell")
      .select(col("cell"),
        floor(graft.functions.VectorFunctions.sqdist_f(col("embedding"), col("cv"))
          * quant + lit(0.5)).cast("long").as("qd"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("qd")).as("sum_qdist"),
        max(col("qd")).as("max_qdist"))
    val tot = per.agg(sum(col("n")).as("total"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n"), col("sum_qdist"), col("max_qdist"),
        (col("sum_qdist").cast("double") / (col("n") * quant).cast("double"))
          .as("mean_sqdist"),
        (col("n").cast("double") / col("total").cast("double")).as("share"))
  }
}
