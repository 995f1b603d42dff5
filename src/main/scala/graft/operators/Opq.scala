package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** OPQ-style rotation ahead of product quantization (Ge et al.,
  * "Optimized Product Quantization for Approximate Nearest Neighbor
  * Search", CVPR 2013): PQ's quantization error depends on how variance
  * and correlation spread ACROSS the subspaces, and an orthogonal
  * rotation applied before slicing rebalances them without changing any
  * geometry (norms, dots, and cosines are invariant, so the rotated
  * index answers the same queries). Full OPQ alternates the rotation
  * and the codebooks; the rotation rung implemented here is the
  * paper's data-independent baseline (§2, "RR" — also PQ's standard
  * pre-conditioner in practice): a fixed orthogonal transform shared by
  * corpus and probes.
  *
  * The transform is a HOUSEHOLDER reflection R = I − 2·u·uᵀ with a
  * deterministic unit direction u: signs from the same md5 rule as the
  * LSH planes ([[Similarity.planeWeight]] — engine-portable, no RNG
  * state), scaled by 1/√dim. Exactly orthogonal by construction
  * (R·Rᵀ = I in real arithmetic; R is its own inverse), it mixes every
  * input dimension into every subspace, and — unlike a dense d×d
  * matmul — applies in O(d) per vector:
  *
  *   y = x − 2·u·(u·x)
  *
  * one shared fold for s = u·x, then one multiply-subtract per
  * dimension. Every step is a sequential double op in a fixed order, so
  * an external engine replays the rotation bit-for-bit (q78's oracle
  * does, then replays the whole PQ chain of q76 over the rotated
  * corpus).
  *
  * Scale shape: `u` is dim-sized (driver constant, broadcast with the
  * task binary); [[rotate]] is one narrow map — no shuffle, no model
  * state. Compose as rotate → [[Pq.train]]/[[Pq.encode]]/[[Pq.search]]
  * (rotating probes with the same rotation), or ahead of [[IvfPq]] the
  * same way.
  */
object Opq {

  /** The unit Householder direction (doubles — scaling by 1/√dim leaves
    * float range, and the SQL twin divides in double too).
    */
  final case class Rotation(u: Array[Double])

  /** Deterministic direction for `dim` dimensions: u[d] = ±1/√dim with
    * the sign of [[Similarity.planeWeight]](seed, d) — the md5 bit an
    * engine computes in SQL. At dim = 64 (the embeddings table) 1/√64
    * is exactly 0.125, so u is exact; at other dims both engines
    * compute the same correctly-rounded `sign / sqrt(dim)` double.
    */
  def rotation(dim: Int, seed: Int = 0): Rotation = {
    require(dim > 0, s"rotation dim must be positive, got $dim")
    val s = math.sqrt(dim.toDouble)
    Rotation(Array.tabulate(dim)(d => Similarity.planeWeight(seed, d).toDouble / s))
  }

  /** Apply y = x − 2·u·(u·x), per-component cast back to float32 — the
    * narrow rotation pass over (vec_id, embedding). Fold order is
    * fixed (ascending dimension, u[i]·x[i] products into a double
    * accumulator; then x[d] − 2·u[d]·s left-to-right), matching the
    * oracle's spelling exactly. Vectors SHORTER than u rotate in their
    * leading subspace (the fold stops at the shorter length, like
    * [[graft.functions.DotProductF]]); longer ones fail loud — silently
    * leaving tail dimensions unmixed would corrupt the PQ slices
    * downstream.
    */
  def rotate(embeddings: DataFrame,
      rot: Rotation): DataFrame =
    // Codegen'd kernel (graft.functions.HouseholderRotateExpr) — this
    // narrow pass runs over the WHOLE corpus every time a rotated
    // family builds or searches, so the typed-map ser/de it replaces
    // was pure per-row overhead (the AnnEncode rationale).
    embeddings.select(col("vec_id"),
      graft.functions.RotateFunctions.opq_rotate(col("embedding"), rot.u)
        .as("embedding"))

  // -------------------------------------------------------------------
  // Learned rung 1: balanced-variance dimension allocation (parametric)
  // -------------------------------------------------------------------

  /** A learned dimension permutation: `perm(slot)` is the SOURCE
    * dimension feeding output slot `slot` (0-based). A permutation
    * matrix is orthogonal, so composing it after [[rotate]] keeps the
    * whole transform orthogonal (norms/dots/cosines invariant).
    */
  final case class Allocation(perm: Array[Int])

  /** Learn the variance-balancing allocation of Ge et al. §4's
    * PARAMETRIC solution (OPQ-P): for Gaussian data the optimal
    * orthogonal transform is an eigenvalue ALLOCATION — a permutation
    * distributing variance evenly across the `nSub` PQ subspaces so no
    * codebook is starved while another is overloaded. Applied here in
    * the [[rotate]]-mixed basis (the Householder mix plays PCA's
    * decorrelating role to first order; a true PCA rotation would need
    * an eigendecomposition no SQL oracle can replay — that full
    * non-parametric path is [[trainRotation]] below, spec-gated).
    *
    * Assignment is the closed-form SNAKE draft over dims ranked by
    * descending variance (rank r goes to bin `r % nSub`, order
    * reversing every round) — the standard balanced heuristic, chosen
    * over Ge et al.'s greedy min-product bin packing because it is a
    * pure closed form BOTH engines compute identically, instead of a
    * 64-step sequential loop an SQL oracle would need a recursive CTE
    * for. Within a bin, slots keep rank order.
    *
    * Engine parity: per-dim variance is (Σx² − (Σx)²/n)/n over doubles
    * — parallel-sum order can drift the last ulp vs a sequential
    * replay, so the value is snapped to a 10^-`round` grid before
    * ranking (the [[Ivf.train]] meanRound rationale; ties then break
    * by dimension index). One corpus-sized posexplode + two-phase
    * hash-agg; the collected statistics are `dim` rows of driver data.
    */
  def allocate(embeddings: DataFrame, dim: Int,
      nSub: Int, round: Int = 4): Allocation = {
    require(dim > 0 && nSub > 0 && dim % nSub == 0,
      s"allocate: dim $dim must split into nSub $nSub even subspaces")
    val p = math.pow(10, round)
    val stats = embeddings
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("d"), col("x").cast("double").as("x"))
      .groupBy("d")
      .agg(((sum(col("x") * col("x")) - sum(col("x")) * sum(col("x"))
          / count(lit(1))) / count(lit(1))).as("v"))
      .select(col("d"), (floor(col("v") * p + lit(0.5)) / p).as("v"))
      .collect()
    require(stats.length == dim,
      s"allocate: corpus has ${stats.length} distinct dims, expected $dim " +
        "(ragged or empty embeddings)")
    val ranked = stats.map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy { case (d, v) => (-v, d) }
    val subDim = dim / nSub
    val slotOf = new Array[Int](dim) // rank -> slot
    val fill = new Array[Int](nSub)
    ranked.indices.foreach { r =>
      val pos = r % nSub
      val bin = if ((r / nSub) % 2 == 0) pos else nSub - 1 - pos
      slotOf(r) = bin * subDim + fill(bin)
      fill(bin) += 1
    }
    val perm = new Array[Int](dim)
    ranked.indices.foreach(r => perm(slotOf(r)) = ranked(r)._1)
    Allocation(perm)
  }

  /** Apply the allocation: out(slot) = in(perm(slot)) — a narrow O(d)
    * map, no shuffle. Requires exactly `perm.length`-dim vectors (a
    * permutation of a shorter vector has no meaning); nulls pass
    * through null like [[rotate]].
    */
  def permute(embeddings: DataFrame,
      alloc: Allocation): DataFrame =
    embeddings.select(col("vec_id"),
      graft.functions.RotateFunctions.opq_permute(col("embedding"), alloc.perm)
        .as("embedding"))

  // --------------------------------------------------------------------
  // Learned rung 2: full alternating optimization (non-parametric OPQ)
  // --------------------------------------------------------------------

  /** A dense learned orthogonal transform, row-major:
    * y(i) = Σ_j m(i)(j)·x(j).
    */
  final case class DenseRotation(m: Array[Array[Double]])

  /** [[trainRotation]]'s result: the learned rotation, the codebooks
    * trained in the FINAL rotated space (use with `Pq.encode`/`search`
    * over [[rotateDense]]-transformed corpus and probes), and the
    * per-iteration quantization error Σ‖Rx − recon‖² — the objective
    * trace a caller (and OpqSpec) checks for descent.
    */
  final case class Learned(rotation: DenseRotation, model: Pq.Model,
      errors: Array[Double])

  /** Apply a dense rotation: one narrow O(d²) map per vector (still no
    * shuffle, no state; R broadcasts). Float32 output like [[rotate]].
    */
  def rotateDense(embeddings: DataFrame,
      rot: DenseRotation): DataFrame =
    embeddings.select(col("vec_id"),
      graft.functions.RotateFunctions.opq_rotate_dense(col("embedding"), rot.m)
        .as("embedding"))

  /** Ge et al. §3's NON-PARAMETRIC OPQ: alternate (a) retraining the
    * per-subspace codebooks in the current rotated space with (b) the
    * orthogonal-Procrustes update of R against the fixed codes,
    *
    *   R ← argmax_{RᵀR=I} tr(R·M),  M = Σ_i x_i·ŷ_iᵀ,
    *
    * solved as R = Uₚᵀ where Uₚ is the orthogonal polar factor of M
    * (Higham's Newton iteration X ← (X + X⁻ᵀ)/2, quadratically
    * convergent — a d×d driver-side solve). Each half-step can only
    * lower Σ‖Rx − ŷ‖² in exact arithmetic, so the error trace
    * descends to a local optimum (float mean-snapping can wiggle the
    * last ulps; [[Learned.errors]] exposes the trace rather than
    * asserting).
    *
    * Scale shape: the corpus is touched once per iteration by ONE
    * fused mapPartitions pass (rotate O(d²) + nearest-centroid encode
    * + d×d outer-product accumulation per row, treeReduce'd) plus the
    * Pq.train Lloyd passes; driver state is O(d²) + codebooks. The
    * input is persisted across iterations like [[Ivf.train]]'s loop.
    *
    * NOT oracle-gated, by design: M is a parallel float sum and the
    * polar solve amplifies its last-ulp partition-order drift into a
    * full matrix an external SQL engine cannot replay bit-exactly —
    * this is precisely why the GATED learned rung is the closed-form
    * [[allocate]] permutation; OpqSpec pins this one (orthogonality to
    * 1e-8, error descent vs the R = I start).
    *
    * Requires every vector non-null and exactly `nSub·subDim`-dim
    * (filter upstream; [[Pq.train]] enforces the same).
    */
  def trainRotation(spark: SparkSession, embeddings: DataFrame, nSub: Int,
      subDim: Int, k: Int, opqIters: Int, pqIters: Int,
      meanRound: Int = 0): Learned = {
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    val d = nSub * subDim
    import spark.implicits._
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var r = identityMatrix(d)
      var model: Pq.Model = null
      val errs = Array.newBuilder[Double]
      (0 until opqIters).foreach { _ =>
        val rotated = rotateDense(vecs.toDF("vec_id", "embedding"),
          DenseRotation(r))
        model = Pq.train(spark, rotated, nSub, subDim, k, pqIters, meanRound)
        val bcR = spark.sparkContext.broadcast(r)
        val bcCents = spark.sparkContext.broadcast(
          model.subModels.map(_.centroids))
        try {
          // One fused corpus pass: y = Rx, encode y, accumulate
          // M += x·ŷᵀ and the objective Σ‖y − ŷ‖².
          val (mFlat, err) = vecs.rdd.mapPartitions { it =>
            val rm = bcR.value
            val cents = bcCents.value
            val dd = rm.length
            val acc = new Array[Double](dd * dd + 1)
            it.foreach { case (id, x) =>
              require(x != null && x.length == dd,
                s"Opq.trainRotation: vec $id is not a non-null dim-$dd vector")
              val y = applyDense(rm, x)
              val yhat = new Array[Float](dd)
              var j = 0
              while (j < cents.length) {
                val lo = j * (dd / cents.length)
                val slice = java.util.Arrays.copyOfRange(y, lo,
                  lo + dd / cents.length)
                val c = cents(j)(Ivf.nearest(cents(j), slice))._2
                System.arraycopy(c, 0, yhat, lo, c.length)
                j += 1
              }
              var i = 0
              while (i < dd) {
                val xi = x(i).toDouble
                var jj = 0
                while (jj < dd) {
                  acc(i * dd + jj) += xi * yhat(jj).toDouble
                  jj += 1
                }
                val t = y(i).toDouble - yhat(i).toDouble
                acc(dd * dd) += t * t
                i += 1
              }
            }
            Iterator(acc)
          }.treeReduce { (a, b) =>
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          } match { case acc => (acc.take(d * d), acc(d * d)) }
          errs += err
          r = transpose(polarOrthogonal(unflatten(mFlat, d)))
        } finally { bcR.destroy(); bcCents.destroy() }
      }
      // Codebooks were trained against the PREVIOUS R; retrain once in
      // the final rotated space so rotation and model agree.
      val finalRot = DenseRotation(r)
      model = Pq.train(spark,
        rotateDense(vecs.toDF("vec_id", "embedding"), finalRot),
        nSub, subDim, k, pqIters, meanRound)
      Learned(finalRot, model, errs.result())
    } finally vecs.unpersist(blocking = false)
  }

  private def applyDense(m: Array[Array[Double]], v: Array[Float]): Array[Float] = {
    val out = new Array[Float](v.length)
    var i = 0
    while (i < v.length) {
      val row = m(i)
      var s = 0.0
      var j = 0
      while (j < v.length) { s += row(j) * v(j).toDouble; j += 1 }
      out(i) = s.toFloat
      i += 1
    }
    out
  }

  private def identityMatrix(d: Int): Array[Array[Double]] =
    Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)

  private def unflatten(flat: Array[Double], d: Int): Array[Array[Double]] =
    Array.tabulate(d, d)((i, j) => flat(i * d + j))

  private def transpose(m: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(m.length, m.length)((i, j) => m(j)(i))

  private def matmul(a: Array[Array[Double]],
      b: Array[Array[Double]]): Array[Array[Double]] = {
    val d = a.length
    Array.tabulate(d, d) { (i, j) =>
      var s = 0.0
      var t = 0
      while (t < d) { s += a(i)(t) * b(t)(j); t += 1 }
      s
    }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * S = Q·diag(λ)·Qᵀ with Q's COLUMNS the eigenvectors. Classic
    * rotation sweeps until every off-diagonal is annihilated to
    * machine precision — unconditionally stable for the symmetric PSD
    * inputs [[polarOrthogonal]] feeds it, and deterministic (fixed
    * sweep order, no pivot randomness). O(d³) per sweep at d = vector
    * dim: driver-trivial.
    */
  private[graft] def jacobiEigen(
      s: Array[Array[Double]]): (Array[Array[Double]], Array[Double]) = {
    val d = s.length
    val a = s.map(_.clone())
    val q = identityMatrix(d)
    // Convergence is judged RELATIVE to the matrix scale: Jacobi stalls
    // at off-diagonals ~|λ|max·1e-16 (machine precision), so an
    // absolute bar would never be met for realistically-scaled input
    // (corpus correlation sums reach 1e6+) and every call would burn
    // all 100 sweeps doing no-op rotations after converging in ~10.
    var scale = 0.0
    var i0 = 0
    while (i0 < d) {
      var j0 = 0
      while (j0 < d) { scale = math.max(scale, math.abs(s(i0)(j0))); j0 += 1 }
      i0 += 1
    }
    val bar = math.max(scale * 1e-15, Double.MinPositiveValue)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > bar) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var r = p + 1
        while (r < d) {
          val apr = a(p)(r)
          off = math.max(off, math.abs(apr))
          if (math.abs(apr) > 1e-300) {
            // Rutishauser's stable rotation parameters.
            val theta = (a(r)(r) - a(p)(p)) / (2.0 * apr)
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val air = a(i)(r)
              a(i)(p) = c * aip - sn * air
              a(i)(r) = sn * aip + c * air
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val ari = a(r)(i)
              a(p)(i) = c * api - sn * ari
              a(r)(i) = sn * api + c * ari
              val qip = q(i)(p); val qir = q(i)(r)
              q(i)(p) = c * qip - sn * qir
              q(i)(r) = sn * qip + c * qir
              i += 1
            }
          }
          r += 1
        }
        p += 1
      }
      sweep += 1
    }
    (q, Array.tabulate(d)(i => a(i)(i)))
  }

  /** The orthogonal polar factor Uₚ of M (M = Uₚ·H, H symmetric PSD —
    * equal to U·Vᵀ of the SVD, exactly the Procrustes maximizer
    * [[trainRotation]] needs), RANK-TOLERANT: with k centroids per
    * subspace the reconstructions span at most nSub·k dimensions, so M
    * is structurally singular and any Newton/inverse-based polar
    * iteration breaks. Instead: eigendecompose MᵀM = Q·Λ·Qᵀ (Jacobi),
    * take uᵢ = M·qᵢ/σᵢ for the σᵢ above tolerance, complete the
    * remaining columns to an orthonormal basis by Gram–Schmidt over
    * the standard basis (deterministic: lowest-index candidate first —
    * the null-space completion is Procrustes-arbitrary, it contributes
    * tr 0 regardless), and return U·Qᵀ.
    */
  private[graft] def polarOrthogonal(
      m: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m.length
    val (q, _) = jacobiEigen(matmul(transpose(m), m))
    // Left singular directions wᵢ = M·qᵢ, normalized by their ACTUAL
    // norm (exactly σᵢ in real arithmetic — but the eigensolver's λ
    // noise floor makes sqrt(λᵢ) of a null direction look ~1e-6 while
    // the true image norm is ~1e-13; dividing by the computed norm
    // keeps every kept column exactly unit). Rank cut is RELATIVE to
    // the largest σ: null-space noise sits ~10 orders below it.
    val w = Array.tabulate(d) { i =>
      Array.tabulate(d) { r =>
        var s = 0.0
        var t = 0
        while (t < d) { s += m(r)(t) * q(t)(i); t += 1 }
        s
      }
    }
    val norms = w.map(col => math.sqrt(col.map(x => x * x).sum))
    val tol = norms.max * 1e-7
    val u = Array.ofDim[Double](d, d) // u(row)(col)
    val have = Array.fill(d)(false)
    var i = 0
    while (i < d) {
      if (norms(i) > tol && tol > 0.0) {
        var r = 0
        while (r < d) { u(r)(i) = w(i)(r) / norms(i); r += 1 }
        have(i) = true
      }
      i += 1
    }
    // Deterministic completion: project each standard basis vector off
    // the columns already placed; keep it if anything survives.
    var cand = 0
    i = 0
    while (i < d) {
      if (!have(i)) {
        var placed = false
        while (!placed && cand < d) {
          val v = Array.tabulate(d)(r => if (r == cand) 1.0 else 0.0)
          var jCol = 0
          while (jCol < d) {
            if (have(jCol)) {
              var dotv = 0.0
              var r = 0
              while (r < d) { dotv += v(r) * u(r)(jCol); r += 1 }
              r = 0
              while (r < d) { v(r) -= dotv * u(r)(jCol); r += 1 }
            }
            jCol += 1
          }
          var nrm = 0.0
          var r = 0
          while (r < d) { nrm += v(r) * v(r); r += 1 }
          nrm = math.sqrt(nrm)
          if (nrm > 1e-8) {
            r = 0
            while (r < d) { u(r)(i) = v(r) / nrm; r += 1 }
            have(i) = true
            placed = true
          }
          cand += 1
        }
        if (!placed) throw new ArithmeticException(
          "Opq: could not complete an orthonormal basis in the polar solve")
      }
      i += 1
    }
    matmul(u, transpose(q))
  }

  /** max |(RᵀR − I)(i)(j)| — the orthogonality defect OpqSpec pins. */
  private[graft] def orthogonalityDefect(r: Array[Array[Double]]): Double = {
    val g = matmul(transpose(r), r)
    var worst = 0.0
    var i = 0
    while (i < g.length) {
      var j = 0
      while (j < g.length) {
        val target = if (i == j) 1.0 else 0.0
        worst = math.max(worst, math.abs(g(i)(j) - target))
        j += 1
      }
      i += 1
    }
    worst
  }
}
