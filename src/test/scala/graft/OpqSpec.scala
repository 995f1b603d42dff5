package graft

import org.apache.spark.sql.functions._

import graft.operators.Opq

class OpqSpec extends SparkSpec {

  private lazy val emb = queries.Tables.t(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private lazy val rot = Opq.rotation(64)

  test("rotation is orthogonal: norms and pairwise dots are preserved") {
    import spark.implicits._
    val orig = emb.as[(Long, Array[Float])].collect().toMap
    val rotd = Opq.rotate(emb, rot).as[(Long, Array[Float])].collect().toMap
    assert(rotd.keySet == orig.keySet)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    // Norm preservation per vector (float32 re-rounding budget only).
    orig.foreach { case (id, v) =>
      val n0 = math.sqrt(dot(v, v)); val n1 = math.sqrt(dot(rotd(id), rotd(id)))
      assert(math.abs(n0 - n1) <= 1e-4 * math.max(1.0, n0),
        s"vec $id norm moved: $n0 -> $n1")
    }
    // Dot preservation on a pair sample — cosines (the search metric)
    // are invariant, so a rotated index answers the same queries.
    val ids = orig.keys.toSeq.sorted.take(10)
    for (a <- ids; b <- ids if a < b) {
      val d0 = dot(orig(a), orig(b)); val d1 = dot(rotd(a), rotd(b))
      assert(math.abs(d0 - d1) <= 1e-3 * math.max(1.0, math.abs(d0)),
        s"dot($a,$b) moved: $d0 -> $d1")
    }
  }

  test("Householder reflection is an involution: rotate twice = identity") {
    import spark.implicits._
    val orig = emb.as[(Long, Array[Float])].collect().toMap
    val twice = Opq.rotate(Opq.rotate(emb, rot), rot)
      .as[(Long, Array[Float])].collect().toMap
    orig.foreach { case (id, v) =>
      v.zip(twice(id)).zipWithIndex.foreach { case ((x, y), d) =>
        assert(math.abs(x - y) <= 1e-3 * math.max(1.0, math.abs(x.toDouble)),
          s"vec $id dim $d: $x != $y after double rotation")
      }
    }
  }

  test("rotate matches a driver-side sequential replay bit-for-bit") {
    import spark.implicits._
    // The portability contract behind q78's oracle: same fold order,
    // same double ops, same float32 cast — EXACT equality, no tolerance.
    val got = Opq.rotate(emb, rot).as[(Long, Array[Float])].collect().toMap
    emb.as[(Long, Array[Float])].collect().foreach { case (id, v) =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += rot.u(i) * v(i).toDouble; i += 1 }
      val expect = Array.tabulate(v.length)(d =>
        (v(d).toDouble - 2.0 * rot.u(d) * s).toFloat)
      assert(got(id).sameElements(expect), s"vec $id rotation not bit-exact")
    }
    // And u itself is exact at dim 64: ±0.125, no rounding at all.
    assert(rot.u.forall(u => math.abs(u) == 0.125))
  }

  test("rotate fails loud on vectors wider than the rotation") {
    import spark.implicits._
    val wide = Seq((1L, Array.fill(65)(1.0f))).toDF("vec_id", "embedding")
    // Raw IAE when ConvertToLocalRelation evaluates the expression at
    // the driver (LocalRelation input), SparkException-wrapped when it
    // runs in a task — loud either way.
    val ex = intercept[Exception] {
      Opq.rotate(wide, rot).collect()
    }
    assert(ex.isInstanceOf[org.apache.spark.SparkException] ||
      ex.isInstanceOf[IllegalArgumentException], ex.toString)
    assert(ex.getMessage != null)
  }

  test("allocate learns a variance-balancing PERMUTATION (orthogonal, " +
      "deterministic, subspace variances provably rebalanced)") {
    import spark.implicits._
    val mixed = Opq.rotate(emb, rot)
    val alloc = Opq.allocate(mixed, dim = 64, nSub = 4)
    // A permutation of 0..63, exactly once each — orthogonality by
    // construction.
    assert(alloc.perm.sorted.sameElements(0 until 64), alloc.perm.toSeq)
    // Deterministic across recomputation (the oracle-parity property:
    // snapped variances + closed-form snake leave nothing to ordering).
    assert(Opq.allocate(mixed, 64, 4).perm.sameElements(alloc.perm))
    // It actually balances: per-subspace total variance spread (max/min)
    // must shrink vs the unpermuted layout. Compute both from one
    // driver-side pass over the collected corpus (500 x 64 — test data).
    val vecs = mixed.as[(Long, Array[Float])].collect().map(_._2)
    def dimVar(xs: Array[Double]): Double = {
      val n = xs.length
      val sx = xs.sum; val sxx = xs.map(x => x * x).sum
      (sxx - sx * sx / n) / n
    }
    val vars = Array.tabulate(64)(d => dimVar(vecs.map(_(d).toDouble)))
    def spread(perm: Int => Int): Double = {
      val bins = Array.tabulate(4)(b =>
        (0 until 16).map(i => vars(perm(b * 16 + i))).sum)
      bins.max / bins.min
    }
    val before = spread(identity)
    val after = spread(alloc.perm)
    assert(after <= before,
      s"allocation worsened subspace variance spread: $before -> $after")
    // Permute round-trips the multiset of components per vector.
    val permuted = Opq.permute(mixed, alloc)
      .as[(Long, Array[Float])].collect().toMap
    mixed.as[(Long, Array[Float])].collect().foreach { case (id, v) =>
      assert(permuted(id).sorted.sameElements(v.sorted), s"vec $id lost mass")
      assert(permuted(id).indices.forall(s => permuted(id)(s) == v(alloc.perm(s))))
    }
  }

  test("trainRotation (Ge et al. alternating optimization): R is " +
      "orthogonal and the objective descends from the R=I start") {
    val full = emb.filter(col("embedding").isNotNull)
    val learned = Opq.trainRotation(spark, full, nSub = 4, subDim = 16,
      k = 4, opqIters = 3, pqIters = 2)
    // Orthogonality to solver precision — norms/dots/cosines invariant,
    // so the learned index answers the same queries.
    assert(Opq.orthogonalityDefect(learned.rotation.m) < 1e-8,
      s"defect ${Opq.orthogonalityDefect(learned.rotation.m)}")
    // errors(0) is the PURE PQ objective (R = I before the first
    // Procrustes step); alternation must not end worse, and in practice
    // ends strictly better.
    assert(learned.errors.length == 3)
    assert(learned.errors.last <= learned.errors.head * (1.0 + 1e-9),
      s"objective rose: ${learned.errors.toSeq}")
    // The rotated corpus still searches: top-k from the learned space
    // is well-formed (5 probes x 5 ranked neighbors).
    val rotated = Opq.rotateDense(full, learned.rotation)
    val encoded = graft.operators.Pq.encode(rotated, learned.model)
    val probes = rotated.filter(col("vec_id") < 5)
    val top = graft.operators.Pq.search(spark, encoded, learned.model,
      probes, k = 5)
    assert(top.count() == 25)
  }

  test("polar orthogonal factor: recovers a known rotation and stays " +
      "orthogonal + trace-optimal on RANK-DEFICIENT input") {
    // M = R·H with R a known rotation and H SPD: polar must return R.
    val theta = 0.3
    val r2 = Array(Array(math.cos(theta), -math.sin(theta)),
      Array(math.sin(theta), math.cos(theta)))
    val h = Array(Array(2.0, 0.5), Array(0.5, 1.0)) // SPD
    val m = Array.tabulate(2, 2)((i, j) =>
      r2(i)(0) * h(0)(j) + r2(i)(1) * h(1)(j))
    val got = Opq.polarOrthogonal(m)
    for (i <- 0 until 2; j <- 0 until 2)
      assert(math.abs(got(i)(j) - r2(i)(j)) < 1e-10, s"($i,$j)")
    // Rank-1 input — the shape trainRotation actually produces (the
    // reconstructions span nSub·k dims at most): the completed factor
    // must still be exactly orthogonal and achieve the Procrustes
    // optimum tr(Uᵀ M) = Σσ (= 5 for [[1,2],[2,4]], σ = 5, 0).
    val sing = Array(Array(1.0, 2.0), Array(2.0, 4.0))
    val up = Opq.polarOrthogonal(sing)
    assert(Opq.orthogonalityDefect(up) < 1e-12)
    val tr = (0 until 2).map(i => (0 until 2).map(j => up(j)(i) * sing(j)(i)).sum).sum
    assert(math.abs(tr - 5.0) < 1e-10, s"trace $tr != 5")
  }
}
