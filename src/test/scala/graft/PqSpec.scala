package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Pq}

class PqSpec extends SparkSpec {

  private lazy val emb = queries.Tables.t(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private lazy val model = Pq.train(spark, emb, nSub = 4, subDim = 16,
    k = 4, iters = 2, meanRound = 4)

  test("codes are per-subspace cell ids in [0, k)") {
    import spark.implicits._
    val codes = Pq.encode(emb, model)
      .select("codes").as[Seq[Int]].collect()
    assert(codes.nonEmpty)
    codes.foreach { cs =>
      assert(cs.length == 4)
      assert(cs.forall(c => c >= 0 && c < 4), s"code out of range: $cs")
    }
  }

  test("ADC table scores equal explicit reconstruction cosines") {
    import spark.implicits._
    // The operator's load-bearing identity: dot(probe, recon(codes)) ==
    // sum of per-subspace lookup-table entries, because reconstruction
    // is concatenation. Recompute the scores the naive way — rebuild
    // each candidate's reconstruction from the codebooks, fold the full
    // cosine in one pass — and require bit-level agreement with the
    // distributed table-join path (same sequential double arithmetic).
    val probesDf = emb.filter(col("vec_id") < 5)
    val got = Pq.search(spark, Pq.encode(emb, model), model, probesDf, k = 5)
      .select("probe_id", "neighbor_id", "pq_cos", "rnk")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length == 25, s"expected 5 probes x top-5, got ${got.length}")

    val vecs = emb.as[(Long, Array[Float])].collect().toMap
    val codes = Pq.encode(emb, model).as[(Long, Seq[Int])].collect().toMap
    def recon(cs: Seq[Int]): Array[Float] =
      cs.zipWithIndex.flatMap { case (c, j) =>
        model.subModels(j).centroids.find(_._1 == c).get._2
      }.toArray
    def seqDot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    got.foreach { case (pid, nid, cos, _) =>
      val p = vecs(pid)
      val r = recon(codes(nid))
      // Match the operator's arithmetic shape: numerator as the SUM OF
      // PER-SUBSPACE dots (left-to-right), norms as full-vector folds.
      val num = (0 until 4).map { j =>
        seqDot(p.slice(j * 16, (j + 1) * 16),
          model.subModels(j).centroids.find(_._1 == codes(nid)(j)).get._2)
      }.reduceLeft(_ + _)
      val na = math.sqrt(seqDot(p, p))
      val nsq = (0 until 4).map { j =>
        val cv = model.subModels(j).centroids.find(_._1 == codes(nid)(j)).get._2
        seqDot(cv, cv)
      }.reduceLeft(_ + _)
      val expect = if (na == 0.0 || math.sqrt(nsq) == 0.0) -1.0
        else num / (na * math.sqrt(nsq))
      assert(cos == expect, s"probe $pid neighbor $nid: $cos != $expect")
      // Reconstruction identity: the table numerator IS dot(probe,
      // recon) in real arithmetic. In floats the two differ only by
      // summation GROUPING (per-subspace partials vs one fold), so
      // allow ulp-scale slack — anything larger means the codebooks
      // and the reconstruction disagree.
      val full = seqDot(p, r)
      assert(math.abs(num - full) <= 1e-9 * math.max(1.0, math.abs(full)),
        s"table adds $num far from reconstruction dot $full for $nid")
    }
  }

  test("search rejects mis-dimensioned probes; empty probes yield empty") {
    // dot_f folds over the shorter vector, so a probe narrower than
    // nSub*subDim would silently score truncated numerators against a
    // full-width norm — search must refuse it like train() refuses a
    // non-tiling corpus.
    val enc = Pq.encode(emb, model)
    val bad = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 17).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Pq.search(spark, enc, model, bad, k = 3)
    }
    assert(ex.getMessage.contains("probe dims"))
    // Zero probes is not an error: the empty result frame, same schema.
    val none = Pq.search(spark, enc, model, emb.filter(col("vec_id") < 0), k = 3)
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("probe_id", "neighbor_id", "pq_cos", "rnk"))
    // But probes that EXIST with all-NULL embeddings are corrupt input,
    // not "no matches" — min/max skip nulls, so without the row count
    // this case was silently reported as empty.
    val allNull = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), lit(null).cast("array<float>").as("embedding"))
    val exNull = intercept[IllegalArgumentException] {
      Pq.search(spark, enc, model, allNull, k = 3)
    }
    assert(exNull.getMessage.contains("every embedding NULL"))
  }

  test("PQ quantization error shrinks as codebooks grow") {
    import spark.implicits._
    // More centroids per subspace → closer reconstructions. Average
    // squared reconstruction error must not increase going k=2 → k=8
    // (a sanity bound that catches swapped codebooks or misaligned
    // slicing without depending on data specifics).
    def avgErr(k: Int): Double = {
      val m = Pq.train(spark, emb, nSub = 4, subDim = 16, k = k,
        iters = 2, meanRound = 4)
      val codes = Pq.encode(emb, m).as[(Long, Seq[Int])].collect().toMap
      val vecs = emb.as[(Long, Array[Float])].collect()
      val errs = vecs.map { case (id, v) =>
        val r = codes(id).zipWithIndex.flatMap { case (c, j) =>
          m.subModels(j).centroids.find(_._1 == c).get._2
        }
        v.zip(r).map { case (a, b) =>
          val d = a.toDouble - b.toDouble; d * d
        }.sum
      }
      errs.sum / errs.length
    }
    val e2 = avgErr(2); val e8 = avgErr(8)
    assert(e8 <= e2, s"k=8 error $e8 exceeds k=2 error $e2")
  }
}
