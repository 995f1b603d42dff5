package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ivf, IvfPq}

class IvfPqSpec extends SparkSpec {

  private lazy val emb = queries.Tables.t(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private lazy val model = IvfPq.train(spark, emb, kCoarse = 4,
    coarseIters = 2, nSub = 4, subDim = 16, kSub = 4, pqIters = 2,
    meanRound = 4)

  test("encoded rows carry a valid coarse cell and per-subspace codes") {
    import spark.implicits._
    val enc = IvfPq.encode(emb, model)
      .select("cell", "codes").as[(Int, Seq[Int])].collect()
    assert(enc.length == emb.count())
    enc.foreach { case (cell, codes) =>
      assert(cell >= 0 && cell < 4, s"coarse cell out of range: $cell")
      assert(codes.length == 4)
      assert(codes.forall(c => c >= 0 && c < 4), s"residual code out of range: $codes")
    }
  }

  test("codegen'd withCellCodes encodes bit-identically to the batch encode " +
      "and to a driver-side replay of the nearest kernel") {
    import spark.implicits._
    // Ground truth INDEPENDENT of the expression kernel (both paths
    // now share it): replay the encode driver-side with Ivf.nearest —
    // the arithmetic the SQL oracles also replay.
    val local = emb.as[(Long, Array[Float])].collect().map { case (id, v) =>
      val cell = Ivf.nearest(model.coarse.centroids, v)
      val cv = model.coarse.centroids(cell)._2
      val r = Array.tabulate(v.length)(d => v(d) - cv(d))
      val codes = (0 until model.pq.subModels.length).map { j =>
        Ivf.nearest(model.pq.subModels(j).centroids,
          r.slice(j * model.pq.subDim, (j + 1) * model.pq.subDim))
      }
      (id, cell, codes)
    }.sortBy(_._1)
    // The streaming-epoch expression path and the batch path must
    // assign EXACTLY the same (cell, codes) per vector — epoch-
    // appended rows land where a batch rebuild would put them.
    val batch = IvfPq.encode(emb, model)
      .select("vec_id", "cell", "codes").as[(Long, Int, Seq[Int])]
      .collect().sortBy(_._1)
    assert(batch.toSeq == local.toSeq)
    val expr = IvfPq.withCellCodes(
        emb.withColumn("payload", lit("kept")), model)
      .select("vec_id", "cell", "codes").as[(Long, Int, Seq[Int])]
      .collect().sortBy(_._1)
    assert(expr.toSeq == batch.toSeq)
    // Extra payload columns ride through untouched (the dynamic-schema
    // contract the UDF this replaced existed for).
    assert(IvfPq.withCellCodes(
      emb.withColumn("payload", lit("kept")), model)
      .columns.toSeq == Seq("vec_id", "embedding", "payload", "cell", "codes"))
    // Null embeddings: the STREAMING path passes them through with
    // null cell/codes (rows ride, absent from probes' joins) ...
    val nullEmb = emb.limit(1).select(col("vec_id"),
      lit(null).cast("array<float>").as("embedding"))
    val withNull = IvfPq.withCellCodes(nullEmb, model)
    assert(withNull.filter(col("cell").isNull && col("codes").isNull).count() == 1)
    // ... while the BATCH build fails loud, like the typed map it
    // replaced (silent null codes would vanish from every ADC join).
    val loud = intercept[Exception] {
      IvfPq.encode(nullEmb, model).collect()
    }
    assert(loud.toString.contains("refuses silent row loss")
        || Option(loud.getCause).exists(_.toString.contains("refuses silent row loss")),
      loud.toString)
    // Wrong-width vectors fail loud, never truncated-encode.
    val thrown = intercept[org.apache.spark.SparkException] {
      IvfPq.withCellCodes(
        emb.limit(1).select(col("vec_id"),
          expr_slice1.as("embedding")), model).collect()
    }
    assert(thrown.getMessage != null)
  }

  private def expr_slice1 =
    slice(col("embedding"), 1, 3)

  test("codegen'd Ivf.withCell matches the batch index assignment") {
    import spark.implicits._
    val m = model.coarse
    val batch = Ivf.index(emb, m)
      .select("vec_id", "cell").as[(Long, Int)].collect().sortBy(_._1)
    val viaExpr = Ivf.withCell(emb, m)
      .select("vec_id", "cell").as[(Long, Int)].collect().sortBy(_._1)
    assert(viaExpr.toSeq == batch.toSeq)
  }

  test("ADC scores equal the naive decomposition, bit for bit") {
    import spark.implicits._
    // The operator's identity: dot(p, c + r-hat) via dot(p,c) + per-
    // subspace table adds, |c + r-hat|^2 via per-subspace norm terms.
    // Recompute both from the models with plain driver-side loops in
    // the same fold order and require exact agreement.
    val probesDf = emb.filter(col("vec_id") < 5)
    val got = IvfPq.search(spark, IvfPq.encode(emb, model), model,
        probesDf, k = 5, nprobe = 2)
      .select("probe_id", "neighbor_id", "pq_cos", "rnk")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length == 25, s"expected 5 probes x top-5, got ${got.length}")

    val vecs = emb.as[(Long, Array[Float])].collect().toMap
    val enc = IvfPq.encode(emb, model)
      .select("vec_id", "cell", "codes").as[(Long, Int, Seq[Int])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def seqDot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    got.foreach { case (pid, nid, cos, _) =>
      val p = vecs(pid)
      val (cell, codes) = enc(nid)
      val cv = model.coarse.centroids.find(_._1 == cell).get._2
      val num = (0 until 4).foldLeft(seqDot(p, cv)) { (acc, j) =>
        acc + seqDot(p.slice(j * 16, (j + 1) * 16),
          model.pq.subModels(j).centroids.find(_._1 == codes(j)).get._2)
      }
      val nsq = (0 until 4).map { j =>
        val rv = model.pq.subModels(j).centroids.find(_._1 == codes(j)).get._2
        var s = 0.0; var i = 0
        while (i < 16) {
          val t = cv(j * 16 + i).toDouble + rv(i).toDouble
          s += t * t; i += 1
        }
        s
      }.reduceLeft(_ + _)
      val na = math.sqrt(seqDot(p, p))
      val expect = if (na == 0.0 || math.sqrt(nsq) == 0.0) -1.0
        else num / (na * math.sqrt(nsq))
      assert(cos == expect, s"probe $pid neighbor $nid: $cos != $expect")
    }
  }

  test("empty probe frame yields the empty result, not a dim failure") {
    val enc = IvfPq.encode(emb, model)
    val none = IvfPq.search(spark, enc, model,
      emb.filter(col("vec_id") < 0), k = 3, nprobe = 2)
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("probe_id", "neighbor_id", "pq_cos", "rnk"))
  }

  test("candidates come only from probed cells") {
    import spark.implicits._
    val probesDf = emb.filter(col("vec_id") < 5)
    val cells = IvfPq.encode(emb, model)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    // Recompute each probe's nprobe cells the way Ivf.search does.
    val probes = probesDf.as[(Long, Array[Float])].collect()
    val probed = probes.map { case (id, v) =>
      id -> model.coarse.centroids.map { case (c, cv) =>
        var d = 0.0; var i = 0
        val n = math.min(cv.length, v.length)
        while (i < n) { val t = cv(i) - v(i); d += t * t; i += 1 }
        (c, d)
      }.sortBy(x => (x._2, x._1)).take(2).map(_._1).toSet
    }.toMap
    IvfPq.search(spark, IvfPq.encode(emb, model), model, probesDf,
        k = 5, nprobe = 2)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
      .foreach { case (pid, nid) =>
        assert(probed(pid).contains(cells(nid)),
          s"neighbor $nid of probe $pid sits outside its probed cells")
      }
  }
}
