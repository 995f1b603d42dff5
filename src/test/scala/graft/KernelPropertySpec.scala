package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.PrefixSum
import graft.streaming.LambdaStage
import graft.streaming.LambdaStage.Rec

/** Property tests for the two imperative kernels added this round —
  * the pieces that DON'T get a DuckDB oracle row and whose edge cases
  * (duplicate keys, nulls, odd batch boundaries) are exactly where
  * hand-picked examples miss. Deterministic seeds, CodecSpec-style.
  */
class KernelPropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1234L + i)))

  test("PrefixSum equals the global window form on arbitrary inputs (dups + nulls)") {
    import spark.implicits._
    val rows = Gen.listOfN(60,
      for {
        k <- Gen.choose(0L, 15L) // dense keys → plenty of duplicates
        v <- Gen.option(Gen.choose(-50L, 50L))
      } yield (k, v))
    samples(rows, 6).filter(_.nonEmpty).foreach { data =>
      val df = data.toDF("k", "v")
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0),
            Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Long]))) // cum NULL until first value
          .sortBy(t => (t._1, t._2.getOrElse(Long.MinValue),
            t._3.getOrElse(Long.MinValue))).toSeq
      val expected = canon(df
        .withColumn("cum", sum("v").over(Window.orderBy("k")))
        .select("k", "v", "cum").collect())
      val got = canon(PrefixSum.withRunningTotal(df, "k", "v", "cum", partitions = 4)
        .select("k", "v", "cum").collect())
      assert(got == expected, s"mismatch for input ${data.take(8)}...")
    }
  }

  test("withRunningMaxExclusive equals the exclusive-frame window on unique keys (nulls included)") {
    import spark.implicits._
    // Unique keys — the determinism precondition (q39's event_id).
    val rows = for {
      n <- Gen.choose(1, 50)
      vs <- Gen.listOfN(n, Gen.option(Gen.choose(-40L, 40L)))
    } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    samples(rows, 6).foreach { data =>
      val df = data.toDF("k", "v")
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).sortBy(_._1).toSeq
      val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
      val expected = canon(df
        .withColumn("mx", max("v").over(w)).select("k", "v", "mx").collect())
      val got = canon(PrefixSum.withRunningMaxExclusive(df, "k", "v", "mx", partitions = 4)
        .select("k", "v", "mx").collect())
      assert(got == expected, s"mismatch for input ${data.take(8)}...")
    }
  }

  test("withRunningMaxExclusive handles timestamps (q39's value type)") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val data = Seq(5L -> 300, 1L -> 100, 3L -> 900, 2L -> 50, 4L -> 200).map {
      case (k, off) => (k, new java.sql.Timestamp(base.getTime + off * 1000L))
    }
    val got = PrefixSum
      .withRunningMaxExclusive(data.toDF("k", "ts"), "k", "ts", "mx", partitions = 3)
      .select("k", "mx").collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1)
    def ts(off: Int) = Some(new java.sql.Timestamp(base.getTime + off * 1000L))
    assert(got.toSeq == Seq(1L -> None, 2L -> ts(100), 3L -> ts(100),
      4L -> ts(900), 5L -> ts(900)))
  }

  test("withRunningMaxExclusive treats -0.0 and 0.0 as SQL-equal values (sign bit survives)") {
    import spark.implicits._
    // compareTo alone says -0.0 < 0.0, which would let the running max
    // "advance" from a seen -0.0 to a later 0.0 and flip the sign bit
    // vs the WindowExec form (SQL comparison treats them equal, so max
    // keeps the first-seen zero). Assert bitwise, not numerically.
    val df = Seq((1L, -0.0), (2L, 0.0), (3L, -1.0), (4L, 0.5)).toDF("k", "v")
    val got = PrefixSum.withRunningMaxExclusive(df, "k", "v", "mx", partitions = 3)
      .select("k", "mx").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(v =>
        java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]))))
      .sortBy(_._1).toSeq
    val neg0 = java.lang.Double.doubleToRawLongBits(-0.0)
    assert(got == Seq(1L -> None, 2L -> Some(neg0), 3L -> Some(neg0),
      4L -> Some(neg0)))
  }

  test("groupByBytes: conserves records and order; bounds every multi-record batch") {
    val recGen = Gen.listOf(for {
      id <- Gen.identifier
      n <- Gen.choose(0, 120)
    } yield Rec(id, Array.fill[Byte](n)('x')))
    val cases = samples(Gen.zip(recGen, Gen.choose(1L, 200L)), 40)
    assert(cases.size >= 30, "generator drought")
    cases.foreach { case (rs, budget) =>
      val groups = LambdaStage.groupByBytes(rs.iterator, budget).toSeq
      // Conservation + order.
      assert(groups.flatten.map(_.recordId) == rs.map(_.recordId))
      // Bound: any batch of >1 record fits the budget (solo batches may
      // legitimately exceed it — oversized records ride alone).
      groups.filter(_.size > 1).foreach { g =>
        assert(g.map(_.data.length.toLong).sum <= budget,
          s"batch of ${g.size} exceeded $budget")
      }
      // Greedy: no empty batches.
      assert(groups.forall(_.nonEmpty))
    }
  }

  test("AsOfJoin matches naive per-row semantics on arbitrary inputs (ties + null values)") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    // Dense keys/times force the interesting cases: equal-time
    // (inclusive) matches, right-side ties broken by max ord, and
    // most-recent rows whose value is genuinely NULL. ord is the row
    // index — unique, so the tie-break is well-defined.
    val leftGen = Gen.listOfN(25, for {
      k <- Gen.choose(0L, 3L); t <- Gen.choose(0L, 10L)
    } yield (k, t))
    val rightGen = Gen.listOfN(25, for {
      k <- Gen.choose(0L, 3L); t <- Gen.choose(0L, 10L)
      v <- Gen.option(Gen.choose(-9L, 9L))
    } yield (k, t, v))
    samples(Gen.zip(leftGen, rightGen), 6).foreach { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "lt")
      val right = rs.zipWithIndex.map { case ((k, t, v), i) => (k, t, v, i.toLong) }
        .toDF("k", "rt", "v", "ord")
      val got = AsOfJoin.asof(left, right, key = "k", leftTime = "lt",
          rightTime = "rt", rightValue = "v", rightOrder = "ord")
        .select("lid", "asof_value").as[(Long, Option[Long])]
        .collect().toMap
      ls.zipWithIndex.foreach { case ((k, t), i) =>
        val cands = rs.zipWithIndex
          .filter { case ((rk, rt, _), _) => rk == k && rt <= t }
        val expect: Option[Long] =
          if (cands.isEmpty) None
          else cands.maxBy { case ((_, rt, _), ord) => (rt, ord) }._1._3
        assert(got(i.toLong) == expect,
          s"lid=$i k=$k lt=$t: got ${got(i.toLong)}, want $expect " +
            s"(rights for k: ${rs.filter(_._1 == k)})")
      }
    }
  }

  test("bloom-prefiltered decontamination equals the exact join on arbitrary corpora") {
    import spark.implicits._
    import graft.operators.Decontaminate
    // Tiny vocabulary → dense gram collisions; doc texts of 8-12 tokens
    // → every doc contributes 1-5 8-grams. The property is the
    // operator's whole contract: the Bloom prefilter may only move
    // bytes, never change the contaminated-id set.
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = for {
      id <- Gen.choose(0L, 40L)
      n <- Gen.choose(8, 12)
      ws <- Gen.listOfN(n, word)
    } yield (id, ws.mkString(" "))
    val caseGen = Gen.zip(Gen.listOfN(12, docGen), Gen.listOfN(3, docGen))
    samples(caseGen, 6).foreach { case (corpusRows, benchRows) =>
      val corpus = corpusRows.groupBy(_._1).map(_._2.head).toSeq.toDF("doc_id", "text")
      val bench = benchRows.groupBy(_._1).map(_._2.head).toSeq.toDF("doc_id", "text")
      val corpusG = queries.TrainingData.gram8Df(corpus)
      val benchG = queries.TrainingData.gram8Df(bench).select("gram")
      val exact = corpusG.join(benchG.distinct(), "gram")
        .select("doc_id").distinct().as[Long].collect().toSet
      val bloomed = Decontaminate.contaminatedIds(corpusG, benchG)
        .as[Long].collect().toSet
      assert(bloomed == exact, s"bloom path diverged: $bloomed vs $exact")
    }
  }

  test("semDedup matches naive per-cell semantics on arbitrary corpora") {
    import spark.implicits._
    import graft.operators.Dedup
    // Small dims + a coarse value grid make near-parallel (and exactly
    // zero) vectors common; few cells force crowded cells. The threshold
    // sits mid-range so both branches fire on most samples.
    val rowGen = Gen.listOfN(30, for {
      id <- Gen.choose(0L, 60L)
      v <- Gen.listOfN(3, Gen.oneOf(-2.0f, -1.0f, 0.0f, 1.0f, 2.0f))
      cell <- Gen.choose(0, 2)
    } yield (id, v.toArray, cell))
    val cases = samples(rowGen, 8)
      .map(_.groupBy(_._1).map(_._2.head).toSeq) // unique ids per corpus
      .filter(_.nonEmpty)
    assert(cases.size >= 6, "generator drought")
    cases.foreach { rows =>
      val expected = rows.map { case (id, v, cell) =>
        val peers = rows.collect {
          case (i2, v2, c2) if c2 == cell && i2 < id && naiveCos(v2, v) >= 0.7 => i2
        }
        id -> ((cell, peers.sorted.headOption, if (peers.isEmpty) 1 else 0))
      }.toMap
      // Both the plain path (default cap — every cell fits, s = 1) and
      // the TILED path (cap 3 → every cell here is "hot" and splits)
      // must reproduce the naive semantics exactly: the hot-cell tiling
      // may only move bytes, never pairs.
      Seq(10000, 3).foreach { cap =>
        val got = Dedup.semDedup(rows.toDF("vec_id", "embedding", "cell"),
            minCos = 0.7, cellCap = cap)
          .as[(Long, Int, Option[Long], Int)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        assert(got == expected, s"cap $cap mismatch on corpus ${rows.take(6)}...")
      }
    }
  }

  test("int8 quantization: bounds, peak code, power-of-two scale invariance") {
    import spark.implicits._
    import graft.operators.Quantize
    val vecGen = Gen.zip(
      Gen.listOfN(12, Gen.choose(-8.0f, 8.0f)).map(_.toArray),
      Gen.choose(-3, 3)) // power-of-two exponent for the scaled twin
    val cases = samples(vecGen, 40).filter { case (v, _) => v.exists(_ != 0.0f) }
    assert(cases.size >= 30, "generator drought")
    val df = cases.zipWithIndex
      .map { case ((v, e), i) =>
        (i.toLong, v, v.map(x => x * math.pow(2.0, e).toFloat))
      }
      .toDF("id", "v", "v2")
    val coded = df.select(
        Quantize.int8Codes(col("v")).as("c"),
        Quantize.int8Codes(col("v2")).as("c2"))
      .collect()
      .map(r => (r.getSeq[Long](0), r.getSeq[Long](1)))
    coded.foreach { case (c, c2) =>
      // Every code bounded; the max-|x| component maps to exactly +/-127.
      assert(c.forall(x => x >= -127L && x <= 127L), s"out of range: $c")
      assert(c.exists(x => math.abs(x) == 127L), s"no peak code: $c")
      // Scaling by a power of two is EXACT in float (mantissas
      // unchanged), so the per-vector symmetric quantizer must emit
      // identical codes — the scale-free property q74's integer cosine
      // relies on. (General scalars perturb float ratios by an ulp and
      // may legitimately flip a code.)
      assert(c == c2, s"power-of-two scaling changed codes: $c vs $c2")
    }
  }
}
