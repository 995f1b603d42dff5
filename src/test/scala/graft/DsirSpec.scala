package graft

import org.apache.spark.sql.functions._

import graft.operators.Dsir

class DsirSpec extends SparkSpec {

  private def toksDf(rows: Seq[(Long, Seq[String])]) = {
    import spark.implicits._
    rows.toDF("doc_id", "toks")
  }

  /** Local replay of the operator's hashing: md5("dsir|" + gram), first
    * 15 hex digits as a 60-bit long, mod buckets — independent of every
    * Spark expression under test.
    */
  private def bucketOf(gram: String, buckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(("dsir|" + gram).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % buckets
  }

  /** The operator's feature definition, replayed locally: every unigram
    * position as `u|w`, every adjacent pair as `b|w1 w2`.
    */
  private def gramsOf(toks: Seq[String]): Seq[String] =
    toks.map("u|" + _) ++
      toks.sliding(2).filter(_.size == 2).map(p => s"b|${p(0)} ${p(1)}").toSeq

  test("features emits one bucketed row per unigram and bigram position") {
    import spark.implicits._
    val got = Dsir.features(toksDf(Seq(
      1L -> Seq("a", "b"),
      2L -> Seq("c"),
      3L -> Seq.empty[String])), buckets = 64)
      .as[(Long, Long)].collect().toSeq
    // doc1: u|a, u|b, b|a b; doc2: u|c; doc3: nothing.
    assert(got.count(_._1 == 1L) == 3)
    assert(got.count(_._1 == 2L) == 1)
    assert(!got.exists(_._1 == 3L))
    val expected1 = gramsOf(Seq("a", "b")).map(bucketOf(_, 64)).sorted
    assert(got.filter(_._1 == 1L).map(_._2).sorted == expected1)
    assert(got.filter(_._1 == 2L).map(_._2) == Seq(bucketOf("u|c", 64)))
  }

  test("logWeights matches an exact local replay of the smoothed ratio") {
    import spark.implicits._
    val B = 32 // small on purpose: collisions must not break agreement
    val raw = Seq(
      1L -> Seq("x", "y", "x"),
      2L -> Seq("z", "w"),
      3L -> Seq("x", "z"))
    val target = Seq(10L -> Seq("x", "y"), 11L -> Seq("y", "x", "y"))
    val feats = Dsir.features(toksDf(raw), B)
    val model = Dsir.train(feats, Dsir.features(toksDf(target), B), B)
    val got = Dsir.logWeights(feats, model)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val rawB = raw.flatMap { case (_, ts) => gramsOf(ts).map(bucketOf(_, B)) }
    val tgtB = target.flatMap { case (_, ts) => gramsOf(ts).map(bucketOf(_, B)) }
    val rc = rawB.groupBy(identity).map { case (b, xs) => b -> xs.size }
    val tc = tgtB.groupBy(identity).map { case (b, xs) => b -> xs.size }
    def term(b: Long): Double =
      math.log((tc.getOrElse(b, 0) + 1.0) / (tgtB.size + B)) -
        math.log((rc.getOrElse(b, 0) + 1.0) / (rawB.size + B))
    raw.foreach { case (id, ts) =>
      val bs = gramsOf(ts).map(bucketOf(_, B))
      assert(got(id)._1 == bs.size.toLong)
      assert(math.abs(got(id)._2 - bs.map(term).sum) < 1e-9,
        s"doc $id: got ${got(id)._2}, want ${bs.map(term).sum}")
    }
  }

  test("logWeights matches the local replay on seeded random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("a", "b", "c", "d", "e")
    (1 to 5).foreach { trial =>
      val B = 16 + trial * 8 // vary bucket count: collisions must not matter
      val raw = Seq.tabulate(7) { i =>
        i.toLong -> Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size)))
      }
      val target = Seq.tabulate(3) { i =>
        (100L + i) -> Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
      }
      val feats = Dsir.features(toksDf(raw), B)
      val model = Dsir.train(feats, Dsir.features(toksDf(target), B), B)
      val got = Dsir.logWeights(feats, model)
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap

      val rawB = raw.flatMap { case (_, ts) => gramsOf(ts).map(bucketOf(_, B)) }
      val tgtB = target.flatMap { case (_, ts) => gramsOf(ts).map(bucketOf(_, B)) }
      val rc = rawB.groupBy(identity).map { case (b, xs) => b -> xs.size }
      val tc = tgtB.groupBy(identity).map { case (b, xs) => b -> xs.size }
      def term(b: Long): Double =
        math.log((tc.getOrElse(b, 0) + 1.0) / (tgtB.size + B)) -
          math.log((rc.getOrElse(b, 0) + 1.0) / (rawB.size + B))
      val nonEmpty = raw.filter(_._2.nonEmpty)
      assert(got.keySet == nonEmpty.map(_._1).toSet, s"trial $trial")
      nonEmpty.foreach { case (id, ts) =>
        val bs = gramsOf(ts).map(bucketOf(_, B))
        assert(got(id)._1 == bs.size.toLong, s"trial $trial doc $id n_feat")
        assert(math.abs(got(id)._2 - bs.map(term).sum) < 1e-9,
          s"trial $trial doc $id: got ${got(id)._2}")
      }
    }
  }

  test("a target-typical doc outweighs a target-absent doc") {
    import spark.implicits._
    val B = 4096 // large: the 6 grams here must not collide for the sign test
    val raw = Seq(
      1L -> Seq("alpha", "beta"), // exactly the target's vocabulary
      2L -> Seq("gamma", "delta")) // never seen in the target
    val target = Seq.tabulate(5)(i => (100L + i) -> Seq("alpha", "beta"))
    val feats = Dsir.features(toksDf(raw), B)
    val model = Dsir.train(feats, Dsir.features(toksDf(target), B), B)
    val got = Dsir.logWeights(feats, model)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got(1L) > got(2L))
    assert(got(1L) > 0.0) // more likely under target than raw
    assert(got(2L) < 0.0) // penalized: absent from the target
  }

  test("an empty target feature frame yields finite weights, not NULL poison") {
    import spark.implicits._
    val B = 16
    // Every target doc tokenizes to nothing → zero feature rows → the
    // totals sum is over an empty table. nt must coalesce to 0 (the
    // smoothed ratio is finite at zero counts), not propagate NULL
    // into every weight.
    val model = Dsir.train(
      Dsir.features(toksDf(Seq(1L -> Seq("a", "b"))), B),
      Dsir.features(toksDf(Seq(2L -> Seq.empty[String])), B), B)
    val got = Dsir.logWeights(
      Dsir.features(toksDf(Seq(1L -> Seq("a", "b"))), B), model)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1)
    val (_, n, w) = got(0)
    assert(n == 3L) // u|a, u|b, b|a b
    assert(!w.isNaN && !w.isInfinite)
    // Exact replay: every bucket has ct=0, and raw counts are one each
    // (the three grams hash to distinct buckets or not — replay both
    // sides locally to stay collision-proof).
    val grams = Seq("u|a", "u|b", "b|a b")
    val bs = grams.map(g => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(("dsir|" + g).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % B
    })
    val rc = bs.groupBy(identity).map { case (b, xs) => b -> xs.size }
    val want = bs.map(b => math.log(1.0 / (0 + B)) -
      math.log((rc(b) + 1.0) / (3 + B))).sum
    assert(math.abs(w - want) < 1e-12, s"got $w want $want")
  }

  test("zero-count buckets smooth instead of producing -inf") {
    import spark.implicits._
    val B = 64
    // Score a doc whose grams the TARGET never saw and the RAW corpus
    // never saw either (held-out text against a fixed model).
    val model = Dsir.train(
      Dsir.features(toksDf(Seq(1L -> Seq("a", "b"))), B),
      Dsir.features(toksDf(Seq(2L -> Seq("a"))), B), B)
    val got = Dsir.logWeights(
      Dsir.features(toksDf(Seq(9L -> Seq("qqq"))), B), model)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1)
    assert(!got(0)._3.isInfinite && !got(0)._3.isNaN)
    // Exact: ln(1/(1+64)) - ln(1/(3+64)) = ln(67/65).
    assert(math.abs(got(0)._3 - math.log(67.0 / 65.0)) < 1e-12)
  }
}
