package graft

import org.apache.spark.sql.functions._

import graft.operators.NgramLm

class NgramLmSpec extends SparkSpec {

  private def toksDf(rows: Seq[(Long, Seq[String])]) = {
    import spark.implicits._
    rows.toDF("doc_id", "toks")
  }

  test("train counts unigrams, bigrams, and vocab") {
    import spark.implicits._
    val m = NgramLm.train(toksDf(Seq(
      1L -> Seq("a", "b", "a"),
      2L -> Seq("b", "a"),
      3L -> Seq("c"))))
    assert(m.vocab == 3)
    val uni = m.unigrams.as[(String, Long)].collect().toMap
    assert(uni == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    val bi = m.bigrams.as[(String, String, Long)].collect()
      .map { case (w1, w2, c) => (w1, w2) -> c }.toMap
    // doc1: (a,b) (b,a); doc2: (b,a); doc3: none (single token)
    assert(bi == Map(("a", "b") -> 1L, ("b", "a") -> 2L))
  }

  test("score matches a hand-computed add-one NLL and drops short docs") {
    import spark.implicits._
    val toks = toksDf(Seq(
      1L -> Seq("a", "b", "a"),
      2L -> Seq("b", "a"),
      3L -> Seq("c")))
    val m = NgramLm.train(toks)
    val got = NgramLm.score(toks, m)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // V=3; P(b|a) = (1+1)/(3+3) = 1/3; P(a|b) = (2+1)/(2+3) = 3/5.
    val pBA = math.log(2.0 / 6.0); val pAB = math.log(3.0 / 5.0)
    assert(got.keySet == Set(1L, 2L)) // doc 3 has no bigram positions
    assert(got(1L)._1 == 2L)
    assert(math.abs(got(1L)._2 - (-(pBA + pAB) / 2.0)) < 1e-12)
    assert(got(2L)._1 == 1L)
    assert(math.abs(got(2L)._2 - (-pAB)) < 1e-12)
  }

  test("unseen grams smooth instead of dropping or exploding") {
    import spark.implicits._
    val m = NgramLm.train(toksDf(Seq(1L -> Seq("a", "b"))))
    // "z" never seen: c1 = 0, c2 = 0 → P = 1 / V = 1/2 per position.
    val got = NgramLm.score(toksDf(Seq(9L -> Seq("z", "z"))), m)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1)
    assert(math.abs(got(0)._3 - (-math.log(1.0 / 2.0))) < 1e-12)
  }

  test("a corpus-typical doc scores lower NLL than an atypical one") {
    import spark.implicits._
    val typical = Seq.fill(20)("the" :: "quick" :: "fox" :: Nil).zipWithIndex
      .map { case (ws, i) => i.toLong -> ws.toSeq }
    val corpus = toksDf(typical :+ (99L -> Seq("zx", "qq", "vv")))
    val m = NgramLm.train(corpus)
    val nll = NgramLm.score(corpus, m)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(nll(0L) < nll(99L),
      s"typical doc should be more predictable: ${nll(0L)} vs ${nll(99L)}")
  }

  test("sourceDivergence: identical sources diverge less than a skewed one") {
    import spark.implicits._
    val docs = Seq(
      ("s1", Seq("a", "b", "a", "b")),
      ("s2", Seq("a", "b", "b", "a")),
      ("s3", Seq("z", "z", "z", "z"))).toDF("source", "toks")
    val kl = NgramLm.sourceDivergence(docs)
      .as[(String, Double)].collect().toMap
    assert(kl.keySet == Set("s1", "s2", "s3"))
    assert(kl("s3") > kl("s1") && kl("s3") > kl("s2"),
      s"skewed source must diverge most: $kl")
    // KL is non-negative up to float noise.
    kl.values.foreach(v => assert(v > -1e-12))
  }

  test("sourceDivergence covers the full vocabulary per source") {
    import spark.implicits._
    // A source missing a corpus word still gets that word's grid row
    // (absence contributes divergence) — KL of a one-word source against
    // a two-word corpus computed by hand.
    val docs = Seq(
      ("s1", Seq("a", "a")),
      ("s2", Seq("b", "b"))).toDF("source", "toks")
    val kl = NgramLm.sourceDivergence(docs)
      .as[(String, Double)].collect().toMap
    // N=4, V=2; q(a) = (2+1)/(4+2) = 1/2 = q(b).
    // s1: N_s=2; p(a) = (2+1)/(2+2) = 3/4, p(b) = (0+1)/(2+2) = 1/4.
    val expect = 0.75 * math.log(0.75 / 0.5) + 0.25 * math.log(0.25 / 0.5)
    assert(math.abs(kl("s1") - expect) < 1e-12)
    assert(math.abs(kl("s2") - expect) < 1e-12) // symmetric construction
  }

  test("sourceBuckets: per-source tercile cutoffs by value — ties share a " +
      "bucket, every source splits independently, keep = head+middle") {
    import spark.implicits._
    val scored = Seq(
      // Source A: 6 distinct scores → terciles of two each.
      (1L, "A", 1.0), (2L, "A", 2.0), (3L, "A", 3.0),
      (4L, "A", 4.0), (5L, "A", 5.0), (6L, "A", 6.0),
      // Source B: a three-way tie at the low end (n=5, ceil(5/3)=2 —
      // the cumulative count at 1.0 is already 3, so ALL tied docs are
      // head; ceil(10/3)=4 puts 5.0 in middle, 9.0 in tail).
      (7L, "B", 1.0), (8L, "B", 1.0), (9L, "B", 1.0),
      (10L, "B", 5.0), (11L, "B", 9.0),
      // Source C: a single doc is its own head.
      (12L, "C", 7.0)
    ).toDF("doc_id", "source", "nll")
    val out = NgramLm.sourceBuckets(scored)
      .select(col("doc_id"), col("bucket"), col("keep"))
      .as[(Long, String, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ("head", 1) && out(2L) == ("head", 1))
    assert(out(3L) == ("middle", 1) && out(4L) == ("middle", 1))
    assert(out(5L) == ("tail", 0) && out(6L) == ("tail", 0))
    assert(Seq(7L, 8L, 9L).forall(out(_) == ("head", 1)),
      s"tied docs split across buckets: $out")
    assert(out(10L) == ("middle", 1) && out(11L) == ("tail", 0))
    assert(out(12L) == ("head", 1))
  }

  test("stupid backoff: all three branches match hand-computed scores " +
      "(seen trigram, bigram backoff, add-one unigram floor for OOV)") {
    import spark.implicits._
    val all = toksDf(Seq(
      1L -> Seq("a", "b", "c"),       // held out: seen trigram, S = 1
      2L -> Seq("a", "b", "c", "d"),  // train
      3L -> Seq("b", "c", "x"),       // OOV w3 -> unigram floor
      4L -> Seq("b", "c", "e"),       // train
      5L -> Seq("a", "b", "c", "e"),  // two seen trigrams, S = 1 and 1/2
      6L -> Seq("a", "b"),            // < 3 tokens: no row
      7L -> Seq("x", "c", "d")))      // unseen trigram, seen (c,d) bigram
    val m = NgramLm.trainBackoff(
      all.filter(col("doc_id") % 2 === 0))
    // Train half = docs 2, 4, 6: c1 = {a2 b3 c2 d1 e1} (N=9, V=5);
    // c2 = {ab2 bc2 cd1 ce1}; c3 = {abc1 bcd1 bce1}.
    assert(m.total == 9L && m.vocab == 5L)
    val got = NgramLm.scoreBackoff(all, m)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 7L))
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    // abc: c3=1 over ctx c2(ab)=2 -> S = 1/2.
    assert(got(1L)._1 == 1L && close(got(1L)._2, math.log(2.0)))
    assert(close(got(2L)._2, math.log(2.0)))                 // 1/2, 1/2
    assert(close(got(3L)._2, -math.log(0.16 * 1.0 / 14.0)))  // OOV floor
    assert(close(got(5L)._2, math.log(2.0)))                 // 1/2, 1/2
    assert(close(got(7L)._2, -math.log(0.4 * 1.0 / 2.0)))    // bigram hop
  }
}
