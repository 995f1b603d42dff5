package graft

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

class RetrievalSpec extends SparkSpec {

  private def toksDf(rows: Seq[(Long, Seq[String])]) = {
    import spark.implicits._
    rows.toDF("doc_id", "toks")
  }

  /** Local replay of the operator's scoring chain, in the identical
    * association order.
    */
  private def bm25Local(corpus: Seq[(Long, Seq[String])], terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
    val n = corpus.size.toDouble
    val avgdl = corpus.map(_._2.size.toLong).sum.toDouble / corpus.size
    val df = terms.map(t => t -> corpus.count(_._2.contains(t)).toDouble).toMap
    corpus.flatMap { case (id, toks) =>
      val dl = toks.size.toDouble
      val scores = terms.flatMap { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) None
        else Some(math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) * tf * (k1 + 1.0)
          / (tf + k1 * (1.0 - b + b * dl / avgdl)))
      }
      if (scores.isEmpty) None else Some(id -> scores.sum)
    }.toMap
  }

  private def run(corpus: Seq[(Long, Seq[String])], terms: Seq[String]): Map[Long, Double] = {
    import spark.implicits._
    Retrieval.bm25(toksDf(corpus), terms)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
  }

  test("bm25 matches an exact local replay of the scoring chain") {
    val corpus = Seq(
      1L -> Seq("x", "x", "y", "z"),
      2L -> Seq("x", "w"),
      3L -> Seq("w", "w", "w", "w", "w", "w"),
      4L -> Seq("y", "y", "y", "x"))
    val got = run(corpus, Seq("x", "y"))
    val want = bm25Local(corpus, Seq("x", "y"))
    assert(got.keySet == want.keySet) // doc3 (no query term) is absent
    assert(!got.contains(3L))
    // n_terms counts DISTINCT matched query terms (the AND-semantics
    // signal): doc1 has x and y, doc2 only x.
    import spark.implicits._
    val nTerms = Retrieval.bm25(toksDf(corpus), Seq("x", "y"))
      .select("doc_id", "n_terms").as[(Long, Long)].collect().toMap
    assert(nTerms == Map(1L -> 2L, 2L -> 1L, 4L -> 2L))
    want.foreach { case (id, s) =>
      assert(math.abs(got(id) - s) < 1e-12, s"doc $id: got ${got(id)}, want $s")
    }
  }

  test("bm25 length normalization: same tf, shorter doc scores higher") {
    val corpus = Seq(
      1L -> (Seq("q") ++ Seq.fill(3)("pad")),
      2L -> (Seq("q") ++ Seq.fill(30)("pad")))
    val got = run(corpus, Seq("q"))
    assert(got(1L) > got(2L))
  }

  test("bm25 idf: a rarer term outweighs a common one at equal tf and length") {
    // 'rare' appears in 1 doc, 'common' in 4; docs 1 and 2 are the same
    // length with tf=1 of their respective term.
    val corpus = Seq(
      1L -> Seq("rare", "common", "pad"),
      2L -> Seq("common", "pad", "pad"),
      3L -> Seq("common", "pad", "pad"),
      4L -> Seq("common", "pad", "pad"))
    val got = run(corpus, Seq("rare", "common"))
    val rareOnly = run(corpus, Seq("rare"))
    val commonOnly = run(corpus, Seq("common"))
    assert(rareOnly(1L) > commonOnly(2L))
    // scoring is additive over terms
    assert(math.abs(got(1L) - (rareOnly(1L) + commonOnly(1L))) < 1e-12)
  }

  test("bm25 tf saturates: doubling tf less than doubles the term score") {
    val corpus = Seq(
      1L -> Seq("q", "pad", "pad", "pad"),
      2L -> Seq("q", "q", "pad", "pad"))
    val got = run(corpus, Seq("q"))
    assert(got(2L) > got(1L))
    assert(got(2L) < 2.0 * got(1L))
  }

  test("rrf fuses with full-outer semantics and fixed-order sums") {
    import spark.implicits._
    // list A ranks docs 10,11,12; list B ranks 11,13 — 11 is in both.
    val a = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("doc_id", "rnk")
    val b = Seq((11L, 1), (13L, 2)).toDF("doc_id", "rnk")
    val got = Retrieval.rrf(Seq(a, b), Seq("doc_id"), k = 60)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(10L, 11L, 12L, 13L))
    assert(math.abs(got(11L) - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(math.abs(got(10L) - 1.0 / 61) < 1e-15)
    assert(math.abs(got(13L) - 1.0 / 62) < 1e-15)
    // consensus wins: 11 (rank 2 + rank 1) beats every single-list doc
    assert(got(11L) > got(10L) && got(11L) > got(13L))
  }

  test("rrf handles three lists and compound keys") {
    import spark.implicits._
    val a = Seq((0L, 5L, 1)).toDF("probe_id", "doc_id", "rnk")
    val b = Seq((0L, 5L, 2), (1L, 5L, 1)).toDF("probe_id", "doc_id", "rnk")
    val c = Seq((0L, 6L, 1)).toDF("probe_id", "doc_id", "rnk")
    val got = Retrieval.rrf(Seq(a, b, c), Seq("probe_id", "doc_id"), k = 10)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(got((0L, 5L)) - (1.0 / 11 + 1.0 / 12)) < 1e-15)
    assert(math.abs(got((1L, 5L)) - 1.0 / 11) < 1e-15)
    assert(math.abs(got((0L, 6L)) - 1.0 / 11) < 1e-15)
  }

  test("bm25 matches the local replay on seeded random corpora") {
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("x", "y", "z", "w", "pad")
    (1 to 6).foreach { trial =>
      val corpus = Seq.tabulate(8) { i =>
        i.toLong -> Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      }
      val terms = Seq("x", "y")
      val got = run(corpus, terms)
      val want = bm25Local(corpus, terms)
      assert(got.keySet == want.keySet, s"trial $trial keys on $corpus")
      want.foreach { case (id, sc) =>
        assert(math.abs(got(id) - sc) < 1e-9,
          s"trial $trial doc $id: got ${got(id)}, want $sc")
      }
    }
  }

  test("rrf matches a local fold on seeded random rank lists") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    (1 to 5).foreach { trial =>
      // 3 lists, each ranking a random subset of 10 docs.
      val lists = Seq.fill(3)(
        rnd.shuffle((0L until 10L).toList).take(1 + rnd.nextInt(9)).zipWithIndex
          .map { case (d, i) => (d, i + 1) })
      val got = Retrieval.rrf(lists.map(_.toDF("doc_id", "rnk")), Seq("doc_id"), k = 60)
        .as[(Long, Double)].collect().toMap
      val want = lists.flatMap(_.map(_._1)).distinct.map { d =>
        d -> lists.map(_.collectFirst { case (`d`, r) => 1.0 / (60.0 + r) }
          .getOrElse(0.0)).reduce(_ + _)
      }.toMap
      assert(got.keySet == want.keySet, s"trial $trial")
      want.foreach { case (d, v) =>
        assert(math.abs(got(d) - v) < 1e-15, s"trial $trial doc $d")
      }
    }
  }

  test("bm25FromIndex equals the direct corpus scoring on seeded random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    val vocab = Vector("x", "y", "z", "w", "pad")
    (1 to 4).foreach { trial =>
      val corpus = Seq.tabulate(8) { i =>
        i.toLong -> Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      }
      val terms = Seq("x", "y", "z")
      val index = Retrieval.buildTextIndex(toksDf(corpus))
      val viaIndex = Retrieval.bm25FromIndex(index, terms)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val direct = Retrieval.bm25(toksDf(corpus), terms)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(viaIndex.keySet == direct.keySet, s"trial $trial")
      direct.foreach { case (id, (n, sc)) =>
        assert(viaIndex(id)._1 == n, s"trial $trial doc $id n_terms")
        // per-(doc,term) scores are bit-identical; only the per-doc sum
        // order can differ between the two plans — ulp slack.
        assert(math.abs(viaIndex(id)._2 - sc) < 1e-12, s"trial $trial doc $id")
      }
    }
  }

  test("the index answers a query the corpus scan would have to re-derive") {
    import spark.implicits._
    // A second query against the SAME index reuses the materialized
    // postings — df covers the full vocabulary up front.
    val corpus = Seq(1L -> Seq("a", "b", "a"), 2L -> Seq("b", "c"))
    val index = Retrieval.buildTextIndex(toksDf(corpus))
    val q1 = Retrieval.bm25FromIndex(index, Seq("a"))
      .select("doc_id").as[Long].collect().toSet
    val q2 = Retrieval.bm25FromIndex(index, Seq("c"))
      .select("doc_id").as[Long].collect().toSet
    assert(q1 == Set(1L) && q2 == Set(2L))
    // Postings carry exact tf/dl: doc1 has tf(a)=2, dl=3.
    val p = index.postings.filter(col("term") === "a")
      .as[(String, Long, Long, Long)].collect()
    assert(p.toSeq == Seq(("a", 1L, 2L, 3L)))
  }

  test("a persisted index is term-bucketed and the query plan prunes buckets") {
    import java.io.{ByteArrayOutputStream, PrintStream}
    val corpus = Seq(
      1L -> Seq("a", "b", "a"), 2L -> Seq("b", "c"), 3L -> Seq("c", "d"))
    val index = Retrieval.buildTextIndex(toksDf(corpus))
    Retrieval.writeTextIndex(index, "rsp_tidx", buckets = 8)
    try {
      val reopened = Retrieval.readTextIndex(spark, "rsp_tidx")
      // Values survive the round-trip.
      import spark.implicits._
      val got = Retrieval.bm25FromIndex(reopened, Seq("a"))
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(1L))
      // THE scale property: a term lookup reads only its bucket — the
      // postings-list analogue. A full-bucket scan here means the
      // bucketing (or the pushdown) silently broke.
      val out = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(out, true, "UTF-8")) {
        Retrieval.bm25FromIndex(reopened, Seq("a")).explain("formatted")
      }
      val p = out.toString("UTF-8")
      assert(p.contains("SelectedBucketsCount: 1 out of 8"), p)
    } finally {
      spark.sql("DROP TABLE IF EXISTS rsp_tidx_postings")
      spark.sql("DROP TABLE IF EXISTS rsp_tidx_df")
      spark.sql("DROP TABLE IF EXISTS rsp_tidx_stats")
    }
  }

  test("rescore: window cut, total-mode combination, missing docs rescore as 0") {
    import spark.implicits._
    // Primary ranking: 4 docs; window of 2 keeps only 10 and 11.
    val primary = Seq((10L, 4.0), (11L, 3.0), (12L, 2.0), (13L, 1.0))
      .toDF("doc_id", "score")
    // Secondary features: doc 11 carries a big feature, doc 10 is
    // ABSENT from the table entirely (rescore query doesn't match).
    val secondary = Seq((11L, 5.0), (12L, 9.0)).toDF("doc_id", "feat")
    val got = Retrieval.rescore(primary, secondary, col("feat") * 2,
        windowSize = 2, queryWeight = 1.0, rescoreWeight = 0.5)
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // Doc 12's huge feature is OUTSIDE the window — never rescored.
    assert(got.keySet == Set(10L, 11L))
    assert(got(11L) == ((3.0, 10.0, 3.0 * 1.0 + 10.0 * 0.5)))
    assert(got(10L) == ((4.0, 0.0, 4.0))) // missing → sec 0
    // The rescorer can reorder the window: 11 now beats 10.
    assert(got(11L)._3 > got(10L)._3)
    intercept[IllegalArgumentException] {
      Retrieval.rescore(primary, secondary, col("feat"), windowSize = 0)
    }
  }

  test("rescore prices the secondary expression at window size, not corpus size") {
    import spark.implicits._
    // A secondary column that FAILS LOUD on the poisoned row: if the
    // scorer ran as a corpus-wide pass before the window join, the
    // poison would evaluate and throw. Window keeps docs 1-2 only.
    val primary = Seq((1L, 9.0), (2L, 8.0), (3L, 7.0)).toDF("doc_id", "score")
    val secondary = Seq((1L, 1.0), (2L, 2.0), (3L, -1.0)).toDF("doc_id", "feat")
    val guarded = when(col("feat") < 0,
      raise_error(lit("secondary evaluated outside the window")))
      .otherwise(col("feat"))
    val got = Retrieval.rescore(primary, secondary, guarded, windowSize = 2)
      .as[(Long, Double, Double, Double)].collect().map(_._1).toSet
    assert(got == Set(1L, 2L))
  }

  test("bm25 rejects an empty term list; rrf rejects bad inputs") {
    intercept[IllegalArgumentException] {
      Retrieval.bm25(toksDf(Seq(1L -> Seq("a"))), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Retrieval.rrf(Seq.empty, Seq("doc_id"))
    }
    intercept[IllegalArgumentException] {
      import spark.implicits._
      Retrieval.rrf(Seq(Seq((1L, 1)).toDF("doc_id", "rnk")), Seq("doc_id"), k = 0)
    }
  }
}
