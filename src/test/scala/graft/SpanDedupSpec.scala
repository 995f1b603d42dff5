package graft

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame

import graft.operators.SpanDedup

class SpanDedupSpec extends SparkSpec {

  private def toksDf(rows: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "toks")
  }

  private def sorted(df: DataFrame): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    df.as[(Long, Long, Long)].collect().toSeq.sorted
  }

  private def spans(rows: Seq[(Long, Seq[String])], k: Int): Seq[(Long, Long, Long)] =
    sorted(SpanDedup.duplicatedSpans(toksDf(rows), k))

  /** Salt-regime pin: `salted` forces the big-regime plan on tiny
    * inputs, which would otherwise take the small-regime window plan.
    */
  private def spansIn(salted: Boolean)(rows: Seq[(Long, Seq[String])],
      k: Int): Seq[(Long, Long, Long)] =
    sorted(SpanDedup.duplicatedSpans(toksDf(rows), k, salted))

  /** Naive local replay: mark k-gram occurrences whose gram text occurs
    * more than once corpus-wide, merge marks that overlap or touch.
    */
  private def spansLocal(rows: Seq[(Long, Seq[String])], k: Int): Seq[(Long, Long, Long)] = {
    val occ = rows.flatMap { case (id, ts) =>
      (0 to ts.size - k).map(p => (id, p, ts.slice(p, p + k).mkString(" ")))
    }
    val cnt = occ.groupBy(_._3).map { case (g, os) => g -> os.size }
    occ.filter(o => cnt(o._3) > 1).groupBy(_._1).toSeq.flatMap { case (id, ms) =>
      val merged = ListBuffer.empty[(Int, Int)]
      ms.map(_._2).sorted.foreach { p =>
        if (merged.nonEmpty && p <= merged.last._2)
          merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, p + k))
        else merged += ((p, p + k))
      }
      merged.map { case (s, e) => (id, s.toLong, e.toLong) }
    }.sorted
  }

  test("a run shared by two docs yields one maximal span in each") {
    // docs share the 6-token run "a b c d e f"; k=3 marks positions
    // 1..4 in doc1 (offset by the leading token) and 0..3 in doc2,
    // merging to one span per doc covering exactly the run.
    val rows = Seq(
      1L -> Seq("z", "a", "b", "c", "d", "e", "f", "q"),
      2L -> Seq("a", "b", "c", "d", "e", "f", "y", "w"))
    assert(spans(rows, 3) == Seq((1L, 1L, 7L), (2L, 0L, 6L)))
  }

  test("within-doc repetition is caught and separated regions stay separate") {
    // "p q r" occurs twice inside ONE doc, far apart: two spans.
    val rows = Seq(
      1L -> Seq("p", "q", "r", "x1", "x2", "x3", "x4", "p", "q", "r"))
    assert(spans(rows, 3) == Seq((1L, 0L, 3L), (1L, 7L, 10L)))
  }

  test("touching marks merge into one contiguous region") {
    // doc1's "a b c" (pos 0) and "d e f" (pos 3) are each duplicated
    // elsewhere, but the bridging grams are not: spans [0,3) and [3,6)
    // touch and merge to [0,6).
    val rows = Seq(
      1L -> Seq("a", "b", "c", "d", "e", "f"),
      2L -> Seq("a", "b", "c", "z1", "z2"),
      3L -> Seq("z3", "z4", "d", "e", "f"))
    assert(spans(rows, 3).filter(_._1 == 1L) == Seq((1L, 0L, 6L)))
  }

  test("docs shorter than k and fully novel docs emit nothing") {
    val rows = Seq(
      1L -> Seq("a", "b"),
      2L -> Seq("n1", "n2", "n3", "n4"),
      3L -> Seq.empty[String])
    assert(spans(rows, 3).isEmpty)
  }

  test("duplicatedSpans matches the local replay on seeded random corpora") {
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("a", "b", "c", "d")
    (1 to 8).foreach { trial =>
      val rows = Seq.tabulate(12) { i =>
        i.toLong -> Seq.fill(rnd.nextInt(13))(vocab(rnd.nextInt(vocab.size)))
      }
      assert(spans(rows, 3) == spansLocal(rows, 3), s"trial $trial on $rows")
    }
  }

  test("adversarial mega-gram: one gram in (almost) every doc still merges correctly") {
    // The 100 TB failure mode the salted two-phase count exists for: a
    // single k-gram ("the boilerplate header") occurring once per doc
    // across the whole corpus. Under the old gram-partitioned window
    // fold all of its occurrences landed in ONE task; here they spread
    // over the salt fan-out. ScalaCheck drives corpus shape — the
    // mega-gram's position, doc count, and filler — and the local
    // replay is the oracle.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val mega = Seq("mg1", "mg2", "mg3")
    val corpusGen = for {
      nDocs <- Gen.choose(30, 60)
      docs <- Gen.listOfN(nDocs, for {
        lead <- Gen.choose(0, 4)
        tail <- Gen.choose(0, 4)
        skip <- Gen.choose(0, 9) // ~10% of docs omit the mega-gram
      } yield (lead, tail, skip))
    } yield docs.zipWithIndex.map { case ((lead, tail, skip), i) =>
      val filler = (n: Int, tag: String) => Seq.tabulate(n)(j => s"u$i${tag}$j")
      val body = if (skip == 0) filler(lead + 3 + tail, "s")
        else filler(lead, "a") ++ mega ++ filler(tail, "b")
      i.toLong -> body
    }
    (0 until 4).foreach { trial =>
      val rows = corpusGen.apply(Gen.Parameters.default, Seed(9090L + trial)).get
      // Forced salted big-regime plan, the one the test exists for —
      // tiny adversarial corpora would otherwise take the small regime
      // and never touch the salt machinery.
      assert(spansIn(salted = true)(rows, 3) == spansLocal(rows, 3), s"trial $trial")
    }
  }

  test("small and salted regimes produce identical spans and matched spans") {
    val rnd = new scala.util.Random(31L)
    val vocab = Vector("a", "b", "c", "d", "e")
    val rows = Seq.tabulate(14) { i =>
      i.toLong -> Seq.fill(rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
    }
    val ref = Seq(200L -> Seq("a", "b", "c", "d", "e"))
    val small = spansIn(salted = false)(rows, 3)
    val salted = spansIn(salted = true)(rows, 3)
    assert(small == salted)
    assert(small == spansLocal(rows, 3))
    // matchedSpans' mark join in each regime, and the gated call.
    def matched(salted: Boolean): Seq[(Long, Long, Long)] =
      sorted(SpanDedup.markAndMerge(SpanDedup.gramOccurrences(toksDf(rows), 3),
        SpanDedup.gramOccurrences(toksDf(ref), 3).select("gh").distinct(), 3, salted))
    assert(matched(salted = false) == matched(salted = true))
    assert(sorted(SpanDedup.matchedSpans(toksDf(rows), toksDf(ref), 3)) ==
      matched(salted = false))
  }

  test("removeSpans cuts exactly the span tokens and passes novel docs through") {
    import spark.implicits._
    val rows = Seq(
      1L -> Seq("z", "a", "b", "c", "d", "e", "f", "q"),
      2L -> Seq("a", "b", "c", "d", "e", "f", "y", "w"),
      3L -> Seq("novel", "only", "here"),
      4L -> Seq.empty[String])
    val cleaned = SpanDedup.removeSpans(
      toksDf(rows), SpanDedup.duplicatedSpans(toksDf(rows), 3))
      .as[(Long, Seq[String])].collect().toMap
    assert(cleaned(1L) == Seq("z", "q"))
    assert(cleaned(2L) == Seq("y", "w"))
    assert(cleaned(3L) == Seq("novel", "only", "here"))
    assert(cleaned(4L) == Seq.empty[String])
  }

  test("span_cut kernel is value-identical to the HOF cut spelling, " +
      "unsorted/overlapping/out-of-range/empty spans included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(15L)
    val vocab = Vector("a", "b", "c", "dd", "γράμμα", "")
    val docs = Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))))
    }
    // Spans deliberately OUTSIDE the merged-output contract: random
    // order, overlapping, zero-length, extending past the doc — the
    // kernel must still match the filter/exists spelling bit-for-bit.
    val spanRows = docs.flatMap { case (id, _) =>
      Seq.fill(rnd.nextInt(4)) {
        val s = rnd.nextInt(16) - 2
        (id, s.toLong, (s + rnd.nextInt(6)).toLong)
      }
    }
    val perDoc = spanRows.toDF("doc_id", "span_start", "span_end")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").cast("long").as("s"),
        col("span_end").cast("long").as("e"))).as("spans"))
    val joined = docs.toDF("doc_id", "toks")
      .join(perDoc, Seq("doc_id"), "left")
    val hof = expr(
      """CASE WHEN spans IS NULL OR size(toks) = 0 THEN toks ELSE
        |  transform(
        |    filter(sequence(0, size(toks) - 1),
        |      i -> NOT exists(spans, sp -> i >= sp.s AND i < sp.e)),
        |    i -> toks[i]) END""".stripMargin)
    val bad = joined.select(col("doc_id"),
        graft.functions.SpanCutFunctions.spanCut(col("toks"), col("spans")).as("a"),
        hof.as("b"))
      .filter(not(col("a") <=> col("b"))).collect()
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("removed token count equals total merged span length") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val vocab = Vector("a", "b", "c")
    val rows = Seq.tabulate(10) { i =>
      i.toLong -> Seq.fill(rnd.nextInt(11))(vocab(rnd.nextInt(vocab.size)))
    }
    val sp = SpanDedup.duplicatedSpans(toksDf(rows), 3)
    val cleaned = SpanDedup.removeSpans(toksDf(rows), sp)
      .as[(Long, Seq[String])].collect().toMap
    val spanLen = sp.as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, ss) => id -> ss.map(s => s._3 - s._2).sum }
    rows.foreach { case (id, ts) =>
      assert(ts.size - cleaned(id).size == spanLen.getOrElse(id, 0L),
        s"doc $id: |toks|=${ts.size} cleaned=${cleaned(id).size} spans=${spanLen.get(id)}")
    }
  }

  test("matchedSpans marks exactly the runs present in the reference corpus") {
    // Doc 1 carries the ref run "a b c d" at offset 2; doc 2 is novel.
    val corpus = Seq(
      1L -> Seq("x1", "x2", "a", "b", "c", "d", "x3"),
      2L -> Seq("n1", "n2", "n3", "n4", "n5"))
    val ref = Seq(100L -> Seq("a", "b", "c", "d", "tail1", "tail2"))
    import spark.implicits._
    val got = SpanDedup.matchedSpans(toksDf(corpus), toksDf(ref), 3)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // grams "a b c" (pos 2) and "b c d" (pos 3) match; "c d x3" etc.
    // do not; merged: [2, 6).
    assert(got == Seq((1L, 2L, 6L)))
    // removeSpans composes: the leaked passage goes, the rest stays.
    val cleaned = SpanDedup.removeSpans(toksDf(corpus),
        SpanDedup.matchedSpans(toksDf(corpus), toksDf(ref), 3))
      .as[(Long, Seq[String])].collect().toMap
    assert(cleaned(1L) == Seq("x1", "x2", "x3"))
    assert(cleaned(2L) == Seq("n1", "n2", "n3", "n4", "n5"))
  }

  test("matchedSpans against the corpus itself covers every whole doc") {
    // Every gram matches itself in the ref, so each doc with >= k
    // tokens is one full-cover span — a sharp identity for the merge.
    val rows = Seq(1L -> Seq("a", "b", "c", "d"), 2L -> Seq("e", "f"))
    import spark.implicits._
    val got = SpanDedup.matchedSpans(toksDf(rows), toksDf(rows), 3)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 0L, 4L))) // doc 2 is below k: no grams
  }

  test("gram length below 2 is rejected") {
    intercept[IllegalArgumentException] {
      SpanDedup.duplicatedSpans(toksDf(Seq(1L -> Seq("a"))), 1)
    }
  }
}
