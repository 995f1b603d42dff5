package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.functions._

import graft.operators.{NaiveBayes, Retrieval, SearchDsl}

class SearchDslSpec extends SparkSpec {

  private def toksDf(rows: Seq[(Long, Seq[String])]) = {
    import spark.implicits._
    rows.toDF("doc_id", "toks")
  }

  /** Naive reference: count occurrences of `phrase` as a contiguous
    * subsequence of `toks`.
    */
  private def naivePhrase(toks: Seq[String], phrase: Seq[String]): Int =
    toks.sliding(phrase.length).count(_ == phrase)

  private def runPhrase(corpus: Seq[(Long, Seq[String])],
      phrase: Seq[String]): Map[Long, Long] = {
    import spark.implicits._
    SearchDsl.phraseMatch(SearchDsl.positionalPostings(toksDf(corpus)), phrase)
      .as[(Long, Long)].collect().toMap
  }

  test("phraseMatch counts exact adjacent-in-order occurrences, matching docs only") {
    val corpus = Seq(
      1L -> Seq("big", "table", "hash", "join"),        // one hit
      2L -> Seq("table", "hash", "table", "hash"),      // two hits
      3L -> Seq("hash", "table"),                       // reversed: none
      4L -> Seq("table", "x", "hash"),                  // gap: none
      5L -> Seq("table"),                               // truncated at end: none
      6L -> Seq("x", "y"))                              // no phrase terms
    val got = runPhrase(corpus, Seq("table", "hash"))
    val want = corpus.map { case (id, t) => id -> naivePhrase(t, Seq("table", "hash")).toLong }
      .filter(_._2 > 0).toMap
    assert(got == want)
    assert(got == Map(1L -> 1L, 2L -> 2L))
  }

  test("phraseMatch handles repeated terms, overlaps, and 3-term phrases") {
    // "a a" in "a a a" overlaps: starts 0 and 1.
    assert(runPhrase(Seq(1L -> Seq("a", "a", "a")), Seq("a", "a")) == Map(1L -> 2L))
    // A lone "a" is not "a a" (slot 1 never covered).
    assert(runPhrase(Seq(1L -> Seq("a", "b", "a")), Seq("a", "a")) == Map.empty[Long, Long])
    // 3-term phrase, including one straddling candidate start at pos-2
    // that must not fire (start < 0 groups can never reach m slots).
    val c = Seq(1L -> Seq("x", "a", "b", "c", "a", "b"), 2L -> Seq("b", "c", "a"))
    assert(runPhrase(c, Seq("a", "b", "c")) == Map(1L -> 1L))
    // Single-term phrase degrades to term frequency.
    assert(runPhrase(c, Seq("b")) == Map(1L -> 2L, 2L -> 1L))
    intercept[IllegalArgumentException] { runPhrase(c, Seq.empty) }
  }

  test("phraseMatch agrees with the naive reference on a generated corpus") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    val corpus = (1L to 60L).map(id =>
      id -> Vector.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).toSeq)
    for (phrase <- Seq(Seq("a", "b"), Seq("b", "b"), Seq("c", "a", "d"))) {
      val want = corpus.map { case (id, t) => id -> naivePhrase(t, phrase).toLong }
        .filter(_._2 > 0).toMap
      assert(runPhrase(corpus, phrase) == want, s"phrase $phrase")
    }
  }

  test("a persisted positional index prunes to the phrase terms' buckets") {
    val corpus = Seq(
      1L -> Seq("a", "b", "a"), 2L -> Seq("b", "c"), 3L -> Seq("c", "d"))
    SearchDsl.writePositionalIndex(
      SearchDsl.positionalPostings(toksDf(corpus)), "sds_pidx", buckets = 8)
    try {
      import spark.implicits._
      val reopened = SearchDsl.readPositionalIndex(spark, "sds_pidx")
      val got = SearchDsl.phraseMatch(reopened, Seq("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L))
      // The scale property (RetrievalSpec's bucket pin, positional
      // flavor): the phrase terms' isin filter prunes the bucketed
      // store scan instead of reading the whole positional table.
      val out = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(out, true, "UTF-8")) {
        SearchDsl.phraseMatch(reopened, Seq("a", "b")).explain("formatted")
      }
      val p = out.toString("UTF-8")
      assert(p.contains("SelectedBucketsCount: 2 out of 8"), p)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sds_pidx_pos")
    }
  }

  /** Textbook dynamic-programming Levenshtein, the spec for both
    * engines' built-ins.
    */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("fuzzyExpand returns exactly the vocabulary within maxEdits, with dist") {
    import spark.implicits._
    val vocab = Seq("spark", "scan", "sort", "part", "a", "sparkle", "spak")
      .toDF("term")
    val got = SearchDsl.fuzzyExpand(vocab, "spak", maxEdits = 2)
      .as[(String, Long)].collect().toMap
    val want = Seq("spark", "scan", "sort", "part", "a", "sparkle", "spak")
      .map(t => t -> lev(t, "spak").toLong).filter(_._2 <= 2).toMap
    assert(got == want)
    assert(got.contains("spark") && got("spak") == 0L && !got.contains("part"))
    // maxEdits = 0 degrades to exact term lookup.
    val exact = SearchDsl.fuzzyExpand(vocab, "spark", maxEdits = 0)
      .as[(String, Long)].collect().toMap
    assert(exact == Map("spark" -> 0L))
    // The length band never excludes a true match (it is a necessary
    // condition): nothing outside the band has dist <= maxEdits.
    assert(want.keys.forall(t => math.abs(t.length - 4) <= 2))
    intercept[IllegalArgumentException] {
      SearchDsl.fuzzyExpand(vocab, "x", maxEdits = -1)
    }
  }

  test("mltTerms picks the probe's top tf·idf terms with term tie-break") {
    // Corpus built so doc 1's terms rank: "rare" (tf=2, df=1) beats
    // "mid" (tf=2, df=2) beats "common" (tf=3, df=4 — high tf, low idf
    // keeps it behind mid for k=2 checks), and the absent term never
    // appears.
    val corpus = Seq(
      1L -> Seq("rare", "rare", "mid", "mid", "common", "common", "common"),
      2L -> Seq("mid", "common"),
      3L -> Seq("common", "other"),
      4L -> Seq("common", "other"))
    val idx = Retrieval.buildTextIndex(toksDf(corpus))
    val n = 4.0
    def tfidf(tf: Long, df: Long) = tf * math.log((n + 1) / (df + 1.0))
    val expectOrder = Seq(
      "rare" -> tfidf(2, 1), "mid" -> tfidf(2, 2), "common" -> tfidf(3, 4))
      .sortBy { case (t, s) => (-s, t) }.map(_._1)
    assert(SearchDsl.mltTerms(idx, 1L, maxQueryTerms = 2) == expectOrder.take(2))
    assert(SearchDsl.mltTerms(idx, 1L, maxQueryTerms = 10) == expectOrder)
    // Ties break on term: two terms with identical tf and df.
    val tied = Seq(1L -> Seq("zz", "aa"), 2L -> Seq("x"))
    val idx2 = Retrieval.buildTextIndex(toksDf(tied))
    assert(SearchDsl.mltTerms(idx2, 1L, maxQueryTerms = 2) == Seq("aa", "zz"))
    intercept[IllegalArgumentException] { SearchDsl.mltTerms(idx, 1L, 0) }
  }

  test("highlight: first-occurrence snippet with boundary clipping and in-window wrapping") {
    import spark.implicits._
    val corpus = Seq(
      1L -> Seq("a", "b", "hit", "c", "d", "e"),   // interior
      2L -> Seq("hit", "x", "y"),                  // clipped left
      3L -> Seq("x", "y", "z", "hit"),             // clipped right
      4L -> Seq("q", "hit", "w", "hit", "hit"),    // first occurrence wins; 2nd in window wraps
      5L -> Seq("no", "match", "here"))
    val got = SearchDsl.highlight(toksDf(corpus), "hit", context = 2)
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((2L, "a b <em>hit</em> c d")),
      2L -> ((0L, "<em>hit</em> x y")),
      3L -> ((3L, "y z <em>hit</em>")),
      4L -> ((1L, "q <em>hit</em> w <em>hit</em>"))))
    // context=0 is just the wrapped term.
    val zero = SearchDsl.highlight(toksDf(corpus.take(1)), "hit", context = 0)
      .as[(Long, Long, String)].collect()
    assert(zero.toSeq == Seq((1L, 2L, "<em>hit</em>")))
    intercept[IllegalArgumentException] {
      SearchDsl.highlight(toksDf(corpus), "hit", context = -1)
    }
  }

  /** Local NB replay: smoothed log-count-ratio weights + prior bias. */
  private def nbLocal(corpus: Seq[(Long, Seq[String], Boolean)]): Map[Long, Double] = {
    val vocab = corpus.flatMap(_._2).distinct
    val v = vocab.size.toDouble
    val posToks = corpus.filter(_._3).flatMap(_._2)
    val negToks = corpus.filterNot(_._3).flatMap(_._2)
    val (tp, tn) = (posToks.size.toDouble, negToks.size.toDouble)
    val w = vocab.map { t =>
      t -> (math.log((posToks.count(_ == t) + 1.0) / (tp + v))
        - math.log((negToks.count(_ == t) + 1.0) / (tn + v)))
    }.toMap
    val bias = math.log((corpus.count(_._3) + 1.0) / (corpus.count(!_._3) + 1.0))
    corpus.map { case (id, toks, _) =>
      id -> (toks.map(w).sum + bias)
    }.toMap
  }

  test("NaiveBayes matches a local replay and separates a separable corpus") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq("good", "good", "fine", "stop"), true),
      (2L, Seq("good", "fine", "stop"), true),
      (3L, Seq("bad", "awful", "stop"), false),
      (4L, Seq("bad", "bad", "stop", "stop"), false),
      (5L, Seq("good", "bad", "stop"), true))
    val df = corpus.toDF("doc_id", "toks", "lab")
    val model = NaiveBayes.train(df, col("lab"))
    val got = NaiveBayes.score(df, model)
      .as[(Long, Double)].collect().toMap
    val want = nbLocal(corpus)
    assert(got.keySet == want.keySet)
    want.foreach { case (id, s) =>
      assert(math.abs(got(id) - s) < 1e-9, s"doc $id: got ${got(id)}, want $s")
    }
    // The separable part separates: pure-positive docs score above
    // pure-negative docs.
    assert(got(1L) > 0 && got(2L) > 0 && got(3L) < 0 && got(4L) < 0)
  }

  test("NaiveBayes: null labels are negative, OOV terms drop, degenerate corpora train") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b"), Some(true)),
      (2L, Seq("a", "c"), None)) // null label counts as negative
      .toDF("doc_id", "toks", "lab")
    val model = NaiveBayes.train(df, col("lab"))
    val w = model.weights.as[(String, Double)].collect().toMap
    // "b" is positive-only evidence, "c" negative-only, "a" in both.
    assert(w("b") > w("a") && w("a") > w("c"))
    // Scoring a doc whose terms are all OOV yields no row (inner join).
    val oov = Seq((9L, Seq("zz"))).toDF("doc_id", "toks")
    assert(NaiveBayes.score(oov, model).count() == 0)
    // A mixed doc of known terms scores: bias + w(a)+w(zz dropped).
    val part = Seq((8L, Seq("a", "zz"))).toDF("doc_id", "toks")
    val s8 = NaiveBayes.score(part, model).as[(Long, Double)].collect().toMap
    assert(math.abs(s8(8L) - (model.bias + w("a"))) < 1e-12)
    // Single-class corpus: smoothing keeps weights and bias finite.
    val single = Seq((1L, Seq("a"), true)).toDF("doc_id", "toks", "lab")
    val m1 = NaiveBayes.train(single, col("lab"))
    assert(!m1.bias.isInfinite && !m1.bias.isNaN)
    val sw = m1.weights.as[(String, Double)].collect().toMap
    assert(sw.values.forall(x => !x.isInfinite && !x.isNaN))
  }

  test("trainMulti/scoreMulti match a local K-class replay, including " +
      "dense zero-count smoothing rows") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq("der", "hund", "ist"), "de"),
      (2L, Seq("der", "das", "ist"), "de"),
      (3L, Seq("the", "dog", "is"), "en"),
      (4L, Seq("the", "the", "cat"), "en"),
      (5L, Seq("el", "perro"), "es"))
    val df = corpus.toDF("doc_id", "toks", "cls")
    val model = NaiveBayes.trainMulti(df, col("cls"))

    // Local replay of the closed form.
    val classes = corpus.map(_._3).distinct.sorted
    val vocab = corpus.flatMap(_._2).distinct
    val nc = classes.map(c => c -> corpus.count(_._3 == c)).toMap
    val n = corpus.size.toDouble
    val k = classes.size.toDouble
    val prior = classes.map(c => c -> math.log((nc(c) + 1.0) / (n + k))).toMap
    val cnt = (for { (_, ts, c) <- corpus; t <- ts } yield (c, t))
      .groupBy(identity).map { case (k2, v) => k2 -> v.size.toLong }
    val tc = classes.map(c => c -> cnt.collect {
      case ((`c`, _), v) => v }.sum.toDouble).toMap
    val v = vocab.size.toDouble
    def w(c: String, t: String): Double =
      math.log((cnt.getOrElse((c, t), 0L) + 1.0) / (tc(c) + v))

    // The weight table is DENSE: every (class, vocab term) pair exists,
    // zero-count rows carrying the smoothed absent-term weight.
    val gotW = model.weights.as[(String, String, Double)].collect()
      .map { case (c, t, x) => (c, t) -> x }.toMap
    assert(gotW.keySet == (for { c <- classes; t <- vocab } yield (c, t)).toSet)
    gotW.foreach { case ((c, t), x) =>
      assert(math.abs(x - w(c, t)) < 1e-12, s"w($c,$t)") }

    val got = NaiveBayes.scoreMulti(df, model)
      .as[(Long, String, Double)].collect()
      .map { case (d, c, s) => (d, c) -> s }.toMap
    corpus.foreach { case (d, ts, _) =>
      classes.foreach { c =>
        val want = prior(c) + ts.groupBy(identity)
          .map { case (t, occ) => occ.size * w(c, t) }.sum
        assert(math.abs(got((d, c)) - want) < 1e-9, s"score($d,$c)")
      }
    }
    // Every doc's best class is its own label on this separable corpus.
    corpus.foreach { case (d, _, lab) =>
      val best = classes.maxBy(c => got((d, c)))
      assert(best == lab, s"doc $d predicted $best, labeled $lab")
    }
  }

  test("charNgrams: overlapping codepoint trigrams; short strings yield " +
      "empty, not phantom grams") {
    import spark.implicits._
    import graft.functions.TextFunctions.charNgrams
    val got = Seq((1L, "abcde"), (2L, "ab"), (3L, ""), (4L, "日本語だ"))
      .toDF("doc_id", "s")
      .select(col("doc_id"), charNgrams(col("s"), 3).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("abc", "bcd", "cde"))
    assert(got(2L) == Seq.empty)
    assert(got(3L) == Seq.empty)
    assert(got(4L) == Seq("日本語", "本語だ"))
  }

  private def vocabDf(terms: String*) = {
    import spark.implicits._
    terms.toSeq.toDF("term")
  }

  private def terms(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import spark.implicits._
    df.select("term").as[String].collect().toSet
  }

  test("prefixExpand filters the dictionary; wildcardExpand speaks Lucene syntax") {
    val v = vocabDf("scan", "slow", "small", "sort", "spark", "stream", "table", "a_b", "axb", "ab")
    assert(terms(SearchDsl.prefixExpand(v, "s")) ==
      Set("scan", "slow", "small", "sort", "spark", "stream"))
    assert(terms(SearchDsl.prefixExpand(v, "sc")) == Set("scan"))
    assert(terms(SearchDsl.prefixExpand(v, "zzz")).isEmpty)
    intercept[IllegalArgumentException] { SearchDsl.prefixExpand(v, "") }
    // * = any run (incl. empty), ? = exactly one char.
    assert(terms(SearchDsl.wildcardExpand(v, "s?a*")) == Set("scan", "small", "spark"))
    assert(terms(SearchDsl.wildcardExpand(v, "a?b")) == Set("a_b", "axb"))
    assert(terms(SearchDsl.wildcardExpand(v, "a*b")) == Set("a_b", "axb", "ab"))
    // SQL metacharacters in the pattern are LITERALS, not wildcards.
    assert(terms(SearchDsl.wildcardExpand(v, "a_b")) == Set("a_b"))
    assert(terms(SearchDsl.wildcardExpand(v, "a%b")).isEmpty)
    intercept[IllegalArgumentException] { SearchDsl.wildcardExpand(v, "") }
    // Lucene \-escapes: an escaped wildcard is a literal; dangling \ refused.
    val vx = vocabDf("a*b", "axb", "a?b", "a\\b")
    assert(terms(SearchDsl.wildcardExpand(vx, "a\\*b")) == Set("a*b"))
    assert(terms(SearchDsl.wildcardExpand(vx, "a\\?b")) == Set("a?b"))
    assert(terms(SearchDsl.wildcardExpand(vx, "a\\\\b")) == Set("a\\b"))
    assert(terms(SearchDsl.wildcardExpand(vx, "a?b")) == Set("a*b", "axb", "a?b", "a\\b"))
    intercept[IllegalArgumentException] { SearchDsl.wildcardExpand(vx, "ab\\") }
  }

  test("searchAfter pages reconstruct the full ranking with tie-safe cursors") {
    import spark.implicits._
    // Heavy score ties so the doc_id tie-break carries page boundaries.
    val scored = (1L to 23L).map(i => (i, (i % 4).toDouble))
      .toDF("doc_id", "score")
    val fullOrder = scored.orderBy(col("score").desc, col("doc_id"))
      .as[(Long, Double)].collect().toSeq
    // Page through with k = 5 exactly as a client would.
    var pages = Seq(scored.orderBy(col("score").desc, col("doc_id")).limit(5)
      .as[(Long, Double)].collect().toSeq)
    var cursor = pages.last.last
    var done = false
    while (!done) {
      val next = SearchDsl.searchAfter(scored, col("score"), cursor._2, cursor._1, 5)
        .as[(Long, Double)].collect().toSeq
      if (next.isEmpty) done = true
      else { pages = pages :+ next; cursor = next.last }
    }
    assert(pages.flatten == fullOrder)
    assert(pages.init.forall(_.size == 5)) // only the last page is short
    intercept[IllegalArgumentException] {
      SearchDsl.searchAfter(scored, col("score"), 1.0, 1L, 0)
    }
  }

  test("percolate: conjunctive semantics, dup collapse, unmatched terms, epoch-union = batch") {
    import spark.implicits._
    val docs = toksDf(Seq(
      1L -> Seq("spark", "fast", "x"),
      2L -> Seq("spark", "spark"),      // dup tokens in the DOC collapse too
      3L -> Seq("fast"),
      4L -> Seq("a", "b", "c")))
    val reg = Seq(
      (10L, Seq("spark", "fast")),      // conjunctive: doc 1 only
      (11L, Seq("spark", "spark")),     // dup terms collapse: any spark doc
      (12L, Seq("zzz")),                // vocabulary miss: never matches
      (13L, Seq("a", "b", "c")),
      (14L, Seq("fast", "zzz")))        // partial presence is NOT a match
      .toDF("query_id", "terms")
    val got = SearchDsl.percolate(docs, reg)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (1L, 11L), (2L, 11L), (4L, 13L)))
    // Stateless per doc: percolating two delivered epochs separately
    // and unioning equals percolating the closed corpus (the
    // alert-on-ingest contract).
    val e1 = toksDf(Seq(1L -> Seq("spark", "fast", "x"), 3L -> Seq("fast")))
    val e2 = toksDf(Seq(2L -> Seq("spark", "spark"), 4L -> Seq("a", "b", "c")))
    val byEpoch = SearchDsl.percolate(e1, reg).as[(Long, Long)].collect().toSet ++
      SearchDsl.percolate(e2, reg).as[(Long, Long)].collect().toSet
    assert(byEpoch == got)
    // A doc appearing on SEVERAL input rows (at-least-once replay
    // landing one record twice) still matches exactly once — the
    // distinct-term count can't be inflated past n_q by multiplicity.
    val dup = toksDf(Seq(1L -> Seq("spark", "fast"), 1L -> Seq("spark", "fast")))
    assert(SearchDsl.percolate(dup, reg).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (1L, 11L)))
  }

  test("search executes a full request: clauses compose, facets are pre-pagination, " +
      "cursor pages continue the ranking") {
    import spark.implicits._
    val toks = toksDf(Seq(
      1L -> Seq("data", "spark", "x"),
      2L -> Seq("data", "data", "spark"),
      3L -> Seq("spark", "bad"),          // mustNot casualty
      4L -> Seq("data"),
      5L -> Seq("data", "spark", "fast"),
      6L -> Seq("spark"),
      7L -> Seq("data", "spark", "y"),
      8L -> Seq("zzz")))                  // never matches
    val meta = Seq(
      (1L, "en", "s1"), (2L, "en", "s1"), (3L, "en", "s2"), (4L, "fr", "s2"),
      (5L, "en", "s2"), (6L, "en", "s3"), (7L, "en", "s3"), (8L, "en", "s3"))
      .toDF("doc_id", "lang", "source")
    val req = SearchDsl.SearchRequest(
      must = Seq("data", "spark"), mustNot = Seq("bad"),
      filter = Some(col("lang") === "en"), size = 3,
      highlight = Some("spark"), facet = Some("source"))
    val resp = SearchDsl.search(toks, meta, req)
    val hits = resp.hits.select("doc_id", "score", "rank")
      .as[(Long, Double, Long)].collect().toSeq
    // Manual composition of the same clauses (each independently
    // oracle-gated; here we pin the WIRING).
    val manual = Retrieval.bm25(toks, Seq("data", "spark"))
      .join(toks.filter(!array_contains(col("toks"), "bad")).select("doc_id"), "doc_id")
      .join(meta.filter(col("lang") === "en").select("doc_id"), "doc_id")
      .select(col("doc_id"), (floor(col("score") * 100 + 0.5) / 100).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .as[(Long, Double)].collect().toSeq
    assert(hits.map(h => (h._1, h._2)) == manual.take(3))
    assert(hits.map(_._3) == Seq(1L, 2L, 3L))
    // Docs 3 (mustNot), 4 (filter), 8 (no match) are out everywhere.
    assert(!manual.map(_._1).exists(Set(3L, 4L, 8L)))
    // The snippet attaches where the term occurs (all these hits have "spark").
    val snips = resp.hits.select("doc_id", "snippet").as[(Long, String)].collect().toMap
    assert(snips.values.forall(_.contains("<em>spark</em>")))
    // Facets aggregate the FULL hit set (5 docs), not the 3-row page.
    val facets = resp.facets.get.as[(String, Long)].collect().toMap
    assert(facets == Map("s1" -> 2L, "s2" -> 1L, "s3" -> 2L))
    assert(facets.values.sum == manual.size)
    // Page 2 via the cursor from page 1's last row.
    val cursor = (hits.last._2, hits.last._1)
    val page2 = SearchDsl.search(toks, meta,
        req.copy(after = Some(cursor), highlight = None, facet = None))
      .hits.select("doc_id", "score").as[(Long, Double)].collect().toSeq
    assert(hits.map(h => (h._1, h._2)) ++ page2 == manual)
    // matchAll + phrase constrain the same pipeline.
    val strict = SearchDsl.search(toks, meta,
      SearchDsl.SearchRequest(must = Seq("data", "spark"), matchAll = true,
        phrase = Seq("data", "spark")))
    val strictIds = strict.hits.select("doc_id").as[Long].collect().toSet
    assert(strictIds == Set(1L, 2L, 5L, 7L)) // doc 4/6: one term; 3: no "data spark" adjacency
  }

  test("search served from a TextIndex equals the corpus-pass path: hits, " +
      "facets, cursor page, and the mustNot anti-join") {
    import spark.implicits._
    val toks = toksDf(Seq(
      1L -> Seq("data", "spark", "x"),
      2L -> Seq("data", "data", "spark"),
      3L -> Seq("spark", "bad"),
      4L -> Seq("data"),
      5L -> Seq("data", "spark", "fast"),
      6L -> Seq("spark"),
      7L -> Seq("data", "spark", "y"),
      8L -> Seq("zzz")))
    val meta = Seq(
      (1L, "en", "s1"), (2L, "en", "s1"), (3L, "en", "s2"), (4L, "fr", "s2"),
      (5L, "en", "s2"), (6L, "en", "s3"), (7L, "en", "s3"), (8L, "en", "s3"))
      .toDF("doc_id", "lang", "source")
    val req = SearchDsl.SearchRequest(
      must = Seq("data", "spark"), mustNot = Seq("bad"),
      filter = Some(col("lang") === "en"), size = 3,
      highlight = Some("spark"), facet = Some("source"))
    val index = Retrieval.buildTextIndex(toks)
    def page(r: SearchDsl.SearchResponse) = r.hits
      .select("doc_id", "score", "rank").as[(Long, Double, Long)].collect().toSeq
    val direct = SearchDsl.search(toks, meta, req)
    val viaIx = SearchDsl.search(toks, meta, req, index = Some(index))
    assert(page(viaIx) == page(direct))
    assert(viaIx.facets.get.as[(String, Long)].collect().toMap ==
      direct.facets.get.as[(String, Long)].collect().toMap)
    // Cursor page continues identically in both modes.
    val cursor = (page(direct).last._2, page(direct).last._1)
    val p2req = req.copy(after = Some(cursor), highlight = None, facet = None)
    assert(page(SearchDsl.search(toks, meta, p2req, index = Some(index))) ==
      page(SearchDsl.search(toks, meta, p2req)))
    // A mustNot term nothing contains: the anti-join must be a no-op,
    // not an accidental drop (regression guard for the postings lane).
    val noop = req.copy(mustNot = Seq("qqq"), highlight = None, facet = None)
    assert(page(SearchDsl.search(toks, meta, noop, index = Some(index)))
      .map(_._1).toSet.subsetOf(Set(1L, 2L, 5L, 7L)))
    // matchAll + phrase compose with the indexed match too.
    val strict = SearchDsl.search(toks, meta,
      SearchDsl.SearchRequest(must = Seq("data", "spark"), matchAll = true,
        phrase = Seq("data", "spark")), index = Some(index))
    assert(strict.hits.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 5L, 7L))
  }

  test("percolate agrees with the naive reference on generated corpora/registries") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vocab = Vector("a", "b", "c", "d", "e")
    val docGen = Gen.listOfN(12,
      Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))))
    val regGen = Gen.listOfN(5,
      Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab :+ "zz"))))
    (0 until 8).foreach { i =>
      val params = Gen.Parameters.default
      val docs = docGen(params, Seed(99L + i)).get
        .zipWithIndex.map { case (t, id) => id.toLong -> t.toSeq }
      val reg = regGen(params, Seed(777L + i)).get
        .zipWithIndex.map { case (t, id) => (id.toLong, t.toSeq) }
      import spark.implicits._
      val got = SearchDsl.percolate(toksDf(docs), reg.toDF("query_id", "terms"))
        .as[(Long, Long)].collect().toSet
      val want = (for {
        (d, toks) <- docs
        (q, terms) <- reg
        if terms.toSet.subsetOf(toks.toSet) && toks.nonEmpty
      } yield (d, q)).toSet
      assert(got == want, s"seed round $i: got $got, want $want")
    }
  }

  test("parseQueryString maps the simple query-string subset onto SearchRequest, " +
      "refusing syntax it cannot honor") {
    val r = SearchDsl.parseQueryString("Data-Driven spark -slow \"data spark\"")
    assert(r == SearchDsl.SearchRequest(
      must = Seq("data", "driven", "spark"), matchAll = false,
      phrase = Seq("data", "spark"), mustNot = Seq("slow")))
    assert(SearchDsl.parseQueryString("a b", "and").matchAll)
    // Phrase-only queries score by the phrase's own terms.
    val p = SearchDsl.parseQueryString("\"big table\"")
    assert(p.must == Seq("big", "table") && p.phrase == Seq("big", "table"))
    // '-'/'+' INSIDE a phrase or before its CLOSING quote is content,
    // not a negation marker — the guard anchors to opening quotes.
    val tr = SearchDsl.parseQueryString("\"grade a-\" spark")
    assert(tr.phrase == Seq("grade", "a") && tr.must == Seq("spark"))
    assert(SearchDsl.parseQueryString("\"type a+b\"").phrase == Seq("type", "a", "b"))
    // Refused: wildcard/fuzzy/boost/field/group syntax, pure negation,
    // multiple phrases, unbalanced quotes, empties, bad operator.
    for (bad <- Seq("a*", "b?", "c~2", "d^3", "f:g", "(a b)", "-slow",
        "\"a\" \"b\"", "\"a b", "   ",
        // a negated/marked phrase must refuse, never invert to positive
        "foo -\"bad phrase\"", "foo +\"p q\"", "-\"p q\"",
        // operator-ish tokens the analyzer dissolves must refuse, not drop
        "fast | cheap", "fast + cheap", "fast -- cheap",
        // doubled/ambiguous operators whose residue the analyzer would
        // dissolve must refuse, not silently read as singly-marked
        "foo --word", "foo +-word", "foo -+word", "--word"))
      intercept[IllegalArgumentException] { SearchDsl.parseQueryString(bad) }
    intercept[IllegalArgumentException] { SearchDsl.parseQueryString("a", "not") }
  }

  test("disMax: best clause plus tie-broken rest, union semantics, bounds checked") {
    import spark.implicits._
    val c1 = Seq((1L, 4.0), (2L, 1.0)).toDF("doc_id", "score")
    val c2 = Seq((1L, 2.0), (3L, 5.0)).toDF("doc_id", "score")
    val got = SearchDsl.disMax(Seq(c1, c2), tieBreaker = 0.5)
      .as[(Long, Double)].collect().toMap
    // doc 1: max(4,2) + 0.5·2 = 5; docs 2/3 appear in one clause only.
    assert(got == Map(1L -> 5.0, 2L -> 1.0, 3L -> 5.0))
    // tieBreaker 0 is pure disjunction-max; 1 degrades to the sum.
    assert(SearchDsl.disMax(Seq(c1, c2), 0.0).as[(Long, Double)].collect().toMap ==
      Map(1L -> 4.0, 2L -> 1.0, 3L -> 5.0))
    assert(SearchDsl.disMax(Seq(c1, c2), 1.0).as[(Long, Double)].collect().toMap ==
      Map(1L -> 6.0, 2L -> 1.0, 3L -> 5.0))
    intercept[IllegalArgumentException] { SearchDsl.disMax(Seq.empty) }
    intercept[IllegalArgumentException] { SearchDsl.disMax(Seq(c1), 1.5) }
  }

  test("termsFacet aggregates the hit set by a doc attribute") {
    import spark.implicits._
    val hits = Seq(1L, 2L, 4L).toDF("doc_id")
    val meta = Seq((1L, "s1", 10L), (2L, "s1", 30L), (3L, "s1", 99L), (4L, "s2", 5L))
      .toDF("doc_id", "source", "n_chars")
    val got = SearchDsl.termsFacet(hits, meta, "source",
        Seq(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars")))
      .as[(String, Long, Long)].collect().toSet
    // doc 3 never hit: its chars don't leak into the s1 bucket.
    assert(got == Set(("s1", 2L, 40L), ("s2", 1L, 5L)))
    intercept[IllegalArgumentException] {
      SearchDsl.termsFacet(hits, meta, "source", Seq.empty)
    }
  }

  test("significantTerms: JLH score vs a local replay; stopwords and " +
      "rare terms are suppressed") {
    import spark.implicits._
    // Foreground = docs containing "q". "everywhere" is in all docs
    // (fgRate == bgRate → score 0, dropped); "signal" is fg-only;
    // "rare" appears in 1 fg doc (below minDocCount, dropped);
    // "noise" is bg-only (fg_df 0, dropped).
    val corpus = Seq(
      1L -> Seq("q", "signal", "everywhere"),
      2L -> Seq("q", "signal", "everywhere", "mixed"),
      3L -> Seq("q", "signal", "rare", "everywhere"),
      4L -> Seq("noise", "everywhere", "mixed"),
      5L -> Seq("noise", "everywhere"),
      6L -> Seq("everywhere"))
    val got = SearchDsl.significantTerms(toksDf(corpus),
        array_contains(col("toks"), "q"), minDocCount = 2)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def jlh(fgDf: Long, bgDf: Long): Double = {
      val fr = fgDf.toDouble / 3.0; val br = bgDf.toDouble / 6.0
      (fr - br) * (fr / br)
    }
    // Surviving: q (the query term itself — callers exclude it),
    // signal (fg 3/3 vs bg 3/6). NOT everywhere (score 0), NOT rare
    // (fg_df 1 < 2), NOT noise/mixed (fg_df 0/1).
    assert(got.keySet == Set("q", "signal"), got.toString)
    assert(got("signal") == ((3L, 3L, jlh(3, 3))))
    assert(got("q") == ((3L, 3L, jlh(3, 3))))
    // Monotonicity sanity: a term in half the foreground but none of
    // the rest of the corpus still scores above zero when support
    // allows (drop minDocCount to 1 to see mixed survive).
    val loose = SearchDsl.significantTerms(toksDf(corpus),
        array_contains(col("toks"), "q"), minDocCount = 1)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(loose.contains("rare") && loose("rare") == jlh(1, 1))
    assert(!loose.contains("everywhere") && !loose.contains("noise"))
  }

  test("collapseTop: one best hit per key, score-desc doc_id-asc ties, " +
      "inner_hits counts the folded group") {
    import spark.implicits._
    val hits = Seq((1L, 3.0), (2L, 5.0), (3L, 5.0), (4L, 2.0), (5L, 7.0))
      .toDF("doc_id", "score")
    val meta = Seq((1L, "s1"), (2L, "s1"), (3L, "s1"), (4L, "s2"), (5L, "s2"),
      (6L, "s3")) // doc 6 never hit: s3 must not appear
      .toDF("doc_id", "source")
    val got = SearchDsl.collapseTop(hits, meta, "source", col("score"))
      .as[(String, Long, Double, Long)].collect().toSet
    // s1: docs 2 and 3 tie at 5.0 → smaller doc_id wins; 3 hits folded.
    // s2: doc 5 wins at 7.0; 2 hits folded.
    assert(got == Set(("s1", 2L, 5.0, 3L), ("s2", 5L, 7.0, 2L)))
  }

  test("functionScore: multiply boost_mode, factor scan-side, missing " +
      "docs take the missing factor and stay in the hit set") {
    import spark.implicits._
    val hits = Seq((1L, 2.0), (2L, 3.0), (3L, 1.0)).toDF("doc_id", "score")
    // Doc 3 is absent from the attribute table: factor = missing.
    val docs = Seq((1L, 4.0), (2L, 0.5), (4L, 9.0)).toDF("doc_id", "len")
    val got = SearchDsl.functionScore(hits, docs, col("len") * 2, missing = 1.0)
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L)) // hit set preserved; doc 4 never hit
    assert(got(1L) == ((2.0, 8.0, 16.0)))
    assert(got(2L) == ((3.0, 1.0, 3.0)))
    assert(got(3L) == ((1.0, 1.0, 1.0))) // missing → factor 1
    // The boost can reorder: doc 1 now beats doc 2.
    assert(got(1L)._3 > got(2L)._3)
  }

  test("compositeAgg: lexicographic after-cursor, key-ordered page, " +
      "pages tile the bucket space exactly") {
    import spark.implicits._
    val rows = (for {
      u <- 1L to 5L
      t <- Seq("click", "view")
      i <- 1 to 3
    } yield (u, t, i.toDouble)).toDF("user_id", "event_type", "v")
    val metrics = Seq(count(lit(1)).as("n"), sum(col("v").cast("long")).as("sv"))

    // Full bucket space, key-ordered.
    val all = SearchDsl.compositeAgg(rows, Seq("user_id", "event_type"),
        None, size = 100, metrics)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(all == (for (u <- 1L to 5L; t <- Seq("click", "view"))
      yield (u, t, 3L, 6L)).toSeq)

    // Cursor mid-user: strictly-after semantics on the SECOND key.
    val page = SearchDsl.compositeAgg(rows, Seq("user_id", "event_type"),
        Some(Seq(lit(2L), lit("click"))), size = 3, metrics)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(page == Seq((2L, "view", 3L, 6L), (3L, "click", 3L, 6L),
      (3L, "view", 3L, 6L)))

    // Paging from each page's last key tiles the space with no gap or
    // overlap — the composite contract.
    var cursor: Option[(Long, String)] = None
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var done = false
    while (!done) {
      val p = SearchDsl.compositeAgg(rows, Seq("user_id", "event_type"),
          cursor.map { case (u, t) => Seq(lit(u), lit(t)) }, size = 3, metrics)
        .as[(Long, String, Long, Long)].collect().toSeq
      if (p.isEmpty) done = true
      else { seen ++= p.map(r => (r._1, r._2)); cursor = Some((p.last._1, p.last._2)) }
    }
    assert(seen.toSeq == all.map(r => (r._1, r._2)))

    intercept[IllegalArgumentException] {
      SearchDsl.compositeAgg(rows, Seq("user_id"), Some(Seq(lit(1), lit(2))), 5, metrics)
    }
    intercept[IllegalArgumentException] {
      SearchDsl.compositeAgg(rows, Seq.empty, None, 5, metrics)
    }
    intercept[IllegalArgumentException] {
      SearchDsl.compositeAgg(rows, Seq("user_id"), None, 0, metrics)
    }
  }

  // ---------------------------------------------------- spanNear

  /** Naive reference: min over ALL cross pairs of (gap, or None). */
  private def naiveSpan(toks: Seq[String], a: String, b: String,
      inOrder: Boolean): Option[Long] = {
    val pa = toks.zipWithIndex.collect { case (t, i) if t == a => i.toLong }
    val pb = toks.zipWithIndex.collect { case (t, i) if t == b => i.toLong }
    val gaps =
      if (inOrder) for (x <- pa; y <- pb if x < y) yield y - x - 1
      else for (x <- pa; y <- pb) yield math.abs(x - y) - 1
    if (pa.isEmpty || pb.isEmpty || gaps.isEmpty) None else Some(gaps.min)
  }

  private def runSpan(corpus: Seq[(Long, Seq[String])], a: String, b: String,
      slop: Int, inOrder: Boolean = false): Map[Long, (Long, Long, Long)] = {
    import spark.implicits._
    SearchDsl.spanNear(SearchDsl.positionalPostings(toksDf(corpus)), a, b,
        slop, inOrder)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("spanNear: handcrafted gaps, order flag, slop cut, missing-term docs") {
    val corpus = Seq(
      1L -> Seq("data", "x", "query"),              // gap 1
      2L -> Seq("query", "data"),                   // adjacent reversed: gap 0
      3L -> Seq("data", "a", "b", "c", "d", "query"), // gap 4 > slop 3
      4L -> Seq("data", "data", "query", "query"),  // gap 0, counts 2/2
      5L -> Seq("data", "only"),                    // missing b
      6L -> Seq("query", "only"))                   // missing a
    assert(runSpan(corpus, "data", "query", slop = 3) ==
      Map(1L -> ((1L, 1L, 1L)), 2L -> ((1L, 1L, 0L)), 4L -> ((2L, 2L, 0L))))
    // in_order: doc 2's only pair is reversed, so it drops out.
    assert(runSpan(corpus, "data", "query", slop = 3, inOrder = true) ==
      Map(1L -> ((1L, 1L, 1L)), 4L -> ((2L, 2L, 0L))))
    // slop 4 admits doc 3.
    assert(runSpan(corpus, "data", "query", slop = 4)(3L) == ((1L, 1L, 4L)))
    intercept[IllegalArgumentException] { runSpan(corpus, "data", "data", 1) }
    intercept[IllegalArgumentException] { runSpan(corpus, "a", "b", -1) }
  }

  test("spanNear merge-walk equals the quadratic cross-pair reference (generated)") {
    val rnd = new scala.util.Random(41)
    val vocab = Vector("data", "query", "x", "y")
    val corpus = (1L to 60L).map { id =>
      id -> Vector.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
    }
    for (inOrder <- Seq(false, true); slop <- Seq(0, 2, 11)) {
      val want = corpus.flatMap { case (id, t) =>
        naiveSpan(t, "data", "query", inOrder).filter(_ <= slop).map { g =>
          id -> ((t.count(_ == "data").toLong, t.count(_ == "query").toLong, g))
        }
      }.toMap
      assert(runSpan(corpus, "data", "query", slop, inOrder) == want,
        s"inOrder=$inOrder slop=$slop")
    }
  }

  // ------------------------------------------- termSuggest / deleteKeys
  // (the levenshtein reference `lev` is defined earlier in this suite)

  test("deleteKeys SQL expression mirrors deletesLocal exactly") {
    import spark.implicits._
    val terms = Seq("spark", "a", "ab", "query", "zz", "tables")
    for (d <- Seq(1, 2)) {
      val got = terms.toDF("term")
        .select(col("term"), SearchDsl.deleteKeys("term", d).as("keys"))
        .as[(String, Seq[String])].collect().toMap
      terms.foreach { t =>
        assert(got(t).toSet == SearchDsl.deletesLocal(t, d), s"term=$t d=$d")
        assert(got(t).distinct == got(t)) // array_distinct applied
      }
    }
    intercept[IllegalArgumentException] { SearchDsl.deleteKeys("term", 3) }
  }

  test("SymSpell completeness: lev <= 2 pairs always share a delete key") {
    val rnd = new scala.util.Random(17)
    val alpha = "abcd"
    def word() = Vector.fill(1 + rnd.nextInt(7))(alpha(rnd.nextInt(alpha.length))).mkString
    val pairs = Vector.fill(400)((word(), word()))
    pairs.foreach { case (a, b) =>
      val d = lev(a, b)
      val share = (SearchDsl.deletesLocal(a, 2) intersect SearchDsl.deletesLocal(b, 2)).nonEmpty
      if (d <= 2) assert(share, s"lev($a,$b)=$d but no shared delete key")
    }
    // and the guarantee is non-vacuous on this sample
    assert(pairs.exists { case (a, b) => lev(a, b) <= 2 && a != b })
  }

  test("termSuggest equals the brute-force banded vocabulary scan") {
    import spark.implicits._
    val vocab = Seq(
      ("spark", 40L), ("spak", 1L), ("span", 9L), ("stark", 9L),
      ("query", 31L), ("queue", 7L), ("qed", 2L), ("table", 25L),
      ("tale", 25L), ("cable", 25L), ("label", 12L), ("zzzzz", 3L))
      .toDF("term", "df")
    val inputs = Seq("spak", "qery", "tabel")
    val got = SearchDsl.termSuggest(vocab, inputs, maxEdits = 2, topN = 3)
      .select("input", "term", "dist", "df", "rnk")
      .as[(String, String, Long, Long, Long)].collect().toSet
    val want = inputs.flatMap { in =>
      Seq(("spark", 40L), ("spak", 1L), ("span", 9L), ("stark", 9L),
        ("query", 31L), ("queue", 7L), ("qed", 2L), ("table", 25L),
        ("tale", 25L), ("cable", 25L), ("label", 12L), ("zzzzz", 3L))
        .map { case (t, f) => (t, f, lev(t, in).toLong) }
        .filter(_._3 <= 2)
        .sortBy { case (t, f, d) => (d, -f, t) }
        .take(3).zipWithIndex
        .map { case ((t, f, d), i) => (in, t, d, f, i + 1L) }
    }.toSet
    assert(got == want)
    // exact vocabulary hit ranks first at dist 0
    assert(got.contains(("spak", "spak", 0L, 1L, 1L)))
    intercept[IllegalArgumentException] { SearchDsl.termSuggest(vocab, Seq.empty) }
  }

  test("multiMatch: per-field stats, boost-before-combine, " +
      "best_fields vs most_fields (q183's corpus oracle)") {
    import spark.implicits._
    // Field A: docs 1,2 carry 'data'; field B: only doc 2 carries it.
    val fa = toksDf(Seq(1L -> Seq("data", "x"), 2L -> Seq("data"),
      3L -> Seq("y", "z")))
    val fb = toksDf(Seq(1L -> Seq("q"), 2L -> Seq("data"), 3L -> Seq("r")))
    def scores(tpe: String): Map[Long, Double] =
      SearchDsl.multiMatch(Seq((fa, 1.0), (fb, 2.0)), Seq("data"),
          matchType = tpe, tieBreaker = 0.5)
        .as[(Long, Double)].collect().toMap
    val best = scores("best_fields")
    val most = scores("most_fields")
    // replay the two per-field BM25 clauses locally
    def clause(toks: Seq[(Long, Seq[String])], boost: Double): Map[Long, Double] = {
      val n = toks.size.toDouble
      val avgdl = toks.map(_._2.size).sum.toDouble / n
      val hits = toks.filter(_._2.contains("data"))
      val df = hits.size.toDouble
      hits.map { case (id, t) =>
        val tf = t.count(_ == "data").toDouble
        val dl = t.size.toDouble
        id -> StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
          (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) * boost
      }.toMap
    }
    val ca = clause(Seq(1L -> Seq("data", "x"), 2L -> Seq("data"),
      3L -> Seq("y", "z")), 1.0)
    val cb = clause(Seq(1L -> Seq("q"), 2L -> Seq("data"), 3L -> Seq("r")), 2.0)
    // doc 1: only clause A -> best == most == ca(1)
    assert(best(1L) == ca(1L) && most(1L) == ca(1L))
    // doc 2: both -> best = max + 0.5*(sum-max), most = sum
    val (mx, sm) = (math.max(ca(2L), cb(2L)), ca(2L) + cb(2L))
    assert(best(2L) == mx + 0.5 * (sm - mx))
    assert(most(2L) == sm)
    assert(!best.contains(3L), "non-matching doc must not appear")
    intercept[IllegalArgumentException] {
      SearchDsl.multiMatch(Seq((fa, 1.0)), Seq("data"), "cross_fields")
    }
    intercept[IllegalArgumentException] {
      SearchDsl.multiMatch(Seq.empty, Seq("data"))
    }
  }

  test("boosting demotes (never excludes) negative matches; bounds checked") {
    import spark.implicits._
    val pos = Seq((1L, 10.0), (2L, 8.0), (3L, 6.0)).toDF("doc_id", "score")
    val neg = Seq(1L, 9L).toDF("doc_id") // 9 not in hits: ignored
    val got = SearchDsl.boosting(pos, neg, negativeBoost = 0.5)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 5.0, 2L -> 8.0, 3L -> 6.0),
      s"demotion wrong: $got")
    intercept[IllegalArgumentException] { SearchDsl.boosting(pos, neg, 1.5) }
  }

  test("completionSuggest: prefix filter, df-desc weight, term tie-break, " +
      "size cut") {
    import spark.implicits._
    val vocab = Seq(("spark", 5L), ("split", 5L), ("spot", 2L),
      ("data", 9L), ("sp", 1L)).toDF("term", "df")
    val got = SearchDsl.completionSuggest(vocab, "sp", size = 3)
      .as[(String, Long)].collect().toSeq
    // weight desc, then term asc on the tie; 'data' filtered; size cuts 'sp'
    assert(got == Seq(("spark", 5L), ("split", 5L), ("spot", 2L)), got.toString)
    intercept[IllegalArgumentException] { SearchDsl.completionSuggest(vocab, "") }
    intercept[IllegalArgumentException] { SearchDsl.completionSuggest(vocab, "s", 0) }
  }
}
