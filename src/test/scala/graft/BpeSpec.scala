package graft

import graft.operators.Bpe

class BpeSpec extends SparkSpec {

  private def train(words: Seq[(String, Int)], k: Int) = {
    import spark.implicits._
    // Expand the frequency dict into documents: Bpe.train consumes
    // (doc_id, toks) and derives the dict itself.
    val docs = words.zipWithIndex.flatMap { case ((w, f), i) =>
      (1 to f).map(j => (i * 1000L + j, Seq(w)))
    }.toDF("doc_id", "toks")
    Bpe.train(spark, docs, k)
      .as[(Long, String, String, Long, Long)].collect().toSeq
  }

  test("the Sennrich corpus learns (e,s) -> (es,t) -> (l,o) with exact " +
      "counts and symbol totals") {
    // low:5 lower:2 newest:6 widest:3 — the textbook example.
    // Initial symbols: 3*5 + 5*2 + 6*6 + 6*3 = 79.
    val m = train(Seq("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3), 3)
    assert(m == Seq(
      // es: newest(6) + widest(3) = 9; after: 79 - 9 = 70
      (1L, "e", "s", 9L, 70L),
      // est: same 9; ties (es,t)=9 beat nothing higher; after: 61
      (2L, "es", "t", 9L, 61L),
      // (l,o) and (o,w) both 7 — lex tie-break picks (l,o); after: 54
      (3L, "l", "o", 7L, 54L)))
  }

  test("overlapping pairs COUNT overlapped but MERGE leftmost " +
      "non-overlapping (aaaa: count 3, result 2 symbols)") {
    val m = train(Seq("aaaa" -> 1), 2)
    assert(m.head == ((1L, "a", "a", 3L, 2L)))
    // Round 2 merges the two 'aa' symbols into one.
    assert(m(1) == ((2L, "aa", "aa", 1L, 1L)))
  }

  test("training stops early when no pair remains") {
    val m = train(Seq("a" -> 3, "b" -> 2), 4)
    assert(m.isEmpty)
    val m2 = train(Seq("ab" -> 1, "c" -> 5), 4)
    // After the merge ab is one symbol: 1*1 + 1*5 = 6.
    assert(m2 == Seq((1L, "a", "b", 1L, 6L)))
  }

  test("encode applies learned merges in training order; encodedLen " +
      "counts the resulting symbols") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val merges = Seq(
      Bpe.Merge(1L, "e", "s", 9L, 0L),
      Bpe.Merge(2L, "es", "t", 9L, 0L),
      Bpe.Merge(3L, "l", "o", 7L, 0L))
    val got = Seq("newest", "low", "es", "xyz").toDF("w")
      .select(col("w"), Bpe.encode(col("w"), merges).as("enc"),
        Bpe.encodedLen(Bpe.encode(col("w"), merges)).as("n"))
      .as[(String, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // e+s -> es, then es+t -> est: n,e,w,est.
    assert(got("newest") == (("⟨n⟩⟨e⟩⟨w⟩⟨est⟩", 4L)))
    // l+o -> lo (rule 3): lo,w.
    assert(got("low") == (("⟨lo⟩⟨w⟩", 2L)))
    // The word IS a learned symbol after rule 1.
    assert(got("es") == (("⟨es⟩", 1L)))
    // No rule applies: pure characters.
    assert(got("xyz") == (("⟨x⟩⟨y⟩⟨z⟩", 3L)))
  }

  test("local and distributed training paths emit IDENTICAL merge " +
      "tables (counts, tie-breaks, symbol totals, early exhaustion)") {
    import spark.implicits._
    // Ties, overlaps, multi-char merges, and a word that fully fuses —
    // every branch both paths must agree on.
    val words = Seq("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3,
      "aaaa" -> 4, "ab" -> 1)
    val docs = words.zipWithIndex.flatMap { case ((w, f), i) =>
      (1 to f).map(j => (i * 1000L + j, Seq(w)))
    }.toDF("doc_id", "toks")
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    // At test size the gated call takes the local replay; the
    // distributed loop runs on the same word-frequency dict.
    val local = Bpe.trainMerges(docs, 8)
    val wf = docs.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val dist = Bpe.trainDistributed(wf, 8)
    assert(local == dist)
    assert(local.size == 8)
  }

  test("compiled encodedLenSum equals the interpreted replace-chain fold " +
      "(overlap runs, merged-symbol rematch, repeated merges, empty docs)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, not}
    // Train real merges on a corpus dense in overlap traps (aaa runs,
    // merges whose output feeds a later merge), then diff the kernel
    // against the replace-chain spelling over a held-out token set.
    val train = (1L to 40L)
      .map(i => (i, Seq("aaaa", "aab", "banana", "ananas", "aaa")))
      .toDF("doc_id", "toks")
    val merges = Bpe.trainMerges(train, 6)
    assert(merges.nonEmpty)
    val probe = Seq(
      (1L, Seq("aaaa", "aaaaa", "a")), (2L, Seq("banana", "bananas")),
      (3L, Seq("ananas", "nan", "an")), (4L, Seq.empty[String]),
      (5L, Seq("zzz", "aab", "ba")), (6L, Seq("aaab", "baaa")))
      .toDF("doc_id", "toks")
    val bad = probe.select(col("doc_id"),
        Bpe.encodedLenSum(col("toks"), merges).as("a"),
        Bpe.encodedLenSumFold(col("toks"), merges).as("b"))
      .filter(not(col("a") <=> col("b"))).collect()
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("merge selection is partition-independent (same merges from a " +
      "repartitioned corpus)") {
    import spark.implicits._
    val docs = (1L to 60L)
      .map(i => (i, Seq("low", "newest", if (i % 3 == 0) "widest" else "lower")))
      .toDF("doc_id", "toks")
    val a = Bpe.train(spark, docs, 4)
      .as[(Long, String, String, Long, Long)].collect().toSeq
    val b = Bpe.train(spark, docs.repartition(7), 4)
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(a == b)
    assert(a.size == 4)
  }
}
