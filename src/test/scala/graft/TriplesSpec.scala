package graft

import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Triples}

/** Hand-built corpus for the contrastive-triple miner: exclusion
  * rules, ranking, and the negative's "lexically close but not a
  * duplicate" semantics (corpus-level oracle: q181).
  */
class TriplesSpec extends SparkSpec {

  import spark.implicits._

  // doc 1 and 2: near-identical (the positive pair). doc 3: shares the
  // anchor's characteristic vocabulary but is NOT a near-dup (the
  // wanted hard negative). doc 4: generic filler. doc 5: a second
  // near-dup of 1 (pair-linked -> excluded as a negative).
  private val docs = Seq(
    1L -> "quantum flux capacitor alignment quantum flux report",
    2L -> "quantum flux capacitor alignment quantum flux reports",
    3L -> "the quantum flux seminar discussed capacitor theory",
    4L -> "unrelated filler words about nothing in particular",
    5L -> "quantum flux capacitor alignment quantum flux report extra")

  private def toksDf = docs.toDF("doc_id", "text")
    .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))

  test("mine: positive from the pair, negative excludes self/gold/linked") {
    val index = Retrieval.buildTextIndex(toksDf)
    // hand-declared pair graph: (1,2) strongest, (1,5) also linked
    val pairs = Seq((1L, 2L, 0.9), (1L, 5L, 0.85)).toDF("id1", "id2", "jaccard")
    val got = Triples.mine(pairs, index, nAnchors = 1)
      .select("anchor", "positive", "negative")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 1)
    val (a, p, n) = got.head
    assert(a == 1L && p == 2L)
    // negative must not be the anchor, the gold, or pair-linked doc 5 —
    // doc 3 (shares quantum/flux/capacitor) outranks filler doc 4
    assert(n == 3L)
  }

  test("mine: two anchors rank independently; anchors with no eligible " +
      "candidate drop out") {
    val index = Retrieval.buildTextIndex(toksDf)
    val pairs = Seq((1L, 2L, 0.9), (3L, 4L, 0.88)).toDF("id1", "id2", "jaccard")
    val got = Triples.mine(pairs, index, nAnchors = 2)
      .select("anchor", "positive", "negative", "neg_score")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 2L && got(1L)._3 != 1L && got(1L)._3 != 2L)
    // anchor 3's top tf·idf terms (its singleton vocabulary) occur in
    // no other document, so it has no eligible candidate and DROPS —
    // the no-negative-available contract
    assert(!got.contains(3L) && got.size == 1)
    got.values.foreach(r => assert(r._4 > 0.0))
    // a tiny corpus where every candidate is excluded -> anchor drops
    val toksTiny = docs.take(2).toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val idxTiny = Retrieval.buildTextIndex(toksTiny)
    val lone = Triples.mine(Seq((1L, 2L, 0.9)).toDF("id1", "id2", "jaccard"),
      idxTiny, nAnchors = 1)
    assert(lone.count() == 0)
    intercept[IllegalArgumentException] { Triples.mine(pairs, index, 0) }
  }
}
