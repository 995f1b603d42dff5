package graft

import org.apache.spark.sql.functions._

import graft.functions.{LmFunctions, LmScoreKernel}
import graft.operators.NgramLm
import graft.queries.Par

/** The compiled broadcast-model LM scorers (functions/LmExpressions)
  * against their exchange spellings ([[NgramLm.score]] /
  * [[NgramLm.scoreBackoff]]) — the q79/q136/q140/q155 swap's value
  * pin. Raw doubles differ only in per-doc summation order (kernel:
  * first-occurrence; exchange: shuffle order), so equality is pinned
  * on the EMITTED rounded scores plus the exact integer position
  * counts — the same oracle-parity contract both spellings are
  * consumed through.
  */
class LmLocalSpec extends SparkSpec {

  private def toksDf = {
    import graft.functions.TextFunctions.tokens
    graft.queries.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
  }

  test("bigram kernel == join spelling (rounded nll, exact n_bigrams) " +
      "on the real corpus model, absent-doc sets identical") {
    import spark.implicits._
    val toks = toksDf
    val model = NgramLm.train(toks)
    val local = NgramLm.localize(model)
    assert(local.nonEmpty, "sf0.001 model must sit under the localize gate")

    val join = NgramLm.score(toks, model)
      .select(col("doc_id"), col("n_bigrams"), Par.r2(col("nll")).as("r"))
      .as[(Long, Long, Double)].collect()
      .map { case (d, n, r) => d -> ((n, r)) }.toMap
    val kernel = NgramLm.scoreLocal(toks, local.get)
      .select(col("doc_id"), col("n_bigrams"), col("nll"))
      .as[(Long, Long, Double)].collect()
      .map { case (d, n, r) => d -> ((n, math.floor(r * 100 + 0.5) / 100)) }
      .toMap
    assert(kernel.keySet == join.keySet,
      "short-doc drop must match the join spelling's absent rows")
    kernel.foreach { case (d, v) => assert(v == join(d), s"doc $d") }
    assert(kernel.nonEmpty)
  }

  test("backoff kernel == join spelling (rounded nll, exact n_trigrams) " +
      "on the held-out q155 model shape") {
    import spark.implicits._
    val toks = toksDf
    // The q155 shape: train on the even half, score everything — the
    // held-out half exercises all three backoff branches.
    val model = NgramLm.trainBackoff(
      toks.filter(pmod(col("doc_id"), lit(2L)) === 0))
    val local = NgramLm.localizeBackoff(model)
    assert(local.nonEmpty)

    val join = NgramLm.scoreBackoff(toks, model)
      .select(col("doc_id"), col("n_trigrams"), Par.r2(col("nll")).as("r"))
      .as[(Long, Long, Double)].collect()
      .map { case (d, n, r) => d -> ((n, r)) }.toMap
    val kernel = NgramLm.scoreBackoffLocal(toks, local.get)
      .select(col("doc_id"), col("n_trigrams"), col("nll"))
      .as[(Long, Long, Double)].collect()
      .map { case (d, n, r) => d -> ((n, math.floor(r * 100 + 0.5) / 100)) }
      .toMap
    assert(kernel.keySet == join.keySet)
    kernel.foreach { case (d, v) => assert(v == join(d), s"doc $d") }
    assert(kernel.nonEmpty)
  }

  test("kernel lanes: short docs NULL, null tokens group like groupBy " +
      "keys and miss the model, OOV pairs smooth through +1/+V") {
    import spark.implicits._
    val uni = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
    uni.put(org.apache.spark.unsafe.types.UTF8String.fromString("a"), 3L)
    uni.put(org.apache.spark.unsafe.types.UTF8String.fromString("b"), 2L)
    val bi = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
      java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]]()
    val inner = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
    inner.put(org.apache.spark.unsafe.types.UTF8String.fromString("b"), 2L)
    bi.put(org.apache.spark.unsafe.types.UTF8String.fromString("a"), inner)
    val local = LmScoreKernel.LocalBigramModel(uni, bi, 2L)

    val rows = Seq(
      (1L, Seq[String]("a", "b", "a", "b")), // pairs ab, ba, ab -> tf(ab)=2
      (2L, Seq[String]("zz", "qq")),         // fully OOV: num=1, den=V
      (3L, Seq[String]("a")),                // short -> NULL
      (4L, Seq[String]()),                   // empty -> NULL
      (5L, Seq[String](null, "a", null, "a")) // (null,a),(a,null),(null,a)
    ).toDF("doc_id", "toks")
    val got = NgramLm.scoreLocal(rows, local)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    assert(!got.contains(3L) && !got.contains(4L))
    // doc 1: tf(ab)=2 with c2=2,c1=3 -> 2*ln(3/5); ba miss with c1(b)=2
    // -> ln(1/4); nll = -(2*ln(0.6) + ln(0.25)) / 3
    val d1 = -(2.0 * math.log(3.0 / 5.0) + math.log(1.0 / 4.0)) / 3.0
    assert(got(1L)._1 == 3L && math.abs(got(1L)._2 - d1) < 1e-12)
    // doc 2: one pair, all-miss: -ln(1/2)
    assert(got(2L)._1 == 1L && math.abs(got(2L)._2 + math.log(0.5)) < 1e-12)
    // doc 5: distinct pairs (null,a) tf=2 and (a,null) tf=1, all miss
    // the model except c1(a)=3: (null,a) -> ln(1/2) [null w1: c1=0],
    // (a,null) -> ln(1/5); nll = -(2*ln(.5) + ln(.2)) / 3
    val d5 = -(2.0 * math.log(0.5) + math.log(0.2)) / 3.0
    assert(got(5L)._1 == 3L && math.abs(got(5L)._2 - d5) < 1e-12)
  }

  test("localize gate: a model at the driver-local bound localizes, " +
      "one row past it stays on the join spelling (None)") {
    import graft.operators.DriverLocal.MaxRows
    val toks = toksDf
    // The gate counts vocab + bigram (+ trigram) rows; a model whose
    // vocab field puts that sum at the bound, then one past it, crosses
    // the real bound without a corpus that size.
    val model = NgramLm.train(toks)
    val bi = model.bigrams.count()
    assert(NgramLm.localize(model.copy(vocab = MaxRows - bi)).isDefined)
    assert(NgramLm.localize(model.copy(vocab = MaxRows - bi + 1)).isEmpty)
    val backoff = NgramLm.trainBackoff(toks)
    val biTri = backoff.bigrams.count() + backoff.trigrams.count()
    assert(NgramLm.localizeBackoff(backoff.copy(vocab = MaxRows - biTri)).isDefined)
    assert(NgramLm.localizeBackoff(backoff.copy(vocab = MaxRows - biTri + 1)).isEmpty)
  }
}
