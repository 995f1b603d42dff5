package graft

import org.apache.spark.sql.functions._

import graft.functions.{NbFunctions, NbScoreKernel}
import graft.operators.NaiveBayes
import graft.queries.Par

/** The compiled broadcast-model NB scorer (functions/NbExpressions)
  * against the exchange spelling ([[NaiveBayes.scoreMulti]]) — the
  * q51b swap's value pin. Raw doubles differ only in summation order
  * (kernel: first-occurrence; exchange: shuffle order), so equality is
  * pinned on the EMITTED rounded scores — the same oracle-parity
  * contract both spellings are consumed through (q51b rounds r2 and
  * argmaxes the rounded values).
  */
class NbLocalSpec extends SparkSpec {

  test("kernel scores == exchange-spelling scores (rounded) on the real " +
      "corpus model, absent-doc sets identical") {
    import spark.implicits._
    import graft.functions.TextFunctions.charNgrams
    val docs = graft.queries.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), lower(col("text")).as("lo"))
      .select(col("doc_id"), col("lang"), charNgrams(col("lo"), 3).as("toks"))
    val model = NaiveBayes.trainMulti(docs, col("lang"))
    val local = NaiveBayes.localize(model).get

    val exchange = NaiveBayes.scoreMulti(docs, model)
      .select(col("doc_id"), col("cls"), Par.r2(col("score")).as("r"))
      .as[(Long, String, Double)].collect()
      .map { case (d, c, r) => (d, c) -> r }.toMap

    val kernel = docs.select(col("doc_id"),
        NbFunctions.nbScoreMulti(col("toks"), local).as("sc"))
      .filter(col("sc").isNotNull)
      .select(col("doc_id"), posexplode(col("sc")))
      .as[(Long, Int, Double)].collect()
      .map { case (d, i, s) =>
        (d, local.classes(i)) -> math.floor(s * 100 + 0.5) / 100 }.toMap

    assert(kernel.keySet == exchange.keySet,
      "absent-doc / class coverage must match the inner-join drop")
    kernel.foreach { case (k, v) =>
      assert(v == exchange(k), s"score mismatch at $k: $v vs ${exchange(k)}")
    }
    assert(kernel.nonEmpty)
  }

  test("kernel lanes: null tokens skipped, OOV-only and empty docs are " +
      "NULL, class order is the sorted pivot order") {
    import spark.implicits._
    val w = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
      Array[Double]]()
    w.put(org.apache.spark.unsafe.types.UTF8String.fromString("aa"),
      Array(1.0, 10.0))
    w.put(org.apache.spark.unsafe.types.UTF8String.fromString("bb"),
      Array(2.0, 20.0))
    val local = NbScoreKernel.LocalMultiModel(
      Array("de", "en"), Array(-0.25, -0.5), w)
    val rows = Seq(
      (1L, Seq[String]("aa", "aa", "bb")),   // tf(aa)=2, tf(bb)=1
      (2L, Seq[String]("zz", "qq")),         // OOV-only -> NULL
      (3L, Seq[String]()),                   // empty -> NULL
      (4L, Seq[String](null, "aa", null))    // nulls skipped, tf(aa)=1
    ).toDF("doc_id", "toks")
    val got = rows.select(col("doc_id"),
        NbFunctions.nbScoreMulti(col("toks"), local).as("sc"))
      .as[(Long, Option[Seq[Double]])].collect().toMap
    assert(got(1L).get == Seq(2 * 1.0 + 1 * 2.0 - 0.25, 2 * 10.0 + 1 * 20.0 - 0.5))
    assert(got(2L).isEmpty && got(3L).isEmpty)
    assert(got(4L).get == Seq(1.0 - 0.25, 10.0 - 0.5))
  }

  test("binary kernel scores == score()'s join spelling (rounded) on the " +
      "real corpus model, absent-doc sets identical") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val lab = graft.queries.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"), col("lang"))
    val model = NaiveBayes.train(lab, col("lang") === "en")
    val local = NaiveBayes.localizeBinary(model).get
    assert(local.classes.toSeq == Seq("pos") && local.priors.head == model.bias)
    val join = NaiveBayes.score(lab, model)
      .select(col("doc_id"), Par.r2(col("log_odds")).as("r"))
      .as[(Long, Double)].collect().toMap
    val kernel = lab.select(col("doc_id"),
        NbFunctions.nbScoreMulti(col("toks"), local).as("sc"))
      .filter(col("sc").isNotNull)
      .select(col("doc_id"), col("sc")(0))
      .as[(Long, Double)].collect()
      .map { case (d, s) => d -> math.floor(s * 100 + 0.5) / 100 }.toMap
    assert(kernel.keySet == join.keySet)
    kernel.foreach { case (d, v) => assert(v == join(d), s"doc $d") }
    assert(kernel.nonEmpty)
  }

  test("localize round-trips the trained model: sorted classes, aligned " +
      "priors, dense V-term map with K-aligned weights") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("der", "hund"), "de"),
      (2L, Seq("the", "dog"), "en"),
      (3L, Seq("el", "perro"), "es")).toDF("doc_id", "toks", "cls")
    val model = NaiveBayes.trainMulti(df, col("cls"))
    val local = NaiveBayes.localize(model).get
    assert(local.classes.toSeq == Seq("de", "en", "es"))
    val priors = model.priors.as[(String, Double)].collect().toMap
    local.classes.zipWithIndex.foreach { case (c, i) =>
      assert(local.priors(i) == priors(c)) }
    val wTbl = model.weights.as[(String, String, Double)].collect()
      .map { case (c, t, x) => (c, t) -> x }.toMap
    val vocab = wTbl.keys.map(_._2).toSet
    assert(local.weights.size() == vocab.size, "dense over the vocabulary")
    vocab.foreach { t =>
      val vec = local.weights.get(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      local.classes.zipWithIndex.foreach { case (c, i) =>
        assert(vec(i) == wTbl((c, t)), s"w($c,$t)") }
    }
  }

  test("localize and localizeBinary decline a weight table of MaxRows + 1 " +
      "rows without collecting it") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.execution.command.DataWritingCommand
    import graft.operators.DriverLocal.MaxRows
    val ids = spark.range(MaxRows + 1)
    val binary = NaiveBayes.NbModel(
      ids.select(col("id").cast("string").as("term"), col("id").cast("double").as("w")),
      0.0)
    val multi = NaiveBayes.NbMultiModel(
      ids.select(lit("en").as("cls"), col("id").cast("string").as("term"),
        col("id").cast("double").as("w")),
      Seq(("en", 0.0)).toDF("cls", "prior"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    observingQueries(qe => plans.add(qe.logical)) {
      assert(NaiveBayes.localizeBinary(binary).isEmpty)
      assert(NaiveBayes.localize(multi).isEmpty)
    }
    // The size check's two global counts (plus the listener's own
    // marker write); no query returns the weight rows.
    val queries = plans.toArray(Array.empty[LogicalPlan]).toSeq
      .filterNot(_.exists(_.isInstanceOf[DataWritingCommand]))
    assert(queries.size == 2)
    queries.foreach { p =>
      assert(p match {
        case a: Aggregate => a.groupingExpressions.isEmpty
        case _ => false
      }, s"not a global count:\n$p")
    }
  }

  test("past the driver gate, q51b's and q106's join spellings emit the " +
      "kernel spellings' rows") {
    import graft.functions.TextFunctions.{charNgrams, tokens}
    import graft.queries.TrainingData
    val docs = graft.queries.Tables.t(spark, sfDir, "documents")
    val grams = docs
      .select(col("doc_id"), col("lang"), lower(col("text")).as("lo"))
      .select(col("doc_id"), col("lang"), charNgrams(col("lo"), 3).as("toks"))
    val multi = NaiveBayes.trainMulti(grams, col("lang"))
    val langid = TrainingData.langidScored(grams, Right(NaiveBayes.localize(multi).get))
      .collect().toSeq
    assert(langid.nonEmpty)
    assert(TrainingData.langidScored(grams, Left(multi)).collect().toSeq == langid)
    val lab = docs.select(col("doc_id"), tokens(col("text")).as("toks"), col("lang"))
    val binary = NaiveBayes.train(lab, col("lang") === "en")
    val quality = TrainingData.nbQualityScored(lab,
        Right(NaiveBayes.localizeBinary(binary).get))
      .collect().toSeq
    assert(quality.nonEmpty)
    assert(TrainingData.nbQualityScored(lab, Left(binary)).collect().toSeq == quality)
  }
}
