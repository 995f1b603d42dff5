package graft

import org.apache.spark.sql.functions._

import graft.operators.Decontaminate
import graft.queries.TrainingData

class DecontaminateSpec extends SparkSpec {

  test("bloom-prefiltered contamination equals the exact unfiltered join") {
    import spark.implicits._
    // The whole point of the prefilter is moving bytes, not semantics:
    // on the real corpus it must reproduce the plain gram-join result
    // id-for-id (false positives die in the verification join; Bloom
    // filters have no false negatives).
    val docs = queries.Tables.t(spark, sfDir, "documents")
    val g8 = TrainingData.gram8Df(docs)
    val benchGrams = g8
      .join(docs.filter(col("source") === "src0").select("doc_id"), "doc_id")
      .select("gram").distinct()
    val exact = g8.join(benchGrams, "gram")
      .select("doc_id").distinct().as[Long].collect().toSet
    val bloomed = Decontaminate.contaminatedIds(g8, benchGrams)
      .as[Long].collect().toSet
    assert(exact.nonEmpty, "fixture has no contamination — test is vacuous")
    assert(bloomed == exact)
  }

  test("codegen bloom probe agrees with the driver-side string probe on " +
      "random unicode (byte-path hashing equals putString's) and " +
      "null probes to false inside the plan") {
    import spark.implicits._
    import graft.functions.BloomFunctions.bloomMightContain
    val rnd = new scala.util.Random(7L)
    // Mixed-script strings: ASCII, 2-byte, 3-byte, 4-byte (surrogate
    // pair) code points — any UTF-8 encoding divergence between the
    // expression's byte path and BloomFilter.putString's shows here.
    def randStr(): String = (0 until 1 + rnd.nextInt(12)).map { _ =>
      rnd.nextInt(4) match {
        case 0 => ('a' + rnd.nextInt(26)).toChar.toString
        case 1 => ('à' + rnd.nextInt(16)).toChar.toString
        case 2 => ('一' + rnd.nextInt(256)).toChar.toString
        case _ => new String(Character.toChars(0x1F300 + rnd.nextInt(64)))
      }
    }.mkString
    val all = Seq.fill(400)(randStr()).distinct
    val (inSet, outSet) = all.splitAt(all.size / 2)
    val bf = inSet.toDF("gram").stat.bloomFilter("gram", inSet.size.toLong, 0.01)
    val got = all.toDF("gram").repartition(4)
      .select(col("gram"), bloomMightContain(bf, col("gram")).as("hit"))
      .as[(String, Boolean)].collect().toMap
    all.foreach { s =>
      assert(got(s) == bf.mightContainString(s),
        s"probe divergence for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
    // Everything inserted must hit (no false negatives through the
    // byte path); and a null gram probes to false, not null.
    inSet.foreach(s => assert(got(s), s"false negative for $s"))
    val nullHit = Seq(Option.empty[String]).toDF("gram")
      .select(bloomMightContain(bf, col("gram")).as("hit"))
      .as[Boolean].collect()
    assert(nullHit.sameElements(Array(false)))
    // Plan pin: the probe is a native expression inside the codegen'd
    // filter — no ScalaUDF call boundary in the per-token hot loop.
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      // parquet roundtrip: a real scan, so the filter can't be folded
      // into a local relation at plan time
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-bloom-plan").toString + "/grams"
      all.toDF("gram").write.parquet(tmp)
      spark.read.parquet(tmp)
        .filter(bloomMightContain(bf, col("gram")))
        .explain("formatted")
    }
    val plan = out.toString("UTF-8")
    assert(plan.contains("bloom_might_contain"), plan)
    assert(!plan.contains("UDF"), s"probe should not be a UDF:\n$plan")
    assert("Filter \\[codegen id".r.findFirstIn(plan).nonEmpty ||
      plan.contains("WholeStageCodegen"), s"filter not codegen'd:\n$plan")
  }

  test("digest path: contaminatedIdsH64 equals both the exact digest " +
      "join and the string-keyed operator on the real corpus") {
    import spark.implicits._
    // The h64 swap (round-15) must move bytes, not semantics, twice
    // over: the long-keyed Bloom prefilter vs the exact digest join,
    // AND the digest pipeline vs the string pipeline end-to-end (the
    // 60-bit identity the span-dedup family already rides).
    val docs = queries.Tables.t(spark, sfDir, "documents")
    val g8h = TrainingData.gram8H64Df(docs)
    val benchH = g8h
      .join(docs.filter(col("source") === "src0").select("doc_id"), "doc_id")
      .select("gh").distinct()
    val exactH = g8h.join(benchH, "gh")
      .select("doc_id").distinct().as[Long].collect().toSet
    val bloomedH = Decontaminate.contaminatedIdsH64(g8h, benchH)
      .as[Long].collect().toSet
    assert(exactH.nonEmpty, "fixture has no contamination — test is vacuous")
    assert(bloomedH == exactH)
    val g8 = TrainingData.gram8Df(docs)
    val viaStrings = Decontaminate.contaminatedIds(g8,
        g8.join(docs.filter(col("source") === "src0").select("doc_id"), "doc_id")
          .select("gram"))
      .as[Long].collect().toSet
    assert(bloomedH == viaStrings,
      "digest pipeline diverged from the string pipeline")
    // Empty benchmark short-circuits on the digest path too.
    assert(Decontaminate.contaminatedIdsH64(g8h,
      Seq.empty[Long].toDF("gh")).count() == 0)
  }

  test("planted contamination is caught; gram-disjoint docs survive") {
    import spark.implicits._
    val corpus = Seq(
      // shares the benchmark's full 8-gram
      (10L, "one two three four five six seven eight tail"),
      // 7-token overlap only — NOT contaminated at n=8
      (11L, "two three four five six seven eight other words padding"),
      (12L, "completely different tokens nine ten eleven twelve thirteen fourteen")
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "prefix one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val out = Decontaminate.contaminatedIds(
      TrainingData.gram8Df(corpus), TrainingData.gram8Df(bench).select("gram"))
      .as[Long].collect().toSet
    assert(out == Set(10L))
  }

  test("empty benchmark yields zero contaminated ids") {
    import spark.implicits._
    val corpus = Seq((10L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val empty = Seq.empty[String].toDF("gram")
    assert(Decontaminate.contaminatedIds(
      TrainingData.gram8Df(corpus), empty).count() == 0)
  }
}
