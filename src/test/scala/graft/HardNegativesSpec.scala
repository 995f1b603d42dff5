package graft

import org.apache.spark.sql.functions._

import graft.operators.{HardNegatives, Ivf}

/** Hand-built fixtures for contrastive hard-negative mining — the
  * corpus-level oracle is q139; these pin what the hash gate can't
  * localize: the near-dup band actually removes the retrieval winner,
  * ranks stay contiguous after the exclusion, and the band threshold is
  * the only thing separating "dup" from "hard negative".
  */
class HardNegativesSpec extends SparkSpec {

  import spark.implicits._

  // Two well-separated clusters around e1 and e2, plus an EXACT copy of
  // the probe planted at id 1001 (cos 1.0 — the false-negative trap).
  // Ids 1 and 2 sit in DIFFERENT clusters because Ivf.train seeds from
  // the first k vectors — one seed per cluster makes Lloyd converge to
  // the exact A|B split. Probe-to-neighbor cosines inside cluster A are
  // 1/sqrt(1+t^2) for t = 0.5..1.3, i.e. 0.894 down to 0.61 — all
  // BELOW the 0.95 band, so only the planted copy is excluded.
  private def corpus() = {
    val seeds = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),      // the probe, cluster A
      (2L, Array(0f, 1f, 0.05f, 0f)))   // cluster B seed
    val a = (3 to 11).map(i =>
      (i.toLong, Array(1f, 0.2f + 0.1f * i, 0f, 0f)))
    val b = (12 to 20).map(i =>
      (i.toLong, Array(0f, 1f, 0.05f * (i - 11), 0f)))
    val planted = Seq((1001L, Array(1f, 0f, 0f, 0f)))
    (seeds ++ a ++ b ++ planted).toDF("vec_id", "embedding")
  }

  test("the planted exact duplicate wins retrieval but is excluded from " +
      "the mined negatives; ranks stay contiguous") {
    val emb = corpus()
    val model = Ivf.train(spark, emb.filter(col("vec_id") <= 20),
      k = 2, iters = 2, meanRound = 4)
    val indexed = Ivf.index(emb, model)
    val probes = emb.filter(col("vec_id") === 1)

    // Sanity: with the band disabled the dup IS the top "negative" —
    // proving retrieval surfaces it and the exclusion does the work.
    val unguarded = HardNegatives.mine(spark, indexed, model, probes,
      kRetrieve = 6, dupCos = 2.0, n = 6, nprobe = 1).collect()
    assert(unguarded.head.getAs[Long]("neighbor_id") == 1001L,
      s"planted dup should win retrieval: ${unguarded.mkString(", ")}")

    val negs = HardNegatives.mine(spark, indexed, model, probes,
      kRetrieve = 6, dupCos = 0.95, n = 4, nprobe = 1).collect()
    val ids = negs.map(_.getAs[Long]("neighbor_id")).toSeq
    assert(ids == Seq(3L, 4L, 5L, 6L),
      s"hardest-first by 1/sqrt(1+t^2), dup and probe excluded: $ids")
    assert(negs.map(_.getAs[Int]("neg_rank")).toSeq == (1 to negs.length),
      "neg_rank must be contiguous from 1 after the exclusion")
    val cosines = negs.map(_.getAs[Double]("cos"))
    assert(cosines.forall(_ < 0.95), "every mined cos sits below the band")
    assert(cosines.sameElements(cosines.sorted.reverse),
      "negatives come hardest-first")
  }

  test("n above the retrieval depth is rejected") {
    val emb = corpus()
    val model = Ivf.train(spark, emb, k = 2, iters = 1, meanRound = 4)
    intercept[IllegalArgumentException] {
      HardNegatives.mine(spark, Ivf.index(emb, model), model,
        emb.limit(1), kRetrieve = 3, dupCos = 0.95, n = 5, nprobe = 1)
    }
  }
}
