package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `analytics`: a fixed mix of registry keys through the noop sink, once
  * cold in a fresh session and then in [[WarmPasses]] warm passes whose
  * key order is drawn from the seed. Each key is one attempt per pass; a
  * key that throws stays in the mix, is neither retried nor dropped, and
  * its message is recorded. Every time includes failed attempts, so a
  * key that starts to fail does not make a pass read faster.
  */
object AnalyticsBench {
  /** family → keys: every operator family, and the session artifact
    * families ivf, text index, MinHash signatures, BPE and n-gram LM.
    * The mix is sized so one run fits the benchmark's time budget on 4
    * cores (see README.md). The cold pass runs keys in this order.
    * q79_lm_score comes first among the text keys because it builds the
    * shared tokenized artifact outside any other artifact's build. If
    * q43_minhash_sig, q85_bm25 or q145_bpe_merges built it first, the
    * build would run inside their own memo build. That nested build
    * intermittently throws `Recursive update` (see README.md,
    * Findings), and the failure count would then vary from run to run.
    */
  val Mix: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q13_agg"),
    "streaming_batch" -> Seq("q40_pipeline_e2e"),
    "text" -> Seq("q79_lm_score", "q43_minhash_sig", "q85_bm25", "q145_bpe_merges"),
    "ann" -> Seq("q73_ann_ivf"),
    "search" -> Seq("q102_phrase_match"))
  val WarmPasses = 4

  def keys: Seq[String] = Mix.flatMap(_._2)
  private val familyOf: Map[String, String] = Mix.flatMap { case (f, ks) => ks.map(_ -> f) }.toMap

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def run(ctx: Ctx, data: String,
      registry: Map[String, (SparkSession, String) => DataFrame]): Unit = {
    val spark = ctx.spark
    val rnd = new scala.util.Random(ctx.seed)
    val cold = scala.collection.mutable.Map.empty[String, Double]
    val warm = scala.collection.mutable.Map.empty[String, Vector[Double]]

    /** One attempt of `key`; its elapsed seconds, whether it threw or not. */
    def once(key: String, phase: String): Double =
      ctx.span(s"queries.${familyOf(key)}.$phase") {
        timed {
          ctx.ledger.attempt(s"$phase $key") {
            try registry(key)(spark, data).write.mode("overwrite").format("noop").save()
            finally spark.catalog.clearCache()
          }
        }
      }

    // Untimed: touch every table once so the cold pass measures artifact
    // builds, not file-system and session warm-up.
    new java.io.File(data).list().filter(_.endsWith(".parquet")).sorted.foreach(f =>
      graft.queries.Tables.t(spark, data, f.stripSuffix(".parquet")).count())
    var coldPass = 0.0
    var passes = Vector.empty[Double]
    ctx.span("workload.analytics") {
      coldPass = ctx.span("phase.cold") { timed { keys.foreach(k => cold(k) = once(k, "cold")) } }
      Jvm.checkpointHeap()
      ctx.sql.on = true
      ctx.span("phase.warm") {
        passes = Vector.fill(WarmPasses)(timed {
          rnd.shuffle(keys).foreach(k => warm(k) = warm.getOrElse(k, Vector.empty) :+ once(k, "warm"))
        })
      }
      ctx.sql.on = false
    }
    Jvm.checkpointHeap()

    val perKey = keys.map(k => Stats.median(warm(k)))
    val warmPass = Stats.median(passes)
    // Geometric mean of the per-key medians: every key weighs the same,
    // whatever its cost.
    ctx.metrics("latency_ms") = (math.exp(perKey.map(math.log).sum / perKey.size) * 1000, "ms")
    ctx.metrics("cycle_ms") = (warmPass * 1000, "ms")
    ctx.metrics("one_shot_s") = (coldPass, "s")
    ctx.layers("analytics.cold_pass_s") = (coldPass, "s")
    ctx.layers("analytics.warm_pass_s") = (warmPass, "s")
    println(f"[analytics] cold_pass_s=$coldPass%.3f warm_pass_s=$warmPass%.3f " +
      s"passes=${passes.size} key samples=${warm.values.map(_.size).sum}")

    Mix.foreach { case (fam, ks) =>
      ctx.layers(s"queries.$fam.cold_s") = (ks.map(cold).sum, "s")
      ctx.layers(s"queries.$fam.warm_s") = (ks.map(k => Stats.median(warm(k))).sum, "s")
    }
    ctx.layers("queries.artifact_build_s") = (keys.map(k =>
      math.max(0.0, cold(k) - Stats.median(warm(k)))).sum, "s")
    val p = WarmPasses.toDouble
    ctx.layers("sql.scan_bytes") = (ctx.sql.scanBytes.get / p, "bytes")
    ctx.layers("sql.shuffle_write_bytes") = (ctx.sql.shuffleWriteBytes.get / p, "bytes")
    ctx.layers("sql.spill_bytes") = (ctx.sql.spillBytes.get / p, "bytes")
    ctx.layers("sql.jobs") = (ctx.sql.jobs.get / p, "count")
    ctx.layers("sql.tasks") = (ctx.sql.tasks.get / p, "count")
    ctx.layers("sql.planning_ms") = (ctx.sql.planningNs.get / 1e6 / p, "ms")

    // Output check (untimed): dump each key's result for the oracle
    // comparison made outside the JVM.
    val out = ctx.dir("results")
    val oracles = graft.SparkEntry.oracleSql
    keys.foreach { k =>
      ctx.ledger.attempt(s"dump $k") {
        try registry(k)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
        finally spark.catalog.clearCache()
        ctx.oracles(k) = oracles.getOrElse(k, "")
      }
    }
  }
}
