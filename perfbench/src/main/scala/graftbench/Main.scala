package graftbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Benchmark entry point (see ../README.md). One JVM runs one workload:
  *
  * {{{
  * Main --workload delivery|analytics|drain_only --seed N
  *      --setups K --trace 0|1 --cores C --work DIR --data DIR --out FILE
  * }}}
  *
  * It sets up a fresh session K times (setup_s is their median), runs
  * the workload on the last one, runs the workload's output checks
  * outside the timed region and writes one JSON object to `--out`.
  * `drain_only` is the single-core drain a traced delivery run adds in a
  * second JVM. A traced analytics run adds the live-index scenario in the
  * same session, after the analytics workload.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val setupReps = opts("setups").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work)

    // Set up setupReps times; keep the last session.
    val setups = (1 to setupReps).map { i =>
      val t0 = System.nanoTime()
      val s = Session.create(cores, work)
      s.range(1000).selectExpr("sum(id)").collect()
      val secs = (System.nanoTime() - t0) / 1e9
      if (i < setupReps) Session.stop(s)
      secs
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val tracer = new Tracer(traced, s"$workload-$seed-${System.currentTimeMillis()}")
    val progress = new ProgressCollector
    val sql = new SqlCollector
    spark.streams.addListener(progress)
    spark.listenerManager.register(sql)
    spark.sparkContext.addSparkListener(sql)
    val ctx = new Ctx(spark, work, seed, tracer, progress, sql)
    ctx.metrics("setup_s") = (Stats.median(setups), "s")
    println(s"[setup] ${setups.map(s => f"$s%.3f").mkString(" ")} s")

    val gc0 = Jvm.gcSeconds
    val wallStart = System.nanoTime()
    try workload match {
      case "none" => // set-up only: trains the class-data-sharing archive
      case "delivery" => DeliveryBench.run(ctx)
      case "drain_only" => DeliveryBench.runDrainOnly(ctx)
      case "analytics" =>
        AnalyticsBench.run(ctx, opts("data"), SparkEntry.queries)
        if (traced) LiveIndexBench.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        ctx.ledger.fail(s"workload $workload", e)
        e.printStackTrace()
    }
    val wall = (System.nanoTime() - wallStart) / 1e9
    Jvm.checkpointHeap()
    ctx.metrics("peak_heap_mb") = (Jvm.peakHeapMb, "MB")
    ctx.layers("failed_share") = (ctx.ledger.failedShare, "ratio")

    if (traced) {
      ctx.layers("jvm.gc_s") = (Jvm.gcSeconds - gc0, "s")
      val spans = tracer.spans
      val roots = spans.filter(_.name.startsWith("workload."))
      if (roots.nonEmpty) {
        val rootSecs = roots.map(_.secs).sum
        val attributed = roots.map(tracer.attributedSeconds).sum
        ctx.layers("unattributed_s") = (rootSecs - attributed, "s")
        ctx.layers("trace.attributed_pct") = (100 * attributed / rootSecs, "%")
        ctx.layers("trace.overhead_pct") =
          (100 * spans.size * Tracer.perSpanNanos() / 1e9 / rootSecs, "%")
        println(f"[trace] workload wall $rootSecs%.3f s, attributed $attributed%.3f s (${100 * attributed / rootSecs}%.1f%%)")
      }
      tracer.selfSeconds.toSeq.sortBy(-_._2).foreach { case (name, s) =>
        println(f"[trace] self $name%-48s $s%10.4f s")
      }
      tracer.write(work.resolve("trace").resolve(s"${tracer.runId}.jsonl"))
    }
    ctx.checks.foreach { case (name, (ok, detail)) =>
      println(s"[check] $name ${if (ok) "ok" else s"FAILED $detail"}")
    }
    ctx.ledger.errors.forEach(e => println(s"[error] $e"))
    println(f"[run] workload $workload wall $wall%.2f s")

    def block(m: Iterable[(String, (Double, String))]): String =
      Json.obj(m.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> ctx.ledger.attempted.get.toString,
      "failed" -> ctx.ledger.failed.get.toString,
      "checks" -> Json.obj(ctx.checks.toSeq.map { case (k, (ok, d)) =>
        k -> Json.obj(Seq("ok" -> ok.toString, "detail" -> Json.str(d)))
      }),
      "errors" -> ctx.ledger.errors.toArray.map(e => Json.str(e.toString)).mkString("[", ", ", "]"),
      "metrics" -> block(ctx.metrics),
      "layers" -> block(ctx.layers),
      "oracles" -> Json.obj(ctx.oracles.toSeq.map { case (k, v) => k -> Json.str(v) })))
    Files.writeString(out, result)
    Session.stop(spark)
    System.exit(0)
  }
}
