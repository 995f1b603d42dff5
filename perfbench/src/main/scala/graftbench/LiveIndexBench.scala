package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.Codecs
import graft.sources.FileReplayEnvelopeSource
import graft.streaming.{EpochStore, IndexSink, LiveNearDedup, LiveRates, LiveSketch,
  LiveSpanDedup, LiveTextIndex}

/** `live_index`: writes beside reads. `IndexSink.start` runs with all six
  * hooks over document epochs; each epoch re-delivers a seeded share of
  * earlier doc ids (upserts). Per epoch the benchmark drops the epoch's
  * file, waits for that epoch's progress event, then runs a fixed read
  * set. One compaction of every store follows. The traced analytics run
  * runs this scenario after the analytics workload; it reports per-layer
  * metrics only.
  */
object LiveIndexBench {
  val EpochDocs = 100
  /** Measured epochs after the untimed warm-up epoch: a fixed count keeps
    * runs comparable (compaction cost grows with the delta epochs).
    */
  val MeasuredEpochs = 1
  val UpsertShare = 0.1
  val Terms = 3
  val SpanK = 8
  val Words: Array[String] = ("join hash row batch scan column customer filter small slow merge " +
    "order vector line data table agg value key stream window a spark part group big sort " +
    "query fast the").split(" ")

  val payloadSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  /** Render one epoch's envelope file: new ids from `nextId` on, and an
    * `UpsertShare` of ids re-drawn from the earlier ones.
    */
  def render(rnd: java.util.SplittableRandom, epoch: Int, nextId: Int): String = {
    val enc = Base64.getEncoder
    val sb = new StringBuilder
    (0 until EpochDocs).foreach { i =>
      val id =
        if (nextId > 0 && rnd.nextDouble() < UpsertShare) s"d${rnd.nextInt(nextId)}"
        else s"d${nextId + i}"
      val n = 10 + rnd.nextInt(90)
      val text = (0 until n).map(_ => Words(rnd.nextInt(Words.length))).mkString(" ")
      val line = s"""{"doc_id": "$id", "text": "$text", "lang": "${langs(rnd.nextInt(langs.length))}", "source": "src${rnd.nextInt(20)}", "n_chars": ${text.length}}"""
      sb ++= s"""{"recordId": "e$epoch-$i", "approximateArrivalTimestamp": $epoch, "data": "${enc.encodeToString((line + "\n").getBytes(UTF_8))}"}""" += '\n'
    }
    sb.toString
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(ctx.seed * 104729L + 3)
    val root = Paths.get(ctx.dir("live"))
    val in = root.resolve("in"); val stage = root.resolve("stage")
    Files.createDirectories(in); Files.createDirectories(stage)
    val index = root.resolve("index").toString
    val tindex = root.resolve("tindex").toString
    val sstate = root.resolve("sstate").toString
    val ndstate = root.resolve("ndstate").toString
    val sketch = root.resolve("sketch").toString
    val rates = root.resolve("rates").toString
    val par = ctx.cores
    val terms = (0 until Terms).map(_ =>
      s"${Words(rnd.nextInt(Words.length))} ${Words(rnd.nextInt(Words.length))}")
    val probes = Words.take(8).toSeq.toDF("term")

    // Inputs (untimed): the warm-up and measured epochs' files.
    var nextId = 0
    (0 to MeasuredEpochs).foreach { e =>
      Files.writeString(stage.resolve(f"epoch-$e%04d.json"), render(rnd, e, nextId))
      nextId += EpochDocs
    }
    val percQueries = Seq((1L, Seq("data", "spark")), (2L, Seq("query", "stream")),
      (3L, Seq("vector", "index")), (4L, Seq("graph"))).toDF("query_id", "terms")

    val src = FileReplayEnvelopeSource(in.toString)
    val envelope = src.envelope(spark)
      .withColumn("data", Codecs.decodeBase64(col("data").cast("string")))
    val q = IndexSink.start(envelope, payloadSchema, index, root.resolve("backup").toString,
      root.resolve("ckpt").toString, shards = par, dropIf = _ => lit(false),
      trigger = Trigger.ProcessingTime(0L),
      textIndex = Some(IndexSink.LiveIndexSpec(tindex, "text", key = "doc_id", shards = par)),
      spanState = Some(IndexSink.LiveSpanSpec(sstate, "text", key = "doc_id", k = SpanK, shards = par)),
      percolator = Some(IndexSink.PercolatorSpec(percQueries, root.resolve("alerts").toString,
        "text", key = "doc_id")),
      nearDupState = Some(IndexSink.LiveNearDupSpec(ndstate, "text", key = "doc_id", shards = par)),
      sketchState = Some(IndexSink.LiveSketchSpec(sketch, "text", key = "doc_id")),
      rateState = Some(IndexSink.LiveRateSpec(rates, "source")))

    val fresh = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reads = scala.collection.mutable.Map.empty[String, Vector[Double]]
    def read[T](name: String)(body: => T): Option[T] =
      ctx.span(s"streaming.read.$name") {
        val t0 = System.nanoTime()
        val r = ctx.ledger.attempt(s"read $name")(body)
        val ms = (System.nanoTime() - t0) / 1e6
        if (r.isDefined) reads(name) = reads.getOrElse(name, Vector.empty) :+ ms
        r
      }
    def top(df: DataFrame): Seq[(String, Double)] =
      df.collect().toSeq.map(r => (r.get(0).toString, r.getDouble(1)))
    def rankedLive(term: String): Seq[(String, Double)] =
      top(IndexSink.rankedMatch(spark, LiveTextIndex.read(spark, tindex), "doc_id", term, "or", 10))

    /** Land epoch e's file and wait for its progress event; returns the
      * freshness in ms (landing to the end of the epoch's trigger).
      */
    def deliver(e: Int): Option[Double] = {
      val f = stage.resolve(f"epoch-$e%04d.json")
      val landed = System.currentTimeMillis()
      Files.move(f, in.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      ctx.ledger.attempt(s"epoch $e") {
        require(ctx.progress.awaitRows(q.name, (e + 1).toLong * EpochDocs, 120000),
          s"epoch $e not delivered within 120 s")
        (ctx.progress.of(q.name).filter(_.inputRows > 0).last.endMs - landed).toDouble
      }
    }

    // Epoch 0 is an untimed warm-up delivery.
    require(deliver(0).isDefined, "warm-up epoch was not delivered")
    var epochs = 1
    var stopped = false
    var lastScan = Option.empty[(String, Seq[(String, Double)])]
    val loopStartNs = System.nanoTime()
    val loopStartMs = System.currentTimeMillis()
    ctx.span("workload.live_index") {
      ctx.span("phase.epochs") {
        while (!stopped && epochs <= MeasuredEpochs) {
          val e = epochs
          deliver(e) match {
            case None => stopped = true
            case Some(ms) =>
              fresh += ms
              val term = terms(e % Terms)
              val live = read("ranked_live") { rankedLive(term) }
              val scan = read("ranked_scan") {
                IndexSink.registerLatestView(spark, index, "live_docs", "doc_id")
                top(IndexSink.rankedMatch(spark, "live_docs", "text", "doc_id", term))
              }
              read("latest_count") { IndexSink.count(spark, "live_docs") }
              read("match") { IndexSink.matchQuery(spark, "live_docs", "text", term).count() }
              read("delta_pairs") { LiveNearDedup.deltaPairs(spark, ndstate, e.toLong).count() }
              read("span_dups") { LiveSpanDedup.duplicatedSpans(spark, sstate, SpanK).count() }
              read("sketch") { LiveSketch.estimateTerms(spark, sketch, probes, 3, 64).collect() }
              read("rate_anomalies") { LiveRates.anomalies(spark, rates, 10).collect() }
              // Output check (no extra work): the live index's ranked
              // top-k equals rankedMatch over the latest view.
              for (l <- live; s <- scan) {
                checkRanked(ctx, s"epoch_$e", term, l, s)
                lastScan = Some(term -> s)
              }
              epochs += 1
          }
        }
      }
      q.stop()
      Jvm.checkpointHeap()

      val delivered = epochs.toLong * EpochDocs
      val indexed = spark.read.parquet(s"$index/*").count()
      ctx.check("live_index.delivered_count", indexed == delivered,
        s"index rows=$indexed source=$delivered")
      val status = statuses(ctx, index, tindex, sstate, ndstate, sketch, rates)
      ctx.layers("streaming.store.delta_epochs") = (status.map(_.deltaEpochs).sum.toDouble, "count")
      ctx.layers("streaming.store.snapshot_generations") =
        (status.map(_.snapshotGenerations).sum.toDouble, "count")

      val compaction = ctx.span("phase.compaction") {
        val t0 = System.nanoTime()
        Seq[(String, () => Any)](
          "text" -> (() => LiveTextIndex.compact(spark, tindex, shards = par)),
          "span" -> (() => LiveSpanDedup.compact(spark, sstate, shards = par)),
          "near_dup" -> (() => LiveNearDedup.compact(spark, ndstate, shards = par)),
          "sketch" -> (() => LiveSketch.compact(spark, sketch)),
          "rates" -> (() => LiveRates.compact(spark, rates)),
          "index" -> (() => IndexSink.compact(spark, index, "doc_id", shards = par))
        ).foreach { case (name, f) =>
          ctx.span(s"streaming.compact.$name") {
            val c0 = System.nanoTime()
            ctx.ledger.attempt(s"compact $name")(f())
            ctx.layers(s"streaming.compact.${name}_s") = ((System.nanoTime() - c0) / 1e9, "s")
          }
        }
        (System.nanoTime() - t0) / 1e9
      }
      ctx.layers("live.compaction_s") = (compaction, "s")
      lastScan.foreach { case (term, scan) =>
        read("ranked_live_post_compact") { rankedLive(term) }
          .foreach(l => checkRanked(ctx, "post_compact", term, l, scan))
      }
    }
    Jvm.checkpointHeap()

    ctx.layers("live.freshness_s") = (Stats.median(fresh.toSeq) / 1000, "s")
    reads.foreach { case (name, ms) => ctx.layers(s"streaming.read.${name}_ms") = (Stats.median(ms), "ms") }
    val ev = ctx.progress.of(q.name).filter(_.inputRows > 0).drop(1)
    def meanOf(k: String) = ev.map(_.durations.getOrElse(k, 0L).toDouble).sum / math.max(1, ev.size)
    ctx.layers("streaming.index.add_batch_ms") = (meanOf("addBatch"), "ms")
    ctx.layers("streaming.index.query_planning_ms") = (meanOf("queryPlanning"), "ms")
    ctx.layers("streaming.index.wal_commit_ms") = (meanOf("walCommit"), "ms")
    println(f"[live_index] epochs=${epochs - 1} freshness_s=${ctx.layers("live.freshness_s")._1}%.3f " +
      f"compaction_s=${ctx.layers("live.compaction_s")._1}%.3f")
    if (ctx.tracer.enabled) {
      val phase = ctx.tracer.spans.find(_.name == "phase.epochs").map(_.id).getOrElse(-1)
      ctx.traceBatches(Seq("index" -> ev), phase, loopStartNs, loopStartMs, idleGaps = false)
      hookLayers(ctx, root, percQueries)
    }
  }

  private def statuses(ctx: Ctx, index: String, tindex: String, sstate: String,
      ndstate: String, sketch: String, rates: String): Seq[EpochStore.Status] = {
    val spark = ctx.spark
    Seq(EpochStore.status(spark, index), EpochStore.status(spark, rates)) ++
      LiveTextIndex.status(spark, tindex).values ++ LiveSpanDedup.status(spark, sstate).values ++
      LiveNearDedup.status(spark, ndstate).values ++
      Seq("cm", "hll").map(s => EpochStore.status(spark, s"$sketch/$s"))
  }

  /** The live-index ranked top-k must equal `rankedMatch` over the
    * latest view of the same corpus. Both round scores to 0.01 after
    * summing BM25 terms in different orders, so scores may differ by one
    * rounding step, and documents tied within that step at the k-th
    * place may swap.
    */
  private def checkRanked(ctx: Ctx, tag: String, term: String,
      live: Seq[(String, Double)], scan: Seq[(String, Double)]): Unit = {
    val tol = 0.0101
    val scoresMatch = live.size == scan.size &&
      live.zip(scan).forall { case (a, b) => math.abs(a._2 - b._2) <= tol }
    def edgeOnly(a: Seq[(String, Double)], b: Seq[(String, Double)]) =
      a.filterNot(x => b.exists(_._1 == x._1)).forall(x => x._2 <= b.last._2 + tol)
    val ok = scoresMatch && (live.isEmpty || (edgeOnly(live, scan) && edgeOnly(scan, live)))
    ctx.check(s"live_index.ranked_equals_scan.$tag", ok,
      s"'$term': live=${live.mkString(",")} scan=${scan.mkString(",")}")
  }

  /** Each hook's public call, timed alone on the first measured epoch's
    * frame (decoded and routed as `IndexSink.start` does) into scratch
    * stores (traced run only).
    */
  private def hookLayers(ctx: Ctx, root: java.nio.file.Path, percQueries: DataFrame): Unit = {
    val spark = ctx.spark
    import graft.functions.TextFunctions.tokens
    val h = root.resolve("hooks").toString
    val env = FileReplayEnvelopeSource(root.resolve("in").resolve("epoch-0001.json").toString)
    val src = spark.read.schema(StructType(Seq(StructField("recordId", StringType),
      StructField("approximateArrivalTimestamp", LongType), StructField("data", StringType))))
      .json(env.path)
      .withColumn("data", Codecs.decodeBase64(col("data"))).cache()
    src.count()
    val frame = Codecs.transformEnvelope(src, payloadSchema, _ => lit(false))
      .filter(col("result") === graft.model.DeliveryStatus.Ok)
      .select(col("recordId"), col("payload.*")).cache()
    frame.count()
    val toks = frame.select(col("doc_id").cast("string").as("doc_id"),
      tokens(col("text")).as("toks")).cache()
    toks.count()
    def time(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      ctx.ledger.attempt(s"hook $name")(f)
      ctx.layers(s"streaming.index.hook.${name}_ms") = ((System.nanoTime() - t0) / 1e6, "ms")
    }
    time("backup") { src.select(col("data").cast("string")).write.mode("overwrite").text(s"$h/backup") }
    time("index_write") { frame.repartition(ctx.cores).write.mode("overwrite").parquet(s"$h/index") }
    time("text_index") { LiveTextIndex.writeDelta(toks, s"$h/tindex", 0L, ctx.cores) }
    time("span_state") { LiveSpanDedup.writeDelta(toks, s"$h/sstate", 0L, SpanK, ctx.cores) }
    time("near_dup") {
      LiveNearDedup.writeDelta(frame.select(col("doc_id"), col("text")), s"$h/ndstate", 0L, ctx.cores)
    }
    time("sketch") {
      LiveSketch.writeDelta(toks.select(explode(col("toks")).as("w")), s"$h/sketch", 0L, 3, 64, 6)
    }
    time("rates") { LiveRates.writeDelta(frame.select(col("source").as("k")), s"$h/rates", 0L) }
    time("percolate") {
      graft.operators.SearchDsl.percolate(EpochStore.onePerKey(toks, "doc_id", col("toks")), percQueries)
        .write.mode("overwrite").parquet(s"$h/alerts")
    }
    Seq(toks, frame, src).foreach(_.unpersist())
  }
}
