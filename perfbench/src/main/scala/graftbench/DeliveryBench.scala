package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Base64

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.Codecs
import graft.sources.FileReplayEnvelopeSource
import graft.streaming.DeliveryPipeline

/** `delivery`: the reference's own benchmark shape through
  * `DeliveryPipeline.start` over `FileReplayEnvelopeSource`.
  *
  *  - paced: open loop, one pre-rendered envelope file renamed into the
  *    source directory per [[TickMs]] tick,
  *    at the reference's 2,500 rec/s and (traced run only) at
  *    [[HighRate]], under a zero-interval processing-time trigger;
  *  - drain: closed loop over a fixed pre-staged backlog read
  *    `maxFilesPerTrigger` files at a time, after an untimed warm-up.
  */
object DeliveryBench {
  val RefRate = 2500
  /** About half the drain rate measured on 4 cores; fixed so that runs
    * stay comparable across changes.
    */
  val HighRate = 3200
  /** 100 ms ticks keep a reference-rate micro-batch under 32 new files,
    * the count above which the file source lists a batch's files with a
    * Spark job (spark.sql.sources.parallelPartitionDiscovery.threshold);
    * batches on both sides of that line made the latency bimodal.
    */
  val TickMs = 100
  val WarmTicks = 10
  /** Measured ticks of the reference-rate phase, and of the high-rate
    * phase that only traced runs add: each at least 10 beyond p90.
    */
  val Ticks = 250
  val HighTicks = 120
  val BacklogFiles = 12
  val BacklogPerFile = 4000
  val DrainFilesPerTrigger = 2

  val payloadSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  private val eventTypes = Array("view", "click", "signup", "purchase", "error")

  /** Expected routing of the rendered records. */
  final case class Expect(var n: Long = 0, var ok: Long = 0, var dropped: Long = 0,
      var failed: Long = 0)

  /** Render one envelope file of `count` records stamped `dueMs`: about
    * 1% malformed payloads (ProcessingFailed), `value < 10` rows
    * (Dropped, about 2%), the rest Ok.
    */
  def render(rnd: java.util.SplittableRandom, prefix: String, count: Int,
      dueMs: Long, exp: Expect): String = {
    val sb = new StringBuilder(count * 160)
    val enc = Base64.getEncoder
    var i = 0
    while (i < count) {
      val id = s"$prefix-$i"
      val eventId = rnd.nextLong(1L << 40)
      val value = (rnd.nextInt(49000) + 1) / 100.0
      val line =
        if (rnd.nextInt(100) == 0) {
          exp.failed += 1
          s"""{"event_id": $eventId, "user_id": ${rnd.nextInt(150)}, "event_ty"""
        } else {
          if (value < 10) exp.dropped += 1 else exp.ok += 1
          s"""{"event_id": $eventId, "user_id": ${rnd.nextInt(150)}, "event_type": "${eventTypes(rnd.nextInt(5))}", "value": $value, "props": "{\\"k\\": ${rnd.nextInt(100)}}"}"""
        }
      exp.n += 1
      sb ++= s"""{"recordId": "$id", "approximateArrivalTimestamp": $dueMs, "data": "${enc.encodeToString((line + "\n").getBytes(UTF_8))}"}""" += '\n'
      i += 1
    }
    sb.toString
  }

  def dropIf(p: Column): Column = p.getField("value") < 10

  /** A seeded set of recordIds whose backup write "fails". */
  def backupFailIf(seed: Long)(id: Column): Column =
    pmod(xxhash64(id, lit(seed)), lit(200L)) === 0

  final class Phase(val name: String, val root: Path) {
    val in: Path = root.resolve("in")
    val stage: Path = root.resolve("stage")
    val sinks = DeliveryPipeline.Sinks(root.resolve("out").toString)
    val ckpt: String = root.resolve("ckpt").toString
    val exp = Expect()
    Files.createDirectories(in); Files.createDirectories(stage)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rnd = new java.util.SplittableRandom(ctx.seed * 7919L + 1)
    val phases = Seq(("ref", RefRate, Ticks)) ++
      (if (ctx.tracer.enabled) Seq(("high", HighRate, HighTicks)) else Nil)
    val root = Paths.get(ctx.dir("delivery"))

    // Inputs (untimed): every paced tick file and the drain backlog.
    val paced = phases.map { case (name, rate, ticks) =>
      val ph = new Phase(name, root.resolve(name))
      val perTick = rate * TickMs / 1000
      (0 until WarmTicks + ticks).foreach { k =>
        Files.writeString(ph.stage.resolve(f"tick-$k%06d.json"),
          render(rnd, s"$name-$k", perTick, k.toLong * TickMs, ph.exp))
      }
      (ph, perTick, ticks)
    }
    val (warm, drain) = drainInputs(rnd, root)
    Jvm.checkpointHeap()

    ctx.span("workload.delivery") {
      ctx.span("phase.warmup") { drainPhase(ctx, warm) }
      paced.foreach { case (ph, perTick, ticks) =>
        ctx.span(s"phase.paced_${ph.name}") {
          pacedPhase(ctx, ph, perTick, ticks)
        }
        Jvm.checkpointHeap()
      }
      ctx.span("phase.drain") { drainPhase(ctx, drain) }
      Jvm.checkpointHeap()
    }

    (paced.map(_._1) :+ warm :+ drain).foreach(ph => checkConservation(ctx, ph))
    if (ctx.tracer.enabled) codecLayers(ctx, drain)
  }

  /** The drain phase alone (warm-up, then the timed drain), for the
    * single-core baseline of the traced run.
    */
  def runDrainOnly(ctx: Ctx): Unit = {
    val (warm, drain) = drainInputs(new java.util.SplittableRandom(ctx.seed * 7919L + 1),
      Paths.get(ctx.dir("delivery")))
    ctx.span("workload.drain_only") {
      drainPhase(ctx, warm)
      drainPhase(ctx, drain)
    }
    Seq(warm, drain).foreach(ph => checkConservation(ctx, ph))
  }

  /** The warm-up backlog (one trigger's worth) and the drain backlog,
    * staged straight into their source directories.
    */
  private def drainInputs(rnd: java.util.SplittableRandom, root: Path): (Phase, Phase) = {
    def staged(name: String, files: Int) = {
      val ph = new Phase(name, root.resolve(name))
      (0 until files).foreach { f =>
        Files.writeString(ph.in.resolve(f"part-$f%06d.json"),
          render(rnd, s"$name-$f", BacklogPerFile, f * 1000L, ph.exp))
      }
      ph
    }
    (staged("warm", DrainFilesPerTrigger), staged("drain", BacklogFiles))
  }

  private def start(ph: Phase, trigger: Trigger, filesPerTrigger: Int,
      seed: Long, spark: org.apache.spark.sql.SparkSession) = {
    val src = FileReplayEnvelopeSource(ph.in.toString, maxFilesPerTrigger = filesPerTrigger)
    DeliveryPipeline.start(src.envelope(spark), payloadSchema, ph.sinks, ph.ckpt,
      dropIf = dropIf, trigger = trigger, wireBase64 = src.wireBase64,
      backupFailIf = backupFailIf(seed))
  }

  /** Open-loop phase: the generator renames one tick file per `TickMs`;
    * a tick's latency runs from its due time to the later of the two
    * queries' progress events covering it.
    */
  private def pacedPhase(ctx: Ctx, ph: Phase, perTick: Int, ticks: Int): Unit = {
    val spark = ctx.spark
    val pipe = ctx.span("streaming.pipeline.start") {
      start(ph, Trigger.ProcessingTime(0L), 0, ctx.seed, spark)
    }
    val total = WarmTicks + ticks
    // Tick k is due at t0 + k * TickMs; its file carries that offset as
    // its arrival stamp.
    val files = (0 until total).map(k => ph.stage.resolve(f"tick-$k%06d.json"))
    val landed = new Array[Long](total)
    val due = new Array[Long](total)
    val lateNs = new Array[Long](total)
    val t0 = System.currentTimeMillis() + 200
    val t0Ns = System.nanoTime() + 200000000L
    val gen = new Thread(() => {
      var k = 0
      while (k < total) {
        due(k) = t0 + k.toLong * TickMs
        val dueNs = t0Ns + k.toLong * TickMs * 1000000L
        var wait = dueNs - System.nanoTime()
        while (wait > 0) {
          java.util.concurrent.locks.LockSupport.parkNanos(wait)
          wait = dueNs - System.nanoTime()
        }
        Files.move(files(k), ph.in.resolve(files(k).getFileName),
          StandardCopyOption.ATOMIC_MOVE)
        lateNs(k) = System.nanoTime() - dueNs
        landed(k) = System.currentTimeMillis()
        k += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    val phaseStartNs = System.nanoTime()
    val phaseStartMs = System.currentTimeMillis()
    gen.start()
    gen.join()
    val n = ph.exp.n
    val okB = ctx.progress.awaitRows(pipe.backup.name, n, 120000)
    val okD = ctx.progress.awaitRows(pipe.delivery.name, n, 120000)
    pipe.backup.stop(); pipe.delivery.stop()
    ctx.span("streaming.buffer.final_flush") { pipe.sinks.finish() }
    if (!okB || !okD) {
      ctx.ledger.attempted.addAndGet(ticks)
      ctx.ledger.fail(s"paced ${ph.name}", new RuntimeException("timed out waiting for progress"))
      return
    }
    val qs = Seq(pipe.backup.name, pipe.delivery.name).map(ctx.progress.of)
    val cover = qs.map(covering(_, perTick, total))
    val lat = (WarmTicks until total).map(k =>
      (math.max(cover(0)(k).endMs, cover(1)(k).endMs) - due(k)).toDouble)
    ctx.ledger.attempted.addAndGet(ticks)
    val (p50, p90) = (Stats.checkedQuantile(lat, 0.5), Stats.checkedQuantile(lat, 0.9))
    ctx.layers(s"delivery.latency_${ph.name}_p50_ms") = (p50, "ms")
    ctx.layers(s"delivery.latency_${ph.name}_p90_ms") = (p90, "ms")

    if (ph.name == "ref") {
      ctx.metrics("latency_ms") = (p50, "ms")
      ctx.metrics("cycle_ms") = (medianBatchMs(qs), "ms")
      val late = (WarmTicks until total).map(k => lateNs(k) / 1e6)
      ctx.layers("sources.gen_late_ms") = (Stats.median(late), "ms")
      // Tick files landed but not yet taken by the delivery query when
      // the last tick landed.
      val lastLand = landed(total - 1)
      ctx.layers("sources.backlog_files_end") =
        (cover(1).count(_.startMs > lastLand).toDouble, "count")
      val all = qs.flatten.filter(_.inputRows > 0)
      ctx.layers("sources.latest_offset_ms") = (mean(all.map(_.durations.getOrElse("latestOffset", 0L))), "ms")
      ctx.layers("sources.get_batch_ms") = (mean(all.map(_.durations.getOrElse("getBatch", 0L))), "ms")
    }
    ctx.traceBatches(Seq("backup" -> qs(0), "delivery" -> qs(1)), ctx.tracer.current,
      phaseStartNs, phaseStartMs, idleGaps = true)
  }

  /** The batch that took each tick, from the query's cumulative input
    * rows (every tick file holds `perTick` rows and lands in order).
    */
  private def covering(ev: Seq[Progress], perTick: Int, total: Int): IndexedSeq[Progress] = {
    val cum = ev.scanLeft(0L)(_ + _.inputRows).tail
    var b = 0
    (0 until total).map { k =>
      while (cum(b) < (k + 1).toLong * perTick) b += 1
      ev(b)
    }
  }

  private def mean(xs: Seq[Long]): Double = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size

  /** Micro-batch duration: each query's median over its batches, averaged
    * over the queries. Backup and delivery batches differ in cost, so a
    * median over both would sit between the two.
    */
  private def medianBatchMs(qs: Seq[Seq[Progress]]): Double =
    qs.map(ev => Stats.median(ev.filter(_.inputRows > 0)
      .map(_.durations.getOrElse("triggerExecution", 0L).toDouble))).sum / qs.size

  /** Closed-loop drain over the phase's pre-staged backlog. For the
    * measured drain, its wall time runs from `start` to the final flush.
    */
  def drainPhase(ctx: Ctx, ph: Phase): Unit = {
    val spark = ctx.spark
    val startNs = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val pipe = ctx.span("streaming.pipeline.start") {
      start(ph, Trigger.AvailableNow(), DrainFilesPerTrigger, ctx.seed, spark)
    }
    val ok = pipe.backup.awaitTermination(170000) && pipe.delivery.awaitTermination(170000)
    val flushNs = System.nanoTime()
    ctx.span("streaming.buffer.final_flush") { pipe.sinks.finish() }
    val endNs = System.nanoTime()
    val secs = (endNs - startNs) / 1e9
    val epochs = ph.exp.n / (DrainFilesPerTrigger * BacklogPerFile)
    ctx.ledger.attempted.addAndGet(epochs)
    if (!ok) {
      pipe.stop()
      ctx.ledger.fail(s"drain ${ph.name}", new RuntimeException("drain timed out"))
    }
    val qs = Seq("backup" -> pipe.backup.name, "delivery" -> pipe.delivery.name)
      .map { case (k, q) => k -> ctx.progress.of(q) }
    ctx.traceBatches(qs, ctx.tracer.current, startNs, startMs, idleGaps = false)
    if (ph.name == "drain") {
      ctx.metrics("one_shot_s") = (secs, "s")
      ctx.layers("delivery.delivery_rps") = (ph.exp.n / secs, "1/s")
      qs.foreach { case (k, ev) =>
        val b = ev.filter(_.inputRows > 0)
        ctx.layers(s"streaming.$k.add_batch_ms") = (mean(b.map(_.durations.getOrElse("addBatch", 0L))), "ms")
        ctx.layers(s"streaming.$k.query_planning_ms") = (mean(b.map(_.durations.getOrElse("queryPlanning", 0L))), "ms")
        ctx.layers(s"streaming.$k.wal_commit_ms") = (mean(b.map(_.durations.getOrElse("walCommit", 0L))), "ms")
        ctx.layers(s"streaming.$k.epochs") = (b.size.toDouble, "count")
      }
      ctx.layers("streaming.source_reads_per_record") =
        (qs.flatMap(_._2).map(_.inputRows).sum.toDouble / ph.exp.n, "ratio")
      ctx.layers("streaming.buffer.final_flush_ms") = ((endNs - flushNs) / 1e6, "ms")
      val objs = Seq(ph.sinks.success, ph.sinks.failed).flatMap(deliveredDirs(ctx, _))
      val bytes = objs.map(p => p.getFileSystem(spark.sessionState.newHadoopConf())
        .getContentSummary(p).getLength).sum
      ctx.layers("streaming.buffer.objects") = (objs.size.toDouble, "count")
      ctx.layers("streaming.buffer.bytes_per_object") =
        (if (objs.isEmpty) 0.0 else bytes.toDouble / objs.size, "bytes")
    }
  }

  private def deliveredDirs(ctx: Ctx, dir: String): Seq[HPath] = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(ctx.spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(c => !c.getName.startsWith(".") && !c.getName.startsWith("_"))
  }

  /** Output check: source = Ok + Dropped + ProcessingFailed from a sink
    * recount, and backup + backup-failed = source.
    */
  private def checkConservation(ctx: Ctx, ph: Phase): Unit = {
    val spark = ctx.spark
    def count(p: String) = DeliveryPipeline.countChannel(spark, p)
    val ok = count(ph.sinks.success)
    val failed = count(ph.sinks.failed)
    val backup = count(ph.sinks.backup)
    val backupFailed = count(ph.sinks.backupFailed)
    val e = ph.exp
    ctx.check(s"delivery.${ph.name}.routing",
      ok == e.ok && failed == e.failed && ok + e.dropped + failed == e.n,
      s"ok=$ok/${e.ok} failed=$failed/${e.failed} dropped=${e.dropped} source=${e.n}")
    ctx.check(s"delivery.${ph.name}.backup",
      backup + backupFailed == e.n && backupFailed > 0,
      s"backup=$backup backup_failed=$backupFailed source=${e.n}")
  }

  /** Standalone codec calls over the drain backlog (traced run only). */
  private def codecLayers(ctx: Ctx, ph: Phase): Unit = {
    val spark = ctx.spark
    val env = spark.read.schema(StructType(Seq(StructField("recordId", StringType),
      StructField("approximateArrivalTimestamp", LongType), StructField("data", StringType))))
      .json(ph.in.toString).cache()
    val n = env.count()
    val decoded = env.withColumn("data", Codecs.decodeBase64(col("data")))
    def best(f: () => Unit): Double =
      (0 until 3).map { _ => val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9 }.min
    val dec = best(() => decoded.write.format("noop").mode("overwrite").save())
    val tr = best(() => Codecs.transformEnvelope(decoded, payloadSchema, dropIf)
      .write.format("noop").mode("overwrite").save())
    env.unpersist()
    ctx.layers("functions.codecs.decode_rps") = (n / dec, "1/s")
    ctx.layers("functions.codecs.transform_rps") = (n / tr, "1/s")
  }
}
