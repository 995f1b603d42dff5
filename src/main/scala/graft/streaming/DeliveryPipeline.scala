package graft.streaming

import java.util.UUID

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.Codecs
import graft.model.DeliveryStatus._

/** The reference pipeline, Spark-native (SURVEY.md §0/§3 EP2):
  *
  * {{{
  * source (envelope stream, data = base64 NDJSON on the wire)
  *   └── writeStream: decode once → persist with the backup-failure flag
  *         └── foreachBatch (one epoch id for every channel)
  *               ├── backup thread: raw copy → 01-backup/         (A9)
  *               │     └── injected write failures → 02-backup-failed/
  *               └── transform → 3-way route → NDJSON fan-out (A3–A8)
  *                     Ok               → 03-success/  (buffered, A7)
  *                     Dropped          → (counted, not delivered — Firehose
  *                                         drops these by contract)
  *                     ProcessingFailed → 04-failed/   (buffered, A7)
  * }}}
  *
  * Design notes, scale-first:
  * - ONE streaming query per delivery stream, like the reference's one
  *   Firehose stream that writes both the raw backup and the transformed
  *   output (iac/s2_app.py:720-828). Each micro-batch is read and decoded
  *   once, persisted, and feeds all four channels under one epoch id.
  *   The backup pair runs on a thread of its own so its writes overlap
  *   the delivery writes; it is joined before the epoch returns, so a
  *   failed backup fails the epoch. The transform is a single codegen'd
  *   projection — no per-record driver work anywhere.
  * - Wire format: the reference envelope carries base64 data
  *   (tests/test_lbd_to_s3.py:18, lbd/common.py:14); `wireBase64 = true`
  *   runs `unbase64` as the first step of the lineage, so both the
  *   backup copy and the delivery transform see raw NDJSON bytes —
  *   exactly what Firehose hands its Lambda and its S3 backup.
  * - Buffering — the reference buffers TWICE (iac/s2_app.py:810-815):
  *   records→Lambda at 3 MB/60 s and transform-output→S3 at 5 MB/60 s.
  *   The destination stage is [[BufferedChannel]]'s size-OR-time
  *   promotion, so delivered object granularity matches Firehose buffer
  *   flushes, independent of trigger cadence. The Lambda stage is
  *   [[LambdaStage]]'s byte-bounded invocation batching (engaged via
  *   `lambdaFn` for ported opaque transforms; the declarative codegen
  *   path is batch-shape-independent so the hint is moot there). The final
  *   partial buffer is delivered when the stream ends — like Firehose's
  *   shutdown flush — by BOTH the returned [[Pipeline]] handle's
  *   `awaitTermination`/`stop` and a [[StreamingQueryListener]] that
  *   fires on query termination, so no caller can strand staged data.
  *   `Sinks(root, buffer = None)` writes per-epoch objects directly
  *   (test/debug convenience).
  * - The four-channel audit layout (reference iac/s2_app.py:804-815,
  *   enumerated by debug/s2_inspect_data_in_s3.py:11-16): backup-write
  *   failures route to 02-backup-failed via an injectable predicate
  *   (locally a backup write either succeeds or throws, so failure is
  *   injected by recordId — the reference's semantics, testable).
  * - Delivery semantics: checkpointed replay = at-least-once; per-epoch
  *   overwrite subdirectories make retried epochs idempotent, and the
  *   buffered path persists its object counter + flushed-epoch watermark
  *   (BufferedChannel), so a restarted query neither merges into nor
  *   re-delivers promoted objects (effectively-once per channel, the
  *   reference's backup/retry model A12). `dedupByRecordId` upgrades a
  *   replayed source to effectively-once end-to-end.
  * - NDJSON framing: one JSON object + \n per line (the reference's
  *   invariant counted by debug/s2_inspect_data_in_s3.py:19-23) — text
  *   writer over `to_json` rows.
  */
object DeliveryPipeline {

  /** Firehose buffering hints (reference iac/s2_app.py:810-815: 5 MB or
    * 60 s, whichever first).
    */
  final case class BufferConfig(
      maxBytes: Long = 5L * 1024 * 1024,
      maxAgeMillis: Long = 60000L)

  /** @param hadoopConf null (default) = derive from the active
    *   SparkSession at first use, so `spark.hadoop.*` settings (S3A
    *   credentials etc.) reach the channel's own FileSystem calls — a
    *   bare `new Configuration()` would not carry them and the first
    *   rename/watermark IO on a configured store would fail.
    */
  final case class Sinks(root: String, buffer: Option[BufferConfig] = Some(BufferConfig()),
      hadoopConf: Configuration = null) {
    val backup = s"$root/$BackupPrefix"
    val backupFailed = s"$root/$BackupFailedPrefix"
    val success = s"$root/$SuccessPrefix"
    val failed = s"$root/$FailedPrefix"

    private def resolvedConf: Configuration =
      if (hadoopConf != null) hadoopConf
      else SparkSession.active.sessionState.newHadoopConf()

    private[streaming] lazy val successBuf: Option[BufferedChannel] =
      buffer.map(b => new BufferedChannel(success, b.maxBytes, b.maxAgeMillis, resolvedConf))
    private[streaming] lazy val failedBuf: Option[BufferedChannel] =
      buffer.map(b => new BufferedChannel(failed, b.maxBytes, b.maxAgeMillis, resolvedConf))

    /** Promote any staged-but-unflushed buffers (the shutdown flush —
      * Firehose delivers its final partial buffer when the stream stops)
      * and stop their age ticks. Idempotent; no-op when buffering is off
      * or staging is empty.
      */
    def finish(): Unit = { successBuf.foreach(_.close()); failedBuf.foreach(_.close()) }
  }

  /** Handle over the running delivery query. Termination through ANY of
    * the methods here delivers the final partial buffers (`sinks.finish()`
    * is also hooked to query termination via listener, so even direct
    * `StreamingQuery.stop()` flushes).
    */
  final case class Pipeline(delivery: StreamingQuery, sinks: Sinks) {
    /** The same query: it writes the backup channels too. */
    def backup: StreamingQuery = delivery

    /** Await the query; on termination deliver the final partial
      * buffers. Returns true iff it terminated within the timeout.
      */
    def awaitTermination(timeoutMs: Long): Boolean = {
      val done = delivery.awaitTermination(timeoutMs)
      if (done) sinks.finish()
      done
    }

    /** Drain all available input, then flush (keeps the query running). */
    def processAllAvailable(): Unit = {
      delivery.processAllAvailable()
      sinks.successBuf.foreach(_.flush())
      sinks.failedBuf.foreach(_.flush())
    }

    def stop(): Unit = { delivery.stop(); sinks.finish() }
  }

  /** Effectively-once upgrade for at-least-once sources: drop replayed
    * recordIds inside the watermark horizon (SURVEY §2A A12 / Q31
    * streaming form). dropDuplicatesWithinWatermark is the variant whose
    * dedup state is actually EVICTED by the watermark — plain
    * dropDuplicates on a non-event-time subset keeps state forever.
    */
  def dedupByRecordId(envelope: DataFrame,
      arrivalCol: String = "approximateArrivalTimestamp",
      horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // The standard envelope carries approximateArrivalTimestamp as epoch
    // MILLIS (reference tests/test_lbd_to_s3.py:18); watermarks require
    // a timestamp column, so a long arrival column is converted to a
    // synthetic timestamp for the dedup and dropped afterwards.
    envelope.schema(arrivalCol).dataType match {
      case TimestampType =>
        envelope.withWatermark(arrivalCol, horizon)
          .dropDuplicatesWithinWatermark("recordId")
      case LongType =>
        envelope.withColumn("_arrival_ts", timestamp_millis(col(arrivalCol)))
          .withWatermark("_arrival_ts", horizon)
          .dropDuplicatesWithinWatermark("recordId")
          .drop("_arrival_ts")
      case other => throw new IllegalArgumentException(
        s"$arrivalCol must be timestamp or epoch-millis long, got $other")
    }
  }

  /** [[start]] over an [[graft.sources.EnvelopeSource]] — the connector
    * seam: a real Kinesis connector (or the in-repo producer / file
    * replay) binds here by implementing the envelope contract, and the
    * source's own `wireBase64` declaration replaces the ad-hoc flag.
    */
  def start(spark: SparkSession, source: graft.sources.EnvelopeSource,
      payloadSchema: StructType, sinks: Sinks, checkpointRoot: String,
      dropIf: Column => Column): Pipeline =
    start(source.envelope(spark), payloadSchema, sinks, checkpointRoot,
      dropIf, wireBase64 = source.wireBase64)

  /** Start the delivery query over a streaming envelope frame
    * (columns: recordId, approximateArrivalTimestamp, data): one query,
    * checkpointed at `$checkpointRoot/delivery`, writes all four
    * channels from each epoch. The returned
    * [[Pipeline]] flushes the delivery buffers on termination; callers
    * that bypass it are covered by the termination listener.
    *
    * @param wireBase64   data arrives base64-encoded (the reference wire
    *                     form); decoded once at the head of the lineage
    * @param backupFailIf injectable backup-write failure predicate over
    *                     the recordId column: matching records route to
    *                     02-backup-failed instead of 01-backup
    * @param lambdaFn     ported opaque transform Lambda: when set, the
    *                     route/transform step runs through
    *                     [[LambdaStage.invoke]] under the reference's
    *                     3 MB-per-invocation processing buffer
    *                     (iac/s2_app.py:814-815) instead of the
    *                     declarative codegen path; `dropIf` is ignored
    *                     (the Lambda declares Dropped itself)
    * @param lambdaMaxBytes per-invocation payload bound for `lambdaFn`
    */
  def start(
      envelope: DataFrame,
      payloadSchema: StructType,
      sinks: Sinks,
      checkpointRoot: String,
      dropIf: Column => Column,
      trigger: Trigger = Trigger.AvailableNow(),
      wireBase64: Boolean = false,
      backupFailIf: Column => Column = _ => lit(false),
      lambdaFn: Option[LambdaStage.BatchFn] = None,
      lambdaMaxBytes: Long = LambdaStage.DefaultMaxInvocationBytes): Pipeline = {

    // A3 first half: base64 wire form → raw NDJSON bytes, shared by the
    // backup and the transform (Firehose decodes transport base64 before
    // backup + Lambda).
    val env =
      if (wireBase64)
        envelope.withColumn("data", Codecs.decodeBase64(col("data").cast("string")))
      else envelope

    val deliveryQ = env.writeStream
      .queryName(s"graft-delivery-${UUID.randomUUID()}")
      .trigger(trigger)
      .option("checkpointLocation", s"$checkpointRoot/delivery")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val src = batch.select(col("recordId"), col("data"),
          coalesce(backupFailIf(col("recordId")), lit(false)).as("_bf")).persist()
        try {
          // A9: raw pre-transform copy, untouched bytes; injected write
          // failures land in 02-backup-failed (4-channel audit contract).
          // A thread this epoch creates inherits the epoch's Spark local
          // properties (job group, SQL execution id); a pooled thread
          // keeps those of whichever query first spawned it.
          val backup = Future {
            val raw = src.select(col("_bf"), col("data").cast("string").as("line"))
            writeChannel(raw.filter(!col("_bf")), s"${sinks.backup}/epoch=$epochId")
            writeChannel(raw.filter(col("_bf")), s"${sinks.backupFailed}/epoch=$epochId")
          }(ExecutionContext.fromExecutor(r => new Thread(r, s"graft-backup-$epochId").start()))
          // A3–A8: transform → route → fan-out, staged through the A7 buffers.
          try {
            val transformed = lambdaFn match {
              case Some(fn) => LambdaStage.invoke(src, fn, lambdaMaxBytes)
              case None     => Codecs.transformEnvelope(src, payloadSchema, dropIf)
            }
            val routed = transformed
              .withColumn("line", col("data").cast("string"))
              .select("result", "line")
              .persist()
            try {
              deliver(routed.filter(col("result") === Ok).select("line"),
                sinks.successBuf, sinks.success, epochId)
              deliver(routed.filter(col("result") === ProcessingFailed).select("line"),
                sinks.failedBuf, sinks.failed, epochId)
            } finally routed.unpersist()
          } finally Await.ready(backup, Duration.Inf)
          // A failed backup write fails the epoch: it is retried on restart.
          Await.result(backup, Duration.Inf)
        } finally src.unpersist()
      }
      .start()

    // Shutdown-flush safety net: when the delivery query terminates (by
    // stop(), end-of-available-data, or failure), deliver the final
    // partial buffers — Firehose's own last-buffer behavior. finish() is
    // idempotent, so the Pipeline handle double-calling it is harmless.
    val spark = envelope.sparkSession
    val deliveryId = deliveryQ.id
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == deliveryId) {
          spark.streams.removeListener(this)
          // Off the listener bus: finish() is blocking flush IO (remote
          // renames, watermark writes) — running it on the bus dispatch
          // thread would stall event delivery to every other query in
          // the session for the duration (and risk dropped events once
          // the bus queue fills). DAEMON, deliberately: the flush path
          // has no IO timeout, and a non-daemon thread hung on a stalled
          // remote rename would block JVM exit forever. The listener was
          // always only a safety net — callers that need the flush
          // guaranteed go through Pipeline.stop()/awaitTermination,
          // which run finish() synchronously on their own thread.
          val t = new Thread(() => sinks.finish(), "graft-shutdown-flush")
          t.setDaemon(true)
          t.start()
        }
    }
    spark.streams.addListener(listener)
    // Listener buses don't replay: a query that terminated in the window
    // between start() and addListener (AvailableNow over little data)
    // would otherwise strand its final buffer. finish() is idempotent,
    // so racing the listener's own firing is harmless.
    if (!deliveryQ.isActive) {
      sinks.finish()
      spark.streams.removeListener(listener)
    }

    Pipeline(deliveryQ, sinks)
  }

  /** One channel write for one epoch: staged through the size-OR-time
    * buffer when configured, direct per-epoch object otherwise.
    */
  private def deliver(lines: DataFrame, buf: Option[BufferedChannel],
      dir: String, epochId: Long): Unit = buf match {
    case Some(b) => b.append(lines, epochId)
    case None    => writeChannel(lines, s"$dir/epoch=$epochId")
  }

  /** NDJSON channel write: per-epoch overwrite = idempotent on replay.
    * `line` already carries its trailing newline from the codec; exactly
    * ONE is stripped so the text writer's separator reproduces the
    * original bytes ([[Codecs.stripOneTrailingNewline]]).
    */
  private def writeChannel(lines: DataFrame, path: String): Unit =
    writeNdjson(lines.select("line"), path)

  /** The ONE NDJSON framing write, shared by every channel (direct
    * per-epoch objects here, staged parts in [[BufferedChannel]], the
    * index backup in [[IndexSink]]) so the framing can never drift
    * between them. Requires exactly one column — a multi-column frame is
    * a caller bug that must fail fast, not silently write one column.
    *
    * Channel payload contract: the channels are TEXT sinks, so payloads
    * are UTF-8 by contract — the reference's wire form is base64-wrapped
    * UTF-8 JSON (lbd/common.py:14), and its own S3 objects are NDJSON
    * text. A payload containing invalid UTF-8 sequences is outside the
    * contract and would have each invalid sequence replaced with U+FFFD
    * on write (the string round-trip), not preserved byte-for-byte.
    */
  private[streaming] def writeNdjson(lines: DataFrame, path: String): Unit = {
    require(lines.columns.length == 1,
      s"NDJSON frame must have exactly one column, got ${lines.columns.toSeq}")
    lines.select(Codecs.stripOneTrailingNewline(col(lines.columns.head)).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** Count records across all delivered objects of a channel (epoch= dirs
    * or buffered object- dirs) — the reference's newline-count check
    * (debug/s2_inspect_data_in_s3.py:19-23).
    *
    * Hadoop-FS based (works on HDFS/S3A/local), and enumerates delivered
    * children EXPLICITLY: a naive star-glob under `path` matches
    * `.staging` too (the hidden-file filter only applies below the
    * glob-expanded roots), which would count staged-but-undelivered data.
    */
  def countChannel(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return 0L
    val delivered = fs.listStatus(p).toSeq
      .map(_.getPath)
      .filter(c => !c.getName.startsWith(".") && !c.getName.startsWith("_"))
      .map(_.toString)
    if (delivered.isEmpty) 0L
    else spark.read.text(delivered: _*).count()
  }
}
