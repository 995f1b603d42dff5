package graft

import java.nio.file.Files
import java.util.Base64

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.model.DeliveryStatus._
import graft.model.RoutedRecord
import graft.streaming.{DeliveryPipeline, LambdaStage}
import graft.streaming.DeliveryPipeline.{BufferConfig, Sinks}

object PipelineSpec {
  /** An identity Lambda: every record Ok with its own bytes. Lives here
    * so the closure captures nothing.
    */
  val identityFn: LambdaStage.BatchFn = batch =>
    batch.map(r => RoutedRecord(r.recordId, Ok, r.data))
}

/** E2E streaming pipeline test — the reference's own correctness bar
  * (README.rst:113-124): count conservation across the audit channels,
  * count(source) == count(backup) == count(success) + count(failed) + dropped,
  * under the DEFAULT buffered (5 MB / 60 s) delivery path: the final
  * partial buffer must be delivered when the stream terminates.
  */
class PipelineSpec extends SparkSpec {

  private val payloadSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  private val envelopeSchema = StructType(Seq(
    StructField("recordId", StringType), StructField("line", StringType)))

  private def readEnvelope(inDir: String) = spark.readStream
    .schema(envelopeSchema)
    .json(inDir)
    .select(col("recordId"), lit(0L).as("approximateArrivalTimestamp"),
      col("line").cast("binary").as("data"))

  private def successObjects(sinks: Sinks): Seq[String] =
    Option(new java.io.File(sinks.success).listFiles).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("object-"))
      .map(_.getName).sorted

  private def stagedParts(channelDir: String): Seq[String] = {
    val staging = new java.io.File(channelDir, ".staging")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).map(_.toSeq).getOrElse(Seq.empty).flatMap(walk)
      else Seq(f)
    if (!staging.exists()) Seq.empty
    else walk(staging).map(_.getName).filter(_.startsWith("part-"))
  }

  test("dual-sink delivery conserves every record across the audit channels") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-pipe").toString

    // Source: events replayed as NDJSON envelope files (2 micro-batches).
    val ev = queries.Tables.events(spark, sfDir).limit(400)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val lines = ev.select(
      col("event_id").cast("string").as("recordId"),
      to_json(struct(col("event_id"), col("user_id"), col("event_type"), col("value")))
        .as("line"))
    val nSrc = lines.count()
    lines.select(to_json(struct(col("recordId"), col("line")))).coalesce(2)
      .write.mode("overwrite").text(s"$tmp/in")

    val sinks = Sinks(s"$tmp/out")
    val pipe = DeliveryPipeline.start(
      readEnvelope(s"$tmp/in"), payloadSchema, sinks, s"$tmp/ckpt",
      dropIf = p => p.getField("value") < 10)
    assert(pipe.awaitTermination(120000))

    val nBackup = DeliveryPipeline.countChannel(spark, sinks.backup)
    val nSuccess = DeliveryPipeline.countChannel(spark, sinks.success)
    val nFailed = DeliveryPipeline.countChannel(spark, sinks.failed)
    val nDropped = ev.filter(col("value") < 10).count()

    assert(nBackup == nSrc, "backup channel must carry every raw record")
    assert(nSuccess + nFailed + nDropped == nSrc, "3-way routing must conserve records")
    assert(nSuccess > 0 && nDropped > 0)
    // Exact per-channel counts match the batch routing rules (no
    // malformed rows in this slice → failed == 0, success == !dropped).
    assert(nSuccess == ev.filter(col("value") >= 10).count())
    assert(nFailed == 0)
    // Nothing left staged: the shutdown flush delivered the tail.
    assert(stagedParts(sinks.success).isEmpty, "undelivered staged data after termination")

    // Success channel is valid NDJSON with the transformed payload schema.
    val reread = spark.read.schema(payloadSchema).json(sinks.success + "/object-*")
    assert(reread.count() == nSuccess)
    assert(reread.filter(col("value") < 10).count() == 0)
  }

  test("malformed payloads route to the failed channel, raw bytes preserved") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-pipe2").toString
    Seq(
      """{"recordId": "a", "line": "{\"event_id\": 1, \"user_id\": 2, \"event_type\": \"view\", \"value\": 50.0}"}""",
      """{"recordId": "b", "line": "THIS IS NOT JSON"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(s"$tmp/in")

    val sinks = Sinks(s"$tmp/out")
    val pipe = DeliveryPipeline.start(readEnvelope(s"$tmp/in"), payloadSchema,
      sinks, s"$tmp/ckpt", dropIf = _ => lit(false))
    assert(pipe.awaitTermination(120000))

    assert(DeliveryPipeline.countChannel(spark, sinks.success) == 1)
    assert(DeliveryPipeline.countChannel(spark, sinks.failed) == 1)
    val failedLine = spark.read.text(sinks.failed + "/object-*").head().getString(0)
    assert(failedLine == "THIS IS NOT JSON")
  }

  test("base64 wire envelope decodes once for both backup and delivery") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-pipe-b64").toString
    // The reference wire format: data is base64-encoded NDJSON
    // (tests/test_lbd_to_s3.py:11-22, decoded at lbd/common.py:14).
    def b64(s: String) = Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val payloads = (1 to 20).map(i =>
      s"""{"event_id": $i, "user_id": 1, "event_type": "view", "value": ${i * 5}.0}""")
    payloads.zipWithIndex
      .map { case (p, i) => s"""{"recordId": "r$i", "line": "${b64(p)}"}""" }
      .toDF("value").coalesce(1).write.mode("overwrite").text(s"$tmp/in")

    val sinks = Sinks(s"$tmp/out")
    val pipe = DeliveryPipeline.start(readEnvelope(s"$tmp/in"), payloadSchema,
      sinks, s"$tmp/ckpt", dropIf = p => p.getField("value") < 10,
      wireBase64 = true)
    assert(pipe.awaitTermination(120000))

    // Routing ran on the DECODED payloads: value < 10 → dropped (1 record).
    assert(DeliveryPipeline.countChannel(spark, sinks.success) == 19)
    assert(DeliveryPipeline.countChannel(spark, sinks.failed) == 0)
    // The backup carries decoded raw NDJSON (Firehose backs up what it
    // hands the Lambda, not the transport base64) — re-readable as JSON.
    assert(DeliveryPipeline.countChannel(spark, sinks.backup) == 20)
    val backup = spark.read.schema(payloadSchema).json(sinks.backup + "/epoch=*")
    assert(backup.filter(col("event_id").isNull).count() == 0)
    assert(backup.agg(sum("event_id")).head().getLong(0) == (1 to 20).sum)
  }

  test("injected backup failures land in 02-backup-failed; 4-channel counts conserve") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-pipe-bf").toString
    val n = 40
    (1 to n).map(i =>
      s"""{"recordId": "r$i", "line": "{\\"event_id\\": $i, \\"user_id\\": 1, \\"event_type\\": \\"view\\", \\"value\\": 50.0}"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(s"$tmp/in")

    val sinks = Sinks(s"$tmp/out")
    val pipe = DeliveryPipeline.start(readEnvelope(s"$tmp/in"), payloadSchema,
      sinks, s"$tmp/ckpt", dropIf = _ => lit(false),
      backupFailIf = rid => rid.isin("r3", "r17", "r40"))
    assert(pipe.awaitTermination(120000))

    // The reference's 4-channel audit layout
    // (debug/s2_inspect_data_in_s3.py:11-16): every record appears in
    // exactly one backup channel and exactly one delivery outcome.
    val nBackup = DeliveryPipeline.countChannel(spark, sinks.backup)
    val nBackupFailed = DeliveryPipeline.countChannel(spark, sinks.backupFailed)
    assert(nBackupFailed == 3)
    assert(nBackup == n - 3)
    assert(nBackup + nBackupFailed == n, "backup channels must conserve records")
    assert(DeliveryPipeline.countChannel(spark, sinks.success) == n)
    // The failed-backup records are identifiable by content.
    val failedIds = spark.read.schema(payloadSchema).json(sinks.backupFailed + "/epoch=*")
      .select("event_id").as[Long].collect().toSet
    assert(failedIds == Set(3L, 17L, 40L))
  }

  test("size-tripping workload delivers multiple objects; counts conserve") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-pipe-size").toString
    // 4 input files × maxFilesPerTrigger=1 → 4 epochs; each epoch stages
    // ~2 KB against a 3 KB budget → flushes mid-stream, not only at the end.
    (0 until 4).foreach { f =>
      (1 to 25).map(i => s"""{"recordId": "f$f-r$i", "line": "{\\"event_id\\": ${f * 100 + i}, \\"user_id\\": 1, \\"event_type\\": \\"view\\", \\"value\\": 50.0}"}""")
        .toDF("value").coalesce(1).write.mode("append").text(s"$tmp/in")
    }
    val envelope = spark.readStream
      .schema(envelopeSchema)
      .option("maxFilesPerTrigger", 1)
      .json(s"$tmp/in")
      .select(col("recordId"), lit(0L).as("approximateArrivalTimestamp"),
        col("line").cast("binary").as("data"))

    val sinks = Sinks(s"$tmp/out",
      Some(BufferConfig(maxBytes = 3000, maxAgeMillis = Long.MaxValue / 2)))
    val pipe = DeliveryPipeline.start(envelope, payloadSchema, sinks,
      s"$tmp/ckpt", dropIf = _ => lit(false))
    assert(pipe.awaitTermination(120000))

    assert(DeliveryPipeline.countChannel(spark, sinks.success) == 100)
    val objs = successObjects(sinks)
    assert(objs.size >= 2, s"size threshold never tripped mid-stream: $objs")
    assert(stagedParts(sinks.success).isEmpty)
  }

  test("age-tripping workload delivers a partial buffer while the stream is running") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-pipe-age").toString
    (1 to 10).map(i =>
      s"""{"recordId": "r$i", "line": "{\\"event_id\\": $i, \\"user_id\\": 1, \\"event_type\\": \\"view\\", \\"value\\": 50.0}"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(s"$tmp/in")

    // Size budget unreachable; 1.5 s age. The stream stays ALIVE (a
    // processing-time trigger with no new input) — delivery must come
    // from the background age tick, not the shutdown flush.
    val sinks = Sinks(s"$tmp/out",
      Some(BufferConfig(maxBytes = Long.MaxValue / 4, maxAgeMillis = 1500)))
    val pipe = DeliveryPipeline.start(readEnvelope(s"$tmp/in"), payloadSchema,
      sinks, s"$tmp/ckpt", dropIf = _ => lit(false),
      trigger = Trigger.ProcessingTime("500 milliseconds"))
    try {
      pipe.delivery.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      var delivered = 0L
      while (delivered != 10 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        delivered = DeliveryPipeline.countChannel(spark, sinks.success)
      }
      assert(pipe.delivery.isActive, "stream must still be running (age flush, not shutdown)")
      assert(delivered == 10, "age tick did not deliver the partial buffer in time")
    } finally pipe.stop()
  }

  test("checkpoint restart resumes without reprocessing delivered epochs") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-restart").toString
    def writeBatch(ids: Range): Unit =
      ids.map(i => s"""{"recordId": "r$i", "line": "{\\"event_id\\": $i, \\"user_id\\": 1, \\"event_type\\": \\"view\\", \\"value\\": 50.0}"}""")
        .toDF("value").coalesce(1).write.mode("append").text(s"$tmp/in")
    writeBatch(1 to 50)
    // Each start() builds a FRESH Sinks (fresh BufferedChannel driver
    // state) against the same directories — the restart scenario. The
    // channel must resume its object counter and flushed-epoch watermark
    // from disk, not merge into or re-deliver existing objects.
    val sinks1 = Sinks(s"$tmp/out")
    val p1 = DeliveryPipeline.start(readEnvelope(s"$tmp/in"), payloadSchema, sinks1,
      s"$tmp/ckpt", dropIf = _ => lit(false))
    assert(p1.awaitTermination(120000))
    assert(DeliveryPipeline.countChannel(spark, sinks1.success) == 50)
    val objectsAfterRun1 = successObjects(sinks1)

    // New data lands; a RESTARTED query (same checkpoint) picks up only
    // the new files — delivered epochs are not reprocessed or duplicated.
    writeBatch(51 to 80)
    val sinks2 = Sinks(s"$tmp/out")
    val p2 = DeliveryPipeline.start(readEnvelope(s"$tmp/in"), payloadSchema, sinks2,
      s"$tmp/ckpt", dropIf = _ => lit(false))
    assert(p2.awaitTermination(120000))
    assert(DeliveryPipeline.countChannel(spark, sinks2.success) == 80)
    assert(DeliveryPipeline.countChannel(spark, sinks2.backup) == 80)
    // Run 2 opened NEW objects (no merge into run 1's delivered objects).
    assert(successObjects(sinks2).size > objectsAfterRun1.size)
    assert(successObjects(sinks2).take(objectsAfterRun1.size) == objectsAfterRun1)
    // recordIds unique end-to-end (no replay duplicates).
    val ids = spark.read.text(sinks2.success + "/object-*")
      .select(get_json_object(col("value"), "$.event_id")).distinct().count()
    assert(ids == 80)
  }

  test("one query per pipeline: each source record is read once") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-one-query").toString
    (0 until 3).foreach { f =>
      (1 to 20).map(i => s"""{"recordId": "f$f-r$i", "line": "{\\"event_id\\": ${f * 100 + i}, \\"user_id\\": 1, \\"event_type\\": \\"view\\", \\"value\\": 50.0}"}""")
        .toDF("value").coalesce(1).write.mode("append").text(s"$tmp/in")
    }
    val envelope = spark.readStream
      .schema(envelopeSchema)
      .option("maxFilesPerTrigger", 1)
      .json(s"$tmp/in")
      .select(col("recordId"), lit(0L).as("approximateArrivalTimestamp"),
        col("line").cast("binary").as("data"))

    val before = spark.streams.active.map(_.id).toSet
    val sinks = Sinks(s"$tmp/out")
    val pipe = DeliveryPipeline.start(envelope, payloadSchema, sinks, s"$tmp/ckpt",
      dropIf = _ => lit(false), trigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      pipe.processAllAvailable()
      val mine = spark.streams.active.filterNot(q => before(q.id))
      assert(mine.map(_.id).toSeq == Seq(pipe.delivery.id), "exactly one active query per pipeline")
      assert(pipe.backup eq pipe.delivery)
      val read = pipe.delivery.recentProgress.map(_.numInputRows).sum
      assert(read == 60, s"source rows read $read times for 60 records")
    } finally pipe.stop()
    assert(DeliveryPipeline.countChannel(spark, sinks.backup) == 60)
    assert(DeliveryPipeline.countChannel(spark, sinks.success) == 60)
    assert(!new java.io.File(s"$tmp/ckpt/backup").exists, "no second checkpoint")
  }

  test("a failing backup write fails the epoch; a restart conserves all four channels") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-backup-fail").toString
    val n = 60
    // Every 10th record is Dropped (value < 10); r7 and r42 fail their
    // backup write by injection.
    (1 to n).map(i => s"""{"recordId": "r$i", "line": "{\\"event_id\\": $i, \\"user_id\\": 1, \\"event_type\\": \\"view\\", \\"value\\": ${if (i % 10 == 0) 5 else 50}.0}"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(s"$tmp/in")
    def start(sinks: Sinks) = DeliveryPipeline.start(readEnvelope(s"$tmp/in"), payloadSchema,
      sinks, s"$tmp/ckpt", dropIf = p => p.getField("value") < 10,
      backupFailIf = rid => rid.isin("r7", "r42"))

    // A regular file where the backup channel's directory goes: the
    // epoch's backup write throws, and so must the epoch.
    val sinks1 = Sinks(s"$tmp/out")
    val blocker = java.nio.file.Paths.get(sinks1.backup)
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, "not a directory".getBytes("UTF-8"))
    val p1 = start(sinks1)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](p1.awaitTermination(120000))
    p1.stop()
    assert(Files.isRegularFile(blocker))

    Files.delete(blocker)
    val sinks2 = Sinks(s"$tmp/out")
    assert(start(sinks2).awaitTermination(120000))
    val dropped = n / 10
    assert(DeliveryPipeline.countChannel(spark, sinks2.backup) == n - 2)
    assert(DeliveryPipeline.countChannel(spark, sinks2.backupFailed) == 2)
    assert(DeliveryPipeline.countChannel(spark, sinks2.success) == n - dropped)
    assert(DeliveryPipeline.countChannel(spark, sinks2.failed) == 0)
    val ids = spark.read.text(sinks2.success + "/object-*")
      .select(get_json_object(col("value"), "$.event_id").as("id"))
    assert(ids.count() == n - dropped)
    assert(ids.distinct().count() == n - dropped, "duplicate recordId in 03-success")
  }

  /** Runs `body` and counts the file-write commands it ran per epoch
    * (the `epoch=N` in each write's output path).
    */
  private def writesPerEpoch(body: => Unit): Map[Long, Int] = {
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val outputs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    observingQueries(_.logical.foreach {
      case c: InsertIntoHadoopFsRelationCommand => outputs.add(c.outputPath.toString)
      case _ =>
    })(body)
    val epoch = "epoch=(\\d+)".r
    outputs.toArray.toSeq.flatMap(p => epoch.findFirstMatchIn(p.toString))
      .map(_.group(1).toLong).groupBy(identity).map { case (e, ws) => e -> ws.size }
  }

  test("one write job per epoch, declarative and lambdaFn paths alike") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-one-write").toString
    (0 until 3).foreach { f =>
      (1 to 20).map(i => s"""{"recordId": "f$f-r$i", "line": "{\\"event_id\\": ${f * 100 + i}, \\"user_id\\": 1, \\"event_type\\": \\"view\\", \\"value\\": ${if (i % 5 == 0) 5 else 50}.0}"}""")
        .toDF("value").coalesce(1).write.mode("append").text(s"$tmp/in")
    }
    Seq("declarative" -> None, "lambdaFn" -> Some(PipelineSpec.identityFn)).foreach {
      case (path, fn) =>
        val envelope = spark.readStream.schema(envelopeSchema)
          .option("maxFilesPerTrigger", 1).json(s"$tmp/in")
          .select(col("recordId"), lit(0L).as("approximateArrivalTimestamp"),
            col("line").cast("binary").as("data"))
        val sinks = Sinks(s"$tmp/out-$path")
        var epochs = Set.empty[Long]
        val writes = writesPerEpoch {
          val pipe = DeliveryPipeline.start(envelope, payloadSchema, sinks, s"$tmp/ckpt-$path",
            dropIf = p => p.getField("value") < 10,
            backupFailIf = rid => rid.endsWith("-r7"), lambdaFn = fn)
          assert(pipe.awaitTermination(120000))
          epochs = pipe.delivery.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSet
        }
        assert(epochs.size == 3, s"$path: epochs $epochs")
        assert(writes == epochs.map(_ -> 1).toMap, s"$path: write jobs per epoch")
        // Every channel still carries its records.
        val dropped = if (fn.isEmpty) 12 else 0
        assert(DeliveryPipeline.countChannel(spark, sinks.backup) == 57, path)
        assert(DeliveryPipeline.countChannel(spark, sinks.backupFailed) == 3, path)
        assert(DeliveryPipeline.countChannel(spark, sinks.success) == 60 - dropped, path)
        assert(DeliveryPipeline.countChannel(spark, sinks.failed) == 0, path)
    }
  }

  test("unbuffered layout: every epoch places all four channels, bytes in " +
      "source order; a replayed epoch's stale scratch reaches no channel") {
    val tmp = Files.createTempDirectory("graft-layout").toString
    def ev(id: Int, value: Double) =
      s"""{"event_id": $id, "user_id": 7, "event_type": "view", "value": $value}"""
    def out(id: Int, value: Double) =
      s"""{"event_id":$id,"user_id":7,"event_type":"view","value":$value}"""
    def quoted(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // Epoch 0: Ok, Dropped, malformed, backup-failed Ok, Ok.
    // Epoch 1: Ok, Dropped (no backup-failed or failed records).
    val epoch0 = Seq("r1" -> ev(1, 50.0), "r2" -> ev(2, 5.0), "r3" -> "not json {",
      "r4" -> ev(4, 60.0), "r5" -> ev(5, 70.0))
    val epoch1 = Seq("r6" -> ev(6, 80.0), "r7" -> ev(7, 1.0))
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    Seq(epoch0, epoch1).zipWithIndex.foreach { case (recs, k) =>
      val f = java.nio.file.Paths.get(s"$tmp/in/in-$k.json")
      Files.write(f, recs.map { case (id, line) =>
        s"""{"recordId": "$id", "line": ${quoted(line)}}""" }.mkString("\n").getBytes("UTF-8"))
      f.toFile.setLastModified(System.currentTimeMillis() - 60000 + k * 10000)
    }
    val expected = Map(
      BackupPrefix -> Seq(Seq(ev(1, 50.0), ev(2, 5.0), "not json {", ev(5, 70.0)),
        Seq(ev(6, 80.0), ev(7, 1.0))),
      BackupFailedPrefix -> Seq(Seq(ev(4, 60.0)), Seq()),
      SuccessPrefix -> Seq(Seq(out(1, 50.0), out(4, 60.0), out(5, 70.0)), Seq(out(6, 80.0))),
      FailedPrefix -> Seq(Seq("not json {"), Seq()))

    def start(root: String) = DeliveryPipeline.start(
      spark.readStream.schema(envelopeSchema).option("maxFilesPerTrigger", 1)
        .json(s"$tmp/in")
        .select(col("recordId"), lit(0L).as("approximateArrivalTimestamp"),
          col("line").cast("binary").as("data")),
      payloadSchema, Sinks(root, buffer = None), s"$root-ckpt",
      dropIf = p => p.getField("value") < 10, backupFailIf = rid => rid === "r4")
    def checkChannels(root: String): Unit = expected.foreach { case (ch, perEpoch) =>
      perEpoch.zipWithIndex.foreach { case (lines, epoch) =>
        val dir = new java.io.File(s"$root/$ch/epoch=$epoch")
        assert(new java.io.File(dir, "_SUCCESS").isFile, s"$dir has no _SUCCESS")
        val parts = dir.listFiles.toSeq.filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val bytes = parts.map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).mkString
        assert(bytes == lines.map(_ + "\n").mkString, s"$ch/epoch=$epoch")
      }
      assert(new java.io.File(s"$root/$ch").list.filter(_.startsWith("epoch=")).sorted.toSeq ==
        Seq("epoch=0", "epoch=1"), ch)
    }

    // A clean run.
    val clean = s"$tmp/clean"
    assert(start(clean).awaitTermination(120000))
    checkChannels(clean)
    assert(new java.io.File(clean).list.sorted.toSeq == expected.keys.toSeq.sorted,
      "only the four channels under the sink root (no scratch dir left)")

    // A failed first attempt at epoch 0 (its backup cannot be placed),
    // then a stale part planted in that epoch's scratch dir, then the
    // replay.
    val replayed = s"$tmp/replayed"
    val blocker = java.nio.file.Paths.get(s"$replayed/$BackupPrefix")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, "not a directory".getBytes("UTF-8"))
    val p1 = start(replayed)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](p1.awaitTermination(120000))
    p1.stop()
    Files.delete(blocker)
    expected.keys.foreach { ch =>
      val stale = java.nio.file.Paths.get(s"$replayed/.scratch-epoch=0/channel=$ch")
      Files.createDirectories(stale)
      Files.write(stale.resolve("part-00000-stale.txt"), "STALE\n".getBytes("UTF-8"))
    }
    assert(start(replayed).awaitTermination(120000))
    checkChannels(replayed)
  }

  test("a replayed flushed epoch is not re-delivered (watermark skip)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-replay").toString
    val ch = new graft.streaming.BufferedChannel(s"$tmp/ch",
      maxBytes = 10, maxAgeMillis = Long.MaxValue / 2) // every append flushes
    val lines = (1 to 5).map(i => s"""{"i": $i}""").toDF("value").coalesce(1)
    ch.append(lines, epochId = 0)
    assert(ch.deliveredObjects.size == 1)
    // Crash-replay of epoch 0 AFTER its flush (commit was lost): the
    // persisted watermark makes it a no-op instead of a second delivery.
    ch.append(lines, epochId = 0)
    assert(ch.deliveredObjects.size == 1)
    assert(spark.read.text(ch.deliveredObjects.head.toString).count() == 5)
    // And a fresh channel instance over the same dir (driver restart)
    // inherits the watermark from disk.
    val ch2 = new graft.streaming.BufferedChannel(s"$tmp/ch",
      maxBytes = 10, maxAgeMillis = Long.MaxValue / 2)
    ch2.append(lines, epochId = 0)
    assert(ch2.deliveredObjects.size == 1)
    ch2.append(lines, epochId = 1) // genuinely new epoch still delivers
    assert(ch2.deliveredObjects.size == 2)
  }

  test("recordId dedup upgrades a replayed source to effectively-once") {
    import spark.implicits._
    val base = (1 to 100).map(i => (s"r$i", new java.sql.Timestamp(1700000000000L + i * 1000)))
    val dup = base ++ base.take(30) // 30 replayed records
    val env = dup.toDF("recordId", "arrivalTs")
    // Batch-mode dropDuplicates has identical semantics to the streaming
    // state-store path on a closed input.
    val deduped = env.dropDuplicates("recordId")
    assert(deduped.count() == 100)
  }

  test("streaming recordId dedup drops a replay arriving in a LATER micro-batch") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-dedup-stream").toString
    // The STANDARD envelope shape: approximateArrivalTimestamp is epoch
    // MILLIS (long), as every producer in this library emits it —
    // dedupByRecordId's default must work on it directly (it converts to
    // a synthetic timestamp for the watermark internally).
    val schema = StructType(Seq(StructField("recordId", StringType),
      StructField("approximateArrivalTimestamp", LongType)))
    val t0 = 1704103200000L // 2024-01-01 10:00:00 UTC
    def batchFile(name: String, rows: Seq[(String, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$tmp/in/$name"),
        rows.map { case (r, ms) =>
          s"""{"recordId": "$r", "approximateArrivalTimestamp": $ms}""" }
          .mkString("\n").getBytes("UTF-8"))
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    batchFile("b0.json", Seq(("a", t0), ("b", t0 + 5000)))

    val q = DeliveryPipeline
      .dedupByRecordId(spark.readStream.schema(schema).json(s"$tmp/in"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.processAllAvailable()
    // The replay of "a" lands in the NEXT micro-batch, inside the
    // 10-minute horizon — the state store must still hold it. "c" is new.
    batchFile("b1.json", Seq(("a", t0 + 7000), ("c", t0 + 9000)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("recordId").as[String].collect().toSeq
    assert(ids.sorted == Seq("a", "b", "c"), s"cross-batch replay not deduped: $ids")
  }

  test("watermark drops late events (streaming, crafted out-of-order input)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-wm").toString
    // Batch 0: events up to 12:00. Batch 1: a 10:00 straggler (2h late,
    // way past the 10-minute watermark) + one fresh event.
    val b0 = Seq(
      """{"event_id": 1, "ts": "2024-01-01 11:00:00", "event_type": "view"}""",
      """{"event_id": 2, "ts": "2024-01-01 12:00:00", "event_type": "view"}""")
    val b1 = Seq(
      """{"event_id": 3, "ts": "2024-01-01 10:00:00", "event_type": "view"}""",
      """{"event_id": 4, "ts": "2024-01-01 12:05:00", "event_type": "view"}""")
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType)))
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    Files.write(java.nio.file.Paths.get(s"$tmp/in/b0.json"),
      b0.mkString("\n").getBytes("UTF-8"))

    val stream = spark.readStream.schema(schema).json(s"$tmp/in")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("update")
      .format("memory").queryName("wm_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.processAllAvailable()
    Files.write(java.nio.file.Paths.get(s"$tmp/in/b1.json"),
      b1.mkString("\n").getBytes("UTF-8"))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("wm_out")
      .select(date_format(col("window.start"), "HH:mm").as("ws"), col("n"))
      .as[(String, Long)].collect().toMap
    // The 10:00 straggler must NOT create/extend the 10:00 window: the
    // watermark after batch 0 is 12:00 - 10min = 11:50 > 11:00.
    assert(!out.contains("10:00"), s"late event leaked into $out")
    assert(out("12:00") == 2) // fresh event updated the 12:00 window
  }
}
