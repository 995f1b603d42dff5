package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Maintenance
import graft.streaming.IndexSink
import graft.sources.KinesisShaped
import graft.sources.KinesisShaped.StreamConfig

class SourcesSpec extends SparkSpec {

  test("producer synthesizes the reference bank_account shape; shard routing is stable") {
    import spark.implicits._
    val cfg = StreamConfig("graft-stream", numShards = 10)
    val batch = KinesisShaped.bankAccountBatch(spark, cfg, 1000)
    assert(batch.count() == 1000)
    // Every shard in range, and the SAME partitionKey always routes to
    // the SAME shard (the Kinesis hash contract).
    val shardRange = batch.agg(min("shard"), max("shard")).head()
    assert(shardRange.getInt(0) >= 0 && shardRange.getInt(1) < 10)
    val perKey = batch.groupBy("partitionKey")
      .agg(countDistinct("shard").as("n")).agg(max("n")).head().getLong(0)
    assert(perKey == 1)
    // Payload decodes to the bank_account schema with all fields set.
    val payload = spark.read.json(
      batch.select(col("data").cast("string").as("value")).as[String])
    assert(payload.columns.sorted.toSeq ==
      Seq("balance", "description", "firstname", "id", "lastname"))
    assert(payload.filter(col("id").isNull || col("firstname").isNull).count() == 0)
    // 10-word description like the reference's Faker sentences.
    assert(payload.select(size(split(col("description"), " "))).head().getInt(0) == 10)
  }

  test("rate-source producer streams with throughput metering (A18)") {
    val cfg = StreamConfig("graft-stream", numShards = 10)
    val listener = new KinesisShaped.ThroughputListener
    spark.streams.addListener(listener)
    try {
      val q = KinesisShaped.bankAccountProducer(spark, cfg, recordsPerSecond = 500)
        .writeStream.format("memory").queryName("producer_out")
        .trigger(Trigger.ProcessingTime("500 milliseconds"))
        .start()
      Thread.sleep(4000)
      q.stop()
      val n = spark.table("producer_out").count()
      assert(n > 0, "rate producer emitted no rows")
      assert(listener.totalRows > 0, "throughput listener saw no progress")
    } finally spark.streams.removeListener(listener)
  }

  test("per-shard ordering: repartitionByShard + sortWithinPartitions preserves sequence") {
    import spark.implicits._
    val cfg = StreamConfig("graft-stream", numShards = 4)
    val batch = KinesisShaped.bankAccountBatch(spark, cfg, 2000)
    // Kinesis guarantees order WITHIN a shard; the Spark layout twin is
    // hash-repartition by shard + per-partition sort on sequence number.
    val laidOut = KinesisShaped.repartitionByShard(batch, cfg)
      .sortWithinPartitions(col("recordId").cast("long"))
    val violations = laidOut
      .select(col("shard"), col("recordId").cast("long").as("seq"))
      .as[(Int, Long)]
      .mapPartitions { it =>
        var bad = 0L
        var prev = Long.MinValue
        it.foreach { case (_, seq) =>
          if (seq < prev) bad += 1
          prev = seq
        }
        Iterator.single(bad)
      }.collect().sum
    assert(violations == 0, s"$violations out-of-order records within shards")
    assert(laidOut.rdd.getNumPartitions == 4)
  }

  test("EnvelopeSource seam: the file-replay connector drives the full " +
      "pipeline through the trait overload, records conserved") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-envsrc").toString
    val payloadSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType)))
    // 200 base64-wire envelope records — the Firehose transport form a
    // real connector would hand over after its own framing.
    val lines = spark.range(200).select(
      col("id").cast("string").as("recordId"),
      (lit(1700000000000L) + col("id")).as("approximateArrivalTimestamp"),
      base64(concat(to_json(struct(col("id").as("event_id"),
          (col("id") % 20).cast("double").as("value"))), lit("\n"))
        .cast("binary")).as("data"))
    lines.select(to_json(struct(col("recordId"),
        col("approximateArrivalTimestamp"), col("data"))))
      .coalesce(1).write.mode("overwrite").text(s"$tmp/in")
    val sinks = graft.streaming.DeliveryPipeline.Sinks(s"$tmp/out")
    val pipe = graft.streaming.DeliveryPipeline.start(spark,
      graft.sources.FileReplayEnvelopeSource(s"$tmp/in"),
      payloadSchema, sinks, s"$tmp/ckpt",
      dropIf = p => p.getField("value") < 5)
    assert(pipe.awaitTermination(120000))
    val delivered =
      graft.streaming.DeliveryPipeline.countChannel(spark, sinks.success)
    val backed =
      graft.streaming.DeliveryPipeline.countChannel(spark, sinks.backup)
    assert(backed == 200, s"backup saw $backed")
    assert(delivered == 150, s"value<5 drops 50 of 200: got $delivered")
    // The producer source satisfies the same contract (schema check
    // only — it is an unbounded rate stream).
    val prod = graft.sources.ProducerEnvelopeSource(
      StreamConfig("graft-seam", numShards = 4), recordsPerSecond = 10)
      .envelope(spark)
    assert(prod.isStreaming)
    assert(prod.columns.toSeq ==
      Seq("recordId", "approximateArrivalTimestamp", "data"))
  }

  test("FileReplay arrival clocks: reArrival stamps read time; a missing " +
      "historical field fails loud") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-clock").toString
    // Field-less legacy files — the form both new arms must handle.
    spark.range(3).select(col("id").cast("string").as("recordId"),
        base64(lit("x").cast("binary")).as("data"))
      .select(to_json(struct(col("recordId"), col("data"))))
      .coalesce(1).write.mode("overwrite").text(s"$tmp/in")
    // (a) reArrival = true: every record stamped with the read batch's
    // clock — one consistent, recent timeline.
    val arrivals = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.sources.FileReplayEnvelopeSource(s"$tmp/in", reArrival = true)
      .envelope(spark).writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val batch = b.select("approximateArrivalTimestamp").as[Long].collect()
        arrivals.synchronized { arrivals ++= batch }
        ()
      }
      .option("checkpointLocation", s"$tmp/ck1").start()
    q.processAllAvailable(); q.stop()
    assert(arrivals.size == 3 && arrivals.forall(_ > 1600000000000L),
      s"re-arrival stamps should be recent wall-clock: $arrivals")
    // (b) historical mode on the same field-less files: LOUD failure
    // naming the field, never a silent clock mix.
    val q2 = graft.sources.FileReplayEnvelopeSource(s"$tmp/in")
      .envelope(spark).writeStream.format("noop")
      .option("checkpointLocation", s"$tmp/ck2").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    try {
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("approximateArrivalTimestamp")),
        s"failure should name the missing field: ${msgs(ex)}")
    } finally q2.stop()
  }

  test("maintenance: delete-by-predicate, sharded index create/count/drop") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val cfg = StreamConfig("s", 4)
    KinesisShaped.bankAccountBatch(spark, cfg, 100)
      .select("recordId", "partitionKey", "shard")
      .write.mode("overwrite").parquet(s"$tmp/t")
    // A15: delete one shard's rows.
    val deleted = Maintenance.deleteWhere(spark, s"$tmp/t", col("shard") === 1)
    val remaining = spark.read.parquet(s"$tmp/t")
    assert(deleted > 0)
    assert(remaining.filter(col("shard") === 1).count() == 0)
    assert(remaining.count() == 100 - deleted)
    // A16/A13: sharded catalog table round-trip.
    Maintenance.createIndex("graft_test_index", remaining, shards = 4)
    assert(IndexSink.count(spark, "graft_test_index") == 100 - deleted)
    assert(spark.table("graft_test_index").rdd.getNumPartitions == 4)
    Maintenance.dropIndex(spark, "graft_test_index")
    assert(!spark.catalog.tableExists("graft_test_index"))
  }

  test("maintenance: deleteWhere self-heals from a crash mid-swap") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-maint-crash").toString
    spark.range(100).withColumn("shard", pmod(col("id"), lit(4)))
      .write.mode("overwrite").parquet(s"$tmp/t")
    // Crash state (b) from the deleteWhere scaladoc: the previous run
    // died between the two moves — table path missing, data parked in
    // `.old` — AND an earlier failed attempt left a stale rewrite tmp.
    Files.move(Paths.get(s"$tmp/t"), Paths.get(s"$tmp/t.old"))
    spark.range(5).write.mode("overwrite").parquet(s"$tmp/t.rewrite.tmp")
    val deleted = Maintenance.deleteWhere(spark, s"$tmp/t", col("shard") === 0)
    assert(deleted == 25, s"deleted $deleted")
    assert(spark.read.parquet(s"$tmp/t").count() == 75)
    // Recovery artifacts are gone — the next call starts clean.
    assert(!Files.exists(Paths.get(s"$tmp/t.old")))
    assert(!Files.exists(Paths.get(s"$tmp/t.rewrite.tmp")))
  }

  test("maintenance: upsertByKey replaces by id, inserts new keys, heals crashes, " +
      "rejects duplicate-key updates") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-maint-upsert").toString
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "v").write.mode("overwrite").parquet(s"$tmp/t")
    // Replace id 2, insert id 9; column order of updates differs from
    // the table's (unionByName contract).
    val up = Seq(("B2", 2L, 22), ("Z", 9L, 99)).toDF("name", "id", "v")
    val (updated, inserted) = Maintenance.upsertByKey(spark, s"$tmp/t", up, "id")
    assert((updated, inserted) == (1L, 1L))
    val got = spark.read.parquet(s"$tmp/t").as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "a", 10), (2L, "B2", 22), (3L, "c", 30), (9L, "Z", 99)))
    // Crash state: table parked in .old + a stale tmp — same healing
    // contract as deleteWhere.
    Files.move(Paths.get(s"$tmp/t"), Paths.get(s"$tmp/t.old"))
    spark.range(5).write.mode("overwrite").parquet(s"$tmp/t.rewrite.tmp")
    val (u2, i2) = Maintenance.upsertByKey(spark, s"$tmp/t",
      Seq((9L, "Z9", 100)).toDF("id", "name", "v"), "id")
    assert((u2, i2) == (1L, 0L))
    assert(spark.read.parquet(s"$tmp/t").count() == 4)
    assert(!Files.exists(Paths.get(s"$tmp/t.old")))
    assert(!Files.exists(Paths.get(s"$tmp/t.rewrite.tmp")))
    // Duplicate keys in the update frame are a caller bug — refused
    // loudly, table untouched.
    intercept[IllegalArgumentException] {
      Maintenance.upsertByKey(spark, s"$tmp/t",
        Seq((5L, "x", 1), (5L, "y", 2)).toDF("id", "name", "v"), "id")
    }
    assert(spark.read.parquet(s"$tmp/t").count() == 4)
    // A TARGET table carrying duplicate keys (plain appends): every
    // row of the replaced key is superseded, and the counts stay
    // key-based — (1 updated, 0 inserted), never a negative insert.
    Seq((7L, "d1", 1), (7L, "d2", 2), (8L, "e", 3))
      .toDF("id", "name", "v").write.mode("overwrite").parquet(s"$tmp/t2")
    val (u3, i3) = Maintenance.upsertByKey(spark, s"$tmp/t2",
      Seq((7L, "D", 9)).toDF("id", "name", "v"), "id")
    assert((u3, i3) == (1L, 0L))
    assert(spark.read.parquet(s"$tmp/t2").as[(Long, String, Int)].collect().toSet ==
      Set((7L, "D", 9), (8L, "e", 3)))
  }

  test("maintenance: expireEpochsBelow ages out log epochs, leaves the rest, " +
      "ignores non-epoch entries, and re-runs clean") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-maint-expire").toString
    (0L to 3L).foreach { e =>
      Files.createDirectories(Paths.get(s"$tmp/alerts/epoch=$e"))
      Files.write(Paths.get(s"$tmp/alerts/epoch=$e/part-0"), s"e$e".getBytes)
    }
    Files.createDirectories(Paths.get(s"$tmp/alerts/epoch=notanum"))
    Files.createDirectories(Paths.get(s"$tmp/alerts/epoch="))
    Files.createDirectories(Paths.get(s"$tmp/alerts/epoch=99999999999999999999"))
    Files.write(Paths.get(s"$tmp/alerts/_marker"), "x".getBytes)
    assert(Maintenance.expireEpochsBelow(s"$tmp/alerts", keepFrom = 2L) == 2L)
    assert(!Files.exists(Paths.get(s"$tmp/alerts/epoch=0")))
    assert(!Files.exists(Paths.get(s"$tmp/alerts/epoch=1")))
    assert(Files.exists(Paths.get(s"$tmp/alerts/epoch=2/part-0")))
    assert(Files.exists(Paths.get(s"$tmp/alerts/epoch=3/part-0")))
    assert(Files.exists(Paths.get(s"$tmp/alerts/epoch=notanum")))
    assert(Files.exists(Paths.get(s"$tmp/alerts/epoch=")))
    assert(Files.exists(Paths.get(s"$tmp/alerts/epoch=99999999999999999999")))
    assert(Files.exists(Paths.get(s"$tmp/alerts/_marker")))
    // Idempotent; absent roots are a no-op, not an error.
    assert(Maintenance.expireEpochsBelow(s"$tmp/alerts", keepFrom = 2L) == 0L)
    assert(Maintenance.expireEpochsBelow(s"$tmp/nosuch", keepFrom = 5L) == 0L)
  }

  test("dot_f is SQL-callable after extension registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT dot_f(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d").head().getDouble(0)
    assert(r == 11.0)
  }
}
