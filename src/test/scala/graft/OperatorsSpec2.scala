package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOfJoin, Skew}
import graft.streaming.{IndexSink, Sessionize}

class OperatorsSpec2 extends SparkSpec {

  test("AsOfJoin operator reproduces q12 exactly (single-shuffle form)") {
    import spark.implicits._
    val ev = queries.Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val got = AsOfJoin.asof(purchases, clicks,
        key = "user_id", leftTime = "ts", rightTime = "ts",
        rightValue = "event_id", rightOrder = "event_id", as = "asof_click_id")
      .select(col("event_id"), col("user_id"), col("asof_click_id"))
      .as[(Long, Long, Option[Long])].collect().toSet
    val expect = SparkEntry.queries("q12_asof_join")(spark, sfDir)
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(got == expect)
  }

  test("AsOfJoin: a most-recent right row with NULL value yields NULL, not a stale value") {
    import spark.implicits._
    val left = Seq((1L, 3L)).toDF("k", "lt")
    val right = Seq(
      (1L, 1L, Some(5L), 10L),
      (1L, 2L, None, 11L)) // most recent match — value genuinely NULL
      .toDF("k", "rt", "v", "ord")
    val out = AsOfJoin.asof(left, right, key = "k", leftTime = "lt",
      rightTime = "rt", rightValue = "v", rightOrder = "ord")
      .select("asof_value").as[Option[Long]].collect().toSeq
    assert(out == Seq(None),
      s"NULL right value must not fall back to an older row: $out")
    // And a left row BEFORE any right row still gets NULL (no match).
    val none = AsOfJoin.asof(Seq((1L, 0L)).toDF("k", "lt"), right,
      key = "k", leftTime = "lt", rightTime = "rt",
      rightValue = "v", rightOrder = "ord")
      .select("asof_value").as[Option[Long]].collect().toSeq
    assert(none == Seq(None))
  }

  test("sessionizeStream: an in-watermark LATE event cannot regress the open session") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess-late").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.map { case (u, ts) => s"""{"user_id": $u, "ts": "$ts"}""" }
        .toDF("value").coalesce(1).write.mode("append").text(s"$tmp/in")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    // 10-min gap, 30-min watermark: batch 1 delivers an event EARLIER
    // than the state's lastTs (late but inside the watermark) plus one
    // event gap-minutes after the TRUE last event. Before the min/max
    // fold fix, lastTs regressed to the late event and the 12:10 event
    // closed a corrupt end<start session.
    write(Seq((1L, "2024-01-01 12:00:00")))
    val src = spark.readStream.schema(schema).json(s"$tmp/in")
      .withWatermark("ts", "30 minutes").as[Sessionize.Event]
    val q = Sessionize.sessionizeStream(spark, src, gapMillis = 10 * 60 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_late_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.processAllAvailable()
    write(Seq((1L, "2024-01-01 11:55:00"), (1L, "2024-01-01 12:05:00")))
    q.processAllAvailable()
    write(Seq((2L, "2024-01-01 15:00:00"))) // advance watermark: flush user 1
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_late_out")
      .filter(col("user_id") === 1L)
      .select(date_format(col("session_start"), "HH:mm").as("s"),
        date_format(col("session_end"), "HH:mm").as("e"), col("n_events"))
      .as[(String, String, Long)].collect().toSet
    // ONE session [11:55, 12:05] x3 — start extended backward by the
    // late event, end never regressed, no split.
    assert(sessions == Set(("11:55", "12:05", 3L)), s"got $sessions")
  }

  test("sessionizeStream: a late event OUTSIDE the open session's window forms its own session") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess-split").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.map { case (u, ts) => s"""{"user_id": $u, "ts": "$ts"}""" }
        .toDF("value").coalesce(1).write.mode("append").text(s"$tmp/in")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    // 10-min gap, 40-min watermark. Batch 2 delivers 11:30 — in the
    // watermark, but 11:30 + gap <= 12:00: its session window does NOT
    // overlap the open [12:00] session. Merging them (the old
    // lastTs-distance-only guard) produced one [11:30, 12:05] session; a
    // batch replay yields two.
    write(Seq((1L, "2024-01-01 12:00:00")))
    val src = spark.readStream.schema(schema).json(s"$tmp/in")
      .withWatermark("ts", "40 minutes").as[Sessionize.Event]
    val q = Sessionize.sessionizeStream(spark, src, gapMillis = 10 * 60 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_split_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.processAllAvailable()
    write(Seq((1L, "2024-01-01 11:30:00"), (1L, "2024-01-01 12:05:00")))
    q.processAllAvailable()
    write(Seq((2L, "2024-01-01 15:00:00"))) // advance watermark: flush user 1
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_split_out")
      .filter(col("user_id") === 1L)
      .select(date_format(col("session_start"), "HH:mm").as("s"),
        date_format(col("session_end"), "HH:mm").as("e"), col("n_events"))
      .as[(String, String, Long)].collect().toSet
    assert(sessions == Set(("11:30", "11:30", 1L), ("12:00", "12:05", 2L)),
      s"got $sessions")
  }

  test("salted join matches plain join; salted count matches groupBy count") {
    import spark.implicits._
    val orders = queries.Tables.t(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey")
    val customer = queries.Tables.t(spark, sfDir, "customer")
      .select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, "o_custkey").count()
    val salted = Skew.saltedJoin(orders, customer, "o_custkey", 8).count()
    assert(salted == plain)
    val counts = Skew.saltedCount(orders, "o_custkey", 8)
      .as[(Long, Long)].collect().toMap
    val expect = orders.groupBy("o_custkey").agg(count(lit(1)))
      .as[(Long, Long)].collect().toMap
    assert(counts == expect)
  }

  test("index sink delivers Ok records to a queryable sharded view (A10/A13/A14)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-idx").toString
    val payloadSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val ev = queries.Tables.events(spark, sfDir).limit(300)
    ev.select(to_json(struct(
        col("event_id").cast("string").as("recordId"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"),
          col("value"))).as("line"))).as("value"))
      .coalesce(2).write.mode("overwrite").text(s"$tmp/in")
    val envelope = spark.readStream
      .schema(StructType(Seq(StructField("recordId", StringType), StructField("line", StringType))))
      .json(s"$tmp/in")
      .select(col("recordId"), lit(0L).as("approximateArrivalTimestamp"),
        col("line").cast("binary").as("data"))
    val q = IndexSink.start(envelope, payloadSchema, s"$tmp/index", s"$tmp/backup",
      s"$tmp/ckpt", shards = 4, dropIf = p => p.getField("value") < 10)
    q.awaitTermination(120000)

    IndexSink.registerView(spark, s"$tmp/index", "bank_index")
    val nOk = ev.filter(col("value") >= 10).count()
    assert(IndexSink.count(spark, "bank_index") == nOk)
    // The OpenSearch-style query surface is plain SQL over the view.
    val match_all = spark.sql("SELECT * FROM bank_index").count()
    assert(match_all == nOk)
    val term = spark.sql(
      "SELECT count(*) FROM bank_index WHERE event_type = 'purchase'").head().getLong(0)
    assert(term == ev.filter(col("value") >= 10 && col("event_type") === "purchase").count())
    // Backup carries ALL records (oss pipeline backs up AllDocuments) —
    // and byte-for-byte the PRE-transform source lines, not re-encoded
    // post-transform JSON (the reference backs up the source record).
    val rawLines = ev.select(to_json(struct(col("event_id"), col("user_id"),
        col("event_type"), col("value"))).as("value"))
      .as[String].collect().toSeq.sorted
    val backupLines = spark.read.text(s"$tmp/backup/*")
      .as[String].collect().toSeq.sorted
    assert(backupLines.size == 300)
    assert(backupLines == rawLines, "backup is not the raw source bytes")
  }

  test("analyzed match query: token-level OR/AND with overlap scoring") {
    import spark.implicits._
    Seq(
      (1L, "Routine deposit into savings account"),
      (2L, "ATM withdrawal fee charged"),
      (3L, "Deposit reversed; withdrawal pending review"),
      (4L, "Wire transfer completed"))
      .toDF("doc_id", "description").createOrReplaceTempView("match_idx")
    // OR (match default): any analyzed query token hits; case-folded and
    // punctuation-split on BOTH sides; scored by matched-token count.
    val or = IndexSink.matchQuery(spark, "match_idx", "description",
      "DEPOSIT withdrawal!")
      .select("doc_id", "_score").as[(Long, Int)].collect()
    assert(or.head._1 == 3L && or.head._2 == 2) // both tokens → ranked first
    assert(or.map(_._1).toSet == Set(1L, 2L, 3L))
    // AND: every query token must be present.
    val and = IndexSink.matchQuery(spark, "match_idx", "description",
      "deposit withdrawal", operator = "and")
      .select("doc_id").as[Long].collect().toSeq
    assert(and == Seq(3L))
    // No analyzed overlap → empty, even on substring-looking queries.
    assert(IndexSink.matchQuery(spark, "match_idx", "description", "depositing")
      .count() == 0)
  }

  test("ranked match: BM25 over the live view, OR/AND and top-k") {
    import spark.implicits._
    Seq(
      (1L, "Routine deposit into savings account"),
      (2L, "ATM withdrawal fee charged"),
      (3L, "Deposit reversed; withdrawal pending review"),
      (4L, "Wire transfer completed"))
      .toDF("doc_id", "description").createOrReplaceTempView("ranked_idx")
    val or = IndexSink.rankedMatch(spark, "ranked_idx", "description",
      "doc_id", "DEPOSIT withdrawal!")
      .as[(Long, Double)].collect()
    // Both-term doc first; single-term docs follow; no-term doc absent.
    assert(or.head._1 == 3L)
    assert(or.map(_._1).toSet == Set(1L, 2L, 3L))
    // Equal tf and idf for the singles — the shorter doc (2: 4 tokens
    // vs 1: 5) wins on length normalization.
    assert(or.map(_._1).toSeq == Seq(3L, 2L, 1L))
    assert(or.forall(_._2 > 0.0))
    // AND keeps only docs containing EVERY analyzed token.
    assert(IndexSink.rankedMatch(spark, "ranked_idx", "description",
      "doc_id", "deposit withdrawal", operator = "and")
      .as[(Long, Double)].collect().map(_._1).toSeq == Seq(3L))
    // top-k truncates the ranking, keeping the best.
    assert(IndexSink.rankedMatch(spark, "ranked_idx", "description",
      "doc_id", "deposit withdrawal", k = 2)
      .as[(Long, Double)].collect().map(_._1).toSeq == Seq(3L, 2L))
    // A query that analyzes to nothing fails loud, not empty-match-all.
    intercept[IllegalArgumentException] {
      IndexSink.rankedMatch(spark, "ranked_idx", "description", "doc_id", "!!!")
    }
    // The index-backed overload returns the identical ranking — same
    // analyzer, same scoring, postings instead of a view re-scan.
    val idx = IndexSink.textIndex(spark, "ranked_idx", "description", "doc_id")
    val viaIndex = IndexSink.rankedMatch(spark, idx, "doc_id",
      "DEPOSIT withdrawal!", "or", 10).as[(Long, Double)].collect().toSeq
    assert(viaIndex == or.toSeq)
    assert(IndexSink.rankedMatch(spark, idx, "doc_id",
      "deposit withdrawal", "and", 10)
      .as[(Long, Double)].collect().map(_._1).toSeq == Seq(3L))
  }

  test("index upsert: re-delivered recordId overwrites (last write wins)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val payloadSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType)))
    def deliver(rows: Seq[(String, Long, Double)]): Unit = {
      rows.map { case (rid, eid, v) =>
        s"""{"recordId": "$rid", "line": "{\\"event_id\\": $eid, \\"value\\": $v}"}"""
      }.toDF("value").coalesce(1).write.mode("append").text(s"$tmp/in")
      val env = spark.readStream
        .schema(StructType(Seq(StructField("recordId", StringType), StructField("line", StringType))))
        .json(s"$tmp/in")
        .select(col("recordId"), lit(0L).as("approximateArrivalTimestamp"),
          col("line").cast("binary").as("data"))
      val q = IndexSink.start(env, payloadSchema, s"$tmp/index", s"$tmp/backup",
        s"$tmp/ckpt", shards = 2, dropIf = _ => lit(false))
      q.awaitTermination(120000)
    }
    deliver(Seq(("a", 1L, 10.0), ("b", 2L, 20.0)))
    deliver(Seq(("a", 1L, 99.0))) // same doc id, new payload — an upsert
    // Raw history keeps both versions; the upsert view resolves to latest.
    IndexSink.registerView(spark, s"$tmp/index", "upsert_raw")
    assert(spark.table("upsert_raw").count() == 3)
    IndexSink.registerLatestView(spark, s"$tmp/index", "upsert_latest", "recordId")
    val latest = spark.table("upsert_latest")
      .select("recordId", "value").as[(String, Double)].collect().toMap
    assert(latest == Map("a" -> 99.0, "b" -> 20.0))
    // Compaction materializes the same snapshot.
    assert(IndexSink.compact(spark, s"$tmp/index", "recordId", shards = 2) == 2)
  }

  test("compact survives a stale tmp and a crash mid-deletion") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-compact-crash").toString
    val index = s"$tmp/index"
    val e0 = Seq(("a", 10.0, 0L), ("b", 20.0, 0L)).toDF("recordId", "value", "_epoch")
    e0.write.parquet(s"$index/epoch=0")
    Seq(("a", 99.0, 1L)).toDF("recordId", "value", "_epoch")
      .write.parquet(s"$index/epoch=1") // upsert of a
    // A crashed earlier attempt left a stale compact tmp — must be
    // dropped at entry, never merged into the snapshot.
    Seq(("junk", -1.0, 9L)).toDF("recordId", "value", "_epoch")
      .write.parquet(s"$tmp/index.compact.tmp")
    assert(IndexSink.compact(spark, index, "recordId", shards = 2) == 2)
    // Crash mid-deletion: the snapshot moved in but one old epoch never
    // got deleted. Re-plant it next to the snapshot.
    e0.write.mode("overwrite").parquet(s"$index/epoch=0")
    // The index stays CORRECT in this state: duplicates carry their
    // original _epoch, so last-write-per-key still resolves.
    IndexSink.registerLatestView(spark, index, "crash_latest", "recordId")
    assert(spark.table("crash_latest").select("recordId", "value")
      .as[(String, Double)].collect().toMap == Map("a" -> 99.0, "b" -> 20.0))
    // A re-run compacts the remainder under a bumped generation.
    assert(IndexSink.compact(spark, index, "recordId", shards = 2) == 2)
    val dirs = Files.list(Paths.get(index))
    val names = try { import scala.jdk.CollectionConverters._
      dirs.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("epoch=")).toSet } finally dirs.close()
    assert(names == Set("epoch=compact-2"), s"got $names")
    IndexSink.registerLatestView(spark, index, "crash_latest2", "recordId")
    assert(spark.table("crash_latest2").select("recordId", "value")
      .as[(String, Double)].collect().toMap == Map("a" -> 99.0, "b" -> 20.0))
  }

  test("a crashed compaction's manifest heals the raw count at next registration") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-compact-heal").toString
    val index = s"$tmp/index"
    val e0 = Seq(("a", 10.0, 0L), ("b", 20.0, 0L)).toDF("recordId", "value", "_epoch")
    e0.write.parquet(s"$index/epoch=0")
    assert(IndexSink.compact(spark, index, "recordId", shards = 2) == 2)
    // Reconstruct the exact crash window: snapshot renamed in, victim
    // deletion never ran, manifest still present. The manifest lives
    // OUTSIDE the root (a sibling, like .compact.tmp) so the raw-read
    // glob can never try to parse it as parquet.
    val manifest = s"$index.compact.inflight"
    e0.write.mode("overwrite").parquet(s"$index/epoch=0")
    Files.write(Paths.get(manifest),
      "epoch=compact-1\nepoch=0\nEND\n".getBytes("UTF-8"))
    IndexSink.registerView(spark, index, "healed_raw")
    assert(!Files.exists(Paths.get(s"$index/epoch=0")),
      "heal must finish the crashed deletion")
    assert(!Files.exists(Paths.get(manifest)),
      "spent manifest must be removed")
    assert(spark.table("healed_raw").count() == 2,
      "raw count (the A13 surface) stayed inflated after heal")
    // An INCOMPLETE manifest (no END terminator — crash mid-manifest-
    // write, i.e. BEFORE any rename) must not be trusted: victims stay,
    // the torn manifest is discarded.
    e0.write.mode("overwrite").parquet(s"$index/epoch=0")
    Files.write(Paths.get(manifest),
      "epoch=compact-1\nepoch=0".getBytes("UTF-8"))
    IndexSink.registerView(spark, index, "torn_raw")
    assert(Files.exists(Paths.get(s"$index/epoch=0")),
      "torn manifest's victim list must not be acted on")
    assert(!Files.exists(Paths.get(manifest)),
      "torn manifest must still be discarded")
    assert(spark.table("torn_raw").count() == 4) // duplicates, but nothing lost
  }

  test("an unreadable manifest is kept for a later heal, not discarded") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-compact-unreadable").toString
    val index = s"$tmp/index"
    val e0 = Seq(("a", 10.0, 0L), ("b", 20.0, 0L)).toDF("recordId", "value", "_epoch")
    e0.write.parquet(s"$index/epoch=0")
    assert(IndexSink.compact(spark, index, "recordId", shards = 2) == 2)
    // Crash window again: snapshot in, victim deletion pending, manifest
    // present — but this time the manifest READ fails transiently. The
    // local FS is checksummed, so writing through it and then corrupting
    // the data bytes underneath (same length, crc untouched) makes every
    // read throw ChecksumException — exactly a transient-fault shape.
    e0.write.mode("overwrite").parquet(s"$index/epoch=0")
    val manifest = s"$index.compact.inflight"
    val mfPath = new org.apache.hadoop.fs.Path(manifest)
    val fs = mfPath.getFileSystem(spark.sessionState.newHadoopConf())
    val good = "epoch=compact-1\nepoch=0\nEND\n".getBytes("UTF-8")
    val out = fs.create(mfPath, true)
    try out.write(good) finally out.close()
    Files.write(Paths.get(manifest),
      "Xpoch=compact-1\nepoch=0\nEND\n".getBytes("UTF-8"))
    // Registration proceeds (duplicates are masked by latest-view
    // resolution), but the manifest MUST survive: deleting it here would
    // orphan the pending deletions and inflate the raw count until a
    // manual full compact.
    IndexSink.registerView(spark, index, "unreadable_raw")
    assert(Files.exists(Paths.get(manifest)),
      "manifest must survive a failed read — its deletions are pending")
    assert(Files.exists(Paths.get(s"$index/epoch=0")),
      "victims must not be touched when the manifest cannot be read")
    assert(spark.table("unreadable_raw").count() == 4) // inflated, not lost
    // Fault clears (rewrite restores a readable manifest + fresh crc):
    // the very next registration completes the heal.
    val out2 = fs.create(mfPath, true)
    try out2.write(good) finally out2.close()
    IndexSink.registerView(spark, index, "recovered_raw")
    assert(!Files.exists(Paths.get(s"$index/epoch=0")))
    assert(!Files.exists(Paths.get(manifest)))
    assert(spark.table("recovered_raw").count() == 2)
  }

  test("sessionizeStream carries the open session ACROSS micro-batches") {
    import spark.implicits._
    import java.sql.Timestamp
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess").toString
    def write(name: String, rows: Seq[(Long, String)]): Unit =
      rows.map { case (u, ts) => s"""{"user_id": $u, "ts": "$ts"}""" }
        .toDF("value").coalesce(1).write.mode("append").text(s"$tmp/in")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    // Batch 0 opens user 1's session; batch 1 extends it (within the
    // 30-min gap) and advances the watermark far past its close.
    write("b0", Seq((1L, "2024-01-01 12:00:00")))
    val src = spark.readStream.schema(schema).json(s"$tmp/in")
      .withWatermark("ts", "1 minute").as[Sessionize.Event]
    val q = Sessionize.sessionizeStream(spark, src, gapMillis = 30 * 60 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.processAllAvailable()
    write("b1", Seq((1L, "2024-01-01 12:10:00"), (2L, "2024-01-01 14:00:00")))
    q.processAllAvailable()
    write("b2", Seq((2L, "2024-01-01 15:00:00"))) // tick: fires the timeout
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_out")
      .select(col("user_id"), date_format(col("session_start"), "HH:mm").as("s"),
        col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    // ONE session 12:00 x2 for user 1 — not two split singletons.
    assert(sessions.contains((1L, "12:00", 2L)), s"got $sessions")
    assert(!sessions.contains((1L, "12:00", 1L)) && !sessions.contains((1L, "12:10", 1L)),
      s"session split across micro-batches: $sessions")
  }

  test("flatMapGroupsWithState sessionization agrees with session_window (q38)") {
    import spark.implicits._
    val ev = queries.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts")).as[Sessionize.Event]
    val got = Sessionize.sessionize(spark, ev, gapMillis = 30 * 60 * 1000)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    val expect = SparkEntry.queries("q38_session_window")(spark, sfDir)
      .as[(Long, String, Long)].collect().toSet
    assert(got == expect)
  }

  test("int8 quantization: bounded codes, scale invariance, zero-vector safety") {
    import spark.implicits._
    import graft.operators.Quantize
    val vecs = Seq(
      (0L, Array(1.0f, -2.0f, 0.5f, 4.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // directionless
      (2L, Array(-0.25f, 0.25f, 0.125f, -1.0f))
    ).toDF("id", "embedding")
    val coded = vecs.select(col("id"), Quantize.int8Codes(col("embedding")).as("codes"))
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    // Bounds + the max-|x| component hitting exactly +/-127.
    coded.foreach { case (_, cs) => assert(cs.forall(c => c >= -127 && c <= 127)) }
    // mx=4 -> scale 31.75: floor(31.75+0.5)=32, floor(-63.5+0.5)=-63,
    // floor(15.875+0.5)=16, floor(127+0.5)=127.
    assert(coded(0)._2 == Seq(32L, -63L, 16L, 127L))
    // A zero vector codes to zeros (no division blowup)...
    assert(coded(1)._2.forall(_ == 0L))
    // ...and scores -1.0 against everything (cosSafe contract).
    val z = vecs.select(col("id"), Quantize.int8Codes(col("embedding")).as("codes"))
    val scored = Quantize.topKQuantized(z, z.filter(col("id") === 1), 2)
      .orderBy("rnk").collect()
    assert(scored.forall(_.getDouble(2) == -1.0))
    // Scale invariance: quantizing 3x the vector yields the SAME codes
    // (per-vector symmetric scaling), so quantized cosine is exactly
    // scale-free — the property that lets the scales be dropped.
    val tripled = vecs.select(col("id"),
      Quantize.int8Codes(transform(col("embedding"), x => x * 3.0f)).as("codes"))
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(tripled.map(_._2).toSeq == coded.map(_._2).toSeq)
  }

  test("quantized ANN top-k tracks the exact float top-k (recall sanity)") {
    import graft.operators.{Quantize, Similarity}
    val emb = queries.Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val coded = emb.select(col("id"), Quantize.int8Codes(col("embedding")).as("codes"))
    val got = Quantize.topKQuantized(coded, coded.filter(col("id") < 5), 5)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.topKPerProbe(emb, emb.filter(col("id") < 5), 5)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Int8 error on d=64 unit-ish vectors perturbs cosines by ~1e-2;
    // most of the exact top-5 must survive quantization.
    val overlap = got.intersect(exact).size.toDouble / exact.size
    assert(overlap >= 0.6, s"quantized recall too low: $overlap (got=$got exact=$exact)")
  }

  test("two-stage retrieval: quantized shortlist + float re-rank recovers the exact top-k") {
    import graft.operators.{Quantize, Similarity}
    val emb = queries.Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val probes = emb.filter(col("id") < 5)
    // Shortlist 4x k: stage 1 touches only int8 codes, stage 2 re-scores
    // ~20 float vectors per probe — and lands on the SAME ranking as the
    // full-precision brute force over the whole corpus.
    val got = Quantize.topKReranked(emb, probes, k = 5, shortlist = 20)
      .select(col("probe_id"), col("neighbor_id"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Similarity.topKPerProbe(emb, probes, 5)
      .select(col("probe_id"), col("neighbor_id"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact, s"re-rank diverged from exact top-k: got=$got exact=$exact")
  }
  test("vector expressions: a null ELEMENT yields NULL, never a silent 0 read") {
    import spark.implicits._
    import graft.functions.VectorFunctions.{dot_f, dot_l, quantize_i8}
    // Codegen path: element nullability comes from the DataFrame schema.
    val df = Seq(
      (1L, Seq[Option[Float]](Some(1.0f), None, Some(2.0f)),
        Seq[Option[Long]](Some(3L), None)),
      (2L, Seq[Option[Float]](Some(1.0f), Some(2.0f)),
        Seq[Option[Long]](Some(3L), Some(4L))))
      .toDF("id", "fv", "lv")
    val got = df.select(col("id"),
        dot_f(col("fv"), col("fv")).as("ff"),
        dot_l(col("lv"), col("lv")).as("ll"),
        quantize_i8(col("fv")).as("q"))
      .orderBy("id").collect()
    assert(got(0).isNullAt(1) && got(0).isNullAt(2) && got(0).isNullAt(3),
      s"null element must null the result: ${got(0)}")
    assert(got(1).getDouble(1) == 5.0 && got(1).getLong(2) == 25L && !got(1).isNullAt(3))
    // Interpreted path: both sides foldable literals -> ConstantFolding
    // runs the expression's eval (not codegen) at optimization time.
    val lit0 = spark.range(1).select(
      dot_f(array(lit(1.0f), lit(null).cast("float")),
        array(lit(1.0f), lit(1.0f))).as("d"))
    assert(lit0.head.isNullAt(0), "interpreted eval must propagate element nulls")
  }

  test("bruteForceTopPairs skips null embeddings instead of crashing the kernel") {
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.01f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .unionByName(Seq(Tuple1(99L)).toDF("vec_id")
        .withColumn("embedding", lit(null).cast("array<float>")))
    val top = Similarity.bruteForceTopPairs(spark, vecs, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top.head == (1L, 2L), s"nearest pair wrong: ${top.toSeq}")
    assert(!top.exists(p => p._1 == 99L || p._2 == 99L), "null row leaked into pairs")
  }

  test("Ivf fails loud on a NaN component (no silent phantom cell)") {
    import spark.implicits._
    import graft.operators.Ivf
    val bad = Seq((1L, Array(0.0f, 1.0f)), (2L, Array(Float.NaN, 0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] { Ivf.train(spark, bad, k = 1, iters = 1) }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("no nearest centroid")), s"unexpected failure: $e")
  }

  test("Ivf.prototypes picks each cell's nearest member with vec_id tie-break") {
    import spark.implicits._
    import graft.operators.Ivf
    // Two well-separated clusters around (0,0) and (10,10); k-means
    // from the first two vectors converges to one cell per cluster.
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)),
      (4L, Array(9.0f, 10.0f)), (5L, Array(10.0f, 9.0f)),
      (6L, Array(11.0f, 11.0f))).toDF("vec_id", "embedding")
    val model = Ivf.train(spark, emb, k = 2, iters = 3)
    val indexed = Ivf.index(emb, model)
    val got = Ivf.prototypes(spark, indexed, model)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(got.length == 2, s"one prototype per non-empty cell: ${got.toSeq}")
    // Local replay: same assignment metric (float diff/square, double
    // sum), argmin per cell with ties to the smaller vec_id.
    val vecs = Seq(0L -> Array(0f, 0f), 1L -> Array(10f, 10f), 2L -> Array(1f, 0f),
      3L -> Array(0f, 1f), 4L -> Array(9f, 10f), 5L -> Array(10f, 9f),
      6L -> Array(11f, 11f))
    def sq(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += (t * t).toDouble; i += 1 }
      s
    }
    val cents = model.centroids.toMap
    val want = vecs
      .map { case (id, v) =>
        val cell = model.centroids.minBy { case (c, cv) => (sq(v, cv), c) }._1
        (cell, id, sq(v, cents(cell)))
      }
      .groupBy(_._1).view
      .mapValues(_.minBy { case (_, id, d) => (d, id) }).values.toSeq
      .sortBy(_._1)
    assert(got.toSeq == want, s"got ${got.toSeq}, want $want")
    // Every prototype is a member of its own cell (the sqdist_f /
    // nearest bit-parity claim, asserted rather than assumed).
    val cellOf = indexed.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    got.foreach { case (cell, id, _) => assert(cellOf(id) == cell) }
  }
}
