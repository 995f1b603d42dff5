package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{EpochStore, IndexSink, LiveNearDedup, LiveSpanDedup, LiveTextIndex}

/** Crash/replay protocol tests for the incrementally-maintained stores:
  * the windows a live delivery + maintenance interleaving actually
  * opens, driven through the public API with surgical file deletions
  * standing in for the crash points.
  *
  * Two properties under test, for BOTH two-store designs:
  *
  *  1. REPLAY IDEMPOTENCE — `foreachBatch` is at-least-once: a crash
  *     after an epoch's writes but before the checkpoint offset commit
  *     re-runs the epoch. The rewritten delta must land identical
  *     state; for LiveSpanDedup that specifically means the retraction
  *     must read only epochs STRICTLY EARLIER than the replayed one
  *     (the epoch's own already-landed marker must not satisfy its own
  *     retraction lookup, which would retract the just-added grams and
  *     skip the real superseded version).
  *
  *  2. IN-FLIGHT EPOCHS SURVIVE COMPACTION — the activation marker
  *     lives in a SIBLING store and is written last, so a compaction
  *     that lists a data dir whose marker has not landed must neither
  *     resolve it (the currency join would drop every row) nor delete
  *     it (the rename-then-delete protocol would destroy the only
  *     copy). Unactivated dirs ride; the delivery completes on replay.
  */
class LiveStoreProtocolSpec extends SparkSpec {

  test("LiveSpanDedup: replaying an epoch whose marker already landed " +
      "rewrites identical state (retraction reads strictly-earlier epochs)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-span-replay")
      .toString + "/state"
    val k = 3
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    def spans(): Set[(Long, Long, Long)] =
      LiveSpanDedup.duplicatedSpans(spark, root, k, idType = LongType)
        .as[(Long, Long, Long)].collect().toSet

    val e0 = Seq(1L -> "alpha beta gamma delta unique text one",
      2L -> "some other words alpha beta gamma delta here")
    val e1 = Seq(1L -> "rewritten with nothing shared anymore")
    LiveSpanDedup.writeDelta(toks(e0), root, 0L, k)
    LiveSpanDedup.writeDelta(toks(e1), root, 1L, k)
    // The upsert removed doc 1's copy of the run: no spans remain.
    val settled = spans()
    assert(settled.isEmpty, s"expected no spans after retraction: $settled")
    // At-least-once replay of epoch 1 (its docs marker is on disk):
    // must rewrite the same retraction, not retract its own grams.
    LiveSpanDedup.writeDelta(toks(e1), root, 1L, k)
    assert(spans() == settled, "replay changed the gram state")
    // And a third party arriving later still sees correct counts: a
    // new doc re-adding the run pairs with doc 2's surviving copy.
    LiveSpanDedup.writeDelta(
      toks(Seq(3L -> "again alpha beta gamma delta appears")), root, 2L, k)
    assert(spans().map(_._1) == Set(2L, 3L))
  }

  test("compaction snapshots of O(docs) stores are keyed and sized by " +
      "row count — partition count grows with the store") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-span-snap")
      .toString + "/state"
    def toks(ids: Range) = ids.map(i =>
        (i.toLong, Seq(s"t$i", s"u$i", s"v$i", s"w$i"))).toDF("doc_id", "toks")
    def partFiles(dir: java.io.File): Array[java.io.File] =
      dir.listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    def snapshotFiles(): Array[java.io.File] = {
      val snap = new java.io.File(s"$root/docs").listFiles()
        .filter(_.getName.startsWith("epoch=compact-"))
      assert(snap.length == 1, snap.mkString(","))
      partFiles(snap.head)
    }
    // 120 docs at 25 rows/partition → ceil(120/25) = 5 hash
    // partitions; the old repartition(1) layout wrote exactly one.
    val sized = s"$root-sized"
    EpochStore.writeKeyedSnapshot(toks(0 until 120), sized, "doc_id", rowsPerPart = 25)
    val spread = partFiles(new java.io.File(sized)).length
    assert(spread >= 4, s"keyed snapshot should spread over ~5 files: $spread")
    // Default sizing keeps the compaction snapshot of a (tiny) store at
    // one file — the small-store layout — across generations, and the
    // read-side truth is unchanged.
    LiveSpanDedup.writeDelta(toks(0 until 60), root, 0L, k = 3)
    LiveSpanDedup.writeDelta(toks(60 until 120), root, 1L, k = 3)
    LiveSpanDedup.compact(spark, root)
    assert(snapshotFiles().length == 1)
    LiveSpanDedup.writeDelta(toks(120 until 130), root, 2L, k = 3)
    LiveSpanDedup.compact(spark, root)
    assert(snapshotFiles().length == 1)
    assert(LiveSpanDedup.duplicatedSpans(spark, root, 3,
      idType = LongType).count() == 0) // all docs distinct: no dup spans
  }

  test("LiveSpanDedup: an occ dir without its docs marker (in-flight " +
      "delivery) survives compaction and completes on replay") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-span-inflight")
      .toString + "/state"
    val k = 3
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    def spans(): Set[(Long, Long, Long)] =
      LiveSpanDedup.duplicatedSpans(spark, root, k, idType = LongType)
        .as[(Long, Long, Long)].collect().toSet

    val e0 = Seq(1L -> "shared run one two three four ends",
      2L -> "prefix one two three four suffix")
    LiveSpanDedup.writeDelta(toks(e0), root, 0L, k)
    val before = spans()
    assert(before.map(_._1) == Set(1L, 2L))
    // Epoch 1 crashes right after its occ write: counts + docs missing.
    val e1 = Seq(3L -> "echo one two three four again")
    LiveSpanDedup.writeDelta(toks(e1), root, 1L, k)
    deleteDir(s"$root/counts/epoch=1")
    deleteDir(s"$root/docs/epoch=1")
    assert(spans() == before, "unactivated epoch must be invisible")
    // Compaction must leave the in-flight occ dir alone — resolving it
    // against a currency that has never heard of epoch 1 would drop
    // every row from the snapshot and then delete the only copy.
    LiveSpanDedup.compact(spark, root, shards = 2)
    assert(dirExists(s"$root/occ/epoch=1"),
      "compaction deleted an unactivated in-flight epoch")
    assert(spans() == before)
    // The streaming replay completes the delivery; doc 3 now counts.
    LiveSpanDedup.writeDelta(toks(e1), root, 1L, k)
    assert(spans().map(_._1) == Set(1L, 2L, 3L))
    // And the next compaction folds it in normally.
    LiveSpanDedup.compact(spark, root, shards = 2)
    assert(spans().map(_._1) == Set(1L, 2L, 3L))
  }

  test("LiveSpanDedup: replaying an epoch AFTER compaction folded it is " +
      "a no-op (the watermark fence) — counts cannot be re-derived from " +
      "post-compaction state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-span-fence")
      .toString + "/state"
    val k = 3
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    def spans(): Set[(Long, Long, Long)] =
      LiveSpanDedup.duplicatedSpans(spark, root, k, idType = LongType)
        .as[(Long, Long, Long)].collect().toSet

    // Docs A(1) and B(2) share a run; epoch 1 upserts A without it.
    LiveSpanDedup.writeDelta(toks(Seq(
      1L -> "alpha beta gamma delta from the first doc",
      2L -> "second doc repeats alpha beta gamma delta run")), root, 0L, k)
    LiveSpanDedup.writeDelta(
      toks(Seq(1L -> "fresh text sharing nothing at all")), root, 1L, k)
    val settled = spans()
    assert(settled.isEmpty, s"retraction should clear all spans: $settled")
    // Compaction folds both epochs (destroying A@0 — the state the
    // retraction was derived from) and advances the replay fence.
    LiveSpanDedup.compact(spark, root, shards = 2)
    // At-least-once replay of epoch 1 (crash happened before the
    // offset commit): without the fence this would recompute a
    // gross-only delta (no earlier version of A exists any more) and
    // resurrect B's span. It must be a no-op.
    LiveSpanDedup.writeDelta(
      toks(Seq(1L -> "fresh text sharing nothing at all")), root, 1L, k)
    assert(spans() == settled,
      "replay after compaction corrupted the folded counts")
    // New epochs above the fence still apply normally.
    LiveSpanDedup.writeDelta(
      toks(Seq(3L -> "third doc with alpha beta gamma delta too")), root, 2L, k)
    assert(spans().map(_._1) == Set(2L, 3L))
  }

  test("LiveNearDedup: in-flight sig dir (no docs marker) is invisible, " +
      "survives compaction, and completes on replay; a marker-present " +
      "replay and a post-fold replay both leave state unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-neardup-proto")
      .toString + "/state"
    val base = "the quick brown fox jumps over the lazy dog by the river bank"
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    def pairs(): Set[(Long, Long)] =
      LiveNearDedup.candidatePairs(spark, root, idType = LongType)
        .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet

    LiveNearDedup.writeDelta(docs(Seq(
      1L -> base,
      2L -> "unrelated second document about spark plans and shuffles")), root, 0L)
    assert(pairs().isEmpty)
    // Epoch 1 crashes right after its sig write: docs marker missing —
    // doc 3's near-copy signature must be INVISIBLE (currency defines
    // membership), and compaction must neither resolve nor delete the
    // unactivated dir.
    LiveNearDedup.writeDelta(
      docs(Seq(3L -> base.replace("dog", "owl"))), root, 1L)
    deleteDir(s"$root/docs/epoch=1")
    assert(pairs().isEmpty, "unactivated epoch must be invisible")
    LiveNearDedup.compact(spark, root, shards = 2)
    assert(dirExists(s"$root/sig/epoch=1"),
      "compaction deleted an unactivated in-flight epoch")
    // The streaming replay completes the delivery (marker absent →
    // lease-free path), and the cross-epoch pair appears.
    LiveNearDedup.writeDelta(
      docs(Seq(3L -> base.replace("dog", "owl"))), root, 1L)
    assert(pairs() == Set((1L, 3L)))
    // Marker-present replay (crash before offset commit): rewrites
    // identical state under the lease.
    LiveNearDedup.writeDelta(
      docs(Seq(3L -> base.replace("dog", "owl"))), root, 1L)
    assert(pairs() == Set((1L, 3L)))
    // Fold everything; a replay of the folded epoch must be a no-op
    // (the fence) — its dirs must NOT be resurrected.
    LiveNearDedup.compact(spark, root, shards = 2)
    assert(!dirExists(s"$root/sig/epoch=1"))
    LiveNearDedup.writeDelta(
      docs(Seq(3L -> base.replace("dog", "owl"))), root, 1L)
    assert(!dirExists(s"$root/sig/epoch=1"),
      "post-fold replay resurrected a folded epoch dir")
    assert(pairs() == Set((1L, 3L)))
    // New epochs above the fence still apply: upsert doc 3 away — the
    // pair retracts through currency resolution alone.
    LiveNearDedup.writeDelta(
      docs(Seq(3L -> "rewritten into something else entirely new")), root, 2L)
    assert(pairs().isEmpty)
  }

  test("EpochStore: committed-empty epoch dirs (zero-row deliveries, " +
      "never activated) are folded away instead of riding forever") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-span-empty")
      .toString + "/state"
    val k = 3
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    LiveSpanDedup.writeDelta(toks(Seq(
      1L -> "alpha beta gamma delta once",
      2L -> "twice alpha beta gamma delta")), root, 0L, k)
    // Epoch 1 delivers zero docs (all records routed to the error
    // channel): committed dirs with no rows, hence no marker rows and
    // no activation — without the committed-empty rule they could
    // never become compaction victims.
    LiveSpanDedup.writeDelta(toks(Seq.empty[(Long, String)]), root, 1L, k)
    assert(dirExists(s"$root/occ/epoch=1"))
    LiveSpanDedup.compact(spark, root, shards = 2)
    assert(!dirExists(s"$root/occ/epoch=1"),
      "committed-empty epoch dir should have been folded away")
    assert(LiveSpanDedup.duplicatedSpans(spark, root, k, idType = LongType)
      .as[(Long, Long, Long)].collect().map(_._1).toSet == Set(1L, 2L))
  }

  test("multi-store compactions serialize under one index-level lease: a " +
      "held index lease blocks compact (which throws past its timeout) " +
      "instead of letting sibling-store passes interleave") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-index-lease")
    val textRoot = base.toString + "/index"
    val spanRoot = base.toString + "/state"
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    LiveTextIndex.writeDelta(
      toks(Seq(1L -> "mortgage approved")).withColumn("doc_id",
        col("doc_id").cast("string")), textRoot, 0L)
    LiveSpanDedup.writeDelta(toks(Seq(
      1L -> "alpha beta gamma delta once",
      2L -> "twice alpha beta gamma delta")), spanRoot, 0L, k = 3)
    val fs = new org.apache.hadoop.fs.Path(base.toString)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // A foreign maintainer holds each INDEX's coordinator lease (fresh,
    // heartbeating): both compacts must refuse to run rather than race
    // its cross-store reads, and must say so loudly past the timeout.
    for ((root, doCompact) <- Seq[(String, () => Unit)](
        (textRoot, () => { LiveTextIndex.compact(spark, root = textRoot,
          shards = 2, leaseTimeoutMs = 300L); () }),
        (spanRoot, () => { LiveSpanDedup.compact(spark, root = spanRoot,
          shards = 2, leaseTimeoutMs = 300L); () }))) {
      val held = graft.streaming.MaintenanceLease.acquire(fs,
        new org.apache.hadoop.fs.Path(root + ".maintenance.lease")).get
      try intercept[java.io.IOException](doCompact())
      finally held.close()
      doCompact() // freed: the same compact proceeds normally
    }
    // And both indexes still answer correctly after the real compacts.
    assert(IndexSink.rankedMatch(spark, LiveTextIndex.read(spark, textRoot),
        "doc_id", "mortgage", "or", 10)
      .select(col("doc_id").cast("long")).as[Long].collect().toSet == Set(1L))
    assert(LiveSpanDedup.duplicatedSpans(spark, spanRoot, 3, idType = LongType)
      .as[(Long, Long, Long)].collect().map(_._1).toSet == Set(1L, 2L))
  }

  test("LiveSpanDedup: the retraction lookup's bucket filter is PUSHED " +
      "into the occ-store parquet scan (file/row-group pruning, not a " +
      "full-store scan per upsert)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-span-bucket")
      .toString + "/state"
    val k = 3
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    LiveSpanDedup.writeDelta(toks(Seq(
      1L -> "alpha beta gamma delta once",
      2L -> "twice alpha beta gamma delta")), root, 0L, k)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      LiveSpanDedup.occForDocs(spark, root, LongType,
        Seq(1L).toDF("doc_id")).explain("formatted")
    }
    val plan = out.toString("UTF-8")
    // A single candidate bucket collapses the IN to an EqualTo; either
    // way it must reach the scan's PushedFilters.
    assert("PushedFilters:.*(In|EqualTo)\\(bk".r.findFirstIn(plan).nonEmpty,
      s"bucket filter not pushed to the occ scan:\n$plan")
    // And the prefilter is a SUPERSET that the doc_id join makes exact:
    // doc 1's rows are all present, rows outside its bucket are gone.
    val got = LiveSpanDedup.occForDocs(spark, root, LongType,
        Seq(1L).toDF("doc_id"))
      .filter(col("doc_id") === 1L).count()
    val all = LiveSpanDedup.occForDocs(spark, root, LongType,
        (1L to 2L).toDF("doc_id"))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(got == 3, s"doc 1 should have 3 gram occurrences, got $got")
    assert(all == Set(1L, 2L))
  }

  test("LiveTextIndex: a stats delta without its doclen marker does not " +
      "count (no-transient activation) and activates once the replay " +
      "completes the delivery") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-text-stats")
      .toString + "/index"
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id").cast("string").as("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    def stats(): (Double, Option[Double]) = {
      val r = LiveTextIndex.read(spark, root).stats
        .select(col("n"), col("avgdl")).head
      (r.getDouble(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }
    LiveTextIndex.writeDelta(
      toks(Seq(1L -> "three word doc", 2L -> "five little words right here")),
      root, 0L)
    assert(stats() == (2.0, Some(4.0)))
    // Epoch 1 crashes between the stats write and the doclen marker:
    // the delta is on disk but must not count — BM25's (n, avgdl) would
    // otherwise reflect a delivery whose postings are not active yet.
    LiveTextIndex.writeDelta(toks(Seq(3L -> "one more tiny doc arrives")),
      root, 1L)
    deleteDir(s"$root/doclen/epoch=1")
    assert(dirExists(s"$root/stats/epoch=1"))
    assert(stats() == (2.0, Some(4.0)),
      "an unactivated stats delta leaked into the collection statistics")
    // The replay completes the delivery; the delta activates exactly once.
    LiveTextIndex.writeDelta(toks(Seq(3L -> "one more tiny doc arrives")),
      root, 1L)
    assert(stats() == (3.0, Some(13.0 / 3)))
    // Compaction changes nothing observable; an UPSERT that shrinks a
    // doc retracts its old contribution from the telescoped sum.
    LiveTextIndex.compact(spark, root, shards = 2)
    assert(stats() == (3.0, Some(13.0 / 3)))
    LiveTextIndex.writeDelta(toks(Seq(2L -> "two words")), root, 2L)
    assert(stats() == (3.0, Some(10.0 / 3)))
    // Plan pin for the sidecar's point: the stats subtree scans the
    // stats store's one-row deltas only — never the doclen store the
    // O(docs) aggregate used to pay for.
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      LiveTextIndex.read(spark, root).stats.explain("formatted")
    }
    val plan = out.toString("UTF-8")
    assert(plan.contains("/stats/"), s"stats should scan the sidecar:\n$plan")
    assert(!plan.contains("/doclen/"),
      s"sidecar-backed stats must not scan the doclen store:\n$plan")
  }

  test("LiveTextIndex: an upsert delta writes each store in one query " +
      "and collects nothing to the driver") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val root = java.nio.file.Files.createTempDirectory("graft-text-jobs")
      .toString + "/index"
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id").cast("string").as("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    LiveTextIndex.writeDelta(toks(Seq(1L -> "three word doc",
      2L -> "five little words right here")), root, 0L)
    // Each executed query by what it does: the store dir it writes, or
    // "action" for one that returns rows to the driver.
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    observingQueries(qe => queries.add(qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString.stripPrefix("file:").stripPrefix(root + "/")
    }.getOrElse("action"))) {
      LiveTextIndex.writeDelta(toks(Seq(2L -> "two words", 3L -> "a new doc")),
        root, 1L)
    }
    assert(queries.toArray.toSeq.filterNot(_.toString.contains("graft-marker")) ==
      Seq("postings/epoch=1", "stats/epoch=1", "doclen/epoch=1"))
    val r = LiveTextIndex.read(spark, root).stats.select("n", "avgdl").head
    assert((r.getDouble(0), r.getDouble(1)) == (3.0, 8.0 / 3))
  }

  test("EpochStore.status: the operational surface reports delta backlog, " +
      "snapshot generations, the fence, and in-flight indicators from " +
      "metadata alone") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-status")
      .toString + "/state"
    val k = 3
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    LiveSpanDedup.writeDelta(toks(Seq(
      1L -> "alpha beta gamma delta once",
      2L -> "twice alpha beta gamma delta")), root, 0L, k)
    LiveSpanDedup.writeDelta(toks(Seq(3L -> "gamma delta epsilon zeta")),
      root, 1L, k)
    val before = LiveSpanDedup.status(spark, root)
    assert(before("occ").deltaEpochs == 2 &&
      before("occ").snapshotGenerations == 0)
    assert(before("docs").watermark == -1L)
    assert(before.values.forall(s =>
      !s.inflightManifest && !s.leaseHeld && s.uncommittedEpochs == 0))
    LiveSpanDedup.compact(spark, root, shards = 2)
    val after = LiveSpanDedup.status(spark, root)
    assert(after("occ").deltaEpochs == 0 &&
      after("occ").snapshotGenerations == 1, after("occ").toString)
    assert(after("docs").watermark == 1L, "fence should cover both folded epochs")
    // An epoch whose occ write landed but whose delivery never
    // completed shows as the data store LEADING the marker store.
    LiveSpanDedup.writeDelta(toks(Seq(4L -> "more text here now")), root, 2L, k)
    deleteDir(s"$root/counts/epoch=2")
    deleteDir(s"$root/docs/epoch=2")
    val inflight = LiveSpanDedup.status(spark, root)
    assert(inflight("occ").deltaEpochs == 1 && inflight("docs").deltaEpochs == 0,
      "in-flight delivery should show as occ leading docs")
  }

  test("property: sidecar stats equal the resolved-corpus truth over " +
      "random upsert histories with interleaved compactions") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id").cast("string").as("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    for (trial <- 0 until 2) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-stats-prop-$trial").toString + "/index"
      val truth = scala.collection.mutable.Map.empty[Long, Long] // doc -> dl
      for (epoch <- 0 until 5) {
        // Unique doc_ids within the epoch (the in-epoch pick is tested
        // elsewhere); ids overlap ACROSS epochs so upsert retraction
        // and telescoping are exercised on every delivery.
        val ids = rnd.shuffle((0L until 6L).toList).take(1 + rnd.nextInt(4))
        val docs = ids.map { id =>
          val dl = 1 + rnd.nextInt(6)
          id -> Seq.fill(dl)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        }
        LiveTextIndex.writeDelta(toks(docs), root, epoch.toLong)
        docs.foreach { case (id, body) =>
          truth(id) = body.split(" ").length.toLong
        }
        if (rnd.nextBoolean()) LiveTextIndex.compact(spark, root, shards = 2)
        val r = LiveTextIndex.read(spark, root).stats
          .select(col("n"), col("avgdl")).head
        val n = truth.size.toDouble
        val avgdl = truth.values.sum.toDouble / truth.size
        assert(r.getDouble(0) == n && r.getDouble(1) == avgdl,
          s"trial $trial epoch $epoch: sidecar (${r.getDouble(0)}, " +
            s"${r.getDouble(1)}) != truth ($n, $avgdl) [$truth]")
      }
    }
  }

  test("EpochStore: a corrupted watermark file fails loudly (writers and " +
      "readers throw) instead of silently mis-resolving folded epochs") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-wm-corrupt")
      .toString + "/state"
    val k = 3
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    LiveSpanDedup.writeDelta(toks(Seq(
      1L -> "alpha beta gamma delta once",
      2L -> "twice alpha beta gamma delta")), root, 0L, k)
    LiveSpanDedup.compact(spark, root, shards = 2) // creates the watermark
    val wm = new org.apache.hadoop.fs.Path(s"$root/docs.compacted.watermark")
    val fs = wm.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(wm), "compaction should have advanced the fence")
    val out = fs.create(wm, true)
    try out.write("not-a-number".getBytes("UTF-8")) finally out.close()
    intercept[java.io.IOException] {
      LiveSpanDedup.writeDelta(
        toks(Seq(3L -> "any new text at all")), root, 1L, k)
    }
    // Restoring a readable fence restores service.
    val out2 = fs.create(wm, true)
    try out2.write("0".getBytes("UTF-8")) finally out2.close()
    LiveSpanDedup.writeDelta(
      toks(Seq(3L -> "third doc with alpha beta gamma delta too")),
      root, 1L, k)
    assert(LiveSpanDedup.duplicatedSpans(spark, root, k, idType = LongType)
      .as[(Long, Long, Long)].collect().map(_._1).toSet == Set(1L, 2L, 3L))
  }

  test("EpochStore: the replay fence survives a crash between delete-old " +
      "and rename-tmp, and a torn tmp beside a good fence is ignored") {
    val root = java.nio.file.Files.createTempDirectory("graft-wm-tmp")
      .toString + "/state"
    val wm = new org.apache.hadoop.fs.Path(s"$root.compacted.watermark")
    val tmp = new org.apache.hadoop.fs.Path(s"$root.compacted.watermark.tmp")
    val fs = wm.getFileSystem(spark.sessionState.newHadoopConf())
    def write(p: org.apache.hadoop.fs.Path, body: String): Unit = {
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    EpochStore.advanceWatermark(spark, root, 4L)
    assert(EpochStore.readWatermark(spark, root) == 4L)
    assert(!fs.exists(tmp), "the fence's tmp must not linger after a write")
    // Crash between delete-old and rename-tmp: only a complete tmp.
    fs.delete(wm, false)
    write(tmp, "7\n")
    assert(EpochStore.readWatermark(spark, root) == 7L)
    assert(!EpochStore.aboveFence(spark, root, 7L))
    EpochStore.advanceWatermark(spark, root, 8L)
    assert(EpochStore.readWatermark(spark, root) == 8L)
    assert(!fs.exists(tmp))
    // Crash mid-tmp-write ("12" of "123\n") beside a good fence.
    write(tmp, "12")
    assert(EpochStore.readWatermark(spark, root) == 8L)
  }

  test("EpochStore.onePerKey: in-epoch duplicate doc_ids collapse via an " +
      "order-independent pick, so replays and re-delivered batches land " +
      "identical state regardless of partition order") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-det-pick")
    val k = 3
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("body", StringType)))
    // Doc 1 arrives TWICE in the same epoch with different bodies (a
    // single bulk request writing the same id twice). The envelopes'
    // recordId is the doc id, so IndexSink.start's content tiebreak
    // picks the version, and it must pick the same one every time the
    // epoch is (re)written, whatever the input order.
    val versions = Seq(
      1L -> "totally different text in version one",
      1L -> "zeta alpha beta gamma delta from version two",
      2L -> "background doc with alpha beta gamma delta")
    val spans = Seq(Seq(0, 1, 2), Seq(2, 1, 0), Seq(1, 2, 0)).zipWithIndex
      .map { case (ord, i) =>
        val tmp = base.toString + s"/run-$i"
        ord.map(versions).toDF("doc_id", "body")
          .select(to_json(struct(col("doc_id"), col("body"))).as("value"))
          .coalesce(1).write.text(s"$tmp/in")
        val env = spark.readStream.schema(payloadSchema).json(s"$tmp/in")
          .repartition(4) // scramble row placement: the pick must not care
          .select(col("doc_id").cast("string").as("recordId"),
            lit(0L).as("approximateArrivalTimestamp"),
            to_json(struct(col("doc_id"), col("body"))).cast("binary").as("data"))
        val q = IndexSink.start(env, payloadSchema, s"$tmp/index",
          s"$tmp/backup", s"$tmp/ckpt", shards = 2, dropIf = _ => lit(false),
          spanState = Some(IndexSink.LiveSpanSpec(s"$tmp/state", "body",
            key = "doc_id", k = k, shards = 2)))
        assert(q.awaitTermination(120000), s"run $i timed out")
        LiveSpanDedup.duplicatedSpans(spark, s"$tmp/state", k)
          .as[(String, Long, Long)].collect().toSet
      }
    assert(spans.distinct.size == 1,
      s"input order changed the in-epoch version pick: $spans")
    // "zeta..." > "totally..." as content: version two wins, and only
    // it shares a span with doc 2.
    assert(spans.head.map(_._1) == Set("1", "2"), s"got ${spans.head}")
  }

  test("chaos property: N epochs through the delivery sink with ALL FOUR " +
      "maintenance hooks + compactEvery, seeded kill-and-heal injected " +
      "between commit-order steps — all four twin equalities hold at once") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    // The per-store crash points above are each tested in isolation;
    // this gate interleaves them: every epoch delivers through
    // IndexSink.start with textIndex + spanState + percolator +
    // nearDupState active and compactEvery=2 on all three stateful
    // stores, then a seeded coin kills ONE store's activation marker
    // (the crash-between-data-write-and-marker window) and heals it by
    // replaying that store's delta — exactly what the at-least-once
    // sink does. At the end, after one more full compaction pass, all
    // four hook outputs must equal their batch twins on the resolved
    // corpus AT ONCE: no interleaving of upserts, inline compactions,
    // kills, and replays may leave any store divergent.
    val rnd = new scala.util.Random(20260814L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-chaos").toString
    val payloadSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("body", StringType)))
    val textRoot = s"$tmp/tindex"
    val spanRoot = s"$tmp/sstate"
    val ndRoot = s"$tmp/ndstate"
    val alerts = s"$tmp/alerts"
    val percQueries = Seq(
      (1L, Seq("alpha", "beta")), (2L, Seq("spark")),
      (3L, Seq("rivers", "mountains")), (4L, Seq("variant0")))
      .toDF("query_id", "terms")

    def deliver(rows: Seq[(Long, String)], tag: String): Unit = {
      rows.toDF("doc_id", "body")
        .select(to_json(struct(col("doc_id"), col("body"))).as("value"))
        .coalesce(1).write.mode("append").text(s"$tmp/in")
      val env = spark.readStream
        .schema(payloadSchema)
        .json(s"$tmp/in")
        .select(col("doc_id").cast("string").as("recordId"),
          lit(0L).as("approximateArrivalTimestamp"),
          to_json(struct(col("doc_id"), col("body"))).cast("binary").as("data"))
      val q = IndexSink.start(env, payloadSchema, s"$tmp/index", s"$tmp/backup",
        s"$tmp/ckpt", shards = 2, dropIf = _ => lit(false),
        textIndex = Some(IndexSink.LiveIndexSpec(textRoot, "body",
          key = "doc_id", shards = 2, compactEvery = 2)),
        spanState = Some(IndexSink.LiveSpanSpec(spanRoot, "body",
          key = "doc_id", k = 3, shards = 2, compactEvery = 2)),
        percolator = Some(IndexSink.PercolatorSpec(percQueries, alerts,
          "body", key = "doc_id")),
        nearDupState = Some(IndexSink.LiveNearDupSpec(ndRoot, "body",
          key = "doc_id", shards = 2, compactEvery = 2)))
      assert(q.awaitTermination(180000), s"delivery $tag timed out")
    }
    // The hooks' own input: the epoch parquet just written, keyed as
    // the hooks key it (doc_id string) — what a replay recomputes.
    def epochToks(e: Long) = spark.read.parquet(s"$tmp/index/epoch=$e")
      .select(col("doc_id").cast("string").as("doc_id"),
        tokens(col("body")).as("toks"))
    def epochTexts(e: Long) = spark.read.parquet(s"$tmp/index/epoch=$e")
      .select(col("doc_id").cast("string").as("doc_id"),
        col("body").cast("string").as("text"))

    // Near-dup-structured corpus (one-word variants of shared bases →
    // LSH pairs AND ≥3-token duplicated runs), upserts via id reuse.
    val bases = Vector(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      "one two three four five six seven eight nine ten eleven twelve",
      "spark shuffles partitions codegen catalyst tungsten exchange broadcast join scan filter agg",
      "rivers mountains valleys forests deserts oceans islands plains cliffs caves meadows springs")
    def draw(): String = {
      val b = bases(rnd.nextInt(bases.length))
      if (rnd.nextBoolean()) b
      else {
        val toks = b.split(" ")
        toks(rnd.nextInt(toks.length)) = "variant" + rnd.nextInt(3)
        toks.mkString(" ")
      }
    }
    var resolved = Map.empty[Long, String]
    val perEpoch = scala.collection.mutable.Map.empty[Long, Seq[(Long, String)]]
    val epochs = 6
    (0 until epochs).foreach { e =>
      // Unique ids within the epoch (the in-epoch pick is pinned
      // elsewhere); overlap ACROSS epochs exercises upsert retraction
      // in every store.
      val ids = rnd.shuffle((0L until 10L).toList).take(1 + rnd.nextInt(4))
      val delta = ids.map(id => id -> draw())
      deliver(delta, s"epoch-$e")
      perEpoch(e.toLong) = delta
      resolved ++= delta
      // Kill-and-heal between commit-order steps: delete one store's
      // activation marker for THIS epoch (no-op if an inline
      // compaction already folded it — then the heal is a fence-
      // protected no-op, also a valid interleaving), then replay that
      // store's delta the way the at-least-once sink would.
      rnd.nextInt(4) match {
        case 0 => // this epoch commits clean
        case 1 =>
          deleteDir(s"$textRoot/doclen/epoch=$e")
          LiveTextIndex.writeDelta(epochToks(e.toLong), textRoot, e.toLong,
            shards = 2)
        case 2 =>
          deleteDir(s"$spanRoot/counts/epoch=$e")
          deleteDir(s"$spanRoot/docs/epoch=$e")
          LiveSpanDedup.writeDelta(epochToks(e.toLong), spanRoot, e.toLong,
            k = 3, shards = 2)
        case 3 =>
          deleteDir(s"$ndRoot/docs/epoch=$e")
          LiveNearDedup.writeDelta(epochTexts(e.toLong), ndRoot, e.toLong,
            shards = 2)
      }
    }
    // One more full maintenance pass over every store, then judge all
    // four twins at once.
    LiveTextIndex.compact(spark, textRoot, shards = 2)
    LiveSpanDedup.compact(spark, spanRoot, shards = 2)
    LiveNearDedup.compact(spark, ndRoot, shards = 2)
    IndexSink.compact(spark, s"$tmp/index", "doc_id", shards = 2)
    val resolvedDf = resolved.toSeq.map { case (id, body) => (id.toString, body) }
      .toDF("doc_id", "body")
    val resolvedToks = resolvedDf
      .select(col("doc_id"), tokens(col("body")).as("toks"))

    // Twin 1 — near-dedup: live pairs equal batch lshPairs on the
    // resolved corpus (string ids both sides: same canonical
    // orientation).
    val livePairs = graft.streaming.LiveNearDedup.candidatePairs(spark, ndRoot)
      .as[(String, String, Double)].collect().toSet
    val batchPairs = graft.operators.Dedup.lshCandidatePairs(
        resolvedDf.withColumnRenamed("body", "text"), "doc_id", "text")
      .as[(String, String, Double)].collect().toSet
    assert(livePairs == batchPairs,
      s"near-dup twin diverged: live $livePairs batch $batchPairs")
    assert(batchPairs.nonEmpty, "degenerate corpus: no near-dup pairs formed")

    // Twin 2 — span dedup: live duplicated spans equal the batch
    // operator on the resolved corpus.
    val liveSpans = LiveSpanDedup.duplicatedSpans(spark, spanRoot, k = 3)
      .as[(String, Long, Long)].collect().toSet
    val batchSpans = graft.operators.SpanDedup.duplicatedSpans(resolvedToks, 3)
      .as[(String, Long, Long)].collect().toSet
    assert(liveSpans == batchSpans,
      s"span twin diverged: live ${liveSpans.size} batch ${batchSpans.size}")
    assert(batchSpans.nonEmpty, "degenerate corpus: no duplicated spans formed")

    // Twin 3 — text index: stats and BM25 rankings equal a fresh batch
    // index built in one epoch from the resolved corpus.
    val freshRoot = s"$tmp/tindex-batch"
    LiveTextIndex.writeDelta(resolvedToks, freshRoot, 0L, shards = 2)
    val liveStats = LiveTextIndex.read(spark, textRoot).stats
      .select("n", "avgdl").as[(Double, Double)].head()
    val batchStats = LiveTextIndex.read(spark, freshRoot).stats
      .select("n", "avgdl").as[(Double, Double)].head()
    assert(liveStats == batchStats, s"stats twin: $liveStats != $batchStats")
    Seq("alpha beta", "spark", "variant0 rivers").foreach { q =>
      val live = IndexSink.rankedMatch(spark,
          LiveTextIndex.read(spark, textRoot), "doc_id", q, "or", 20)
        .as[(String, Double)].collect().toSeq
      val batch = IndexSink.rankedMatch(spark,
          LiveTextIndex.read(spark, freshRoot), "doc_id", q, "or", 20)
        .as[(String, Double)].collect().toSeq
      assert(live == batch, s"bm25 twin diverged on '$q': $live vs $batch")
    }

    // Twin 4 — percolator: each epoch's alert log equals the batch
    // percolation of that epoch's delivered docs (alerts are a log of
    // deliveries, not a resolved view).
    (0L until epochs.toLong).foreach { e =>
      val logged = spark.read.parquet(s"$alerts/epoch=$e")
        .select(col("doc_id").cast("string"), col("query_id"))
        .as[(String, Long)].collect().toSet
      val expect = graft.operators.SearchDsl.percolate(
          perEpoch(e).toDF("doc_id", "body")
            .select(col("doc_id").cast("string").as("doc_id"),
              tokens(col("body")).as("toks")),
          percQueries)
        .as[(String, Long)].collect().toSet
      assert(logged == expect, s"percolate twin diverged at epoch $e")
    }

    // Conservation across the whole chaos history: the delivered index
    // resolves to exactly the resolved corpus.
    val indexed = spark.read.parquet(s"$tmp/index/*")
    assert(indexed.select("doc_id").distinct().count() == resolved.size)
  }

  test("LiveTextIndex: a postings dir without its doclen marker survives " +
      "compaction and completes on replay") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-text-inflight")
      .toString + "/index"
    def toks(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "body")
      .select(col("doc_id").cast("string").as("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    def hits(query: String): Set[Long] =
      IndexSink.rankedMatch(spark, LiveTextIndex.read(spark, root),
          "doc_id", query, "or", 10)
        .select(col("doc_id").cast("long")).as[Long].collect().toSet

    LiveTextIndex.writeDelta(
      toks(Seq(1L -> "mortgage approved", 2L -> "transfer completed")),
      root, 0L)
    assert(hits("mortgage") == Set(1L))
    // Epoch 1 crashes after the postings write, before the marker.
    LiveTextIndex.writeDelta(toks(Seq(3L -> "mortgage denied")), root, 1L)
    deleteDir(s"$root/doclen/epoch=1")
    assert(hits("mortgage") == Set(1L), "unactivated epoch must be invisible")
    LiveTextIndex.compact(spark, root, shards = 2)
    assert(dirExists(s"$root/postings/epoch=1"),
      "compaction deleted an unactivated in-flight epoch")
    assert(hits("mortgage") == Set(1L))
    // Replay completes the delivery; the rider dir's content activates.
    LiveTextIndex.writeDelta(toks(Seq(3L -> "mortgage denied")), root, 1L)
    assert(hits("mortgage") == Set(1L, 3L))
    LiveTextIndex.compact(spark, root, shards = 2)
    assert(hits("mortgage") == Set(1L, 3L))
  }
}
