package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.BufferedChannel

class BufferedChannelSpec extends SparkSpec {

  private def lines(n: Int, tag: String) = {
    import spark.implicits._
    (1 to n).map(i => s"""{"i": $i, "tag": "$tag"}""").toDF("value").coalesce(1)
  }

  /** The staging dir a crashed incarnation left for `epoch`: one part
    * file of `n` records tagged `tag`, with or without its `_SUCCESS`.
    */
  private def leftover(root: String, epoch: Long, n: Int, tag: String,
      committed: Boolean): java.io.File = {
    val d = new java.io.File(s"$root/.staging/epoch=$epoch")
    d.mkdirs()
    val pw = new java.io.PrintWriter(new java.io.File(d, "part-00000"))
    try (1 to n).foreach(i => pw.println(s"""{"i": $i, "tag": "$tag"}""")) finally pw.close()
    if (committed) assert(new java.io.File(d, "_SUCCESS").createNewFile())
    d
  }

  private def delivered(ch: BufferedChannel): DataFrame =
    spark.read.text(ch.deliveredObjects.map(_.toString): _*)

  test("size threshold flushes immediately; small batches stage until full") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf").toString
    val ch = new BufferedChannel(tmp, maxBytes = 2000, maxAgeMillis = Long.MaxValue / 2)
    var now = 1000L
    ch.append(lines(10, "a"), epochId = 0, nowMs = () => now) // ~250 B staged
    assert(ch.deliveredObjects.isEmpty && ch.stagedBytes > 0)
    ch.append(lines(100, "b"), epochId = 1, nowMs = () => now) // crosses 2 KB
    assert(ch.deliveredObjects.size == 1)
    assert(ch.stagedBytes == 0)
    // The delivered object carries BOTH staged batches, newline-framed.
    val delivered = spark.read.text(ch.deliveredObjects.head.toString)
    assert(delivered.count() == 110)
  }

  test("age threshold flushes a part-full buffer (time OR size, whichever first)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf2").toString
    val ch = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = 60000)
    var now = 1000L
    ch.append(lines(5, "x"), epochId = 0, nowMs = () => now)
    assert(ch.deliveredObjects.isEmpty)
    now += 61000 // 61 s later: next event (empty-batch tick) trips the age check
    assert(ch.maybeFlush(now))
    assert(ch.deliveredObjects.size == 1)
    assert(spark.read.text(ch.deliveredObjects.head.toString).count() == 5)
  }

  test("a replayed epoch overwrites its staged bytes (no double count)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf4").toString
    val ch = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    ch.append(lines(20, "x"), epochId = 7)
    val once = ch.stagedBytes
    ch.append(lines(20, "x"), epochId = 7) // foreachBatch retry of epoch 7
    assert(ch.stagedBytes == once, s"replay double-counted: ${ch.stagedBytes} vs $once")
    ch.flush()
    assert(spark.read.text(ch.deliveredObjects.head.toString).count() == 20)
  }

  test("flush skips a half-committed epoch (racing append) — no record loss") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf5").toString
    val ch = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    ch.append(lines(10, "committed"), epochId = 0)
    // Simulate an append() whose Spark write landed but whose registration
    // hasn't happened yet: a part-file in staging with no epochBytes entry.
    val inflight = new java.io.File(s"$tmp/.staging/epoch=1")
    inflight.mkdirs()
    val pw = new java.io.PrintWriter(new java.io.File(inflight, "part-00000"))
    try pw.println("""{"i": 999, "tag": "inflight"}""") finally pw.close()
    ch.flush()
    // Only the registered epoch was promoted; the in-flight one stayed staged.
    assert(ch.deliveredObjects.size == 1)
    assert(spark.read.text(ch.deliveredObjects.head.toString).count() == 10)
    assert(inflight.exists(), "flush must not touch an unregistered epoch")
    // The append completes (registers) and the next flush delivers it —
    // the watermark did not advance past it.
    ch.append(lines(1, "inflight"), epochId = 1)
    ch.flush()
    val total = ch.deliveredObjects.map(o => spark.read.text(o.toString).count()).sum
    assert(total == 11, s"records lost across racing flush: $total")
  }

  test("concurrent appends and flushes conserve every record") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf6").toString
    val ch = new BufferedChannel(tmp, maxBytes = 800, maxAgeMillis = Long.MaxValue / 2)
    val flusher = new Thread(() => (1 to 40).foreach { _ => ch.flush(); Thread.sleep(5) })
    flusher.start()
    (0 until 8).foreach(e => ch.append(lines(25, s"c$e"), epochId = e))
    flusher.join()
    ch.close()
    val total = ch.deliveredObjects.map(o => spark.read.text(o.toString).count()).sum
    assert(total == 200, s"lost records under concurrent flush: $total")
  }

  test("restart with a truncated watermark file degrades to no-watermark, not a crash") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf7").toString
    val first = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    first.append(lines(5, "a"), epochId = 3)
    first.flush()
    // Corrupt the watermark as a crash mid-persist would.
    val wf = new java.io.File(s"$tmp/_flushed_watermark")
    val pw = new java.io.PrintWriter(wf); try pw.print("3x_truncated") finally pw.close()
    val restarted = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    // Recoverable: at-least-once (epoch 3 replay is accepted again), never
    // an unconstructible channel. New epochs deliver into NEW objects.
    restarted.append(lines(2, "b"), epochId = 4)
    restarted.flush()
    assert(restarted.deliveredObjects.size == 2)
    assert(!new java.io.File(s"$tmp/_flushed_watermark.tmp").exists(),
      "watermark temp file must not linger after persist")
  }

  test("staged-but-unflushed epochs from a crashed incarnation are recovered") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf9").toString
    val first = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    first.append(lines(10, "staged"), epochId = 3)
    assert(first.deliveredObjects.isEmpty) // crash here: nothing flushed
    // A fresh incarnation (no in-memory epochBytes) must re-register the
    // staged epoch — flush() only promotes registered epochs, so without
    // recovery these records would be orphaned forever.
    val restarted = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    assert(restarted.stagedBytes > 0, "restart lost staged bytes")
    restarted.flush()
    assert(restarted.deliveredObjects.size == 1)
    assert(spark.read.text(restarted.deliveredObjects.head.toString).count() == 10)
  }

  test("a staged leftover AT the watermark (crash mid-flush) is dropped, not re-delivered") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf10").toString
    val first = new BufferedChannel(tmp, maxBytes = 10, maxAgeMillis = Long.MaxValue / 2)
    first.append(lines(5, "x"), epochId = 0) // flushes immediately (10-byte budget)
    assert(first.deliveredObjects.size == 1)
    // Simulate a crash mid-flush that left a partial epoch dir behind
    // AFTER the watermark was persisted.
    val leftover = new java.io.File(s"$tmp/.staging/epoch=0")
    leftover.mkdirs()
    val pw = new java.io.PrintWriter(new java.io.File(leftover, "part-00000"))
    try pw.println("""{"i": 1}""") finally pw.close()
    val restarted = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    assert(restarted.stagedBytes == 0, "delivered epoch must not re-register")
    assert(!leftover.exists(), "delivered epoch's leftover must be cleaned")
    restarted.flush()
    assert(restarted.deliveredObjects.size == 1) // no double delivery
  }

  test("delivered bytes preserve payload-internal trailing newlines (backup fidelity)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf15").toString
    val ch = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    // A raw payload that legitimately ends in a blank line: framing must
    // strip exactly ONE newline (the writer re-adds it) — rtrim-all
    // would deliver "abc\n" instead of the original "abc\n\n".
    ch.append(Seq("abc\n\n").toDF("value").coalesce(1), epochId = 0)
    ch.flush()
    val obj = new java.io.File(ch.deliveredObjects.head.toUri.getPath)
    val part = obj.listFiles().filter(_.getName.startsWith("epoch=")).head
    val bytes = new String(java.nio.file.Files.readAllBytes(part.toPath), "UTF-8")
    assert(bytes == "abc\n\n", s"bytes mangled: ${bytes.replace("\n", "\\n")}")
  }

  test("recovered epochs: committed ones size-flush, unmarked ones are dropped") {
    // A committed leftover is complete (`_SUCCESS` lands last), so a
    // size trip may promote it, and the watermark then makes its replay
    // a no-op.
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf11").toString
    leftover(tmp, 5, 100, "staged", committed = true)
    val ch = new BufferedChannel(tmp, maxBytes = 100, maxAgeMillis = 60000)
    assert(ch.stagedBytes > 100, "recovery must register the committed bytes")
    assert(ch.maybeFlush(System.currentTimeMillis()), "size trip must fire")
    ch.append(lines(100, "staged"), epochId = 5) // the replay
    ch.flush()
    assert(delivered(ch).count() == 100, "committed recovery delivered once")
    // An unmarked leftover may be partial: it is dropped, never promoted,
    // and every record of the authoritative replay is delivered.
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-buf12").toString
    leftover(tmp2, 7, 1, "partial", committed = false)
    val ch2 = new BufferedChannel(tmp2, maxBytes = 100, maxAgeMillis = 60000)
    assert(!ch2.maybeFlush(System.currentTimeMillis() + 61000))
    assert(ch2.deliveredObjects.isEmpty, "an unmarked recovery must not be promoted")
    ch2.append(lines(5, "replay"), epochId = 7)
    assert(ch2.deliveredObjects.nonEmpty, "replayed epoch must deliver on size trip")
    val out = delivered(ch2)
    assert(out.count() == 5 && out.filter(col("value").contains("replay")).count() == 5,
      "delivery must carry the authoritative replay, not the partial recovery")
  }

  test("a committed recovered dir promoted by an age flush is not re-delivered") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf18").toString
    leftover(tmp, 5, 5, "staged", committed = true)
    val ch = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = 60000)
    assert(ch.maybeFlush(System.currentTimeMillis() + 61000))
    assert(ch.deliveredObjects.size == 1, "age flush must deliver the recovery")
    ch.append(lines(5, "staged"), epochId = 5) // the replay of the same epoch
    ch.close()
    assert(delivered(ch).count() == 5,
      s"recovered epoch delivered ${delivered(ch).count() / 5.0}x (expected exactly once)")
  }

  test("an unmarked recovered dir is deleted at construction; replay delivers once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf19").toString
    val left = leftover(tmp, 5, 1, "partial", committed = false)
    val ch = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2,
      maxAgeMillis = Long.MaxValue / 2)
    assert(!left.exists(), "an unmarked staging dir must be deleted at construction")
    assert(ch.stagedBytes == 0)
    ch.append(lines(5, "full"), epochId = 5)
    ch.close()
    val out = delivered(ch)
    assert(out.count() == 5 && out.filter(col("value").contains("full")).count() == 5,
      s"replay must be delivered exactly once, without the partial: ${out.count()}")
  }

  test("watermark survives a crash between delete-old and rename-tmp") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf13").toString
    val first = new BufferedChannel(tmp, maxBytes = 10, maxAgeMillis = Long.MaxValue / 2)
    first.append(lines(5, "a"), epochId = 3) // size-trips: flush, watermark=3
    assert(first.deliveredObjects.size == 1)
    // Simulate the crash window inside writeWatermark: old main deleted,
    // completed (newline-terminated) tmp not yet renamed in.
    new java.io.File(s"$tmp/_flushed_watermark").delete()
    new java.io.File(s"$tmp/._flushed_watermark.crc").delete() // hadoop checksum twin
    val pw = new java.io.PrintWriter(new java.io.File(s"$tmp/_flushed_watermark.tmp"))
    try pw.print("3\n") finally pw.close()
    val restarted = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    restarted.append(lines(5, "a"), epochId = 3) // replay of the DELIVERED epoch
    restarted.flush()
    assert(restarted.deliveredObjects.size == 1,
      "tmp watermark ignored: delivered epoch was re-delivered")
    // A TRUNCATED tmp (no terminator — crash mid-tmp-write) is NOT
    // trusted: it may parse to a wrong value. Degrades to at-least-once.
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-buf14").toString
    val pw2 = new java.io.PrintWriter(new java.io.File(s"$tmp2/_flushed_watermark.tmp"))
    try pw2.print("9") finally pw2.close()
    val ch2 = new BufferedChannel(tmp2, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    ch2.append(lines(2, "b"), epochId = 1) // would be skipped if "9" were trusted
    assert(ch2.stagedBytes > 0, "truncated tmp watermark must not suppress appends")
  }

  test("replays racing an age-tick-style flusher never double-deliver") {
    // Stress for the append() replay-guard/unregister TOCTOU: a flush
    // slipping between the guard and the unregister could promote the
    // still-registered epoch and advance the watermark, after which the
    // replay would re-register it and the next flush would deliver it a
    // SECOND time. With guard+unregister in one critical section, every
    // interleaving delivers epoch 42's payload exactly once.
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf16").toString
    val ch = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    @volatile var stop = false
    val flusher = new Thread(() => while (!stop) { ch.flush(); Thread.sleep(1) })
    flusher.start()
    (1 to 12).foreach(_ => ch.append(lines(20, "replay"), epochId = 42))
    stop = true
    flusher.join()
    ch.close()
    val total = ch.deliveredObjects.map(o => spark.read.text(o.toString).count()).sum
    assert(total == 20, s"epoch 42 delivered ${total / 20.0}x (expected exactly once)")
  }

  test("committed recovered epochs flush with fresh ones, none lost or repeated") {
    // Incarnation A stages 41 (committed in the streaming checkpoint, so
    // never replayed) and 42, then crashes unflushed. B recovers both
    // committed dirs as complete epochs; the replay rewrites 42, a fresh
    // 43 arrives, and the size trip promotes 41, 42 and 43 together,
    // advancing the watermark to 43 with nothing below it left staged.
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf17").toString
    val a = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    a.append(lines(10, "e41"), epochId = 41)
    a.append(lines(10, "e42"), epochId = 42)
    // crash A (nothing flushed).
    val b = new BufferedChannel(tmp, maxBytes = 300, maxAgeMillis = Long.MaxValue / 2)
    b.append(lines(10, "e42"), epochId = 42) // replay of the uncommitted tail
    b.append(lines(10, "e43"), epochId = 43) // size threshold now exceeded
    assert(b.deliveredObjects.size == 1, "size flush must promote every staged epoch")
    // crash B. C recovers nothing more and re-delivers nothing.
    val c = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    c.close()
    val out = delivered(c)
    assert(out.count() == 30, s"records lost or repeated across the restarts: ${out.count()} of 30")
    Seq("e41", "e42", "e43").foreach(t =>
      assert(out.filter(col("value").contains(t)).count() == 10, s"$t not delivered exactly once"))
  }

  test("an epoch promoted by close() is under the watermark: replay is a no-op") {
    // Incarnation 1 stages epoch 5 and crashes. Incarnation 2's query
    // dies before replaying 5; close()'s shutdown flush promotes the
    // committed recovery and advances the watermark over it, so
    // incarnation 3's replay of 5 is skipped and every record of it is
    // delivered exactly once.
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf16").toString
    val first = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2,
      maxAgeMillis = Long.MaxValue / 2)
    first.append(lines(5, "full"), epochId = 5)
    val second = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2,
      maxAgeMillis = Long.MaxValue / 2)
    second.close() // promotes the committed recovery
    assert(second.deliveredObjects.size == 1, "shutdown flush must deliver the recovery")
    val third = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2,
      maxAgeMillis = Long.MaxValue / 2)
    third.append(lines(5, "full"), epochId = 5)
    third.flush()
    assert(third.deliveredObjects.size == 1, "a promoted epoch's replay was delivered again")
    assert(delivered(third).filter(col("value").contains("full")).count() == 5,
      "replayed records missing from delivery")
  }

  test("empty micro-batches do not grow staging state (idle stream)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf8").toString
    val ch = new BufferedChannel(tmp, maxBytes = Long.MaxValue / 2, maxAgeMillis = Long.MaxValue / 2)
    (0 until 5).foreach(e => ch.append(lines(0, "idle"), epochId = e))
    assert(ch.stagedBytes == 0)
    val staged = new java.io.File(s"$tmp/.staging").listFiles()
    assert(staged == null || staged.isEmpty,
      s"idle ticks accumulated staging dirs: ${Option(staged).map(_.toSeq)}")
    ch.flush()
    assert(ch.deliveredObjects.isEmpty)
  }

  test("flush conserves records and produces disjoint numbered objects") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf3").toString
    val ch = new BufferedChannel(tmp, maxBytes = 1500, maxAgeMillis = Long.MaxValue / 2)
    (0 until 6).foreach(e => ch.append(lines(30, s"e$e"), epochId = e))
    ch.flush() // drain the tail
    val objs = ch.deliveredObjects
    assert(objs.size >= 2, s"expected multiple flush objects, got $objs")
    val total = objs.map(o => spark.read.text(o.toString).count()).sum
    assert(total == 180)
  }

  test("stray non-numeric object dirs neither crash construction nor join delivery") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf16").toString
    val first = new BufferedChannel(tmp, maxBytes = 10, maxAgeMillis = Long.MaxValue / 2)
    first.append(lines(5, "a"), epochId = 0) // size-trips -> object-000000
    // An operator/tool drops junk dirs under the channel root.
    assert(new java.io.File(s"$tmp/object-tmp").mkdirs())
    assert(new java.io.File(s"$tmp/object-backup.old").mkdirs())
    // Construction must not throw, the junk is not a delivery object, and
    // the resumed counter ignores it.
    val restarted = new BufferedChannel(tmp, maxBytes = 10, maxAgeMillis = Long.MaxValue / 2)
    assert(restarted.deliveredObjects.map(_.getName) == Seq("object-000000"))
    restarted.append(lines(5, "b"), epochId = 1)
    assert(restarted.deliveredObjects.map(_.getName) == Seq("object-000000", "object-000001"))
  }

  test("deliveredObjects orders numerically beyond the %06d padding width") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-buf17").toString
    // Simulate a long-lived channel already past a million flushes: the
    // resumed counter and the delivery order must both be NUMERIC
    // ("object-1000000" sorts lexicographically before "object-999999").
    for (n <- Seq(999999L, 1000000L)) {
      val d = new java.io.File(f"$tmp/object-$n%06d"); assert(d.mkdirs())
      java.nio.file.Files.writeString(d.toPath.resolve("part-00000"), s"o$n\n")
    }
    val ch = new BufferedChannel(tmp, maxBytes = 10, maxAgeMillis = Long.MaxValue / 2)
    assert(ch.deliveredObjects.map(_.getName) == Seq("object-999999", "object-1000000"))
    ch.append(lines(3, "c"), epochId = 0) // size-trips -> next object number
    assert(ch.deliveredObjects.map(_.getName) ==
      Seq("object-999999", "object-1000000", "object-1000001"))
  }
}
