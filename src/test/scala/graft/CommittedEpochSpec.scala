package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Sketch
import graft.streaming.{EpochStore, IndexSink, LiveRates, LiveSketch, LiveTextIndex}

/** The one completeness rule for `epoch=N` directories: a directory
  * counts once its `_SUCCESS` marker is present. A write whose job has
  * not committed yet (part files, no `_SUCCESS`) stands in for a
  * compaction overlapping that write: the compaction must leave it
  * alone, the store's reads must not see it, and the replay fence must
  * stay below it. Once the replay's delta commits, reads show the
  * epoch and the next compaction folds it.
  */
class CommittedEpochSpec extends SparkSpec {

  import spark.implicits._

  /** The state of `dir` while its write's job has not committed yet. */
  private def uncommit(dir: String): Unit = {
    assert(new java.io.File(dir, "_SUCCESS").delete(), s"$dir carries no _SUCCESS")
    new java.io.File(dir, "._SUCCESS.crc").delete()
  }

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  test("LiveRates: an uncommitted epoch dir survives compaction, unread and above the fence") {
    val root = tmpRoot("graft-commit-rates")
    def keys(ks: String*): DataFrame = ks.toDF("k")
    def grid(): Set[(String, Long, Long)] = LiveRates.grid(spark, root)
      .as[(String, Long, Long)].collect().toSet
    LiveRates.writeDelta(keys("en", "de", "en"), root, 0L)
    LiveRates.writeDelta(keys("de"), root, 1L)
    uncommit(s"$root/epoch=1")
    val before = Set(("en", 0L, 2L), ("de", 0L, 1L))
    assert(grid() == before, "reads saw an uncommitted epoch")
    LiveRates.compact(spark, root)
    assert(dirExists(s"$root/epoch=1"), "compaction took an uncommitted epoch")
    assert(EpochStore.readWatermark(spark, root) == 0L, "the fence passed an uncommitted epoch")
    assert(grid() == before)
    LiveRates.writeDelta(keys("de"), root, 1L) // the replay commits epoch 1
    val after = before ++ Set(("en", 1L, 0L), ("de", 1L, 1L))
    assert(grid() == after)
    LiveRates.compact(spark, root)
    assert(!dirExists(s"$root/epoch=1") && EpochStore.readWatermark(spark, root) == 1L)
    assert(grid() == after)
  }

  test("LiveTextIndex: an uncommitted marker dir survives compaction; its epoch stays inactive") {
    val root = tmpRoot("graft-commit-marker")
    def toks(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "body")
      .select(col("doc_id").cast("string").as("doc_id"),
        graft.functions.TextFunctions.tokens(col("body")).as("toks"))
    def hits(): Set[Long] =
      IndexSink.rankedMatch(spark, LiveTextIndex.read(spark, root),
          "doc_id", "mortgage", "or", 10)
        .select(col("doc_id").cast("long")).as[Long].collect().toSet
    def docCount(): Double = LiveTextIndex.read(spark, root).stats.head.getDouble(0)
    def fence(): Long = EpochStore.readWatermark(spark, s"$root/doclen")
    LiveTextIndex.writeDelta(toks(1L -> "mortgage approved"), root, 0L)
    LiveTextIndex.writeDelta(toks(2L -> "mortgage denied"), root, 1L)
    // A compaction overlapping epoch 1's marker write: the marker's
    // part files are there, its _SUCCESS is not.
    uncommit(s"$root/doclen/epoch=1")
    assert(hits() == Set(1L) && docCount() == 1.0, "an unmarked epoch was activated")
    LiveTextIndex.compact(spark, root, shards = 2)
    Seq("postings", "stats", "doclen").foreach(s =>
      assert(dirExists(s"$root/$s/epoch=1"), s"compaction took $s/epoch=1"))
    assert(fence() == 0L, "the fence passed an unmarked epoch")
    assert(hits() == Set(1L) && docCount() == 1.0)
    LiveTextIndex.writeDelta(toks(2L -> "mortgage denied"), root, 1L) // the replay
    assert(hits() == Set(1L, 2L) && docCount() == 2.0)
    LiveTextIndex.compact(spark, root, shards = 2)
    assert(!dirExists(s"$root/doclen/epoch=1") && fence() == 1L)
    assert(hits() == Set(1L, 2L) && docCount() == 2.0)
  }

  test("LiveSketch: an uncommitted sidecar dir survives compaction, unread and above its fence") {
    val root = tmpRoot("graft-commit-sketch")
    val (depth, width, b) = (3, 32, 4)
    def words(ws: Seq[String]): DataFrame = ws.toDF("w")
    def cells(): Set[(Int, Long, Long)] =
      LiveSketch.cells(spark, root).as[(Int, Long, Long)].collect().toSet
    def batchCells(ws: Seq[String]): Set[(Int, Long, Long)] =
      Sketch.countMinCells(words(ws), depth, width).as[(Int, Long, Long)].collect().toSet
    val w0 = Seq("alpha", "beta", "alpha")
    val w1 = Seq("gamma", "alpha")
    LiveSketch.writeDelta(words(w0), root, 0L, depth, width, b)
    LiveSketch.writeDelta(words(w1), root, 1L, depth, width, b)
    uncommit(s"$root/cm/epoch=1")
    assert(cells() == batchCells(w0), "reads saw an uncommitted epoch")
    LiveSketch.compact(spark, root)
    assert(dirExists(s"$root/cm/epoch=1"), "compaction took an uncommitted epoch")
    assert(EpochStore.readWatermark(spark, s"$root/cm") == 0L,
      "the cm fence passed an uncommitted epoch")
    assert(EpochStore.readWatermark(spark, s"$root/hll") == 1L)
    assert(cells() == batchCells(w0))
    // The replay rewrites the cm delta; its hll delta is fenced to a no-op.
    LiveSketch.writeDelta(words(w1), root, 1L, depth, width, b)
    assert(cells() == batchCells(w0 ++ w1))
    LiveSketch.compact(spark, root)
    assert(!dirExists(s"$root/cm/epoch=1") &&
      EpochStore.readWatermark(spark, s"$root/cm") == 1L)
    assert(cells() == batchCells(w0 ++ w1))
    assert(LiveSketch.registers(spark, root).as[(Long, Long)].collect().toSet ==
      Sketch.hllRegisters(words(w0 ++ w1), b).as[(Long, Long)].collect().toSet)
  }
}
