package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions.tokens
import graft.streaming.{LiveNearDedup, LiveSpanDedup, LiveTextIndex}

/** The versioned-store protocol (marker written last, replay fence,
  * currency, activation-gated compaction) checked the same way on every
  * store that follows it: one table row per store, the same three
  * crash/replay scenarios for each.
  */
class VersionedStoreProtocolSpec extends SparkSpec {

  /** One versioned store under test: how it takes an epoch's docs,
    * what its reads show, and its directory names in write order (data
    * first, marker last).
    */
  private case class Store(name: String,
      write: (Seq[(Long, String)], String, Long) => Unit,
      observe: String => Set[String],
      compact: String => Unit,
      writeOrder: Seq[String]) {
    def data: String = writeOrder.head
  }

  private def toks(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "body").select(col("doc_id"), tokens(col("body")).as("toks"))
  }
  private def texts(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  private val stores = Seq(
    Store("LiveTextIndex",
      (docs, root, e) => LiveTextIndex.writeDelta(
        toks(docs).withColumn("doc_id", col("doc_id").cast("string")), root, e,
        shards = 2),
      root => {
        val index = LiveTextIndex.read(spark, root)
        rows(index.postings) ++ rows(index.stats.select("n", "avgdl"))
      },
      root => LiveTextIndex.compact(spark, root, shards = 2),
      Seq("postings", "stats", "doclen")),
    Store("LiveSpanDedup",
      (docs, root, e) => LiveSpanDedup.writeDelta(toks(docs), root, e, k = 3,
        shards = 2),
      root => rows(LiveSpanDedup.duplicatedSpans(spark, root, 3, idType = LongType)),
      root => LiveSpanDedup.compact(spark, root, shards = 2),
      Seq("occ", "counts", "docs")),
    Store("LiveNearDedup",
      (docs, root, e) => LiveNearDedup.writeDelta(texts(docs), root, e, shards = 2),
      root => rows(LiveNearDedup.candidatePairs(spark, root, idType = LongType)
        .select("id1", "id2")),
      root => LiveNearDedup.compact(spark, root, shards = 2),
      Seq("sig", "docs")))

  // Docs 1 and 2 share long token runs (spans, postings, an LSH pair);
  // epoch 1 upserts doc 1 away from them; epoch 2 adds a third copy.
  private val base = "the quick brown fox jumps over the lazy dog by the river bank"
  private val e0 = Seq(1L -> base, 2L -> base.replace("dog", "cat"))
  private val e1 = Seq(1L -> "rewritten into something else entirely new")
  private val e2 = Seq(3L -> base.replace("dog", "owl"))

  private def freshRoot(s: Store, tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-${s.name}-$tag").toString + "/store"

  /** Every row of one epoch's dirs, per sub-store. */
  private def epochRows(s: Store, root: String, epoch: Long): Map[String, Seq[String]] =
    s.writeOrder.map { sub =>
      sub -> spark.read.parquet(s"$root/$sub/epoch=$epoch").collect()
        .map(_.toString).toSeq.sorted
    }.toMap

  for (s <- stores) {
    test(s"${s.name}: replaying an epoch after compact folded it is a no-op") {
      val root = freshRoot(s, "fence")
      s.write(e0, root, 0L)
      s.write(e1, root, 1L)
      val settled = s.observe(root)
      s.compact(root)
      assert(s.observe(root) == settled, "compaction changed what reads show")
      s.write(e1, root, 1L) // at-least-once replay of a folded epoch
      s.writeOrder.foreach { sub =>
        assert(!dirExists(s"$root/$sub/epoch=1"),
          s"post-fold replay resurrected $sub/epoch=1")
      }
      assert(s.observe(root) == settled, "post-fold replay changed the state")
      // Epochs above the fence still apply.
      s.write(e2, root, 2L)
      assert(s.observe(root) != settled, "an epoch above the fence was dropped")
    }

    test(s"${s.name}: replaying a marked but unfolded epoch rewrites " +
        "identical rows") {
      val root = freshRoot(s, "replay")
      s.write(e0, root, 0L)
      s.write(e1, root, 1L)
      val first = epochRows(s, root, 1L)
      val settled = s.observe(root)
      assert(dirExists(s"$root/${s.writeOrder.last}/epoch=1"))
      s.write(e1, root, 1L) // marker present: the leased replay path
      assert(epochRows(s, root, 1L) == first, "replay rewrote different rows")
      assert(s.observe(root) == settled)
    }

    test(s"${s.name}: a data dir without its marker is invisible to reads " +
        "and survives compact") {
      val root = freshRoot(s, "inflight")
      s.write(e0, root, 0L)
      val before = s.observe(root)
      // Epoch 2 crashes right after its data write: every later dir of
      // the epoch, the marker included, is missing.
      s.write(e2, root, 2L)
      s.writeOrder.tail.foreach(sub => deleteDir(s"$root/$sub/epoch=2"))
      assert(s.observe(root) == before, "unactivated epoch must be invisible")
      s.compact(root)
      assert(dirExists(s"$root/${s.data}/epoch=2"),
        "compaction deleted an unactivated in-flight epoch")
      assert(s.observe(root) == before)
      // The replay completes the delivery; the rider dir activates, and
      // the next compaction folds it.
      s.write(e2, root, 2L)
      val completed = s.observe(root)
      assert(completed != before, "the completed delivery stayed invisible")
      s.compact(root)
      assert(!dirExists(s"$root/${s.data}/epoch=2"))
      assert(s.observe(root) == completed)
    }
  }
}
