package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Table maintenance surface — the reference's index-management ops
  * (SURVEY §2A A13–A16) over parquet tables:
  *
  * - A13 count / A14 full scan: `spark.table(name)` once registered
  *   (`_count` is [[graft.streaming.IndexSink.count]]).
  * - A15 delete-by-predicate (`delete_all_documents`,
  *   reference oss_utils.py:50-51): rewrite-excluding over the table
  *   path. Plain parquet has no deletion vectors, so a delete is a
  *   filtered rewrite + atomic directory swap — the same shape a Delta
  *   DELETE compiles to without the transaction log.
  * - A16 create/drop index with shard count (oss_utils.py:54-63, 24
  *   shards): a catalog table written with `repartition(shards)` so the
  *   file layout carries the parallelism the shard count declared.
  */
object Maintenance {

  /** The shared whole-table rewrite protocol behind [[deleteWhere]] and
    * [[upsertByKey]]: heal any crashed prior swap (restore a parked
    * `.old` table, drop stale intermediates), let `build` write the
    * replacement under `.rewrite.tmp`, then commit via the atomic move
    * pair. Healing and commit live in ONE place so the two mutations'
    * crash contracts cannot diverge.
    *
    * Self-healing across crashes: a previous call that died mid-swap can
    * leave (a) a stale `.rewrite.tmp`/`.old` behind, or (b) the table
    * path missing with the data parked in `.old` (crash between the two
    * moves). Entry recovers both states before doing any work, so every
    * operation built on this is always re-runnable instead of failing
    * forever on leftover directories.
    */
  private def rewriteSwap[T](path: String)(build: Path => T): T = {
    val p = Paths.get(path)
    val old = Paths.get(path.stripSuffix("/") + ".old")
    val tmpPath = Paths.get(path.stripSuffix("/") + ".rewrite.tmp")
    // Crash recovery (see deleteWhere scaladoc): restore a parked
    // table, then drop stale intermediates from earlier failed attempts.
    if (!Files.exists(p) && Files.exists(old))
      Files.move(old, p, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
    deleteRecursively(tmpPath)
    val out = build(tmpPath)
    // Atomic-ish swap: move old out, tmp in, drop old.
    Files.move(p, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmpPath, p, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
    out
  }

  /** Delete rows matching `predicate` from a parquet table directory
    * ([[rewriteSwap]] carries the crash contract).
    * @return number of rows deleted
    */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column): Long =
    rewriteSwap(path) { tmpPath =>
      val df = spark.read.parquet(path)
      val total = df.count()
      df.filter(!coalesce(predicate, lit(false)))
        .write.mode("overwrite").parquet(tmpPath.toString)
      total - spark.read.parquet(tmpPath.toString).count()
    }

  /** Upsert `updates` into a parquet table directory by `key` — the
    * batch form of the OpenSearch index-by-_id the delivery sink does
    * continuously (a re-delivered id REPLACES the stored doc;
    * `IndexSink.registerLatestView` resolves the same way per epoch).
    * Existing rows whose key appears in `updates` are dropped, the
    * update rows appended; rows with new keys insert. The rewrite
    * rides [[deleteWhere]]'s machinery: same `.rewrite.tmp`/`.old`
    * atomic swap, same crash self-healing, so a died upsert is always
    * re-runnable and readers never see a half state.
    *
    * `updates` must be one row per key (the caller's resolution
    * policy, applied BEFORE the upsert — enforced here, because a
    * duplicate-key update would silently store both rows and poison
    * every later latest-per-key read). Scale shape: one anti-join of
    * the table against the (typically broadcastable) update keys plus
    * the rewrite; plain parquet has no row-level MERGE, so the
    * rewrite cost is the whole table — the documented trade vs the
    * epoch-store path (which this op complements for out-of-band
    * corrections, not per-epoch delivery).
    * @return (existing keys replaced, new keys inserted)
    */
  def upsertByKey(spark: SparkSession, path: String,
      updates: org.apache.spark.sql.DataFrame, key: String): (Long, Long) = {
    val up = updates.cache()
    try {
      val nUpdates = up.count()
      require(up.select(key).distinct().count() == nUpdates,
        s"updates carry duplicate '$key' values — resolve to one row per key first")
      rewriteSwap(path) { tmpPath =>
        val df = spark.read.parquet(path)
        // `updated` counts update KEYS that existed (not rows dropped):
        // a target table carrying duplicate keys — e.g. built by plain
        // appends — supersedes EVERY row of a replaced key, so a
        // row-count delta would overstate updates and drive `inserted`
        // negative. Distinct-key intersection is exact either way.
        val updated = df.select(col(key)).distinct()
          .join(up.select(col(key)), key).count()
        df.join(up.select(col(key)), Seq(key), "left_anti")
          .select(df.columns.map(col): _*)
          .unionByName(up.select(df.columns.map(col): _*))
          .write.mode("overwrite").parquet(tmpPath.toString)
        (updated, nUpdates - updated)
      }
    } finally up.unpersist()
  }

  /** Retention sweep for per-epoch LOG channels — the engine's
    * index-lifecycle analogue (the reference's S3 destinations age out
    * via bucket lifecycle rules; OpenSearch via ILM): delete `epoch=N`
    * directories with N < `keepFrom` under `path`. Valid ONLY for
    * channels whose epochs are independent FACTS (the raw-backup
    * NDJSON channel, the percolator alerts log, failure/dropped audit
    * prefixes) — an upsert-RESOLVED index reads latest-per-key ACROSS
    * epochs, where deleting an old epoch loses docs that are still
    * current; use the stores' compaction there instead. Idempotent and
    * trivially crash-safe (each victim either exists or it doesn't;
    * re-running finishes the sweep).
    * @return number of epoch directories removed
    */
  def expireEpochsBelow(path: String, keepFrom: Long): Long = {
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) return 0L
    val s = Files.list(root)
    val victims =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          val id = n.stripPrefix("epoch=")
          // digits + toLongOption: a bare "epoch=", a negative, or an
          // over-Long digit run is a non-epoch entry to IGNORE, not a
          // NumberFormatException that aborts the sweep before any
          // victim is removed.
          n.startsWith("epoch=") && id.nonEmpty && id.forall(_.isDigit) &&
            id.toLongOption.exists(_ < keepFrom)
        }.toSeq
      } finally s.close()
    victims.foreach(deleteRecursively)
    victims.size.toLong
  }

  /** A16: register a sharded table in the session catalog. */
  def createIndex(name: String,
      source: org.apache.spark.sql.DataFrame, shards: Int): Unit =
    source.repartition(shards).write.mode("overwrite").saveAsTable(name)

  def dropIndex(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      val children =
        try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq }
        finally s.close() // Files.list leaks an fd if unclosed
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }
}
