package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph centrality over the near-duplicate pair graph — PageRank (Page
  * et al. 1999) as a per-document centrality prior. Production curation
  * recipes use exactly this signal family: Common Crawl publishes
  * host-level PageRank/harmonic-centrality rankings that crawl-data
  * pipelines consume as a quality prior, and within a corpus the same
  * rank over the SIMILARITY graph (q32's Jaccard pairs) scores how
  * "hub-like" a document is inside its duplication neighborhood —
  * complementing [[Dedup.components]] (which answers "which cluster")
  * with "how central to it" (the q144 soft-dedup weighting picks
  * survivors by cluster size; rank orders WITHIN the cluster).
  *
  * Determinism discipline: the textbook iteration
  * `r ← (1−d)/N + d·Σ r(u)/deg(u)` sums DOUBLES whose partial-sum order
  * Spark does not fix, so a bit-equal oracle gate would be impossible.
  * Instead the whole iteration runs in SCALED 64-BIT INTEGERS
  * (`scale` = 1e12 rank units, d = 17/20): per-edge contribution
  * `(r·17) div 20 div deg` and base `(scale·3) div 20 div N` are exact
  * integer ops, and a sum of longs is order-free — every iterate is
  * bit-identical under ANY partitioning, task order, or engine (DuckDB
  * replays with its `//` integer division). The floor drift this
  * introduces is bounded by 1 rank unit (1e-12 of the mass) per edge
  * per iteration — quantization far below any ranking decision, in
  * exchange for exactness of the GATE.
  *
  * Scale shape: one join + one mergeable hash-agg per iteration (the
  * Pregel/GraphX message pattern), each iterate localCheckpointed so
  * the plan stays flat (the [[Dedup.components]] loop discipline);
  * state per iteration is one (node, long) row per PAIRED node — the
  * pair graph's nodes, far below corpus scale. Degrees and N come from
  * one degree agg; N reaches the driver as a single scalar (O(1)
  * metadata, the Ivf-centroid precedent).
  */
object Graph {

  /** `iters` rounds of damped integer PageRank over the undirected pair
    * graph `pairs` (id1, id2; unique pairs) — (id, deg, r) with `r` the
    * final scaled rank. Nodes outside any pair are not ranked (they
    * have no edges to receive or send mass; callers treat absent as
    * "no duplication neighborhood").
    */
  def pageRank(pairs: DataFrame, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 1000000L, s"scale must be >= 1e6 rank units, got $scale")
    val base = pairs.select(col("id1"), col("id2")).localCheckpoint()
    // Driver-local twin (DriverLocal; the Dedup.components precedent):
    // the pair graph is far below corpus scale by construction, and
    // the distributed loop pays fixed job overhead per iteration. The
    // integer-rank design makes the local replay BIT-EXACT by
    // construction (scaled longs, order-free sums, the same div
    // chain); above the bound, and for non-long or null ids, the
    // Pregel-shaped loop is the scale path. GraphSpec pins
    // local == loop.
    DriverLocal.longPairs(base) match {
      case Some(pairList) => pageRankLocal(base.sparkSession, pairList, iters, scale)
      case None => pageRankLoop(base, iters, scale)
    }
  }

  /** [[pageRank]]'s distributed loop over (id1, id2). */
  private[graft] def pageRankLoop(base: DataFrame, iters: Int,
      scale: Long): DataFrame = {
    val edges = base
      .unionByName(base.select(col("id2").as("id1"), col("id1").as("id2")))
      .select(col("id1").as("src"), col("id2").as("dst"))
      .distinct().localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg")).localCheckpoint()
    val n = deg.count() // one scalar to the driver
    require(n > 0, "pageRank needs a non-empty pair graph")
    val baseRank = scale * 3 / 20 / n // (1-d)·scale/N in integer ops
    var rank = deg.select(col("id"), lit(scale / n).as("r"))
    for (_ <- 1 to iters) {
      rank = edges
        .join(rank.select(col("id").as("src"), col("r")), "src")
        .join(deg.select(col("id").as("src"), col("deg")), "src")
        .select(col("dst").as("id"),
          expr("((r * 17) div 20) div deg").as("c"))
        .groupBy("id")
        .agg((sum(col("c")) + baseRank).as("r"))
        .localCheckpoint() // flat plan; superseded iterates are GC'd
    }
    rank.join(deg, "id")
  }

  /** [[pageRank]]'s driver-local twin: the same scaled-integer
    * iteration over driver-side adjacency — `((r·17) div 20) div deg`
    * per directed edge, long sums (order-free), `+ baseRank` — so
    * every iterate is bit-identical to the distributed loop's. Output
    * (id, r, deg), the join's column order.
    */
  private[graft] def pageRankLocal(spark: SparkSession, pairList: Array[(Long, Long)],
      iters: Int, scale: Long): DataFrame = {
    val edges = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    pairList.foreach { case (a, b) =>
      edges += ((a, b))
      edges += ((b, a))
    }
    val deg = scala.collection.mutable.HashMap.empty[Long, Long]
    edges.foreach { case (src, _) => deg(src) = deg.getOrElse(src, 0L) + 1L }
    val n = deg.size.toLong
    require(n > 0, "pageRank needs a non-empty pair graph")
    val baseRank = scale * 3 / 20 / n
    var rank = deg.keys.map(id => id -> scale / n).to(scala.collection.mutable.HashMap)
    for (_ <- 1 to iters) {
      val next = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (src, dst) =>
        next(dst) = next.getOrElse(dst, 0L) + rank(src) * 17 / 20 / deg(src)
      }
      // Snapshot the keys before mutating values — iterating a live
      // keys view of the map being written is undefined for HashMap.
      next.keySet.toArray.foreach(id => next(id) = next(id) + baseRank)
      rank = next
    }
    DriverLocal.longFrame(spark, rank.keys.toSeq.sorted.map(id =>
      org.apache.spark.sql.Row(id, rank(id), deg(id))), "id", "r", "deg")
  }
}
