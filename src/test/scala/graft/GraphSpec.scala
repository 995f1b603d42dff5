package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Local integer replay of the scaled PageRank iteration — the
  * corpus-level oracle is q175.
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  /** Reference: same integer ops, adjacency maps on the driver. */
  private def refRank(pairs: Seq[(Long, Long)], iters: Int,
      scale: Long): Map[Long, Long] = {
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = out.view.mapValues(_.size.toLong).toMap
    val n = deg.size.toLong
    val base = scale * 3 / 20 / n
    var r = deg.keys.map(_ -> scale / n).toMap
    (1 to iters).foreach { _ =>
      val contrib = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) * 17 / 20 / deg(u) }.sum
      }
      r = deg.keys.map(v => v -> (base + contrib.getOrElse(v, 0L))).toMap
    }
    r
  }

  /** [[Graph.pageRank]] (the driver-local twin at test size), or its
    * distributed loop when `distributed`.
    */
  private def run(pairs: Seq[(Long, Long)], iters: Int, parts: Int,
      distributed: Boolean = false): Map[Long, (Long, Long)] = {
    val df = pairs.toDF("id1", "id2").repartition(parts)
    (if (distributed) Graph.pageRankLoop(df, iters, 1000000000000L)
     else Graph.pageRank(df, iters))
      .select("id", "r", "deg")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("pageRank matches the integer replay on a triangle + chain + pair") {
    // components: triangle {1,2,3}, chain 4-5-6, isolated pair {7,8}
    val pairs = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L, 5L -> 6L, 7L -> 8L)
    for (iters <- Seq(1, 3, 5)) {
      val got = run(pairs, iters, parts = 3)
      val want = refRank(pairs, iters, 1000000000000L)
      assert(got.view.mapValues(_._1).toMap == want, s"iters=$iters")
    }
    val got = run(pairs, 5, parts = 3)
    // degree column is the undirected degree
    assert(got(5L)._2 == 2L && got(4L)._2 == 1L && got(1L)._2 == 2L)
    // chain center outranks its endpoints; triangle is symmetric
    assert(got(5L)._1 > got(4L)._1 && got(4L)._1 == got(6L)._1)
    assert(got(1L)._1 == got(2L)._1 && got(2L)._1 == got(3L)._1)
  }

  test("pageRank: the gated local path equals the distributed loop " +
      "bit-for-bit (same (id, r, deg) map)") {
    // A LARGE random graph on top of the structured fixture: the
    // original q175 regression (driver HashMap values mutated while
    // iterating a live keys view) only manifested past fixture size.
    val rnd = new scala.util.Random(7)
    val pairs = (Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L, 5L -> 6L,
      7L -> 8L, 3L -> 4L) ++
      Vector.fill(3000)((rnd.nextInt(800).toLong, rnd.nextInt(800).toLong))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))).distinct
    val local = run(pairs, 5, parts = 3)
    val loop = run(pairs, 5, parts = 3, distributed = true)
    assert(local == loop)
  }

  test("pageRank: null-id edges decline the local path, so the gated " +
      "call replays the distributed join semantics exactly") {
    import spark.implicits._
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(3L), None))
      .toDF("id1", "id2")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    val gated = rows(graft.operators.Graph.pageRank(pairs, iters = 3))
    val loop = rows(Graph.pageRankLoop(pairs, 3, 1000000000000L))
    assert(gated == loop)
  }

  test("pageRank is partitioning-invariant (exact integer state)") {
    val rnd = new scala.util.Random(11)
    val pairs = Vector.fill(60)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val a = run(pairs, 5, parts = 1)
    val b = run(pairs, 5, parts = 13)
    assert(a == b)
    // mass conservation within quantization: total <= scale, and the
    // floor drift is bounded by (edges + nodes) units per iteration
    val total = a.values.map(_._1).sum
    assert(total <= 1000000000000L)
    assert(total > 1000000000000L - 5L * (2L * pairs.size + a.size + 20L))
    intercept[IllegalArgumentException] { Graph.pageRank(pairs.toDF("id1", "id2"), 0) }
  }
}
