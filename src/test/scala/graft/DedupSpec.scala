package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("exact dedup keeps min-id survivor per distinct text") {
    import spark.implicits._
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 3L), (2L, 1L)))
  }

  test("components resolves transitive duplicate chains to min labels") {
    import spark.implicits._
    // Chain 1-2-3-4 plus isolated pair 10-11: transitivity matters.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id1", "id2")
    val comp = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("components: the gated local union-find equals the distributed " +
      "fixpoint (same (id, min-label) map), empty graph included") {
    import spark.implicits._
    // Adversarial shape: late edge (8,2) merges two grown components,
    // self-loop, reversed-order ids, chain + isolated pair.
    val pairs = Seq((5L, 3L), (3L, 9L), (10L, 11L), (2L, 2L), (7L, 8L),
      (8L, 2L), (9L, 1L)).toDF("id1", "id2")
    val local = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    val loop = Dedup.componentsLoop(pairs, 20).as[(Long, Long)].collect().toMap
    assert(local == loop)
    assert(Dedup.componentsLoop(Seq.empty[(Long, Long)].toDF("id1", "id2"), 20)
      .count() == 0) // loop path empty graph
    assert(local == Map(5L -> 1L, 3L -> 1L, 9L -> 1L, 1L -> 1L,
      10L -> 10L, 11L -> 10L, 2L -> 2L, 7L -> 2L, 8L -> 2L))
  }

  test("components: null-id edges decline the local path, so the gated " +
      "call replays the distributed join semantics exactly") {
    import spark.implicits._
    // A null endpoint has JOIN-key semantics in the fixpoint (it
    // receives a label row but never matches as a key); the local
    // union-find declines such inputs (ADVICE r15), so the gated call
    // must return exactly the distributed loop's result.
    val pairs = Seq((Some(1L), Some(2L)), (Some(3L), None), (Some(2L), Some(4L)))
      .toDF("id1", "id2")
    val gated = Dedup.components(pairs)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    val loop = Dedup.componentsLoop(pairs, 20)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(gated == loop)
  }

  test("components on an empty pair list returns empty and terminates") {
    import spark.implicits._
    // Exercises the null-sum (empty graph) branch of the convergence
    // certificate: two empty iterations certify the fixpoint; without
    // the None == None case the loop would spin to maxIters and throw.
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.components(empty).count() == 0)
  }

  test("semDedup matches a naive per-cell reference and keeps cell-local minima") {
    import spark.implicits._
    // Synthetic corpus with planted in-cell near-dups: cells are given
    // explicitly (semDedup is downstream of Ivf.index; its contract is
    // the within-cell relation, not the clustering). Vectors 1/3/5 in
    // cell 0 are near-identical; 7 in cell 0 is orthogonal to them;
    // 2/4 in cell 1 are near-identical; 6 alone in cell 2. 9 is a
    // zero vector in cell 0 — cosSafe must rank it a non-duplicate of
    // everything rather than NaN-matching.
    val rows = Seq(
      (1L, Array(1f, 0f, 0f), 0), (3L, Array(0.99f, 0.1f, 0f), 0),
      (5L, Array(0.98f, 0.15f, 0f), 0), (7L, Array(0f, 1f, 0f), 0),
      (9L, Array(0f, 0f, 0f), 0),
      (2L, Array(0f, 0f, 1f), 1), (4L, Array(0.05f, 0f, 1f), 1),
      (6L, Array(1f, 1f, 1f), 2))
    val indexed = rows.toDF("vec_id", "embedding", "cell")
    val out = Dedup.semDedup(indexed, minCos = 0.9)
      .as[(Long, Int, Option[Long], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val expected = rows.map { case (id, v, cell) =>
      val peers = rows.filter { case (i2, v2, c2) =>
        c2 == cell && i2 < id && naiveCos(v2, v) >= 0.9
      }.map(_._1)
      id -> ((cell, peers.sorted.headOption, if (peers.isEmpty) 1 else 0))
    }.toMap
    assert(out == expected)
    // Spot-check the planted structure really exercised both branches.
    assert(out(1L)._3 == 1 && out(3L)._2 == Some(1L) && out(5L)._2 == Some(1L))
    assert(out(7L)._3 == 1 && out(9L)._3 == 1 && out(4L)._2 == Some(2L))
  }

  test("semDedup hot-cell tiling equals the untiled join on a crowded cell") {
    import spark.implicits._
    // Adversarial shape: one cell absorbs the whole corpus (clustered
    // real-world embeddings do this) — the case the (n/k)² per-cell
    // bound does not cover. With cellCap = 7 this 80-vector cell tiles
    // into ceil(80/7) = 12 splits per side; the result must be
    // BIT-IDENTICAL to the untiled join, and both must match naive
    // all-pairs semantics. Duplicate structure: vectors come from 8
    // distinct directions (i % 8) with a tiny id-dependent wobble, so
    // most vectors have a lower-id near-parallel peer and survivor
    // selection exercises min-over-many.
    val rows = (0 until 80).map { i =>
      val base = i % 8
      val wobble = 0.001f * (i / 8)
      (i.toLong, Array(
        math.cos(base * 0.7).toFloat + wobble,
        math.sin(base * 0.7).toFloat,
        0.1f * base), 0)
    }
    val indexed = rows.toDF("vec_id", "embedding", "cell")
    def run(cap: Int) = Dedup.semDedup(indexed, minCos = 0.95, cellCap = cap)
      .as[(Long, Int, Option[Long], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val tiled = run(7)
    val untiled = run(Int.MaxValue)
    assert(tiled == untiled, "tiling changed the result")
    val expected = rows.map { case (id, v, cell) =>
      val peers = rows.collect {
        case (i2, v2, c2) if c2 == cell && i2 < id && naiveCos(v2, v) >= 0.95 => i2
      }
      id -> ((cell, peers.sorted.headOption, if (peers.isEmpty) 1 else 0))
    }.toMap
    assert(tiled == expected)
    // The planted structure really is crowded: most rows are duplicates.
    assert(tiled.values.count(_._3 == 0) > 60)
  }

  test("nearDedup drops every planted near-duplicate, keeps one per cluster") {
    import spark.implicits._
    val docs = queries.Tables.t(spark, "/root/testdata/sf0.01", "documents")
    val deduped = Dedup.nearDedup(docs, "doc_id", "text", minEstSim = 0.5)
    val pairs = SparkEntry.queries("q44_lsh_pairs")(spark, "/root/testdata/sf0.01")
      .filter(col("est_sim") >= 0.5)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val kept = deduped.select("doc_id").as[Long].collect().toSet
    // No surviving pair is still a near-dup of each other...
    assert(!pairs.exists { case (a, b) => kept.contains(a) && kept.contains(b) })
    // ...and every cluster kept exactly its min-id representative.
    val comp = Dedup.components(pairs.toSeq.toDF("id1", "id2"))
      .as[(Long, Long)].collect()
    comp.groupBy(_._2).foreach { case (root, members) =>
      val ids = members.map(_._1).toSet
      assert(kept.intersect(ids) == Set(root),
        s"cluster $root kept ${kept.intersect(ids)}")
    }
  }
}
