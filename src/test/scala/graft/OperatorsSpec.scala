package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Similarity}

class OperatorsSpec extends SparkSpec {

  private def media = {
    import spark.implicits._
    Seq(
      (1L, "fake-jpeg-bytes-000000001".getBytes("UTF-8"), "image/jpeg"),
      (2L, "fake-wav-bytes-x".getBytes("UTF-8"), "audio/wav"),
      (3L, Array.empty[Byte], "image/png"))
      .toDF("media_id", "payload", "media_type")
  }

  test("multimodal extractMeta: partition-local decode, deterministic metadata") {
    val meta = Multimodal.extractMeta(spark, media).collect().map(m => m.media_id -> m).toMap
    assert(meta(1L).n_bytes == 25)
    assert(meta(1L).width >= 16 && meta(1L).channels >= 1)
    assert(meta(3L).n_bytes == 0 && meta(3L).width == 0)
    // md5 of the bytes, hex-encoded — matches Spark's own md5 expression.
    val sparkMd5 = media.filter(col("media_id") === 1)
      .select(md5(col("payload"))).head().getString(0)
    assert(meta(1L).sig == sparkMd5)
  }

  test("multimodal resize bounds payloads; frameSample explodes frames distributed") {
    val resized = Multimodal.resize(media, 8)
    assert(resized.select(max(octet_length(col("payload")))).head().getInt(0) <= 8)
    val frames = Multimodal.frameSample(media.filter(col("media_id") === 1), 4, 2)
    assert(frames.count() == 3) // 25 bytes / (4*2) -> frames 0,1,2
    assert(frames.select(max(octet_length(col("frame")))).head().getInt(0) <= 4)
  }

  // Real in-memory images via the same JDK plugins the decoder reads
  // with — true pixel dims, any installed format.
  private def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff8040) // non-uniform pixel: not a degenerate file
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
    out.toByteArray
  }

  test("decodeImages extracts TRUE dimensions from real image bytes") {
    import spark.implicits._
    val rows = Seq(
      (1L, imageBytes(37, 21, "png"), "image/png"),
      (2L, imageBytes(64, 48, "jpg"), "image/jpeg"),
      (3L, imageBytes(5, 9, "bmp"), "image/bmp"),
      (4L, "definitely not an image".getBytes("UTF-8"), "image/png"),
      (5L, null, "image/png"))
      .toDF("media_id", "payload", "media_type")
    val got = Multimodal.decodeImages(spark, rows)
      .select("media_id", "width", "height", "channels", "format", "decoded")
      .as[(Long, Option[Int], Option[Int], Option[Int], Option[String], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, Some(37), Some(21), Some(3), Some("png"), true)))
    assert(got(2L)._2 == Some(64) && got(2L)._3 == Some(48) && got(2L)._6)
    assert(got(2L)._5 == Some("jpeg"))
    assert(got(3L) == ((3L, Some(5), Some(9), Some(3), Some("bmp"), true)))
    // Undecodable rows survive with the flag down, dims null.
    assert(got(4L) == ((4L, None, None, None, None, false)))
    assert(got(5L) == ((5L, None, None, None, None, false)))
    // A PNG header whose declared data is TRUNCATED mid-stream must not
    // throw: header fields may still parse (the reader sees the IHDR
    // chunk) or fail — either way it's a row, not an exception.
    val truncated = imageBytes(100, 100, "png").take(20)
    val t = Multimodal.decodeImages(spark,
      Seq((6L, truncated, "image/png")).toDF("media_id", "payload", "media_type"))
      .select("media_id").as[Long].collect()
    assert(t.toSeq == Seq(6L))
  }

  test("aHash: cross-format pixel-identical images hash EQUAL; the " +
      "banded pair join is lossless vs brute force at distance <= 7") {
    import spark.implicits._
    import graft.operators.Multimodal.RgbSpec
    val specs = (0 until 12).map(j => RgbSpec(j.toLong, j.toLong,
        if (j % 2 == 0) "png" else "bmp", perturbed = false)) ++
      Seq(RgbSpec(100L, 0L, "bmp", perturbed = false),   // copy, other container
        RgbSpec(101L, 1L, "png", perturbed = false),
        RgbSpec(200L, 2L, "png", perturbed = true))      // one pixel changed
    val hashes = Multimodal.aHash(spark,
      Multimodal.syntheticRgbImages(spark, specs))
    val h = hashes.as[(Long, Long)].collect().toMap
    assert(h.size == specs.size, "every lossless payload decodes")
    // Decode-level contract: the hash sees pixels, not containers.
    assert(h(100L) == h(0L) && h(101L) == h(1L))
    // A single-pixel perturbation moves the hash at most a few bits.
    assert(java.lang.Long.bitCount(h(200L) ^ h(2L)) <= 2)
    // Banding completeness: every brute-force pair within distance 7
    // (and nothing else) survives the band-key candidate join.
    val brute = (for {
      (i1, v1) <- h.toSeq; (i2, v2) <- h.toSeq if i1 < i2
      d = java.lang.Long.bitCount(v1 ^ v2) if d <= 7
    } yield (i1, i2, d.toLong)).sortBy(t => (t._1, t._2))
    val banded = Multimodal.hammingPairs(hashes, maxDist = 7)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._2))
    assert(banded == brute)
  }

  test("aHash drops undecodable payloads; hammingPairs refuses a " +
      "distance the 8-band pigeonhole cannot guarantee") {
    import spark.implicits._
    val bad = Seq(
      (1L, "not an image".getBytes("UTF-8"), "image"),
      (2L, null: Array[Byte], "image"),
      // A real but sub-8x8 image (tracking pixel) quarantines too —
      // never an executor throw over one bad row.
      (3L, imageBytes(4, 4, "png"), "image"))
      .toDF("media_id", "payload", "media_type")
    assert(Multimodal.aHash(spark, bad).count() == 0)
    val some = Multimodal.aHash(spark, Multimodal.syntheticRgbImages(spark,
      Seq(graft.operators.Multimodal.RgbSpec(1L, 1L, "png", perturbed = false))))
    intercept[IllegalArgumentException] {
      Multimodal.hammingPairs(some, maxDist = 8)
    }
  }

  test("frameSample: a trailing complete frame mid-stride is NOT dropped") {
    import spark.implicits._
    // 30 bytes, frame=10, every 2nd: complete frames at 0,10,20; sampled
    // at offsets 0 and 20 — the naive floor(len/frame/k) says 1.
    val blob = Seq((1L, Array.fill[Byte](30)('x'))).toDF("media_id", "payload")
    val frames = Multimodal.frameSample(blob, 10, 2)
      .select("frame_idx").as[Long].collect().toSeq.sorted
    assert(frames == Seq(0L, 1L), s"got $frames")
    // 29 bytes: the offset-20 frame is incomplete (complete frames =
    // 0,10), so only the offset-0 sample rides.
    val short = Seq((1L, Array.fill[Byte](29)('x'))).toDF("media_id", "payload")
    assert(Multimodal.frameSample(short, 10, 2).count() == 1)
  }

  test("zero-norm embeddings never poison top-k (no NaN cosine)") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)), // zero vector: no direction
      (4L, Array(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val byId = vecs.withColumnRenamed("vec_id", "id")
    val top = Similarity.topKPerProbe(byId, byId.filter(col("id") === 1), 2)
      .select("neighbor_id", "cos").collect()
    // The zero vector must not outrank real neighbors (NaN sorts above
    // every double in Spark) and no cosine may be NaN.
    assert(top.forall(r => !r.getDouble(1).isNaN))
    assert(top.map(_.getLong(0)).toSet == Set(2L, 4L), s"got ${top.toSeq}")
    val pairs = Similarity.bruteForceTopPairs(spark, vecs, k = 2, nBlocks = 2)
      .collect()
    assert(pairs.forall(r => !r.getDouble(2).isNaN))
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L), (2L, 4L)) ||
      pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L), (1L, 4L)),
      s"zero vector crowded out real pairs: ${pairs.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))}")
  }

  test("hyperplane LSH buckets identical vectors together") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f)), (2L, Array(1.0f, 0.0f, 0.5f)),
      (3L, Array(-1.0f, 0.2f, -0.5f)))
      .toDF("vec_id", "embedding")
    val b = Similarity.hyperplaneLsh(vecs, 8).select("vec_id", "bucket")
      .as[(Long, String)].collect().toMap
    assert(b(1L) == b(2L))
    val pairs = Similarity.lshNearDupPairs(vecs, 8, 0.99)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("hyperplane LSH covers mixed-dim corpora; explicit dim matches the probe") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.5f)),                 // narrow
      (2L, Array(1.0f, 0.5f, -0.3f, 0.9f)),    // wide
      (3L, Array(1.0f, 0.5f, -0.3f, 0.9f)))
      .toDF("vec_id", "embedding")
    val probed = Similarity.hyperplaneLsh(vecs, 8)
      .select("vec_id", "bucket").as[(Long, String)].collect().toMap
    // Planes must span the WIDEST vector: identical wide vectors bucket
    // together, and tail dims beyond the narrow vector still counted.
    assert(probed(2L) == probed(3L))
    val explicit = Similarity.hyperplaneLsh(vecs, 8, dim = 4)
      .select("vec_id", "bucket").as[(Long, String)].collect().toMap
    assert(explicit == probed, "explicit dim must reproduce the probed planes")
  }

  test("LSH guardrail: over-planed configs are diagnosed as near-zero recall; " +
      "defaultLshPlanes sizes from the corpus") {
    import spark.implicits._
    // Scattered full-rank directions (seeded RNG — lattice or
    // sinusoid corpora live on low-dim manifolds whose sign patterns
    // collapse): 16 planes over 60 vectors means 2^16 buckets,
    // (nearly) everyone alone — the q118-measured silent-garbage
    // config. The diagnosis must trip.
    val rnd = new scala.util.Random(1234L)
    val vecs = (1 to 60).map(i => (i.toLong,
        Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val bad = Similarity.diagnoseLsh(Similarity.hyperplaneLsh(vecs, 16))
    assert(bad.corpusRows == 60 && bad.nearZeroRecallRisk,
      s"over-planed config not flagged: $bad")
    // The derived default keeps expected occupancy healthy: 60 vectors
    // at target bucket 8 → 2 planes → 4 buckets → ~15/bucket.
    val planes = Similarity.defaultLshPlanes(60, targetBucketSize = 8)
    assert(planes == 2, s"defaultLshPlanes(60, 8) = $planes")
    val good = Similarity.diagnoseLsh(Similarity.hyperplaneLsh(vecs, planes))
    assert(!good.nearZeroRecallRisk, s"derived config flagged: $good")
    assert(good.distinctBuckets <= 4 && good.expectedCandidatesPerProbe >= 1.0)
    // Degenerate inputs: empty corpus diagnoses quietly.
    val empty = Similarity.diagnoseLsh(
      Similarity.hyperplaneLsh(vecs.filter(lit(false)), 4, dim = 8))
    assert(empty.corpusRows == 0 && !empty.nearZeroRecallRisk)
    intercept[IllegalArgumentException] {
      Similarity.defaultLshPlanes(100, targetBucketSize = 0)
    }
  }

  test("lshSearchMulti: tables=1 equals lshSearch; more tables only widen candidates") {
    import spark.implicits._
    def corpus(n: Int, dim: Int) =
      (1 to n).map(i => (i.toLong,
        Array.tabulate(dim)(d => ((i * 13 + d * 5) % 89 / 89.0f) - 0.5f)))
        .toDF("vec_id", "embedding")
    val vecs = corpus(60, 6)
    val probes = vecs.filter(col("vec_id") <= 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "neighbor_id", "cos", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSet
    // Table 0 of the multi family IS the single-table plane family.
    val single = rows(Similarity.lshSearch(
      Similarity.hyperplaneLsh(vecs, 8), probes, nPlanes = 8, k = 5))
    val multi1 = rows(Similarity.lshSearchMulti(vecs, probes,
      nPlanes = 8, tables = 1, k = 5))
    assert(multi1 == single)
    // Extra tables can only ADD candidates: every exhaustive-true
    // neighbor found by 1 table is still found by 4 (per-probe hit
    // count is monotone in tables).
    val multi4 = Similarity.lshSearchMulti(vecs, probes,
      nPlanes = 8, tables = 4, k = 5)
    val bf = rows(Similarity.topKPerProbe(
      vecs.withColumnRenamed("vec_id", "id"),
      probes.withColumnRenamed("vec_id", "id"), 5))
    def hits(ann: Set[(Long, Long, Double, Int)]) =
      ann.map(r => (r._1, r._2)).intersect(bf.map(r => (r._1, r._2)))
    assert(hits(multi1).subsetOf(hits(rows(multi4))))
  }

  test("autoBlockCount grows with corpus size; explicit and auto kernels agree") {
    import spark.implicits._
    def corpus(n: Int, dim: Int) =
      (1 to n).map(i => (i.toLong,
        Array.tabulate(dim)(d => ((i * 31 + d * 7) % 97 / 97.0f) - 0.5f)))
        .toDF("vec_id", "embedding")
    val small = Similarity.autoBlockCount(spark, corpus(50, 8))
    val big = Similarity.autoBlockCount(spark, corpus(400, 8))
    assert(small >= 1 && big >= small)
    // Parallelism floor dominates at test sizes; with a shrunk budget the
    // size-driven term must take over and scale linearly with the corpus
    // (50 vecs × 56 B = 2800 B → 3 blocks of 1000 B; 400 vecs → 23).
    val atBudget = Similarity.autoBlockCount(spark, corpus(50, 8), budgetBytes = 1000)
    val atBudget8x = Similarity.autoBlockCount(spark, corpus(400, 8), budgetBytes = 1000)
    assert(atBudget >= 3 && atBudget8x >= 8 * atBudget - 8,
      s"size-driven term not scaling: $atBudget -> $atBudget8x")
    // Auto and explicit blocking must produce identical top pairs (block
    // assignment cannot affect the exact kernel's result).
    val c = corpus(60, 8)
    val auto = Similarity.bruteForceTopPairs(spark, c, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val explicit = Similarity.bruteForceTopPairs(spark, c, 5, nBlocks = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(auto == explicit)
  }
}
