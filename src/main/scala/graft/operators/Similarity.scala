package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StructField, StructType}

/** Approximate-nearest-neighbor scale paths for embedding columns
  * (`Array[Float]`). Q33/Q46 give the brute-force oracle-checked
  * baselines; these operators are the 100 TB variants:
  *
  * - [[topKPerProbe]]: partial top-k BELOW the exchange — each partition
  *   keeps only its local top-k per probe before the shuffle, so the
  *   exchange carries O(partitions × probes × k) rows, not the corpus.
  * - [[hyperplaneLsh]]: random-hyperplane signatures; candidates share a
  *   bucket → pair generation is a hash join on bucket keys (IVF-style
  *   coarse quantization with deterministic, engine-portable planes).
  */
object Similarity {

  /** Sequential-fold dot product / L2 norm over array<float> — the
    * codegen'd [[graft.functions.DotProductF]] expression (same op order
    * as DuckDB's list_sum, keeping floats bit-portable).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dot_f(a, b)

  def norm(a: Column): Column = graft.functions.VectorFunctions.norm_f(a)

  /** Cosine that can never be NaN: a zero-norm vector has no direction,
    * so its pairs score -1.0 (ranked last, deterministic) instead of
    * 0/0 = NaN — which Spark sorts GREATER than every real number (rank
    * 1 of every top-k) and which poisons min-heap eviction in the tile
    * kernel (nothing compares greater than a NaN head).
    */
  private[graft] def cosSafe(dotCol: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(-1.0)).otherwise(dotCol / (na * nb))

  /** Exact top-k neighbors per probe with partial (map-side) top-k.
    *
    * @param corpus  (id: bigint, embedding: array<float>)
    * @param probes  same schema; must be small enough to broadcast
    */
  def topKPerProbe(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("id").as("neighbor_id"), col("embedding").as("eb"),
      norm(col("embedding")).as("nb"))
    val p = probes.select(col("id").as("probe_id"), col("embedding").as("ea"),
      norm(col("embedding")).as("na"))
    val scored = c.join(broadcast(p), col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosSafe(dot(col("ea"), col("eb")), col("na"), col("nb")).as("cos"))
    topKByScore(scored, "cos", k)
  }

  /** Shared rank-and-cut skeleton over a scored candidate frame
    * (`probe_id`, `neighbor_id`, scoreCol): one row_number window +
    * `rnk <= k` filter. The map-side bound comes from Spark's
    * InferWindowGroupLimit (SPARK-37099): the rank-limited window plans
    * as WindowGroupLimit(Partial) BELOW the exchange — each mapper
    * forwards at most k rows per probe — so the exchange carries
    * O(partitions × probes × k) rows, not the scored corpus. (A manual
    * pre-window on (probe_id, spark_partition_id) used to enforce the
    * same bound; on this Spark version it only added a second exchange
    * + sort + window — the group-limit rule already covers it.) One
    * implementation serves the float scorer ([[topKPerProbe]]) and the
    * quantized scorer ([[Quantize.topKQuantized]]); ties break on
    * `neighbor_id` ascending.
    */
  private[operators] def topKByScore(scored: DataFrame, scoreCol: String,
      k: Int): DataFrame = {
    val finalW = Window.partitionBy(col("probe_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(finalW)).filter(col("rnk") <= k)
  }

  /** The empty (probe_id, neighbor_id, scoreCol, rnk) frame
    * [[topKByScore]] would yield for zero probes — the short-circuit the
    * ADC searchers ([[Pq.search]]/[[IvfPq.search]]) take when their
    * EAGER probe-dimension check finds no probes at all. The pure-
    * DataFrame scorers stay lazily empty for free; the ADC paths must
    * aggregate probe widths up front (a malformed probe there scores
    * well-formed-but-meaningless cosines with no error anywhere), and a
    * null width aggregate means "no probes", not "bad probes".
    */
  private[operators] def emptyTopK(spark: SparkSession, probeIdType: DataType,
      neighborIdType: DataType, scoreCol: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("probe_id", probeIdType),
        StructField("neighbor_id", neighborIdType),
        StructField(scoreCol, DoubleType),
        StructField("rnk", IntegerType, nullable = false))))

  /** All-pairs cosine, block-tiled matrix kernel — fully DISTRIBUTED:
    * vectors are packed into √-sized blocks (one row per block, vectors
    * inlined), the block table is self-joined on `blk1 <= blk2`, and each
    * of the (n/B)·(n/B+1)/2 TILES computes its B×B dot products as a
    * primitive loop inside one task, emitting only its local top-`k`
    * pairs. No corpus data ever touches the driver; the exchange carries
    * tiles×k candidate rows into a final TakeOrderedAndProject.
    *
    * The per-pair arithmetic is the exact sequential fold of
    * [[graft.functions.DotProductF]] (ascending-dimension accumulation;
    * float multiply commutes bitwise), so results stay bit-identical to
    * the SQL oracle regardless of which block a vector lands in.
    *
    * Scale shape: memory per task is 2 blocks (2·B vectors); the default
    * `nBlocks = 0` means AUTO — [[autoBlockCount]] sizes the block count
    * from the actual corpus so a packed block stays under a fixed byte
    * budget (a fixed count would mean multi-GB packed rows at 100× the
    * corpus) while the tile count (n/B)²/2 still feeds every core.
    * Past brute-force budgets, [[lshNearDupPairs]]/IVF prune tiles first.
    *
    * @param embeddings (vec_id: bigint, embedding: array<float>) — the
    *                   embeddings-table schema (q46's input); null
    *                   embeddings are skipped (they have no direction,
    *                   like [[cosSafe]]'s zero-norm rule)
    * @param nBlocks explicit block count; 0 (default) derives it from
    *                corpus count × vector width via [[autoBlockCount]]
    * @return (id1, id2, cos) for the global top-`k` pairs, id1 < id2,
    *         ordered by (cos desc, id1, id2).
    */
  def bruteForceTopPairs(spark: org.apache.spark.sql.SparkSession,
      embeddings: DataFrame, k: Int, nBlocks: Int = 0): DataFrame = {
    import spark.implicits._
    val blocks = if (nBlocks > 0) nBlocks else autoBlockCount(spark, embeddings)
    // Block assignment by HASH of the id, mod block count: stable, no
    // global index needed — and uniform for any id pattern. Raw
    // pmod(id, blocks) would let structured ids (low bits a constant
    // shard tag) collapse into a few residues and pack most of the
    // corpus into one block row, blowing the per-block byte budget.
    val packed = embeddings
      .filter(col("embedding").isNotNull)
      .select(pmod(xxhash64(col("vec_id")), lit(blocks.toLong)).cast("int").as("blk"),
        struct(col("vec_id").as("_1"), col("embedding").as("_2")).as("v"))
      .groupBy("blk")
      .agg(collect_list(col("v")).as("vs"))
    val tiles = packed.select(col("blk").as("blk1"), col("vs").as("vs1"))
      .join(packed.select(col("blk").as("blk2"), col("vs").as("vs2")),
        col("blk1") <= col("blk2"))
      .select(col("vs1"), col("vs2"))
      .as[(Seq[(Long, Array[Float])], Seq[(Long, Array[Float])])]
    tiles.flatMap { case (rawA, rawB) =>
      // Sort by id and pre-compute norms once per block, not per pair.
      def prep(vs: Seq[(Long, Array[Float])]): Array[(Long, Array[Float], Double)] =
        vs.sortBy(_._1).map { case (id, v) =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
          (id, v, math.sqrt(s))
        }.toArray
      val as = prep(rawA); val bs = prep(rawB)
      val sameBlock = as.length == bs.length && (as.isEmpty || as(0)._1 == bs(0)._1)
      // Bounded top-k selection per tile under the exact final total
      // order (cos desc, id1, id2): global top-k ⊆ union of tile top-ks
      // since every pair lives in exactly one tile.
      val heap = new scala.collection.mutable.PriorityQueue[(Double, Long, Long)]()(
        Ordering.by[(Double, Long, Long), (Double, Long, Long)] {
          case (c, i1, i2) => (-c, i1, i2)
        }) // min-heap on the (cos desc, id1, id2) order: head = worst kept
      var i = 0
      while (i < as.length) {
        val (ida, a, na) = as(i)
        var j = if (sameBlock) i + 1 else 0
        while (j < bs.length) {
          val (idb, b, nb) = bs(j)
          if (ida != idb) {
            var s = 0.0; var d = 0
            val len = math.min(a.length, b.length)
            while (d < len) { s += a(d).toDouble * b(d).toDouble; d += 1 }
            // Zero-norm guard (see cosSafe): a NaN here would become the
            // heap head and block every subsequent eviction.
            val cos = if (na == 0.0 || nb == 0.0) -1.0 else s / (na * nb)
            val id1 = math.min(ida, idb); val id2 = math.max(ida, idb)
            if (heap.size < k) heap.enqueue((cos, id1, id2))
            else {
              val (wc, w1, w2) = heap.head
              if (cos > wc || (cos == wc && (id1 < w1 || (id1 == w1 && id2 < w2)))) {
                heap.dequeue(); heap.enqueue((cos, id1, id2))
              }
            }
          }
          j += 1
        }
        i += 1
      }
      heap.iterator.map { case (c, i1, i2) => (i1, i2, c) }
    }
      .toDF("id1", "id2", "cos")
      .orderBy(col("cos").desc, col("id1"), col("id2"))
      .limit(k) // TakeOrderedAndProject: per-partition top-k, driver merge
  }

  /** One packed block (a `collect_list` of ~n/nBlocks vectors in a single
    * row) must fit comfortably in task memory — two blocks live per tile
    * task, and Spark rows have hard size ceilings. 64 MB per block keeps
    * a tile ≤128 MB of vector data while leaving blocks large enough that
    * the O(B²·dim) tile loop dominates scheduling overhead.
    */
  private val BlockBudgetBytes: Long = 64L << 20

  /** Derive the tile-kernel block count from the ACTUAL corpus: the
    * smallest count keeping every packed block under [[BlockBudgetBytes]],
    * raised (if needed) until the (m·(m+1)/2) tiles cover the cluster's
    * parallelism. Costs one `count()` plus a one-row width probe — noise
    * next to the O(n²/2·dim) kernel it sizes.
    *
    * @param budgetBytes per-block byte ceiling (overridable for tests)
    */
  def autoBlockCount(spark: org.apache.spark.sql.SparkSession,
      embeddings: DataFrame, budgetBytes: Long = BlockBudgetBytes): Int = {
    // count + WIDEST vector in one pass — a first-row probe would
    // undersize blocks on mixed-dim corpora (and NPE on a null row).
    val stats = embeddings
      .agg(count(lit(1)), max(size(col("embedding")))).head()
    val n = stats.getLong(0)
    if (n == 0) return 1
    val dim = if (stats.isNullAt(1)) 1 else stats.getInt(1)
    val bytesPerVec = 4L * math.max(dim, 1) + 24 // float payload + id/struct overhead
    val sizeDriven = ((n * bytesPerVec + budgetBytes - 1) / budgetBytes).toInt
    val par = spark.sparkContext.defaultParallelism
    // smallest m with m(m+1)/2 >= par, so every core gets a tile
    val parDriven = math.ceil((math.sqrt(8.0 * par + 1) - 1) / 2).toInt
    math.max(1, math.min(n, math.max(sizeDriven, parDriven).toLong).toInt)
  }

  /** Random-hyperplane LSH bucket key (deterministic planes derived from
    * md5 of (plane index, dimension index) — engine-portable, no RNG
    * state). Vectors sharing all `nPlanes` sign bits land in one bucket.
    *
    * The plane weights are data-independent, so they're computed ONCE on
    * the driver ([[planeWeight]] — the same md5 bit an engine computes in
    * SQL) and the projection runs through the codegen'd
    * [[graft.functions.DotProductF]] instead of an interpreted
    * `aggregate(zip_with(...))` lambda per plane per row. Same sequential
    * double fold, bit-identical signs, ~an order of magnitude cheaper.
    *
    * Plane width must cover the WIDEST vector (the dot folds over the
    * shorter side, so narrower vectors project exactly as the per-row
    * SQL form does; a too-short plane would silently drop tail dims of
    * wide vectors). `dim = 0` probes `max(size(embedding))` — one tiny
    * eager job; pass the known dimension explicitly to stay fully lazy
    * (required for streaming inputs).
    */
  def hyperplaneLsh(embeddings: DataFrame, nPlanes: Int, dim: Int = 0): DataFrame = {
    val width = if (dim > 0) dim
      else Option(embeddings.agg(max(size(col("embedding")))).head().get(0))
        .map(_.asInstanceOf[Int]).getOrElse(0)
    embeddings.withColumn("bucket", bucketExpr(nPlanes, width, table = 0))
  }

  /** The signature expression for one LSH table: table `t`'s planes are
    * the global plane indices t·nPlanes … t·nPlanes + nPlanes − 1, so
    * table 0 IS the single-table [[hyperplaneLsh]] family (bit-stable
    * with every persisted bucket) and further tables draw fresh,
    * deterministic planes from the same md5 stream.
    */
  private def bucketExpr(nPlanes: Int, width: Int, table: Int): org.apache.spark.sql.Column = {
    val sigBits = (0 until nPlanes).map { p =>
      val plane = typedLit((0 until width).map(d => planeWeight(table * nPlanes + p, d)))
      when(dot(col("embedding"), plane) >= 0, lit(1)).otherwise(lit(0)).cast("string")
    }
    if (sigBits.isEmpty) lit("") else concat(sigBits: _*)
  }

  /** ANN top-k over an LSH-BUCKETED corpus: candidates come only from
    * each probe's own bucket (a hash join on the signature — 1/2^nPlanes
    * of the corpus per probe in expectation), then exact zero-norm-safe
    * cosine + rank within the candidates. This is the search half of
    * q69's shape, factored so a LIVE index carrying epoch-side buckets
    * ([[graft.streaming.IndexSink.start]]'s `enrich` +
    * `liveVectors`) and a batch-bucketed corpus run the identical
    * plan.
    *
    * @param bucketed (vec_id, embedding, bucket) — corpus with
    *                 signatures already attached ([[hyperplaneLsh]]
    *                 batch-side, or the enrich hook streaming-side;
    *                 pre-attached so delivered epochs are never
    *                 re-projected at query time)
    * @param probes   (vec_id, embedding) — bucketed here with the same
    *                 plane family; must be broadcast-small. `dim` as in
    *                 [[hyperplaneLsh]] (the eager width probe only ever
    *                 runs over this small frame)
    */
  def lshSearch(bucketed: DataFrame,
      probes: DataFrame, nPlanes: Int, k: Int, dim: Int = 0): DataFrame = {
    require(k > 0, s"top-k must be positive, got $k")
    val corpus = bucketed.select(col("vec_id"), col("embedding"), col("bucket"))
      .withColumn("nrm", norm(col("embedding")))
    val p = hyperplaneLsh(probes.select(col("vec_id"), col("embedding")), nPlanes, dim)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        norm(col("embedding")).as("pn"), col("bucket"))
    val scored = corpus.join(broadcast(p), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosSafe(dot(col("pe"), col("embedding")), col("pn"), col("nrm")).as("cos"))
    topKByScore(scored, "cos", k)
  }

  /** Multi-table LSH ANN — the standard OR-amplification of
    * [[lshSearch]]: `tables` independent plane families each bucket
    * the corpus, a candidate is anyone sharing ANY table's bucket with
    * the probe, and the union is exact-scored + ranked. One table with
    * long signatures has collapsing recall when true neighbors land
    * across a hyperplane (q118 MEASURES 0.0 at 8 planes on the test
    * corpus); shorter signatures × more tables trade a bounded extra
    * candidate fraction for recovered recall (q121: 0.52 at 4×4).
    * Tuning rule: P(candidate) = 1 − (1 − p₁^nPlanes)^tables with
    * p₁ = 1 − θ/π — pick nPlanes for per-table selectivity, tables
    * for recall.
    *
    * Scale shape: ONE corpus pass computes every table's signature
    * (all narrow expressions) and posexplode stacks them — corpus ×
    * tables rows into a (table, bucket)-keyed join against the
    * broadcast probe signatures; the distinct collapses duplicate
    * pairs BEFORE scoring (a pair found by 3 tables scores once); the
    * scoring join is candidate-bounded, never corpus-sized.
    */
  def lshSearchMulti(embeddings: DataFrame, probes: DataFrame, nPlanes: Int,
      tables: Int, k: Int, dim: Int = 0): DataFrame = {
    val width = if (dim > 0) dim
      else Option(embeddings.agg(max(size(col("embedding")))).head().get(0))
        .map(_.asInstanceOf[Int]).getOrElse(0)
    lshSearchMultiBucketed(
      multiBuckets(embeddings.select(col("vec_id"), col("embedding")),
        nPlanes, tables, width),
      probes, nPlanes, tables, k, width)
  }

  /** Every table's signature in one narrow pass — `buckets` as an
    * array column, table t at index t. This is the multi-table
    * analogue of [[hyperplaneLsh]]'s single `bucket` column and the
    * frame [[lshSearchMultiBucketed]] searches; attach it epoch-side
    * (the [[graft.streaming.IndexSink.start]] `enrich` pattern) so
    * delivered epochs are multi-table-searchable against the frozen
    * plane family without re-projection at query time.
    */
  def multiBuckets(embeddings: DataFrame, nPlanes: Int, tables: Int,
      dim: Int = 0): DataFrame = {
    require(tables > 0, s"tables must be positive, got $tables")
    val width = if (dim > 0) dim
      else Option(embeddings.agg(max(size(col("embedding")))).head().get(0))
        .map(_.asInstanceOf[Int]).getOrElse(0)
    embeddings.withColumn("buckets",
      array((0 until tables).map(t => bucketExpr(nPlanes, width, t)): _*))
  }

  /** The search half of [[lshSearchMulti]] over a corpus whose
    * `buckets` array is already attached ([[multiBuckets]] batch-side
    * or the enrich hook streaming-side) — the factoring that lets a
    * LIVE index and a batch corpus run the identical plan (the
    * [[lshSearch]] contract, multi-table form). Probes are bucketed
    * here with the same plane family; `dim` must match the corpus's
    * bucketing width when vectors are ragged.
    */
  def lshSearchMultiBucketed(bucketed: DataFrame, probes: DataFrame,
      nPlanes: Int, tables: Int, k: Int, dim: Int = 0): DataFrame = {
    require(tables > 0, s"tables must be positive, got $tables")
    require(k > 0, s"top-k must be positive, got $k")
    val corpus = bucketed.select(col("vec_id"), col("embedding"), col("buckets"))
    val p = multiBuckets(probes.select(col("vec_id"), col("embedding")),
      nPlanes, tables, dim)
    def stacked(df: DataFrame, idCol: String): DataFrame =
      df.select(col("vec_id").as(idCol),
        posexplode(col("buckets")).as(Seq("t", "bucket")))
    val cand = stacked(corpus, "neighbor_id")
      .join(broadcast(stacked(p, "probe_id")), Seq("t", "bucket"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"))
      .distinct()
    val pe = p.select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
      norm(col("embedding")).as("pn"))
    // The candidate-id set is BROADCAST onto the corpus (round-16,
    // guide §2.3/§3.1): the union dedup above shuffles bare id pairs,
    // and the vector fetch then probes the corpus scan in place — the
    // corpus's embeddings are never hashed through an exchange to meet
    // the candidates (the id set is probe-bounded by construction:
    // probes are broadcast-small and per-probe fan-out is the bucket
    // size the LSH config controls — diagnoseLsh guards the degenerate
    // case).
    val scored = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(pe), "probe_id")
      .select(col("probe_id"), col("neighbor_id"),
        cosSafe(dot(col("pe"), col("embedding")), col("pn"), col("nrm")).as("cos"))
    topKByScore(scored, "cos", k)
  }

  /** What an LSH configuration will actually deliver on a given
    * bucketed corpus — the guardrail for the silent-garbage failure
    * mode the recall ladder MEASURES (q118: single-table 8-plane recall
    * is 0.0 on the gate corpus): too many planes for the corpus size
    * leaves every vector alone in its bucket, so every probe sees zero
    * candidates and [[lshSearch]] returns an empty/garbage top-k with
    * no error anywhere.
    *
    * `expectedCandidatesPerProbe` is the size-biased bucket mean minus
    * one (Σ size² / n − 1): the candidate count a probe drawn like the
    * corpus sees. `nearZeroRecallRisk` trips when that expectation is
    * below 1 — most probes meet NOBODY. Cost: one groupBy over the
    * bucketed frame — a diagnostic pass, not wired into the search hot
    * path; run it when choosing parameters or on a sample.
    */
  final case class LshDiagnosis(corpusRows: Long, distinctBuckets: Long,
      maxBucketSize: Long, expectedCandidatesPerProbe: Double) {
    def nearZeroRecallRisk: Boolean =
      corpusRows > 0 && expectedCandidatesPerProbe < 1.0
  }

  /** Diagnose a bucketed corpus ([[hyperplaneLsh]] output, or one
    * table of [[multiBuckets]] exploded). Logs a LOUD warning on
    * near-zero-recall risk, with the concrete fix (fewer planes via
    * [[defaultLshPlanes]], or multi-table OR-amplification).
    */
  def diagnoseLsh(bucketed: DataFrame, bucketCol: String = "bucket"): LshDiagnosis = {
    // sz² as DOUBLE: a single multi-billion-row bucket (exactly the
    // under-planed pathology this diagnoses) overflows a long square
    // into a negative sum, flipping the verdict to the OPPOSITE advice.
    val stats = bucketed.groupBy(col(bucketCol)).agg(count(lit(1)).as("sz"))
      .agg(sum(col("sz")), count(lit(1)), max(col("sz")),
        sum(col("sz").cast("double") * col("sz")))
      .head()
    val d =
      if (stats.isNullAt(0)) LshDiagnosis(0L, 0L, 0L, 0.0)
      else LshDiagnosis(stats.getLong(0), stats.getLong(1), stats.getLong(2),
        stats.getDouble(3) / stats.getLong(0) - 1.0)
    if (d.corpusRows > 0 && d.nearZeroRecallRisk)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"LSH config risk: ${d.corpusRows} vectors spread over " +
          s"${d.distinctBuckets} buckets (max ${d.maxBucketSize}); expected " +
          f"candidates/probe = ${d.expectedCandidatesPerProbe}%.2f — most " +
          "probes will see NO candidates and recall will be near zero. " +
          s"Use <= ${defaultLshPlanes(d.corpusRows)} planes " +
          "(Similarity.defaultLshPlanes) or multi-table search " +
          "(lshSearchMulti) to recover recall.")
    d
  }

  /** Planes sized from the corpus: 2^planes buckets targeting
    * `targetBucketSize` expected members each — the per-table
    * selectivity half of the tuning rule on [[lshSearchMulti]] (pick
    * `tables` for recall). Floors at 1 plane.
    */
  def defaultLshPlanes(corpusRows: Long, targetBucketSize: Int = 32): Int = {
    require(targetBucketSize > 0,
      s"targetBucketSize must be positive, got $targetBucketSize")
    if (corpusRows <= targetBucketSize) 1
    else math.max(1, (math.log(corpusRows.toDouble / targetBucketSize) /
      math.log(2.0)).floor.toInt)
  }

  /** Plane-p, dim-d rademacher weight ∈ {-1, +1} from an md5 bit — the
    * driver-side twin of the SQL spelling
    * `(conv(substring(md5(concat(p, '|', d)), 1, 15), 16, 10) & 1) * 2 - 1`.
    */
  private[graft] def planeWeight(p: Int, d: Int): Float = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p|$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    ((java.lang.Long.parseLong(hex.take(15), 16) & 1L) * 2 - 1).toFloat
  }

  /** Candidate near-dup pairs via LSH buckets: all-pairs only WITHIN a
    * bucket (hash join on bucket key), then exact cosine on candidates.
    *
    * `dim` passes through to [[hyperplaneLsh]]: supply the known vector
    * width to skip its eager max-width probe (an extra aggregate-only
    * corpus scan per call) — REQUIRED for streaming inputs, where the
    * probe would throw.
    */
  def lshNearDupPairs(embeddings: DataFrame, nPlanes: Int, minCos: Double,
      dim: Int = 0): DataFrame = {
    // Norms computed ONCE per vector before the join — recomputing them
    // inside the joined projection would redo O(dim) work per pair.
    val withBucket = hyperplaneLsh(
      embeddings.select(col("vec_id"), col("embedding")), nPlanes, dim)
      .withColumn("nrm", norm(col("embedding")))
    val a = withBucket.select(col("vec_id").as("id1"), col("embedding").as("ea"),
      col("nrm").as("na"), col("bucket"))
    val b = withBucket.select(col("vec_id").as("id2"), col("embedding").as("eb"),
      col("nrm").as("nb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        cosSafe(dot(col("ea"), col("eb")), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
