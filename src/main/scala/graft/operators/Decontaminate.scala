package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination at corpus scale — the operator form of
  * q66's recipe (drop training documents sharing any n-gram with a
  * held-out evaluation set; reference intent: the engine's curation
  * surface for 100 TB crawls).
  *
  * The exact plan (q66) hash-joins EVERY corpus n-gram against the
  * benchmark gram set: correct, but the corpus side of that join is a
  * shuffle of O(corpus tokens) short strings — at 100 TB it is the
  * single largest exchange in the whole curation pipeline, even though
  * almost none of those grams can match (benchmarks are tiny next to a
  * crawl). [[contaminatedIds]] prunes that exchange with a BLOOM
  * prefilter on the benchmark grams:
  *
  *  - the benchmark side (small by definition) is distinct-counted and
  *    folded into a Bloom filter via Spark's own
  *    `DataFrameStatFunctions.bloomFilter` — ~1.2 bytes/gram at 1% fpp,
  *    so even a 100M-gram benchmark ships as a ~120 MB task-closure
  *    constant (serialized once per stage, broadcast with the task
  *    binary; no session-lifetime broadcast handle to leak);
  *  - corpus grams stream through the filter as a NARROW transformation
  *    on the scan side — only possible matches (true hits + ~fpp false
  *    positives) reach the shuffle, cutting the exchange by ~(1-fpp)
  *    for the non-contaminated bulk;
  *  - the surviving candidates still verify against the exact benchmark
  *    gram set, so FALSE POSITIVES die in the join and false negatives
  *    cannot exist (Bloom filters have none): the result is
  *    BIT-IDENTICAL to the unfiltered plan. The prefilter moves bytes,
  *    never semantics (DecontaminateSpec asserts equality).
  *
  * The probe itself is a native codegen'd expression
  * ([[graft.functions.BloomMightContainStr]]): Spark exposes no public
  * Column API over `util.sketch.BloomFilter` (the internal
  * BloomFilterMightContain expression backs only the runtime-filter
  * rewrite), and the Scala-UDF spelling paid a call boundary plus a
  * UTF8String→String conversion per corpus gram — in the one loop that
  * runs once per corpus token.
  */
object Decontaminate {

  /** Exact contaminated-document ids, Bloom-pruned shuffle.
    *
    * @param corpusGrams (doc_id: bigint, gram: string) — one row per
    *                    distinct gram per corpus document
    * @param benchGrams  (gram: string) — the held-out set's grams;
    *                    deduplicated internally
    * @param fpp         Bloom false-positive rate: the fraction of
    *                    clean corpus grams that still reach the
    *                    verification join (size/shuffle trade only)
    * @return (doc_id) — distinct corpus docs sharing >= 1 gram with the
    *         benchmark; equals the plain join's result exactly
    */
  def contaminatedIds(corpusGrams: DataFrame,
      benchGrams: DataFrame, fpp: Double = 0.01): DataFrame = {
    // The deduped benchmark subtree feeds THREE consumers: the count
    // sizing the filter, the fold building it, and the caller's
    // verification join below. Materialized ONCE with an eager
    // localCheckpoint (the components()/semDedup discipline): a cache()
    // would have to outlive this call to cover the third consumer — a
    // session-lifetime leak for a lazily-consumed result — while
    // checkpoint blocks free themselves when the returned plan is
    // unreferenced. The corpus side stays untouched until the caller's
    // action. An EMPTY benchmark can contaminate nothing — and must
    // short-circuit anyway: Spark's bloomFilter aggregate returns a
    // null buffer over zero rows and NPEs on deserialization.
    val bench = benchGrams.select(col("gram")).distinct().localCheckpoint()
    val n = bench.count()
    if (n == 0) return corpusGrams.select(col("doc_id")).limit(0)
    val bf = bench.stat.bloomFilter("gram", n, fpp)
    corpusGrams
      .filter(graft.functions.BloomFunctions.bloomMightContain(bf, col("gram")))
      .join(bench, "gram") // exact verification: false positives die here
      .select("doc_id").distinct()
  }

  /** [[contaminatedIds]] in digest form: gram columns are 60-bit h64
    * LONGS (`gh`) instead of strings — same Bloom-pruned shape, but
    * the corpus-side exchange (the pipeline's biggest at 100 TB)
    * carries 8-byte keys, and the fused gram-hash kernel upstream
    * never materializes a gram string at all. The Bloom builder and
    * the probe pair on the long representation
    * (`stat.bloomFilter` over a bigint column ↔ `mightContainLong`),
    * and the exact verification join keeps the result identical to
    * the unfiltered digest join (DecontaminateSpec asserts both
    * equalities).
    */
  def contaminatedIdsH64(corpusGrams: DataFrame,
      benchGrams: DataFrame, fpp: Double = 0.01): DataFrame = {
    val bench = benchGrams.select(col("gh")).distinct().localCheckpoint()
    val n = bench.count()
    if (n == 0) return corpusGrams.select(col("doc_id")).limit(0)
    val bf = bench.stat.bloomFilter("gh", n, fpp)
    corpusGrams
      .filter(graft.functions.BloomFunctions.bloomMightContainLong(bf, col("gh")))
      .join(bench, "gh") // exact verification: false positives die here
      .select("doc_id").distinct()
  }
}
