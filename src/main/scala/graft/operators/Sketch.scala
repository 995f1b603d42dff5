package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable streaming sketches as plain aggregations — the
  * fixed-size summaries a 100 TB pipeline keeps where exact state
  * would be corpus-sized: count-min for heavy-hitter frequencies
  * (Cormode & Muthukrishnan 2005) and HyperLogLog for distinct counts
  * (Flajolet et al. 2007). The reference pipeline reports only exact
  * per-channel counts (`kds_example/oss_utils.py:43-55`); these are
  * the sublinear companions every monitoring/curation stage runs at
  * scale (vocabulary growth, per-source cardinality, hot-term
  * detection) without a vocabulary-sized shuffle.
  *
  * Both sketches are DETERMINISTIC and engine-portable by
  * construction — hashes are the repo's salted
  * [[graft.functions.TextFunctions.h64]], register math is integer or
  * exact-binary-fraction arithmetic — so the DuckDB oracle replays
  * the SKETCH itself and the gate checks it exactly (no tolerance):
  * the approximation error vs ground truth is part of the CONTRACT
  * being verified, not test noise.
  *
  * Scale shape: each sketch is ONE mergeable hash-agg over the token
  * stream (map-side partial combine — the cell/register table is the
  * aggregation state) to a depth×width / 2^b-row artifact that
  * broadcasts anywhere. Merging shards = summing cells / max-ing
  * registers, which is exactly what the partial aggregate already
  * does.
  */
object Sketch {

  /** Count-min cell table over a one-column (w) stream: (r, b, cnt)
    * for r < depth rows and b < width buckets, cnt = occurrences of
    * words hashing to b under row r's salted hash. Absent cells are
    * zero (the estimate side coalesces). One explode (depth× the
    * token stream — depth is 3-5) + one mergeable groupBy.
    */
  def countMinCells(words: DataFrame, depth: Int, width: Int): DataFrame = {
    require(depth > 0 && width > 0, s"bad sketch shape: $depth x $width")
    // Compiled h64 kernel (round-15): the builtin spelling
    // h64(concat('cm<r>|', w)) allocates the concatenated string AND a
    // 32-char md5 hex string per (row, r) before conv's base-16 parse;
    // the kernel md5s prefix-bytes ++ word-bytes directly — value-
    // identical (NgramExprSpec pins it), 3× per token on this path.
    words
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"),
          (graft.functions.Ngrams.h64p(col("w"), s"cm$r|") % width).as("b"))): _*)).as("c"))
      .groupBy(col("c.r").as("r"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for `probes` (term) against a cell table:
    * est(term) = min over rows of its cell count — an UPPER bound on
    * the true frequency (collisions only ever add). The probe side is
    * tiny and broadcast; cells are depth×width.
    */
  def countMinEstimate(cells: DataFrame, probes: DataFrame,
      depth: Int, width: Int): DataFrame = {
    val keyed = probes
      .select(col("term"), explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"),
          (graft.functions.Ngrams.h64p(col("term"), s"cm$r|") % width).as("b"))): _*)).as("c"))
      .select(col("term"), col("c.r").as("r"), col("c.b").as("b"))
    keyed.join(cells, Seq("r", "b"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Equi-width histogram over a one-column (x: double) stream:
    * (bin, cnt) for bin < bins, plus the (mn, width, n) scalars the
    * caller threads to [[histQuantile]]. Two passes (min/max scalars,
    * then one mergeable groupBy to a bins-row artifact) — the classic
    * two-pass distributed histogram; bin arithmetic is a single IEEE
    * chain (`floor((x − mn) / width)`, clamped at the top edge) that
    * replays identically in any engine. Degenerate all-equal streams
    * get width 0 → every value bin 0.
    */
  def histogram(xs: DataFrame, bins: Int): DataFrame = {
    require(bins > 1, s"need > 1 bins, got $bins")
    val stats = xs.agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
      count(lit(1)).as("n"))
    val bin = when(col("width") === 0.0, lit(0L))
      .otherwise(least(floor((col("x") - col("mn")) / col("width")).cast("long"),
        lit(bins - 1L)))
    xs.crossJoin(broadcast(
        stats.select(col("mn"), ((col("mx") - col("mn")) / bins).as("width"),
          col("n"))))
      .select(bin.as("bin"), col("mn"), col("width"), col("n"))
      .groupBy("bin", "mn", "width", "n").agg(count(lit(1)).as("cnt"))
  }

  /** [[histogram]] over a pre-aggregated (x: double, c: long)
    * value-count frame: bit-identical output — the bin expression is
    * the SAME IEEE chain evaluated once per DISTINCT value (equal
    * inputs, equal bins), bin counts fold as exact integer sums of the
    * value counts, and (mn, mx) over distinct values equal (mn, mx)
    * over the raw stream. n = coalesce(sum(c), 0) keeps count(*)'s
    * empty-input zero. The point (guide §2.3/§2.4): a caller that
    * already reduced the corpus to value counts (q158's exact
    * value-at-rank path must) derives the histogram from that one
    * artifact instead of paying a second corpus scan.
    */
  def histogramWeighted(vc: DataFrame, bins: Int): DataFrame = {
    require(bins > 1, s"need > 1 bins, got $bins")
    val stats = vc.agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
      coalesce(sum(col("c")), lit(0L)).as("n"))
    val bin = when(col("width") === 0.0, lit(0L))
      .otherwise(least(floor((col("x") - col("mn")) / col("width")).cast("long"),
        lit(bins - 1L)))
    vc.crossJoin(broadcast(
        stats.select(col("mn"), ((col("mx") - col("mn")) / bins).as("width"),
          col("n"))))
      .select(bin.as("bin"), col("mn"), col("width"), col("n"), col("c"))
      .groupBy("bin", "mn", "width", "n").agg(sum(col("c")).as("cnt"))
  }

  /** Quantile estimates from a histogram: for each requested p, the
    * LOWER EDGE of the first bin whose cumulative count reaches
    * ceil(p·n) — a deterministic under-estimate within one bin width
    * of the true quantile. The cumulative window runs over the
    * bins-row artifact (histogram-sized, never the corpus).
    */
  def histQuantile(hist: DataFrame, ps: Seq[Double]): DataFrame = {
    // PrefixSum even on the bins-row frame — no unpartitioned
    // WindowExec anywhere in the engine (the repo-wide discipline),
    // and the same code path scales if a caller ever feeds a
    // million-bin histogram. ALL requested quantiles come from ONE
    // conditional aggregate over one cumulative pass (a per-p
    // filter+agg would replay the histogram lineage |ps| times), then
    // explode to (p, est) rows.
    val cum = PrefixSum.withRunningTotal(hist, "bin", "cnt", "cum")
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      min(when(col("cum") >= ceil(lit(p) * col("n")),
        col("mn") + col("bin") * col("width"))).as(s"_e$i")
    }
    cum.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(ps.zipWithIndex.map { case (p, i) =>
        struct(lit(p).as("p"), col(s"_e$i").as("est")) }: _*)).as("pe"))
      .select(col("pe.p").as("p"), col("pe.est").as("est"))
  }

  /** HyperLogLog registers over a one-column (w) stream, m = 2^b
    * buckets: (bucket, reg) with reg = max rank among the bucket's
    * hashes. The portable rank is TRAILING zeros of the hash's
    * bucket-quotient + 1 (P(rank ≥ k) = 2^-k, the same geometric law
    * as leading zeros, and `v & -v` → exact log2 replays in any
    * engine); v = 0 caps at the field width. Empty buckets are
    * ABSENT here; [[hllEstimate]] grafts them back via a range spine.
    */
  def hllRegisters(words: DataFrame, b: Int): DataFrame = {
    require(b >= 2 && b <= 16, s"b out of range: $b")
    val m = 1L << b
    // Bit shift, NOT `/`: Column `/` is DOUBLE division, and a 60-bit
    // hash is above 2^53 — the rounded quotient would corrupt ranks.
    // The oracle's integer `//` matches the shift exactly.
    // The hash binds ONCE through a projection (round-15, compiled h64
    // kernel): the previous spelling evaluated the builtin
    // md5-hex+conv chain twice per row (bucket and rank).
    val v = shiftright(col("h"), b)
    val rank = when(v === 0, lit(61 - b).cast("long"))
      .otherwise(floor(log2((v.bitwiseAND(-v)).cast("double"))).cast("long") + 1)
    words
      .select(graft.functions.Ngrams.h64p(col("w")).as("h"))
      .select((col("h") % m).as("bucket"), rank.as("rank"))
      .groupBy("bucket").agg(max("rank").as("reg"))
  }

  /** The HLL estimate from a register table: one row with
    * (m, zeros, raw, est) where raw = α_m · m² / Σ 2^(−reg) (the sum
    * is EXACT in double — every term is a binary fraction), zeros =
    * empty-register count, and est applies the standard small-range
    * correction est = m·ln(m/zeros) when raw ≤ 2.5·m and zeros > 0.
    * α_m = 0.7213/(1 + 1.079/m) (the m ≥ 128 constant, applied for
    * all m here — stated so the oracle replays one formula).
    */
  def hllEstimate(registers: DataFrame, b: Int): DataFrame = {
    val spark = registers.sparkSession
    val m = 1L << b
    val spine = spark.range(m).select(col("id").as("bucket"))
    val regs = spine.join(registers, Seq("bucket"), "left")
      .select(coalesce(col("reg"), lit(0L)).as("reg"))
    val agg = regs.agg(
      sum(pow(lit(2.0), -col("reg"))).as("s"),
      sum(when(col("reg") === 0, 1L).otherwise(0L)).as("zeros"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    agg.select(
        lit(m).as("m"), col("zeros"),
        (alpha * lit(m.toDouble) * lit(m.toDouble) / col("s")).as("raw"))
      .select(col("m"), col("zeros"), col("raw"),
        when(col("raw") <= lit(2.5 * m) && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("raw")).as("est"))
  }

  /** The `j`-th Bloom bit position of word column `w` under `mBits`
    * bits — salted h64 mod m, the same independent-hash recipe as the
    * count-min rows (and the same round-15 compiled kernel: k hashes
    * per word is the build side's hot loop). Shared by build and probe
    * so the two can never disagree on a position.
    */
  private def bloomPos(w: Column, j: Int, mBits: Int): Column =
    graft.functions.Ngrams.h64p(w, s"bf$j|") % mBits

  /** Bloom-filter bitmap over a one-column (w) stream — the third
    * classic mergeable sketch (Bloom 1970): k salted bit positions per
    * word, stored as `mBits/64` packed longs (wd = pos >> 6,
    * bits = OR of 1L << (pos & 63)). Membership says definitely-absent
    * or probably-present; merging shards is bitwise OR, which is
    * exactly the partial aggregate. [[graft.operators.Decontaminate]]
    * uses Spark's built-in Bloom as an opaque prefilter; this one is
    * the ENGINE-PORTABLE artifact (deterministic h64 positions, plain
    * integer rows) a pipeline can persist, merge across runs, and
    * replay in any engine — and whose false-positive rate the gate
    * verifies against exact membership rather than trusting a formula.
    *
    * Scale shape: one explode (k× the stream, k is 3-5) + ONE
    * mergeable bit_or hash-agg to ≤ mBits/64 rows. Absent words are
    * all-zero rows the probe side coalesces.
    */
  def bloomBits(words: DataFrame, k: Int, mBits: Int): DataFrame = {
    require(k > 0, s"need k > 0 hash functions, got $k")
    require(mBits >= 64 && mBits % 64 == 0,
      s"mBits must be a positive multiple of 64, got $mBits")
    words
      .select(explode(array((0 until k).map(j =>
        bloomPos(col("w"), j, mBits).as(s"_p$j")): _*)).as("pos"))
      // Shift, not multiply: the top bit (pos%64 = 63) must land as the
      // sign bit, which both engines' `<<` produce exactly.
      .select(shiftright(col("pos"), 6).as("wd"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").as("m"))
      .groupBy("wd").agg(bit_or(col("m")).as("bits"))
  }

  /** Membership probes against a [[bloomBits]] bitmap: (term, hit)
    * with hit = every one of the k bit positions set. Definitely-absent
    * terms read false; present terms always read true; collisions read
    * true — the false positives the q166 gate measures exactly. The
    * probe side is tiny; each probe touches k words of the bitmap via
    * a broadcast-scale join.
    */
  def bloomContains(bits: DataFrame, probes: DataFrame,
      k: Int, mBits: Int): DataFrame = {
    val keyed = probes
      .select(col("term"), explode(array((0 until k).map(j =>
        bloomPos(col("term"), j, mBits).as(s"_p$j")): _*)).as("pos"))
      .select(col("term"), shiftright(col("pos"), 6).as("wd"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").as("m"))
    keyed.join(bits, Seq("wd"), "left")
      .groupBy("term")
      .agg(min((coalesce(col("bits"), lit(0L)).bitwiseAND(col("m")) === col("m"))
        .cast("int")).as("_all"))
      .select(col("term"), (col("_all") === 1).as("hit"))
  }
}
