package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (a hot Kinesis partition key
  * hot-shards in the reference exactly the same way — SURVEY §4).
  *
  * AQE's skew-join handles sort-merge skew at runtime; salting is the
  * static fallback for the shapes AQE can't split (e.g. a huge build
  * side, or aggregations): the left side gets a random salt in
  * [0, factor), the right side is replicated `factor` times, and the
  * join key becomes (key, salt) — a hot key now spreads over `factor`
  * reducers.
  */
object Skew {

  private val SaltCol = "_graft_salt"

  /** Deterministic salt in [0, factor): a content hash of every column,
    * never `rand()`. A nondeterministic salt re-evaluates differently
    * when a stage is recomputed after a shuffle-fetch failure
    * (SPARK-23207 class): rows already fetched by finished reducers
    * under one salt reappear under another — lost or double-counted
    * rows. Identical rows share a salt (they spread only when payloads
    * differ — real hot keys carry varied payloads); columns must be
    * hashable (no MapType).
    */
  private def contentSalt(df: DataFrame, saltFactor: Int) =
    pmod(hash(df.columns.map(col).toIndexedSeq: _*), lit(saltFactor))

  private def requireNoSaltCol(df: DataFrame): Unit =
    require(!df.columns.contains(SaltCol),
      s"input already has a $SaltCol column — rename it before salting")

  /** Inner equi-join with a salted key. `saltFactor` multiplies the
    * right side — keep it small (8–32) and apply only when a key is
    * known-hot.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    requireNoSaltCol(left); requireNoSaltCol(right)
    val l = left.withColumn(SaltCol, contentSalt(left, saltFactor))
    val r = right.withColumn(SaltCol,
      explode(sequence(lit(0), lit(saltFactor - 1))))
    l.join(r, Seq(key, SaltCol)).drop(SaltCol)
  }

  /** Two-phase skew-proof aggregation: partial-aggregate on (key, salt)
    * then finish on key — bounds any single reducer's input to
    * |distinct keys hitting it| × factor partials.
    *
    * NOTE: for an algebraic aggregate like count, Spark's HashAggregate
    * already partial-aggregates map-side, so this adds no protection —
    * count is used here as the cheapest correctness harness for the
    * PATTERN. Salting earns its extra exchange for non-combinable
    * aggregates (collect_list, exact percentile) where one hot key
    * otherwise funnels every row through a single reducer.
    */
  def saltedCount(df: DataFrame, key: String, saltFactor: Int): DataFrame = {
    requireNoSaltCol(df)
    df.withColumn(SaltCol, contentSalt(df, saltFactor))
      .groupBy(col(key), col(SaltCol)).agg(count(lit(1)).as("_partial"))
      .groupBy(col(key)).agg(sum("_partial").as("n"))
  }
}
