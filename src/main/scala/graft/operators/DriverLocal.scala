package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one decision "may this much data be collected to the driver?".
  *
  * Several operators have a driver-local twin beside their distributed
  * plan: a union-find or integer PageRank over a small pair graph, a
  * broadcast LM kernel, a BPE merge replay over the word-frequency
  * dictionary. Each twin produces the distributed plan's exact answer
  * and is taken only when its input is at most [[MaxRows]] rows, a
  * bounded driver footprint (at ~50 bytes/row, ≲100 MB). Above the
  * bound, and for inputs the local twin cannot replay, the distributed
  * plan runs. The bound is a property of the driver, not of a query,
  * so it is one constant and no session setting.
  */
private[graft] object DriverLocal {

  /** Rows (edges, model rows, dictionary words) a local twin may collect. */
  val MaxRows: Long = 2000000L

  def fits(rows: Long): Boolean = rows <= MaxRows

  /** `pairs`' two id columns on the driver, when both are longs, the
    * pair count fits and no id is null. None sends the caller to its
    * distributed path: a null endpoint has join-key semantics there (it
    * receives a row but never matches as a key), which only the
    * distributed plan itself replays.
    */
  def longPairs(pairs: DataFrame): Option[Array[(Long, Long)]] =
    if (!pairs.schema.fields.forall(_.dataType == LongType) || !fits(pairs.count())) None
    else {
      val rows = pairs.collect()
      if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
      else Some(rows.map(r => (r.getLong(0), r.getLong(1))))
    }

  /** A local twin's result rows as a frame of non-null long columns
    * `names`, in row order, sliced ~50k rows per partition up to the
    * default parallelism.
    */
  def longFrame(spark: SparkSession, rows: Seq[Row], names: String*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList,
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          1 + rows.size / 50000))),
      StructType(names.map(StructField(_, LongType, nullable = false))))
}
