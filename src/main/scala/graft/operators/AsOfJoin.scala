package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Generic as-of join (Q12's operator, reusable): for every left row,
  * attach the most recent right row with `right.time <= left.time` within
  * the same key — the operator Spark lacks natively.
  *
  * Plan shape (the 100 TB story): ONE shuffle of `|L| + |R|` rows hashed
  * by key, one per-key sort, one running `last(ignoreNulls)` window —
  * versus the naive `L LEFT JOIN R ON key AND r.time <= l.time` which
  * explodes to |matches| rows before its window dedup. No driver-side
  * anything; skewed keys behave exactly like any keyed window (salt the
  * key upstream if one user owns the stream).
  *
  * Tie rules: right rows at exactly left.time DO match (inclusive); among
  * right ties on time the one with the greatest `rightOrder` wins.
  */
object AsOfJoin {

  def asof(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      rightValue: String, rightOrder: String,
      as: String = "asof_value"): DataFrame = {
    // The carried value rides in a one-field STRUCT: right rows are
    // non-null structs even when rightValue itself is NULL, so
    // last(ignoreNulls) skips exactly the interleaved left rows — a
    // most-recent right row with a NULL value yields NULL, instead of
    // silently falling back to an older right row's value.
    val vStruct = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", right.schema(rightValue).dataType)))
    val l = left.withColumn("_kind", lit(1))
      .withColumn("_t", col(leftTime))
      .withColumn("_v", lit(null).cast(vStruct))
      .withColumn("_ord", lit(null).cast(right.schema(rightOrder).dataType))
    val r = right.select(
      col(key), col(rightTime).as("_t"), lit(0).as("_kind"),
      struct(col(rightValue).as("v")).as("_v"), col(rightOrder).as("_ord"))
    val lCols = left.columns
    // rights sort before lefts at equal time (inclusive semantics);
    // among right ties, ascending _ord so last() picks the max.
    val w = Window.partitionBy(key).orderBy(col("_t"), col("_kind"), col("_ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.select((lCols.toSeq.map(col) :+ col("_kind") :+ col("_t") :+ col("_v") :+ col("_ord")): _*)
      .unionByName(r.select((lCols.toSeq.map(c =>
        if (c == key) col(c) else lit(null).cast(left.schema(c).dataType).as(c))
        :+ col("_kind") :+ col("_t") :+ col("_v") :+ col("_ord")): _*))
      .withColumn(as, last(col("_v"), ignoreNulls = true).over(w).getField("v"))
      .filter(col("_kind") === 1)
      .drop("_kind", "_t", "_v", "_ord")
  }
}
