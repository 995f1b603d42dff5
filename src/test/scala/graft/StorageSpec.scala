package graft

import org.apache.spark.sql.functions._

/** Storage-layout mechanics that carry the 100 TB story: partition
  * pruning (only matching directories are scanned), bucketing (co-located
  * joins with NO shuffle), and the format matrix.
  */
class StorageSpec extends SparkSpec {

  test("partitioned write + partition pruning reaches the scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
    val orders = queries.Tables.t(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    orders.write.partitionBy("o_year").mode("overwrite").parquet(s"$tmp/orders")

    val pruned = spark.read.parquet(s"$tmp/orders").filter(col("o_year") === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("1997"), plan)
    assert(pruned.count() == orders.filter(col("o_year") === 1997).count())
    // Only the matching partition directory exists under the root.
    val dirs = new java.io.File(s"$tmp/orders").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("o_year=1997")))
  }

  test("loader footer probe: a failed read is not cached; a file written " +
      "at the path later is read for real") {
    val dir = java.nio.file.Files.createTempDirectory("graft-footer")
    val path = s"$dir/late.parquet"
    // Nothing at the path yet: both probes decline the rebalance.
    assert(queries.Tables.fileLen(spark, path) == 0L)
    assert(queries.Tables.footerMeta(spark, path) == ((Int.MaxValue, 0L)))
    // One single-row-group parquet file, moved to exactly that path.
    spark.range(0, 100, 1, 1).write.parquet(s"$dir/staging")
    val part = new java.io.File(s"$dir/staging").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path))
    assert(queries.Tables.fileLen(spark, path) == new java.io.File(path).length())
    assert(queries.Tables.footerMeta(spark, path) == ((1, 100L)))
  }

  test("reading a micros-typed events table leaves nanosAsLong unset") {
    // Every testdata tier writes events.ts as timestamp[us]; only a
    // TIMESTAMP(NANOS) footer needs the legacy flag, so reading this one
    // must not change the session for every later query.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = Option.when(spark.sessionState.conf.contains(key))(spark.conf.get(key))
    spark.conf.unset(key)
    try {
      assert(queries.Tables.events(spark, sfDir).count() > 0)
      assert(!spark.sessionState.conf.contains(key))
    } finally old.foreach(spark.conf.set(key, _))
  }

  test("bucketed tables join WITHOUT a shuffle (co-located sort-merge)") {
    // (warehouse dir is a static conf; tables land in the default
    // ./spark-warehouse, which is gitignored and dropped below)
    val orders = queries.Tables.t(spark, sfDir, "orders")
    val customer = queries.Tables.t(spark, sfDir, "customer")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_bk")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_bk")
    try {
      val joined = spark.table("orders_bk").hint("merge")
        .join(spark.table("customer_bk"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name")
      val plan = joined.queryExecution.executedPlan.toString
      // Bucket layout co-locates both sides: a sort-merge join with no
      // hash-partitioning exchange on either input.
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() ==
        orders.join(customer, col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_bk")
      spark.sql("DROP TABLE IF EXISTS customer_bk")
    }
  }

  test("format matrix: csv and json round-trip the events table") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val ev = queries.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value")
    val n = ev.count()
    ev.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    ev.write.mode("overwrite").json(s"$tmp/json")
    val csv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$tmp/csv")
    val json = spark.read.json(s"$tmp/json")
    assert(csv.count() == n && json.count() == n)
    assert(csv.agg(sum("event_id")).head().getLong(0) ==
      json.agg(sum("event_id")).head().getLong(0))
  }
}
