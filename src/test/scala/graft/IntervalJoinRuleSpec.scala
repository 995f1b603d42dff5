package graft

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._

import graft.plans.BucketedIntervalJoin

class IntervalJoinRuleSpec extends SparkSpec {

  private def naive = {
    val ev = queries.Tables.events(spark, sfDir)
    val e1 = ev.select(col("user_id"), col("ts").as("ts1"), col("event_id").as("id1"))
    val e2 = ev.select(col("user_id").as("u2"), col("ts").as("ts2"), col("event_id").as("id2"))
    e1.join(e2,
      col("user_id") === col("u2") &&
        col("ts2") > col("ts1") &&
        col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTES"))
      .select("id1", "id2")
  }

  test("rule rewrites the naive interval join to a bucketed equi-join, same results") {
    import spark.implicits._
    val plan = naive.queryExecution.optimizedPlan
    val rewritten = BucketedIntervalJoin(plan)
    assert(rewritten.toString.contains("_graft_jb"),
      s"rule did not fire:\n$rewritten")
    assert(rewritten.collectFirst {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.isDefined)
    // Idempotent under the fixed-point executor.
    assert(BucketedIntervalJoin(rewritten).toString == rewritten.toString)

    val got = GraftSqlBridge.ofRows(spark, rewritten)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val expect = naive.as[(Long, Long)].collect().toSet
    assert(got == expect)
    // And the bucket key is part of the physical join keys (bounds fan-in).
    val phys = GraftSqlBridge.ofRows(spark, rewritten)
      .queryExecution.executedPlan.toString
    assert(phys.contains("_graft_jb"), phys)
  }

  test("rule also fires with NO equi key (pure time-correlation join)") {
    import spark.implicits._
    val ev = queries.Tables.events(spark, sfDir).limit(200)
    val e1 = ev.select(col("ts").as("ts1"), col("event_id").as("id1"))
    val e2 = ev.select(col("ts").as("ts2"), col("event_id").as("id2"))
    val nv = e1.join(e2,
      col("ts2") > col("ts1") &&
        col("ts2") <= col("ts1") + expr("INTERVAL 2 MINUTES"))
      .select("id1", "id2")
    val rewritten = BucketedIntervalJoin(nv.queryExecution.optimizedPlan)
    assert(rewritten.toString.contains("_graft_jb"), "rule did not fire")
    val got = GraftSqlBridge.ofRows(spark, rewritten)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == nv.as[(Long, Long)].collect().toSet)
  }

  test("rule fires on the MIRRORED orientation (left side later)") {
    import spark.implicits._
    val ev = queries.Tables.events(spark, sfDir).limit(200)
    val e1 = ev.select(col("ts").as("ts1"), col("event_id").as("id1"))
    val e2 = ev.select(col("ts").as("ts2"), col("event_id").as("id2"))
    // Same Q11 shape with the sides flipped: the LEFT timestamp is the
    // later one, so the rule must bucket-and-explode the RIGHT side.
    val nv = e1.join(e2,
      col("ts1") > col("ts2") &&
        col("ts1") <= col("ts2") + expr("INTERVAL 2 MINUTES"))
      .select("id1", "id2")
    val rewritten = BucketedIntervalJoin(nv.queryExecution.optimizedPlan)
    assert(rewritten.toString.contains("_graft_jb"),
      s"rule did not fire on the mirrored shape:\n$rewritten")
    val got = GraftSqlBridge.ofRows(spark, rewritten)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == nv.as[(Long, Long)].collect().toSet)
  }

  test("an unrelated timestamp comparison before the bounded pair does not block the rewrite") {
    import spark.implicits._
    val ev = queries.Tables.events(spark, sfDir).limit(200)
    val e1 = ev.select(col("user_id").as("u1"), col("ts").as("ts1"),
      col("ts").as("created1"), col("event_id").as("id1"))
    val e2 = ev.select(col("user_id").as("u2"), col("ts").as("ts2"),
      col("ts").as("created2"), col("event_id").as("id2"))
    // The created guard is a timestamp comparison with NO width conjunct;
    // a first-candidate-only search would bind to it and give up.
    val nv = e1.join(e2,
      col("created2") >= col("created1") &&
        col("ts2") > col("ts1") &&
        col("ts2") <= col("ts1") + expr("INTERVAL 2 MINUTES"))
      .select("id1", "id2")
    val rewritten = BucketedIntervalJoin(nv.queryExecution.optimizedPlan)
    assert(rewritten.toString.contains("_graft_jb"),
      s"decoy comparison blocked the rewrite:\n$rewritten")
    val got = GraftSqlBridge.ofRows(spark, rewritten)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == nv.as[(Long, Long)].collect().toSet)
  }

  test("rule leaves non-matching joins untouched") {
    val orders = queries.Tables.t(spark, sfDir, "orders")
    val customer = queries.Tables.t(spark, sfDir, "customer")
    val plain = orders.join(customer, col("o_custkey") === col("c_custkey"))
    val plan = plain.queryExecution.optimizedPlan
    assert(BucketedIntervalJoin(plan).toString == plan.toString)
  }
}
