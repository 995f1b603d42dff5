package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Q1–Q30: the relational query surface (SURVEY.md §2B).
  *
  * Everything here is stock Catalyst — declarative DataFrame pipelines so
  * predicate pushdown, column pruning, join reordering and AQE do the
  * physical planning. Small dimension tables (`region`, `nation`) carry an
  * explicit `broadcast` hint: they stay tiny at any scale factor, so the
  * joins they participate in must never shuffle the fact side.
  *
  * The reference's read surface is count / match-all scan / search
  * delegated to OpenSearch (reference: kds_example/oss_utils.py:43-63,
  * debug/s2_inspect_data_in_s3.py:19-23); Q1/Q13/Q14 etc. are the
  * Spark-native generalization of that surface.
  */
object Relational {
  import Tables.t

  private def q(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle))(build)

  // ---------------------------------------------------------------- Q1–Q4

  val q01_scan: QueryDef = q(
    "q01_scan",
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
  ) { (s, dir) =>
    t(s, dir, "region").select("r_regionkey", "r_name").orderBy("r_regionkey")
  }

  val q02_project: QueryDef = q(
    "q02_project",
    "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey"
  ) { (s, dir) =>
    // Column pruning: ReadSchema in the parquet scan must list only these 2.
    t(s, dir, "customer").select("c_custkey", "c_name").orderBy("c_custkey")
  }

  val q03_filter: QueryDef = q(
    "q03_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin
  ) { (s, dir) =>
    // Both predicates reach the parquet scan (PushedFilters).
    // ORDER BY is total over the emitted columns (round-15: the
    // synthetic lineitem does NOT keep (l_orderkey, l_linenumber)
    // unique, and the loader rebalance surfaced the ambiguous tie the
    // scan order used to hide; l_returnflag is constant 'R' here).
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

  val q04_filter_in_between: QueryDef = q(
    "q04_filter_in_between",
    """SELECT o_orderkey, o_orderpriority, CAST(o_orderdate AS DATE) AS o_orderdate
      |FROM orders
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 23:59:59'
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_orderdate").between("1996-01-01 00:00:00", "1997-12-31 23:59:59"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").cast("date").as("o_orderdate"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- joins

  val q05_join: QueryDef = q(
    "q05_join",
    """SELECT o_orderkey, o_custkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    // customer is NOT broadcast-hinted: at 100 TB it is a fact-sized table;
    // AQE converts to broadcast at small SF on its own.
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val q06_broadcast_join: QueryDef = q(
    "q06_broadcast_join",
    """SELECT n_nationkey, n_name, r_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY n_nationkey""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name", "r_name")
      .orderBy("n_nationkey")
  }

  val q07_multijoin: QueryDef = q(
    "q07_multijoin",
    """SELECT n_name, floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue, count(*) AS n_rows
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin
  ) { (s, dir) =>
    // Fact-to-fact joins shuffle on their keys; the two dims broadcast.
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(Par.r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy("n_name")
  }

  val q08_left_join: QueryDef = q(
    "q08_left_join",
    """SELECT c_custkey, count(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  val q09_semi_join: QueryDef = q(
    "q09_semi_join",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val q10_anti_join: QueryDef = q(
    "q10_anti_join",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val q11_range_join: QueryDef = q(
    "q11_range_join",
    """SELECT e1.event_id AS id1, e2.event_id AS id2
      |FROM events e1 JOIN events e2
      |  ON e1.user_id = e2.user_id AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
      |ORDER BY id1, id2""".stripMargin
  ) { (s, dir) =>
    // Bucketed interval join: candidates must share (user_id, 5-minute
    // bucket), with the left side exploded to 2 adjacent buckets so every
    // true match lands in exactly one candidate row. The equi-key becomes
    // (user_id, bucket) — per-key fan-in is events-per-user-per-5-min,
    // NOT events-per-user², which is what makes this survive a dense-user
    // 100 TB event log. The exact range predicate filters candidates.
    val ev = t(s, dir, "events")
    val e1 = ev.select(
      col("user_id"), col("ts").as("ts1"), col("event_id").as("id1"),
      explode(array(expr("unix_timestamp(ts) div 300"),
        expr("unix_timestamp(ts) div 300 + 1"))).as("jb"))
    val e2 = ev.select(
      col("user_id").as("u2"), col("ts").as("ts2"), col("event_id").as("id2"),
      expr("unix_timestamp(ts) div 300").as("b2"))
    e1.join(e2,
        col("user_id") === col("u2") && col("jb") === col("b2") &&
          col("ts2") > col("ts1") &&
          col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTES"))
      .select("id1", "id2")
      .orderBy("id1", "id2")
  }

  val q12_asof_join: QueryDef = q(
    "q12_asof_join",
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |j AS (SELECT p.event_id, p.user_id, c.event_id AS click_id,
      |        row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rn
      |      FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
      |SELECT event_id, user_id, click_id AS asof_click_id FROM j WHERE rn = 1
      |ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    // As-of join, scalable form: ONE shuffle (by user_id), no range
    // explosion. Union both sides, sort within user by (ts, kind, id) and
    // carry the latest click forward with last(ignoreNulls). The oracle's
    // O(n·m) LEFT JOIN form is only viable at test scale.
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click").select(
      col("user_id"), col("ts"), col("event_id").as("click_id"),
      lit(null).cast("bigint").as("p_event_id"), lit(0).as("kind"))
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"), lit(null).cast("bigint").as("click_id"),
      col("event_id").as("p_event_id"), lit(1).as("kind"))
    // kind: clicks sort before purchases at equal ts (c.ts <= p.ts inclusive);
    // click_id ascending so last() picks the max click_id on exact ts ties.
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("kind"), coalesce(col("click_id"), col("p_event_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("p_event_id").isNotNull)
      .select(col("p_event_id").as("event_id"), col("user_id"), col("asof_click_id"))
      .orderBy("event_id")
  }

  // ----------------------------------------------------------- aggregation

  val q13_agg: QueryDef = q(
    "q13_agg",
    """SELECT l_returnflag, l_linestatus, floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
      |  floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_price,
      |  floor(avg(l_discount) * 100 + 0.5) / 100 AS avg_disc,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  ) { (s, dir) =>
    // TPC-H Q1 shape: partial (map-side) + final HashAggregate, no sort
    // until the tiny final result.
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Par.r2(sum("l_quantity")).as("sum_qty"),
        Par.r2(sum("l_extendedprice")).as("sum_price"),
        Par.r2(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q14_distinct: QueryDef = q(
    "q14_distinct",
    "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority"
  ) { (s, dir) =>
    t(s, dir, "orders").select("o_orderpriority").distinct().orderBy("o_orderpriority")
  }

  val q15_count_distinct: QueryDef = q(
    "q15_count_distinct",
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("o_orderstatus")
  }

  /** HLL sketch, oracle-checked via a tolerance column: the estimate
    * itself can't hash-match an exact engine, but the CONTRACT can —
    * Spark emits `within_tol = [|approx − exact| ≤ 0.15·exact]` next to
    * the exact count, the oracle emits a constant 1 from exact counts,
    * and the hash matches iff the sketch is in-band. The band is 3× the
    * sketch's default 5% rsd: rsd is a STANDARD DEVIATION, not a bound —
    * a 1σ band would flag a correct sketch ~1/3 of the time on arbitrary
    * regenerated data, zeroing the gate on working code. (The spec
    * additionally asserts the tighter 5% on the committed fixture's raw
    * estimate: QueriesSpec.)
    */
  val q16_approx_distinct: QueryDef = q(
    "q16_approx_distinct",
    """SELECT event_type, count(*) AS n, CAST(1 AS INT) AS within_tol
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        (abs(col("approx_users") - col("exact_users")) <=
          lit(0.15) * col("exact_users")).cast("int").as("within_tol"))
      .orderBy("event_type")
  }

  val q17_rollup: QueryDef = q(
    "q17_rollup",
    """SELECT o_orderstatus, o_orderpriority, floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 * 100 + 0.5) / 100 AS sum_price, count(*) AS n
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    // LONG-CENTS sum, not double (the sf1 lesson): the rollup's grand
    // total adds EVERY order's price, and double addition is not
    // associative — at 1.5M terms the two engines' summation orders
    // diverged past a rounding boundary (…585.59 vs …585.60). Each
    // term is stabilized to integer cents with pure IEEE ops that are
    // identical per row on both engines (floor(x*100+0.5) — exact:
    // prices are ≤8 digits, so x*100 < 2^53), then summed as LONG —
    // exact, associative, order-independent at any scale, and integer
    // adds instead of the ~1.6× slower Decimal aggregate this policy
    // first shipped with (round-11 decimal form; BENCH_r11 flagged the
    // cost, round-12 settles it). Overflow bound: sf1's 1.5M orders ×
    // max 6e7 cents ≈ 9e13 ≪ 2^63; even 10^9 rows stay < 6e16. The
    // final cents→double cast rounds identically on both engines (one
    // IEEE round-to-nearest of the same exact integer), so the policy
    // holds past 2^53 too. Same policy: q57/q60/q61.
    t(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(Par.r2(sum(floor(col("o_totalprice") * 100 + lit(0.5)))
          .cast("double") / 100)
        .as("sum_price"), count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  // ----------------------------------------------------------- sort / topk

  val q18_sort_limit: QueryDef = q(
    "q18_sort_limit",
    """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS l_shipdate
      |FROM lineitem
      |ORDER BY CAST(l_shipdate AS DATE) DESC, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin
  ) { (s, dir) =>
    // orderBy + limit fuses to TakeOrderedAndProject: per-partition top-100
    // then a single-driver merge — no global sort even at 100 TB.
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast("date").as("l_shipdate"))
      .orderBy(col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)
  }

  val q19_topk: QueryDef = q(
    "q19_topk",
    """WITH t AS (SELECT o_custkey, floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
      |           FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, total FROM t ORDER BY total DESC, o_custkey LIMIT 10""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(Par.r2(sum("o_totalprice")).as("total"))
      .orderBy(col("total").desc, col("o_custkey"))
      .limit(10)
  }

  // --------------------------------------------------------------- windows

  val q20_rank_window: QueryDef = q(
    "q20_rank_window",
    """SELECT o_orderkey, o_custkey,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
      |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rnk,
      |  dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS drnk
      |
      |FROM orders ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    val wTotal = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val wDate = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        row_number().over(wTotal).cast("bigint").as("rn"),
        rank().over(wDate).cast("bigint").as("rnk"),
        dense_rank().over(wDate).cast("bigint").as("drnk"))
      .orderBy("o_orderkey")
  }

  val q21_lag_lead: QueryDef = q(
    "q21_lag_lead",
    """SELECT event_id, user_id,
      |  lag(value) OVER w AS prev_value,
      |  lead(value) OVER w AS next_value
      |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
      .orderBy("event_id")
  }

  val q22_frame_window: QueryDef = q(
    "q22_frame_window",
    """SELECT o_orderkey, o_custkey,
      |  floor(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS running_rows
      |FROM orders ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    // ROWS frame only: the running sum's addition order is pinned by the
    // (o_orderdate, o_orderkey) total order, so the doubles are bit-equal
    // to the oracle's.
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        Par.r2(sum("o_totalprice").over(w)).as("running_rows"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- set ops

  val q23_union: QueryDef = q(
    "q23_union",
    """SELECT o_custkey, count(*) AS n FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |) u GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
  ) { (s, dir) =>
    val o = t(s, dir, "orders")
    o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      .unionByName(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .orderBy("o_custkey")
  }

  val q24_intersect_except: QueryDef = q(
    "q24_intersect_except",
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
      |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
      |SELECT o_custkey, tag FROM (
      |  SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |  UNION ALL
      |  SELECT o_custkey, 'only_early' AS tag FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |) ORDER BY o_custkey, tag""".stripMargin
  ) { (s, dir) =>
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderdate") < "1998-01-01 00:00:00").select("o_custkey").distinct()
    val b = o.filter(col("o_orderdate") >= "1998-01-01 00:00:00").select("o_custkey").distinct()
    a.intersect(b).withColumn("tag", lit("both"))
      .unionByName(a.except(b).withColumn("tag", lit("only_early")))
      .orderBy("o_custkey", "tag")
  }

  // ------------------------------------------------------------- functions

  val q25_strings: QueryDef = q(
    "q25_strings",
    """SELECT c_custkey, upper(c_name) AS up_name, lower(c_mktsegment) AS low_seg,
      |  substring(c_name, 1, 8) AS name_prefix,
      |  concat(c_name, '#', c_mktsegment) AS name_seg,
      |  CAST(length(c_name) AS INT) AS name_len,
      |  trim(c_name) AS trimmed,
      |  regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
      |  CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END AS has_one
      |FROM customer ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "customer").select(
      col("c_custkey"),
      upper(col("c_name")).as("up_name"),
      lower(col("c_mktsegment")).as("low_seg"),
      substring(col("c_name"), 1, 8).as("name_prefix"),
      concat(col("c_name"), lit("#"), col("c_mktsegment")).as("name_seg"),
      length(col("c_name")).as("name_len"),
      trim(col("c_name")).as("trimmed"),
      regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
      when(col("c_name").like("%1%"), 1).otherwise(0).as("has_one")
    ).orderBy("c_custkey")
  }

  val q26_datetime: QueryDef = q(
    "q26_datetime",
    """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(month(o_orderdate) AS INT) AS o_month,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
      |  CAST(o_orderdate AS DATE) + 30 AS plus30
      |FROM orders ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("o_year"),
      month(col("o_orderdate")).as("o_month"),
      date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
      datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("days_since"),
      date_add(to_date(col("o_orderdate")), 30).as("plus30")
    ).orderBy("o_orderkey")
  }

  val q27_math: QueryDef = q(
    "q27_math",
    """SELECT l_orderkey, l_linenumber,
      |  floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue,
      |  floor(abs(l_extendedprice - 1000.0) * 100 + 0.5) / 100 AS dist1000,
      |  CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
      |  CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
      |  floor(power(1 + l_discount, 2) * 100 + 0.5) / 100 AS disc_sq
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, revenue, dist1000, qty_ceil, disc_sq""".stripMargin
  ) { (s, dir) =>
    // ORDER BY is total over the emitted columns (round-15: same
    // q03 story — (l_orderkey, l_linenumber) is not unique in the
    // synthetic lineitem, and the loader rebalance surfaced the tie).
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      Par.r2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
      Par.r2(abs(col("l_extendedprice") - 1000.0)).as("dist1000"),
      ceil(col("l_quantity")).as("qty_ceil"),
      floor(col("l_quantity")).as("qty_floor"),
      Par.r2(pow(lit(1) + col("l_discount"), 2)).as("disc_sq")
    ).orderBy("l_orderkey", "l_linenumber", "revenue", "dist1000",
      "qty_ceil", "disc_sq")
  }

  val q28_json: QueryDef = q(
    "q28_json",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
      |  array_to_string(json_keys(props), ',') AS key_list,
      |  CAST(len(json_keys(props)) AS INT) AS n_keys
      |FROM events ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    // ONE JSON parse per row: the map is its own column, and k_val,
    // key_list and n_keys all read it. Spelled inline three times, the
    // parse would be three `from_json` calls in one Project; as a column,
    // CollapseProject keeps the two projections apart (the parse is not
    // cheap to repeat). JSON parsing dominates this query.
    t(s, dir, "events").select(
      col("event_id"),
      from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType))
        .as("props_map")
    ).select(
      col("event_id"),
      element_at(col("props_map"), "k").as("k_val"),
      concat_ws(",", map_keys(col("props_map"))).as("key_list"),
      size(map_keys(col("props_map"))).as("n_keys")
    ).orderBy("event_id")
  }

  val q28_array: QueryDef = q(
    "q28_array",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id, toks[1] AS tok1, CAST(len(toks) AS INT) AS n_tok,
      |  CAST(list_contains(toks, 'data') AS INT) AS has_data
      |FROM tk ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        element_at(col("toks"), 1).as("tok1"),
        size(col("toks")).as("n_tok"),
        array_contains(col("toks"), "data").cast("int").as("has_data"))
      .orderBy("doc_id")
  }

  val q29_case: QueryDef = q(
    "q29_case",
    """SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg
      |FROM customer ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "customer").select(
      col("c_custkey"),
      when(col("c_acctbal") < 0, "neg")
        .when(col("c_acctbal") < 5000, "mid")
        .otherwise("high").as("band"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg")
    ).orderBy("c_custkey")
  }

  val q30_subquery: QueryDef = q(
    "q30_subquery",
    """WITH t AS (SELECT o_custkey, sum(o_totalprice) AS s FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, floor(s * 100 + 0.5) / 100 AS total FROM t
      |WHERE s > (SELECT avg(s) FROM t) ORDER BY o_custkey""".stripMargin
  ) { (s, dir) =>
    // Scalar subquery as a broadcast cross-join of a 1-row aggregate —
    // exactly the plan Catalyst decorrelates to.
    val totals = t(s, dir, "orders").groupBy("o_custkey")
      .agg(sum("o_totalprice").as("s"))
    val threshold = totals.agg(avg("s").as("avg_s"))
    totals.join(broadcast(threshold))
      .filter(col("s") > col("avg_s"))
      .select(col("o_custkey"), Par.r2(col("s")).as("total"))
      .orderBy("o_custkey")
  }

  val q48_percentile: QueryDef = q(
    "q48_percentile",
    """WITH r AS (SELECT o_orderstatus, o_totalprice,
      |        row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS rn,
      |        count(*) OVER (PARTITION BY o_orderstatus) AS n
      |      FROM orders)
      |SELECT o_orderstatus,
      |  min(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN o_totalprice END) AS p25,
      |  min(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN o_totalprice END) AS p50,
      |  min(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN o_totalprice END) AS p90
      |FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  ) { (s, dir) =>
    // Exact discrete percentiles via rank selection — portable across
    // engines (native percentile fns disagree on tie/interp rules), and
    // the same single-shuffle window shape either way.
    val w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    val wn = Window.partitionBy("o_orderstatus")
    val r = t(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_totalprice"),
        row_number().over(w).cast("bigint").as("rn"),
        count(lit(1)).over(wn).as("n"))
    def pick(p: Double) =
      min(when(col("rn") === ceil(lit(p) * col("n")).cast("bigint"), col("o_totalprice")))
    r.groupBy("o_orderstatus")
      .agg(pick(0.25).as("p25"), pick(0.5).as("p50"), pick(0.9).as("p90"))
      .orderBy("o_orderstatus")
  }

  val q49_stats: QueryDef = q(
    "q49_stats",
    """SELECT l_returnflag,
      |  floor(avg(l_quantity) * 100 + 0.5) / 100 AS avg_qty,
      |  floor(stddev_samp(l_quantity) * 100 + 0.5) / 100 AS sd_qty,
      |  floor(var_samp(l_quantity) * 100 + 0.5) / 100 AS var_qty,
      |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        Par.r2(avg("l_quantity")).as("avg_qty"),
        Par.r2(stddev_samp(col("l_quantity"))).as("sd_qty"),
        Par.r2(var_samp(col("l_quantity"))).as("var_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"))
      .orderBy("l_returnflag")
  }

  val q52_correlated_subquery: QueryDef = q(
    "q52_correlated_subquery",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |              GROUP BY o.o_custkey HAVING sum(o.o_totalprice) > 500000)
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    // Correlated EXISTS-with-aggregation through the SQL front end —
    // exercises Catalyst's subquery decorrelation (rewrites to an
    // aggregate + semi join; no per-row re-execution). Views are
    // per-call unique and dropped after analysis: a fixed session-global
    // name races concurrent builds (one call silently reading the
    // other's tables) and leaks into the catalog.
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (cv, ov) = (s"customer_v52_$tag", s"orders_v52_$tag")
    t(s, dir, "customer").createOrReplaceTempView(cv)
    t(s, dir, "orders").createOrReplaceTempView(ov)
    try s.sql(
      s"""SELECT c_custkey, c_name FROM $cv c
         |WHERE EXISTS (SELECT 1 FROM $ov o WHERE o.o_custkey = c.c_custkey
         |              GROUP BY o.o_custkey HAVING sum(o.o_totalprice) > 500000)
         |ORDER BY c_custkey""".stripMargin)
    finally { s.catalog.dropTempView(cv); s.catalog.dropTempView(ov) }
  }

  val q53_window_extra: QueryDef = q(
    "q53_window_extra",
    """SELECT o_orderkey, o_custkey,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  floor(percent_rank() OVER w * 100 + 0.5) / 100 AS pct_rank,
      |  floor(cume_dist() OVER w * 100 + 0.5) / 100 AS cume,
      |  first_value(o_orderkey) OVER w AS first_ok,
      |  nth_value(o_orderkey, 2) OVER w AS second_ok
      |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      ntile(4).over(w).as("quartile"),
      Par.r2(percent_rank().over(w)).as("pct_rank"),
      Par.r2(cume_dist().over(w)).as("cume"),
      first(col("o_orderkey")).over(w).as("first_ok"),
      nth_value(col("o_orderkey"), 2).over(w).as("second_ok")
    ).orderBy("o_orderkey")
  }

  val q55_strings_extra: QueryDef = q(
    "q55_strings_extra",
    """SELECT c_custkey,
      |  lpad(c_mktsegment, 12, '.') AS seg_lpad,
      |  rpad(c_mktsegment, 12, '.') AS seg_rpad,
      |  replace(c_name, 'Customer', 'Cust') AS name_repl,
      |  reverse(c_mktsegment) AS seg_rev,
      |  repeat(c_mktsegment, 2) AS seg_twice,
      |  split_part(c_name, '#', 1) AS name_head,
      |  CAST(instr(c_name, '#') AS INT) AS hash_pos,
      |  greatest(c_acctbal, 1000.0) AS bal_floor,
      |  least(c_acctbal, 5000.0) AS bal_cap
      |FROM customer ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "customer").select(
      col("c_custkey"),
      lpad(col("c_mktsegment"), 12, ".").as("seg_lpad"),
      rpad(col("c_mktsegment"), 12, ".").as("seg_rpad"),
      regexp_replace(col("c_name"), "Customer", "Cust").as("name_repl"),
      reverse(col("c_mktsegment")).as("seg_rev"),
      repeat(col("c_mktsegment"), 2).as("seg_twice"),
      substring_index(col("c_name"), "#", 1).as("name_head"),
      instr(col("c_name"), "#").as("hash_pos"),
      greatest(col("c_acctbal"), lit(1000.0)).as("bal_floor"),
      least(col("c_acctbal"), lit(5000.0)).as("bal_cap")
    ).orderBy("c_custkey")
  }

  val q56_datetime_extra: QueryDef = q(
    "q56_datetime_extra",
    """SELECT o_orderkey,
      |  CAST(quarter(o_orderdate) AS INT) AS o_quarter,
      |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
      |  CAST(dayofmonth(o_orderdate) AS INT) AS dom,
      |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(weekofyear(o_orderdate) AS INT) AS woy
      |FROM orders ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    // DuckDB dayofweek is 0=Sunday, Spark's is 1=Sunday → +1 on the
    // oracle side aligns them.
    t(s, dir, "orders").select(
      col("o_orderkey"),
      quarter(col("o_orderdate")).as("o_quarter"),
      dayofweek(col("o_orderdate")).as("dow"),
      dayofmonth(col("o_orderdate")).as("dom"),
      dayofyear(col("o_orderdate")).as("doy"),
      last_day(col("o_orderdate")).as("month_end"),
      weekofyear(col("o_orderdate")).as("woy")
    ).orderBy("o_orderkey")
  }

  val q57_cube: QueryDef = q(
    "q57_cube",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 * 100 + 0.5) / 100 AS sum_price
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    // Exact long-cents sum — the q17 whole-table-money-aggregate policy.
    t(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Par.r2(sum(floor(col("o_totalprice") * 100 + lit(0.5)))
            .cast("double") / 100)
          .as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  val q58_limit_offset: QueryDef = q(
    "q58_limit_offset",
    """WITH t AS (SELECT o_custkey, floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
      |           FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, total FROM t ORDER BY total DESC, o_custkey
      |LIMIT 10 OFFSET 5""".stripMargin
  ) { (s, dir) =>
    // Pagination: page 2 of the q19 top-k ranking.
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(Par.r2(sum("o_totalprice")).as("total"))
      .orderBy(col("total").desc, col("o_custkey"))
      .offset(5)
      .limit(10)
  }

  val q59_range_frame: QueryDef = q(
    "q59_range_frame",
    """SELECT o_orderkey,
      |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
      |                 RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS n_30d
      |FROM orders ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    // Time-RANGE frame (trailing 30-day order count per customer) —
    // count over the frame is integer-exact, so peers' evaluation order
    // cannot matter. Interval range frames need the SQL window syntax.
    t(s, dir, "orders").selectExpr(
      "o_orderkey",
      """count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS n_30d""".stripMargin)
      .orderBy("o_orderkey")
  }

  val q60_report: QueryDef = q(
    "q60_report",
    """WITH rev AS (
      |  SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
      |    floor(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 * 100 + 0.5) / 100 AS revenue,
      |    count(*) AS n_items
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, year(o_orderdate))
      |SELECT n_name, o_year, revenue, n_items,
      |  CAST(row_number() OVER (PARTITION BY o_year ORDER BY revenue DESC, n_name) AS BIGINT) AS rnk
      |FROM rev ORDER BY o_year, rnk""".stripMargin
  ) { (s, dir) =>
    // Composite "report" shape: multiway join → two-key aggregate →
    // per-year ranking. Ranking keys on the ROUNDED revenue (+ name
    // tie-break) so cross-engine float ulps can't flip ranks. The
    // revenue term is a COMPUTED double (price × (1−discount)), so the
    // q17 long-cents policy stabilizes each term at 4dp-as-integer
    // with pure IEEE ops — floor(x*1e4+0.5), identical per row on
    // both engines (a direct double→decimal cast of a computed value
    // is NOT portable, shortest-repr vs binary rounding) — then sums
    // LONGs: exact, associative, order-independent at any group size,
    // integer-add cheap (the round-11 decimal form of this sum was the
    // BENCH_r11 q60 flag). Bound: 6M sf1 items × ≤1.1e9 per term
    // ≈ 7e15 ≪ 2^63.
    val revTerm = floor(
      col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000 + lit(0.5))
    val rev = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(Par.r2(sum(revTerm).cast("double") / 10000).as("revenue"),
        count(lit(1)).as("n_items"))
    val w = Window.partitionBy("o_year").orderBy(col("revenue").desc, col("n_name"))
    rev.withColumn("rnk", row_number().over(w).cast("bigint"))
      .orderBy("o_year", "rnk")
  }

  val q61_part_revenue: QueryDef = q(
    "q61_part_revenue",
    """SELECT p_brand, p_type, count(*) AS n_items,
      |  floor(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 * 100 + 0.5) / 100 AS revenue,
      |  floor(CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / count(*) * 100 + 0.5) / 100 AS avg_retail
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size <= 25
      |GROUP BY p_brand, p_type ORDER BY p_brand, p_type""".stripMargin
  ) { (s, dir) =>
    // Exact long-unit sums (the q17/q60 policy): 4dp-as-integer terms
    // for the computed revenue, integer cents for the exact-2dp retail
    // price; avg spelled as exact-sum ÷ 100 ÷ count so every double op
    // has identical operands on both engines.
    val revTerm = floor(
      col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000 + lit(0.5))
    t(s, dir, "lineitem")
      .join(t(s, dir, "part").filter(col("p_size") <= 25),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type")
      .agg(count(lit(1)).as("n_items"),
        Par.r2(sum(revTerm).cast("double") / 10000).as("revenue"),
        Par.r2(sum(floor(col("p_retailprice") * 100 + lit(0.5))).cast("double")
          / 100 / count(lit(1))).as("avg_retail"))
      .orderBy("p_brand", "p_type")
  }

  val q62_supplier_volume: QueryDef = q(
    "q62_supplier_volume",
    """SELECT s_name, n_name, count(*) AS n_items,
      |  floor(sum(l_quantity) * 100 + 0.5) / 100 AS total_qty
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY s_name, n_name ORDER BY s_name""".stripMargin
  ) { (s, dir) =>
    // supplier grows with scale factor — no broadcast hint (AQE
    // broadcasts it only while it actually fits); nation is constant.
    t(s, dir, "lineitem")
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy("s_name", "n_name")
      .agg(count(lit(1)).as("n_items"), Par.r2(sum("l_quantity")).as("total_qty"))
      .orderBy("s_name")
  }

  val q63_lateral: QueryDef = q(
    "q63_lateral",
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    // LATERAL correlated subquery (top-1 order per customer) — Catalyst
    // decorrelates this to a ranked window join, not a per-row loop.
    // Per-call unique views, dropped after analysis (see q52).
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (cv, ov) = (s"customer_v63_$tag", s"orders_v63_$tag")
    t(s, dir, "customer").createOrReplaceTempView(cv)
    t(s, dir, "orders").createOrReplaceTempView(ov)
    try s.sql(
      s"""SELECT c_custkey, o_orderkey, o_totalprice
         |FROM $cv, LATERAL (
         |  SELECT o_orderkey, o_totalprice FROM $ov
         |  WHERE o_custkey = c_custkey
         |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
         |ORDER BY c_custkey""".stripMargin)
    finally { s.catalog.dropTempView(cv); s.catalog.dropTempView(ov) }
  }

  val q64_array_agg: QueryDef = q(
    "q64_array_agg",
    """SELECT o_custkey,
      |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
      |  CAST(len(list(DISTINCT o_orderpriority)) AS INT) AS n_distinct
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
  ) { (s, dir) =>
    // Array aggregation made deterministic: collect_set's order is
    // engine-internal, so the portable form sorts before serializing.
    t(s, dir, "orders")
      .groupBy("o_custkey")
      // one collect_set buffer per group; both outputs derive from it
      .agg(array_sort(collect_set(col("o_orderpriority"))).as("arr"))
      .select(col("o_custkey"), array_join(col("arr"), ",").as("priorities"),
        size(col("arr")).as("n_distinct"))
      .orderBy("o_custkey")
  }

  val q113_pivot: QueryDef = q(
    "q113_pivot",
    """SELECT CAST(ts AS DATE) AS day,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin
  ) { (s, dir) =>
    // PIVOT: the wide per-day event-type count matrix (the report shape
    // BI layers ask of an event stream). The explicit value list fixes
    // the output schema without the extra distinct-values job Spark
    // otherwise runs. Spark plans pivot as a two-step agg chain —
    // (day, type) counts, then pivotfirst over day — and map-side
    // combine bounds BOTH exchanges by distinct group counts, never
    // event count; no join, no transpose (ExplainSpec pins the shape).
    // Absent (day, type) cells are 0, as the oracle's FILTER counts
    // produce.
    t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")
  }

  val q114_unpivot: QueryDef = q(
    "q114_unpivot",
    """WITH p AS (SELECT CAST(ts AS DATE) AS day,
      |      count(*) FILTER (WHERE event_type = 'click') AS click,
      |      count(*) FILTER (WHERE event_type = 'error') AS error,
      |      count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |      count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |      count(*) FILTER (WHERE event_type = 'view') AS view
      |    FROM events GROUP BY 1)
      |SELECT day, event_type, n FROM (
      |  SELECT day, 'click' AS event_type, click AS n FROM p
      |  UNION ALL SELECT day, 'error', error FROM p
      |  UNION ALL SELECT day, 'purchase', purchase FROM p
      |  UNION ALL SELECT day, 'signup', signup FROM p
      |  UNION ALL SELECT day, 'view', view FROM p)
      |ORDER BY day, event_type""".stripMargin
  ) { (s, dir) =>
    // UNPIVOT (melt): the wide matrix back to long form — the inverse
    // reshape, round-tripping q113's pivot. Spark's unpivot is a
    // NARROW Expand (each input row emits one row per value column,
    // no shuffle, no join) — the oracle's 5-way UNION ALL re-reads the
    // CTE five times to say the same thing. Zero cells survive the
    // round trip explicitly (long form keeps them as n = 0 rows).
    val p = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
    p.unpivot(Array(col("day")),
        Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
        "event_type", "n")
      .orderBy("day", "event_type")
  }

  val q115_corr: QueryDef = q(
    "q115_corr",
    """SELECT l_returnflag,
      |  floor(corr(l_quantity, l_extendedprice) * 100 + 0.5) / 100 AS corr_qp,
      |  floor(covar_samp(l_quantity, l_extendedprice) * 100 + 0.5) / 100 AS covs_qp,
      |  floor(covar_pop(l_quantity, l_extendedprice) * 100 + 0.5) / 100 AS covp_qp
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    // Bivariate statistics (corr / covar): the q49 family's two-column
    // siblings. Both engines accumulate one-pass co-moments that merge
    // across partitions (a mergeable agg — partial before the exchange,
    // |groups| rows after), so the only cross-engine drift is summation
    // order in the last ulps; the r2 guard absorbs it as in q49.
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        Par.r2(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
        Par.r2(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covs_qp"),
        Par.r2(covar_pop(col("l_quantity"), col("l_extendedprice"))).as("covp_qp"))
      .orderBy("l_returnflag")
  }

  val q122_grouping_sets: QueryDef = q(
    "q122_grouping_sets",
    """SELECT coalesce(l_returnflag, '-') AS rf, coalesce(l_linestatus, '-') AS ls,
      |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
      |  count(*) AS n, floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
      |ORDER BY gid, rf, ls""".stripMargin
  ) { (s, dir) =>
    // Explicit GROUPING SETS — the arbitrary-subset form rollup (q17)
    // and cube (q57) are shorthands of, with grouping() disambiguating
    // a NULL group key from a super-aggregate row (both engines fold
    // the three sets through ONE Expand + hash agg, not three scans).
    // Spark's Scala API spells grouping sets via SQL.
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val lv = s"lineitem_v122_$tag"
    t(s, dir, "lineitem").createOrReplaceTempView(lv)
    try s.sql(
      s"""SELECT coalesce(l_returnflag, '-') AS rf, coalesce(l_linestatus, '-') AS ls,
         |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
         |  count(*) AS n, floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
         |FROM $lv
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
         |ORDER BY gid, rf, ls""".stripMargin)
    finally s.catalog.dropTempView(lv)
  }

  val q123_percentile_cont: QueryDef = q(
    "q123_percentile_cont",
    """SELECT l_returnflag,
      |  floor(quantile_cont(l_quantity, 0.5) * 100 + 0.5) / 100 AS median_qty,
      |  floor(quantile_cont(l_quantity, 0.9) * 100 + 0.5) / 100 AS p90_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    // Interpolated percentiles (percentile_cont / quantile_cont): the
    // SQL-standard linear interpolation both engines implement —
    // complementing q48's exact rank-selection percentiles, which
    // sidestep interpolation entirely. The interpolation arithmetic is
    // one lerp between two order statistics (same doubles both
    // engines); r2 guards the division. Mergeable sort-based agg, one
    // exchange of |groups| buffers.
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        Par.r2(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)")).as("median_qty"),
        Par.r2(expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity)")).as("p90_qty"))
      .orderBy("l_returnflag")
  }

  val q126_regression: QueryDef = q(
    "q126_regression",
    """SELECT l_returnflag,
      |  floor(regr_slope(l_extendedprice, l_quantity) * 100 + 0.5) / 100 AS slope,
      |  floor(regr_intercept(l_extendedprice, l_quantity) * 100 + 0.5) / 100 AS intercept,
      |  floor(regr_r2(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000 AS r2
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    // Linear-regression aggregates (regr_slope/intercept/r2): the
    // third rung of the moment-statistics family (q49 univariate, q115
    // bivariate, this the fitted line) — all mergeable one-pass
    // co-moments, |groups| rows after the exchange. r2 sits in [0, 1]
    // so it takes the 4-decimal guard; slope/intercept take r2's
    // 2-decimal form like every other large-magnitude double.
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        Par.r2(expr("regr_slope(l_extendedprice, l_quantity)")).as("slope"),
        Par.r2(expr("regr_intercept(l_extendedprice, l_quantity)")).as("intercept"),
        Par.r4(expr("regr_r2(l_extendedprice, l_quantity)")).as("r2"))
      .orderBy("l_returnflag")
  }

  val q128_gapfill: QueryDef = q(
    "q128_gapfill",
    """WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
      |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
      |    FROM events GROUP BY 1, 2)
      |SELECT strftime(hours.h, '%Y-%m-%d %H:%M') AS ws, types.event_type AS event_type,
      |  CAST(coalesce(n, 0) AS BIGINT) AS n
      |FROM hours CROSS JOIN types
      |LEFT JOIN counts ON counts.h = hours.h AND counts.event_type = types.event_type
      |ORDER BY ws, types.event_type""".stripMargin
  ) { (s, dir) =>
    // Gap filling (resample-to-dense): the hourly × event-type grid
    // with EXPLICIT zero rows for silent cells — what a monitoring
    // chart needs and q36's plain groupBy cannot say (an absent group
    // is indistinguishable from an unobserved one). Scale shape: the
    // grid derives from ONE scalar bounds agg + sequence/explode (grid
    // size = hours × types, time-bounded and tiny relative to events);
    // the counts agg is the only corpus shuffle; the left join keys on
    // the grid, broadcastable.
    val ev = t(s, dir, "events")
    val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val hours = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    val types = ev.select(col("event_type")).distinct()
    val counts = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    hours.crossJoin(types)
      .join(counts, Seq("h", "event_type"), "left")
      .na.fill(0L, Seq("n"))
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm").as("ws"),
        col("event_type"), col("n"))
      .orderBy("ws", "event_type")
  }

  val q129_funnel: QueryDef = q(
    "q129_funnel",
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
      |    WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id)
      |    WHERE event_type = 'click' AND ts > t1 AND ts <= t1 + INTERVAL 1 DAY GROUP BY 1),
      |p AS (SELECT e.user_id FROM events e JOIN c USING (user_id)
      |    WHERE event_type = 'purchase' AND ts > t2 AND ts <= t2 + INTERVAL 1 DAY GROUP BY 1)
      |SELECT stage, n_users FROM (
      |  SELECT 'l1_view' AS stage, count(*) AS n_users FROM v
      |  UNION ALL SELECT 'l2_click', count(*) FROM c
      |  UNION ALL SELECT 'l3_purchase', count(*) FROM p)
      |ORDER BY stage""".stripMargin
  ) { (s, dir) =>
    // Ordered funnel (view → click → purchase): users counted at each
    // stage only if the stage's FIRST qualifying event follows their
    // previous stage's — the event-analytics staple (the
    // windowFunnel pattern: strict order under a 1-day conversion
    // window, which gives the funnel real attrition) expressed as two user-keyed
    // min-aggs + semi-join-shaped steps. Scale shape: every join and
    // agg keys on user_id (one partitioning reused down the chain);
    // stage frames shrink monotonically; no window over a global
    // order anywhere.
    val ev = t(s, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 1 DAY"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL 1 DAY"))
      .select("user_id").distinct()
    val one = (df: DataFrame, tag: String) =>
      df.agg(count(lit(1)).as("n_users")).select(lit(tag).as("stage"), col("n_users"))
    one(v, "l1_view")
      .unionByName(one(c, "l2_click"))
      .unionByName(one(p, "l3_purchase"))
      .orderBy("stage")
  }

  val q130_retention: QueryDef = q(
    "q130_retention",
    """WITH f AS (SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort
      |    FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT e.user_id, f.cohort,
      |      date_diff('day', f.cohort, CAST(date_trunc('day', e.ts) AS DATE)) AS day_offset
      |    FROM events e JOIN f USING (user_id))
      |SELECT cohort, CAST(day_offset AS BIGINT) AS day_offset, count(*) AS n_users
      |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, dir) =>
    // Retention cohorts: users grouped by first-seen day, counted on
    // each later day they return — the (cohort × day-offset) matrix
    // behind every retention curve. Scale shape: the cohort table is
    // one user-keyed agg; activity joins it on the same key; the
    // distinct bounds the matrix agg by (users × active days), never
    // raw events.
    val ev = t(s, dir, "events")
    val f = ev.groupBy("user_id")
      .agg(date_trunc("day", min(col("ts"))).cast("date").as("cohort"))
    ev.join(f, "user_id")
      .select(col("user_id"), col("cohort"),
        datediff(date_trunc("day", col("ts")).cast("date"), col("cohort"))
          .cast("long").as("day_offset"))
      .distinct()
      .groupBy("cohort", "day_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "day_offset")
  }

  val all: Seq[QueryDef] = Seq(
    q01_scan, q02_project, q03_filter, q04_filter_in_between, q05_join,
    q06_broadcast_join, q07_multijoin, q08_left_join, q09_semi_join,
    q10_anti_join, q11_range_join, q12_asof_join, q13_agg, q14_distinct,
    q15_count_distinct, q16_approx_distinct, q17_rollup, q18_sort_limit,
    q19_topk, q20_rank_window, q21_lag_lead, q22_frame_window, q23_union,
    q24_intersect_except, q25_strings, q26_datetime, q27_math, q28_json,
    q28_array, q29_case, q30_subquery, q48_percentile, q49_stats,
    q52_correlated_subquery, q53_window_extra, q55_strings_extra,
    q56_datetime_extra, q57_cube, q58_limit_offset, q59_range_frame,
    q60_report, q61_part_revenue, q62_supplier_volume, q63_lateral,
    q64_array_agg, q113_pivot, q114_unpivot, q115_corr, q122_grouping_sets,
    q123_percentile_cont, q126_regression, q128_gapfill, q129_funnel,
    q130_retention)
}
