package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{QueryDef, Tables}
import graft.Tables.t

/** The relational query surface the reference delegates to Redshift via
  * user-authored SQL (reference: SURVEY.md §2.5 — projection/filter,
  * insert-select, joins incl. semi/anti, aggregation, windows, set ops,
  * case, subqueries). Here expressed Spark-first with the DataFrame API so
  * Catalyst plans pushdown/pruning/broadcast natively.
  *
  * Every query aliases output columns identically to its DuckDB oracle and
  * applies a total ordering, so the driver's sorted-column hash compare is
  * deterministic. Doubles that result from multi-row accumulation are
  * rounded (sums to 2dp, ratios/avgs to 4dp) since fp summation order is
  * engine-specific.
  */
object Relational {

  /** TPC-H Q1 style pricing summary: the canonical scan→filter→hash-agg.
    * At 100 TB this is a single scan with partial aggregation map-side;
    * only |groups| rows shuffle.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // sums are accumulated in DECIMAL so the result is independent of
        // partitioning/order (double fold drifts past 2dp at ~1e9 × 15k rows)
        round(sum(col("l_quantity").cast("decimal(30,6)")).cast("double"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(30,6)")).cast("double"), 2).as("sum_base_price"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(30,6)")).cast("double"), 2).as("sum_disc_price"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).cast("decimal(30,6)")).cast("double"), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      | round(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_qty,
      | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_base_price,
      | round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_disc_price,
      | round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_charge,
      | round(avg(l_quantity), 4) AS avg_qty,
      | round(avg(l_extendedprice), 4) AS avg_price,
      | round(avg(l_discount), 4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 style: selective dim filter → fact join → agg → top-k.
    * customer filter is applied BEFORE the join so Catalyst broadcasts the
    * reduced build side; at scale the orders/lineitem join shuffles on
    * orderkey only after both filters prune.
    */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-03-15").cast("timestamp")
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  val q3Oracle: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15'
      |  AND l_shipdate > TIMESTAMP '1998-03-15'
      |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5 style: 6-way star join (region→nation→{customer,supplier} +
    * orders→lineitem) with co-located customer/supplier nation. All dims
    * are broadcast-size; only the orders⋈lineitem edge shuffles at scale.
    */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val sup = t(s, dir, "supplier")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    r.join(n, r("r_regionkey") === n("n_regionkey"))
      .join(c, n("n_nationkey") === c("c_nationkey"))
      .join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
      .groupBy(col("r_name"), col("n_name"))
      // DECIMAL(30,6) accumulation: a double sum over sf1+ row counts
      // (6M lineitem) carries enough random-walk error (~1e-2 at 1e11
      // magnitudes) to flip the 2dp rounding vs the oracle's own double
      // sum; casting each item to decimal makes the sum exact and
      // order-independent in BOTH engines (WarehouseOps discipline)
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,6)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  val q5Oracle: String =
    """SELECT r_name, n_name,
      | CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue,
      | count(*) AS n_items
      |FROM region
      |JOIN nation ON r_regionkey = n_regionkey
      |JOIN customer ON n_nationkey = c_nationkey
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Left outer join preserving customers with zero orders (reference
    * pattern: streaming_load.rb:294-302 right-outer dedup join).
    */
  def qOuterJoinCounts(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("order_cnt"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spent"))
      .orderBy("c_custkey")
  }

  val qOuterJoinOracle: String =
    """SELECT c_custkey, c_name, count(o_orderkey) AS order_cnt,
      | round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY c_custkey""".stripMargin

  /** Semi join: customers having at least one URGENT order. Catalyst plans
    * LeftSemi (hash, build on filtered orders keys).
    */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val qSemiJoinOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Anti join: customers with no in-progress ('P') orders (reference
    * NOT-IN guard pattern: streaming_load.rb:317-329).
    */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val qAntiJoinOracle: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** Window ranking: top-2 orders per customer by totalprice. Single
    * shuffle on the partition key; rank prunes before any further join.
    */
  def qWindowTopN(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn").cast("long").as("rn"))
      .orderBy("o_custkey", "rn")
  }

  val qWindowTopNOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) sub
      |WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin

  /** Grouped top-k via the bounded [[graft.functions.TopKAggregator]] —
    * the 100 TB form of [[qWindowTopN]]: a size-k buffer per (group,
    * partition) with map-side partial merge, so the shuffle carries k
    * rows per group per partition instead of sorting every row of the
    * partition (`Window` + `row_number` plans a full partition sort).
    * Same k-per-group contract, same tie-breaks, oracle-checked against
    * the window formulation in SQL — proving the two plans are
    * result-identical while `.explain` shows ObjectHashAggregate vs
    * Window/Sort. Top-2 orders per customer by price.
    */
  def qGroupedTopK(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKAggregator.ranked(t(s, dir, "orders"), Seq("o_custkey"), 2,
        col("o_totalprice"), col("o_orderkey"))
      .select(col("o_custkey"), col("id").as("o_orderkey"),
        col("score").as("o_totalprice"), col("rk").cast("long").as("rn"))
      .orderBy("o_custkey", "rn")
  }

  val qGroupedTopKOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) sub
      |WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin

  /** Running (cumulative) sum per user over event time — rows-frame window. */
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("running_value", round(sum("value").over(w), 2))
      .select(col("event_id"), col("user_id"), col("running_value"))
      .orderBy("event_id")
  }

  val qWindowRunningOracle: String =
    """SELECT event_id, user_id,
      | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Event-time sliding mean per event type — RANGE-frame window (the one
    * frame type [[qWindowRunning]]'s ROWS frame doesn't cover): the frame
    * is VALUE-bounded (all events within the trailing hour), so tied
    * timestamps share one frame regardless of row order — which is also
    * what makes the result deterministic without a unique tiebreaker in
    * the window ORDER BY. Spark evaluates range frames with the same
    * single-pass partition sort as rows frames; the shuffle is one
    * hash-partition by event_type. At 100 TB the partition key would be
    * (event_type, day-bucket) to bound per-partition sort size — the
    * standard bounded-window idiom.
    */
  def qMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("ts_sec")
      .rangeBetween(-3600L, 0L)
    t(s, dir, "events")
      .withColumn("ts_sec", col("ts").cast("long"))
      // trailing sum + count, not avg: the raw values are 2-decimal, so
      // the windowed sum rounds stably at 2dp in any addition order,
      // while avg = sum/count lands on .005 boundaries where engine
      // float-accumulation order flips the rounding (observed: 124 of
      // 10k rows at sf0.01). The reader divides when a mean is wanted.
      .withColumn("hour_sum", round(sum("value").over(w), 2))
      .withColumn("n_events", count(lit(1)).over(w))
      .select(col("event_id"), col("event_type"), col("ts_sec"),
        col("hour_sum"), col("n_events"))
      .orderBy("event_id")
  }

  val qMovingAvgOracle: String =
    """SELECT event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
      | round(sum(value) OVER (PARTITION BY event_type
      |   ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS hour_sum,
      | count(*) OVER (PARTITION BY event_type
      |   ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_events
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Distinct aggregation (expand+two-phase agg in Spark). */
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct("l_suppkey").as("distinct_supps"),
        countDistinct("l_partkey").as("distinct_parts"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  val qDistinctAggOracle: String =
    """SELECT l_returnflag, count(DISTINCT l_suppkey) AS distinct_supps,
      | count(DISTINCT l_partkey) AS distinct_parts, count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Set operation: orders with no lineitems (EXCEPT ≡ distinct anti). */
  def qExcept(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey").as("okey"))
    val l = t(s, dir, "lineitem").select(col("l_orderkey").as("okey"))
    o.except(l).orderBy("okey")
  }

  val qExceptOracle: String =
    """SELECT o_orderkey AS okey FROM orders
      |EXCEPT SELECT l_orderkey FROM lineitem
      |ORDER BY okey""".stripMargin

  /** Set operation: orderkeys present in both orders and lineitem, unioned
    * with a disjoint sentinel branch to exercise UNION ALL + INTERSECT.
    */
  def qIntersect(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey").as("okey"))
    val l = t(s, dir, "lineitem").select(col("l_orderkey").as("okey"))
    o.intersect(l).agg(count(lit(1)).as("n_common"))
  }

  val qIntersectOracle: String =
    """SELECT count(*) AS n_common FROM (
      |  SELECT o_orderkey AS okey FROM orders
      |  INTERSECT SELECT l_orderkey FROM lineitem) sub""".stripMargin

  /** CASE expression bucketing + conditional aggregation. */
  def qCaseBucket(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "medium")
          .otherwise("large").as("bucket"),
        col("o_totalprice"),
        col("o_orderstatus"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice").cast("decimal(30,6)")).cast("double"), 2).as("total"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).cast("long").as("n_finished"))
      .orderBy("bucket")

  val qCaseBucketOracle: String =
    """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
      |  WHEN o_totalprice < 150000 THEN 'medium' ELSE 'large' END AS bucket,
      | count(*) AS cnt, round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 2) AS total,
      | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** ROLLUP over region→nation with COALESCE'd subtotal labels. Expressed
    * in Spark SQL: the DataFrame `rollup` path trips Spark 4.1's
    * fail-ambiguous-self-join check when the grouping columns are
    * re-selected (the pre-Expand child attribute survives by name), while
    * the SQL analyzer resolves the same plan unambiguously.
    */
  def qRollup(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "region").createOrReplaceTempView("region")
    t(s, dir, "nation").createOrReplaceTempView("nation")
    t(s, dir, "customer").createOrReplaceTempView("customer")
    s.sql(
      """SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
        | count(*) AS cust_cnt, round(sum(c_acctbal), 2) AS acct_total
        |FROM region
        |JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name, n_name""".stripMargin)
  }

  val qRollupOracle: String =
    """SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
      | count(*) AS cust_cnt, round(sum(c_acctbal), 2) AS acct_total
      |FROM region
      |JOIN nation ON r_regionkey = n_regionkey
      |JOIN customer ON n_nationkey = c_nationkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name, n_name""".stripMargin

  /** CUBE over (mktsegment, orderstatus): all 4 grouping combinations in
    * one pass — Catalyst expands to a single Expand + hash aggregate, so
    * the input is scanned once regardless of grouping-set count.
    */
  def qCube(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(cubeSql)
  }

  private val cubeSql =
    """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
      | coalesce(o_orderstatus, 'ALL') AS status,
      | count(*) AS n_orders,
      | round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 2) AS total
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY CUBE(c_mktsegment, o_orderstatus)
      |ORDER BY segment, status""".stripMargin

  val qCubeOracle: String = cubeSql

  /** Explicit GROUPING SETS: per-clerk and per-priority totals in one
    * scan, distinguished via GROUPING() flags.
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(groupingSetsSql)
  }

  private val groupingSetsSql =
    """SELECT coalesce(o_orderstatus, '-') AS status, coalesce(o_orderpriority, '-') AS priority,
      | CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
      | count(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY status, priority""".stripMargin

  val qGroupingSetsOracle: String = groupingSetsSql

  /** Scalar-subquery filter: orders above the (rounded) global average.
    * Expressed as a broadcast cross join of the 1-row aggregate — the
    * distributed form of a scalar subquery (no driver-side collect).
    */
  def qAboveAvg(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = o.agg(round(avg("o_totalprice"), 0).as("ap"))
    o.crossJoin(broadcast(a))
      .filter(col("o_totalprice") > col("ap"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val qAboveAvgOracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_totalprice > (SELECT round(avg(o_totalprice), 0) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** Batch sessionization: gap > 30 min starts a new session, detected
    * with a lag window; per-user session/event counts. The event-time
    * comparison uses microseconds so both engines agree exactly.
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    t(s, dir, "events")
      .select(col("user_id"), col("ts"))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  val qSessionizeOracle: String =
    """WITH g AS (
      |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |  FROM events),
      |s AS (
      |  SELECT user_id,
      |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM g)
      |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Native dynamic-gap sessionization via `session_window` — the
    * idiomatic Spark twin of [[qSessionize]]'s lag+cumsum formulation,
    * and the form that also runs incrementally under Structured
    * Streaming (the state store merges overlapping windows). Semantics
    * are HALF-OPEN: an event's window is [t, t+gap), so a successor at
    * exactly t+gap starts a NEW session — the oracle mirrors this with
    * `diff >= gap` where [[qSessionize]]'s convention is `diff > gap`
    * (the two agree on this corpus; the boundary differs only on an
    * exact-gap tie).
    *
    * Scale shape: one user-keyed shuffle; Spark sorts each user's events
    * and merges windows in a single pass — same cost envelope as the lag
    * window, but expressed as an aggregate, so it composes with
    * streaming state and partial output modes.
    */
  def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max("n").as("max_session_events"),
        sum("n").as("n_events"))
      .orderBy("user_id")

  val qSessionWindowOracle: String =
    """WITH g AS (
      |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts,
      |    sum(CASE WHEN prev_ts IS NULL
      |             OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
      |        THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts
      |            ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM g),
      |per AS (SELECT user_id, sess, count(*) AS n FROM s GROUP BY user_id, sess)
      |SELECT user_id, count(*) AS n_sessions, max(n) AS max_session_events,
      |  CAST(sum(n) AS BIGINT) AS n_events
      |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Event-time hourly aggregation with JSON extraction from props. */
  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("event_type"), col("value"), col("user_id"))
      .groupBy("hr", "event_type")
      .agg(count(lit(1)).as("cnt"),
        round(sum("value"), 2).as("total_value"),
        countDistinct("user_id").as("n_users"))
      .orderBy("hr", "event_type")

  val qEventsHourlyOracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr, event_type,
      | count(*) AS cnt, round(sum(value), 2) AS total_value,
      | count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin

  /** OVERLAPPING (sliding) event-time windows — the third window shape
    * after tumbling ([[qEventsHourly]]) and RANGE frames (`q_moving_avg`):
    * `window(ts, "2 hours", "1 hour")` assigns every event to BOTH 2-hour
    * windows covering it, the native Spark form of "rolling 2h totals
    * reported hourly". The oracle replays the assignment by exploding
    * each event into its two window starts (trunc(ts) and trunc(ts) - 1h)
    * — the same expansion Spark's `TimeWindowing` rule compiles to.
    *
    * Scale shape: the 2x row expansion happens map-side inside codegen
    * and feeds one partial-aggregated shuffle of (window, type) groups —
    * a window-function formulation over raw events would sort the full
    * stream instead.
    */
  def qSlidingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"), col("total_value"))
      .orderBy("win_start", "event_type")

  val qSlidingWindowOracle: String =
    """WITH expanded AS (
      |  SELECT date_trunc('hour', ts) - INTERVAL (k) HOUR AS win_start,
      |         event_type, "value"
      |  FROM events, (SELECT unnest(generate_series(0, 1)) AS k) ks)
      |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
      | count(*) AS cnt, round(sum("value"), 2) AS total_value
      |FROM expanded GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** Recursive CTE (Spark 4's `WITH RECURSIVE`) — iterative graph walk
    * expressed in pure SQL instead of a driver loop: every user id is
    * halved until it reaches 0 (a synthetic parent chain), and the
    * output is the depth histogram of the walk. The recursion runs
    * INSIDE Catalyst (UnionLoop with the configured
    * `spark.sql.cteRecursionLevelLimit`), so per-round state is a plan
    * node, not a driver-side collect-and-resubmit loop — the SQL-level
    * twin of the pointer-jump closure in `ClusterOps`. The DuckDB oracle
    * is the same recursion in its own dialect.
    */
  def qRecursiveCte(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """WITH RECURSIVE walk(orig, cur, d) AS (
        |  SELECT DISTINCT user_id, user_id, 0 FROM events
        |  UNION ALL
        |  SELECT orig, cur DIV 2, d + 1 FROM walk WHERE cur > 0)
        |SELECT d AS depth, count(*) AS n_users
        |FROM walk WHERE cur = 0
        |GROUP BY d ORDER BY depth""".stripMargin)
  }

  val qRecursiveCteOracle: String =
    """WITH RECURSIVE walk(orig, cur, d) AS (
      |  SELECT DISTINCT user_id, user_id, 0 FROM events
      |  UNION ALL
      |  SELECT orig, cur // 2, d + 1 FROM walk WHERE cur > 0)
      |SELECT d AS depth, count(*) AS n_users
      |FROM walk WHERE cur = 0
      |GROUP BY d ORDER BY depth""".stripMargin

  /** Correlated EXISTS / NOT EXISTS — written as subqueries, executed as
    * joins: Catalyst decorrelates both predicates into a left-semi and a
    * left-anti join (RelationalSpec asserts both in the plan), so the
    * "customers with a big order but no low-priority order" business
    * filter costs two key-equality shuffles, never a per-row subquery
    * probe. The oracle runs the identical SQL.
    */
  def qExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(existsSql)
  }

  private val existsSql: String =
    """SELECT c_mktsegment, count(*) AS n_cust
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderpriority = '5-LOW')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val qExistsSubqueryOracle: String = existsSql

  /** LATERAL correlated subquery — the per-row derived table (each
    * customer's max order price) written the way an analyst writes it;
    * Catalyst decorrelates the lateral aggregate into a left outer join
    * over a pre-grouped orders frame, so it costs one key-equality
    * shuffle, not a per-row probe. The oracle runs the identical SQL
    * (DuckDB executes LATERAL natively).
    */
  def qLateralJoin(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(lateralSql)
  }

  private val lateralSql: String =
    """SELECT c.c_mktsegment, count(*) AS n_cust,
      |  round(sum(t.top_price), 2) AS sum_top
      |FROM customer c,
      |LATERAL (SELECT max(o_totalprice) AS top_price
      |         FROM orders o WHERE o.o_custkey = c.c_custkey) t
      |WHERE t.top_price IS NOT NULL
      |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin

  val qLateralJoinOracle: String = lateralSql

  /** Event-rate spike detection over the hourly stream — the monitoring
    * twin of [[qEventsHourly]]: an hour is a spike when its event count
    * reaches 2× the trailing-24-hour mean for its type (the "traffic
    * doubled vs yesterday" alerting rule). The rule and the reported peak
    * ratio are INTEGER arithmetic end to end (`cnt·24 ≥ 2·sum24`, ratio
    * in basis points via integer div) — a z-score variant would hang the
    * oracle hash on windowed-stddev float summation order, which segment
    * -tree window implementations are free to reassociate.
    *
    * Scale shape: the hourly pre-aggregate map-side-combines the event
    * stream down to (hour × type) rows; the trailing window partitions by
    * type over that tiny frame; the final rollup is type-sized. The raw
    * stream is touched exactly once.
    */
  def qRateAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val trail = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hr").rowsBetween(-24, -1)
    hourly
      .withColumn("sum24", sum("cnt").over(trail))
      .withColumn("nprev", count(lit(1)).over(trail))
      .filter(col("nprev") === 24) // score only hours with a full trailing day
      .withColumn("ratio_bp", expr("(cnt * 24 * 10000) div sum24"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(when(expr("cnt * 24 >= 2 * sum24"), 1L).otherwise(0L)).as("n_spikes"),
        max("ratio_bp").as("max_ratio_bp"))
      .orderBy("event_type")
  }

  /** Event-path transition matrix — the Markov/Sankey feed behind every
    * "where do users go next" product question: for each user's
    * time-ordered event stream, count (event_type → next event_type)
    * transitions and report each edge's share of its origin's outgoing
    * mass in integer basis points. `event_id` breaks timestamp ties so
    * both engines walk the identical sequence.
    *
    * Scale shape: ONE window partitioned by user (the per-user event
    * list is the unit of sequence work — parallel across users, bounded
    * per user), then a types×types aggregate (map-side combined; the
    * transition matrix is |types|², model-sized). The share join is
    * matrix-row-sized. No global sort anywhere.
    */
  def qPathTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edges = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val outMass = edges.groupBy("from_type").agg(sum("n").as("out_n"))
    edges.join(outMass, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 10000) div out_n").as("share_bp"))
      .orderBy("from_type", "to_type")
  }

  val qPathTransitionsOracle: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |edges AS (
      |  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |mass AS (
      |  SELECT from_type, CAST(sum(n) AS BIGINT) AS out_n
      |  FROM edges GROUP BY 1)
      |SELECT e.from_type, e.to_type, e.n,
      |  (e.n * 10000) // m.out_n AS share_bp
      |FROM edges e JOIN mass m ON m.from_type = e.from_type
      |ORDER BY e.from_type, e.to_type""".stripMargin

  /** Seasonal (hour-of-day) baseline anomaly screen — the calendar
    * companion to [[qRateAnomaly]]'s trailing-window spike detector: a
    * metric that is perfectly normal at 14:00 can be a pager at 03:00,
    * so each (event_type, calendar-hour) cell is compared against the
    * MEAN of its own hour-of-day across the history, not against the
    * preceding 24 h. Deviations are integer basis points
    * (`cnt · n_cells · 10⁴ div Σcnt`) so the classification is exactly
    * reproducible in the oracle; cells ≥1.5× baseline count as high,
    * ≤0.5× as low.
    *
    * Scale shape: one hourly pre-aggregate (map-side combined) feeds
    * both the 24-row-per-type profile and the deviation join; the
    * profile side is hour-of-day-bounded (24 × |types|) so the join is
    * AQE broadcast at any corpus size. No windows anywhere.
    */
  def qSeasonalBaseline(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("hod", hour(col("hr")))
    val profile = hourly.groupBy("event_type", "hod")
      .agg(count(lit(1)).as("base_n"), sum("cnt").as("base_sum"))
    hourly.join(profile, Seq("event_type", "hod"))
      .withColumn("ratio_bp", expr("(cnt * base_n * 10000) div base_sum"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("ratio_bp") >= 15000, 1L).otherwise(0L)).as("n_high"),
        sum(when(col("ratio_bp") <= 5000, 1L).otherwise(0L)).as("n_low"),
        max("ratio_bp").as("max_ratio_bp"))
      .orderBy("event_type")
  }

  val qSeasonalBaselineOracle: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |hh AS (SELECT event_type, hr, cnt, hour(hr) AS hod FROM hourly),
      |profile AS (
      |  SELECT event_type, hod, count(*) AS base_n,
      |    CAST(sum(cnt) AS BIGINT) AS base_sum
      |  FROM hh GROUP BY 1, 2),
      |dev AS (
      |  SELECT h.event_type, (h.cnt * p.base_n * 10000) // p.base_sum AS ratio_bp
      |  FROM hh h JOIN profile p
      |    ON p.event_type = h.event_type AND p.hod = h.hod)
      |SELECT event_type, count(*) AS n_cells,
      |  CAST(sum(CASE WHEN ratio_bp >= 15000 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  CAST(sum(CASE WHEN ratio_bp <= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(max(ratio_bp) AS BIGINT) AS max_ratio_bp
      |FROM dev GROUP BY event_type ORDER BY event_type""".stripMargin

  val qRateAnomalyOracle: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |trail AS (
      |  SELECT event_type, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY hr
      |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS sum24,
      |    count(*) OVER (PARTITION BY event_type ORDER BY hr
      |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS nprev
      |  FROM hourly)
      |SELECT event_type, count(*) AS n_scored,
      |  CAST(sum(CASE WHEN cnt * 24 >= 2 * sum24 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_spikes,
      |  CAST(max((cnt * 24 * 10000) // sum24) AS BIGINT) AS max_ratio_bp
      |FROM trail WHERE nprev = 24
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** JSON field extraction (reference loads `json 'auto'` via COPY —
    * psqldatasource.rb:413-424; here the scalar-extraction analogue).
    */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k") > 50)
      .orderBy("event_id")

  val qJsonExtractOracle: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
      |ORDER BY event_id""".stripMargin

  /** Scalar string functions over part (upper/substr/length/trim). */
  def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"),
        upper(substring(col("p_name"), 1, 12)).as("name12"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"))
      .orderBy("p_partkey")

  val qStringFuncsOracle: String =
    """SELECT p_partkey, upper(substr(p_name, 1, 12)) AS name12,
      | length(p_name) AS name_len,
      | p_brand || ':' || p_type AS brand_type
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Grouped having: suppliers shipping more than the 90th-percentile item
    * count — HAVING on aggregate with a quantile-free deterministic bound.
    */
  def qHaving(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("total_qty"))
      .filter(col("n_items") >= 100)
      .orderBy("l_suppkey")

  val qHavingOracle: String =
    """SELECT l_suppkey, count(*) AS n_items, round(sum(l_quantity), 2) AS total_qty
      |FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 100
      |ORDER BY l_suppkey""".stripMargin

  /** Cohort retention over the event stream: users grouped by first-seen
    * day, retention measured as distinct users active exactly 1 and 7
    * days later. The classic warehouse funnel metric (the reference's
    * users run exactly this class of SQL through the `sql` job class).
    *
    * Scale shape: one user-keyed aggregate (cohort day), one distinct over
    * (user, day) — both map-side-combining — then a user-keyed equi-join
    * that co-partitions with the cohort aggregate's output (AQE reuses the
    * exchange), and a final day-keyed aggregate over the tiny
    * (users × active-days) surface. No event×event pairing anywhere.
    */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id"), to_date(col("ts")).as("d"))
    val cohort = e.groupBy("user_id").agg(min("d").as("cohort_day"))
    val active = e.distinct()
    active.join(cohort, Seq("user_id"))
      .groupBy("cohort_day")
      .agg(countDistinct("user_id").as("n_users"),
        countDistinct(when(col("d") === date_add(col("cohort_day"), 1),
          col("user_id"))).as("d1_retained"),
        countDistinct(when(col("d") === date_add(col("cohort_day"), 7),
          col("user_id"))).as("d7_retained"))
      // dates serialize engine-specifically (DATE vs TIMESTAMP repr in
      // the hash-compare); format to the canonical string like
      // qEventsHourly does
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("n_users"), col("d1_retained"), col("d7_retained"))
      .orderBy("cohort_day")
  }

  val qRetentionOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |c AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, d FROM e)
      |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
      |  count(DISTINCT a.user_id) AS n_users,
      |  count(DISTINCT CASE WHEN d = cohort_day + 1 THEN a.user_id END) AS d1_retained,
      |  count(DISTINCT CASE WHEN d = cohort_day + 7 THEN a.user_id END) AS d7_retained
      |FROM a JOIN c USING (user_id)
      |GROUP BY cohort_day ORDER BY cohort_day""".stripMargin

  /** Strict ordered conversion funnel with a bounded window: first view →
    * first click within 3 days of it → first purchase within 3 days of
    * that click. Each stage is a user-keyed min-aggregate over the
    * previous stage's survivors, so the funnel is a chain of
    * co-partitioned equi-joins — the planner reuses the user_id exchange
    * across stages, and nothing ever pairs events with events.
    */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select("user_id", "event_type", "ts")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") >= col("t_view") &&
        col("ts") <= col("t_view") + expr("INTERVAL 3 DAYS"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") >= col("t_click") &&
        col("ts") <= col("t_click") + expr("INTERVAL 3 DAYS"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .agg(count("t_view").as("n_view"),
        count("t_click").as("n_click_3d"),
        count("t_purchase").as("n_purchase_3d"))
  }

  val qFunnelOracle: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(ts) AS t_click
      |  FROM events e JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND ts >= t_view
      |    AND ts <= t_view + INTERVAL 3 DAY
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(ts) AS t_purchase
      |  FROM events e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND ts >= t_click
      |    AND ts <= t_click + INTERVAL 3 DAY
      |  GROUP BY e.user_id)
      |SELECT count(t_view) AS n_view, count(t_click) AS n_click_3d,
      |  count(t_purchase) AS n_purchase_3d
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin

  /** Pivot (long → wide): monthly activity value by event type. Spark's
    * `pivot` with an EXPLICIT value list stays a single hash aggregate
    * (one conditional-sum column per pivot value, one shuffle of
    * |months| rows) — without the list Spark first runs a distinct scan
    * to discover values, an extra corpus pass a 100 TB pipeline
    * shouldn't pay when the dictionary is known.
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(month(col("ts")).as("mnth"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum("value"), 2))
      .orderBy("mnth")

  val qPivotOracle: String =
    """SELECT CAST(month(ts) AS INT) AS mnth,
      | round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
      | round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
      | round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
      | round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
      | round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
      |FROM events GROUP BY 1 ORDER BY mnth""".stripMargin

  /** Unpivot (wide → long) via `stack` — the melt side of reshaping, a
    * pure projection (n output rows per input row, no shuffle beyond the
    * feeding aggregate). All measures cast to double so the stacked
    * value column is one type. The avg is computed as exact decimal sum /
    * count so both engines divide the same two numbers.
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "orders").groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("double").as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(30,6)")).cast("double"), 2)
          .as("total_price"),
        round(sum(col("o_totalprice").cast("decimal(30,6)")).cast("double") /
          count(lit(1)), 2).as("avg_price"))
    wide.select(col("o_orderpriority"),
        expr("stack(3, 'n_orders', n_orders, 'total_price', total_price, " +
          "'avg_price', avg_price) AS (metric, value)"))
      .orderBy("o_orderpriority", "metric")
  }

  val qUnpivotOracle: String =
    """WITH wide AS (
      |  SELECT o_orderpriority,
      |    CAST(count(*) AS DOUBLE) AS n_orders,
      |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 2)
      |      AS total_price,
      |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
      |      / count(*), 2) AS avg_price
      |  FROM orders GROUP BY 1)
      |SELECT o_orderpriority, metric, value FROM (
      |  SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM wide
      |  UNION ALL
      |  SELECT o_orderpriority, 'total_price', total_price FROM wide
      |  UNION ALL
      |  SELECT o_orderpriority, 'avg_price', avg_price FROM wide) u
      |ORDER BY o_orderpriority, metric""".stripMargin

  /** Quantile bucketing with `ntile` + `percent_rank`, PARTITIONED BY
    * priority so each window sorts only its group (the global-ORDER
    * variant is a single-partition sort — the one window shape that can
    * never scale; global quantile cuts at 100 TB come from
    * `q_approx_quantiles`' mergeable sketch instead). o_orderkey breaks
    * price ties so both engines rank identically.
    */
  def qNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"))
      .groupBy("o_orderpriority", "quartile")
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("min_price"),
        round(max("o_totalprice"), 2).as("max_price"),
        round(max("pr"), 4).as("max_pr"))
      .orderBy("o_orderpriority", "quartile")
  }

  val qNtileOracle: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    ntile(4) OVER (PARTITION BY o_orderpriority
      |                   ORDER BY o_totalprice, o_orderkey) AS quartile,
      |    percent_rank() OVER (PARTITION BY o_orderpriority
      |                         ORDER BY o_totalprice, o_orderkey) AS pr
      |  FROM orders)
      |SELECT o_orderpriority, quartile, count(*) AS n,
      |  round(min(o_totalprice), 2) AS min_price,
      |  round(max(o_totalprice), 2) AS max_price,
      |  round(max(pr), 4) AS max_pr
      |FROM ranked GROUP BY 1, 2 ORDER BY o_orderpriority, quartile""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_retention", qRetention, Some(qRetentionOracle)),
    QueryDef("q_pivot", qPivot, Some(qPivotOracle)),
    QueryDef("q_unpivot", qUnpivot, Some(qUnpivotOracle)),
    QueryDef("q_ntile", qNtile, Some(qNtileOracle)),
    QueryDef("q_funnel", qFunnel, Some(qFunnelOracle)),
    QueryDef("q1_pricing_summary", q1PricingSummary, Some(q1Oracle)),
    QueryDef("q3_shipping_priority", q3ShippingPriority, Some(q3Oracle)),
    QueryDef("q5_region_revenue", q5RegionRevenue, Some(q5Oracle)),
    QueryDef("q_outer_join_counts", qOuterJoinCounts, Some(qOuterJoinOracle)),
    QueryDef("q_semi_join", qSemiJoin, Some(qSemiJoinOracle)),
    QueryDef("q_anti_join", qAntiJoin, Some(qAntiJoinOracle)),
    QueryDef("q_window_topn", qWindowTopN, Some(qWindowTopNOracle)),
    QueryDef("q_grouped_topk", qGroupedTopK, Some(qGroupedTopKOracle)),
    QueryDef("q_window_running", qWindowRunning, Some(qWindowRunningOracle)),
    QueryDef("q_moving_avg", qMovingAvg, Some(qMovingAvgOracle)),
    QueryDef("q_distinct_agg", qDistinctAgg, Some(qDistinctAggOracle)),
    QueryDef("q_except", qExcept, Some(qExceptOracle)),
    QueryDef("q_intersect", qIntersect, Some(qIntersectOracle)),
    QueryDef("q_case_bucket", qCaseBucket, Some(qCaseBucketOracle)),
    QueryDef("q_rollup", qRollup, Some(qRollupOracle)),
    QueryDef("q_cube", qCube, Some(qCubeOracle)),
    QueryDef("q_grouping_sets", qGroupingSets, Some(qGroupingSetsOracle)),
    QueryDef("q_above_avg", qAboveAvg, Some(qAboveAvgOracle)),
    QueryDef("q_events_hourly", qEventsHourly, Some(qEventsHourlyOracle)),
    QueryDef("q_sliding_window", qSlidingWindow, Some(qSlidingWindowOracle)),
    QueryDef("q_recursive_cte", qRecursiveCte, Some(qRecursiveCteOracle)),
    QueryDef("q_exists_subquery", qExistsSubquery, Some(qExistsSubqueryOracle)),
    QueryDef("q_lateral_join", qLateralJoin, Some(qLateralJoinOracle)),
    QueryDef("q_rate_anomaly", qRateAnomaly, Some(qRateAnomalyOracle)),
    QueryDef("q_seasonal_baseline", qSeasonalBaseline, Some(qSeasonalBaselineOracle)),
    QueryDef("q_path_transitions", qPathTransitions, Some(qPathTransitionsOracle)),
    QueryDef("q_session_window", qSessionWindow, Some(qSessionWindowOracle)),
    QueryDef("q_sessionize", qSessionize, Some(qSessionizeOracle)),
    QueryDef("q_json_extract", qJsonExtract, Some(qJsonExtractOracle)),
    QueryDef("q_string_funcs", qStringFuncs, Some(qStringFuncsOracle)),
    QueryDef("q_having", qHaving, Some(qHavingOracle)),
  )
}
