package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** Classic warehouse reporting shapes (TPC-H Q2/Q4/Q7/Q9/Q10 flavors,
  * adapted to the driver's reduced star schema — no partsupp table, so
  * part↔supplier relationships come from lineitem, which carries both
  * keys). These exercise the optimizer paths the simpler q1/q3/q5 trio
  * does not: EXISTS with a correlated date predicate (Q4), a 6-relation
  * join with two roles for the same dimension (Q7), join-back to a
  * per-group minimum (Q2), expression-heavy profit rollup (Q9), and
  * group→top-k over a selective quarter (Q10).
  *
  * At 100 TB: every dimension here (part 200k, supplier 10k, nation 25,
  * customer 15M-but-filtered) broadcasts or shuffles far below the fact
  * table; the plans keep lineitem as the probe side throughout, and the
  * aggregates are partial map-side. Decimal accumulation keeps sums
  * exact so min-equality join-backs are deterministic across engines.
  */
object WarehouseOps {

  /** Q4 flavor: orders of 1996Q1 with at least one line shipped more than
    * 30 days after the order date, counted by priority. The EXISTS plans
    * as a left-semi join with the date predicate in the join condition —
    * no correlated re-execution per row.
    */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li,
        ord("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  val q4Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Q7 flavor: shipping volume between two nations, both directions, by
    * year. The nation dimension joins TWICE (supplier side and customer
    * side) — the same-table-two-roles shape that needs distinct attribute
    * ids; both nation joins broadcast (25 rows).
    *
    * The disjunctive pair predicate `(s=N1∧c=N2)∨(s=N2∧c=N1)` cannot be
    * pushed through the joins by Catalyst, but its per-side implication
    * can be derived by hand: the supplier's nation must be IN (N1,N2) and
    * so must the customer's. So both nation arms are pre-filtered to the
    * two nations and joined INTO the supplier/customer dimensions before
    * any fact join — at scale this drops ~23/25 of lineitem at the first
    * (broadcast) join and shrinks the orders↔customer shuffle the same
    * way, instead of routing every 1996-97 line through orders→customer
    * first. The original pair disjunction stays as the residual filter
    * (it only removes the two same-direction combinations at that point).
    */
  def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_2")
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    val n1 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    // dimensions carry their nation name AND the IN-pair restriction
    val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .select("c_custkey", "cust_nation")
    // orders shrink to pair-nation customers before meeting lineitem
    val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      // round the DECIMAL sum (half-away-from-zero in BOTH engines), then
      // cast out: round(double, 2) is tie-unstable across engines at .xx5
      // boundaries, and a decimal DOWNCAST is too (DuckDB casts half-even,
      // Spark half-up) — round-on-decimal is the one shared semantics
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(30,6)")), 2).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7Oracle: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(round(sum(CAST(volume AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |    l_extendedprice * (1 - l_discount) AS volume
      |  FROM lineitem
      |    JOIN supplier ON s_suppkey = l_suppkey
      |    JOIN orders ON o_orderkey = l_orderkey
      |    JOIN customer ON c_custkey = o_custkey
      |    JOIN nation n1 ON n1.n_nationkey = s_nationkey
      |    JOIN nation n2 ON n2.n_nationkey = c_nationkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01'
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Q2 flavor (no partsupp): for each ECONOMY size-5 part, the
    * supplier(s) with the LOWEST total sales value for that part in
    * lineitem, with supplier details. Decimal sums keep the per-group
    * minimum exact, so the join-back equality is engine-independent.
    * The plan: one keyed aggregate over the (selective) part subset, a
    * per-part min, and an equality join-back — no correlated subquery
    * re-execution, no window over the full fact table.
    */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part")
      .filter(col("p_type") === "ECONOMY" && col("p_size") === 5)
      .select("p_partkey", "p_brand")
    val li = t(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    val perSupp = li.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("p_partkey", "p_brand", "l_suppkey")
      .agg(sum(col("l_extendedprice").cast("decimal(30,6)")).as("supp_value"))
    val minPer = perSupp.groupBy(col("p_partkey").as("mk"))
      .agg(min("supp_value").as("min_value"))
    val sup = t(s, dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    perSupp
      .join(minPer, col("p_partkey") === col("mk") &&
        col("supp_value") === col("min_value"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"),
        round(col("supp_value").cast("double"), 2).as("supp_value"),
        round(col("s_acctbal"), 2).as("s_acctbal"))
      .orderBy("p_partkey", "s_name")
  }

  val q2Oracle: String =
    """WITH per_supp AS (
      |  SELECT p_partkey, p_brand, l_suppkey,
      |         sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS supp_value
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_type = 'ECONOMY' AND p_size = 5
      |  GROUP BY p_partkey, p_brand, l_suppkey),
      |min_per AS (
      |  SELECT p_partkey AS mk, min(supp_value) AS min_value
      |  FROM per_supp GROUP BY p_partkey)
      |SELECT p_partkey, p_brand, s_name,
      |  round(CAST(supp_value AS DOUBLE), 2) AS supp_value,
      |  round(s_acctbal, 2) AS s_acctbal
      |FROM per_supp
      |  JOIN min_per ON p_partkey = mk AND supp_value = min_value
      |  JOIN supplier ON s_suppkey = l_suppkey
      |ORDER BY p_partkey, s_name""".stripMargin

  /** Q9 flavor: per-nation per-year "profit" (revenue minus a retail-cost
    * proxy, since there is no ps_supplycost) over ECONOMY parts. The
    * expression-heavy amount stays inside whole-stage codegen; part and
    * supplier broadcast against the lineitem probe.
    */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_shipdate",
        "l_quantity", "l_extendedprice", "l_discount")
    val parts = t(s, dir, "part")
      .filter(col("p_type") === "ECONOMY")
      .select("p_partkey", "p_retailprice")
    val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    li.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).cast("long").as("o_year"))
      .agg(round(sum(
        (col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("p_retailprice") * col("l_quantity") * lit(0.1))
          .cast("decimal(30,6)")), 2).cast("double").as("profit"))
      .orderBy("nation", "o_year")
  }

  val q9Oracle: String =
    """SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
      |  CAST(round(sum(CAST(
      |    l_extendedprice * (1 - l_discount)
      |      - p_retailprice * l_quantity * 0.1 AS DECIMAL(30,6))), 2) AS DOUBLE) AS profit
      |FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON n_nationkey = s_nationkey
      |WHERE p_type = 'ECONOMY'
      |GROUP BY n_name, o_year
      |ORDER BY n_name, o_year""".stripMargin

  /** Q10 flavor: top-20 customers by revenue lost to returned items over
    * one quarter. Selective order-date filter first, returnflag filter on
    * the fact side, customer/nation broadcast, then agg → TakeOrdered 20
    * (ties broken by custkey for a total order).
    */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val cust = t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name", "c_mktsegment")
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(30,6)")), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment,
      |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_mktsegment
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q2_min_cost_supplier", q2MinCostSupplier, Some(q2Oracle)),
    QueryDef("q4_order_priority", q4OrderPriority, Some(q4Oracle)),
    QueryDef("q7_nation_volume", q7NationVolume, Some(q7Oracle)),
    QueryDef("q9_product_profit", q9ProductProfit, Some(q9Oracle)),
    QueryDef("q10_returned_items", q10ReturnedItems, Some(q10Oracle)),
  )
}
