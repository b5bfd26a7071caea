package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** As-of join — the classic operator Spark SQL lacks natively, composed
  * Spark-first: UNION the two sides tagged, then one window pass per key
  * ordered by event time carries the latest right-side value forward
  * (`last(..., ignoreNulls)` over unbounded-preceding rows). ONE shuffle
  * keyed on the join key, no join node, no range explosion — at 100 TB
  * this beats binned range-joins (no bin-width tuning, no duplicate
  * candidate pairs); it is the standard quotes/trades shape.
  */
object AsOfJoin {

  /** For each row of `left`, attach (as `outCol`) the id of the latest
    * `right` row with `right.ts <= left.ts` within the same `key`, or null
    * if none precedes it. Ties at equal ts match the right row first (a
    * left row at ts sees a right row at the same ts); equal-ts right rows
    * resolve to the largest `rightId` for determinism.
    */
  def asOf(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightId: String, outCol: String): DataFrame = {
    val l = left
      .withColumn("__is_r", lit(0))
      .withColumn("__rid", lit(null).cast("long"))
    val r = left.columns.filterNot(c => c == key || c == ts)
      .foldLeft(right.select(col(key), col(ts), col(rightId).cast("long").as("__rid"))
        .withColumn("__is_r", lit(1))) { (df, c) =>
        df.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
    val w = Window.partitionBy(key)
      .orderBy(col(ts).asc, col("__is_r").desc, col("__rid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r.select(l.columns.map(col): _*))
      .withColumn(outCol, last("__rid", ignoreNulls = true).over(w))
      .filter(col("__is_r") === 0)
      .drop("__is_r", "__rid")
  }

  /** For each purchase, the latest view by the same user at or before the
    * purchase time; per-user match statistics.
    */
  def qAsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    asOf(purchases, views, "user_id", "ts", "event_id", "matched_view")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("matched_view").isNotNull, 1).otherwise(0)).cast("long").as("n_matched"),
        max("matched_view").as("last_matched_view"))
      .orderBy("user_id")
  }

  /** Same union+window formulation in DuckDB (portable; avoids native
    * ASOF JOIN tie-semantics differences).
    */
  val qAsOfJoinOracle: String =
    """WITH tagged AS (
      |  SELECT user_id, ts, 0 AS is_v, CAST(NULL AS BIGINT) AS vid
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 1 AS is_v, event_id AS vid
      |  FROM events WHERE event_type = 'view'),
      |matched AS (
      |  SELECT user_id, is_v,
      |    last_value(vid IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts ASC, is_v DESC, vid ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_view
      |  FROM tagged)
      |SELECT user_id, count(*) AS n_purchases,
      |  CAST(sum(CASE WHEN matched_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |  max(matched_view) AS last_matched_view
      |FROM matched WHERE is_v = 0
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** [[asOf]] as the custom physical operator
    * [[graft.plans.AsOfJoinExec]] — same contract, same tie rules (see
    * the node's doc for why the separate-sides merge beats the
    * union+window composition at scale). Its planner strategy comes with
    * `GraftExtensions`, which the session factory installs.
    *
    * Left columns pass through unchanged; `outCol` carries the matched
    * right id (null when no right row precedes). Key and `rightId` must
    * be long, `ts` timestamp or long.
    */
  def asOfNative(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightId: String, outCol: String): DataFrame = {
    import graft.plans.AsOfJoinNode
    val spark = left.sparkSession
    // fresh aliases on the right side mint new exprIds, so a self-join
    // (both sides carved from the same table — exactly this query) can
    // never present one attribute id from two children
    val r = right.select(col(key).as("__r_key"), col(ts).as("__r_ts"),
      col(rightId).cast("long").as("__r_id"))
    val lp = left.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).getOrElse(
      sys.error(s"as-of column $n missing from ${p.output.map(_.name)}"))
    val outAttr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      outCol, org.apache.spark.sql.types.LongType, nullable = true)()
    org.apache.spark.sql.graftbridge.GraftBridge.ofRows(spark,
      AsOfJoinNode(lp, rp, attr(lp, key), attr(lp, ts),
        attr(rp, "__r_key"), attr(rp, "__r_ts"), attr(rp, "__r_id"), outAttr))
  }

  /** [[qAsOfJoin]] computed through the custom operator — same DuckDB
    * oracle, so the correctness gate proves the physical operator, not
    * just the composition, end-to-end.
    */
  def qAsOfNative(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    asOfNative(purchases, views, "user_id", "ts", "event_id", "matched_view")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("matched_view").isNotNull, 1).otherwise(0)).cast("long").as("n_matched"),
        max("matched_view").as("last_matched_view"))
      .orderBy("user_id")
  }

  /** Range (interval) join — the other temporal join Spark SQL has no
    * native operator for: a raw `ON v.ts BETWEEN p.ts AND p.ts + 1h`
    * condition plans as BroadcastNestedLoopJoin (all-pairs per key — the
    * scale killer). Composed Spark-first via CELL BUCKETING instead: both
    * sides floor their time to fixed cells the width of the interval, the
    * interval side explodes to the (≤2) cells it overlaps, and pairs meet
    * in an EQUI-join on (user_id, cell) with the exact range predicate as
    * a post-filter. Each (purchase, view) pair meets at exactly one cell
    * (the view's), so no dedup pass is needed. Shuffle is key-equality
    * only; interval replication is bounded by ceil(width/cell)+1 = 2.
    *
    * The query: attribution — for every purchase, how many views by the
    * same user landed in the hour starting at the purchase.
    */
  /** The cell-bucketed pair kernel: count, per interval row
    * `(interval_id, key, start_us)` with width `widthUs`, the points
    * `(key, point_us)` falling in `[start_us, start_us + widthUs)`.
    * The interval overlaps its start cell and (unless aligned) the next
    * one; a point lives in exactly one cell, so each (interval, point)
    * pair meets at exactly one join key — no dedup pass.
    */
  private[graft] def rangeJoinCounts(intervals: DataFrame, points: DataFrame,
      widthUs: Long): DataFrame = {
    val iCells = intervals.withColumn("cell",
      explode(array_distinct(array(
        floor(col("start_us") / widthUs),
        floor((col("start_us") + widthUs - 1) / widthUs)))))
    val pCells = points.withColumn("cell", floor(col("point_us") / widthUs))
    pCells.join(iCells, Seq("key", "cell"))
      .filter(col("point_us") >= col("start_us") &&
        col("point_us") < col("start_us") + widthUs)
      .groupBy("interval_id").agg(count(lit(1)).as("n_points"))
  }

  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600L * 1000000L
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"))
    val matched = rangeJoinCounts(
      purchases.select(col("purchase_id").as("interval_id"),
        col("user_id").as("key"), unix_micros(col("p_ts")).as("start_us")),
      views.select(col("user_id").as("key"), unix_micros(col("v_ts")).as("point_us")),
      HourUs)
    purchases.join(
        matched.select(col("interval_id").as("purchase_id"),
          col("n_points").as("n_views_1h")),
        Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("n_views_1h"), lit(0L)).as("n_views_1h"))
      .orderBy("purchase_id")
  }

  /** DuckDB states the range join directly (its optimizer handles the
    * small scale); the cell decomposition is provably pair-preserving, so
    * the outputs hash-match.
    */
  val qRangeJoinOracle: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |  CAST(coalesce(c.cnt, 0) AS BIGINT) AS n_views_1h
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (
      |  SELECT p2.event_id, count(*) AS cnt
      |  FROM events p2 JOIN events v
      |    ON v.user_id = p2.user_id AND p2.event_type = 'purchase'
      |   AND v.event_type = 'view'
      |   AND v.ts >= p2.ts AND v.ts < p2.ts + INTERVAL 1 HOUR
      |  GROUP BY p2.event_id) c ON c.event_id = p.event_id
      |ORDER BY purchase_id""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_asof_join", qAsOfJoin, Some(qAsOfJoinOracle)),
    QueryDef("q_asof_native", qAsOfNative, Some(qAsOfJoinOracle)),
    QueryDef("q_range_join", qRangeJoin, Some(qRangeJoinOracle)),
  )
}
