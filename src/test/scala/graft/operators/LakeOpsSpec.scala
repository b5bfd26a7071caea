package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.Tables.t

/** Incremental-maintenance operators: MERGE row accounting, CDC
  * latest-version semantics vs the window formulation, and the bloom
  * prefilter's exactness + plan split.
  */
class LakeOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("merge upsert preserves row accounting: target - deletes + inserts") {
    val o = t(spark, dir, "orders")
    val target = o.count()
    val deletes = o.filter(col("o_orderkey") % 21 === 1).count()
    val inserts = o.filter(col("o_orderkey") % 21 === 2).count()
    val merged = LakeOps.qMergeUpsert(spark, dir).collect()
    assert(merged.map(_.getLong(1)).sum == target - deletes + inserts)
  }

  test("merge upsert shifts total price by exactly +100 per updated row") {
    val o = t(spark, dir, "orders")
    val updates = o.filter(col("o_orderkey") % 21 === 0)
    val nUpd = updates.count()
    // unmerged total over (kept + updated-at-old-price + inserted copies)
    val baseTotal = o.filter(col("o_orderkey") % 21 =!= 1)
      .agg(sum(col("o_totalprice").cast("decimal(30,6)"))).collect()(0)
      .getDecimal(0).doubleValue() +
      o.filter(col("o_orderkey") % 21 === 2)
        .agg(sum(col("o_totalprice").cast("decimal(30,6)"))).collect()(0)
        .getDecimal(0).doubleValue()
    val mergedTotal = LakeOps.qMergeUpsert(spark, dir).collect()
      .map(_.getDouble(2)).sum
    assert(math.abs(mergedTotal - (baseTotal + 100.0 * nUpd)) < 0.5,
      s"merged $mergedTotal vs expected ${baseTotal + 100.0 * nUpd}")
  }

  test("merge plan is one full-outer sort-merge join, no extra joins") {
    val plan = LakeOps.qMergeUpsert(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin FullOuter") ||
      plan.contains("FullOuter, SortMergeJoin") ||
      (plan.contains("SortMergeJoin") && plan.contains("FullOuter")),
      s"expected one full-outer SMJ:\n$plan")
    assert("SortMergeJoin".r.findAllIn(plan).length == 1,
      s"MERGE must be exactly one join:\n$plan")
  }

  test("cdc latest compacts versions map-side before the exchange") {
    val plan = LakeOps.qCdcLatest(spark, dir)
      .queryExecution.executedPlan.toString
    // a partial aggregate (max struct) must appear below the user_id
    // exchange — the shape that ships one row per key per partition
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(user_id")
    assert(exchangeIdx >= 0, s"no user_id exchange:\n$plan")
    val below = plan.substring(exchangeIdx)
    assert(below.contains("partial_max") || below.contains("partial"),
      s"no partial aggregate below the exchange:\n$plan")
    assert(!plan.contains("Window"), s"window formulation crept in:\n$plan")
  }

  test("cdc latest matches the row_number window formulation") {
    val viaStruct = LakeOps.qCdcLatest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val viaWindow = graft.Tables.sql(spark, dir,
      """SELECT user_id, n_versions, event_type FROM (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_versions
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(viaStruct == viaWindow)
  }

  test("snapshot diff classes partition the key universe of both versions") {
    val rows = LakeOps.qSnapshotDiff(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val o = t(spark, dir, "orders")
    val total = o.count()
    val ins = o.filter(col("o_orderkey") % 21 === 2).count()
    val del = o.filter(col("o_orderkey") % 21 === 1).count()
    val upd = o.filter(col("o_orderkey") % 21 === 0).count()
    assert(rows.getOrElse("inserted", 0L) == ins)
    assert(rows.getOrElse("deleted", 0L) == del)
    assert(rows.getOrElse("updated", 0L) == upd)
    assert(rows.getOrElse("unchanged", 0L) == total - del - upd)
  }

  test("dq checks report zero violations on the clean testdata") {
    val rows = LakeOps.qDqChecks(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("pk_unique_orderkey", "fk_lineitem_orders",
      "range_quantity_1_50", "positive_totalprice"))
    assert(rows.values.forall(_ == 0L), s"unexpected violations: $rows")
  }

  test("scd2 intervals: one open version per key, non-negative durations") {
    val rows = LakeOps.qScd2Intervals(spark, dir).collect()
    val byUser = rows.groupBy(_.getLong(0))
    val users = t(spark, dir, "events").select("user_id").distinct().count()
    assert(byUser.size == users)
    byUser.foreach { case (u, g) =>
      assert(g.count(_.getBoolean(3)) == 1, s"user $u: != 1 current version")
      g.filter(!_.getBoolean(3)).foreach(r =>
        assert(r.getLong(2) >= 0, s"user $u: negative validity duration"))
      g.filter(_.getBoolean(3)).foreach(r =>
        assert(r.getLong(2) == -1L, s"user $u: open interval has a duration"))
    }
  }

  test("bloom dedup equals the plain anti-join and its plan splits the batch") {
    val viaBloom = LakeOps.qBloomDedup(spark, dir).collect().map(_.getLong(0)).toSeq
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("digest"))
    val exact = d.filter(col("doc_id") % 2 =!= 0)
      .join(d.filter(col("doc_id") % 2 === 0).select("digest"),
        Seq("digest"), "left_anti")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(viaBloom == exact, "bloom path changed the dedup result")
    // the prefilter must actually partition the plan: one exact anti-join
    // (over may-match rows only) unioned with a joinless provably-new leg
    val plan = LakeOps.qBloomDedup(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"no exact anti-join leg:\n$plan")
    assert(plan.contains("Union"), s"no provably-new fast path:\n$plan")
  }

  test("time travel replays versions consistently with the change classes") {
    import org.apache.spark.sql.functions.col
    val rows = LakeOps.qTimeTravel(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L))
    val o = graft.Tables.t(spark, dir, "orders")
    val n = o.count()
    val nUpd = o.filter(col("o_orderkey") % 21 === 0).count()
    val nDel = o.filter(col("o_orderkey") % 21 === 2).count()
    val nIns = o.filter(col("o_orderkey") % 21 === 3).count()
    assert(rows(0L)._1 == n, "v0 must be the base snapshot")
    assert(rows(1L)._1 == n, "v1 only updates — row count unchanged")
    assert(rows(1L)._2 == rows(0L)._2 + nUpd * 10000L,
      "v1 total must grow by exactly +100.00 per updated row")
    assert(rows(2L)._1 == n - nDel + nIns,
      "v2 row count must reflect deletes and inserts")
  }

  test("delta agg: merged partials equal the one-shot aggregate") {
    val merged = LakeOps.qDeltaAgg(spark, dir).collect().map(_.toSeq).toSeq
    val oneShot = t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice").cast("decimal(30,6)")).cast("double"), 2).as("total"),
        min("o_totalprice").as("min_price"), max("o_totalprice").as("max_price"),
        round(sum(col("o_totalprice").cast("decimal(30,6)")).cast("double") /
          count(lit(1)), 4).as("avg4"))
      .orderBy("o_orderpriority").collect().map(_.toSeq).toSeq
    assert(merged == oneShot, "partial-merge must equal full recompute")
  }

  test("delete propagation cascades the full FK chain, nothing more") {
    val rows = LakeOps.qDeletePropagation(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("customer", "orders", "lineitem"))
    rows.values.foreach { case (before, deleted, after) =>
      assert(after == before - deleted && deleted >= 0)
    }
    // recompute the cascade independently and compare the deleted counts
    val forget = t(spark, dir, "customer")
      .filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    assert(rows("customer")._2 == forget.count())
    val deadOrders = t(spark, dir, "orders")
      .join(forget, col("o_custkey") === col("c_custkey"), "left_semi")
    assert(rows("orders")._2 == deadOrders.count())
    val deadLi = t(spark, dir, "lineitem")
      .join(deadOrders.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
    assert(rows("lineitem")._2 == deadLi.count())
  }
}
