package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Scale-planning operators: exactness of the bucketed grid join against
  * brute force, HRW movement bounds, skew-forecast conservation, the
  * runtime bloom filter's presence in the executed plan, and JL distance
  * concentration.
  */
class ScaleOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("grid join matches the brute-force pair set and never cross-joins") {
    val df = ScaleOps.qGridJoin(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"grid join went quadratic:\n$plan")
    // brute force over the same synthesized points (500 at sf0.001)
    val p = graft.Tables.t(spark, dir, "events")
      .filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("id"),
        expr("(event_id * 2654435761 % 4294967296 % 67108864)" +
          " * (event_id * 2654435761 % 4294967296 % 67108864) DIV 1024 % 100000").as("xi"),
        expr("(event_id * 2246822519 % 4294967296 % 67108864)" +
          " * (event_id * 2246822519 % 4294967296 % 67108864) DIV 1024 % 100000").as("yi"))
    val a = p.select(col("id").as("ia"), col("xi").as("xa"), col("yi").as("ya"))
    val brute = a.crossJoin(p)
      .filter(col("ia") < col("id"))
      .withColumn("d2", expr("(xa-xi)*(xa-xi) + (ya-yi)*(ya-yi)"))
      .filter(col("d2") < 300L * 300L)
      .groupBy(expr("d2 * 4 DIV 90000").as("band"))
      .agg(count(lit(1)).as("n_pairs"), sum("d2").cast("long").as("sum_d2"),
        min("d2").as("min_d2"), max("d2").as("max_d2"))
      .orderBy("band")
      .collect().map(_.toSeq).toSeq
    val got = df.collect()
    assert(got.map(_.toSeq).toSeq == brute)
    // guard against degenerate point synthesis: an empty pair set would
    // make this test pass vacuously (it did, before the middle-square fix)
    assert(got.map(_.getAs[Long]("n_pairs")).sum > 0, "no pairs at sf0.001")
  }

  test("grid kNN ranks through the bounded aggregator with contiguous ranks") {
    val df = ScaleOps.qGridKnn(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"kNN ranking fell back to a window:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (a, rs) =>
      assert(rs.length <= 3, s"probe $a has ${rs.length} neighbors")
      val byRk = rs.sortBy(_.getLong(1))
      assert(byRk.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq)
      val d2s = byRk.map(_.getLong(3))
      assert(d2s.zip(d2s.tail).forall { case (x, y) => x <= y },
        s"probe $a distances not ascending: ${d2s.toSeq}")
    }
  }

  test("rendezvous resharding moves ~1/9 of docs; mod-N moves most") {
    val r = ScaleOps.qConsistentShards(spark, dir).head()
    val n = r.getAs[Long]("n_docs")
    val hrw = r.getAs[Long]("hrw_moved")
    val mod = r.getAs[Long]("mod_moved")
    assert(n == 500)
    // expectation n/9 ~ 56; allow generous concentration bounds
    assert(hrw > 0 && hrw < n / 4, s"hrw moved $hrw of $n")
    assert(mod > n / 2, s"mod-N moved only $mod of $n")
    assert(r.getAs[Long]("n_shards_used") == 9)
  }

  test("skew planner conserves totals across the partition forecast") {
    val rows = ScaleOps.qSkewPlanner(spark, dir).collect()
    val ev = graft.Tables.t(spark, dir, "events")
    assert(rows.map(_.getAs[Long]("n_events")).sum == ev.count())
    assert(rows.map(_.getAs[Long]("n_keys")).sum ==
      ev.select("user_id").distinct().count())
    // every key's max is bounded by its partition's total
    rows.foreach(r => assert(r.getAs[Long]("max_key") <= r.getAs[Long]("n_events")))
  }

  test("runtime bloom filter lands in the lineitem scan and preserves results") {
    val df = ScaleOps.qRuntimeFilter(spark, dir)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // BloomFilterMightContain prints as `might_contain`; the creation
    // side shows up as the `bloom_filter_agg` subquery it reads
    assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
      s"no runtime bloom filter in plan:\n$plan")
    // the same plan without the filter returns the same rows
    val plain = GraftBridge.withConf(df,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false")
    assert(plain.collect().map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
    assert(!plain.queryExecution.executedPlan.toString.contains("might_contain"))
  }

  test("CBO reorders the worst-order join using ANALYZE stats") {
    val on = ScaleOps.qCboReorder(spark, dir)
    val onRows = on.collect().map(_.toSeq).toSeq
    assert(on.queryExecution.executedPlan.toString.contains("Join"),
      s"no join executed:\n${on.queryExecution.executedPlan}")
    val off = GraftBridge.withConf(on,
      "spark.sql.cbo.enabled" -> "false", "spark.sql.cbo.joinReorder.enabled" -> "false")
    val onPlan = on.queryExecution.optimizedPlan.toString
    val offPlan = off.queryExecution.optimizedPlan.toString
    // stats exist and the optimizer used them to change the join tree
    assert(onPlan != offPlan,
      s"CBO did not reorder the join:\nON:\n$onPlan\nOFF:\n$offPlan")
    assert(off.collect().map(_.toSeq).toSeq == onRows, "reordering changed results")
    // ANALYZE attached row counts the reorder can cost with
    val rowCounts = on.queryExecution.optimizedPlan.collectLeaves().map {
      case r: LogicalRelation => r.catalogTable.flatMap(_.stats).flatMap(_.rowCount)
      case _ => None
    }
    assert(rowCounts.length == 3 && rowCounts.forall(_.nonEmpty),
      s"missing rowCount stats: $rowCounts")
  }

  test("scoped queries leave the caller's confs unchanged") {
    val queries = Seq[(SparkSession, String) => DataFrame](
      ScaleOps.qRuntimeFilter, ScaleOps.qCboReorder, StressOps.qStressAqeSkew,
      StreamOps.qStreamTokenBudget)
    def buildRunExplain(q: (SparkSession, String) => DataFrame): Unit = {
      val df = q(spark, dir)
      df.collect()
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    }
    // no key may change, on the first build or later
    val start = spark.conf.getAll
    (queries ++ queries).foreach { q =>
      buildRunExplain(q)
      assert(spark.conf.getAll == start)
    }
  }

  test("JL projection concentrates distance ratios near 1") {
    val rows = ScaleOps.qJlProjection(spark, dir).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs") == 497)
      // one SHARED matrix across all pairs: the per-probe mean ratio
      // itself fluctuates ~1/sqrt(k), so the bound is loose by design
      // (seeded random matrices land in [0.88, 1.45] on this data)
      val avg = r.getAs[Double]("avg_ratio")
      assert(avg > 0.5 && avg < 1.7, s"avg distortion off: $avg")
      assert(r.getAs[Double]("min_ratio") > 0.0)
    }
  }
}
