package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.SparkTestBase
import graft.Tables.t

/** Skew-stress operators: the salted join must be plan-only (same result
  * as the unsalted join) while actually joining on the widened key.
  */
class StressOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("salted join equals the unsalted join per key") {
    val salted = StressOps.qStressSaltedJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fact = t(spark, dir, "events").select(
      expr("CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id % 50 END").as("k"),
      (col("event_id") % 1000).as("measure"))
    val dim = fact.select("k").distinct()
      .withColumn("attr", col("k") + 1L)
    val plain = fact.join(dim, Seq("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"),
        sum(col("measure") * col("attr")).as("weighted"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(salted == plain, "salting changed the join result")
  }

  test("salted join plan keys the exchange on (k, salt), not k alone") {
    val plan = StressOps.qStressSaltedJoin(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected pinned SMJ:\n$plan")
    assert(plan.contains("salt"), s"salt key absent from the plan:\n$plan")
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // the OTHER skew defense (vs manual salting): AQE detects the
    // oversized shuffle partition at stage boundary and splits it into
    // parallel sub-reads. Thresholds are lowered so the toy skew (50% of
    // rows on one key) crosses them; broadcast is disabled so the join
    // stays a shuffle join, the shape AQE skew handling applies to.
    val fact = spark.range(0, 60000).select(
      when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
      col("id").as("v"))
    val dim = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 2).as("w"))
    val joined = GraftBridge.withConf(fact.join(dim, Seq("k")),
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    // execute THIS plan (count() would build a separate QueryExecution
    // and leave this one un-finalized) so AQE finalizes it
    assert(joined.collect().length > 0)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE did not mark the skewed join:\n$plan")
  }

  test("q_stress_aqe_skew gets skew=true on the real hot-key join") {
    // sf0.01: at sf0.001 the whole fact shuffle is a few KB and the skew
    // detector has nothing meaningful to size against
    val df = StressOps.qStressAqeSkew(spark, "/root/testdata/sf0.01")
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"), s"AQE did not mark the hot-key join:\n$plan")
    // the same plan without the split returns the same rows
    val unsplit = GraftBridge.withConf(df, "spark.sql.adaptive.skewJoin.enabled" -> "false")
    assert(unsplit.collect().map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }
}
