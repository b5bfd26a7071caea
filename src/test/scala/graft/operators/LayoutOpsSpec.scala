package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Layout operators: the plan-shape claims (no exchange on bucketed join
  * keys; partition filters on the pruned scan) verified against the real
  * executed plans, plus result sanity.
  */
class LayoutOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("bucketed join runs without exchanging either side on the join key") {
    val df = LayoutOps.qBucketedJoin(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"lineitem side re-shuffled despite bucketing:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"orders side re-shuffled despite bucketing:\n$plan")
    val rows = df.collect()
    assert(rows.length == 5) // the 5 TPC-H order priorities
    assert(rows.map(_.getLong(1)).sum > 0)
  }

  test("partition-pruned scan reads only the selected day partition") {
    val df = LayoutOps.qPartitionPrune(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition filters:\n$plan")
    assert(plan.contains("(day#") || plan.contains("day = "),
      s"day filter not pushed to partition level:\n$plan")
    // the day filter must NOT appear as a post-scan Filter on data rows
    assert(!plan.contains("PushedFilters: [IsNotNull(day)"),
      s"day treated as a data column, not a partition column:\n$plan")
    assert(df.collect().nonEmpty)
  }

  test("dpp join prunes fact partitions through the dim broadcast") {
    val df = LayoutOps.qDppJoin(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the fact scan's partition filter must be the DYNAMIC subquery fed
    // by the dim join — not a static literal, not a post-scan filter
    assert(plan.contains("dynamicpruning"),
      s"no dynamic pruning subquery in fact scan:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // cross-check against a direct (unpartitioned) computation
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.t(spark, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val firstDays = ev.select("day").distinct().orderBy("day")
      .limit(3).collect().map(_.getString(0)).toSet
    val expected = ev.filter(col("day").isInCollection(firstDays))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val got = rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == expected.toSeq)
  }

  test("compaction derives its file count from bytes, content intact") {
    import java.nio.file.{Files, Path}
    // the operator's scratch layouts live under the run's TempDirs root
    def scratch(prefix: String, d: String): Path = graft.core.TempDirs.keyed(prefix, d)
    def parts(prefix: String, d: String): Long =
      Files.list(scratch(prefix, d)).filter(_.toString.endsWith(".parquet")).count()
    def smallBytes(d: String): Long =
      LayoutOps.dataBytes(spark, scratch("graft_smallfiles", d).toString)
    // at the default 128 MB target a toy table compacts to exactly 1 file
    val rows = LayoutOps.qCompaction(spark, dir).collect()
    assert(parts("graft_smallfiles", dir) >= 32, "fragmented layout not created")
    assert(parts("graft_compacted", dir) == 1,
      "toy input under one 128 MB target must compact to a single file")
    val total = rows.map(_.getLong(1)).sum
    assert(total == graft.Tables.t(spark, dir, "documents").count())
    // with a small target the derived count scales with input bytes: run
    // the same op at two SFs and check ceil(bytes/target) lands on disk
    val target = 64L * 1024
    Seq(dir, "/root/testdata/sf0.1").foreach { d =>
      LayoutOps.compaction(spark, d, target).collect()
      val expected = LayoutOps.compactionFileCount(smallBytes(d), target)
      assert(parts("graft_compacted", d) == expected,
        s"$d: expected $expected derived files")
    }
    assert(smallBytes("/root/testdata/sf0.1") > smallBytes(dir),
      "sf0.1 input must be larger for the scaling check to mean anything")
  }

  test("compactionFileCount is ceil(bytes/target) floored at one") {
    assert(LayoutOps.compactionFileCount(0L, 128L << 20) == 1)
    assert(LayoutOps.compactionFileCount(1L, 128L << 20) == 1)
    assert(LayoutOps.compactionFileCount(128L << 20, 128L << 20) == 1)
    assert(LayoutOps.compactionFileCount((128L << 20) + 1, 128L << 20) == 2)
    assert(LayoutOps.compactionFileCount(100L << 30, 128L << 20) == 800)
  }

  test("z-order files bound BOTH dimensions' extents, not just the leading one") {
    import org.apache.spark.sql.functions.{max => smax, min => smin, col}
    val rows = LayoutOps.qZorderLayout(spark, dir).collect()
    val li = graft.Tables.t(spark, dir, "lineitem")
    val b = li.agg(smin(col("l_partkey")), smax(col("l_partkey")),
      smin(col("l_suppkey")), smax(col("l_suppkey"))).head()
    val (xRange, yRange) = (b.getLong(1) - b.getLong(0) + 1, b.getLong(3) - b.getLong(2) + 1)
    assert(rows.map(_.getLong(1)).sum == li.count(), "files must cover all rows")
    // a 2048-value z-range fixes the top 3 x-bits and top 2 y-bits, so a
    // file's extent is at most 1/8 (x) / 1/4 (y) of the global range plus
    // one bucket width of rounding slack
    val xBound = xRange / 8 + xRange / 256 + 2
    val yBound = yRange / 4 + yRange / 256 + 2
    rows.foreach { r =>
      val (xe, ye) = (r.getLong(3) - r.getLong(2) + 1, r.getLong(5) - r.getLong(4) + 1)
      assert(xe <= xBound, s"file ${r.getLong(0)}: x extent $xe > $xBound")
      assert(ye <= yBound, s"file ${r.getLong(0)}: y extent $ye > $yBound")
    }
  }

  test("schema evolution null-fills legacy rows and loses nothing") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.t(spark, dir, "documents")
    val rows = LayoutOps.qSchemaEvolution(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == d.count(), "row count must survive evolution")
    val legacy = d.filter(col("doc_id") % 2 === 0).count()
    assert(rows.map(_.getLong(2)).sum == legacy,
      "every pre-evolution row must surface with NULL source")
    rows.foreach { r =>
      assert(r.getLong(3) >= 1, s"${r.getString(0)}: evolved rows lost their source")
    }
  }
}
