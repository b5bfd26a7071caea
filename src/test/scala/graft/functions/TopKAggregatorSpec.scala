package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** TopKAggregator must agree with the window row_number formulation
  * (including tie-breaks) while keeping only k elements per buffer.
  */
class TopKAggregatorSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("reduce/merge is split-invariant: any partitioning yields the global top-k") {
    // Spark may split a group's rows across partitions arbitrarily and
    // merge partials in any tree shape — the aggregator's answer must not
    // depend on it. Pure driver-side check over randomized splits.
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { trial =>
      val k = 1 + rnd.nextInt(5)
      val agg = new TopKAggregator(k)
      val n = rnd.nextInt(40)
      val data = Vector.fill(n)((rnd.nextInt(8).toDouble, rnd.nextInt(20).toLong))
      val expected = data.sortBy { case (s, id) => (-s, id) }.take(k)
      // random number of chunks, each reduced independently, merged in a
      // random fold order (left/right alternating by coin flip)
      val chunks = if (n == 0) Vector(Vector.empty[(Double, Long)])
        else data.grouped(1 + rnd.nextInt(n)).toVector
      val partials = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = partials.reduceLeft { (a, b) =>
        if (rnd.nextBoolean()) agg.merge(a, b) else agg.merge(b, a)
      }
      assert(agg.finish(merged) == expected,
        s"trial $trial (k=$k, n=$n): ${agg.finish(merged)} != $expected")
    }
  }

  test("q_grouped_topk plans as an aggregate, not a window sort") {
    val plan = graft.operators.Relational
      .qGroupedTopK(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), "expected the bounded aggregator")
    assert(!plan.contains("Window"), "grouped top-k must not plan a window")
  }

  test("per-group top-3 matches window row_number, ties break to smaller id") {
    import spark.implicits._
    val rows = (1 to 500).map { i =>
      (s"g${i % 7}", (i % 13).toDouble, i.toLong) // deliberate score ties
    }
    val df = rows.toDF("grp", "val", "key")

    val expected = df
      .withColumn("rk", row_number().over(
        Window.partitionBy("grp").orderBy(desc("val"), col("key"))))
      .filter(col("rk") <= 3)
      .select("grp", "rk", "val", "key")
      .as[(String, Int, Double, Long)].collect().toSet

    val got = TopKAggregator.ranked(df, Seq("grp"), 3, col("val"), col("key"))
      .select("grp", "rk", "score", "id")
      .as[(String, Int, Double, Long)].collect().toSet

    assert(got == expected)
  }

  test("ranked: rk is 1-based in order, score ties go to the smaller id") {
    import spark.implicits._
    val df = Seq(("a", 1.0, 5L), ("a", 2.0, 9L), ("a", 2.0, 3L), ("a", 0.5, 1L),
      ("b", 7.0, 4L), ("b", 7.0, 2L)).toDF("grp", "val", "key")
    val got = TopKAggregator.ranked(df, Seq("grp"), 3, col("val"), col("key"))
      .orderBy("grp", "rk").as[(String, Int, Double, Long)].collect().toSeq
    assert(got == Seq(("a", 1, 2.0, 3L), ("a", 2, 2.0, 9L), ("a", 3, 1.0, 5L),
      ("b", 1, 7.0, 2L), ("b", 2, 7.0, 4L)))
  }

  test("MinKAggregator.ranked: rk is 1-based ascending, key ties go to the smaller id") {
    import spark.implicits._
    val df = Seq(("a", "m", 5L), ("a", "c", 9L), ("a", "c", 3L), ("a", "z", 1L),
      ("b", "q", 4L), ("b", "q", 2L)).toDF("grp", "pri", "key")
    val got = MinKAggregator.ranked(df, Seq("grp"), 3, col("pri"), col("key"))
      .orderBy("grp", "rk").as[(String, Int, String, Long)].collect().toSeq
    assert(got == Seq(("a", 1, "c", 3L), ("a", 2, "c", 9L), ("a", 3, "m", 5L),
      ("b", 1, "q", 2L), ("b", 2, "q", 4L)))
  }

  test("reduce keeps the buffer bounded at k") {
    val agg = new TopKAggregator(2)
    val buf = (1 to 100).foldLeft(agg.zero)((b, i) => agg.reduce(b, (i.toDouble, i.toLong)))
    assert(buf == Seq((100.0, 100L), (99.0, 99L)))
    assert(agg.merge(buf, Seq((150.0, 1L))) == Seq((150.0, 1L), (100.0, 100L)))
  }

  test("MinKAggregator is split-invariant and matches ascending window rank") {
    val rnd = new scala.util.Random(11)
    (1 to 100).foreach { trial =>
      val k = 1 + rnd.nextInt(5)
      val agg = new MinKAggregator(k)
      val n = rnd.nextInt(40)
      // short random hex keys with deliberate collisions for tie coverage
      val data = Vector.fill(n)(
        (Integer.toHexString(rnd.nextInt(16)), rnd.nextInt(20).toLong))
      val expected = data.sorted.take(k)
      val chunks = if (n == 0) Vector(Vector.empty[(String, Long)])
        else data.grouped(1 + rnd.nextInt(n)).toVector
      val partials = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = partials.reduceLeft { (a, b) =>
        if (rnd.nextBoolean()) agg.merge(a, b) else agg.merge(b, a)
      }
      assert(agg.finish(merged) == expected,
        s"trial $trial (k=$k, n=$n): ${agg.finish(merged)} != $expected")
    }
  }

  test("MinKAggregator reduce keeps the buffer bounded at k") {
    val agg = new MinKAggregator(2)
    val buf = (1 to 100).foldLeft(agg.zero)((b, i) =>
      agg.reduce(b, (f"$i%03d", i.toLong)))
    assert(buf == Seq(("001", 1L), ("002", 2L)))
    assert(agg.merge(buf, Seq(("000", 9L))) == Seq(("000", 9L), ("001", 1L)))
  }
}
