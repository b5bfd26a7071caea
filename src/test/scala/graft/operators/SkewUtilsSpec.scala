package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Salted join / two-phase agg must be result-identical to the unsalted
  * forms on skewed data.
  */
class SkewUtilsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def skewed = {
    import spark.implicits._
    // 90% of rows share key 0
    (1 to 1000).map(i => (if (i <= 900) 0 else i % 7, i.toLong))
      .toDF("k", "v")
  }

  private def dim = {
    import spark.implicits._
    (0 to 6).map(k => (k, s"name$k")).toDF("k", "name")
  }

  test("saltedJoin inner matches plain join") {
    val plain = skewed.join(dim, "k").agg(count(lit(1)), sum("v")).head
    val salted = SkewUtils.saltedJoin(skewed, dim, "k", salt = 8)
      .agg(count(lit(1)), sum("v")).head
    assert(salted == plain)
  }

  test("saltedJoin left keeps unmatched big-side rows") {
    val dimMissing = dim.filter("k <> 0") // hot key unmatched
    val plain = skewed.join(dimMissing, Seq("k"), "left")
    val salted = SkewUtils.saltedJoin(skewed, dimMissing, "k", salt = 4, "left")
    assert(salted.count() == plain.count())
    assert(salted.filter("name IS NULL").count() == plain.filter("name IS NULL").count())
  }

  test("twoPhaseAgg(count,sum) matches direct groupBy") {
    val direct = skewed.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
      .orderBy("k").collect().toSeq
    val salted = SkewUtils.twoPhaseAgg(skewed, "k", salt = 8,
      partials = Map("n" -> count(lit(1)), "total" -> sum("v")),
      finals = Map("n" -> sum("n"), "total" -> sum("total")))
      .orderBy("k").collect().toSeq
    assert(salted == direct)
  }
}
