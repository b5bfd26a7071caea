package graft.runner

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase}
import graft.operators.{DataMovement, StreamOps}

/** The factory's session compiles each generated class once per process:
  * a clone reuses the classes its parent compiled, and the codegen cache
  * holds more than a whole query suite's classes. Compiles are counted
  * with Spark's codegen compilation-time histogram, one sample per Janino
  * compile.
  */
class CodegenCacheSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def compiles(df: => DataFrame): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    df.collect()
    SparkEntry.release(spark)
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a query run again through Tables.sql's clone compiles nothing") {
    compiles(DataMovement.qMultiStatement(spark, dir))
    assert(compiles(DataMovement.qMultiStatement(spark, dir)) == 0)
  }

  test("a streaming query drained again compiles nothing") {
    compiles(StreamOps.qStreamCdcLatest(spark, dir))
    assert(compiles(StreamOps.qStreamCdcLatest(spark, dir)) == 0)
  }

  test("150 distinct generated classes later, the first is still cached") {
    def projection(i: Int) = spark.range(10).selectExpr(s"id + ${7919 + i} AS v")
    val first = (0 until 150).map(i => compiles(projection(i)))
    assert(first.sum >= 150, "each projection compiles its own class")
    assert(compiles(projection(0)) == 0)
  }
}
