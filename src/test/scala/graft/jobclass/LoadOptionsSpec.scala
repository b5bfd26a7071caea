package graft.jobclass

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.core.JobFailure

/** COPY option-bag semantics (reference: psqldatasource.rb:476-601). */
class LoadOptionsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def writeLines(name: String, lines: String*): String = {
    val dir = graft.core.TempDirs.create(name)
    Files.writeString(dir.resolve("part-00000.csv"), lines.mkString("\n") + "\n")
    dir.toString
  }

  test("maxerror: bad rows under the threshold are dropped, load succeeds") {
    val path = writeLines("lo-ok", "1,10.5", "2,oops", "3,30.0", "4,bad")
    val df = LoadOptions.read(spark, Seq(path), "csv",
      Map("maxerror" -> "2"), StructType.fromDDL("id BIGINT, v DOUBLE"))
    val rows = df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 10.5), (3L, 30.0)))
  }

  test("maxerror: error count above the threshold raises JobFailure") {
    val path = writeLines("lo-fail", "1,10.5", "2,oops", "3,also-bad")
    val e = intercept[JobFailure] {
      LoadOptions.read(spark, Seq(path), "csv",
        Map("maxerror" -> "1"), StructType.fromDDL("id BIGINT, v DOUBLE"))
    }
    assert(e.getMessage.contains("maxerror"))
  }

  // suites share the session and run in parallel, so GLOBAL persistent-RDD
  // counts race other suites' persist/unpersist churn; count only RDDs
  // whose scan references THIS test's unique temp path
  private def cachedFor(path: String): Int =
    spark.sparkContext.getPersistentRDDs.values
      .count(_.toString.contains(path))

  test("withRead releases the maxerror full-parse cache after consumption") {
    val path = writeLines("lo-rel", "1,10.5", "2,oops", "3,30.0")
    assert(cachedFor(path) == 0)
    val n = LoadOptions.withRead(spark, Seq(path), "csv",
      Map("maxerror" -> "5"), StructType.fromDDL("id BIGINT, v DOUBLE")) { df =>
      assert(cachedFor(path) > 0) // pinned inside
      df.count()
    }
    assert(n == 2)
    assert(cachedFor(path) == 0) // released
  }

  test("withRead releases the cache when maxerror is exceeded") {
    val path = writeLines("lo-rel2", "1,oops", "2,bad")
    intercept[JobFailure] {
      LoadOptions.withRead(spark, Seq(path), "csv",
        Map("maxerror" -> "0"), StructType.fromDDL("id BIGINT, v DOUBLE"))(_.count())
    }
    assert(cachedFor(path) == 0)
  }

  test("no maxerror: FAILFAST fails on the first bad row") {
    val path = writeLines("lo-ff", "1,10.5", "2,oops")
    intercept[Exception] {
      LoadOptions.read(spark, Seq(path), "csv", Map.empty,
        StructType.fromDDL("id BIGINT, v DOUBLE")).collect()
    }
  }

  test("removequotes strips surrounding quotes in tsv; without it quotes are data") {
    val dir = graft.core.TempDirs.create("lo-rq")
    Files.writeString(dir.resolve("d.tsv"), "1\t\"quoted value\"\n")
    val schema = StructType.fromDDL("id BIGINT, v STRING")
    val stripped = LoadOptions.read(spark, Seq(dir.toString), "tsv",
      Map("removequotes" -> "true"), schema).head()
    assert(stripped.getString(1) == "quoted value")
    val literal = LoadOptions.read(spark, Seq(dir.toString), "tsv",
      Map.empty, schema).head()
    assert(literal.getString(1) == "\"quoted value\"")
  }
}
