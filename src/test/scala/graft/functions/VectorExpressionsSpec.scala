package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** vec_dot / vec_norm: codegen and interpreted paths must match the
  * higher-order-function formulation exactly (same double accumulation
  * order), and null arrays must propagate null.
  */
class VectorExpressionsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("GraftExtensions makes vec_dot resolve without manual registration") {
    import spark.implicits._
    // SparkTestBase is built by the session factory, which installs
    // GraftExtensions; nothing registers the functions by hand
    val r = Seq((Array(2.0f, 3.0f), Array(4.0f, 5.0f))).toDF("qv", "embedding")
      .selectExpr("vec_dot(qv, embedding)").head
    assert(r.getDouble(0) == 23.0)
  }

  private def df = {
    import spark.implicits._
    Seq(
      (1L, Some(Array(1.0f, 2.0f, 3.0f)), Some(Array(4.0f, 5.0f, 6.0f))),
      (2L, Some(Array(0.5f, -1.5f)), Some(Array(2.0f, 2.0f))),
      (3L, None, Some(Array(1.0f))),
      (4L, Some(Array.empty[Float]), Some(Array.empty[Float])))
      .toDF("id", "qv", "embedding")
  }

  test("vec_dot matches the aggregate/zip_with fold and handles nulls") {
    val rows = df.select(col("id"),
        expr("vec_dot(qv, embedding)").as("fast"),
        expr("aggregate(zip_with(qv, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)").as("hof"))
      .orderBy("id").collect()
    assert(rows(0).getDouble(1) == 32.0 && rows(0).getDouble(2) == 32.0)
    assert(rows(1).getDouble(1) == -2.0)
    assert(rows(2).isNullAt(1))
    assert(rows(3).getDouble(1) == 0.0)
  }

  test("shingle table sizing: power of two at load factor <= 0.5, terminates near 2^30") {
    assert(GramHelper.tableCapacity(1) == 4)
    assert(GramHelper.tableCapacity(3) == 8)
    assert(GramHelper.tableCapacity(4) == 8)
    assert(GramHelper.tableCapacity(1000) == 2048)
    // n * 2 and the doubled capacity overflow Int here; the size clamps
    assert(GramHelper.tableCapacity((1 << 29) + 1) == (1 << 30))
    assert(GramHelper.tableCapacity(1 << 30) == (1 << 30))
    assert(GramHelper.tableCapacity(Int.MaxValue) == (1 << 30))
  }

  test("jaccard4 matches the array_intersect/array_union round(4) formulation") {
    import spark.implicits._
    // randomized-but-deterministic word arrays, incl. empty and disjoint
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 40).map(i => s"w$i")
    val cases = ((0 until 200).map { _ =>
      def arr() = rnd.shuffle(vocab).take(1 + rnd.nextInt(vocab.size - 1)).toArray
      (arr(), arr())
    } :+ ((Array("a"), Array("b")))).toSeq
    val rows = cases.toDF("a", "b")
      .select(
        expr("jaccard4(array_sort(array_distinct(a)), array_sort(array_distinct(b)))").as("fused"),
        expr("round(size(array_intersect(a, b)) / CAST(size(array_union(a, b)) AS DOUBLE), 4)").as("ref"))
      .collect()
    rows.foreach { r =>
      val (fused, ref) = (r.getDouble(0), r.getDouble(1))
      assert(fused == ref, s"$fused != $ref")
    }
    // degenerate both-empty input: the old ANSI division would raise
    // DIVIDE_BY_ZERO; the fused kernel returns NaN, which fails any
    // >= tau verify filter — the production-safe contract
    val nan = Seq((Array.empty[String], Array.empty[String])).toDF("a", "b")
      .select(expr("jaccard4(a, b)")).head.getDouble(0)
    assert(nan.isNaN)
  }

  test("vec_norm matches sqrt of the squared fold") {
    val rows = df.select(col("id"),
        expr("vec_norm(embedding)").as("fast"),
        expr("sqrt(aggregate(embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))").as("hof"))
      .orderBy("id").collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2))
      else assert(r.getDouble(1) == r.getDouble(2))
    }
  }

  test("simhash16 matches the per-bit majority-vote reference and split semantics") {
    import spark.implicits._
    // reference implementation over split(text, ' ') with unlimited
    // limit, word-bigram features (one-word texts fall back to the
    // unigram) — the SimHashHelper contract
    def ref(text: String): Long = {
      val counts = new Array[Int](16)
      val ths = text.split(" ", -1).map { w =>
        w.length.toLong * 97 +
          (if (w.nonEmpty) w.head.toInt * 13 + w.last.toInt else 0)
      }
      val feats =
        if (ths.length < 2) ths
        else ths.sliding(2).map(p => p(0) * 131 + p(1)).toArray
      feats.foreach { f =>
        (0 until 16).foreach { b =>
          if (((f >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        }
      }
      (0 until 16).map(b => if (counts(b) > 0) 1L << b else 0L).sum
    }
    val texts = Seq("the quick brown fox", "a", "", "a  b", " lead", "trail ",
      "same same same other")
    val rows = texts.toDF("text").select(expr("simhash16(text)")).collect()
    texts.zip(rows).foreach { case (txt, r) =>
      assert(r.getLong(0) == ref(txt), s"mismatch for '$txt'")
    }
    // null text propagates null
    assert(Seq(Option.empty[String]).toDF("text")
      .select(expr("simhash16(text)")).head.isNullAt(0))
  }

  test("interpreted eval path (codegen disabled) agrees") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val r = df.filter("id = 1")
        .select(expr("vec_dot(qv, embedding)"), expr("vec_norm(qv)")).head
      assert(r.getDouble(0) == 32.0)
      assert(r.getDouble(1) == math.sqrt(14.0))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
