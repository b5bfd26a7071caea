package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Multimodal container plumbing: the synthetic assets carry a real
  * 16-byte binary header and the decode parses its fields out of the
  * payload bytes (not the metadata struct).
  */
class MultimodalSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("payloads start with the GRFT header and the body is the text bytes") {
    import org.apache.spark.sql.functions._
    val r = Multimodal.assets(spark, dir)
      .join(graft.Tables.t(spark, dir, "documents"),
        col("asset_id") === col("doc_id"))
      .select("payload", "meta.width", "meta.height", "text")
      .head()
    val payload = r.getAs[Array[Byte]](0)
    assert(new String(payload, 0, 4, "US-ASCII") == "GRFT")
    def be32(off: Int): Int =
      ((payload(off) & 0xff) << 24) | ((payload(off + 1) & 0xff) << 16) |
        ((payload(off + 2) & 0xff) << 8) | (payload(off + 3) & 0xff)
    assert(be32(4) == r.getInt(1), "width must round-trip through the header bytes")
    assert(be32(8) == r.getInt(2), "height must round-trip through the header bytes")
    val body = new String(payload, Multimodal.HeaderBytes,
      payload.length - Multimodal.HeaderBytes, "UTF-8")
    assert(body == r.getString(3), "body must be exactly the text bytes")
  }

  test("decode derives pixels from the header bytes and sizes from the body") {
    import org.apache.spark.sql.functions._
    val decoded = Multimodal.qDecodeStats(spark, dir)
      .join(Multimodal.assets(spark, dir), Seq("asset_id"))
      .select(col("pixels"),
        (col("meta.width").cast("long") * col("meta.height")).as("expected_px"),
        col("payload_bytes"), (length(col("payload")) - Multimodal.HeaderBytes).as("body_len"))
      .collect()
    assert(decoded.nonEmpty)
    decoded.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "pixels must equal header width*height")
      assert(r.getInt(2) == r.getInt(3), "payload_bytes must exclude the header")
    }
  }

  test("asset stats and frame sampling stay consistent with the corpus") {
    val nDocs = graft.Tables.t(spark, dir, "documents").count()
    val stats = Multimodal.qAssetStats(spark, dir).collect()
    assert(stats.map(_.getLong(1)).sum == nDocs, "every doc becomes one asset")
    Multimodal.qFrameSample(spark, dir).collect().foreach { r =>
      val (n, sampled) = (r.getInt(1), r.getLong(2))
      assert(sampled == (n + 3) / 4, s"every 4th of $n frames: got $sampled")
    }
  }

  test("payload entropy is bounded by ln(16) and totals match the corpus") {
    val totalChars = graft.Tables.t(spark, dir, "documents")
      .selectExpr("sum(length(text))").head().getLong(0)
    val rows = Multimodal.qEntropy(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sum == totalChars, "byte totals must cover the corpus")
    rows.foreach { case (codec, _, h) =>
      assert(h > 0 && h <= math.log(16.0) + 1e-9,
        s"$codec: entropy $h outside (0, ln 16]")
    }
  }

  test("pixelgrid64 expression matches the transform-HOF sampler element-wise") {
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.register(spark)
    val rows = Multimodal.assets(spark, dir)
      .select(col("asset_id"),
        decode(expr(s"substring(payload, ${Multimodal.HeaderBytes + 1}, " +
          s"length(payload) - ${Multimodal.HeaderBytes})"), "UTF-8").as("txt"))
      .select(col("asset_id"),
        expr("pixelgrid64(txt)").as("fused"),
        expr("""transform(sequence(0, 63), k ->
          ascii(substring(txt, CAST(1 + (k * CAST(length(txt) AS BIGINT)) div 64 AS INT), 1)))""")
          .as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"asset ${r.getLong(0)}: pixelgrid64 differs from the HOF sampler")
    }
  }

  test("dhash56 expression is bit-identical to the aggregate-HOF fold") {
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.register(spark)
    // both arms of the production input shape: raw grids and the
    // +1-brightness twins (transform-produced int arrays)
    val base = Multimodal.pixelGrids(spark, dir)
    val both = base.unionByName(
      base.select((col("asset_id") + 1000000L).as("asset_id"),
        expr("transform(px, p -> p + 1)").as("px")))
    val rows = both.select(col("asset_id"),
        expr("dhash56(px)").as("fused"),
        expr("""aggregate(sequence(0, 55), CAST(0 AS BIGINT), (acc, b) ->
          acc + CASE WHEN element_at(px, CAST((b div 7) * 8 + (b % 7) + 1 AS INT))
                       < element_at(px, CAST((b div 7) * 8 + (b % 7) + 2 AS INT))
                THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END)""")
          .as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"asset ${r.getLong(0)}: dhash56 ${r.getLong(1)} != HOF ${r.getLong(2)}")
    }
  }

  test("phash subdivision: cold buckets untouched, hot buckets split, keys refine") {
    import spark.implicits._
    // 40 assets share band 0 (low 14 bits) with bands 1-3 varying, so the
    // subdivision bits (next band's low 8) actually differ; 20 assets
    // share a cold band-0 bucket under the cap
    val hot = (0L until 40L).map(i =>
      (i, 0x333L | (i << 14) | (i << 28) | (i << 42)))
    val cold = (100L until 120L).map(i =>
      (i, 0x222L | (i << 14) | (i << 28) | (i << 42)))
    val hashes = (hot ++ cold).toDF("asset_id", "phash")
    val cap = 32
    val keyed = Dedup.cappedBands(hashes, "asset_id", "phash", bands = 4, width = 14, cap)
      .select("asset_id", "band_idx", "band_sig", "bucket_n", "sub").collect()
    assert(keyed.filter(r => r.getLong(3) <= cap).forall(_.getLong(4) == 0L),
      "cold buckets must pass through unsubdivided")
    val hotCells = keyed.filter(r => r.getLong(3) > cap)
      .groupBy(r => (r.getInt(1), r.getLong(2), r.getLong(4)))
      .map(_._2.length)
    assert(hotCells.size > 1, "hot bucket must split into multiple cells")
    assert(hotCells.forall(_ < 40), "every cell must be smaller than the raw bucket")
  }

  test("phash collapses every brightness twin to hamming 0") {
    val pairs = Multimodal.qPhashNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = graft.Tables.t(spark, dir, "documents").count()
    val twins = pairs.filter { case (a, b, _) => b == a + 1000000L }
    assert(twins.length == nDocs, "every asset must pair with its brightness twin")
    twins.foreach { case (a, _, ham) =>
      assert(ham == 0, s"asset $a: gradient hash changed under brightness shift")
    }
    pairs.foreach { case (_, _, ham) => assert(ham >= 0 && ham <= 6) }
  }
}
