package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** Multimodal-column operators: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition.
  *
  * This environment has no image/audio codec libraries, so assets are
  * SYNTHETIC: payload bytes are generated from the documents table as a
  * real binary container — a 16-byte magic/width/height/n_frames header
  * physically prepended to the body bytes. The decode, however, is real
  * executor-side byte work: it validates the magic and parses the header
  * fields out of the payload bytes (not out of the metadata struct), then
  * folds a checksum over the body — compiled into the scan stage as the
  * native codegen expression [[graft.functions.ContainerDecode]]. The
  * binary column, metadata struct, partition-local feature extraction,
  * and frame sampling are exactly the Spark plumbing a production codec
  * (JNI or Arrow-batched UDF) would drop into.
  *
  * At 100 TB: all transforms here are narrow (no shuffle); binary payloads
  * stay columnar in Tungsten rows; the only aggregation shuffles tiny
  * per-asset feature rows, never the payload bytes.
  */
object Multimodal {

  /** The 16-byte container header every synthetic payload starts with:
    * magic "GRFT" then width/height/n_frames as big-endian int32. This is
    * the byte-level contract [[qDecodeStats]] parses — the decode reads
    * these fields out of the payload BYTES, not out of the metadata
    * struct.
    */
  val HeaderBytes = 16
  private val Magic = "GRFT"

  /** int32 → 4 big-endian bytes, codegen-side (hex/lpad/unhex are all
    * codegen'd string ops; no UDF).
    */
  private def i32(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 8, "0"))

  /** Synthesize a deterministic binary "asset" per document: a 16-byte
    * header (magic, width, height, n_frames — all derived from doc fields)
    * physically prepended to a body derived from the text bytes. Stands in
    * for real image/video blobs; the header layout is the contract the
    * decoder parses from the bytes themselves.
    */
  def assets(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val width = (col("n_chars") % 640 + 16).cast("int")
    val height = (col("n_chars") % 480 + 16).cast("int")
    val nFrames = (col("n_chars") % 24 + 1).cast("int")
    d.select(
      col("doc_id").as("asset_id"),
      struct(
        col("lang").as("codec"),
        width.as("width"),
        height.as("height"),
        nFrames.as("n_frames")).as("meta"),
      // payload: binary header + utf-8 text bytes standing in for encoded media
      concat(lit(Magic.getBytes("US-ASCII")),
        i32(width), i32(height), i32(nFrames),
        encode(col("text"), "UTF-8")).as("payload"))
  }

  /** Deterministic decode of the binary column: validates the magic,
    * parses width/height out of the big-endian header BYTES, and folds a
    * rolling checksum over the body bytes — all executor-side byte work on
    * the payload itself (the metadata struct is consulted only for the
    * codec label, which a real container also carries out-of-band).
    *
    * The byte work runs as the native codegen expression
    * [[graft.functions.ContainerDecode]] (`container_decode(payload)`),
    * not a `mapPartitions` typed map: the expression keeps the whole
    * scan→decode→project pipeline inside ONE WholeStageCodegen span and
    * reads the payload bytes in place instead of paying an
    * InternalRow↔Row conversion per asset. A production codec (JNI
    * decoder) drops into the helper's decode method; only the pixel math
    * changes, the plan shape stays.
    */
  def qDecodeStats(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    assets(s, dir)
      .select(col("asset_id"), col("meta.codec").as("codec"),
        expr("container_decode(payload)").as("dec"))
      .select(col("asset_id"), col("codec"),
        (col("dec.width").cast("long") * col("dec.height")).as("pixels"),
        col("dec.payload_bytes").as("payload_bytes"),
        col("dec.checksum").as("checksum"))
      .orderBy("asset_id")
  }

  /** Per-codec size statistics over decoded assets — the "did the decode
    * plumbing preserve schema and counts" check, aggregated small.
    */
  def qAssetStats(s: SparkSession, dir: String): DataFrame =
    qDecodeStats(s, dir)
      .groupBy("codec")
      .agg(count(lit(1)).as("n_assets"),
        sum("pixels").as("total_pixels"),
        sum("payload_bytes").cast("long").as("total_bytes"))
      .orderBy("codec")

  /** Frame sampling: take every k-th "frame" (fixed-size payload slice) —
    * the video-pipeline primitive. Pure per-row compute with higher-order
    * functions; no shuffle.
    */
  def qFrameSample(s: SparkSession, dir: String): DataFrame =
    assets(s, dir)
      .select(col("asset_id"), col("meta.n_frames").as("n_frames"),
        expr(s"""transform(
          |  filter(sequence(0, meta.n_frames - 1), f -> f % 4 = 0),
          |  f -> substring(payload, f * 8 + ${HeaderBytes + 1}, 8))""".stripMargin).as("frames"))
      .select(col("asset_id"), col("n_frames"), size(col("frames")).cast("long").as("n_sampled"),
        length(concat_ws("", col("frames").cast("array<string>"))).cast("long").as("sampled_bytes"))
      .orderBy("asset_id")

  /** Resize stub: a real resize maps pixels; the stub maps metadata and
    * re-windows the payload to the target byte budget, preserving the
    * columnar shape a real kernel would produce.
    */
  def qResize(s: SparkSession, dir: String): DataFrame =
    assets(s, dir)
      .select(col("asset_id"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        floor(col("meta.width") / 2).cast("int").as("out_width"),
        floor(col("meta.height") / 2).cast("int").as("out_height"),
        substring(col("payload"), HeaderBytes + 1, 64).as("thumb"))
      .select(col("asset_id"), col("out_width"), col("out_height"),
        length(col("thumb")).cast("long").as("thumb_bytes"))
      .orderBy("asset_id")

  /** Byte-histogram feature vector (16 buckets) per asset — the
    * feature-extraction kernel shape (real: embedding model / mel
    * spectrogram). Expressed as explode → two-level hash-agg so the whole
    * kernel stays inside WholeStageCodegen (a typed map would break the
    * codegen span; SQL higher-order functions are interpreted per element):
    * map-side partial aggregation collapses the per-byte rows within each
    * partition, so the shuffle carries at most 16 rows per asset — never
    * payload bytes. ascii() is exact for the ASCII stand-in corpus (real
    * payloads would explode the binary through the decode kernel instead).
    */
  def qByteHistogram(s: SparkSession, dir: String): DataFrame = {
    val base = assets(s, dir)
      .select(col("asset_id"),
        decode(expr(s"substring(payload, ${HeaderBytes + 1}, length(payload) - $HeaderBytes)"),
          "UTF-8").as("txt"))
    val counts = base
      .select(col("asset_id"), explode(split(col("txt"), "")).as("ch"))
      .where(length(col("ch")) === 1) // split(-1) keeps a trailing ""
      .select(col("asset_id"), (ascii(col("ch")) % 16).as("bucket"))
      .groupBy("asset_id", "bucket").agg(count(lit(1)).as("cnt"))
      .groupBy("asset_id")
      .agg(sum("cnt").as("total"), max("cnt").as("max_bucket"))
    // empty payloads produce no exploded rows; restore them as zero rows
    base.select(col("asset_id")).join(counts, Seq("asset_id"), "left")
      .select(col("asset_id"),
        coalesce(col("total"), lit(0L)).as("total"),
        coalesce(col("max_bucket"), lit(0L)).as("max_bucket"))
      .orderBy("asset_id")
  }

  // Oracle note: decode/frame/resize/histogram are not SQL-expressible in
  // DuckDB over the same inputs only where byte-level payload semantics
  // diverge; where the synthesized layout is pure arithmetic on documents
  // columns we CAN oracle them. qAssetStats and qFrameSample reduce to
  // documents-column arithmetic (payload = utf-8 text bytes → length =
  // strlen for ascii corpus), so both get oracles; qDecodeStats' rolling
  // checksum is also exactly expressible with list_reduce over ascii codes.

  val qAssetStatsOracle: String =
    """SELECT lang AS codec, count(*) AS n_assets,
      | CAST(sum(CAST(n_chars % 640 + 16 AS BIGINT) * (n_chars % 480 + 16)) AS BIGINT) AS total_pixels,
      | CAST(sum(length(text)) AS BIGINT) AS total_bytes
      |FROM documents GROUP BY lang ORDER BY codec""".stripMargin

  val qFrameSampleOracle: String =
    """SELECT doc_id AS asset_id, CAST(n_chars % 24 + 1 AS INT) AS n_frames,
      | CAST(len(list_filter(range(0, CAST(n_chars % 24 + 1 AS INT)), f -> f % 4 = 0)) AS BIGINT) AS n_sampled,
      | CAST(list_sum(list_transform(list_filter(range(0, CAST(n_chars % 24 + 1 AS INT)), f -> f % 4 = 0),
      |   f -> greatest(least(length(text) - (f * 8), 8), 0))) AS BIGINT) AS sampled_bytes
      |FROM documents ORDER BY asset_id""".stripMargin

  val qDecodeStatsOracle: String =
    """SELECT doc_id AS asset_id, lang AS codec,
      | CAST(n_chars % 640 + 16 AS BIGINT) * (n_chars % 480 + 16) AS pixels,
      | CAST(length(text) AS INT) AS payload_bytes,
      | list_reduce(list_prepend(CAST(0 AS BIGINT),
      |   list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
      |   (h, c) -> (h * 31 + c) % 1000000007) AS checksum
      |FROM documents ORDER BY asset_id""".stripMargin

  val qResizeOracle: String =
    """SELECT doc_id AS asset_id,
      | CAST(floor((n_chars % 640 + 16) / 2) AS INT) AS out_width,
      | CAST(floor((n_chars % 480 + 16) / 2) AS INT) AS out_height,
      | CAST(least(length(text), 64) AS BIGINT) AS thumb_bytes
      |FROM documents ORDER BY asset_id""".stripMargin

  /** Exact for the ASCII corpus: UTF-8 payload bytes == ascii codes, so
    * per-bucket counts are expressible as list arithmetic in DuckDB.
    */
  val qByteHistogramOracle: String =
    """SELECT doc_id AS asset_id, CAST(length(text) AS BIGINT) AS total,
      | list_max(list_transform(range(0, 16), b ->
      |   len(list_filter(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)) % 16 = b)))) AS max_bucket
      |FROM documents ORDER BY asset_id""".stripMargin

  /** Shannon entropy of the payload byte distribution per codec (over the
    * same 16 byte buckets as [[qByteHistogram]]) — the compressibility
    * probe a media pipeline runs to catch mislabeled assets: an
    * already-compressed payload is near-uniform (entropy → ln 16), a
    * text-like payload is heavily skewed. Same explode → two-level
    * hash-agg kernel as the histogram, so the shuffle carries ≤16 rows
    * per codec partition, never payload bytes; the entropy fold is over
    * the 16-row bucket frame (the per-codec window is codec-sized).
    * Rounded to 4 decimals — the bucket probabilities are exact rationals
    * and the 16-term ln fold is the same precedent as the corpus-LM ops.
    */
  def qEntropy(s: SparkSession, dir: String): DataFrame = {
    val bc = assets(s, dir)
      .select(col("meta.codec").as("codec"),
        decode(expr(s"substring(payload, ${HeaderBytes + 1}, length(payload) - $HeaderBytes)"),
          "UTF-8").as("txt"))
      .select(col("codec"), explode(split(col("txt"), "")).as("ch"))
      .where(length(col("ch")) === 1)
      .select(col("codec"), (ascii(col("ch")) % 16).as("bucket"))
      .groupBy("codec", "bucket").agg(count(lit(1)).as("cnt"))
    bc.withColumn("total",
        sum("cnt").over(org.apache.spark.sql.expressions.Window.partitionBy("codec")))
      .groupBy("codec")
      .agg(max("total").as("total_bytes"),
        round(-sum(col("cnt") / col("total") * log(col("cnt") / col("total"))), 4)
          .as("entropy4"))
      .orderBy("codec")
  }

  val qEntropyOracle: String =
    """WITH occ AS (
      |  SELECT lang AS codec,
      |    unnest(list_transform(range(1, length(text) + 1),
      |      i -> ascii(substr(text, i, 1)) % 16)) AS bucket
      |  FROM documents),
      |bc AS (SELECT codec, bucket, count(*) AS cnt FROM occ GROUP BY 1, 2),
      |wt AS (SELECT codec, cnt, sum(cnt) OVER (PARTITION BY codec) AS total FROM bc)
      |SELECT codec, CAST(max(total) AS BIGINT) AS total_bytes,
      |  round(-sum(cnt / CAST(total AS DOUBLE) * ln(cnt / CAST(total AS DOUBLE))), 4)
      |    AS entropy4
      |FROM wt GROUP BY codec ORDER BY codec""".stripMargin

  /** Perceptual-hash near-dup over the asset payloads — the image-dedup
    * pipeline stage, run here on the synthetic byte bodies: a 64-sample
    * "pixel" grid is read at evenly spaced offsets out of the decoded
    * body, the classic dHash gradient (is pixel left of its neighbor
    * darker?) packs into a 56-bit signature, and near-dup candidates come
    * from 4×14-bit LSH bands over the signature with a popcount hamming
    * verify (≤6) — byte-for-byte the simhash discipline
    * ([[Dedup]] `q_simhash_near_dup`) applied to media payloads instead
    * of token sets. A real deployment swaps the sampling step for the
    * decoded luma plane; everything downstream is unchanged.
    *
    * Scale shape: hashing is a narrow codegen'd pass (payload bytes never
    * shuffle — only the 8-byte signature does); the band join is
    * key-equality bucketed, and the hot-bucket subdivision story from the
    * simhash family applies verbatim if band cardinality saturates.
    */
  /** The 64-sample pixel grid per asset, read out of the decoded payload
    * body at evenly spaced offsets — (asset_id, px: array<int>).
    */
  private[operators] def pixelGrids(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    // fused codegen sampler (graft.functions.PixelGrid64): the former
    // transform(sequence(0,63), k -> ascii(substring(txt, …, 1))) paid an
    // interpreted lambda per sample and each substring is an O(pos)
    // codepoint walk — O(64·len) per asset vs the helper's one-pass
    // O(len + 64). ascii/substring/length semantics replicated exactly
    // (codepoint-based; MultimodalSpec pins element equality vs the HOF)
    assets(s, dir)
      .select(col("asset_id"),
        decode(expr(s"substring(payload, ${HeaderBytes + 1}, length(payload) - $HeaderBytes)"),
          "UTF-8").as("txt"))
      .select(col("asset_id"), expr("pixelgrid64(txt)").as("px"))
  }

  /** 56-bit dHash over a (asset_id, px) frame: 8×8 grid, bit = left
    * pixel darker than its row neighbor.
    */
  private[operators] def phashOf(grids: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(grids.sparkSession)
    // fused codegen dHash (graft.functions.DHash56) — the former
    // aggregate(sequence(0,55), …) fold paid an interpreted lambda call
    // per bit per asset (higher-order functions never enter whole-stage
    // codegen); MultimodalSpec pins bit-equality against the HOF form
    grids.select(col("asset_id"), expr("dhash56(px)").as("phash"))
  }

  def qPhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = pixelGrids(s, dir)
    // +1-brightness twin of every sampled grid (ascii bodies top out well
    // below 255, so the shift never wraps): dHash is a gradient hash, and
    // the twins MUST collapse to hamming 0 — the invariance is part of
    // the hash-checked contract, not prose
    val brightened = base.select((col("asset_id") + 1000000L).as("asset_id"),
      expr("transform(px, p -> p + 1)").as("px"))
    val hashes = phashOf(base.unionByName(brightened))
      .persist() // both sides of the band self-join read it; caller
                 // (Bench/Verify) owns cache lifetime, like qCmsHeavyHitters
    val keyed = Dedup.cappedBands(hashes, "asset_id", "phash", bands = 4, width = 14,
      cap = Dedup.BandBucketCap)
    Dedup.bandPairs(keyed, Dedup.BandKey :+ "sub", "asset_id", "phash")
      .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
        expr("CAST(bit_count(phash_a ^ phash_b) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 6)
      .orderBy("asset_a", "asset_b")
  }

  val qPhashNearDupOracle: String =
    """WITH px0 AS (
      |  SELECT doc_id AS asset_id,
      |    list_transform(range(0, 64), k ->
      |      ascii(substr(text, CAST(1 + (k * length(text)) // 64 AS INT), 1))) AS px
      |  FROM documents),
      |px AS (
      |  SELECT asset_id, px FROM px0
      |  UNION ALL
      |  SELECT asset_id + 1000000, list_transform(px, p -> p + 1) FROM px0),
      |h AS (
      |  SELECT asset_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, 56), b ->
      |        CASE WHEN px[CAST((b // 7) * 8 + (b % 7) + 1 AS INT)]
      |               < px[CAST((b // 7) * 8 + (b % 7) + 2 AS INT)]
      |        THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
      |        ELSE CAST(0 AS BIGINT) END)),
      |      (a, x) -> a + x) AS phash
      |  FROM px),
      |bands AS (
      |  SELECT asset_id, phash, m.m AS band_idx,
      |    (phash >> CAST(14 * m.m AS INT)) & 16383 AS band_sig,
      |    (phash >> CAST(((m.m + 1) % 4) * 14 AS INT)) & 255 AS sub_key
      |  FROM h, range(4) AS m(m)),
      |counts AS (
      |  SELECT band_idx, band_sig, count(*) AS bucket_n
      |  FROM bands GROUP BY 1, 2),
      |keyed AS (
      |  SELECT b.*, CASE WHEN c.bucket_n > 32 THEN b.sub_key ELSE 0 END AS sub
      |  FROM bands b JOIN counts c
      |    ON c.band_idx = b.band_idx AND c.band_sig = b.band_sig),
      |cand AS (
      |  SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b,
      |    a.phash AS ha, b.phash AS hb
      |  FROM keyed a JOIN keyed b ON a.band_idx = b.band_idx
      |    AND a.band_sig = b.band_sig AND a.sub = b.sub
      |    AND a.asset_id < b.asset_id)
      |SELECT asset_a, asset_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 6
      |ORDER BY asset_a, asset_b""".stripMargin

  /** DuckDB CTE fragment replicating the twin-free dHash pass: defines
    * `px0` and `h(asset_id, phash)` over `documents`. Shared by the
    * [[StressOps.qStressHotPhash]] oracle.
    */
  val phashSigsDuck: String =
    """px0 AS (
      |  SELECT doc_id AS asset_id,
      |    list_transform(range(0, 64), k ->
      |      ascii(substr(text, CAST(1 + (k * length(text)) // 64 AS INT), 1))) AS px
      |  FROM documents),
      |h AS (
      |  SELECT asset_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, 56), b ->
      |        CASE WHEN px[CAST((b // 7) * 8 + (b % 7) + 1 AS INT)]
      |               < px[CAST((b // 7) * 8 + (b % 7) + 2 AS INT)]
      |        THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
      |        ELSE CAST(0 AS BIGINT) END)),
      |      (a, x) -> a + x) AS phash
      |  FROM px0)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_mm_decode_stats", qDecodeStats, Some(qDecodeStatsOracle)),
    QueryDef("q_mm_asset_stats", qAssetStats, Some(qAssetStatsOracle)),
    QueryDef("q_mm_frame_sample", qFrameSample, Some(qFrameSampleOracle)),
    QueryDef("q_mm_resize", qResize, Some(qResizeOracle)),
    QueryDef("q_mm_byte_histogram", qByteHistogram, Some(qByteHistogramOracle)),
    QueryDef("q_mm_entropy", qEntropy, Some(qEntropyOracle)),
    QueryDef("q_mm_phash", qPhashNearDup, Some(qPhashNearDupOracle)),
  )
}
