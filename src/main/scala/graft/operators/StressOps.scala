package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.QueryDef
import graft.Tables.t

/** Skew stress queries: the standard corpus is synthetically distorted so
  * one key holds a pathological share of the data, proving the operators'
  * skew defenses hold (and regress-gating them in the bench like any other
  * query). The distortions are deterministic arithmetic on existing
  * columns, so both stresses stay fully DuckDB-oracle-checked.
  *
  *  - hot-label near-dup: half of all embeddings remapped into one label
  *    (a 50% cell). The triangle-block decomposition must split that cell
  *    into bounded block-pair tasks instead of one O(cell²) straggler; a
  *    small blockTarget forces multi-block paths at every test SF.
  *  - hot-gram contamination: a constant bigram appended to half of all
  *    documents (including the eval split), making one join key carry 50%
  *    of the probe rows through the gram-keyed semi-join.
  */
object StressOps {

  /** Labels remapped so vec_id % 2 == 0 all land in label -1 — one cell
    * holding half the corpus. blockTarget 128 forces the adaptive blocking
    * to decompose it (ceil(250/128)=2 blocks at sf0.01, 20 at sf0.1) while
    * cold labels stay unreplicated.
    */
  def qStressHotNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("CASE WHEN vec_id % 2 = 0 THEN -1 ELSE label END").as("label"),
        col("embedding"),
        expr("vec_norm(embedding)").as("nrm"))
    Similarity.nearDupPairs(base, blockTarget = 128L)
  }

  val qStressHotNearDupOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CASE WHEN vec_id % 2 = 0 THEN -1 ELSE label END AS label,
      |         embedding
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
      |    unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT label, id_a, id_b,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY label, id_a, id_b)
      |SELECT label, id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.3
      |ORDER BY id_a, id_b""".stripMargin

  /** A constant ' zq zq' suffix on every even doc_id puts the bigram
    * 'zq_zq' in half of all documents AND in the eval split (eval =
    * doc_id % 10 == 0, all even), so one gram key carries half the corpus
    * through the semi-join.
    */
  def qStressContamSkew(s: SparkSession, dir: String): DataFrame =
    CorpusOps.contaminationFrom(
      t(s, dir, "documents").withColumn("text",
        expr("CASE WHEN doc_id % 2 = 0 THEN text || ' zq zq' ELSE text END")))

  val qStressContamSkewOracle: String =
    s"""WITH g AS (
      |  SELECT doc_id, unnest(${Dedup.gramsDuck}) AS gram
      |  FROM (SELECT doc_id,
      |          string_split(CASE WHEN doc_id % 2 = 0 THEN text || ' zq zq' ELSE text END, ' ') AS ws
      |        FROM documents) w),
      |train AS (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 0),
      |eval_set AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      |totals AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY doc_id),
      |hits AS (
      |  SELECT t.doc_id, count(*) AS overlap_grams
      |  FROM train t JOIN eval_set e USING (gram) GROUP BY t.doc_id)
      |SELECT t.doc_id, t.n_grams,
      |  coalesce(h.overlap_grams, 0) AS overlap_grams,
      |  round(coalesce(h.overlap_grams, 0) / CAST(t.n_grams AS DOUBLE), 4) AS overlap_ratio
      |FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
      |WHERE round(coalesce(h.overlap_grams, 0) / CAST(t.n_grams AS DOUBLE), 4) >= 0.5
      |ORDER BY t.doc_id""".stripMargin

  // Salt fan-out for the skewed fact side: 8 sub-keys per hot key.
  private val Salts = 8

  /** Salted skew join — THE join-side skew defense: a fact stream where
    * one key carries 50% of all rows (every even event lands on key 0)
    * joined to a per-key dimension. The fact side gets a deterministic
    * salt (`xxhash64(event_id) % 8`), the dim side is replicated across
    * all salts via explode, and the join keys on (k, salt) — so the hot
    * key's rows spread over [[Salts]] shuffle partitions instead of one
    * straggler task. The merge hint pins sort-merge at toy SF (the
    * replicated dim would otherwise broadcast, which hides the
    * demonstration — though at 100 TB broadcasting a small salted dim IS
    * the other valid defense). Salting is plan-only: the per-key
    * aggregate is independent of the salt function, so the oracle is the
    * plain unsalted join.
    */
  def qStressSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    // integer measure: the op proves join TOPOLOGY under skew; an exact
    // integer weighted sum keeps the oracle free of cross-engine
    // double→decimal rounding at the .005 boundary
    val fact = t(s, dir, "events").select(
      expr("CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id % 50 END").as("k"),
      col("event_id"), (col("event_id") % 1000).as("measure"))
    val dim = fact.select("k").distinct()
      .withColumn("attr", col("k") + 1L)
    val factS = fact.withColumn("salt", pmod(xxhash64(col("event_id")), lit(Salts.toLong)))
    val dimS = dim.withColumn("salt",
      explode(array((0 until Salts).map(i => lit(i.toLong)): _*)))
    factS.join(dimS.hint("merge"), Seq("k", "salt"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"),
        sum(col("measure") * col("attr")).as("weighted"))
      .orderBy("k")
  }

  val qStressSaltedJoinOracle: String =
    """WITH fact AS (
      |  SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id % 50 END AS k,
      |         event_id % 1000 AS measure
      |  FROM events),
      |dim AS (SELECT DISTINCT k, k + 1 AS attr FROM fact)
      |SELECT f.k, count(*) AS n_events,
      |  CAST(sum(f.measure * d.attr) AS BIGINT) AS weighted
      |FROM fact f JOIN dim d ON f.k = d.k
      |GROUP BY f.k ORDER BY f.k""".stripMargin

  /** [[qStressSaltedJoin]]'s automatic twin: the SAME 50%-hot-key join,
    * but skew handling is delegated to AQE's skew-join split instead of
    * manual salting — the runtime re-plan that makes unforeseen skew
    * survivable at 100 TB (salting is for skew you know about; AQE is for
    * skew you don't). Thresholds are scoped down so the optimization
    * triggers at test SF (at production scale the defaults fire on real
    * partition sizes). The plan is built in the caller's session and scoped with
    * `GraftBridge.withConf` (the [[ScaleOps.qRuntimeFilter]] idiom), so
    * the split shows in the returned frame's own executed plan;
    * `StressOpsSpec` asserts `skew=true` lands in it.
    */
  def qStressAqeSkew(s: SparkSession, dir: String): DataFrame = {
    // A skewed reduce partition can only be split on MAP-output block
    // boundaries, and the toy-SF events file is ONE parquet row group —
    // one non-empty map block, unsplittable no matter how skewed
    // (observed: "0 skewed partitions" with the hot partition at 6x the
    // threshold). The even pre-shuffle on `measure` models the map-side
    // granularity a real multi-file 100 TB scan has for free: the join's
    // map stage becomes 8 tasks, so the hot reduce partition arrives as 8
    // blocks AQE can split between. The measure itself is a spread 32-bit
    // hash, not a cyclic `event_id % k` — the detector sizes COMPRESSED
    // map blocks, and a cyclic column lz4-compresses below any sane skew
    // threshold at toy SF.
    val fact = t(s, dir, "events").select(
      expr("CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id % 50 END").as("k"),
      expr("event_id * 2654435761 % 4294967296").as("measure"))
      .repartition(8, col("measure"))
    // localCheckpoint truncates the dim's lineage: OptimizeSkewedJoin only
    // matches an SMJ whose children are Sort-over-shuffle-stage, and the
    // distinct's final HashAggregate between shuffle and Sort would
    // otherwise disqualify the whole join from skew handling. The
    // checkpoint is a ≤50-row frame (the dim), released by the callers'
    // RDD-unpersist discipline.
    val dim = fact.select("k").distinct().withColumn("attr", col("k") + 1L)
      .localCheckpoint()
    val agg = fact.join(dim.hint("merge"), Seq("k"))
      // the explicit exchange decouples the aggregate from the join
      // stage: fused directly, the aggregate's required hash(k)
      // distribution pins the join output and OptimizeSkewedJoin backs
      // off (a skew split breaks co-partitioning). With the boundary in
      // place the split feeds a shuffle that was going to run anyway —
      // the standard price of AQE skew handling under a keyed consumer.
      .repartition(16, col("k"), col("measure"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"),
        sum(col("measure") * col("attr")).as("weighted"))
      .orderBy("k")
    GraftBridge.withConf(agg, aqeSkewConfs(s, dir): _*)
  }

  /** Skew-split thresholds DERIVED FROM INPUT SIZE (one FS metadata call,
    * never a data scan): the hot partition carries ~50% of the fact rows,
    * so a threshold of input/32 sits well under it at every SF while the
    * advisory size splits it into a handful of tasks instead of hundreds
    * (a fixed byte constant either misses the split at toy SF or
    * shatters the bench SF into confetti). Coalescing is disabled in
    * scope — it otherwise merges the small partitions BEFORE skew
    * detection sizes the median against the hot one.
    */
  private def aqeSkewConfs(s: SparkSession, dir: String): Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val len = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        math.max(512L, len / 64).toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        math.max(256L, len / 128).toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
  }

  /** Two-phase aggregation under the same 50% hot key — the groupBy-side
    * skew defense (AQE splits skewed JOIN partitions, not skewed
    * aggregates; Spark's own partial aggregation already spreads
    * map-side, but a final reducer still receives every partial for the
    * hot key — at extreme cardinality-per-key the salted first phase
    * bounds each reducer to 1/salt of the hot key's rows). Algebraic
    * aggregates only (count/sum/min/max decompose exactly), through
    * [[SkewUtils.twoPhaseAgg]]; salting is plan-only, so the oracle is
    * the plain per-key aggregate.
    */
  def qStressTwophaseAgg(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "events").select(
      expr("CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id % 50 END").as("k"),
      expr("event_id * 2654435761 % 4294967296").as("measure"))
    SkewUtils.twoPhaseAgg(fact, "k", Salts,
      partials = Map(
        "n_part" -> count(lit(1)), "sum_part" -> sum("measure"),
        "min_part" -> min("measure"), "max_part" -> max("measure")),
      finals = Map(
        "n_events" -> sum("n_part").cast("long"),
        "sum_measure" -> sum("sum_part").cast("long"),
        "min_measure" -> min("min_part"),
        "max_measure" -> max("max_part")))
      .select("k", "n_events", "sum_measure", "min_measure", "max_measure")
      .orderBy("k")
  }

  val qStressTwophaseAggOracle: String =
    """SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id % 50 END AS k,
      |  count(*) AS n_events,
      |  CAST(sum(event_id * 2654435761 % 4294967296) AS BIGINT) AS sum_measure,
      |  min(event_id * 2654435761 % 4294967296) AS min_measure,
      |  max(event_id * 2654435761 % 4294967296) AS max_measure
      |FROM events GROUP BY 1 ORDER BY k""".stripMargin

  val qStressAqeSkewOracle: String =
    """WITH fact AS (
      |  SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id % 50 END AS k,
      |         event_id * 2654435761 % 4294967296 AS measure
      |  FROM events),
      |dim AS (SELECT DISTINCT k, k + 1 AS attr FROM fact)
      |SELECT f.k, count(*) AS n_events,
      |  CAST(sum(f.measure * d.attr) AS BIGINT) AS weighted
      |FROM fact f JOIN dim d ON f.k = d.k
      |GROUP BY f.k ORDER BY f.k""".stripMargin

  /** Hot BAND-BUCKET stress for the simhash LSH family: every fourth
    * document's low 16 signature bits are forced to zero, so one band-0
    * bucket holds 25% of the corpus — the adversarial version of what
    * 16-bit band keys do to ANY corpus at scale (65,536 buckets cannot
    * stay sparse past ~10⁶ docs). [[Dedup.cappedBands]] must
    * subdivide that bucket by extra signature bits; the output is the
    * per-band bucket audit — raw max occupancy vs subdivided max
    * occupancy — proving the candidate stage's per-bucket work stays
    * bounded (max_sub_bucket ≪ max_raw_bucket) while cold buckets pass
    * through untouched. Deterministic arithmetic end to end, so the
    * oracle replays the subdivision exactly.
    */
  def qStressHotBand(s: SparkSession, dir: String): DataFrame =
    hotBucketAudit(t(s, dir, "documents").select(col("doc_id"),
        expr("CASE WHEN doc_id % 4 = 0 THEN simhash48(text) & -65536 ELSE simhash48(text) END").as("sig")),
      "doc_id", "sig", bands = 3, width = 16)

  val qStressHotBandOracle: String =
    hotBucketAuditDuck(s"""${Dedup.simhash48SigsDuck},
      |sigs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 4 = 0 THEN sig & -65536 ELSE sig END AS sig
      |  FROM base_sigs)""".stripMargin, "doc_id", "sig", bands = 3, width = 16)

  /** Hot-bucket stress for the phash band join, mirroring
    * [[qStressHotBand]]: 25% of assets get their low 14 signature bits
    * zeroed, manufacturing one band-0 bucket holding a quarter of the
    * corpus — the adversarial shape (near-constant media payloads, e.g.
    * blank thumbnails) that makes an uncapped 14-bit band join
    * quadratic. The report shows raw vs subdivided max occupancy per
    * band: the hot bucket must shrink to cells bounded by the next
    * band's 8 subdivision bits while cold bands stay untouched.
    */
  def qStressHotPhash(s: SparkSession, dir: String): DataFrame =
    hotBucketAudit(Multimodal.phashOf(Multimodal.pixelGrids(s, dir))
        .select(col("asset_id"),
          expr("CASE WHEN asset_id % 4 = 0 THEN phash & -16384 ELSE phash END")
            .as("phash")),
      "asset_id", "phash", bands = 4, width = 14)

  val qStressHotPhashOracle: String =
    hotBucketAuditDuck(s"""${Multimodal.phashSigsDuck},
      |sigs AS (
      |  SELECT asset_id,
      |    CASE WHEN asset_id % 4 = 0 THEN phash & -16384 ELSE phash END AS phash
      |  FROM h)""".stripMargin, "asset_id", "phash", bands = 4, width = 14)

  /** The hot-bucket audit of [[qStressHotBand]] and [[qStressHotPhash]]:
    * [[Dedup.cappedBands]] over `sigs(id, hash)`, then per band the raw
    * max bucket occupancy, the max occupancy after subdivision and the
    * number of (bucket, sub) cells.
    */
  private def hotBucketAudit(sigs: DataFrame, id: String, hash: String,
      bands: Int, width: Int): DataFrame =
    // persisted: the band pass and the counts join read it twice
    Dedup.cappedBands(sigs.persist(), id, hash, bands, width, cap = Dedup.BandBucketCap)
      .groupBy("band_idx", "band_sig", "sub")
      .agg(count(lit(1)).as("sub_n"), max("bucket_n").as("bucket_n"))
      .groupBy(col("band_idx").cast("long").as("band_idx"))
      .agg(max("bucket_n").as("max_raw_bucket"),
        max("sub_n").as("max_sub_bucket"),
        count(lit(1)).as("n_buckets"))
      .orderBy("band_idx")

  /** [[hotBucketAudit]] in DuckDB: `sigsCtes` defines a CTE named
    * `sigs(id, hash)`.
    */
  private def hotBucketAuditDuck(sigsCtes: String, id: String, hash: String,
      bands: Int, width: Int): String =
    s"""WITH $sigsCtes,
      |${Dedup.cappedBandsDuck("sigs", id, hash, bands, width)},
      |sub_sizes AS (
      |  SELECT band_idx, band_sig, sub, count(*) AS sub_n, max(bucket_n) AS bucket_n
      |  FROM keyed GROUP BY 1, 2, 3)
      |SELECT CAST(band_idx AS BIGINT) AS band_idx,
      |  max(bucket_n) AS max_raw_bucket,
      |  max(sub_n) AS max_sub_bucket,
      |  count(*) AS n_buckets
      |FROM sub_sizes GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_stress_hot_near_dup", qStressHotNearDup, Some(qStressHotNearDupOracle)),
    QueryDef("q_stress_contam_skew", qStressContamSkew, Some(qStressContamSkewOracle)),
    QueryDef("q_stress_salted_join", qStressSaltedJoin, Some(qStressSaltedJoinOracle)),
    QueryDef("q_stress_aqe_skew", qStressAqeSkew, Some(qStressAqeSkewOracle)),
    QueryDef("q_stress_twophase_agg", qStressTwophaseAgg, Some(qStressTwophaseAggOracle)),
    QueryDef("q_stress_hot_band", qStressHotBand, Some(qStressHotBandOracle)),
    QueryDef("q_stress_hot_phash", qStressHotPhash, Some(qStressHotPhashOracle)),
  )
}
