package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t
import graft.functions.TopKAggregator

/** Similarity search over the `embeddings` table (`Array[Float]`, dim 64).
  *
  * Brute-force cosine top-k is the exact baseline: broadcast the (small)
  * query set against the corpus — a map-side-only join, no shuffle of the
  * corpus. The scale path is the LSH-bucketed variant: deterministic
  * random-hyperplane signatures bucket the corpus so only same-bucket
  * pairs are compared (candidate generation is a key-equality shuffle,
  * never an O(n²) cross join).
  *
  * All float math is promoted to double before accumulation so results are
  * reproducible against the DuckDB oracle after 4dp rounding.
  */
object Similarity {

  /** cosine numerator/denominator via the native codegen'd expressions in
    * [[graft.functions.VectorFunctions]] (double promotion, index-order
    * accumulation — bit-identical to the DuckDB oracle's fold). Norms are
    * separate so they can be precomputed per row (once) instead of per
    * candidate pair.
    */
  private[operators] val dotExpr = "vec_dot(qv, embedding)"
  private[operators] val normExpr = "vec_norm(embedding)"

  /** Brute-force cosine top-10 for each of 3 query vectors (vec_id 0..2)
    * against the rest of the corpus. The query side is broadcast (map-side
    * scoring, no corpus shuffle); ranking uses the bounded
    * [[graft.functions.TopKAggregator]] so only k candidates per query per
    * partition ever shuffle.
    */
  def qCosineTopK(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), expr(normExpr).as("nrm"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val scored = e.filter(col("vec_id") >= 3)
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        round(expr(dotExpr) / (col("qnrm") * col("nrm")), 4).as("cos_sim"))
    // ranking via the bounded top-k Aggregator: each map partition keeps
    // only k pairs per query, so the shuffle carries k rows per (query,
    // partition) instead of every scored row — the 100 TB shape (a window
    // row_number would shuffle + sort the full scored set). Tie-breaks
    // match row_number() OVER (ORDER BY cos_sim DESC, vec_id).
    TopKAggregator.ranked(scored, Seq("query_id"), 10, col("cos_sim"), col("vec_id"))
      .select(col("query_id"), col("id").as("vec_id"),
        col("score").as("cos_sim"), col("rk").cast("long").as("rk"))
      .orderBy("query_id", "rk")
  }

  val qCosineTopKOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |pairs AS (
      |  SELECT q.query_id, e.vec_id, unnest(q.qv)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3),
      |scored AS (
      |  SELECT query_id, vec_id,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY query_id, vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos_sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT query_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 10
      |ORDER BY query_id, rk""".stripMargin

  /** Near-duplicate embedding pairs within each label partition (IVF-style
    * coarse partitioning: `label` plays the centroid-assignment role).
    *
    * Pair generation is a TRIANGLE-BLOCKED same-label self-join: each
    * vector hashes into one of `blocks` sub-cells, and every unordered
    * block pair (lo, hi) is its own join key, so one hot label at 100 TB
    * decomposes into B(B+1)/2 bounded tasks of ~(cell/B)² work instead of
    * one O(cell²) task — the exact-output form of the SkewUtils salting
    * idiom (each side replicates B times; a pair meets at exactly one key,
    * enforced by the (block_a, block_b) = (lo, hi) filter). Unlike an
    * LSH-bucket candidate join this is lossless: the pair set is identical
    * to the naive self-join, so the oracle match is exact. B is derived
    * per label from the observed cell size (ceil(cell / blockTarget)), so
    * a block pair's work is bounded by ~blockTarget² regardless of how
    * skewed the labels are; recall stays 100% at any B.
    */
  def qEmbeddingNearDup(s: SparkSession, dir: String, blockTarget: Long = 4096L): DataFrame = {
    // Norms are precomputed per vector BEFORE the pair join: per-pair work
    // drops from three array folds to one (the dot product). Same double
    // arithmetic, so the oracle match is unaffected.
    graft.functions.VectorFunctions.register(s)
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"), expr(normExpr).as("nrm"))
    nearDupPairs(base, blockTarget)
  }

  /** The triangle-blocked pair kernel over any (vec_id, label, embedding,
    * nrm) frame — shared by the standard query and the hot-label bench
    * stress (which remaps labels to manufacture a pathological cell).
    */
  private[graft] def nearDupPairs(base: DataFrame, blockTarget: Long): DataFrame =
    scoredAllPairs(base, blockTarget)
      .filter(col("cos_sim") >= 0.3)
      .orderBy("id_a", "id_b")

  /** The same triangle-blocked kernel WITHOUT the near-dup threshold or
    * ordering: every unordered same-label pair (id_a < id_b) scored
    * exactly once. Consumers that need a directed pair stream (the kNN
    * edge builds) symmetrize the output — dot products commute
    * bit-exactly in IEEE, so emitting (b, a, cos) from the scored
    * (a, b, cos) row is identical to scoring the reverse pair, at half
    * the arithmetic. Crucially this also keeps the quadratic loop WIDE:
    * a plain same-label self-join hashes on the label column alone, and
    * with a model-sized label space (10 cells in the synthetic data)
    * that plan collapses to as many active tasks as there are labels —
    * the block grid re-keys the join on (label, lo, hi) so a hot cell
    * spreads over B(B+1)/2 tasks regardless of label cardinality.
    */
  private[graft] def scoredAllPairs(base: DataFrame, blockTarget: Long): DataFrame = {
    // Block counts adapt to the OBSERVED cells. The per-label count
    // surface is bounded by label cardinality — the IVF-cell count, a
    // model-sized quantity like the driver-held centroids, never
    // data-scale — so it is collected and folded into the plan as
    // literals instead of a pre-agg + broadcast join: the corpus is
    // scanned once for counting (a pruned label-only parquet scan) and
    // once for pairing, with zero join to attach block counts.
    val cellRows = base.groupBy("label").agg(count(lit(1)).as("cell_n")).collect()
    val needsBlocking = cellRows.exists(_.getLong(1) > blockTarget)
    val scored =
      if (!needsBlocking) {
        // fast path — every cell already fits a task: plain same-label
        // self-join, no replication columns, no meet filter
        val a = base.select(col("vec_id").as("id_a"), col("embedding").as("qv"),
          col("label"), col("nrm").as("nrm_a"))
        val b = base.select(col("vec_id").as("id_b"), col("embedding"),
          col("label"), col("nrm").as("nrm_b"))
        a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
      } else {
        // skewed path: a hot label gets ceil(cell / blockTarget) blocks
        // (cold labels stay at B=1, paying zero replication); every
        // unordered block pair (lo, hi) is its own join key, so the hot
        // cell decomposes into B(B+1)/2 bounded tasks. The lossless-meet
        // proof only needs B constant WITHIN a label, which the per-label
        // literal map guarantees.
        val nblkByLabel = cellRows.map { r =>
          r.getInt(0) -> math.max(1L, math.ceil(r.getLong(1).toDouble / blockTarget).toLong).toInt
        }.toMap
        val e = base
          .withColumn("nblk", coalesce(
            element_at(typedLit(nblkByLabel), col("label")), lit(1)))
          .withColumn("blk", pmod(hash(col("vec_id")), col("nblk")))
          // replicate each row once per peer block k; a pair (x in i, y in j)
          // meets exactly at key (min(i,j), max(i,j))
          .withColumn("k", explode(sequence(lit(0), col("nblk") - 1)))
          .withColumn("lo", least(col("blk"), col("k")))
          .withColumn("hi", greatest(col("blk"), col("k")))
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("qv"),
          col("label"), col("nrm").as("nrm_a"), col("blk").as("blk_a"), col("lo"), col("hi"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding"),
          col("label"), col("nrm").as("nrm_b"), col("blk").as("blk_b"), col("lo"), col("hi"))
        a.join(b, Seq("label", "lo", "hi"))
          // keep each pair exactly once: the two blocks must BE the key pair
          .filter((col("blk_a") === col("lo") && col("blk_b") === col("hi")) ||
                  (col("blk_a") === col("hi") && col("blk_b") === col("lo")))
          .filter(col("id_a") < col("id_b"))
      }
    scored
      .select(col("label"), col("id_a"), col("id_b"),
        round(expr(dotExpr) / (col("nrm_a") * col("nrm_b")), 4).as("cos_sim"))
  }

  val qEmbeddingNearDupOracle: String =
    """WITH pairs AS (
      |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
      |    unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT label, id_a, id_b,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY label, id_a, id_b)
      |SELECT label, id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.3
      |ORDER BY id_a, id_b""".stripMargin

  /** Random-hyperplane LSH bucketing: 8 deterministic pseudo-random
    * hyperplanes (components derived from index arithmetic, no RNG) hash
    * each vector to an 8-bit bucket; the query reports bucket occupancy —
    * the candidate-generation structure of approximate NN at scale.
    */
  // plane p, component j: ((p*131 + j*37) % 19) - 9 (deterministic,
  // zero-mean-ish). Planes are materialized as float-array literals and
  // dotted with the codegen'd vec_dot — the nested-HOF formulation paid
  // 8×64 interpreted lambda calls per row. Same index-order double
  // accumulation, so bucket assignment is reproducible in the DuckDB
  // oracle's CASE-sum form. Shared by qLshBuckets (occupancy report) and
  // qAnnNearDup (candidate generation).
  private[operators] def hyperplaneBucket: Column = hyperplaneBucket(8)

  /** [[hyperplaneBucket]] with an explicit plane count — for callers that
    * size the bucket space to the data (see [[planesFor]]).
    */
  private[operators] def hyperplaneBucket(nPlanes: Int): Column = {
    def planeSql(p: Int): String =
      (0 until 64).map(j => s"CAST(${(p * 131 + j * 37) % 19 - 9} AS FLOAT)")
        .mkString("array(", ", ", ")")
    (0 until nPlanes).map { p =>
      expr(s"CASE WHEN vec_dot(embedding, ${planeSql(p)}) > 0 " +
        s"THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    }.reduce(_ + _)
  }

  /** Data-sized hyperplane count: ⌈log₂⌈n / targetOcc⌉⌉ with an 8-plane
    * floor, i.e. enough planes that EXPECTED bucket occupancy stays
    * ~targetOcc as the corpus grows — the standard LSH sizing rule (a
    * fixed plane count saturates: at 100× the data every bucket holds
    * 100× the vectors and the bucket-blocked pair join grows
    * quadratically). Integer-exact (numberOfLeadingZeros, no float log):
    * DuckDB's `ceil(log2((n + 7) // 8))` lands on the same value at
    * every n because binary log of a power of two is exact in IEEE and
    * ceil can't cross an integer elsewhere. 8 planes at n ≤ 2048 keeps
    * the driver-SF bucket space (and every committed sf0.01/sf0.1
    * result) unchanged; sf1 gets 12 planes, sf10 gets 15.
    */
  private[operators] def planesFor(n: Long, targetOcc: Long = 8L): Int = {
    val cells = (n + targetOcc - 1) / targetOcc
    val np =
      if (cells <= 1L) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(cells - 1L)
    math.max(8, np.toInt)
  }

  def qLshBuckets(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
    e.select(col("vec_id"), col("label"), hyperplaneBucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), countDistinct("label").as("n_labels"))
      .orderBy("bucket")
  }

  val qLshBucketsOracle: String =
    """WITH comp AS (
      |  SELECT vec_id, label, p.p AS p,
      |    sum((e.emb[j.j + 1])::DOUBLE * ((p.p * 131 + j.j * 37) % 19 - 9)) AS dot
      |  FROM (SELECT vec_id, label, embedding AS emb FROM embeddings) e,
      |       range(8) AS p(p), range(64) AS j(j)
      |  GROUP BY vec_id, label, p.p),
      |buckets AS (
      |  SELECT vec_id, label,
      |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM comp GROUP BY vec_id, label)
      |SELECT bucket, count(*) AS n_vecs, count(DISTINCT label) AS n_labels
      |FROM buckets GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Approximate-NN near-dup: candidate pairs are generated by equality on
    * (label, hyperplane-bucket) — the sub-quadratic path the exact
    * triangle-block can't be. Where qEmbeddingNearDup bounds the *task*
    * size but still pays O(cell²) compute inside a label, this join only
    * scores pairs whose 8-bit random-hyperplane signatures collide, so the
    * compute surface is Σ bucket², a ~256× reduction under a uniform hash.
    * Recall is approximate by design (near pairs may straddle buckets; more
    * bands would raise it); because the planes are deterministic the exact
    * same candidate set is expressible in DuckDB, so this is oracle-checked
    * rather than rows-only.
    */
  def qAnnNearDup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"), expr(normExpr).as("nrm"),
        hyperplaneBucket.as("bucket"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("qv"),
      col("label"), col("bucket"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding"),
      col("label"), col("bucket"), col("nrm").as("nrm_b"))
    a.join(b, Seq("label", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("label"), col("id_a"), col("id_b"),
        round(expr(dotExpr) / (col("nrm_a") * col("nrm_b")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= 0.3)
      .orderBy("id_a", "id_b")
  }

  val qAnnNearDupOracle: String =
    """WITH comp AS (
      |  SELECT vec_id, label, p.p AS p,
      |    sum((e.emb[j.j + 1])::DOUBLE * ((p.p * 131 + j.j * 37) % 19 - 9)) AS dot
      |  FROM (SELECT vec_id, label, embedding AS emb FROM embeddings) e,
      |       range(8) AS p(p), range(64) AS j(j)
      |  GROUP BY vec_id, label, p.p),
      |buckets AS (
      |  SELECT vec_id, label,
      |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM comp GROUP BY vec_id, label),
      |cand AS (
      |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM buckets a JOIN buckets b
      |    ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |pairs AS (
      |  SELECT c.label, c.id_a, c.id_b,
      |    unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
      |  FROM cand c
      |  JOIN embeddings ea ON ea.vec_id = c.id_a
      |  JOIN embeddings eb ON eb.vec_id = c.id_b),
      |scored AS (
      |  SELECT label, id_a, id_b,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY label, id_a, id_b)
      |SELECT label, id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.3
      |ORDER BY id_a, id_b""".stripMargin

  /** The ANN-eval harness of [[qAnnRecall]], [[qMultiprobeRecall]] and
    * [[qNdcgEval]]: the 3-row query set `q` (query_id, qv, qnrm,
    * qbucket), the `corpus` (vec_id >= 3, with its 8-plane bucket), the
    * rounded-cosine scorer and the bounded top-10 ranking, so every arm
    * of every eval scores and ranks exactly like the oracle.
    */
  private final class AnnEval(s: SparkSession, dir: String) {
    graft.functions.VectorFunctions.register(s)
    private val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), expr(normExpr).as("nrm"),
        hyperplaneBucket.as("bucket"))
    val q: DataFrame = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("bucket").as("qbucket"))
    val corpus: DataFrame = e.filter(col("vec_id") >= 3)
    /** (query_id, vec_id, cos_sim) of each (query, corpus) row of `df`. */
    def score(df: DataFrame): DataFrame =
      df.select(col("query_id"), col("vec_id"),
        round(expr(dotExpr) / (col("qnrm") * col("nrm")), 4).as("cos_sim"))
    /** Per-query top-10 (query_id, rk, score, id) by (cos_sim DESC, vec_id). */
    def top10(scored: DataFrame): DataFrame =
      TopKAggregator.ranked(scored, Seq("query_id"), 10, col("cos_sim"), col("vec_id"))
    /** The exact top-10: every corpus row scored against every query. */
    def exact: DataFrame = top10(score(corpus.crossJoin(broadcast(q))))
    /** Single-probe candidates: corpus rows in the query's own bucket. */
    def bucketCand: DataFrame = corpus.join(broadcast(q), col("bucket") === col("qbucket"))
  }

  /** ANN quality measurement — recall@10 of the hyperplane-bucket search
    * against exact brute force, per query: the standard eval every
    * approximate index ships with, and the number that decides whether
    * the `q_ann_near_dup` scale path is usable for a given workload.
    * Candidates are corpus vectors sharing the query's 8-bit bucket;
    * both the exact and the ANN top-10 use the same rounded cosine and
    * the same bounded [[graft.functions.TopKAggregator]] ranking, so the
    * overlap count is exactly reproducible in the oracle.
    *
    * Scale shape: the query set broadcasts (3 rows); the exact arm is the
    * [[qCosineTopK]] map-side scoring pass, the ANN arm touches only the
    * bucket-collision fraction (~1/256 under a uniform hash), and the
    * recall join is over 10-row-per-query frames.
    */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val ev = new AnnEval(s, dir)
    val cand = ev.bucketCand
    val nCand = cand.groupBy("query_id").agg(count(lit(1)).as("n_candidates"))
    val hits = ev.exact.join(ev.top10(ev.score(cand)), Seq("query_id", "id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    ev.q.select("query_id")
      .join(nCand, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / 10.0, 4).as("recall4"))
      .orderBy("query_id")
  }

  val qAnnRecallOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |comp AS (
      |  SELECT vec_id, p.p AS p,
      |    sum((e.embedding[j.j + 1])::DOUBLE * ((p.p * 131 + j.j * 37) % 19 - 9)) AS dot
      |  FROM embeddings e, range(8) AS p(p), range(64) AS j(j)
      |  GROUP BY vec_id, p.p),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM comp GROUP BY vec_id),
      |pairs AS (
      |  SELECT q.query_id, e.vec_id, unnest(q.qv)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3),
      |scored AS (
      |  SELECT query_id, vec_id,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY query_id, vec_id),
      |exact10 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      |    FROM scored) WHERE rk <= 10),
      |cand AS (
      |  SELECT s.query_id, s.vec_id, s.cos_sim
      |  FROM scored s
      |  JOIN buckets bq ON bq.vec_id = s.query_id
      |  JOIN buckets bc ON bc.vec_id = s.vec_id AND bc.bucket = bq.bucket),
      |ann10 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      |    FROM cand) WHERE rk <= 10),
      |nc AS (SELECT query_id, count(*) AS n_candidates FROM cand GROUP BY query_id),
      |hits AS (
      |  SELECT e.query_id, count(*) AS n_hits
      |  FROM exact10 e JOIN ann10 a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
      |  GROUP BY e.query_id)
      |SELECT q.query_id,
      |  CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
      |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  round(coalesce(h.n_hits, 0) / 10.0, 4) AS recall4
      |FROM q LEFT JOIN nc ON nc.query_id = q.query_id
      |LEFT JOIN hits h ON h.query_id = q.query_id
      |ORDER BY q.query_id""".stripMargin

  /** Multi-probe LSH recall — the standard recall lever when adding hash
    * tables is too expensive (Lv et al., VLDB '07): probe the query's own
    * bucket PLUS its 8 single-bit-flip neighbors, on the grounds that a
    * near neighbor that missed the exact bucket most likely differs in
    * exactly one hyperplane sign. Reports, per query, the single-probe
    * and 9-probe candidate counts and recall@10 side by side — the
    * recall-vs-cost curve's two endpoints, measured on the same harness
    * as [[qAnnRecall]].
    *
    * Scale shape: the probe set is query-side only (9 rows per query, a
    * broadcast), so the corpus-side cost is the bucket-collision
    * fraction × 9 — still nothing like a scan; the exact arm, ranking,
    * and hit join are [[qAnnRecall]] verbatim.
    */
  def qMultiprobeRecall(s: SparkSession, dir: String): DataFrame = {
    val ev = new AnnEval(s, dir)
    val exact = ev.exact.select("query_id", "id").persist()
    // probe frame: the query's bucket plus each single-bit flip (p = 8
    // keeps the original bucket; p < 8 flips plane p's sign bit)
    val probes = ev.q.select(col("query_id"), col("qv"), col("qnrm"),
      explode(expr(
        "transform(sequence(0, 8), p -> CASE WHEN p = 8 THEN qbucket " +
          "ELSE CAST(qbucket ^ shiftleft(CAST(1 AS BIGINT), p) AS BIGINT) END)"))
        .as("probe"))
    def arm(cand: DataFrame, pfx: String): DataFrame = {
      val scored = ev.score(cand).distinct()
      val n = scored.groupBy("query_id").agg(count(lit(1)).as(s"n_cand_$pfx"))
      val hits = exact
        .join(ev.top10(scored), Seq("query_id", "id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as(s"n_hits_$pfx"))
      n.join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col(s"n_cand_$pfx"),
          round(coalesce(col(s"n_hits_$pfx"), lit(0L)) / 10.0, 4)
            .as(s"recall_$pfx"))
    }
    val single = arm(ev.bucketCand, "single")
    val multi = arm(ev.corpus.join(broadcast(probes), col("bucket") === col("probe")), "multi")
    ev.q.select("query_id")
      .join(single, Seq("query_id"), "left")
      .join(multi, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_cand_single"), lit(0L)).as("n_cand_single"),
        coalesce(col("recall_single"), lit(0.0)).as("recall_single"),
        coalesce(col("n_cand_multi"), lit(0L)).as("n_cand_multi"),
        coalesce(col("recall_multi"), lit(0.0)).as("recall_multi"))
      .orderBy("query_id")
  }

  val qMultiprobeRecallOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |comp AS (
      |  SELECT vec_id, p.p AS p,
      |    sum((e.embedding[j.j + 1])::DOUBLE * ((p.p * 131 + j.j * 37) % 19 - 9)) AS dot
      |  FROM embeddings e, range(8) AS p(p), range(64) AS j(j)
      |  GROUP BY vec_id, p.p),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM comp GROUP BY vec_id),
      |pairs AS (
      |  SELECT q.query_id, e.vec_id, unnest(q.qv)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3),
      |scored AS (
      |  SELECT query_id, vec_id,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY query_id, vec_id),
      |exact10 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      |    FROM scored) WHERE rk <= 10),
      |probes AS (
      |  SELECT bq.vec_id AS query_id,
      |    CASE WHEN p.p = 8 THEN bq.bucket
      |      ELSE CAST(xor(bq.bucket, CAST(1 AS BIGINT) << CAST(p.p AS INT)) AS BIGINT)
      |    END AS probe
      |  FROM buckets bq JOIN q ON q.query_id = bq.vec_id, range(9) AS p(p)),
      |cand_s AS (
      |  SELECT s.query_id, s.vec_id, s.cos_sim
      |  FROM scored s
      |  JOIN buckets bq ON bq.vec_id = s.query_id
      |  JOIN buckets bc ON bc.vec_id = s.vec_id AND bc.bucket = bq.bucket),
      |cand_m AS (
      |  SELECT DISTINCT s.query_id, s.vec_id, s.cos_sim
      |  FROM scored s
      |  JOIN probes pr ON pr.query_id = s.query_id
      |  JOIN buckets bc ON bc.vec_id = s.vec_id AND bc.bucket = pr.probe),
      |s10 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      |    FROM cand_s) WHERE rk <= 10),
      |m10 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      |    FROM cand_m) WHERE rk <= 10),
      |ns AS (SELECT query_id, count(*) AS n_cand_single FROM cand_s GROUP BY 1),
      |nm AS (SELECT query_id, count(*) AS n_cand_multi FROM cand_m GROUP BY 1),
      |hs AS (
      |  SELECT e.query_id, count(*) AS n_hits FROM exact10 e
      |  JOIN s10 a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
      |  GROUP BY 1),
      |hm AS (
      |  SELECT e.query_id, count(*) AS n_hits FROM exact10 e
      |  JOIN m10 a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
      |  GROUP BY 1)
      |SELECT q.query_id,
      |  coalesce(ns.n_cand_single, 0) AS n_cand_single,
      |  round(coalesce(hs.n_hits, 0) / 10.0, 4) AS recall_single,
      |  coalesce(nm.n_cand_multi, 0) AS n_cand_multi,
      |  round(coalesce(hm.n_hits, 0) / 10.0, 4) AS recall_multi
      |FROM q
      |LEFT JOIN ns ON ns.query_id = q.query_id
      |LEFT JOIN hs ON hs.query_id = q.query_id
      |LEFT JOIN nm ON nm.query_id = q.query_id
      |LEFT JOIN hm ON hm.query_id = q.query_id
      |ORDER BY q.query_id""".stripMargin

  /** NDCG@10 of the hyperplane-bucket ANN arm against the exact cosine
    * ranking — the graded companion to [[qAnnRecall]]'s set-overlap
    * recall: recall treats every exact top-10 member as equally valuable,
    * NDCG weights each retrieved item by its exact cosine (gain, clamped
    * at 0) discounted by log2(rank+1), so swapping the #1 neighbor for
    * the #10 costs more than swapping #9 for #11. DCG is the ANN top-10's
    * discounted gain, IDCG the exact top-10's (the ideal ordering by
    * construction), NDCG their ratio.
    *
    * Both arms rank by the same rounded cosine with vec_id tie-break and
    * the same bounded [[graft.functions.TopKAggregator]], so gains and
    * ranks are exactly reproducible in the oracle.
    *
    * Scale shape: identical to [[qAnnRecall]] — the 3-row query set
    * broadcasts, the exact arm is a map-side scoring pass, the ANN arm
    * touches only the bucket-collision fraction, and the DCG sums fold
    * 10-row-per-query frames.
    */
  def qNdcgEval(s: SparkSession, dir: String): DataFrame = {
    val ev = new AnnEval(s, dir)
    // gain = the ranked cosine, discounted by log2(rank + 1)
    def dcg(ranked: DataFrame, out: String): DataFrame =
      ranked.groupBy("query_id").agg(
        sum(greatest(col("score"), lit(0.0)) / log2(col("rk").cast("double") + 1.0))
          .as(out))
    val ideal = dcg(ev.exact, "idcg")
    val ann = dcg(ev.top10(ev.score(ev.bucketCand)), "dcg")
    ideal.join(ann, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("dcg"), lit(0.0)), 4).as("dcg4"),
        round(col("idcg"), 4).as("idcg4"),
        round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 4).as("ndcg4"))
      .orderBy("query_id")
  }

  val qNdcgEvalOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |comp AS (
      |  SELECT vec_id, p.p AS p,
      |    sum((e.embedding[j.j + 1])::DOUBLE * ((p.p * 131 + j.j * 37) % 19 - 9)) AS dot
      |  FROM embeddings e, range(8) AS p(p), range(64) AS j(j)
      |  GROUP BY vec_id, p.p),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM comp GROUP BY vec_id),
      |pairs AS (
      |  SELECT q.query_id, e.vec_id, unnest(q.qv)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3),
      |scored AS (
      |  SELECT query_id, vec_id,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY query_id, vec_id),
      |exact10 AS (
      |  SELECT query_id, vec_id, cos_sim, rk FROM (
      |    SELECT query_id, vec_id, cos_sim,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      |    FROM scored) WHERE rk <= 10),
      |ann10 AS (
      |  SELECT query_id, vec_id, cos_sim, rk FROM (
      |    SELECT s.query_id, s.vec_id, s.cos_sim,
      |      row_number() OVER (PARTITION BY s.query_id ORDER BY s.cos_sim DESC, s.vec_id) AS rk
      |    FROM scored s
      |    JOIN buckets bq ON bq.vec_id = s.query_id
      |    JOIN buckets bc ON bc.vec_id = s.vec_id AND bc.bucket = bq.bucket)
      |  WHERE rk <= 10),
      |idcg AS (
      |  SELECT query_id, sum(greatest(cos_sim, 0) / log2(rk + 1.0)) AS idcg
      |  FROM exact10 GROUP BY query_id),
      |adcg AS (
      |  SELECT query_id, sum(greatest(cos_sim, 0) / log2(rk + 1.0)) AS dcg
      |  FROM ann10 GROUP BY query_id)
      |SELECT i.query_id,
      |  round(coalesce(a.dcg, 0), 4) AS dcg4,
      |  round(i.idcg, 4) AS idcg4,
      |  round(coalesce(a.dcg, 0) / i.idcg, 4) AS ndcg4
      |FROM idcg i LEFT JOIN adcg a ON a.query_id = i.query_id
      |ORDER BY i.query_id""".stripMargin

  /** Product-quantization encode — the codebook half of a real ANN index
    * (IVF-PQ): dim 64 splits into M=8 subspaces of 8 dims; each subvector
    * is assigned to its nearest of 8 deterministic sub-centroids (the
    * first 8 vectors' corresponding subvectors) by squared-L2 argmin, so
    * every vector compresses to an 8-byte code. Distances are fixed-point
    * (×1e6, rounded to integer) BEFORE the argmin, so the assignment
    * boundary is deterministic on both engines. Output: per (subspace,
    * code) occupancy and the integer distance checksum — the codebook
    * utilization stats a PQ build reports.
    *
    * Scale shape: one corpus-owning stage (posexplode + 512-row codebook
    * broadcast + two map-side-combined aggregates); the codebook is
    * model-sized (M × K × dims/M = 512 rows) exactly like the IVF
    * centroid literals. Nothing pairs corpus×corpus.
    */
  /** PQ codebook rows (m, c, j, y): subspace m, code c, within-subspace
    * dim j, component y — driver-held because K and M are hyperparameters,
    * never data-scale (same justification as seedCentroids).
    */
  private def pqCodebook(e: DataFrame): Seq[(Int, Long, Int, Double)] =
    e.filter(col("vec_id") < 8)
      .select("vec_id", "embedding").collect().toSeq
      .flatMap { r =>
        val c = r.getLong(0)
        val emb = r.getSeq[Float](1)
        for (m <- 0 until 8; j <- 0 until 8)
          yield (m, c, j, emb(m * 8 + j).toDouble)
      }

  /** Encode the non-codebook corpus: one (vec_id, m, code, d2i) row per
    * vector per subspace — squared-L2 argmin over the broadcast codebook,
    * distances fixed-point (×1e6) BEFORE the argmin so the boundary is
    * deterministic on both engines.
    */
  private def pqCodes(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    val cents = pqCodebook(e).toDF("m", "c", "j", "y")
    val x = e.filter(col("vec_id") >= 8)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"),
        (col("pos") / 8).cast("int").as("m"), (col("pos") % 8).as("j"),
        col("xf").cast("double").as("x"))
    val d = x.join(broadcast(cents), Seq("m", "j"))
      .groupBy("vec_id", "m", "c")
      .agg(round(sum((col("x") - col("y")) * (col("x") - col("y"))) * 1000000)
        .cast("long").as("d2i"))
    d.groupBy("vec_id", "m")
      .agg(min(struct(col("d2i"), col("c"))).as("best"))
      .select(col("vec_id"), col("m"),
        col("best.c").as("code"), col("best.d2i").as("d2i"))
  }

  def qPqEncode(s: SparkSession, dir: String): DataFrame =
    pqCodes(s, t(s, dir, "embeddings"))
      .groupBy(col("m").cast("long").as("subspace"), col("code"))
      .agg(count(lit(1)).as("n_vecs"), sum("d2i").as("sum_d2i"))
      .orderBy("subspace", "code")

  /** Shared oracle CTEs: codebook, corpus components, per-subspace
    * distances, and the argmin code assignment.
    */
  private val pqCodeCtes: String =
    """cent AS (
      |  SELECT vec_id AS c, m.m AS m, j.j AS j,
      |    (embedding[m.m * 8 + j.j + 1])::DOUBLE AS y
      |  FROM embeddings, range(8) AS m(m), range(8) AS j(j) WHERE vec_id < 8),
      |x AS (
      |  SELECT vec_id, m.m AS m, j.j AS j,
      |    (embedding[m.m * 8 + j.j + 1])::DOUBLE AS x
      |  FROM embeddings, range(8) AS m(m), range(8) AS j(j) WHERE vec_id >= 8),
      |d AS (
      |  SELECT x.vec_id, x.m, cent.c,
      |    CAST(round(sum((x.x - cent.y) * (x.x - cent.y)) * 1000000) AS BIGINT) AS d2i
      |  FROM x JOIN cent ON cent.m = x.m AND cent.j = x.j
      |  GROUP BY x.vec_id, x.m, cent.c),
      |code AS (
      |  SELECT vec_id, m, c AS code, d2i FROM (
      |    SELECT vec_id, m, c, d2i,
      |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2i, c) AS rk
      |    FROM d) WHERE rk = 1)""".stripMargin

  val qPqEncodeOracle: String =
    s"""WITH $pqCodeCtes
      |SELECT m AS subspace, code, count(*) AS n_vecs,
      |  CAST(sum(d2i) AS BIGINT) AS sum_d2i
      |FROM code GROUP BY m, code ORDER BY subspace, code""".stripMargin

  /** PQ ADC search — the query-time half of the IVF-PQ index: each query
    * builds an 8×8 distance table against the codebook (driver-side, 192
    * fixed-point entries — the lookup table a real ADC scan holds in
    * registers), then every encoded corpus vector is scored as the SUM of
    * its 8 codes' table entries and the top-5 nearest are ranked. This is
    * the approximation that makes billion-vector search affordable: the
    * scan reads 8 bytes per vector (the codes), never the 64 floats.
    *
    * Scale shape: the distance table broadcasts (query-count × 64 rows);
    * scoring is one key-equality join + a (query, vec) sum — map-side
    * combined; ranking is the bounded [[graft.functions.TopKAggregator]]
    * (negated distance, so asc-distance/asc-id ties match the oracle's
    * `ORDER BY d2i, vec_id`).
    */
  def qPqSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val book = pqCodebook(e)
    // per-query distance table, driver-computed with the SAME j-order
    // double accumulation and ×1e6 fixed-point as the encode side
    val queries = e.filter(col("vec_id") < 3)
      .select("vec_id", "embedding").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val dt = (for {
      (qid, qv) <- queries
      ((m, c), entries) <- book.groupBy(bc => (bc._1, bc._2)).toSeq
    } yield {
      var acc = 0.0
      entries.sortBy(_._3).foreach { case (_, _, j, y) =>
        val diff = qv(m * 8 + j).toDouble - y
        acc += diff * diff
      }
      (qid, m, c, math.round(acc * 1000000))
    }).toDF("query_id", "m", "code", "qd2i")
    val adc = pqCodes(s, e)
      .join(broadcast(dt), Seq("m", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum("qd2i").as("d2i"))
    TopKAggregator.ranked(adc, Seq("query_id"), 5,
        (-col("d2i")).cast("double"), col("vec_id"))
      .select(col("query_id"), col("id").as("vec_id"),
        (-col("score")).cast("long").as("d2i"), col("rk").cast("long").as("rk"))
      .orderBy("query_id", "rk")
  }

  val qPqSearchOracle: String =
    s"""WITH $pqCodeCtes,
      |q AS (
      |  SELECT vec_id AS query_id, m.m AS m, j.j AS j,
      |    (embedding[m.m * 8 + j.j + 1])::DOUBLE AS x
      |  FROM embeddings, range(8) AS m(m), range(8) AS j(j) WHERE vec_id < 3),
      |dt AS (
      |  SELECT q.query_id, q.m, cent.c AS code,
      |    CAST(round(sum((q.x - cent.y) * (q.x - cent.y)) * 1000000) AS BIGINT) AS qd2i
      |  FROM q JOIN cent ON cent.m = q.m AND cent.j = q.j
      |  GROUP BY q.query_id, q.m, cent.c),
      |adc AS (
      |  SELECT dt.query_id, code.vec_id, CAST(sum(dt.qd2i) AS BIGINT) AS d2i
      |  FROM code JOIN dt ON dt.m = code.m AND dt.code = code.code
      |  GROUP BY dt.query_id, code.vec_id)
      |SELECT query_id, vec_id, d2i, rk FROM (
      |  SELECT query_id, vec_id, d2i,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d2i, vec_id) AS rk
      |  FROM adc) WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** The FULL IVF-PQ index query — [[qIvfSearch]]'s cell restriction
    * composed with [[qPqSearch]]'s ADC scoring, i.e. what a production
    * billion-vector index (FAISS IVFPQ) actually executes: each query
    * probes its nprobe=2 nearest coarse cells, and ONLY the corpus
    * vectors assigned to those cells are scored — by summing 8 distance-
    * table entries per vector (8 bytes of codes read), never the floats.
    * Scale shape: candidate surface = nprobe/K of the corpus regardless
    * of corpus size (the IVF term) × 8-byte reads per candidate (the PQ
    * term); the distance table is queries × 64 fixed-point rows
    * broadcast, and ranking is the bounded top-k aggregator.
    */
  def qIvfPqSearch(s: SparkSession, dir: String, nprobe: Int = 2, k: Int = 5): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val en = e.select(col("vec_id"), col("embedding"), expr(normExpr).as("nrm"))
    val scores = centScores(seedCentroids(en))
    val assigned = en.filter(col("vec_id") >= 8)
      .select(col("vec_id"), array_max(scores).getField("cent_id").as("cent_id"))
    val probes = en.filter(col("vec_id") >= 8 && col("vec_id") < 11)
      .select(col("vec_id").as("query_id"),
        explode(transform(slice(sort_array(scores, asc = false), 1, nprobe),
          x => x.getField("cent_id"))).as("cent_id"))
    val cand = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    // ADC distance table for the probe queries — driver-computed with the
    // same j-order accumulation + fixed point as the encode side
    val book = pqCodebook(e)
    val queries = e.filter(col("vec_id") >= 8 && col("vec_id") < 11)
      .select("vec_id", "embedding").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val dt = (for {
      (qid, qv) <- queries
      ((m, c), entries) <- book.groupBy(bc => (bc._1, bc._2)).toSeq
    } yield {
      var acc = 0.0
      entries.sortBy(_._3).foreach { case (_, _, j, y) =>
        val diff = qv(m * 8 + j).toDouble - y
        acc += diff * diff
      }
      (qid, m, c, math.round(acc * 1000000))
    }).toDF("query_id", "m", "code", "qd2i")
    val adc = pqCodes(s, e)
      .join(cand, Seq("vec_id"))
      .join(broadcast(dt), Seq("query_id", "m", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum("qd2i").as("d2i"))
    TopKAggregator.ranked(adc, Seq("query_id"), k,
        (-col("d2i")).cast("double"), col("vec_id"))
      .select(col("query_id"), col("id").as("vec_id"),
        (-col("score")).cast("long").as("d2i"), col("rk").cast("long").as("rk"))
      .orderBy("query_id", "rk")
  }

  val qIvfPqSearchOracle: String =
    s"""WITH $pqCodeCtes,
      |ivfcent AS (
      |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      |cpairs AS (
      |  SELECT e.vec_id, c.cent_id,
      |    unnest(e.embedding)::DOUBLE AS x, unnest(c.cv)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN ivfcent c WHERE e.vec_id >= 8),
      |cscored AS (
      |  SELECT vec_id, cent_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
      |  FROM cpairs GROUP BY vec_id, cent_id),
      |assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT vec_id, cent_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
      |    FROM cscored) a WHERE rk = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cent_id FROM (
      |    SELECT vec_id, cent_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
      |    FROM cscored WHERE vec_id BETWEEN 8 AND 10) p WHERE rk <= 2),
      |cnd AS (
      |  SELECT p.query_id, a.vec_id
      |  FROM probes p JOIN assigned a
      |    ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id),
      |q AS (
      |  SELECT vec_id AS query_id, m.m AS m, j.j AS j,
      |    (embedding[m.m * 8 + j.j + 1])::DOUBLE AS x
      |  FROM embeddings, range(8) AS m(m), range(8) AS j(j)
      |  WHERE vec_id BETWEEN 8 AND 10),
      |dt AS (
      |  SELECT q.query_id, q.m, cent.c AS code,
      |    CAST(round(sum((q.x - cent.y) * (q.x - cent.y)) * 1000000) AS BIGINT) AS qd2i
      |  FROM q JOIN cent ON cent.m = q.m AND cent.j = q.j
      |  GROUP BY q.query_id, q.m, cent.c),
      |adc AS (
      |  SELECT c2.query_id, code.vec_id, CAST(sum(dt.qd2i) AS BIGINT) AS d2i
      |  FROM cnd c2
      |  JOIN code ON code.vec_id = c2.vec_id
      |  JOIN dt ON dt.query_id = c2.query_id
      |         AND dt.m = code.m AND dt.code = code.code
      |  GROUP BY c2.query_id, code.vec_id)
      |SELECT query_id, vec_id, d2i, rk FROM (
      |  SELECT query_id, vec_id, d2i,
      |    row_number() OVER (PARTITION BY query_id ORDER BY d2i, vec_id) AS rk
      |  FROM adc) WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** Embedding DRIFT MONITORING — the check a production feature store
    * runs between a reference window and the current window ("did the
    * encoder or the data shift?"): per label, the L1 distance between the
    * two windows' mean vectors. Windows here are the deterministic
    * vec_id-parity split. All arithmetic is FIXED-POINT (components
    * ×10000 and rounded before summing; per-dimension mean deltas ×10000
    * again before the final sum) so the drift score is an
    * order-independent integer — reproducible under any 100 TB shuffle
    * partitioning, same trick as [[qKmeansStep]]. One posexplode + one
    * (label, dim) aggregate + one 64-row-per-label rollup; no joins.
    */
  def qEmbeddingDrift(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), (col("vec_id") % 2 === 0).as("ref"),
        posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("label"), col("ref"), col("pos"),
        round(col("xf").cast("double") * 10000).cast("long").as("xfix"))
      .groupBy("label", "pos")
      .agg(sum(when(col("ref"), col("xfix"))).as("sum_ref"),
        count(when(col("ref"), lit(1))).as("n_ref"),
        sum(when(!col("ref"), col("xfix"))).as("sum_cur"),
        count(when(!col("ref"), lit(1))).as("n_cur"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
      .select(col("label"), col("n_ref"), col("n_cur"),
        round(abs(col("sum_ref") / col("n_ref").cast("double") -
          col("sum_cur") / col("n_cur").cast("double"))).cast("long").as("dfix"))
      .groupBy("label")
      .agg(first("n_ref").as("n_ref"), first("n_cur").as("n_cur"),
        sum("dfix").as("drift_l1_fix"))
      .orderBy("label")

  val qEmbeddingDriftOracle: String =
    """WITH comp AS (
      |  SELECT label, vec_id % 2 = 0 AS ref, i.i AS pos,
      |    CAST(round((embedding[i.i + 1])::DOUBLE * 10000) AS BIGINT) AS xfix
      |  FROM embeddings, range(64) AS i(i)),
      |dims AS (
      |  SELECT label, pos,
      |    sum(CASE WHEN ref THEN xfix END) AS sum_ref,
      |    count(CASE WHEN ref THEN 1 END) AS n_ref,
      |    sum(CASE WHEN NOT ref THEN xfix END) AS sum_cur,
      |    count(CASE WHEN NOT ref THEN 1 END) AS n_cur
      |  FROM comp GROUP BY label, pos
      |  HAVING count(CASE WHEN ref THEN 1 END) > 0
      |     AND count(CASE WHEN NOT ref THEN 1 END) > 0)
      |SELECT label, CAST(min(n_ref) AS BIGINT) AS n_ref,
      |  CAST(min(n_cur) AS BIGINT) AS n_cur,
      |  CAST(sum(CAST(round(abs(sum_ref / CAST(n_ref AS DOUBLE) -
      |    sum_cur / CAST(n_cur AS DOUBLE))) AS BIGINT)) AS BIGINT) AS drift_l1_fix
      |FROM dims GROUP BY label ORDER BY label""".stripMargin

  /** The K=8 seed centroids (first 8 vectors) pulled to the driver — the
    * bounded-row shape every distributed k-means uses between Lloyd
    * iterations (MLlib holds centroids on the driver too): K is a model
    * hyperparameter, never data-scale. The norm replicates vec_norm's
    * left-to-right double accumulation exactly, so literal-side arithmetic
    * is bit-identical to the expression path (and the DuckDB oracle).
    */
  private[operators] def seedCentroids(e: DataFrame): Seq[(Long, Seq[Float], Double)] =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .collect().toSeq
      .map { r =>
        val cs = r.getSeq[Float](1)
        var acc = 0.0
        cs.foreach(x => acc += x.toDouble * x.toDouble)
        (r.getLong(0), cs, math.sqrt(acc))
      }.sortBy(_._1)

  /** Per-row centroid scores as an array<struct(cos, nc, cent_id)> over
    * LITERAL centroids: assignment/probing is a narrow per-row expression —
    * zero corpus shuffle, no K× row replication, no window sort (the
    * previous formulation window-ranked corpus×K rows, a needless
    * corpus-wide exchange at scale). Struct max order = (cos desc, then
    * nc = -cent_id desc ⇒ smallest cent_id), matching the oracle's
    * `ORDER BY cos DESC, cent_id` tie-break. Needs `embedding`, `nrm`.
    */
  private[operators] def centScores(cents: Seq[(Long, Seq[Float], Double)]): Column =
    array(cents.map { case (id, cs, cnrm) =>
      struct(
        call_function("vec_dot", col("embedding"), typedLit(cs))
          .divide(lit(cnrm) * col("nrm")).as("cos"),
        lit(-id).as("nc"), lit(id).as("cent_id"))
    }: _*)

  /** IVF coarse-quantizer assignment: each corpus vector is assigned to
    * its nearest of K=8 deterministic seed centroids (the first 8 vectors)
    * by cosine argmax — the k-means-assignment step that builds a real IVF
    * index (where qEmbeddingNearDup uses `label` as a stand-in cell key).
    * Centroids are driver-held literals ([[seedCentroids]]), so scoring +
    * argmax is one narrow codegen'd projection; the only shuffle is the
    * 8-group final aggregate. Per-cell occupancy plus an EXACT integer
    * checksum of assigned similarities (4dp-scaled sum —
    * order-independent, unlike a float avg).
    */
  def qIvfAssign(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), expr(normExpr).as("nrm"))
    val best = array_max(centScores(seedCentroids(e)))
    e.filter(col("vec_id") >= 8)
      .select(col("vec_id"), best.getField("cent_id").as("cent_id"),
        best.getField("cos").as("cos"))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col("cos") * 10000).cast("long")).as("sum_cos4"))
      .orderBy("cent_id")
  }

  val qIvfAssignOracle: String =
    """WITH cent AS (
      |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      |pairs AS (
      |  SELECT e.vec_id, c.cent_id,
      |    unnest(e.embedding)::DOUBLE AS x, unnest(c.cv)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 8),
      |scored AS (
      |  SELECT vec_id, cent_id,
      |    sum(x * y) / (sqrt(sum(y * y)) * sqrt(sum(x * x))) AS cos
      |  FROM pairs GROUP BY vec_id, cent_id),
      |assigned AS (
      |  SELECT vec_id, cent_id, cos,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
      |  FROM scored)
      |SELECT cent_id, count(*) AS n_vecs,
      |  CAST(sum(CAST(round(cos * 10000) AS BIGINT)) AS BIGINT) AS sum_cos4
      |FROM assigned WHERE rk = 1
      |GROUP BY cent_id ORDER BY cent_id""".stripMargin

  /** IVF top-k SEARCH — the query-time half of the IVF index whose build
    * step is [[qIvfAssign]]: each query ranks the K=8 coarse centroids,
    * probes its `nprobe`=2 nearest cells, and exact-scores ONLY the
    * corpus vectors assigned to those cells. Scale shape: centroids are
    * driver-held literals ([[seedCentroids]]) so assignment and probe
    * selection are narrow per-row expressions; the probe is a broadcast
    * key-equality join on cent_id — the fraction of the corpus touched is
    * nprobe/K regardless of corpus size, which is the entire point of IVF
    * at 100 TB. Ranking uses the bounded
    * [[graft.functions.TopKAggregator]] (k rows per query per partition
    * shuffle, same as [[qCosineTopK]]).
    */
  def qIvfSearch(s: SparkSession, dir: String, nprobe: Int = 2, k: Int = 5): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), expr(normExpr).as("nrm"))
    val scores = centScores(seedCentroids(e))
    // corpus→cell assignment: narrow argmax over literal centroids —
    // identical arithmetic + tie-break to qIvfAssign, so the index agrees
    val assigned = e.filter(col("vec_id") >= 8)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        array_max(scores).getField("cent_id").as("cent_id"))
    // query→probe-cell list: sort the same score array desc, take the top
    // nprobe cells — still narrow, one row per (query, probed cell)
    val probes = e.filter(col("vec_id") >= 8 && col("vec_id") < 11)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"),
        explode(transform(slice(sort_array(scores, asc = false), 1, nprobe),
          x => x.getField("cent_id"))).as("cent_id"))
    // probe join: corpus side keyed by its assigned cell; query side is
    // tiny (queries × nprobe) and broadcast — only nprobe/K of the corpus
    // is ever scored
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr(dotExpr) / (col("qnrm") * col("nrm")), 4).as("cos_sim"))
    TopKAggregator.ranked(scored, Seq("query_id"), k, col("cos_sim"), col("vec_id"))
      .select(col("query_id"), col("id").as("vec_id"),
        col("score").as("cos_sim"), col("rk").cast("long").as("rk"))
      .orderBy("query_id", "rk")
  }

  val qIvfSearchOracle: String =
    """WITH cent AS (
      |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      |cpairs AS (
      |  SELECT e.vec_id, c.cent_id,
      |    unnest(e.embedding)::DOUBLE AS x, unnest(c.cv)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 8),
      |cscored AS (
      |  SELECT vec_id, cent_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
      |  FROM cpairs GROUP BY vec_id, cent_id),
      |assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT vec_id, cent_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
      |    FROM cscored) a WHERE rk = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cent_id FROM (
      |    SELECT vec_id, cent_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
      |    FROM cscored WHERE vec_id BETWEEN 8 AND 10) p WHERE rk <= 2),
      |cand AS (
      |  SELECT p.query_id, a.vec_id
      |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id),
      |qpairs AS (
      |  SELECT c.query_id, c.vec_id,
      |    unnest(eq.embedding)::DOUBLE AS x, unnest(ev.embedding)::DOUBLE AS y
      |  FROM cand c
      |  JOIN embeddings eq ON eq.vec_id = c.query_id
      |  JOIN embeddings ev ON ev.vec_id = c.vec_id),
      |qscored AS (
      |  SELECT query_id, vec_id,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM qpairs GROUP BY query_id, vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos_sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      |  FROM qscored)
      |SELECT query_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** One Lloyd (k-means) iteration over the IVF coarse quantizer: assign
    * every corpus vector to its nearest seed centroid (identical to
    * [[qIvfAssign]]) and re-accumulate the centroid sums. Accumulation is
    * FIXED-POINT (each float component is exactly widened to double,
    * scaled ×10000 and rounded to an integer BEFORE summing) so the
    * update is order-independent — a float sum over a shuffled 100 TB
    * partitioning is not reproducible, an integer sum is. This is the
    * deterministic-distributed-k-means trick, and what makes the step
    * oracle-checkable bit-for-bit. Output: per-centroid member count and
    * the fixed-point sums of the first 3 dimensions (the new centroid is
    * sum/n in 1e-4 units).
    */
  def qKmeansStep(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), expr(normExpr).as("nrm"))
    val best = array_max(centScores(seedCentroids(e)))
    e.filter(col("vec_id") >= 8)
      .select(col("embedding"), best.getField("cent_id").as("cent_id"))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(element_at(col("embedding"), 1).cast("double") * 10000).cast("long")).as("sum_d1"),
        sum(round(element_at(col("embedding"), 2).cast("double") * 10000).cast("long")).as("sum_d2"),
        sum(round(element_at(col("embedding"), 3).cast("double") * 10000).cast("long")).as("sum_d3"))
      .orderBy("cent_id")
  }

  val qKmeansStepOracle: String =
    """WITH cent AS (
      |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      |pairs AS (
      |  SELECT e.vec_id, c.cent_id,
      |    unnest(e.embedding)::DOUBLE AS x, unnest(c.cv)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 8),
      |scored AS (
      |  SELECT vec_id, cent_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
      |  FROM pairs GROUP BY vec_id, cent_id),
      |assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT vec_id, cent_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
      |    FROM scored) a WHERE rk = 1)
      |SELECT a.cent_id, count(*) AS n_vecs,
      |  CAST(sum(CAST(round(e.embedding[1]::DOUBLE * 10000) AS BIGINT)) AS BIGINT) AS sum_d1,
      |  CAST(sum(CAST(round(e.embedding[2]::DOUBLE * 10000) AS BIGINT)) AS BIGINT) AS sum_d2,
      |  CAST(sum(CAST(round(e.embedding[3]::DOUBLE * 10000) AS BIGINT)) AS BIGINT) AS sum_d3
      |FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
      |GROUP BY a.cent_id ORDER BY a.cent_id""".stripMargin

  /** Per-vector int8 quantization (min/max affine, 0..255): the storage
    * transform that shrinks a 100 TB float corpus 4×. Output keeps the
    * exact per-vector range and the INTEGER sum of quantized codes —
    * integer arithmetic, so the check is order-independent and exact.
    */
  def qQuantize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("array_min(transform(embedding, x -> CAST(x AS DOUBLE)))").as("mn"),
        expr("array_max(transform(embedding, x -> CAST(x AS DOUBLE)))").as("mx"),
        col("embedding"))
      .select(col("vec_id"), col("mn"), col("mx"),
        expr("""CASE WHEN mx = mn THEN 0L ELSE
          | aggregate(embedding, 0L,
          |   (acc, x) -> acc + floor((CAST(x AS DOUBLE) - mn) / ((mx - mn) / 255.0D) + 0.5D))
          |END""".stripMargin).as("q_sum"))
      .orderBy("vec_id")

  val qQuantizeOracle: String =
    """SELECT vec_id,
      | list_min(list_transform(embedding, x -> x::DOUBLE)) AS mn,
      | list_max(list_transform(embedding, x -> x::DOUBLE)) AS mx,
      | CASE WHEN list_max(list_transform(embedding, x -> x::DOUBLE)) = list_min(list_transform(embedding, x -> x::DOUBLE)) THEN 0
      |  ELSE CAST(list_sum(list_transform(embedding, x ->
      |    floor((x::DOUBLE - list_min(list_transform(embedding, y -> y::DOUBLE)))
      |      / ((list_max(list_transform(embedding, y -> y::DOUBLE)) - list_min(list_transform(embedding, y -> y::DOUBLE))) / 255.0) + 0.5))) AS BIGINT)
      | END AS q_sum
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** One distributed power-iteration step toward the embedding corpus's
    * top principal direction: with v₀ = 1 (uniform), compute
    * s_i = Σ_d x_{id} per vector and y = Σ_i s_i·x_i per dimension —
    * i.e. y = (XᵀX)·v₀ without ever materializing XᵀX — then normalize.
    * The PCA/spectral analogue of [[qKmeansStep]]: the Lloyd/power loop
    * both reduce to "one narrow pass + a model-sized aggregate per
    * round", which is why they scale to any corpus.
    *
    * All accumulation is fixed-point: each element rounds to round(x·10⁴)
    * BEFORE any sum, so the per-vector fold and the per-dimension sums
    * are exact integer arithmetic — order-independent and bit-identical
    * in the oracle; sqrt/divide touch only the final 64-row vector.
    * |y_d| ≤ n·d·(10⁴·max|x|)² keeps longs safe through ~10⁹ vectors;
    * a production variant drops the rounding and accepts float drift.
    *
    * Scale shape: one posexplode (narrow), a vec-keyed window sum (the
    * single data-sized shuffle), a 64-group map-side-combined aggregate.
    * No vector ever pairs with another vector.
    */
  def qPowerIteration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x4 = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        round(col("x").cast("double") * 10000).cast("long").as("x4"))
    val withS = x4.withColumn("s", sum("x4").over(Window.partitionBy("vec_id")))
    val y = withS.groupBy("dim").agg(sum(col("s") * col("x4")).as("y"))
    y.withColumn("nrm",
        sqrt(sum(col("y").cast("double") * col("y").cast("double"))
          .over(Window.partitionBy())))
      .select(col("dim"), col("y"), round(col("y") / col("nrm"), 4).as("v1"))
      .orderBy("dim")
  }

  val qPowerIterationOracle: String =
    """WITH x4 AS (
      |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS dim,
      |    CAST(round(unnest(embedding)::DOUBLE * 10000) AS BIGINT) AS x4
      |  FROM embeddings),
      |ws AS (SELECT dim, x4, sum(x4) OVER (PARTITION BY vec_id) AS s FROM x4),
      |y AS (SELECT dim, CAST(sum(s * x4) AS BIGINT) AS y FROM ws GROUP BY dim)
      |SELECT dim, y, round(y / sqrt(sum(y::DOUBLE * y::DOUBLE) OVER ()), 4) AS v1
      |FROM y ORDER BY dim""".stripMargin

  /** Per-dimension feature standardization stats: mean and sample stddev
    * of every embedding dimension (rounded 4dp), plus how many vectors
    * sit beyond |z| > 3 in that dimension — the z-score normalization /
    * outlier screen that precedes training on a feature column. Outliers
    * are counted against the ROUNDED moments on both engines, so the
    * boundary is deterministic; a (near-)constant dimension whose rounded
    * std is 0 counts zero outliers on BOTH engines (the z-score is gated
    * on std4 > 0 — without the gate Spark's Divide yields NULL while
    * DuckDB's IEEE division yields inf, a silent engine divergence).
    *
    * Scale shape: one posexplode feeding a 64-group aggregate (map-side
    * combined), the 64-row moment table broadcast back over a second
    * narrow pass. The element surface shuffles only as 64 partial-agg
    * rows per task.
    */
  def qFeatureNorm(s: SparkSession, dir: String): DataFrame = {
    val x = t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("dim"), col("x").cast("double").as("x"))
    val moments = x.groupBy("dim").agg(
      round(avg("x"), 4).as("mean4"), round(stddev_samp("x"), 4).as("std4"))
    x.join(broadcast(moments), Seq("dim"))
      .groupBy("dim").agg(
        first("mean4").as("mean4"), first("std4").as("std4"),
        sum(when(col("std4") > 0 &&
            abs(col("x") - col("mean4")) / col("std4") > 3.0, 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("dim")
  }

  val qFeatureNormOracle: String =
    """WITH x AS (
      |  SELECT unnest(range(1, len(embedding) + 1)) AS dim,
      |    unnest(embedding)::DOUBLE AS x
      |  FROM embeddings),
      |m AS (
      |  SELECT dim, round(avg(x), 4) AS mean4, round(stddev_samp(x), 4) AS std4
      |  FROM x GROUP BY dim)
      |SELECT x.dim, m.mean4, m.std4,
      |  CAST(sum(CASE WHEN std4 > 0 AND abs(x - mean4) / std4 > 3.0
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM x JOIN m ON m.dim = x.dim
      |GROUP BY x.dim, m.mean4, m.std4 ORDER BY x.dim""".stripMargin

  /** kNN-join classification — the supervised-eval probe over an
    * embedding store ("label these query vectors by their neighbors"):
    * for each probe vector (vec_id % 25 == 0, standing in for a
    * model-sized query batch) find its 5 nearest train vectors by
    * cosine and vote (majority count, ties to the smallest label).
    * Output per probe: true label, predicted label, vote count — the
    * confusion-matrix input of an embedding-quality audit.
    *
    * Scale shape: identical to [[qCosineTopK]] — the probe batch
    * broadcasts (model-sized by definition: it is the query workload,
    * not the corpus), the train side streams through one narrow scored
    * projection, and the bounded [[graft.functions.TopKAggregator]]
    * keeps 5 pairs per (probe, partition) so the shuffle carries k rows
    * per partition, never the scored set. The neighbor's label rides
    * packed into the id (vec_id × 100 + label) — same aggregator, no
    * extra shuffle column; the pack is lossless while labels < 100.
    */
  def qKnnClassify(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"), expr(normExpr).as("nrm"))
    val q = e.filter(pmod(col("vec_id"), lit(25)) === 0)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("embedding").as("qv"), col("nrm").as("qnrm"))
    val scored = e.filter(pmod(col("vec_id"), lit(25)) =!= 0)
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("true_label"),
        // label rides along packed into the id slot of the bounded top-k
        // aggregate. Multiplier 100000, NOT 100: label cardinality scales
        // with the corpus (IVF convention ~√n — 142 at sf1 already), and
        // a multiplier below the label count silently wraps the decode
        // (pmod) onto the wrong label — caught by the sf1 oracle the
        // round the test data's label space started growing. Packed
        // ordering still equals vec_id ordering (multiplier > label), so
        // the heap's smaller-id tie-break keeps matching the oracle's
        // `ORDER BY cos_sim DESC, vec_id`.
        (col("vec_id") * 100000L + col("label")).as("packed"),
        round(expr(dotExpr) / (col("qnrm") * col("nrm")), 4).as("cos_sim"))
    TopKAggregator.ranked(scored, Seq("query_id", "true_label"), 5,
        col("cos_sim"), col("packed"))
      .select(col("query_id"), col("true_label").cast("long").as("true_label"),
        pmod(col("id"), lit(100000L)).cast("long").as("nbr_label"))
      .groupBy("query_id", "true_label", "nbr_label")
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(desc("n_votes"), col("nbr_label"))))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("true_label"),
        col("nbr_label").as("pred_label"), col("n_votes"))
      .orderBy("query_id")
  }

  val qKnnClassifyOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, label AS true_label, embedding AS qv
      |  FROM embeddings WHERE vec_id % 25 = 0),
      |pairs AS (
      |  SELECT q.query_id, q.true_label, e.vec_id, e.label,
      |    unnest(q.qv)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id % 25 <> 0),
      |scored AS (
      |  SELECT query_id, true_label, vec_id, label,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY query_id, true_label, vec_id, label),
      |top5 AS (
      |  SELECT query_id, true_label, label FROM (
      |    SELECT query_id, true_label, vec_id, label,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos_sim DESC, vec_id) AS rk
      |    FROM scored) r WHERE rk <= 5),
      |votes AS (
      |  SELECT query_id, true_label, label AS nbr_label, count(*) AS n_votes
      |  FROM top5 GROUP BY query_id, true_label, label)
      |SELECT query_id, CAST(true_label AS BIGINT) AS true_label,
      |  CAST(nbr_label AS BIGINT) AS pred_label, n_votes
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY n_votes DESC, nbr_label) AS vr FROM votes) v
      |WHERE vr = 1 ORDER BY query_id""".stripMargin

  /** Cosine-similarity threshold curve over the near-dup region — the
    * tuning report behind every "cos ≥ τ is a duplicate" decision:
    * verified same-label pairs (the exact [[nearDupPairs]] kernel,
    * triangle-blocked under skew) bucketed by 0.05-wide similarity bins
    * from the 0.3 floor up. Reading the curve is how a pipeline picks τ
    * so the dedup pass removes near-dups, not merely related docs.
    */
  def qCosineCurve(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"), expr(normExpr).as("nrm"))
    nearDupPairs(base, 4096L)
      .withColumn("bin20", floor(col("cos_sim") * 20).cast("long"))
      .groupBy("bin20").agg(count(lit(1)).as("n_pairs"))
      .orderBy("bin20")
  }

  val qCosineCurveOracle: String =
    """WITH pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT id_a, id_b,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY id_a, id_b)
      |SELECT CAST(floor(cos_sim * 20) AS BIGINT) AS bin20, count(*) AS n_pairs
      |FROM scored WHERE cos_sim >= 0.3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Matryoshka / dimension-truncation recall — the retrieval-cost audit
    * an embedding pipeline runs before storing truncated vectors: top-10
    * by cosine over the FIRST 16 of 64 dimensions, measured against the
    * full-dimension top-10 for 3 probe queries. High recall means the
    * prefix dimensions carry the ranking signal and the index can store
    * (and shuffle) a quarter of the floats.
    *
    * Scale shape: identical to [[qAnnRecall]]'s exact arm — the probe
    * set broadcasts (3 rows), scoring is one map-side pass (no pairwise
    * corpus join), per-query ranking through the bounded
    * [[graft.functions.TopKAggregator]], recall joined over
    * 10-row-per-query frames.
    */
  def qTruncRecall(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr(normExpr).as("nrm"),
        expr("slice(embedding, 1, 16)").as("emb16"),
        expr("vec_norm(slice(embedding, 1, 16))").as("nrm16"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("emb16").as("qv16"),
        col("nrm16").as("qnrm16"))
    val corpus = e.filter(col("vec_id") >= 3)
    val joined = corpus.crossJoin(broadcast(q))
    def top10(cos: Column): DataFrame =
      TopKAggregator.ranked(
        joined.select(col("query_id"), col("vec_id"), cos.as("cos_sim")),
        Seq("query_id"), 10, col("cos_sim"), col("vec_id"))
    val full = top10(round(expr(dotExpr) / (col("qnrm") * col("nrm")), 4))
    val trunc = top10(
      round(expr("vec_dot(qv16, emb16)") / (col("qnrm16") * col("nrm16")), 4))
    val hits = full.join(trunc, Seq("query_id", "id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    q.select("query_id")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / 10.0, 4).as("recall4"))
      .orderBy("query_id")
  }

  val qTruncRecallOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |pairs AS (
      |  SELECT q.query_id, e.vec_id,
      |    unnest(q.qv)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3),
      |scored AS (
      |  SELECT query_id, vec_id,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY query_id, vec_id),
      |full10 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      |    FROM scored) WHERE rk <= 10),
      |pairs16 AS (
      |  SELECT q.query_id, e.vec_id,
      |    unnest(q.qv[1:16])::DOUBLE AS x, unnest(e.embedding[1:16])::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3),
      |scored16 AS (
      |  SELECT query_id, vec_id,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs16 GROUP BY query_id, vec_id),
      |trunc10 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
      |    FROM scored16) WHERE rk <= 10),
      |hits AS (
      |  SELECT f.query_id, count(*) AS n_hits
      |  FROM full10 f JOIN trunc10 t ON t.query_id = f.query_id AND t.vec_id = f.vec_id
      |  GROUP BY f.query_id)
      |SELECT q.query_id,
      |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  round(coalesce(h.n_hits, 0) / 10.0, 4) AS recall4
      |FROM q LEFT JOIN hits h ON h.query_id = q.query_id
      |ORDER BY q.query_id""".stripMargin

  /** Cross-modality agreement audit — label-noise / mispairing detection
    * for paired (text, embedding) corpora: every LSH-verified TEXT
    * near-dup pair (Jaccard ≥ 0.8, the exact [[Dedup.qMinhashLsh]]
    * kernel) is joined to both documents' embeddings and scored by
    * cosine. Near-identical text whose embeddings disagree is exactly
    * what a pipeline quarantines before training a retriever on weak
    * supervision (mispaired rows, poisoned embeddings, stale vectors).
    * Output: the agreement histogram over verified pairs.
    *
    * Scale shape: the text arm is the banded LSH surface
    * (duplicate-sized, hot-bucket-safe); the embedding lookups are
    * doc-keyed equi-joins against the narrow (vec_id, embedding)
    * projection; nothing pairs the corpus with itself.
    */
  def qModalityAgreement(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val grams = Dedup.gramsOf(t(s, dir, "documents")).persist()
    val bands = Dedup.bandsOf(Dedup.sigOf(grams)).persist()
    val cand = Dedup.bandPairs(bands, Dedup.BandKey, "doc_id")
    val pairs = Dedup.verifyPairs(cand, grams, 0.8)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), expr(normExpr).as("nrm"))
    val scored = pairs
      .join(e.select(col("vec_id").as("doc_a"), col("embedding").as("qv"),
        col("nrm").as("qnrm")), "doc_a")
      .join(e.select(col("vec_id").as("doc_b"), col("embedding"),
        col("nrm")), "doc_b")
      .withColumn("cos4", round(expr(dotExpr) / (col("qnrm") * col("nrm")), 4))
    scored.select(
        when(col("cos4") >= 0.9, "agree")
          .when(col("cos4") >= 0.5, "weak")
          .otherwise("disagree").as("tier"))
      .groupBy("tier").agg(count(lit(1)).as("n_pairs"))
      .orderBy("tier")
  }

  val qModalityAgreementOracle: String =
    s"""WITH ${Dedup.lshCtesDuck()},
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands2 a JOIN bands2 b
      |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
      |verified AS (
      |${Dedup.lshVerifySelectDuck("0.8")}),
      |pr AS (
      |  SELECT v.doc_a, v.doc_b,
      |    unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
      |  FROM verified v
      |  JOIN embeddings ea ON ea.vec_id = v.doc_a
      |  JOIN embeddings eb ON eb.vec_id = v.doc_b),
      |sc AS (
      |  SELECT doc_a, doc_b,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos4
      |  FROM pr GROUP BY doc_a, doc_b)
      |SELECT CASE WHEN cos4 >= 0.9 THEN 'agree'
      |            WHEN cos4 >= 0.5 THEN 'weak'
      |            ELSE 'disagree' END AS tier,
      |  count(*) AS n_pairs
      |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_cosine_topk", qCosineTopK, Some(qCosineTopKOracle)),
    QueryDef("q_knn_classify", qKnnClassify, Some(qKnnClassifyOracle)),
    QueryDef("q_cosine_curve", qCosineCurve, Some(qCosineCurveOracle)),
    QueryDef("q_feature_norm", qFeatureNorm, Some(qFeatureNormOracle)),
    QueryDef("q_embedding_near_dup", (s, d) => qEmbeddingNearDup(s, d),
      Some(qEmbeddingNearDupOracle)),
    QueryDef("q_ann_near_dup", qAnnNearDup, Some(qAnnNearDupOracle)),
    QueryDef("q_ann_recall", qAnnRecall, Some(qAnnRecallOracle)),
    QueryDef("q_ndcg_eval", qNdcgEval, Some(qNdcgEvalOracle)),
    QueryDef("q_multiprobe_recall", qMultiprobeRecall, Some(qMultiprobeRecallOracle)),
    QueryDef("q_pq_encode", qPqEncode, Some(qPqEncodeOracle)),
    QueryDef("q_pq_search", qPqSearch, Some(qPqSearchOracle)),
    QueryDef("q_ivfpq_search", (s, d) => qIvfPqSearch(s, d), Some(qIvfPqSearchOracle)),
    QueryDef("q_embedding_drift", qEmbeddingDrift, Some(qEmbeddingDriftOracle)),
    QueryDef("q_lsh_buckets", qLshBuckets, Some(qLshBucketsOracle)),
    QueryDef("q_ivf_assign", qIvfAssign, Some(qIvfAssignOracle)),
    QueryDef("q_ivf_search", (s, d) => qIvfSearch(s, d), Some(qIvfSearchOracle)),
    QueryDef("q_kmeans_step", qKmeansStep, Some(qKmeansStepOracle)),
    QueryDef("q_power_iteration", qPowerIteration, Some(qPowerIterationOracle)),
    QueryDef("q_quantize", qQuantize, Some(qQuantizeOracle)),
    QueryDef("q_trunc_recall", qTruncRecall, Some(qTruncRecallOracle)),
    QueryDef("q_modality_agreement", qModalityAgreement,
      Some(qModalityAgreementOracle)),
  )
}
