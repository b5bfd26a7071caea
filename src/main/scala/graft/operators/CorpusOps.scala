package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** Corpus-hygiene operators over `documents` — the checks a training-data
  * pipeline runs before anything reaches a tokenizer:
  *
  *  - contamination: does a training document share n-grams with the held
  *    out evaluation set? (decontamination pass — the join is keyed on the
  *    n-gram, so only colliding grams shuffle, never doc×doc pairs);
  *  - repetition: intra-document duplicate n-gram ratio (a strong
  *    low-quality / generated-text signal), pure narrow compute;
  *  - stratified sampling: per-language deterministic hash sampling with
  *    per-stratum rates — reproducible across engines/runs/partitionings,
  *    unlike rand() sampling.
  */
object CorpusOps {

  /** Training docs (90%) whose word-bigram sets overlap the eval split
    * (doc_id % 10 == 0) by ≥ 50%. Both sides explode to (doc, gram) rows
    * and meet in a gram-keyed equi-join: the 100 TB shape — shuffle volume
    * is the distinct-gram surface, and a broadcast of the (much smaller)
    * eval gram set makes the probe map-side when it fits.
    */
  def qContamination(s: SparkSession, dir: String): DataFrame =
    contaminationFrom(t(s, dir, "documents"))

  /** The contamination kernel over any (doc_id, text) frame — shared by
    * the standard query and the hot-gram bench stress.
    */
  private[graft] def contaminationFrom(docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val grams = docs
      .select(col("doc_id"), explode(expr("bigrams2(text)")).as("gram"))
    val train = grams.filter(col("doc_id") % 10 =!= 0)
    val evalGrams = grams.filter(col("doc_id") % 10 === 0)
      .select("gram").distinct()
    val totals = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = train.join(evalGrams, Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("overlap_grams"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("overlap_grams"), lit(0L)).as("overlap_grams"))
      .withColumn("overlap_ratio",
        round(col("overlap_grams") / col("n_grams").cast("double"), 4))
      .filter(col("overlap_ratio") >= 0.5)
      .orderBy("doc_id")
  }

  val qContaminationOracle: String =
    s"""WITH g AS (
      |  SELECT doc_id, unnest(${Dedup.gramsDuck}) AS gram FROM ${Dedup.duckWords}),
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

  /** Deterministic global shuffle + shard assignment — how a 100 TB corpus
    * gets a reproducible training order: h = (doc_id · 2654435761) mod 2³²
    * (Knuth's multiplicative hash; the odd multiplier makes it a bijection
    * mod 2³², so there are no order ties), shard = h mod 8, and the
    * within-shard order is ascending h. No rand(), no monotonically_
    * increasing_id — the same corpus always yields the same order, on any
    * partitioning, which is what makes a training run re-startable.
    * Output is the per-shard manifest (count, first/last doc in shard
    * order, order checksum); the full (shard, position) assignment is the
    * same frame before the aggregate, and needs no global sort — shards
    * are independent.
    */
  def qGlobalShuffle(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)).as("h"))
      .withColumn("shard", pmod(col("h"), lit(8L)))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min_by(col("doc_id"), col("h")).as("first_doc"),
        max_by(col("doc_id"), col("h")).as("last_doc"),
        sum(col("h")).as("h_sum"))
      .orderBy("shard")

  val qGlobalShuffleOracle: String =
    """WITH h AS (
      |  SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h
      |  FROM documents)
      |SELECT h % 8 AS shard, count(*) AS n_docs,
      |  arg_min(doc_id, h) AS first_doc, arg_max(doc_id, h) AS last_doc,
      |  CAST(sum(h) AS BIGINT) AS h_sum
      |FROM h GROUP BY h % 8 ORDER BY shard""".stripMargin

  /** Quality funnel: the per-stage retention report every curation
    * pipeline publishes — how many docs survive each successive filter
    * (length → token count → vocabulary diversity → language allowlist →
    * deterministic 25% sample). Computed in ONE scan: each stage is a
    * conjunction of per-row booleans summed as conditional counts, so the
    * report costs one narrow pass + a scalar aggregate at any corpus
    * size (running 6 separate filtered counts would scan 6×).
    */
  def qQualityFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("c0", lit(true))
      .withColumn("c1", col("n_chars") >= 50L)
      .withColumn("c2", col("c1") && size(col("ws")) >= 20)
      .withColumn("c3", col("c2") &&
        size(array_distinct(col("ws"))) / size(col("ws")).cast("double") >= 0.4)
      .withColumn("c4", col("c3") && col("lang").isin("en", "de", "fr", "es"))
      .withColumn("c5", col("c4") &&
        substring(md5(encode(col("text"), "UTF-8")), 1, 1) < "4")
    val stages = Seq("0_total" -> "c0", "1_len" -> "c1",
      "2_tokens" -> "c2", "3_diversity" -> "c3", "4_lang" -> "c4", "5_sample" -> "c5")
    val agg = d.select(stages.map { case (_, c) =>
      sum(when(expr(c), 1L).otherwise(0L)).as(c)
    }: _*).select(stages.map { case (nm, c) =>
      struct(lit(nm).as("stage"), col(c).as("n_docs")).as(c)
    }: _*)
    // one aggregate row → 6 (stage, n_docs) rows
    agg.select(explode(array(stages.map(st => col(st._2)): _*)).as("s"))
      .select(col("s.stage"), col("s.n_docs"))
      .orderBy("stage")
  }

  val qQualityFunnelOracle: String =
    """WITH f AS (
      |  SELECT n_chars >= 50 AS c1,
      |    n_chars >= 50 AND len(string_split(text, ' ')) >= 20 AS c2,
      |    n_chars >= 50 AND len(string_split(text, ' ')) >= 20
      |      AND len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.4 AS c3,
      |    n_chars >= 50 AND len(string_split(text, ' ')) >= 20
      |      AND len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.4
      |      AND lang IN ('en', 'de', 'fr', 'es') AS c4,
      |    n_chars >= 50 AND len(string_split(text, ' ')) >= 20
      |      AND len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.4
      |      AND lang IN ('en', 'de', 'fr', 'es')
      |      AND substr(md5(text), 1, 1) < '4' AS c5
      |  FROM documents),
      |agg AS (
      |  SELECT count(*) AS t,
      |    CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
      |    CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
      |    CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
      |    CAST(sum(CASE WHEN c5 THEN 1 ELSE 0 END) AS BIGINT) AS s5
      |  FROM f)
      |SELECT stage, n_docs FROM (
      |  SELECT '0_total' AS stage, t AS n_docs FROM agg
      |  UNION ALL SELECT '1_len', s1 FROM agg
      |  UNION ALL SELECT '2_tokens', s2 FROM agg
      |  UNION ALL SELECT '3_diversity', s3 FROM agg
      |  UNION ALL SELECT '4_lang', s4 FROM agg
      |  UNION ALL SELECT '5_sample', s5 FROM agg) u
      |ORDER BY stage""".stripMargin

  /** Per-document repeated-bigram ratio: 1 - distinct/total. Entirely
    * narrow (no shuffle but the final order), so it costs one scan at any
    * corpus size.
    */
  def qRepetition(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        greatest(size(col("ws")) - 1, lit(0)).cast("long").as("n_grams"),
        expr("size(bigrams2(text))").cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_grams") > 0,
          round(lit(1.0) - col("n_distinct") / col("n_grams").cast("double"), 4))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  val qRepetitionOracle: String =
    s"""SELECT doc_id,
      |  CAST(greatest(len(ws) - 1, 0) AS BIGINT) AS n_grams,
      |  CAST(len(${Dedup.gramsDuck}) AS BIGINT) AS n_distinct,
      |  CASE WHEN len(ws) - 1 > 0
      |    THEN round(1.0 - len(${Dedup.gramsDuck}) / CAST(len(ws) - 1 AS DOUBLE), 4)
      |    ELSE 0.0 END AS rep_ratio
      |FROM ${Dedup.duckWords}
      |ORDER BY doc_id""".stripMargin

  /** Stratified deterministic sampling: each language stratum gets its own
    * hash-threshold rate (first md5 hex digit of the text). Per-stratum
    * acceptance counts; the sample set is re-derivable from content alone.
    */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val thr = expr(
      """CASE ascii(substring(lang, 1, 1)) % 3
        | WHEN 0 THEN '2' WHEN 1 THEN '4' ELSE '8' END""".stripMargin)
    t(s, dir, "documents")
      .select(col("lang"), thr.as("thr"),
        (substring(md5(encode(col("text"), "UTF-8")), 1, 1) < thr).as("sampled"))
      .groupBy("lang", "thr")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
      .select(col("lang"), col("thr").as("rate_hex"), col("n_docs"), col("n_sampled"))
      .orderBy("lang")
  }

  val qStratifiedSampleOracle: String =
    """SELECT lang,
      |  CASE ascii(substr(lang, 1, 1)) % 3
      |    WHEN 0 THEN '2' WHEN 1 THEN '4' ELSE '8' END AS rate_hex,
      |  count(*) AS n_docs,
      |  CAST(sum(CASE WHEN substr(md5(text), 1, 1) <
      |    CASE ascii(substr(lang, 1, 1)) % 3
      |      WHEN 0 THEN '2' WHEN 1 THEN '4' ELSE '8' END
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Sequence packing: documents are concatenated in deterministic order
    * and cut into fixed token-budget training sequences; each doc lands in
    * sequence floor((cumulative_tokens - own_tokens) / budget) of its
    * language shard. The window is PARTITIONED BY lang — a global ordering
    * would serialize the corpus through one task at 100 TB, so packing
    * runs per shard (the real pipelines pack per shard/file for the same
    * reason). Output: sequences with their doc/token fill.
    */
  def qPackSequences(s: SparkSession, dir: String, budget: Int = 2048): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")) / budget).cast("long"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .orderBy("lang", "seq_id")
  }

  val qPackSequencesOracle: String =
    """WITH toks AS (
      |  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |packed AS (
      |  SELECT lang, doc_id, n_tokens,
      |    CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
      |      - n_tokens) / 2048) AS BIGINT) AS seq_id
      |  FROM toks)
      |SELECT lang, seq_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
      |FROM packed GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin

  /** Data-mixture weighting: cap every language stratum at a uniform token
    * share (total/n_strata) by computing a per-stratum acceptance rate and
    * applying it with a deterministic 24-bit md5 threshold — the op that
    * balances a training mixture without RNG (re-derivable from content).
    * Scale shape: two tiny aggregations (stratum surface), rates broadcast
    * back, acceptance is a narrow per-row filter — the corpus never
    * shuffles.
    */
  def qMixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val strata = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("stratum_tokens"))
    val tot = strata.agg(sum("stratum_tokens").as("total_tokens"),
      count(lit(1)).as("n_strata"))
    val withRate = strata.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0),
        (col("total_tokens") / col("n_strata").cast("double")) / col("stratum_tokens")))
    val accepted = docs.join(broadcast(withRate.select("lang", "rate")), "lang")
      .filter(expr("conv(substring(md5(text), 1, 6), 16, 10)").cast("long") <
        col("rate") * lit(16777216.0))
      .groupBy("lang").agg(count(lit(1)).as("n_accepted"),
        sum("n_tokens").as("accepted_tokens"))
    withRate
      .select(col("lang"), col("n_docs"), col("stratum_tokens"),
        round(col("rate"), 4).as("rate"))
      .join(accepted, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("stratum_tokens"), col("rate"),
        coalesce(col("n_accepted"), lit(0L)).as("n_accepted"),
        coalesce(col("accepted_tokens"), lit(0L)).as("accepted_tokens"))
      .orderBy("lang")
  }

  /** The md5 threshold is re-expressed in DuckDB as manual base-16 digit
    * folding (strpos over the hex alphabet), which matches Spark's
    * conv(hex, 16, 10) exactly.
    */
  val qMixtureWeightsOracle: String =
    """WITH docs AS (
      |  SELECT doc_id, lang, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |strata AS (
      |  SELECT lang, count(*) AS n_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS stratum_tokens FROM docs GROUP BY lang),
      |tot AS (
      |  SELECT CAST(sum(stratum_tokens) AS BIGINT) AS total_tokens,
      |    count(*) AS n_strata FROM strata),
      |wr AS (
      |  SELECT s.lang, s.n_docs, s.stratum_tokens,
      |    least(CAST(1.0 AS DOUBLE),
      |      (t.total_tokens / CAST(t.n_strata AS DOUBLE)) / s.stratum_tokens) AS rate
      |  FROM strata s CROSS JOIN tot t),
      |acc AS (
      |  SELECT d.lang, count(*) AS n_accepted,
      |    CAST(sum(d.n_tokens) AS BIGINT) AS accepted_tokens
      |  FROM docs d JOIN wr USING (lang)
      |  WHERE list_reduce(list_transform(range(1, 7), i ->
      |      CAST(strpos('0123456789abcdef', substr(md5(d.text), i, 1)) - 1 AS BIGINT)),
      |    (a, b) -> a * 16 + b) < wr.rate * 16777216.0
      |  GROUP BY d.lang)
      |SELECT w.lang, w.n_docs, w.stratum_tokens, round(w.rate, 4) AS rate,
      |  coalesce(a.n_accepted, 0) AS n_accepted,
      |  coalesce(a.accepted_tokens, 0) AS accepted_tokens
      |FROM wr w LEFT JOIN acc a USING (lang)
      |ORDER BY w.lang""".stripMargin

  /** The full pipeline a corpus actually runs, end-to-end in one plan:
    * exact dedup (first doc per distinct text) → train split → quality
    * filter (≥5 tokens, type/token ratio ≥ 0.3) → decontamination (drop
    * docs whose distinct bigrams are ≥95% contained in the eval split —
    * the synthetic corpus draws from a small vocabulary, so baseline
    * overlap is high and the threshold targets effective containment) →
    * deterministic
    * 50% hash sample → per-language sequence packing. Every stage is the
    * same kernel its standalone query uses, so the composition stays fully
    * DuckDB-oracle-checked — the "a user could run their whole pipeline on
    * this engine" demonstration. At 100 TB each stage keeps its standalone
    * scale shape: dedup shuffles text keys once, contamination is
    * gram-keyed (never doc×doc), sampling is narrow, packing is per-shard.
    */
  def qPipelineE2e(s: SparkSession, dir: String, budget: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(s)
    val docs = t(s, dir, "documents")
    val dedupW = Window.partitionBy("text").orderBy("doc_id")
    val deduped = docs
      .withColumn("rn", row_number().over(dedupW)).filter(col("rn") === 1).drop("rn")
    val train = deduped.filter(col("doc_id") % 10 =!= 0)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      .withColumn("ttr",
        round(size(array_distinct(col("ws"))) / col("n_tokens").cast("double"), 4))
      .filter(col("n_tokens") >= 5 && col("ttr") >= 0.3)
    val evalGrams = docs.filter(col("doc_id") % 10 === 0)
      .select(explode(expr("bigrams2(text)")).as("gram")).distinct()
    val trainGrams = train.select(col("doc_id"), explode(expr("bigrams2(text)")).as("gram"))
    val totals = trainGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = trainGrams.join(evalGrams, Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("overlap"))
    val clean = train.join(totals, Seq("doc_id"), "left").join(hits, Seq("doc_id"), "left")
      .withColumn("ratio",
        round(coalesce(col("overlap"), lit(0L)) /
          coalesce(col("n_grams"), lit(1L)).cast("double"), 4))
      .filter(col("ratio") < 0.95)
    val sampled = clean.filter(substring(md5(encode(col("text"), "UTF-8")), 1, 1) < "8")
    val packW = Window.partitionBy("lang").orderBy("doc_id")
    sampled.select(col("lang"), col("doc_id"), col("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(packW))
      .withColumn("seq_id", floor((col("cum") - col("n_tokens")) / budget).cast("long"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .orderBy("lang", "seq_id")
  }

  val qPipelineE2eOracle: String =
    s"""WITH dedup AS (
      |  SELECT doc_id, lang, text FROM (
      |    SELECT doc_id, lang, text,
      |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      |    FROM documents) sub WHERE rn = 1),
      |train AS (
      |  SELECT doc_id, lang, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM dedup
      |  WHERE doc_id % 10 <> 0
      |    AND len(string_split(text, ' ')) >= 5
      |    AND round(len(list_distinct(string_split(text, ' ')))
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) >= 0.3),
      |eval_grams AS (
      |  SELECT DISTINCT unnest(${Dedup.gramsDuck}) AS gram
      |  FROM (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % 10 = 0) w),
      |tg AS (
      |  SELECT doc_id, unnest(${Dedup.gramsDuck}) AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM train) w),
      |totals AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY doc_id),
      |hits AS (
      |  SELECT t.doc_id, count(*) AS overlap
      |  FROM tg t JOIN eval_grams e USING (gram) GROUP BY t.doc_id),
      |clean AS (
      |  SELECT tr.lang, tr.doc_id, tr.n_tokens, tr.text
      |  FROM train tr LEFT JOIN totals USING (doc_id) LEFT JOIN hits USING (doc_id)
      |  WHERE round(coalesce(overlap, 0) / CAST(coalesce(n_grams, 1) AS DOUBLE), 4) < 0.95),
      |sampled AS (SELECT * FROM clean WHERE substr(md5(text), 1, 1) < '8'),
      |packed AS (
      |  SELECT lang, doc_id, n_tokens,
      |    CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
      |      - n_tokens) / 2048) AS BIGINT) AS seq_id
      |  FROM sampled)
      |SELECT lang, seq_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
      |FROM packed GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin

  /** Temperature-scaled mixture weights (the multilingual-sampling rule
    * from the mBERT/XLM-R line of work: w_i ∝ p_i^α with α = 0.7): the
    * natural token share p_i of each source is exponentiated and
    * renormalized, flattening the distribution toward small sources, and
    * each source's epoch count over a fixed token budget (2× the corpus)
    * falls out as w_i·budget/tokens_i. Two 1-row/|sources|-row aggregates
    * broadcast back over a 20-row frame — the corpus is scanned exactly
    * once for the per-source token totals; everything after is
    * model-sized arithmetic.
    */
  def qTemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val alpha = 0.7
    val bySource = t(s, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("tokens"))
    val tot = bySource.agg(sum("tokens").as("tot_tokens"))
    val withP = bySource.crossJoin(broadcast(tot))
      .withColumn("p", col("tokens") / col("tot_tokens").cast("double"))
      .withColumn("p_alpha", pow(col("p"), alpha))
    val z = withP.agg(sum("p_alpha").as("z"))
    withP.crossJoin(broadcast(z))
      .withColumn("w", col("p_alpha") / col("z"))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(col("p"), 4).as("p"),
        round(col("w"), 4).as("w"),
        round(col("w") * 2.0 * col("tot_tokens") / col("tokens"), 4).as("epochs"))
      .orderBy("source")
  }

  val qTemperatureMixOracle: String =
    """WITH by_source AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot_tokens FROM by_source),
      |with_p AS (
      |  SELECT b.*, t.tot_tokens,
      |    b.tokens / CAST(t.tot_tokens AS DOUBLE) AS p,
      |    power(b.tokens / CAST(t.tot_tokens AS DOUBLE), 0.7) AS p_alpha
      |  FROM by_source b CROSS JOIN tot t),
      |z AS (SELECT sum(p_alpha) AS z FROM with_p)
      |SELECT w.source, w.n_docs, w.tokens,
      |  round(w.p, 4) AS p,
      |  round(w.p_alpha / z.z, 4) AS w,
      |  round(w.p_alpha / z.z * 2.0 * w.tot_tokens / w.tokens, 4) AS epochs
      |FROM with_p w CROSS JOIN z
      |ORDER BY w.source""".stripMargin

  /** Deterministic distributed reservoir — EXACT-k per stratum (the
    * eval-set construction primitive: "give me exactly 10 uniform docs
    * per language, reproducibly"): md5(text) is the random priority; the
    * bounded [[graft.functions.MinKAggregator]] keeps the k smallest per
    * language. Rate-based sampling ([[qStratifiedSample]]) can't hit an
    * exact count; this can.
    *
    * Scale shape: a size-k buffer per (lang, partition) with map-side
    * partial merge, so k rows per language per partition cross the
    * exchange — the classic distributed-reservoir merge. The earlier
    * `row_number` Window formulation partitioned by ~O(10) languages,
    * which at corpus scale sorts ~1/|langs| of the corpus per partition;
    * this form is oracle-checked identical to that window SQL (the same
    * proof [[graft.operators.Relational.qGroupedTopK]] made against
    * [[graft.operators.Relational.qWindowTopN]]).
    */
  def qReservoirSample(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("lang"), md5(encode(col("text"), "UTF-8")).as("priority"),
        col("doc_id"))
    graft.functions.MinKAggregator.ranked(docs, Seq("lang"), k,
        col("priority"), col("doc_id"))
      .select(col("lang"), col("rk"), col("id").as("doc_id"))
      .orderBy("lang", "rk")
  }

  val qReservoirSampleOracle: String =
    """SELECT lang, rk, doc_id FROM (
      |  SELECT lang, doc_id,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(text), doc_id) AS INT) AS rk
      |  FROM documents) r
      |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin

  /** URL canonicalization — the first pass of every web-crawl curation
    * pipeline: strip fragments, default ports, `www.` prefixes, and
    * tracking (`utm_*`) query parameters, then count how many raw URLs
    * collapse onto each canonical form per source. The corpus has no URL
    * column, so a synthetic-but-deterministic URL is derived per doc
    * (variant chrome keyed on doc_id residues — the same URL content
    * appearing with/without www, port, fragment, and tracking params,
    * exactly the duplication a crawler sees); BOTH engines derive and
    * canonicalize identically, so the collapse counts are hash-checked.
    *
    * Scale shape: derive + canonicalize are narrow codegen'd string
    * passes; the rollup keys on md5-free plain strings with map-side
    * combine. No joins, no windows — the op is scan-shaped at any size.
    */
  def qUrlCanon(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      col("source"),
      concat(
        lit("https://"),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        col("source"), lit(".example.com"),
        when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/"), col("lang"), lit("/page/"),
        (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=feed&id="), (col("doc_id") % 10).cast("string")))
          .otherwise(concat(lit("?id="), (col("doc_id") % 10).cast("string"),
            lit("&utm_campaign=spring"))),
        when(col("doc_id") % 5 === 0, lit("#section-2")).otherwise(lit("")))
        .as("url"))
    val canon = raw.withColumn("canonical",
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(col("url"), "#.*$", ""),
              ":443/", "/"),
            "https://www\\.", "https://"),
          "utm_[a-z_]+=[a-z]+&", ""),
        "&utm_[a-z_]+=[a-z]+", ""))
    canon.groupBy("source")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct("canonical").as("n_canonical"),
        (count(lit(1)) - countDistinct("canonical")).as("n_collapsed"))
      .orderBy("source")
  }

  val qUrlCanonOracle: String =
    """WITH raw AS (
      |  SELECT doc_id, lang, source,
      |    'https://'
      |    || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
      |    || source || '.example.com'
      |    || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
      |    || '/' || lang || '/page/' || (doc_id % 50)::VARCHAR
      |    || CASE WHEN doc_id % 2 = 0
      |         THEN '?utm_source=feed&id=' || (doc_id % 10)::VARCHAR
      |         ELSE '?id=' || (doc_id % 10)::VARCHAR || '&utm_campaign=spring' END
      |    || CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END AS url
      |  FROM documents),
      |canon AS (
      |  SELECT source,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          replace(
      |            regexp_replace(url, '#.*$', ''),
      |            ':443/', '/'),
      |          'https://www\.', 'https://'),
      |        'utm_[a-z_]+=[a-z]+&', ''),
      |      '&utm_[a-z_]+=[a-z]+', '') AS canonical
      |  FROM raw)
      |SELECT source, count(*) AS n_urls,
      |  count(DISTINCT canonical) AS n_canonical,
      |  count(*) - count(DISTINCT canonical) AS n_collapsed
      |FROM canon GROUP BY source ORDER BY source""".stripMargin

  /** Pareto (skyline) document selection — multi-objective curation:
    * the docs worth keeping when quality (type/token ratio, integer
    * basis points) should be MAXIMIZED and length MINIMIZED and no
    * scalar mix of the two is agreed on. A metric point is on the
    * skyline iff no other point has ≥ quality and ≤ length with one
    * strict; the operator runs on DISTINCT metric POINTS (dominance is
    * ill-posed on duplicate points) with the doc multiplicity carried as
    * a count. The classic 2-D sweep: order by (quality desc, length
    * asc) per language, keep a point iff its length beats the running
    * minimum of everything that dominates-or-ties-quality before it.
    *
    * Scale shape: the corpus collapses to the distinct metric-point
    * surface FIRST (a map-side-combined groupBy — bounded by metric
    * granularity, ~10⁴·lengths, not by docs); the per-language window
    * sorts that point surface only. At higher dimensions the sweep
    * generalizes to grid-dominance prefiltering; 2-D needs none.
    */
  def qParetoDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("lang"),
        expr("(size(array_distinct(ws)) * 10000L) div size(ws)").as("q_bp"),
        size(col("ws")).cast("long").as("len"))
      .groupBy("lang", "q_bp", "len").agg(count(lit(1)).as("n_docs"))
    val sweep = Window.partitionBy("lang")
      .orderBy(col("q_bp").desc, col("len").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("runmin", min("len").over(sweep))
      .filter(col("runmin").isNull || col("len") < col("runmin"))
      .select("lang", "q_bp", "len", "n_docs")
      .orderBy(col("lang"), col("q_bp").desc, col("len"))
  }

  val qParetoDocsOracle: String =
    """WITH pts AS (
      |  SELECT lang,
      |    CAST((len(list_distinct(ws)) * 10000) // len(ws) AS BIGINT) AS q_bp,
      |    CAST(len(ws) AS BIGINT) AS len, count(*) AS n_docs
      |  FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents) d
      |  GROUP BY 1, 2, 3),
      |sw AS (
      |  SELECT lang, q_bp, len, n_docs,
      |    min(len) OVER (PARTITION BY lang ORDER BY q_bp DESC, len
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmin
      |  FROM pts)
      |SELECT lang, q_bp, len, n_docs
      |FROM sw WHERE runmin IS NULL OR len < runmin
      |ORDER BY lang, q_bp DESC, len""".stripMargin

  /** Weighted k-sample per language WITHOUT a window sort — sequential
    * Poisson sampling (Ohlsson '98): each doc draws a deterministic
    * uniform u from a content hash, its priority is u/w (w = token
    * count), and the k smallest priorities per stratum win — inclusion
    * probability is ~proportional to weight, the πps scheme survey
    * sampling actually ships. The priority is kept in INTEGER arithmetic
    * (`(h * 100000) div w` over a 24-bit hash) so no float rounding can
    * reorder the selection between engines, then zero-padded into the
    * string key [[graft.functions.MinKAggregator]] orders on.
    *
    * Scale shape: same contract as [[qReservoirSample]] — a size-k buffer
    * per (lang, partition), k rows per lang cross the exchange, no
    * partition-wide Window sort; weights are arbitrary per-row values, so
    * this is the drop-in replacement for "sample by tokens, not by docs"
    * at any corpus size.
    */
  def qWeightedSample(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"),
        expr("conv(substring(md5(concat(cast(doc_id AS string), ':', text)), 1, 6), 16, 10)")
          .cast("long").as("h"))
      .select(col("lang"), col("doc_id"),
        lpad(expr("(h * 100000L) div w").cast("string"), 16, "0").as("priority"))
    graft.functions.MinKAggregator.ranked(docs, Seq("lang"), k,
        col("priority"), col("doc_id"))
      .select(col("lang"), col("rk"), col("id").as("doc_id"))
      .orderBy("lang", "rk")
  }

  val qWeightedSampleOracle: String =
    """WITH pri AS (
      |  SELECT lang, doc_id,
      |    lpad(CAST(
      |      (list_reduce(list_transform(range(1, 7), i ->
      |         CAST(strpos('0123456789abcdef',
      |           substr(md5(doc_id::VARCHAR || ':' || text), i, 1)) - 1 AS BIGINT)),
      |        (a, b) -> a * 16 + b) * 100000)
      |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS VARCHAR),
      |      16, '0') AS priority
      |  FROM documents)
      |SELECT lang, rk, doc_id FROM (
      |  SELECT lang, doc_id,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY priority, doc_id) AS INT) AS rk
      |  FROM pri) r
      |WHERE rk <= 8 ORDER BY lang, rk""".stripMargin

  /** Per-source token-budget selection ("nucleus" curation): within each
    * source, documents are ranked by a quality key (distinct-word ratio in
    * basis points — repetitive docs rank last) and kept while the running
    * token total stays inside half the source's token budget. This is the
    * budgeted-selection op a mixture pipeline runs after scoring: "spend
    * at most X tokens per source, best docs first".
    *
    * Determinism: the rank key and the kept rule are INTEGER arithmetic
    * end to end — `(distinct*10000) div tokens` for quality,
    * `2*cum <= src_tokens` for the budget, share in basis points — so no
    * float rounding can reorder the prefix between Spark and the oracle.
    *
    * Scale shape: one narrow projection computes tokens/quality, then two
    * windows partitioned BY SOURCE (a per-source sort — parallel across
    * sources, spill-backed within one; at 100 TB with few giant sources
    * the same selection runs against a per-source quality THRESHOLD from
    * an approx-quantile sketch instead of a full sort — the sketch path
    * trades exactness for a sort-free plan; the exact form here is what
    * the oracle can check). Final aggregate is source-sized.
    */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("source"), col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        expr("(size(array_distinct(ws)) * 10000L) div size(ws)").as("qbp"))
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val ranked = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("qbp").desc, col("doc_id"))
    docs
      .withColumn("src_tokens", sum("n_tokens").over(bySrc))
      .withColumn("cum", sum("n_tokens").over(ranked))
      .withColumn("kept", col("cum") * 2 <= col("src_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        max("src_tokens").as("src_tokens"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .withColumn("share_bp", expr("(kept_tokens * 10000) div src_tokens"))
      .orderBy("source")
  }

  val qTokenBudgetOracle: String =
    """WITH d AS (
      |  SELECT source, doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
      |    (len(list_distinct(ws)) * 10000) // len(ws) AS qbp
      |  FROM (SELECT source, doc_id, string_split(text, ' ') AS ws FROM documents)),
      |b AS (
      |  SELECT *, sum(n_tokens) OVER (PARTITION BY source) AS src_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source
      |      ORDER BY qbp DESC, doc_id) AS cum
      |  FROM d)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN 2 * cum <= src_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(max(src_tokens) AS BIGINT) AS src_tokens,
      |  CAST(sum(CASE WHEN 2 * cum <= src_tokens THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
      |  CAST(sum(CASE WHEN 2 * cum <= src_tokens THEN n_tokens ELSE 0 END) * 10000
      |    // max(src_tokens) AS BIGINT) AS share_bp
      |FROM b GROUP BY source ORDER BY source""".stripMargin

  /** Per-source document cap — the "no domain may dominate the mix" rule
    * (the C4/Gopher-style curation knob): rank each source's docs by a
    * deterministic content-independent hash (md5 of the doc id —
    * reproducible across runs, engines, and partitionings, unlike
    * rand()) and keep the first 15. Report per-source kept counts; the
    * kept set itself is `rk <= 15`.
    *
    * Scale shape: the window sees only (doc_id, source, 32-char rank
    * hash) — never text — and partitions by source, so work parallelizes
    * across domains and spills within one. At 100 TB with a
    * domain-count in the millions this is the same plan; for ONE
    * pathological giant domain the cap can instead be applied by hash
    * threshold (keep iff rh < p-th quantile of a sketch), trading the
    * exact count for a sort-free plan — [[qTokenBudget]] documents the
    * identical trade.
    */
  def qDomainCap(s: SparkSession, dir: String): DataFrame = {
    val ranked = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("rh", "doc_id")
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("rh"))
      .withColumn("rk", row_number().over(ranked))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= 15, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  val qDomainCapOracle: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Training-shard manifest — the write-side bookkeeping of "shuffle the
    * corpus into N shards and record what went where": each doc is
    * assigned a shard by the first hex digit of its content md5 (16
    * shards — deterministic across engines, runs, and partitionings,
    * and content-keyed so re-crawled copies of a doc land in the same
    * shard), and the manifest reports per-shard doc counts, token
    * totals, and token share in basis points. The report a training run
    * reads to confirm the shards are balanced BEFORE burning GPU time.
    *
    * Scale shape: one narrow projection (shard digit + token count —
    * text never shuffles), one 16-group aggregate, map-side combined.
    * Integer sums and a div-based share keep it engine-exact.
    */
  def qShardManifest(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(substring(md5(encode(col("text"), "UTF-8")), 1, 1).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val m = d.groupBy("shard").agg(
      count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
    // the global window runs over the 16-row AGGREGATE, not the corpus
    m.withColumn("total", sum("tokens").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("share_bp", expr("(tokens * 10000) div total"))
      .select("shard", "n_docs", "tokens", "share_bp")
      .orderBy("shard")
  }

  val qShardManifestOracle: String =
    """WITH d AS (
      |  SELECT substr(md5(text), 1, 1) AS shard,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |m AS (SELECT shard, count(*) AS n_docs, sum(n_tokens) AS tokens
      |      FROM d GROUP BY shard)
      |SELECT shard, n_docs, CAST(tokens AS BIGINT) AS tokens,
      |  CAST(tokens * 10000 // (SELECT sum(tokens) FROM m) AS BIGINT) AS share_bp
      |FROM m ORDER BY shard""".stripMargin

  /** Dataset card — the per-source datasheet a curation pipeline
    * publishes with every release: volume (docs, tokens), language
    * spread, exact-duplicate rate, and mean quality, in one pass.
    * Integer arithmetic end to end (rates in basis points via integer
    * div) so the card is bit-stable across engines.
    *
    * Scale shape: one narrow projection (digest, token count, quality —
    * the text never shuffles), then a single source-keyed aggregate.
    * The two DISTINCT aggregates (langs, digests) expand the stream 2×
    * before the map-side combine — the standard multi-distinct plan;
    * at 100 TB the digest distinct is the only data-sized state and is
    * itself bounded by the unique-document surface.
    */
  def qDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("source"), col("lang"),
        md5(encode(col("text"), "UTF-8")).as("h"),
        size(col("ws")).cast("long").as("n_tokens"),
        expr("(size(array_distinct(ws)) * 10000L) div size(ws)").as("qbp"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens"),
        countDistinct("lang").as("n_langs"),
        countDistinct("h").as("n_uniq"),
        sum("qbp").as("sum_qbp"))
      .select(col("source"), col("n_docs"), col("tokens"), col("n_langs"),
        expr("((n_docs - n_uniq) * 10000) div n_docs").as("dup_bp"),
        expr("sum_qbp div n_docs").as("mean_qbp"))
      .orderBy("source")
  }

  val qDatasetCardOracle: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(((count(*) - count(DISTINCT md5(text))) * 10000) // count(*) AS BIGINT) AS dup_bp,
      |  CAST(sum((len(list_distinct(string_split(text, ' '))) * 10000)
      |           // len(string_split(text, ' '))) // count(*) AS BIGINT) AS mean_qbp
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_dataset_card", qDatasetCard, Some(qDatasetCardOracle)),
    QueryDef("q_contamination", qContamination, Some(qContaminationOracle)),
    QueryDef("q_domain_cap", qDomainCap, Some(qDomainCapOracle)),
    QueryDef("q_shard_manifest", qShardManifest, Some(qShardManifestOracle)),
    QueryDef("q_temperature_mix", qTemperatureMix, Some(qTemperatureMixOracle)),
    QueryDef("q_token_budget", qTokenBudget, Some(qTokenBudgetOracle)),
    QueryDef("q_reservoir_sample", (s, d) => qReservoirSample(s, d), Some(qReservoirSampleOracle)),
    QueryDef("q_weighted_sample", (s, d) => qWeightedSample(s, d), Some(qWeightedSampleOracle)),
    QueryDef("q_url_canon", qUrlCanon, Some(qUrlCanonOracle)),
    QueryDef("q_pareto_docs", qParetoDocs, Some(qParetoDocsOracle)),
    QueryDef("q_repetition", qRepetition, Some(qRepetitionOracle)),
    QueryDef("q_stratified_sample", qStratifiedSample, Some(qStratifiedSampleOracle)),
    QueryDef("q_pack_sequences", (s, d) => qPackSequences(s, d), Some(qPackSequencesOracle)),
    QueryDef("q_pipeline_e2e", (s, d) => qPipelineE2e(s, d), Some(qPipelineE2eOracle)),
    QueryDef("q_mixture_weights", qMixtureWeights, Some(qMixtureWeightsOracle)),
    QueryDef("q_global_shuffle", qGlobalShuffle, Some(qGlobalShuffleOracle)),
    QueryDef("q_quality_funnel", qQualityFunnel, Some(qQualityFunnelOracle)),
  )
}
