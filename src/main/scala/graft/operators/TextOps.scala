package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** Text-analysis operators for a large-scale training-data pipeline over
  * the `documents` table: token counting, quality scoring, language-ID
  * heuristics, document fingerprinting. All are narrow (per-row) transforms
  * — no shuffle except the final aggregations — so they scale linearly
  * with input splits at 100 TB.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private def sqlList(xs: Seq[String]) = xs.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Token-count statistics per language (whitespace tokenization). */
  def qTokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("ntok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("total_tokens"),
        min("ntok").as("min_tokens"),
        max("ntok").as("max_tokens"),
        round(avg("ntok"), 4).as("avg_tokens"))
      .orderBy("lang")

  val qTokenStatsOracle: String =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      | min(len(string_split(text, ' '))) AS min_tokens,
      | max(len(string_split(text, ' '))) AS max_tokens,
      | round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** BPE-ish subword token counting: greedy regex word-pieces (≤4-char
    * letter runs, ≤3-digit runs, single punctuation) approximate a BPE
    * merge table's output length — the cheap token-budget estimator a
    * pipeline runs before real tokenization. Greedy alternation behaves
    * identically in Java regex (Spark) and RE2 (DuckDB).
    */
  private val bpePattern = "[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9 ]"

  def qBpeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), length(col("text")).cast("long").as("nchars"),
        size(expr(s"regexp_extract_all(lower(text), '$bpePattern', 0)")).cast("long").as("ntok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("total_bpe_tokens"),
        round(sum(col("nchars")) / sum(col("ntok")).cast("double"), 4).as("chars_per_token"))
      .orderBy("lang")

  val qBpeTokensOracle: String =
    s"""SELECT lang, count(*) AS n_docs,
      | CAST(sum(len(regexp_extract_all(lower(text), '$bpePattern'))) AS BIGINT) AS total_bpe_tokens,
      | round(CAST(sum(length(text)) AS DOUBLE) / sum(len(regexp_extract_all(lower(text), '$bpePattern'))), 4) AS chars_per_token
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Fixed-size overlapping chunking (256-char window, 64-char stride
    * overlap) — context-window preparation for training. Chunk generation
    * is a per-row sequence+substring expansion (narrow, codegen'd); the
    * output keeps (doc, chunk index, text) so downstream ops can shuffle
    * chunks instead of documents.
    */
  def qChunk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(1, greatest(CAST(ceil((length(text) - 64) / 192.0) AS INT), 1)), " +
            "i -> substring(text, (i - 1) * 192 + 1, 256))")).as(Seq("chunk_pos", "chunk")))
      .select(col("doc_id"), (col("chunk_pos") + 1).cast("long").as("chunk_idx"),
        length(col("chunk")).cast("long").as("chunk_len"),
        substring(col("chunk"), 1, 16).as("chunk_head"))
      .orderBy("doc_id", "chunk_idx")

  val qChunkOracle: String =
    """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      | CAST(length(substr(text, (i - 1) * 192 + 1, 256)) AS BIGINT) AS chunk_len,
      | substr(text, (i - 1) * 192 + 1, 16) AS chunk_head
      |FROM documents,
      | LATERAL unnest(range(1, greatest(CAST(ceil((length(text) - 64) / 192.0) AS INT), 1) + 1)) AS u(i)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Redaction scrub — the PII-masking shape (here: digit runs → <NUM>):
    * count and length deltas per language so the pipeline can audit how
    * much content masking removed. Pure narrow regexp transforms.
    */
  def qScrub(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").as("n_masked"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]+", "<NUM>"))).cast("long").as("len_delta"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_masked").as("total_masked"),
        sum("len_delta").as("total_len_delta"))
      .orderBy("lang")

  val qScrubOracle: String =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS total_masked,
      | CAST(sum(length(text) - length(regexp_replace(text, '[0-9]+', '<NUM>', 'g'))) AS BIGINT) AS total_len_delta
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-document quality score: type/token ratio, stopword ratio, mean
    * word length — the standard cheap quality heuristics applied before
    * expensive model-based filtering in a data pipeline.
    */
  def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val words = split(col("text"), " ")
    val ntok = size(words).cast("double")
    val stopHits = size(expr(
      s"filter(split(text, ' '), w -> w IN ${sqlList(stopwords)})")).cast("double")
    d.select(col("doc_id"),
        size(words).cast("long").as("n_tokens"),
        round(size(array_distinct(words)) / ntok, 4).as("ttr"),
        round(stopHits / ntok, 4).as("stopword_ratio"),
        round((length(col("text")) - size(words) + 1) / ntok, 4).as("mean_word_len"))
      .filter(col("n_tokens") >= 5)
      .orderBy("doc_id")
  }

  val qQualityScoreOracle: String =
    s"""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      | round(len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS ttr,
      | round(len(list_filter(string_split(text, ' '), w -> w IN ${sqlList(stopwords)})) / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS stopword_ratio,
      | round((length(text) - len(string_split(text, ' ')) + 1) / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS mean_word_len
      |FROM documents
      |WHERE len(string_split(text, ' ')) >= 5
      |ORDER BY doc_id""".stripMargin

  /** Filter attribution — the "which rule killed each doc" audit behind
    * a quality cascade: every document is attributed to the FIRST rule
    * it fails (short → low type-token ratio → no stopwords), or `kept`.
    * [[qQualityFunnel]] reports the monotone survivor counts per stage;
    * this is the complementary multinomial — the report that tells a
    * curation team which rule to re-tune when the drop rate moves.
    * First-failure semantics make the outcomes a partition of the
    * corpus (counts sum to N), unlike independent per-rule counts.
    *
    * Scale shape: one narrow pass (split once, three derived scalars,
    * one CASE), one outcome-cardinality aggregate. The ratio
    * comparisons are integer-vs-product rewritten (`distinct * 100 <
    * 45 * n`) so no float boundary can flip an outcome between engines.
    */
  def qFilterAttribution(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), size(col("ws")).as("n_tok"),
        size(array_distinct(col("ws"))).as("n_distinct"),
        size(expr(s"filter(ws, w -> w IN ${sqlList(stopwords)})")).as("n_stop"))
      .select(when(col("n_tok") < 20, "r1_short")
        .when(col("n_distinct") * 100 < col("n_tok") * 45, "r2_low_ttr")
        .when(col("n_stop") * 100 < col("n_tok") * 2, "r3_no_stopwords")
        .otherwise("kept").as("outcome"))
      .groupBy("outcome").agg(count(lit(1)).as("n_docs"))
      .orderBy("outcome")

  val qFilterAttributionOracle: String =
    s"""WITH f AS (
      |  SELECT len(string_split(text, ' ')) AS n_tok,
      |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |    len(list_filter(string_split(text, ' '),
      |      w -> w IN ${sqlList(stopwords)})) AS n_stop
      |  FROM documents)
      |SELECT CASE
      |    WHEN n_tok < 20 THEN 'r1_short'
      |    WHEN n_distinct * 100 < n_tok * 45 THEN 'r2_low_ttr'
      |    WHEN n_stop * 100 < n_tok * 2 THEN 'r3_no_stopwords'
      |    ELSE 'kept' END AS outcome, count(*) AS n_docs
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** Deterministic language-ID heuristic: marker-token voting with a
    * fixed priority order. (A real n-gram model plugs into the same
    * per-row shape; the heuristic keeps it oracle-checkable.)
    */
  def qLangId(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // tokenize once and bind each hit-count to a column: inlining the
    // counts into the when-chain would re-split + re-filter per reference
    def hits(ws: Seq[String]) =
      size(expr(s"filter(ws, w -> w IN ${sqlList(ws)})"))
    val dataish = Seq("data", "table", "row", "column")
    val queryish = Seq("query", "filter", "join", "sort")
    val streamish = Seq("stream", "batch", "window", "spark")
    d.withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), hits(dataish).as("h_data"),
        hits(queryish).as("h_query"), hits(streamish).as("h_stream"))
      .select(col("doc_id"), col("lang"),
        when(col("h_data") >= col("h_query") && col("h_data") >= col("h_stream"), "dataish")
          .when(col("h_query") >= col("h_stream"), "queryish")
          .otherwise("streamish").as("pred_domain"))
      .groupBy("lang", "pred_domain")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_domain")
  }

  val qLangIdOracle: String = {
    def h(ws: Seq[String]) = s"len(list_filter(string_split(text, ' '), w -> w IN ${sqlList(ws)}))"
    val d = h(Seq("data", "table", "row", "column"))
    val q = h(Seq("query", "filter", "join", "sort"))
    val st = h(Seq("stream", "batch", "window", "spark"))
    s"""SELECT lang, pred_domain, count(*) AS n_docs FROM (
      |  SELECT lang, CASE WHEN $d >= $q AND $d >= $st THEN 'dataish'
      |    WHEN $q >= $st THEN 'queryish' ELSE 'streamish' END AS pred_domain
      |  FROM documents) sub
      |GROUP BY lang, pred_domain ORDER BY lang, pred_domain""".stripMargin
  }

  /** Document fingerprint: polynomial rolling hash over tokens (mod 2^31-1),
    * computed distributively with `aggregate` — identical integer
    * arithmetic is expressed in the DuckDB oracle, making a normally
    * "non-SQL" fingerprint hash-checkable. Per-token contribution mixes
    * length and first/last characters.
    */
  def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val fp = expr(
      """aggregate(
        |  transform(split(text, ' '),
        |    w -> CAST(length(w) * 97 + ascii(substring(w, 1, 1)) * 13 + ascii(substring(w, length(w), 1)) AS BIGINT)),
        |  CAST(0 AS BIGINT), (h, c) -> (h * 31 + c) % 2147483647)""".stripMargin)
    d.select(col("doc_id"), fp.as("fingerprint"))
      .orderBy("doc_id")
  }

  val qFingerprintOracle: String =
    """SELECT doc_id,
      | list_reduce(list_prepend(CAST(0 AS BIGINT),
      |   list_transform(string_split(text, ' '),
      |     w -> CAST(length(w) * 97 + ascii(substr(w, 1, 1)) * 13 + ascii(substr(w, length(w), 1)) AS BIGINT))),
      |   (h, c) -> (h * 31 + c) % 2147483647) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus-level n-gram DOCUMENT frequency: top 20 word bigrams by the
    * number of distinct documents containing them (ties broken by gram) —
    * the vocabulary/boilerplate report behind stop-gram lists and
    * contamination screens. Per-doc grams are already distinct
    * ([[Dedup.gramsSpark]]), so count(*) per gram IS document frequency;
    * the aggregate is map-side partial over exploded grams, and the top-k
    * is a TakeOrdered over the (bounded) distinct-gram surface, never a
    * global sort of the corpus.
    */
  /** PMI collocation extraction — the corpus-statistics pass behind
    * multi-word vocabulary entries and phrase-aware tokenizers: adjacent
    * word pairs scored by pointwise mutual information,
    * ln(c12·N / (c1·c2)), keeping pairs seen ≥ 5 times, top-20 with
    * deterministic tie-break. High-PMI pairs co-occur far above chance —
    * the collocations worth fusing into one token.
    *
    * Scale shape: bigram and unigram counts are map-side-combining hash
    * aggregates over the exploded surface; the two enrichment joins are
    * VOCABULARY-keyed (w1/w2) and unhinted — AQE broadcasts the unigram
    * side while it measures small, shuffles when a web-scale vocab
    * doesn't. The total is a 1-row aggregate broadcast back (the
    * scalar-subquery idiom), the df ≥ 5 filter prunes the pair surface
    * BEFORE both joins, and the top-20 is a TakeOrdered, never a global
    * sort.
    */
  def qPmi(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("ws", split(col("text"), " "))
    val pairs = docs.select(explode(expr(
        """zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
          | (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val pc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = docs.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val totals = pc.agg(sum("c12").as("n_pairs"))
    pc.filter(col("c12") >= 5)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        round(log(col("c12") * col("n_pairs") / (col("c1") * col("c2"))), 4).as("pmi4"))
      .orderBy(col("pmi4").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val qPmiOracle: String =
    """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |p AS (
      |  SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
      |         unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
      |  FROM w),
      |pc AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY w1, w2),
      |uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM w) GROUP BY w),
      |tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n_pairs FROM pc)
      |SELECT pc.w1, pc.w2, pc.c12,
      |  round(ln(pc.c12 * t.n_pairs / (u1.c * u2.c)), 4) AS pmi4
      |FROM pc CROSS JOIN tot t
      |JOIN uni u1 ON u1.w = pc.w1
      |JOIN uni u2 ON u2.w = pc.w2
      |WHERE pc.c12 >= 5
      |ORDER BY pmi4 DESC, pc.w1, pc.w2 LIMIT 20""".stripMargin

  def qNgramFreq(s: SparkSession, dir: String): DataFrame =
    Dedup.gramsOf(t(s, dir, "documents"))
      .select(explode(col("grams")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram").asc)
      .limit(20)

  val qNgramFreqOracle: String =
    s"""SELECT gram, count(*) AS doc_freq
      |FROM (SELECT doc_id, unnest(${Dedup.gramsDuck}) AS gram FROM ${Dedup.duckWords}) g
      |GROUP BY gram ORDER BY doc_freq DESC, gram LIMIT 20""".stripMargin

  /** Vocabulary coverage curve: token-occurrence share covered by the
    * top-100/500/1000 words — the statistic a tokenizer-training pass
    * reads before fixing a vocab size. Scale shape: one occurrence-stream
    * aggregate to word counts (map-side combined; the shuffle is the
    * distinct-word surface), a TakeOrdered top-1000 (vocab-sized, never
    * corpus-sized), then conditional sums over those 1000 rows unpivoted
    * with `stack`. The corpus total rides in as a broadcast single-row
    * aggregate (the scalar-subquery idiom of q_above_avg).
    */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val words = Dedup.withWords(t(s, dir, "documents"))
      .select(explode(col("ws")).as("w"))
      .filter(length(col("w")) > 0)
    val wcnt = words.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = wcnt.agg(sum("cnt").as("total"))
    val top = wcnt
      .orderBy(col("cnt").desc, col("w").asc).limit(1000)
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("cnt").desc, col("w").asc)))
    top
      .agg(sum(when(col("rk") <= 100, col("cnt"))).as("c100"),
        sum(when(col("rk") <= 500, col("cnt"))).as("c500"),
        sum(col("cnt")).as("c1000"))
      .selectExpr(
        "stack(3, 100, c100, 500, c500, 1000, c1000) AS (vocab_size, covered)")
      .crossJoin(broadcast(total))
      .select(col("vocab_size"), col("covered"), col("total"),
        round(col("covered") / col("total").cast("double"), 4).as("coverage"))
      .orderBy("vocab_size")
  }

  val qVocabCoverageOracle: String =
    """WITH words AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |wcnt AS (
      |  SELECT w, count(*) AS cnt FROM words WHERE length(w) > 0 GROUP BY w),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM wcnt),
      |top AS (
      |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rk
      |  FROM wcnt ORDER BY cnt DESC, w LIMIT 1000),
      |agg AS (
      |  SELECT CAST(sum(CASE WHEN rk <= 100 THEN cnt END) AS BIGINT) AS c100,
      |         CAST(sum(CASE WHEN rk <= 500 THEN cnt END) AS BIGINT) AS c500,
      |         CAST(sum(cnt) AS BIGINT) AS c1000
      |  FROM top),
      |cov AS (
      |  SELECT 100 AS vocab_size, c100 AS covered FROM agg
      |  UNION ALL SELECT 500, c500 FROM agg
      |  UNION ALL SELECT 1000, c1000 FROM agg)
      |SELECT vocab_size, covered, total,
      |  round(covered / CAST(total AS DOUBLE), 4) AS coverage
      |FROM cov, tot ORDER BY vocab_size""".stripMargin

  /** Zipf-law fit per language — the corpus-quality diagnostic read
    * before trusting a text source: natural language's rank-frequency
    * curve is ~power-law with slope ≈ −1 in log-log space, while
    * template spam, boilerplate explosions, and synthetic text bend it.
    * The fit is ordinary least squares over the frequency SPECTRUM
    * (count-of-counts): one point per distinct occurrence count, x =
    * ln(cumulative type rank at that count), y = ln(count), head-limited
    * to the top 200 spectrum rows with count ≥ 2 (the Zipf head; the
    * hapax point is the classic outlier). Fitting on the spectrum
    * instead of per-word ranks makes the result tie-free by construction
    * — no dependence on how equal-count words are ordered — and shrinks
    * the fit input from vocab-sized to O(√tokens) rows.
    *
    * Scale shape: word counts are one map-side-combined aggregate
    * (the shuffle is the distinct-word surface); the spectrum is a
    * second, O(√tokens)-row aggregate; the rank window partitions by
    * lang over spectrum rows only — bounded input by construction,
    * never the vocab, never the corpus. The OLS itself is a 5-sum
    * closed form per lang.
    */
  def qZipfSlope(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = Dedup.withWords(t(s, dir, "documents"))
      .select(col("lang"), explode(col("ws")).as("w"))
      .filter(length(col("w")) > 0)
    val wcnt = occ.groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
    val spec = wcnt.groupBy("lang", "cnt").agg(count(lit(1)).as("n_types"))
    val wnd = Window.partitionBy("lang").orderBy(col("cnt").desc)
    // cum_rank = rank of the LAST word at this count under any total
    // order refining count-desc; counts are distinct within the spectrum
    // so the default RANGE frame equals ROWS in both engines
    val pts = spec
      .withColumn("cum_rank", sum("n_types").over(wnd))
      .withColumn("rn", row_number().over(wnd))
      .filter(col("cnt") >= 2 && col("rn") <= 200)
      .select(col("lang"),
        log(col("cum_rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    val fit = pts.groupBy("lang").agg(
      count(lit(1)).as("n_points"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    fit.select(col("lang"), col("n_points"),
        (col("n_points") * col("sxy") - col("sx") * col("sy")).as("cov_n"),
        (col("n_points") * col("sxx") - col("sx") * col("sx")).as("var_x"),
        (col("n_points") * col("syy") - col("sy") * col("sy")).as("var_y"),
        col("sx"), col("sy"))
      .select(col("lang"), col("n_points"),
        when(col("var_x") =!= 0.0,
          round(col("cov_n") / col("var_x"), 4)).otherwise(-99.0).as("slope"),
        when(col("var_x") =!= 0.0,
          round((col("sy") - (col("cov_n") / col("var_x")) * col("sx")) /
            col("n_points"), 4)).otherwise(-99.0).as("intercept"),
        when(col("var_x") * col("var_y") =!= 0.0,
          round(col("cov_n") * col("cov_n") / (col("var_x") * col("var_y")), 4))
          .otherwise(-99.0).as("r2"))
      .orderBy("lang")
  }

  val qZipfSlopeOracle: String =
    """WITH occ AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |wcnt AS (
      |  SELECT lang, w, count(*) AS cnt FROM occ
      |  WHERE length(w) > 0 GROUP BY lang, w),
      |spec AS (SELECT lang, cnt, count(*) AS n_types FROM wcnt GROUP BY lang, cnt),
      |ranked AS (
      |  SELECT lang, cnt,
      |    sum(n_types) OVER (PARTITION BY lang ORDER BY cnt DESC
      |      ROWS UNBOUNDED PRECEDING) AS cum_rank,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC) AS rn
      |  FROM spec),
      |pts AS (
      |  SELECT lang, ln(cum_rank::DOUBLE) AS x, ln(cnt::DOUBLE) AS y
      |  FROM ranked WHERE cnt >= 2 AND rn <= 200),
      |fit AS (
      |  SELECT lang, count(*) AS n_points, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM pts GROUP BY lang),
      |d AS (
      |  SELECT lang, n_points,
      |    n_points * sxy - sx * sy AS cov_n,
      |    n_points * sxx - sx * sx AS var_x,
      |    n_points * syy - sy * sy AS var_y, sx, sy
      |  FROM fit)
      |SELECT lang, n_points,
      |  CASE WHEN var_x <> 0 THEN round(cov_n / var_x, 4)
      |       ELSE -99.0 END AS slope,
      |  CASE WHEN var_x <> 0
      |       THEN round((sy - (cov_n / var_x) * sx) / n_points, 4)
      |       ELSE -99.0 END AS intercept,
      |  CASE WHEN var_x * var_y <> 0
      |       THEN round(cov_n * cov_n / (var_x * var_y), 4)
      |       ELSE -99.0 END AS r2
      |FROM d ORDER BY lang""".stripMargin

  /** Top-3 TF-IDF terms per document (first 50 docs): per-doc term
    * frequency joined against the corpus document-frequency table on the
    * term key, scored with an INTEGER-scaled idf — `floor(nDocs * 1000 /
    * df)` — so cross-engine float `ln` differences can't flip a rank; the
    * per-doc top-3 is a doc-partitioned window (bounded by construction).
    * Scale shape: tf and df are both one hash-aggregate over the token
    * stream; the join shuffles on the term key; only the filtered report
    * slice (50 docs) flows into the window.
    */
  def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val words = Dedup.withWords(t(s, dir, "documents"))
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .filter(length(col("w")) > 0)
    val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    // doc count is a catalog-scale scalar (same class as the centroid
    // seeds): folded in as a literal
    val nDocs = graft.Tables.rowCount(s, dir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("w").asc)
    tf.filter(col("doc_id") < 50)
      .join(dfreq, Seq("w"))
      .withColumn("idf_scaled",
        floor(lit(nDocs.toDouble * 1000) / col("df")).cast("long"))
      .withColumn("score", col("tf") * col("idf_scaled"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("w").as("term"),
        col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rk")
  }

  val qTfidfOracle: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (
      |  SELECT doc_id, w, count(*) AS tf FROM words
      |  WHERE length(w) > 0 GROUP BY doc_id, w),
      |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT t.doc_id, t.w, t.tf, d.df,
      |    CAST(floor(n.n_docs * 1000 / CAST(d.df AS DOUBLE)) AS BIGINT) AS idf_scaled
      |  FROM tf t JOIN dfreq d USING (w), n
      |  WHERE t.doc_id < 50),
      |ranked AS (
      |  SELECT doc_id, w, tf, df, tf * idf_scaled AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY tf * idf_scaled DESC, w) AS rk
      |  FROM scored)
      |SELECT doc_id, rk, w AS term, tf, df, score
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** One counting pass of BPE vocabulary induction (Sennrich et al. 2016:
    * each merge iteration counts adjacent symbol pairs corpus-wide and
    * merges the most frequent): adjacent CHARACTER pairs over every word,
    * global top-20 by count with a lexicographic tie-break. The pair
    * explosion is a narrow projection and the count is a map-side
    * combinable hash aggregate, so each merge iteration is one
    * |distinct pairs|-row shuffle — the shape that lets the full merge
    * loop run iteration-per-job at corpus scale.
    */
  def qBpeMergeStep(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)

  val qBpeMergeStepOracle: String =
    """WITH words AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |pairs AS (
      |  SELECT unnest(list_transform(range(1, length(w)),
      |    i -> w[i:i + 1])) AS pair
      |  FROM words WHERE length(w) >= 2)
      |SELECT pair, count(*) AS cnt FROM pairs
      |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin

  /** Per-source document-length percentiles (p50/p90/p99 of n_chars) —
    * the length-distribution audit behind every truncation/chunking
    * decision. Spark's exact `percentile` and DuckDB's `quantile_cont`
    * share the linear-interpolation definition, and the interpolation
    * arithmetic runs on small exact integers, so 4-dp rounding is
    * engine-stable (unlike means of doubles — see [[Relational
    * .qMovingAvg]]'s note). Exact percentile sorts per group; at 100 TB
    * the same report would switch to `approx_percentile` (t-digest,
    * mergeable, one pass) — the audit tolerates approximation, the gate
    * here wants exactness.
    */
  def qLengthPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("source")
      .agg(round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
        round(expr("percentile(n_chars, 0.99)"), 4).as("p99"))
      .orderBy("source")

  val qLengthPercentilesOracle: String =
    """SELECT source,
      |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
      |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
      |  round(quantile_cont(n_chars, 0.99), 4) AS p99
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Gram novelty per source — the template-detector: what fraction of a
    * source's (doc-distinct) word bigrams appear there FIRST (first
    * occurrence = min doc_id over the whole corpus)? A source emitting
    * mostly re-seen grams is boilerplate/template output; a healthy
    * crawl contributes new text. Integer sums + ONE final division keep
    * the 4-dp ratio engine-stable.
    *
    * Scale shape: grams shuffle once for the min-doc aggregate
    * (map-side combined) and once for the join back — both gram-keyed,
    * no pair surface. In a production run first-occurrence would be
    * defined by ingest time rather than doc_id; the shape is identical.
    */
  def qGramNovelty(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gramRows = Dedup.gramsOf(t(s, dir, "documents"), "source")
      .select(col("doc_id"), col("source"), explode(col("grams")).as("g"))
    // min-over-window instead of groupBy+join-back: the join formulation
    // evaluated the gram generator TWICE (the aggregate side prunes
    // `source`, so the two subtrees never canonicalize equal and
    // ReuseExchange cannot fire) and shuffled the occurrence stream
    // twice; one gram-keyed window computes first_doc in a single
    // exchange of the stream.
    gramRows
      .withColumn("first_doc", min("doc_id").over(Window.partitionBy("g")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty4",
        round(col("n_novel") / col("n_grams").cast("double"), 4))
      .orderBy("source")
  }

  val qGramNoveltyOracle: String =
    """WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, source,
      |    unnest(list_distinct(list_transform(range(1, len(ws)),
      |      i -> ws[i] || '_' || ws[i + 1]))) AS g
      |  FROM w),
      |fs AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g)
      |SELECT source, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
      |    / CAST(count(*) AS DOUBLE), 4) AS novelty4
      |FROM g JOIN fs USING (g) GROUP BY source ORDER BY source""".stripMargin

  /** Blocked fuzzy key matching — the record-linkage kernel (normalize →
    * block → bounded pairwise score → threshold) over document prefix
    * keys: candidate pairs come from equality on the first two words (the
    * blocking key), and only blocked pairs pay the O(|key|²) edit-distance
    * scan (Spark's codegen'd `levenshtein`, same classic DP as the
    * oracle's). Near-duplicate documents share prefixes, so the match
    * list is exactly the linkage a dedup reviewer would eyeball.
    *
    * Scale shape: the block join is key-equality — the pair surface is
    * Σ_block C(n_b, 2), never corpus², and a production run would cap
    * block size first (the same hot-key df-cap as the contamination
    * screen). The scorer sees only the 40-char key, so no full text
    * shuffles through the join. The `w2 <> ''` guard pins one-word-doc
    * semantics: Spark yields NULL for a missing second token (never
    * joins), DuckDB's split_part yields '' (joins every one-word doc
    * into one block) — both sides filter them out explicitly.
    */
  /** Hot blocks get their join key EXTENDED by the next two words — the
    * [[graft.operators.Dedup.cappedBands]] subdivision idiom
    * applied to record-linkage blocking. On natural (Zipf) text the
    * two-word-prefix block degenerates at scale: the head block ("the
    * the"-style) holds a constant FRACTION of the corpus, so its pair
    * surface grows n² — measured at sf10, the top four blocks alone
    * carried ~6×10⁸ levenshtein verifies and pinned the suite for >15
    * minutes. Subdividing only over-cap blocks (cap = 64 docs, i.e.
    * ≤ ~2k verifies per cold block) bounds per-block work while leaving
    * every cold block's recall untouched; within a hot block, pairs
    * differing in words 3–4 are skipped — the standard blocking trade,
    * documented rather than hidden (production linkage subdivides
    * recursively; one level matches the simhash precedent).
    */
  def qFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val cap = 64
    val k = t(s, dir, "documents").select(
      col("doc_id"),
      substring(col("text"), 1, 40).as("key"),
      split(col("text"), " ").getItem(0).as("w1"),
      split(col("text"), " ").getItem(1).as("w2"),
      concat(coalesce(split(col("text"), " ").getItem(2), lit("")), lit("_"),
        coalesce(split(col("text"), " ").getItem(3), lit(""))).as("w34"))
      .filter(col("w2").isNotNull && col("w2") =!= "")
    val counts = k.groupBy("w1", "w2").agg(count(lit(1)).as("block_n"))
    val keyed = k.join(counts, Seq("w1", "w2"))
      .withColumn("sub", when(col("block_n") > cap, col("w34")).otherwise(lit("")))
    keyed.as("a").join(keyed.as("b"),
        col("a.w1") === col("b.w1") && col("a.w2") === col("b.w2") &&
        col("a.sub") === col("b.sub") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.key"), col("b.key")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= 10)
      .orderBy("doc_a", "doc_b")
  }

  val qFuzzyMatchOracle: String =
    """WITH k AS (
      |  SELECT doc_id, substr(text, 1, 40) AS key,
      |    split_part(text, ' ', 1) AS w1, split_part(text, ' ', 2) AS w2,
      |    split_part(text, ' ', 3) || '_' || split_part(text, ' ', 4) AS w34
      |  FROM documents
      |  WHERE split_part(text, ' ', 2) <> ''),
      |counts AS (SELECT w1, w2, count(*) AS block_n FROM k GROUP BY 1, 2),
      |keyed AS (
      |  SELECT k.*, CASE WHEN c.block_n > 64 THEN k.w34 ELSE '' END AS sub
      |  FROM k JOIN counts c USING (w1, w2))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS edit_dist
      |FROM keyed a JOIN keyed b
      |  ON a.w1 = b.w1 AND a.w2 = b.w2 AND a.sub = b.sub
      |  AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.key, b.key) <= 10
      |ORDER BY doc_a, doc_b""".stripMargin

  /** BM25 top-k retrieval — the inverted-index probe every corpus-search
    * and data-audit tool runs ("which training docs match this query"):
    * term frequency per (doc, term) for the query terms only, Robertson
    * idf from per-term document frequency, Okapi BM25 (k1=1.2, b=0.75)
    * summed per doc, top 10 by score. The query terms stand in for a
    * user-supplied query — model-sized by definition.
    *
    * Scale shape: the `w IN (terms)` filter prunes the exploded word
    * stream down to the query terms' postings BEFORE any shuffle, so the
    * only corpus-wide stages are one narrow doc-length projection and
    * the filtered explode — exactly what an inverted index would serve,
    * computed scan-side. The idf/avgdl table is one row per query term
    * (joined unhinted; AQE broadcasts it), and doc lengths join
    * tf doc-keyed — never a pair surface. Scores are fixed-pointed
    * (×10000 → round → long) so the top-k cut is engine-stable.
    */
  def qBm25TopK(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("vector", "broadcast", "spill")
    val d = t(s, dir, "documents")
    val dl = d.select(col("doc_id"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"), avg("dl").as("avgdl"))
    val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").isInCollection(terms))
      .groupBy("doc_id", "w").agg(count(lit(1)).cast("double").as("tf"))
    val idf = tf.groupBy("w").agg(countDistinct("doc_id").cast("double").as("df"))
      .crossJoin(stats) // 3 × 1 rows — the only cross join, literally term-count sized
      .select(col("w"),
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1).as("idf"),
        col("avgdl"))
    tf.join(idf, Seq("w"))
      .join(dl, Seq("doc_id"))
      .groupBy("doc_id")
      .agg(sum(col("idf") * col("tf") * 2.2 /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .as("score"))
      .select(col("doc_id"), round(col("score") * 10000).cast("long").as("score4"))
      .orderBy(desc("score4"), col("doc_id"))
      .limit(10)
  }

  val qBm25TopKOracle: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |dl AS (SELECT doc_id, len(ws)::DOUBLE AS dl FROM w),
      |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
      |tf AS (
      |  SELECT doc_id, w, count(*)::DOUBLE AS tf
      |  FROM (SELECT doc_id, unnest(ws) AS w FROM w)
      |  WHERE w IN ('vector', 'broadcast', 'spill') GROUP BY doc_id, w),
      |idf AS (
      |  SELECT w, ln((n - df + 0.5) / (df + 0.5) + 1) AS idf
      |  FROM (SELECT w, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY w), stats),
      |sc AS (
      |  SELECT tf.doc_id,
      |    sum(idf.idf * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS score
      |  FROM tf JOIN idf USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, CAST(round(score * 10000) AS BIGINT) AS score4
      |FROM sc ORDER BY score4 DESC, doc_id LIMIT 10""".stripMargin

  /** PII detection audit — the scan a pipeline runs BEFORE scrubbing
    * (q_scrub is the removal arm; this is the measurement arm): per
    * source, how many documents contain email- or phone-shaped strings
    * and how many total matches. The synthetic corpus carries no PII, so
    * the stress-op discipline applies: deterministic arithmetic injects
    * `user<id>@example.com` into every 7th document and a `555-NNNN`
    * number into every 11th, and the oracle replays the injection — the
    * regex kernel is what's under test, on patterns simple enough to
    * behave identically in Java regex and DuckDB's RE2.
    *
    * Scale shape: one narrow per-row scan (regexp_count is a codegen'd
    * string pass; the text never shuffles), then a source-sized
    * aggregate with map-side combine.
    */
  def qPiiScan(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").withColumn("text2", concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))))
    d.select(col("source"),
        expr("regexp_count(text2, '[a-z0-9]+@[a-z]+\\\\.[a-z]+')").as("e_cnt"),
        expr("regexp_count(text2, '[0-9]{3}-[0-9]{4}')").as("p_cnt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e_cnt") > 0 || col("p_cnt") > 0, 1L).otherwise(0L))
          .as("n_flagged"),
        sum("e_cnt").cast("long").as("n_email"),
        sum("p_cnt").cast("long").as("n_phone"))
      .orderBy("source")
  }

  val qPiiScanOracle: String =
    """WITH d AS (
      |  SELECT source, doc_id, text ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0
      |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |         ELSE '' END AS text2
      |  FROM documents),
      |m AS (
      |  SELECT source,
      |    len(regexp_extract_all(text2, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS e_cnt,
      |    len(regexp_extract_all(text2, '[0-9]{3}-[0-9]{4}')) AS p_cnt
      |  FROM d)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN e_cnt > 0 OR p_cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(sum(e_cnt) AS BIGINT) AS n_email,
      |  CAST(sum(p_cnt) AS BIGINT) AS n_phone
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_token_stats", qTokenStats, Some(qTokenStatsOracle)),
    QueryDef("q_pii_scan", qPiiScan, Some(qPiiScanOracle)),
    QueryDef("q_bm25_topk", qBm25TopK, Some(qBm25TopKOracle)),
    QueryDef("q_fuzzy_match", qFuzzyMatch, Some(qFuzzyMatchOracle)),
    QueryDef("q_length_percentiles", qLengthPercentiles, Some(qLengthPercentilesOracle)),
    QueryDef("q_gram_novelty", qGramNovelty, Some(qGramNoveltyOracle)),
    QueryDef("q_pmi", qPmi, Some(qPmiOracle)),
    QueryDef("q_bpe_merge_step", qBpeMergeStep, Some(qBpeMergeStepOracle)),
    QueryDef("q_vocab_coverage", qVocabCoverage, Some(qVocabCoverageOracle)),
    QueryDef("q_zipf_slope", qZipfSlope, Some(qZipfSlopeOracle)),
    QueryDef("q_tfidf", qTfidf, Some(qTfidfOracle)),
    QueryDef("q_ngram_freq", qNgramFreq, Some(qNgramFreqOracle)),
    QueryDef("q_bpe_tokens", qBpeTokens, Some(qBpeTokensOracle)),
    QueryDef("q_chunk", qChunk, Some(qChunkOracle)),
    QueryDef("q_scrub", qScrub, Some(qScrubOracle)),
    QueryDef("q_quality_score", qQualityScore, Some(qQualityScoreOracle)),
    QueryDef("q_filter_attribution", qFilterAttribution, Some(qFilterAttributionOracle)),
    QueryDef("q_lang_id", qLangId, Some(qLangIdOracle)),
    QueryDef("q_fingerprint", qFingerprint, Some(qFingerprintOracle)),
  )
}
