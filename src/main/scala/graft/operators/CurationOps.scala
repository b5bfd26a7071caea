package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** Data-curation operators — the model-quality passes a training-data
  * pipeline runs between raw ingest and tokenization, each expressed as a
  * declarative Spark plan whose shuffle surface stays sub-corpus at 100 TB:
  *
  *  - semantic dedup (the SemDeDup shape: k-means cells + within-cell
  *    cosine pruning, reusing the IVF centroids and the triangle-blocked
  *    pair kernel);
  *  - importance reweighting (the DSIR shape: hashed unigram features,
  *    add-1-smoothed target/raw log-likelihood ratio);
  *  - unigram cross-entropy quality scoring (the CCNet/kenlm-proxy shape:
  *    corpus LM fit per doc, high CE = rare-token-heavy);
  *  - containment attribution (asymmetric Jaccard: WHICH training doc
  *    contains an eval doc — the pair-level follow-up to the
  *    [[CorpusOps.qContamination]] screen).
  *
  * Reference scope: bricolage delegates all transform SQL to the user
  * (lib/bricolage/psqldatasource.rb); these operators are the Spark-first
  * extension surface the builder prompt asks for beyond the reference.
  */
object CurationOps {

  /** The containment screen's ABSOLUTE boilerplate df cap (round 15:
    * min(n/20, THIS) — the 5% fraction governs below `20 × cap` docs, the
    * absolute bound above). Production decontamination pipelines tune the
    * super-common-n-gram threshold per corpus (license headers vs forum
    * boilerplate have very different df floors), so the bound is a
    * documented knob, -Dgraft.containment.dfCap=N (default 512), not a
    * constant buried in the operator. Read ONCE at class init so the
    * REGISTERED pair — [[qContainment]]'s plan and [[qContainmentOracle]],
    * both built from this value — can never disagree within one JVM.
    * (Callers passing an explicit `dfCapAbs` to [[containment]] must pair
    * it with [[containmentOracleSql]] at the same cap — see there.)
    */
  val containmentDfCap: Long = {
    val raw = sys.props.getOrElse("graft.containment.dfCap", "512").trim
    val v =
      try raw.toLong
      catch { case _: NumberFormatException =>
        // fail fast WITH the knob's name: a bare .toLong here surfaces as
        // ExceptionInInitializerError / NoClassDefFoundError far from the
        // -D flag that caused it
        throw new IllegalArgumentException(
          s"-Dgraft.containment.dfCap must be a positive integer, got '$raw'")
      }
    require(v > 0,
      s"-Dgraft.containment.dfCap must be positive, got $v (the operator" +
        " and oracle would both floor it to 1 — reject the nonsensical" +
        " setting instead of silently screening at df 1)")
    v
  }

  private val NumBuckets = 128 // hashed-feature dimensionality (DSIR uses
  // 10k buckets at production scale; the bucket table stays model-sized
  // either way — it never scales with the corpus)

  /** Per-word occurrences with doc metadata: the shared narrow front of
    * the text-statistics operators (one split, one explode — no shuffle).
    */
  private def wordOcc(docs: DataFrame): DataFrame =
    docs.withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), explode(col("ws")).as("w"))

  private val duckOcc =
    """(SELECT doc_id, lang, unnest(ws) AS w
      |   FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
      |         FROM documents)) occ""".stripMargin

  // ---------------------------------------------------------------- semdedup

  /** Semantic dedup over embedding k-means cells (SemDeDup,
    * arXiv:2303.09540 shape): every vector is assigned to its nearest of
    * K=8 deterministic seed centroids (cosine argmax over driver-held
    * literals — the [[Similarity.qIvfAssign]] step), then near-duplicate
    * pairs (cos ≥ 0.3) are found WITHIN each cell via the triangle-blocked
    * self-join kernel ([[Similarity.nearDupPairs]]), and each duplicate
    * group keeps its smallest vec_id. Output: per-cell occupancy, removed
    * and kept counts.
    *
    * Scale shape: assignment is a narrow codegen'd projection (zero
    * shuffle); pairing shuffles on the cell key with hot cells decomposed
    * into B(B+1)/2 bounded block tasks; the removed-id set is
    * cell-partitioned. Nothing is ever doc×doc across cells — the cell
    * count K bounds the candidate surface exactly like an IVF index.
    */
  def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), expr(Similarity.normExpr).as("nrm"))
    val best = array_max(Similarity.centScores(Similarity.seedCentroids(e)))
    // the cell id plays the `label` role of the pair kernel (Int-typed:
    // the kernel's per-label block map is keyed on Int cells)
    val cells = e.select(col("vec_id"),
      best.getField("cent_id").cast("int").as("label"), col("embedding"), col("nrm"))
    val pairs = Similarity.nearDupPairs(cells, blockTarget = 4096L)
    val removed = pairs.groupBy(col("label"))
      .agg(countDistinct(col("id_b")).as("n_removed"))
    cells.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      .join(removed, Seq("label"), "left")
      .select(col("label").cast("long").as("cent_id"), col("n_vecs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .withColumn("n_kept", col("n_vecs") - col("n_removed"))
      .orderBy("cent_id")
  }

  val qSemDedupOracle: String =
    """WITH cent AS (
      |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      |p0 AS (
      |  SELECT e.vec_id, c.cent_id,
      |    unnest(e.embedding)::DOUBLE AS x, unnest(c.cv)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN cent c),
      |sc AS (
      |  SELECT vec_id, cent_id,
      |    sum(x * y) / (sqrt(sum(y * y)) * sqrt(sum(x * x))) AS cos
      |  FROM p0 GROUP BY vec_id, cent_id),
      |asg AS (
      |  SELECT vec_id, cent_id,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
      |  FROM sc),
      |cells AS (SELECT vec_id, cent_id FROM asg WHERE rk = 1),
      |pr AS (
      |  SELECT a.cent_id, a.vec_id AS id_a, b.vec_id AS id_b,
      |    unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
      |  FROM cells a JOIN cells b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      |  JOIN embeddings ea ON ea.vec_id = a.vec_id
      |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
      |dup AS (
      |  SELECT cent_id, id_a, id_b FROM (
      |    SELECT cent_id, id_a, id_b,
      |      round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cs
      |    FROM pr GROUP BY cent_id, id_a, id_b) q
      |  WHERE cs >= 0.3),
      |rem AS (SELECT cent_id, count(DISTINCT id_b) AS n_removed FROM dup GROUP BY cent_id),
      |occ AS (SELECT cent_id, count(*) AS n_vecs FROM cells GROUP BY cent_id)
      |SELECT o.cent_id, o.n_vecs,
      |  CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
      |  CAST(o.n_vecs - coalesce(r.n_removed, 0) AS BIGINT) AS n_kept
      |FROM occ o LEFT JOIN rem r ON r.cent_id = o.cent_id
      |ORDER BY o.cent_id""".stripMargin

  // ----------------------------------------------------- importance weights

  /** DSIR-style importance reweighting (arXiv:2302.03169 shape): words
    * hash into 128 feature buckets; the target distribution (lang = 'en')
    * and the raw corpus each get add-1-smoothed bucket probabilities; a
    * document's importance weight is the summed log-likelihood ratio of
    * its word occurrences. Output: per-language doc counts, how many docs
    * score target-like (w > 0), and an order-independent fixed-point sum
    * of the per-doc weights.
    *
    * Scale shape: the bucket table is ≤128 rows — an aggregate that
    * map-side-combines down to nothing, then broadcasts back for scoring;
    * per-doc scoring is one narrow pass + a doc-keyed agg. No corpus-sized
    * shuffle anywhere: this is why DSIR is the reweighting method that
    * runs at trillions of tokens.
    */
  def qImportanceWeights(s: SparkSession, dir: String): DataFrame = {
    // ONE heavy stage owns the corpus: explode + hash + (doc, lang,
    // bucket) pre-aggregate. Map-side combine collapses each document's
    // word occurrences to ≤128 bucket rows before anything shuffles, and
    // every downstream stage (bucket stats, scoring) works on that
    // doc×bucket surface instead of re-exploding the corpus.
    val docB = wordOcc(t(s, dir, "documents"))
      .withColumn("b", expr(Dedup.shingleHashScalar("w")) % NumBuckets)
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("cnt"))
    val bstats = docB.groupBy("b").agg(
      sum("cnt").as("r_cnt"),
      sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("t_cnt"))
    // corpus totals via an unpartitioned window over the ≤128-row bucket
    // frame — a driver-sized frame, so the single-partition window is free
    val all = Window.partitionBy()
    val lrTab = bstats
      .withColumn("r_tot", sum("r_cnt").over(all))
      .withColumn("t_tot", sum("t_cnt").over(all))
      .select(col("b"),
        (log((col("t_cnt") + lit(1.0)) / (col("t_tot") + lit(NumBuckets.toDouble))) -
         log((col("r_cnt") + lit(1.0)) / (col("r_tot") + lit(NumBuckets.toDouble)))).as("lr"))
    val docW = docB.join(broadcast(lrTab), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(round(sum(col("lr") * col("cnt")) * 10000).cast("long").as("w4"))
    docW.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("w4") > 0, 1L).otherwise(0L)).as("n_selected"),
      sum("w4").as("sum_w4"))
      .orderBy("lang")
  }

  val qImportanceWeightsOracle: String =
    s"""WITH db AS (
      |  SELECT doc_id, lang, ${Dedup.shingleHashScalar("w")} % $NumBuckets AS b,
      |    count(*) AS cnt
      |  FROM $duckOcc GROUP BY 1, 2, 3),
      |bs AS (
      |  SELECT b, sum(cnt) AS r_cnt,
      |    sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS t_cnt
      |  FROM db GROUP BY b),
      |tot AS (SELECT sum(r_cnt) AS r_tot, sum(t_cnt) AS t_tot FROM bs),
      |lr AS (
      |  SELECT b, ln((t_cnt + 1.0) / (t_tot + $NumBuckets.0))
      |          - ln((r_cnt + 1.0) / (r_tot + $NumBuckets.0)) AS lr
      |  FROM bs, tot),
      |dw AS (
      |  SELECT doc_id, lang, CAST(round(sum(lr * cnt) * 10000) AS BIGINT) AS w4
      |  FROM db JOIN lr USING (b) GROUP BY doc_id, lang)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN w4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
      |  CAST(sum(w4) AS BIGINT) AS sum_w4
      |FROM dw GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------- bigram cross-entropy

  /** Interpolated BIGRAM cross-entropy quality scoring — the full
    * CCNet/KenLM shape that [[qUnigramCe]] proxies: fit a bigram LM with
    * Jelinek–Mercer interpolation on a TRAIN slice (doc_id % 10 ≠ 0),
    * then score every document's word transitions under it, held-out
    * docs included. p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·p₁(w₂) with
    * λ = 0.9 and an add-one unigram floor p₁(w) = (c(w)+1)/(N+V+1), so
    * OOV transitions score finitely instead of −∞. The held-out rows
    * surface the generalization gap every perplexity-filter deployment
    * has to calibrate against (train-slice CE is biased low — the model
    * has seen those very transitions).
    *
    * Scale shape: the model is two gram-keyed aggregates (bigram and
    * context counts) over the train slice — map-side-combined, never
    * doc-paired — and scoring is three key-equality joins of the doc's
    * transition rows against those model tables. All three joins are
    * deliberately unhinted: a web-scale bigram vocabulary scales with
    * the corpus, so AQE must be free to degrade broadcast→shuffle (the
    * same contract as [[qUnigramCe]]'s vocab join). The scalar (N, V)
    * row rides a broadcast cross-join like every 1-row aggregate here.
    */
  def qBigramCe(s: SparkSession, dir: String): DataFrame = {
    val lambda = 0.9
    val bg = Dedup.withWords(t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        explode(expr(
          """zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
            | (a, b) -> named_struct('w1', a, 'w2', b))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    // docs with fewer than two words have no transitions (empty zip_with
    // drops them at the explode) and would silently vanish from the
    // per-(lang, split) coverage. Score their single word under the pure
    // unigram floor: a NULL w1 never matches a join key, so c12/c1
    // coalesce to 0 and the scoring expression reduces to the (1-λ)
    // interpolation arm — no special-case branch in the hot path.
    val shortDocs = Dedup.withWords(t(s, dir, "documents"))
      .filter(size(col("ws")) < 2)
      .select(col("doc_id"), col("lang"),
        lit(null).cast("string").as("w1"), col("ws").getItem(0).as("w2"))
    val train = bg.filter(col("doc_id") % 10 =!= 0)
    val c12 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    // unigram floor over the train slice's words (all positions, so the
    // doc-final word still counts), with add-one mass for OOV
    val uni = wordOcc(t(s, dir, "documents"))
      .filter(col("doc_id") % 10 =!= 0)
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val nv = uni.agg(sum("cu").cast("double").as("n"),
      count(lit(1)).cast("double").as("v"))
    val scored = bg.unionByName(shortDocs)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("cu")), Seq("w2"), "left")
      .crossJoin(broadcast(nv))
      .select(col("doc_id"), col("lang"),
        log(lit(lambda) *
            coalesce(col("c12") / col("c1").cast("double"), lit(0.0)) +
          lit(1.0 - lambda) *
            ((coalesce(col("cu"), lit(0L)) + lit(1.0)) /
             (col("n") + col("v") + lit(1.0)))).as("logp"))
    val docCe = scored.groupBy("doc_id", "lang")
      .agg(round((-sum("logp") / count(lit(1))) * 10000).cast("long").as("ce4"))
    docCe
      .withColumn("split",
        when(col("doc_id") % 10 === 0, lit("held")).otherwise(lit("train")))
      .groupBy("lang", "split").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ce4") > BigramCeCutoff, 1L).otherwise(0L)).as("n_flagged"),
        sum("ce4").as("sum_ce4"))
      .orderBy("lang", "split")
  }

  /** Flag cutoff in 1e-4 nats: docs whose interpolated bigram CE exceeds
    * this are the rare-transition tail a perplexity filter down-samples.
    */
  private val BigramCeCutoff = 60000L

  val qBigramCeOracle: String =
    s"""WITH dws AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      |bg AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
      |  FROM dws),
      |tr AS (SELECT * FROM bg WHERE doc_id % 10 <> 0),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM tr GROUP BY w1),
      |uni AS (
      |  SELECT w, count(*) AS cu FROM $duckOcc
      |  WHERE doc_id % 10 <> 0 GROUP BY w),
      |nv AS (SELECT sum(cu)::DOUBLE AS n, count(*)::DOUBLE AS v FROM uni),
      |-- sub-2-word docs: no transitions, scored under the unigram floor
      |-- via a NULL w1 (never matches a join key) — mirrors the Spark arm
      |shortd AS (
      |  SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS w1, ws[1] AS w2
      |  FROM dws WHERE len(ws) < 2),
      |sc AS (
      |  SELECT bg.doc_id, bg.lang,
      |    ln(0.9 * coalesce(c12.c12 / c1.c1::DOUBLE, 0.0) +
      |       0.1 * ((coalesce(uni.cu, 0) + 1.0) / (nv.n + nv.v + 1.0))) AS logp
      |  FROM (SELECT * FROM bg UNION ALL SELECT * FROM shortd) bg
      |  LEFT JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
      |  LEFT JOIN c1 ON c1.w1 = bg.w1
      |  LEFT JOIN uni ON uni.w = bg.w2
      |  CROSS JOIN nv),
      |dc AS (
      |  SELECT doc_id, lang,
      |    CAST(round((-sum(logp) / count(*)) * 10000) AS BIGINT) AS ce4
      |  FROM sc GROUP BY doc_id, lang)
      |SELECT lang,
      |  CASE WHEN doc_id % 10 = 0 THEN 'held' ELSE 'train' END AS split,
      |  count(*) AS n_docs,
      |  CAST(sum(CASE WHEN ce4 > 60000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flagged,
      |  CAST(sum(ce4) AS BIGINT) AS sum_ce4
      |FROM dc GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  // ---------------------------------------------------- unigram cross-entropy

  /** Unigram cross-entropy quality scoring (the CCNet/kenlm-proxy shape):
    * fit a unigram LM on the whole corpus, score each document by its
    * average negative log-likelihood. Rare-token-heavy documents (high CE)
    * are the "tail quality" bucket a curation pipeline down-samples.
    * Output: per-language doc counts, docs flagged above the CE cutoff,
    * and an order-independent fixed-point CE sum.
    *
    * Scale shape: the vocab aggregate map-side-combines to the distinct
    * word surface — which on typo-heavy web text scales with the corpus,
    * NOT with the language, so the vocab join is deliberately unhinted:
    * AQE broadcasts it while it measures small and falls back to a
    * key-equality shuffle join (which never pairs docs) once it doesn't.
    * A `broadcast()` hint would instead be mandatory — Spark never
    * degrades a hinted side — and fail the job at the 100 TB design point.
    */
  def qUnigramCe(s: SparkSession, dir: String): DataFrame = {
    val occ = wordOcc(t(s, dir, "documents"))
    val wcnt = occ.groupBy("w").agg(count(lit(1)).as("cnt"))
    // corpus total as a broadcast single-row aggregate (the q_above_avg
    // scalar-subquery idiom) — NOT an unpartitioned window: the vocab
    // table this rides over scales with the corpus on web text, so a
    // global window would funnel it through one task
    val tot = wcnt.agg(sum("cnt").cast("double").as("n"))
    val vocab = wcnt.crossJoin(broadcast(tot))
      .select(col("w"), log(col("cnt") / col("n")).as("logp"))
    val docCe = occ.join(vocab, Seq("w"))
      .groupBy("doc_id", "lang")
      .agg(round((-sum("logp") / count(lit(1))) * 10000).cast("long").as("ce4"))
    docCe.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("ce4") > 34100, 1L).otherwise(0L)).as("n_flagged"),
      sum("ce4").as("sum_ce4"))
      .orderBy("lang")
  }

  val qUnigramCeOracle: String =
    s"""WITH v AS (SELECT w, count(*) AS cnt FROM $duckOcc GROUP BY w),
      |tot AS (SELECT sum(cnt)::DOUBLE AS n FROM v),
      |lp AS (SELECT w, ln(cnt / n) AS logp FROM v, tot),
      |dc AS (
      |  SELECT doc_id, lang,
      |    CAST(round((-sum(logp) / count(*)) * 10000) AS BIGINT) AS ce4
      |  FROM $duckOcc JOIN lp USING (w) GROUP BY doc_id, lang)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN ce4 > 34100 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(sum(ce4) AS BIGINT) AS sum_ce4
      |FROM dc GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------- containment

  /** Containment attribution: for eval docs (doc_id % 10 = 0), WHICH
    * training document contains them — asymmetric Jaccard
    * |grams(eval) ∩ grams(train)| / |grams(eval)| ≥ 0.3 over 4-WORD
    * shingle sets (the decontamination-standard long-gram regime — see
    * [[Dedup.grams4Spark]] for why bigram-keyed joins melt on Zipf
    * text). The pair-level follow-up to the
    * [[CorpusOps.qContamination]] screen: containment (not symmetric
    * Jaccard) is the right measure when a long train doc quotes a short
    * eval doc wholesale.
    *
    * Scale shape: candidate pairs materialize ONLY through shared grams
    * (gram-keyed equi-join; pair surface = Σ_g df_eval·df_train, bounded
    * by gram document frequency — never eval×train, and 4-gram df is
    * Zipf⁴-tailed so posting lists stay short at every corpus size). Hot
    * grams are additionally capped BEFORE the join: any gram appearing
    * in more than 5% of documents is dropped from both join sides (the
    * production decontamination idiom — stopword grams carry no
    * attribution signal and are exactly the df² blowup terms). Eval-set
    * sizes `n_a` are
    * computed on the UNCAPPED gram sets so the containment denominator
    * stays true; capping can only lower a score, never inflate it. Both
    * joins are unhinted — eval docs scale with the corpus, so AQE picks
    * broadcast vs shuffle by measured size instead of a mandatory
    * `broadcast()` hint that would OOM the driver at 100 TB.
    */
  def qContainment(s: SparkSession, dir: String): DataFrame =
    containment(s, dir)._1

  /** [[qContainment]] plus a release handle for the persisted gram table —
    * the loan-pattern callers (specs, pipelines embedding this op) use to
    * scope the cache without nuking the whole session's cache
    * (Bench, Verify and Explain still release between queries).
    *
    * Round 15 — the df cap is now min(n/20, 512) (was n/20 alone). The
    * inverted-index join pays df_eval × df_train pairs per gram, so the
    * grams near the cap contribute a df² term: measured growth exponent
    * 1.67 on sf60→sf100 with a 32 g NO-SPILL pinned heap (zero eviction
    * lines — the round-14 spill hypothesis is refuted; this is the df²
    * term itself). The measured 4-gram df spectrum (DuckDB pair-work
    * integral Σ df_eval·df_train by df bucket — reproducible via
    * tools/pairwork_spectrum.py; committed in BASELINE.md "Round-16:
    * the containment df-cap evidence trail"):
    * grams with df > 512 are 0.002% of gram TYPES but carry 73–77% of
    * the pair work, and their work grows ×2.65 per 1.67× data while
    * every ≤512 bucket grows linearly (×1.63–1.71). An ABSOLUTE
    * boilerplate cap — a 4-gram present in >512 documents carries no
    * pairwise contamination signal regardless of corpus size, the same
    * super-common-n-gram exclusion production decontamination pipelines
    * apply — bounds per-gram pair work at 512·df_train and makes the
    * measured work integral exactly linear in n (169.1M → 285.1M =
    * 1.69× for 1.67× data at sf60→sf100). The 5% fraction still governs
    * small corpora (n/20 < 512 below 10,240 docs, so the sf0.01
    * correctness gate and sf0.1 bench see IDENTICAL results). The n_a
    * denominator stays UNCAPPED, so the reported score remains a
    * documented lower bound and the ≥ threshold never over-reports
    * (same contract as before). The oracle computes the identical cap,
    * so the op stays fully hash-gated at every SF.
    *
    * Rejected alternatives, both measured round 15 (committed in the
    * same BASELINE.md round-16 section):
    * (a) PPJoin-style prefix filtering (rarest n_capped−⌈0.3·n_a⌉+1
    * grams as candidate keys + exact verify) — at threshold 0.3 the
    * prefix is ~70% of each doc's grams, so it kept the df² term AND
    * added three shuffles: 57.0 s at sf10 / 313.5 s at sf30 vs the
    * naive join's 31.8 / 96.6. (b) a relative 8·√n cap — only ~15%
    * off the join work at sf60–sf100 because the super-linear mass
    * sits in the mid-df buckets a √n cap keeps (exponent stayed 1.6).
    */
  def containment(s: SparkSession, dir: String,
      dfCapAbs: Long = CurationOps.containmentDfCap): (DataFrame, () => Unit) = {
    // the df cap: the scale-invariant stopword FRACTION (df > 5% of docs)
    // for small corpora, the absolute boilerplate bound (default 512,
    // tunable — see [[CurationOps.containmentDfCap]]) at scale (see
    // scaladoc); count(*) on parquet is a footer-metadata scalar, not a
    // data scan
    val nDocs = graft.Tables.rowCount(s, dir, "documents")
    val dfCap = math.max(1L, math.min(nDocs / 20, dfCapAbs))
    // persisted: four consumers (df cap, eval side, train side, eval
    // sizes) would otherwise each re-run the split+shingle explode over
    // the corpus — the same shared-projection idiom as the LSH signature
    // table; the caller owns the cache lifetime (Bench/Verify clear
    // between queries, specs clear after collect)
    // 4-word shingles, NOT the bigrams the signature passes use: this is
    // an inverted-index join keyed on the gram, and bigram posting lists
    // grow linearly with a natural-text corpus (see Dedup.grams4Spark for
    // the measured sf10 blowup) — the decontamination-standard long-gram
    // regime keeps per-gram df bounded at every scale
    val grams = {
      graft.functions.VectorFunctions.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"), explode(expr("grams4w(text)")).as("gram"))
        .persist()
    }
    // count(*), not countDistinct(doc_id): grams4Spark is array_distinct
    // per doc, so (doc_id, gram) rows are already unique and the two are
    // equal by construction — but countDistinct plans a two-phase
    // distinct aggregate where plain count is one map-side-combined hash
    // aggregate. The oracle keeps count(DISTINCT doc_id), pinning the
    // equality cross-engine (unnest of a list_distinct list).
    val keep = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("gram")
    val evalG = grams.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("eval_id"), col("gram"))
    val trainG = grams.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("train_id"), col("gram"))
    // n_a on the UNCAPPED eval grams: the denominator stays true, so a
    // capped score is a lower bound and the ≥ threshold never over-reports
    val sizes = evalG.groupBy("eval_id").agg(count(lit(1)).as("n_a"))
    val result = evalG.join(keep, Seq("gram"), "left_semi")
      .join(trainG.join(keep, Seq("gram"), "left_semi"), Seq("gram"))
      .groupBy("eval_id", "train_id").agg(count(lit(1)).as("inter"))
      .join(sizes, Seq("eval_id"))
      .select(col("eval_id"), col("train_id"),
        round(col("inter") / col("n_a").cast("double"), 4).as("containment"))
      .filter(col("containment") >= 0.3)
      .orderBy("eval_id", "train_id")
    (result, () => { grams.unpersist(); () })
  }

  /** The DuckDB twin of [[containment]], parameterized on the SAME cap
    * argument — a caller that overrides `dfCapAbs` must pair the plan
    * with `containmentOracleSql(theSameCap)` or the two diverge (the
    * registered [[qContainmentOracle]] pairs with the registered query's
    * default, [[containmentDfCap]]).
    */
  def containmentOracleSql(
      dfCapAbs: Long = CurationOps.containmentDfCap): String =
    s"""WITH g AS (
      |  SELECT doc_id, unnest(${Dedup.grams4Duck}) AS gram FROM ${Dedup.duckWords}),
      |cap AS (SELECT greatest(1, least(count(*) // 20, $dfCapAbs)) AS dfcap
      |  FROM documents),
      |keep AS (
      |  SELECT gram FROM (
      |    SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram) d, cap
      |  WHERE df <= dfcap),
      |e AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 10 = 0),
      |tr AS (SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 10 <> 0),
      |sz AS (SELECT eval_id, count(*) AS n_a FROM e GROUP BY eval_id),
      |inter AS (
      |  SELECT eval_id, train_id, count(*) AS i
      |  FROM (SELECT eval_id, gram FROM e JOIN keep USING (gram)) ek
      |  JOIN (SELECT train_id, gram FROM tr JOIN keep USING (gram)) tk
      |  USING (gram) GROUP BY eval_id, train_id)
      |SELECT inter.eval_id, train_id, round(i / n_a::DOUBLE, 4) AS containment
      |FROM inter JOIN sz ON sz.eval_id = inter.eval_id
      |WHERE round(i / n_a::DOUBLE, 4) >= 0.3
      |ORDER BY inter.eval_id, train_id""".stripMargin

  val qContainmentOracle: String = containmentOracleSql()

  // ---------------------------------------------------------- leakage split

  /** Leakage-safe train/test split: assignment is a pure function of the
    * doc's NEAR-DUP-CLUSTER representative, not of the doc itself, so an
    * entire duplicate family lands on one side of the boundary by
    * construction — the discipline that keeps eval sets honest (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 §6 documents eval contamination from split-crossing
    * near-dups). The cluster key is the CONNECTED-COMPONENT label over
    * ALL FOUR LSH bands of [[Dedup]]'s 32-permutation MinHash signature
    * (bucket-min star edges per band, closed by
    * [[ClusterOps.connectedComponents]]): any two docs that collide in AT
    * LEAST ONE band — the entire candidate surface the dedup family
    * itself searches — share a cluster and therefore a side. (A band-0-
    * only grouping would let pairs that collide only in bands 1-3
    * straddle; the residual exposure now is only pairs LSH itself never
    * surfaces, which no LSH-based dedup would catch either.)
    *
    * Split = first hex digit of md5(cluster-rep id) in [0,b] → train
    * (12/16 = 75%), else test — deterministic and engine-portable.
    *
    * Output: per-split doc/cluster/token counts plus the split-crossing
    * cluster count. That count is a STRUCTURAL invariant check — split is
    * a pure function of the cluster key computed in the same query, so a
    * nonzero value can only mean the pipeline itself is broken (the
    * assertion a gate runs before promoting a split manifest), not a
    * measurement of contamination against an external splitter.
    *
    * At 100 TB: the signature is [[Dedup.sigOf]]'s narrow fused
    * projection (zero shuffle); the bucket-min window is ONE shuffle on
    * the band key with LSH-bucket-bounded partitions; the star edges are
    * linear in the band rows (never within-bucket quadratic); the CC
    * iteration runs over the DUPLICATE surface only (docs with no bucket
    * collision never enter the graph) in O(log diameter) rounds; then one
    * partial-aggregated shuffle for the per-split stats and a single-row
    * broadcast for the leakage scalar. No all-pairs anything.
    */
  /** Per-doc assignment frame (doc_id, n_tokens, cluster, split) behind
    * [[qLeakageSplit]] — exposed so the growth-stability property (docs
    * whose cluster membership is unchanged keep their side when the
    * corpus grows) is testable on the actual assignments, not just on
    * the aggregated report.
    */
  private[graft] def leakageAssignments(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    // NOT persisted (measured, r16): the final join prunes `sig` down to
    // (doc_id, n_tokens) — the optimizer already drops the minhash
    // column from both aggregate branches, so the only full signature
    // evaluation is the one inside the CC edge build. A persist here
    // forced the 32-hash column into cache for consumers that never read
    // it and measured ~0.3 s SLOWER at sf0.1 (isolated A/B, min-of-2).
    val sig = Dedup.sigOf(Dedup.gramsOf(docs, "n_tokens"), "n_tokens")
    // star edges: every doc links to the min doc_id of each LSH bucket it
    // occupies — same components as within-bucket cliques at linear cost
    val bands = Dedup.bandsOf(sig)
    val withMin = bands.withColumn("bmin",
      min(col("doc_id")).over(Window.partitionBy(col("band_idx"), col("band_sig"))))
    val edges = withMin.filter(col("doc_id") > col("bmin"))
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    val labels = ClusterOps.connectedComponents(edges, 20)
      .withColumnRenamed("id", "doc_id")
    sig.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("lbl"), col("doc_id")))
      .withColumn("split",
        when(substring(md5(col("cluster").cast("string")), 1, 1) <= "b",
          "train").otherwise("test"))
      .select("doc_id", "n_tokens", "cluster", "split")
  }

  def qLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val clustered = leakageAssignments(s, dir)
    val leaky = clustered.groupBy("cluster")
      .agg(countDistinct(col("split")).as("ns"))
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("leaky_clusters"))
    clustered.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"),
        sum(col("n_tokens")).as("n_tokens"))
      .crossJoin(broadcast(leaky))
      .orderBy("split")
  }

  val qLeakageSplitOracle: String =
    s"""WITH RECURSIVE ${Dedup.lshCtesDuck()},
      |bm AS (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY band_idx, band_sig) AS bmin
      |  FROM bands2),
      |pairs AS (
      |  SELECT DISTINCT bmin AS doc_a, doc_id AS doc_b FROM bm WHERE doc_id > bmin),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT src AS id, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS id, reach.lbl FROM reach JOIN edges e ON e.src = reach.id),
      |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
      |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
      |sp AS (
      |  SELECT t.doc_id, coalesce(c.lbl, t.doc_id) AS cluster, t.n_tokens,
      |         CASE WHEN substring(md5(CAST(coalesce(c.lbl, t.doc_id) AS VARCHAR)), 1, 1) <= 'b'
      |              THEN 'train' ELSE 'test' END AS split
      |  FROM tok t LEFT JOIN comp c ON c.id = t.doc_id),
      |leak AS (
      |  SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |           AS leaky_clusters
      |  FROM (SELECT cluster, count(DISTINCT split) AS ns FROM sp GROUP BY cluster))
      |SELECT split, count(*) AS n_docs,
      |       count(DISTINCT cluster) AS n_clusters,
      |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |       leaky_clusters
      |FROM sp CROSS JOIN leak
      |GROUP BY split, leaky_clusters
      |ORDER BY split""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_semdedup", qSemDedup, Some(qSemDedupOracle)),
    QueryDef("q_leakage_split", qLeakageSplit, Some(qLeakageSplitOracle)),
    QueryDef("q_importance_weights", qImportanceWeights, Some(qImportanceWeightsOracle)),
    QueryDef("q_unigram_ce", qUnigramCe, Some(qUnigramCeOracle)),
    QueryDef("q_bigram_ce", qBigramCe, Some(qBigramCeOracle)),
    QueryDef("q_containment", qContainment, Some(qContainmentOracle)),
  )
}
