package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline at 100 TB:
  *
  *  - exact dedup: hash-groupBy on content (one shuffle on the content key);
  *  - MinHash + LSH near-dedup: per-row signature (narrow) → band-bucket
  *    shuffle (only colliding docs meet) → exact Jaccard verify on the
  *    candidate pairs. This is the scale path: no O(n²) cross join ever
  *    materializes, only same-bucket candidates shuffle.
  *  - n-gram Jaccard: exact set similarity on a bounded pair set;
  *  - SimHash: per-row 16-bit signature; exact-match grouping.
  *
  * All hashes are deterministic integer arithmetic (no engine-native
  * murmur), so every step is reproducible in the DuckDB oracle and the
  * whole pipeline stays hash-checkable end-to-end.
  */
object Dedup {

  /** Exact deduplication: one representative (min doc_id) per distinct text.
    * Single shuffle keyed on the text; at scale, key on a 128-bit content
    * digest instead of the full text to shrink shuffle width.
    */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("n_copies"), length(col("text")).cast("long").as("text_len"))
      .orderBy("keep_doc_id")

  val qDedupExactOracle: String =
    """SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies, length(text) AS text_len
      |FROM documents GROUP BY text ORDER BY keep_doc_id""".stripMargin

  /** Digest-keyed exact dedup — the 100 TB variant of [[qDedupExact]]:
    * group on md5(text) so the shuffle carries a 32-char key instead of
    * the full document (grouping on raw text ships the corpus through the
    * exchange). md5 hex output is identical in Spark and DuckDB.
    */
  def qDedupDigest(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(encode(col("text"), "UTF-8")).as("digest"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("digest", "keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")

  val qDedupDigestOracle: String =
    """SELECT md5(text) AS digest, min(doc_id) AS keep_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin

  /** Normalization pre-pass for dedup: lowercase, strip punctuation,
    * collapse whitespace — groups near-identical formatting variants
    * before hashing. Count docs per normalized form.
    */
  def qNormalize(s: SparkSession, dir: String): DataFrame =
    // one regex pass ('[^a-z0-9]+' subsumes punctuation-strip + whitespace
    // collapse), and the groupBy keys on the md5 digest of the normalized
    // text so the shuffle carries 32 chars + length, never the document
    t(s, dir, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("norm"))
      .select(col("doc_id"), md5(encode(col("norm"), "UTF-8")).as("norm_digest"),
        length(col("norm")).cast("long").as("norm_len"))
      .groupBy("norm_digest", "norm_len")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_variants"))
      .select("keep_doc_id", "n_variants", "norm_len")
      .orderBy("keep_doc_id")

  val qNormalizeOracle: String =
    """SELECT min(doc_id) AS keep_doc_id, count(*) AS n_variants, norm_len
      |FROM (SELECT doc_id, md5(norm) AS norm_digest, length(norm) AS norm_len
      |      FROM (SELECT doc_id,
      |              trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |            FROM documents) n) sub
      |GROUP BY norm_digest, norm_len ORDER BY keep_doc_id""".stripMargin

  /** Deterministic content-hash sampling: keep a doc iff the first md5
    * hex digit of its text falls under the rate (4/16 = 25%). Unlike
    * rand()-based sampling this is reproducible across engines, runs, and
    * partitionings — the only sane way to subsample 100 TB and be able to
    * re-derive the same subset. Per-language acceptance stats.
    */
  def qHashSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        (substring(md5(encode(col("text"), "UTF-8")), 1, 1) < "4").as("sampled"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1).otherwise(0)).cast("long").as("n_sampled"))
      .orderBy("lang")

  val qHashSampleOracle: String =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(CASE WHEN substr(md5(text), 1, 1) < '4' THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  private[operators] val P = 2147483647L // 2^31 - 1
  private[operators] val NumHashes = 32
  private[operators] val Bands = 4 // 4 bands × 8 rows: band-collision prob j^8 keeps
  // candidate generation selective (s* = (1/4)^(1/8) ≈ 0.84). MinHash runs
  // over word-BIGRAM shingles, not unigrams: with a small vocabulary,
  // unigram token sets are near-identical across documents and every LSH
  // bucket degenerates to "all docs" (candidate join goes quadratic).
  private[operators] def aCoef(i: Int): Long = 1103L * (i + 1) + 7
  private[operators] def bCoef(i: Int): Long = 12289L * (i + 1) + 3

  /** Distinct word-bigram shingles over a pre-split word array `ws`.
    * The split is bound ONCE in a prior projection (see [[withWords]]) —
    * an inline `split(text)` inside the lambda would re-tokenize the whole
    * document per element, O(words²) per doc. zip_with over two slices
    * keeps the lambda body to a single concat.
    */
  private[operators] val gramsSpark =
    """array_distinct(zip_with(
      | slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
      | (a, b) -> concat(a, '_', b)))""".stripMargin

  /** 4-word shingles for the CONTAINMENT/decontamination surface. Word
    * BIGRAMS are the right feature for signature passes (minhash simply
    * hashes them), but an inverted-index JOIN keyed on them melts on
    * natural text: a bigram's document frequency grows linearly with the
    * corpus (Zipf head pairs appear in a constant FRACTION of docs), so
    * the per-gram eval×train pair surface grows df² — measured at sf10
    * on the Heaps/Zipf test corpus, the bigram-keyed containment join
    * spilled >60 GB and ran the box out of disk. Production
    * decontamination runs long n-grams for exactly this reason (GPT-3
    * appendix C: 13-gram; Llama 2: tokenized ~10-grams); 4 words here
    * scales to the 8–110-word synthetic docs. The df spectrum of
    * 4-grams is Zipf⁴-tailed, so posting lists stay short at any corpus
    * size and the 5%-of-docs stopword cap becomes a safety net instead
    * of the only thing standing between the join and n².
    */
  private[operators] val grams4Spark =
    """array_distinct(zip_with(
      | zip_with(slice(ws, 1, greatest(size(ws) - 3, 0)),
      |          slice(ws, 2, greatest(size(ws) - 3, 0)), (a, b) -> concat(a, '_', b)),
      | zip_with(slice(ws, 3, greatest(size(ws) - 3, 0)),
      |          slice(ws, 4, greatest(size(ws) - 3, 0)), (c, d) -> concat(c, '_', d)),
      | (x, y) -> concat(x, '_', y)))""".stripMargin

  /** [[grams4Spark]] in DuckDB (1-based list indexing; `range(1, n)` is
    * empty whenever n ≤ 1, covering sub-4-word docs).
    */
  private[operators] val grams4Duck =
    "list_distinct(list_transform(range(1, len(ws) - 2), i -> ws[i] || '_' || ws[i + 1] || '_' || ws[i + 2] || '_' || ws[i + 3]))"

  /** Same shingles in DuckDB, over a pre-split `ws` column (list indexing
    * on a bound column, not per-element re-split).
    */
  private[operators] val gramsDuck =
    "list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || '_' || ws[i + 1]))"

  /** DuckDB FROM clause binding `ws` = split words of documents.text. */
  private[operators] val duckWords =
    "(SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w"

  private[operators] def withWords(df: DataFrame): DataFrame =
    df.withColumn("ws", split(col("text"), " "))

  /** Polynomial hash of a shingle over (length, first 3 chars, last 3
    * chars) — a fixed-arity Horner fold, NOT a per-character lambda loop.
    * Spark's higher-order functions never enter whole-stage codegen, so a
    * per-char `aggregate(...)` costs an interpreted lambda call per
    * character per shingle; this scalar form is one codegen'd expression.
    * Max intermediate ≈ 131^6·126 ≈ 6.6e13 — no Long overflow before % P.
    * `substr`/`ascii`/`greatest`/`length` behave identically in Spark and
    * DuckDB (ascii('') = 0 for the out-of-range positions of short grams).
    */
  private[operators] def shingleHashScalar(g: String): String =
    s"""CAST(((((((CAST(length($g) AS BIGINT) * 131 + ascii(substr($g, 1, 1))) * 131
      |  + ascii(substr($g, 2, 1))) * 131
      |  + ascii(substr($g, 3, 1))) * 131
      |  + ascii(substr($g, greatest(length($g) - 2, 1), 1))) * 131
      |  + ascii(substr($g, greatest(length($g) - 1, 1), 1))) * 131
      |  + ascii(substr($g, length($g), 1))) % $P AS BIGINT)""".stripMargin

  /** The 32 permuted-min aggregates over exploded shingle hashes — the
    * REFERENCE formulation of the signature (what [[sigOf]] computed
    * before the fused [[graft.functions.MinHash32]] replaced it).
    * Retained for `DedupSpec`'s equivalence assertion; the coefficients
    * are mirrored by [[graft.functions.MinHashHelper]].
    */
  private[operators] def mhAggs = (0 until NumHashes).map { i =>
    min(expr(s"(${aCoef(i)} * h + ${bCoef(i)}) % $P")).as(f"mh$i%02d")
  }

  /** (doc_id, grams [, carry…]) projection — the shared input of the LSH
    * family. `carry` columns (e.g. `source` for the cross-corpus variant)
    * ride along the narrow per-doc pipeline so no re-join against the
    * corpus is needed downstream.
    *
    * Grams are SORTED (and distinct, from `array_distinct`): the one-time
    * per-doc `array_sort` is what lets [[verifyPairs]] run the fused
    * two-pointer `jaccard4` per PAIR instead of building intersection and
    * union arrays — pairs outnumber docs by orders of magnitude, so the
    * sort amortizes immediately. Every other consumer explodes the array
    * or treats it as a set; order is semantically invisible to them.
    */
  private[operators] def gramsOf(docs: DataFrame, carry: String*): DataFrame = {
    // fused codegen shingler (graft.functions.Bigrams2Sorted): the SQL
    // form paid an interpreted zip_with lambda per shingle plus
    // interpreted array_sort comparisons; semantics pinned element-wise
    // by DedupSpec against array_sort(gramsSpark)
    docs.select((col("doc_id") +: carry.map(col) :+
      expr("bigrams2_sorted(text)").as("grams")): _*)
  }

  /** 32-permutation MinHash signature of a grams frame, computed by the
    * fused native [[graft.functions.MinHash32]]: one compiled pass per
    * doc over its shingle array — NO explode and NO per-doc aggregation
    * shuffle. The former pipeline (explode_outer → scalar hash → 32
    * min-aggregates) was codegen-clean but still materialized one row
    * per shingle and paid a doc-keyed hash-aggregate exchange for the
    * whole corpus; the fused form makes the signature pass a narrow
    * projection, which at 100 TB removes the largest remaining shuffle
    * of the LSH family. Signature VALUES are bit-identical (same shingle
    * hash, same permutations, null signature for zero-shingle docs —
    * `DedupSpec` asserts equality against the explode formulation, and
    * the unchanged `q_minhash_sig` oracle gates it against DuckDB).
    */
  private[operators] def sigOf(grams: DataFrame, carry: String*): DataFrame = {
    grams.select((col("doc_id") +: carry.map(col) :+
      expr("minhash32(grams)").as("sig")): _*)
  }

  /** Banded signature rows (doc_id [, carry…], band_idx, band_sig): docs
    * sharing any (band_idx, band_sig) become LSH candidates. Band sigs
    * are built by slicing the signature array — same comma-joined string
    * values the 32-column formulation produced.
    */
  private[operators] def bandsOf(sig: DataFrame, carry: String*): DataFrame = {
    val rowsPerBand = NumHashes / Bands
    val bandCols = (0 until Bands).map { b =>
      concat_ws(",", (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1).cast("string")): _*)
    }
    sig.select((col("doc_id") +: carry.map(col) :+
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_sig"))): _*)
  }

  /** Join key of a [[bandsOf]] frame; [[cappedBands]] frames add `sub`. */
  private[operators] val BandKey = Seq("band_idx", "band_sig")

  /** Distinct band-collision pairs of a band frame: rows equal on every
    * `key` column pair up once, ordered `a.<id> < b.<id>`, however many
    * bands they share. Output (doc_a, doc_b) plus `<c>_a`, `<c>_b` for
    * each `carry` column. The band self-join is the only shuffle and
    * only colliding rows meet — candidate generation never pairs the
    * corpus with itself.
    */
  private[operators] def bandPairs(bands: DataFrame, key: Seq[String], id: String,
      carry: String*): DataFrame =
    bands.as("a").join(bands.as("b"),
        key.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col(s"a.$id") < col(s"b.$id"))
      .select(Seq(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b")) ++
        carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)
      .distinct()

  /** Exact-Jaccard verification of a candidate pair frame (doc_a, doc_b)
    * against a (doc_id, grams) frame → (doc_a, doc_b, jaccard ≥ minJ).
    *
    * The per-pair score is the fused codegen'd
    * [[graft.functions.Jaccard4]] (two-pointer merge over the sorted
    * gram arrays [[gramsOf]] provides) — numerically identical to the
    * former `round(size(array_intersect)/size(array_union), 4)` plan,
    * minus two materialized arrays per pair in the hottest loop of the
    * LSH family.
    */
  private[operators] def verifyPairs(cand: DataFrame, grams: DataFrame, minJ: Double,
      bcastGrams: Boolean = false): DataFrame =
    scorePairs(cand, grams, bcastGrams)
      .filter(col("jaccard") >= minJ)
      .select("doc_a", "doc_b", "jaccard")

  /** [[verifyPairs]] minus the threshold filter: every candidate pair with
    * its exact jaccard — for consumers that aggregate over the FULL
    * candidate stream (count + survivor count in one pass).
    */
  private[operators] def scorePairs(cand: DataFrame, grams: DataFrame,
      bcastGrams: Boolean = false): DataFrame = {
    // Default shape: two doc-keyed shuffle joins — right for the LSH
    // family, whose banded candidate sets are small multiples of the
    // true-dup count while the gram index is corpus-sized (at 100 TB the
    // index can never broadcast, the candidates stay cheap to shuffle).
    // `bcastGrams` inverts that trade for the exact all-pairs arm: its
    // candidate stream is quadratic-shaped (measured 23.5M pairs at sf1,
    // ~2.5B at sf10) and shuffling it through two joins that attach a
    // ~1 KB gram array per side spilled ~TB at sf10 (the audit's ENOSPC).
    // Broadcasting the doc→grams index instead keeps the pair stream
    // PIPELINED — candidates flow from the prefix join through two
    // broadcast hash joins and the jaccard filter in one stage, and only
    // the tiny τ-surviving set ever materializes. The broadcast is bounded
    // by the corpus's per-doc gram index (not the pair count); past the
    // broadcast ceiling the exact arm's documented scale path is
    // partitioned PPJoin (replicate index shards by prefix-gram range).
    def side(n: String, g: String) = {
      val s = grams.select(col("doc_id").as(n), col("grams").as(g))
      if (bcastGrams) broadcast(s) else s
    }
    cand
      .join(side("doc_a", "grams_a"), "doc_a")
      .join(side("doc_b", "grams_b"), "doc_b")
      .withColumn("jaccard", expr("jaccard4(grams_a, grams_b)"))
  }

  /** The frames an LSH index builder persisted, with one blocking release.
    *
    * Cache lifetime, for every index below: a query that materializes its
    * pairs before it returns (the connected-components sites
    * [[ClusterOps.qDedupClusters]], [[ClusterOps.qClusterSizeHist]] and
    * [[ClusterOps.qDedupKeepBest]]) calls `release()` once they are
    * materialized, so the next query does not pay for freeing them. A query
    * that returns a lazy plan over the index leaves it cached: an unpersist
    * while building the plan would run before the plan executes, and the
    * cache would never be read. [[graft.SparkEntry.release]] frees those
    * frames between queries; a pipeline embedding such a query keeps the
    * index alive on purpose, since it is the reusable LSH index.
    */
  private[operators] sealed abstract class LshIndex(frames: DataFrame*) {
    // dependents first, so no unpersist re-caches a frame built on another
    def release(): Unit = frames.reverse.foreach(_.unpersist(blocking = true))
  }

  /** MinHash index: the [[gramsOf]] frame, persisted because the signature
    * pass and both verify joins read it, and its [[bandsOf]] signature
    * table, persisted so the band self-join runs the signature pass once.
    * At scale the two are ~1% the width of the corpus.
    */
  private[operators] final case class MinhashIndex(grams: DataFrame, bands: DataFrame)
      extends LshIndex(grams, bands) {
    /** Band-collision pairs verified at jaccard ≥ minJ (doc_a < doc_b). */
    def pairs(minJ: Double): DataFrame =
      verifyPairs(bandPairs(bands, BandKey, "doc_id"), grams, minJ)
  }

  /** Builds the [[MinhashIndex]] of `docs(doc_id, text [, carry…])`. */
  private[operators] def minhashIndex(docs: DataFrame, carry: String*): MinhashIndex = {
    val grams = gramsOf(docs, carry: _*).persist()
    MinhashIndex(grams, bandsOf(sigOf(grams, carry: _*), carry: _*).persist())
  }

  // ---- DuckDB oracle builders for the same kernels, parameterized over
  // carry columns so the cross-corpus variant can thread `source` through.
  private[operators] def mhExprsDuck: String = (0 until NumHashes).map { i =>
    s"list_min(list_transform(ths, h -> (${aCoef(i)} * h + ${bCoef(i)}) % $P)) AS mh${"%02d".format(i)}"
  }.mkString(", ")

  private[operators] def bandSigCaseDuck: String =
    s"CASE band_idx ${(0 until Bands).map(b => s"WHEN $b THEN " + (0 until NumHashes / Bands).map(r => s"CAST(mh${"%02d".format(b * (NumHashes / Bands) + r)} AS VARCHAR)").mkString(" || ',' || ")).mkString(" ")} END"

  /** CTE chain `ths, sig, bands2` over documents, with optional carried
    * columns; `bands2` has (doc_id [, carry…], band_idx, band_sig).
    */
  private[operators] def lshCtesDuck(carry: Seq[String] = Nil): String = {
    val c = carry.map(_ + ", ").mkString
    s"""ths AS (
      |  SELECT doc_id, ${c}list_transform($gramsDuck, g -> ${shingleHashScalar("g")}) AS ths,
      |         $gramsDuck AS grams
      |  FROM (SELECT doc_id, ${c}string_split(text, ' ') AS ws FROM documents) w),
      |sig AS (SELECT doc_id, ${c}$mhExprsDuck FROM ths),
      |bands2 AS (
      |  SELECT doc_id, ${c}band_idx, $bandSigCaseDuck AS band_sig
      |  FROM sig, range($Bands) AS r(band_idx))""".stripMargin
  }

  /** Jaccard-verified pair SELECT over `cand(doc_a, doc_b)` + `ths`. */
  private[operators] def lshVerifySelectDuck(minJ: String): String =
    s"""SELECT doc_a, doc_b,
      |  round(len(list_intersect(ta.grams, tb.grams)) / CAST(len(list_distinct(list_concat(ta.grams, tb.grams))) AS DOUBLE), 4) AS jaccard
      |FROM cand
      |JOIN ths ta ON ta.doc_id = doc_a
      |JOIN ths tb ON tb.doc_id = doc_b
      |WHERE round(len(list_intersect(ta.grams, tb.grams)) / CAST(len(list_distinct(list_concat(ta.grams, tb.grams))) AS DOUBLE), 4) >= $minJ""".stripMargin

  /** [[MinhashIndex.pairs]] in DuckDB: the [[lshCtesDuck]] chain, the
    * band-collision `cand(doc_a, doc_b)` and the verified
    * `pairs(doc_a, doc_b, jaccard)`.
    */
  private[operators] def lshPairsDuck(minJ: Double): String =
    s"""${lshCtesDuck()},
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands2 a JOIN bands2 b
      |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
      |pairs AS (${lshVerifySelectDuck(minJ.toString)})""".stripMargin

  /** MinHash signatures (32 permutations) over distinct word-bigram
    * shingles, via the fused one-pass [[graft.functions.MinHash32]]
    * (see [[sigOf]]). A `transform`/`array_min` SQL formulation would
    * pay ~NumHashes × shingles interpreted lambda calls per doc; the
    * native expression runs the same arithmetic in one compiled loop.
    * Zero-shingle docs keep a null signature, matching the oracle's
    * list_min(empty) = NULL.
    */
  def qMinhashSig(s: SparkSession, dir: String): DataFrame =
    sigOf(gramsOf(t(s, dir, "documents")))
      .select(col("doc_id") +: (0 until NumHashes).map(i =>
        element_at(col("sig"), i + 1).as(f"mh$i%02d")): _*)
      .orderBy("doc_id")

  val qMinhashSigOracle: String = {
    val cols = (0 until NumHashes).map { i =>
      s"list_min(list_transform(ths, h -> (${aCoef(i)} * h + ${bCoef(i)}) % $P)) AS mh${"%02d".format(i)}"
    }.mkString(",\n ")
    s"""SELECT doc_id, $cols
      |FROM (SELECT doc_id, list_transform($gramsDuck, g -> ${shingleHashScalar("g")}) AS ths
      |      FROM $duckWords) sub
      |ORDER BY doc_id""".stripMargin
  }

  /** MinHash + LSH near-duplicate pairs: band the 32-hash signature into
    * 4 bands of 8; docs sharing any band become candidates; candidates are
    * verified with exact shingle-Jaccard ≥ 0.8 (P[candidate | j=0.9] ≈ 0.9).
    * The band join is the only shuffle and only collides near-duplicates —
    * this is the 100 TB-safe shape (no all-pairs comparison).
    */
  def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashIndex(t(s, dir, "documents")).pairs(0.8).orderBy("doc_a", "doc_b")

  val qMinhashLshOracle: String =
    s"""WITH ${lshPairsDuck(0.8)}
      |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin

  /** n-gram (word bigram) Jaccard similarity on a deterministic pair subset
    * (consecutive doc ids) — the exact-verification kernel of near-dedup.
    */
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val grams = gramsOf(t(s, dir, "documents"))
    val a = grams.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("grams", "grams_a")
    val b = grams.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("grams", "grams_b")
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        expr("jaccard4(grams_a, grams_b)").as("bigram_jaccard"))
      .orderBy("doc_a")
  }

  val qNgramJaccardOracle: String =
    s"""WITH grams AS (
      |  SELECT doc_id, $gramsDuck AS grams
      |  FROM $duckWords)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.grams, b.grams)) / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 4) AS bigram_jaccard
      |FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_a""".stripMargin

  /** SimHash (16-bit) per document: per-bit majority vote over token
    * hashes, as ONE narrow per-row pass through the native
    * [[graft.functions.SimHash16]] expression (a single compiled byte
    * scan, no split array, no shuffle). Two rejected formulations, both
    * measured slower at sf0.1: nested `aggregate(sequence(0,15), ...)`
    * higher-order functions (~16 × tokens interpreted lambda calls per
    * doc, HOFs never enter whole-stage codegen), and explode + 16
    * conditional sums (codegen'd but pays the token-row explode plus a
    * doc-keyed hash aggregate for what is inherently per-row compute).
    */
  def qSimhash(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .select(col("doc_id"), expr("simhash16(text)").as("simhash"))
      .orderBy("doc_id")
  }

  val qSimhashOracle: String =
    """WITH ths0 AS (
      |  SELECT doc_id, list_transform(string_split(text, ' '),
      |    w -> CAST(length(w) * 97 + ascii(substr(w, 1, 1)) * 13 + ascii(substr(w, length(w), 1)) AS BIGINT)) AS ths
      |  FROM documents),
      |-- word-bigram features, one-word docs fall back to the unigram
      |-- (mirrors SimHashHelper)
      |feats AS (
      |  SELECT doc_id, CASE WHEN len(ths) < 2 THEN ths
      |    ELSE list_transform(range(1, len(ths)), i -> ths[i] * 131 + ths[i + 1]) END AS ths
      |  FROM ths0)
      |SELECT doc_id,
      | list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 16), b ->
      |   CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |     list_transform(ths, h -> CASE WHEN (h // CAST(2 ** b AS BIGINT)) % 2 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
      |     (a, x) -> a + x) > 0
      |   THEN CAST(2 ** b AS BIGINT) ELSE CAST(0 AS BIGINT) END)), (a, x) -> a + x) AS simhash
      |FROM feats
      |ORDER BY doc_id""".stripMargin

  /** SimHash near-duplicate detection END-TO-END — the second of the two
    * classic sub-quadratic near-dup paths (MinHash-LSH banding being the
    * first): 48-bit signatures via the native
    * [[graft.functions.SimHash48]] expression (one codegen'd byte scan
    * per doc), candidate pairs via CHUNK EQUALITY (the three 16-bit
    * chunks of the signature are the LSH bands — pigeonhole: Hamming
    * distance < 3 guarantees an identical chunk, and near-dups cluster
    * far below that), then an O(1) popcount verify
    * `bit_count(sig_a XOR sig_b) <= 8`. Output is the Hamming-distance
    * histogram of verified pairs — the curve a pipeline reads to set its
    * dedup threshold.
    *
    * Scale shape vs MinHash: the signature pass is a narrow projection
    * (8 bytes per doc shuffles, never text); candidates come from a
    * key-equality self-join on (band_idx, band_sig, sub) where `sub` is
    * the [[cappedBands]] hot-bucket subdivision (16-bit band keys
    * cap at 65,536 buckets, so without it per-bucket pair counts grow
    * quadratically with corpus size); verify needs NO
    * join back to token sets — the signature alone carries the distance
    * — so the only data-sized stage is the one signature scan. That is
    * why production simhash dedup (e.g. the original Manku et al.
    * web-crawl design) scales past gram-set methods; the trade is
    * coarser similarity. 48 bits in 3 bands (not production's 64 in 4)
    * keeps every intermediate inside signed-64 for the SQL oracle
    * replica.
    */
  def qSimhashNearDup(s: SparkSession, dir: String): DataFrame =
    simhashIndex(t(s, dir, "documents")).pairs
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= 8)
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
      .orderBy("hamming")

  /** Band-bucket occupancy cap of the simhash and phash bands: buckets
    * holding more rows than this get their join key extended by
    * [[BandSubBits]] extra signature bits.
    */
  val BandBucketCap = 32
  /** Extra key bits (from the NEXT band — the only bits that still vary
    * inside a bucket) used to subdivide hot buckets.
    */
  val BandSubBits = 8

  /** Banded signature rows with HOT-BUCKET SUBDIVISION — the 100 TB fix
    * for the band-key cardinality cap. `hash` is cut into `bands` bands
    * of `width` bits (simhash48: 3 × 16, tops out at 65,536 buckets per
    * band; phash56: 4 × 14, 16,384), so bucket occupancy grows linearly
    * with corpus size and the banded self-join's per-bucket pair count
    * grows quadratically. Discipline: count rows per (band_idx,
    * band_sig); any bucket over `cap` has its join key extended by
    * [[BandSubBits]] bits of the next band (deterministic, so the
    * DuckDB oracle replays it bit-for-bit), cutting a hot bucket into up
    * to 256 bounded cells. Recall trade (documented, inherent): a pair in
    * a hot bucket differing inside those 8 bits is only found via its
    * other two bands — the same trade Manku et al.'s multi-table design
    * makes when it keys each table on more prefix bits than the
    * guarantee needs. Cold buckets keep sub = 0, i.e. exact-banding
    * behavior. The counts join is bucket-cardinality-sized and AQE
    * size-chosen.
    *
    * Output: one row per (id, band) with `id`, `hash`, the final join
    * key (band_idx, band_sig, sub) plus sub_key and the raw bucket_n for
    * audit.
    */
  private[operators] def cappedBands(hashes: DataFrame, id: String, hash: String,
      bands: Int, width: Int, cap: Int): DataFrame = {
    val banded = hashes.select(col(id), col(hash),
        posexplode(array((0 until bands).map(m =>
          shiftright(col(hash), width * m).bitwiseAND(lit((1L << width) - 1))): _*))
          .as(Seq("band_idx", "band_sig")))
      .withColumn("sub_key", expr(s"shiftright($hash, " +
        s"CAST(((band_idx + 1) % $bands) * $width AS INT)) & ${(1 << BandSubBits) - 1}"))
    val counts = banded.groupBy("band_idx", "band_sig")
      .agg(count(lit(1)).as("bucket_n"))
    banded.join(counts, BandKey)
      .withColumn("sub",
        when(col("bucket_n") > cap, col("sub_key")).otherwise(lit(0L)))
  }

  /** Simhash index: the (doc_id, sig) frame of
    * [[graft.functions.SimHash48]], persisted because the band explode and
    * both pair sides read it, and its [[cappedBands]] frame (3 × 16 bits),
    * persisted so the self-join runs the band explode and bucket-count
    * aggregate once. Shared by [[qSimhashNearDup]], [[qDedupEnsemble]] and
    * [[ClusterOps.qDedupKeepBest]]; cache lifetime as on [[LshIndex]].
    */
  private[operators] final case class SimhashIndex(sigs: DataFrame, keyed: DataFrame)
      extends LshIndex(sigs, keyed) {
    /** Distinct candidate pairs (doc_a, doc_b, sig_a, sig_b) of the capped
      * band join.
      */
    def pairs: DataFrame = bandPairs(keyed, BandKey :+ "sub", "doc_id", "sig")
  }

  /** Builds the [[SimhashIndex]] of `docs(doc_id, text)`. */
  private[operators] def simhashIndex(docs: DataFrame): SimhashIndex = {
    val sigs = docs.select(col("doc_id"), expr("simhash48(text)").as("sig")).persist()
    SimhashIndex(sigs, cappedBands(sigs, "doc_id", "sig", bands = 3, width = 16,
      cap = BandBucketCap).persist())
  }

  /** DuckDB CTE fragment replicating the 48-bit simhash signature pass:
    * defines `ths` and `base_sigs(doc_id, sig)` over `documents`.
    */
  val simhash48SigsDuck: String =
    """ths0 AS (
      |  SELECT doc_id, list_transform(string_split(text, ' '),
      |    w -> CAST(length(w) * 97 + ascii(substr(w, 1, 1)) * 13 + ascii(substr(w, length(w), 1)) AS BIGINT)) AS ths
      |  FROM documents),
      |-- word-BIGRAM features (one-word docs fall back to the unigram):
      |-- mirrors SimHash48Helper — unigram features degenerate on Zipf
      |-- text and saturate the band buckets
      |ths AS (
      |  SELECT doc_id, CASE WHEN len(ths) < 2 THEN ths
      |    ELSE list_transform(range(1, len(ths)), i -> ths[i] * 131 + ths[i + 1]) END AS ths
      |  FROM ths0),
      |base_sigs AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), flatten(list_transform(range(0, 3), m ->
      |      list_transform(range(0, 16), b ->
      |        CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(ths, h -> CASE WHEN (((h * (CASE m WHEN 0 THEN 25173 WHEN 1 THEN 13849 ELSE 40503 END)) % 65536) // CAST(2 ** b AS BIGINT)) % 2 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
      |          (a, x) -> a + x) > 0
      |        THEN CAST(1 AS BIGINT) << CAST(m * 16 + b AS INTEGER) ELSE CAST(0 AS BIGINT) END)))),
      |      (a, x) -> a + x) AS sig
      |  FROM ths)""".stripMargin

  /** [[cappedBands]] in DuckDB over a CTE or table `src(id, hash, …)`:
    * defines `bands`, `counts` and `keyed(id, hash, band_idx, band_sig,
    * sub_key, bucket_n, sub)`.
    */
  private[operators] def cappedBandsDuck(src: String, id: String, hash: String,
      bands: Int, width: Int): String =
    s"""bands AS (
      |  SELECT $id, $hash, m AS band_idx,
      |    ($hash >> CAST(m * $width AS INTEGER)) & ${(1L << width) - 1} AS band_sig,
      |    ($hash >> CAST(((m + 1) % $bands) * $width AS INTEGER)) & ${(1 << BandSubBits) - 1} AS sub_key
      |  FROM $src, (SELECT unnest(range(0, $bands)) AS m) mm),
      |counts AS (
      |  SELECT band_idx, band_sig, count(*) AS bucket_n
      |  FROM bands GROUP BY 1, 2),
      |keyed AS (
      |  SELECT b.*, c.bucket_n,
      |    CASE WHEN c.bucket_n > $BandBucketCap THEN b.sub_key ELSE CAST(0 AS BIGINT) END AS sub
      |  FROM bands b JOIN counts c USING (band_idx, band_sig))""".stripMargin

  /** [[SimhashIndex.pairs]] in DuckDB: reads a CTE named
    * `sigs(doc_id, sig)`, defines the [[cappedBandsDuck]] CTEs (3 × 16
    * bits) and `cand(doc_a, doc_b, sig_a, sig_b)`.
    */
  val simhashCandDuck: String =
    s"""${cappedBandsDuck("sigs", "doc_id", "sig", bands = 3, width = 16)},
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.sig AS sig_a, b.sig AS sig_b
      |  FROM keyed a JOIN keyed b
      |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
      |    AND a.sub = b.sub AND a.doc_id < b.doc_id)""".stripMargin

  val qSimhashNearDupOracle: String =
    s"""WITH $simhash48SigsDuck,
      |sigs AS (SELECT doc_id, sig FROM base_sigs),
      |$simhashCandDuck
      |SELECT CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming,
      |  count(*) AS n_pairs
      |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 8
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Agreement audit between the two sub-quadratic near-dup detectors —
    * the "which dedup do I trust" measurement a pipeline makes before
    * picking its production pass: the MinHash-LSH pair set (exact-Jaccard
    * verified ≥ 0.8) and the simhash pair set (banded candidates, Hamming
    * ≤ 8) over the same corpus, full-outer-joined on the pair key. The
    * output is the confusion surface: pairs both detectors flag, pairs
    * only one flags, and the Jaccard of the two pair SETS. The two
    * families err differently (shingle-set resemblance vs bit-vote
    * distance), so `set_jaccard` is the honest agreement number — near 1
    * means either pass suffices; low means union them (or tighten
    * thresholds) before deleting data.
    *
    * Scale shape: strictly the union of the two detectors' own plans
    * (both duplicate-surface-sized band joins + verifies) plus one
    * pair-keyed full outer join over the DETECTED pair sets — bounded by
    * duplicate density, never corpus².
    */
  def qDedupEnsemble(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val mh = minhashIndex(docs).pairs(0.8)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("mh"))
    val sh = simhashIndex(docs).pairs
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 8)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("sh"))
    mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("mh"), lit(0L))).as("n_minhash"),
        sum(coalesce(col("sh"), lit(0L))).as("n_simhash"),
        sum(when(col("mh").isNotNull && col("sh").isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        round(
          sum(when(col("mh").isNotNull && col("sh").isNotNull, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 4).as("set_jaccard"))
  }

  val qDedupEnsembleOracle: String =
    s"""WITH mh AS (
      |  SELECT doc_a, doc_b FROM (
      |    WITH ${lshPairsDuck(0.8)}
      |    SELECT doc_a, doc_b FROM pairs) q1),
      |sh AS (
      |  SELECT doc_a, doc_b FROM (
      |    WITH $simhash48SigsDuck,
      |    sigs AS (SELECT doc_id, sig FROM base_sigs),
      |    $simhashCandDuck
      |    SELECT doc_a, doc_b FROM cand
      |    WHERE bit_count(xor(sig_a, sig_b)) <= 8) q2),
      |j AS (
      |  SELECT coalesce(mh.doc_a, sh.doc_a) AS doc_a,
      |    mh.doc_a IS NOT NULL AS in_mh, sh.doc_a IS NOT NULL AS in_sh
      |  FROM mh FULL OUTER JOIN sh
      |    ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b)
      |SELECT CAST(sum(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash,
      |  CAST(sum(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash,
      |  CAST(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
      |  round(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS set_jaccard
      |FROM j""".stripMargin

  /** Line-level exact dedup (the RefinedWeb/CCNet pass that runs BELOW
    * document granularity): documents split into non-overlapping 10-word
    * "lines"; a line occurrence is removed when the same line appears in
    * more than one document and this document is not the line's keeper
    * (min doc_id) — boilerplate headers/footers and quoted passages are
    * exactly what this removes at corpus scale. Output: per-source line
    * counts, removals, and the retained fraction.
    *
    * Scale shape: lines shuffle as 128-bit digests, never as text (the
    * same width trick as [[qIncrementalDedup]]'s index); one digest-keyed
    * aggregate (df + keeper, map-side combined) and one digest-keyed join
    * back — no doc×doc or line×line surface anywhere. The `CASE WHEN
    * size >= 10` guard matters: Spark's `sequence(1, 0)` yields [1, 0]
    * (descending), not empty, so short docs must short-circuit explicitly.
    */
  /** (doc_id, source, h) rows: md5 of each non-overlapping 10-word line.
    * Shared by [[qLineDedup]] and [[qSourceOverlap]].
    */
  private[operators] def lineHashes(s: SparkSession, dir: String): DataFrame =
    withWords(t(s, dir, "documents"))
      .select(col("doc_id"), col("source"), explode(expr(
        """CASE WHEN size(ws) >= 10 THEN
          |  transform(sequence(1, size(ws) div 10),
          |    i -> array_join(slice(ws, (i - 1) * 10 + 1, 10), ' '))
          |ELSE CAST(array() AS array<string>) END""".stripMargin)).as("line"))
      .select(col("doc_id"), col("source"),
        md5(encode(col("line"), "UTF-8")).as("h"))

  def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    val lines = lineHashes(s, dir)
    val stats = lines.groupBy("h").agg(
      countDistinct("doc_id").as("n_docs"), min("doc_id").as("keeper"))
    lines.join(stats, Seq("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("n_docs") > 1 && col("doc_id") =!= col("keeper"), 1L)
          .otherwise(0L)).as("n_removed"))
      .select(col("source"), col("n_lines"), col("n_removed"),
        round((col("n_lines") - col("n_removed")) / col("n_lines").cast("double"), 4)
          .as("retained4"))
      .orderBy("source")
  }

  val qLineDedupOracle: String =
    """WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |l AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(ws[(i - 1) * 10 + 1:i * 10], ' ')) AS h
      |  FROM w, unnest(generate_series(1, len(ws) // 10)) AS t(i)),
      |st AS (
      |  SELECT h, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper
      |  FROM l GROUP BY h)
      |SELECT source, count(*) AS n_lines,
      |  CAST(sum(CASE WHEN n_docs > 1 AND doc_id <> keeper THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_removed,
      |  round((count(*) - sum(CASE WHEN n_docs > 1 AND doc_id <> keeper
      |    THEN 1 ELSE 0 END)) / count(*)::DOUBLE, 4) AS retained4
      |FROM l JOIN st USING (h)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Boilerplate strip — the template-removal pass a crawl pipeline runs
    * before dedup: a line (10-word shingle, the [[lineHashes]] kernel)
    * that appears in at least half of a source's documents is that
    * source's boilerplate (header/footer/nav chrome), and every
    * occurrence of it is stripped corpus-wide within the source. Reports
    * per source how much of the line volume the template accounts for —
    * the number a curator reads before deciding whether a crawl is
    * salvageable.
    *
    * Scale shape: line volume travels as md5 digests; the frequency pass
    * is a (source, digest) groupBy with map-side combine; the strip join
    * is a digest-keyed equi-join back onto the line stream (AQE
    * size-chooses the build side — the boilerplate set is tiny by
    * definition: it's the lines repeated across ≥half the docs). The
    * per-source doc count rides the same aggregate, never a second scan.
    */
  def qBoilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    val lines = lineHashes(s, dir)
    val freq = lines.groupBy("source", "h")
      .agg(countDistinct("doc_id").as("line_docs"))
    val nDocs = lines.groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"))
    val boiler = freq.join(nDocs, "source")
      .filter(col("line_docs") * 2 >= col("n_docs"))
      .select(col("source"), col("h"))
    lines.join(boiler, Seq("source", "h"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_stripped"))
      .join(lines.groupBy("source").agg(count(lit(1)).as("n_lines")), Seq("source"), "right")
      .join(boiler.groupBy("source").agg(count(lit(1)).as("n_boiler_lines")), Seq("source"), "left")
      .select(col("source"), col("n_lines"),
        coalesce(col("n_boiler_lines"), lit(0L)).as("n_boiler_lines"),
        coalesce(col("n_stripped"), lit(0L)).as("n_stripped"),
        round((col("n_lines") - coalesce(col("n_stripped"), lit(0L))) /
          col("n_lines").cast("double"), 4).as("retained4"))
      .orderBy("source")
  }

  val qBoilerplateStripOracle: String =
    """WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |l AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(ws[(i - 1) * 10 + 1:i * 10], ' ')) AS h
      |  FROM w, unnest(generate_series(1, len(ws) // 10)) AS t(i)),
      |freq AS (
      |  SELECT source, h, count(DISTINCT doc_id) AS line_docs
      |  FROM l GROUP BY source, h),
      |nd AS (
      |  SELECT source, count(DISTINCT doc_id) AS n_docs FROM l GROUP BY source),
      |boiler AS (
      |  SELECT f.source, f.h FROM freq f JOIN nd USING (source)
      |  WHERE f.line_docs * 2 >= nd.n_docs),
      |stripped AS (
      |  SELECT l.source, count(*) AS n_stripped
      |  FROM l WHERE EXISTS (
      |    SELECT 1 FROM boiler b WHERE b.source = l.source AND b.h = l.h)
      |  GROUP BY l.source),
      |tot AS (SELECT source, count(*) AS n_lines FROM l GROUP BY source),
      |nb AS (SELECT source, count(*) AS n_boiler_lines FROM boiler GROUP BY source)
      |SELECT t.source, t.n_lines,
      |  coalesce(nb.n_boiler_lines, 0) AS n_boiler_lines,
      |  coalesce(st.n_stripped, 0) AS n_stripped,
      |  round((t.n_lines - coalesce(st.n_stripped, 0)) / t.n_lines::DOUBLE, 4)
      |    AS retained4
      |FROM tot t
      |LEFT JOIN nb ON nb.source = t.source
      |LEFT JOIN stripped st ON st.source = t.source
      |ORDER BY t.source""".stripMargin

  /** Cross-source overlap matrix — the "which crawls duplicate each
    * other" report a corpus audit leads with: for every source pair, the
    * number of distinct 10-word lines BOTH contain (document-level exact
    * digests never cross sources in this corpus — boilerplate lines do,
    * which is also the production reality). Output is the S×S upper
    * triangle, sparse (pairs with zero overlap are absent).
    *
    * Scale shape: lines travel as md5 digests (the [[qLineDedup]]
    * kernel); the distinct (source, digest) projection collapses
    * per-source repeats BEFORE the self-join, so the join surface per
    * digest is its source-count ≤ S (a few dozen crawls), never its
    * occurrence count — Σ_h min(df_h, S)² with S bounded, no doc×doc or
    * line×line term anywhere.
    */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val ls = lineHashes(s, dir).select("source", "h").distinct()
    ls.as("a").join(ls.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  val qSourceOverlapOracle: String =
    """WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |l AS (
      |  SELECT DISTINCT source,
      |    md5(array_to_string(ws[(i - 1) * 10 + 1:i * 10], ' ')) AS h
      |  FROM w, unnest(generate_series(1, len(ws) // 10)) AS t(i))
      |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      |FROM l a JOIN l b ON a.h = b.h AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** MinHash verify threshold curve — the Jaccard twin of
    * [[Similarity.qCosineCurve]]: LSH band-collision candidates verified
    * down to a 0.5 floor, bucketed into 0.05-wide Jaccard bins. The
    * curve a pipeline reads to pick its dedup threshold τ — where the
    * near-dup mass actually sits between "related" (0.5) and "copy"
    * (1.0). Candidates are the band-collision set, so the curve is the
    * threshold response OF THE LSH VERIFY STAGE — exactly the knob
    * being tuned; scale shape is [[qMinhashLsh]] verbatim (persisted
    * signature table, key-equality band join, gram-set verify joins).
    */
  def qJaccardCurve(s: SparkSession, dir: String): DataFrame =
    minhashIndex(t(s, dir, "documents")).pairs(0.5)
      .withColumn("bin20", floor(col("jaccard") * 20).cast("long"))
      .groupBy("bin20").agg(count(lit(1)).as("n_pairs"))
      .orderBy("bin20")

  val qJaccardCurveOracle: String =
    s"""WITH ${lshPairsDuck(0.5)}
      |SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bin20, count(*) AS n_pairs
      |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin

  /** Incremental ingest dedup — the daily-pipeline shape: a new batch
    * (docs with doc_id % 7 == 3 standing in for "today's crawl") is
    * deduplicated against the digest index of everything already ingested.
    * The index is (distinct md5) — 32-char keys, not text — so the join
    * shuffles the digest surface; at 100 TB the historic index is the
    * persisted artifact and each day's batch streams against it with a
    * digest-keyed left-semi/anti join, never re-reading the corpus text.
    */
  def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val index = docs.filter(col("doc_id") % 7 =!= 3)
      .select(md5(encode(col("text"), "UTF-8")).as("digest")).distinct()
    val batch = docs.filter(col("doc_id") % 7 === 3)
      .select(col("source"), md5(encode(col("text"), "UTF-8")).as("digest"))
    val dup = batch.join(index, Seq("digest"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup"))
    batch.groupBy("source").agg(count(lit(1)).as("n_batch"))
      .join(dup, Seq("source"), "left")
      .select(col("source"), col("n_batch"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (col("n_batch") - coalesce(col("n_dup"), lit(0L))).as("n_new"))
      .orderBy("source")
  }

  val qIncrementalDedupOracle: String =
    """WITH idx AS (
      |  SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 7 <> 3),
      |batch AS (
      |  SELECT source, md5(text) AS digest FROM documents WHERE doc_id % 7 = 3),
      |dup AS (
      |  SELECT source, count(*) AS n_dup FROM batch
      |  WHERE digest IN (SELECT digest FROM idx) GROUP BY source)
      |SELECT b.source, count(*) AS n_batch,
      |  CAST(coalesce(max(d.n_dup), 0) AS BIGINT) AS n_dup,
      |  CAST(count(*) - coalesce(max(d.n_dup), 0) AS BIGINT) AS n_new
      |FROM batch b LEFT JOIN dup d ON b.source = d.source
      |GROUP BY b.source ORDER BY b.source""".stripMargin

  /** Incremental NEAR-duplicate maintenance — [[qIncrementalDedup]]'s
    * twin for the LSH index: a new batch (doc_id % 10 == 7, ~10%) arrives
    * and only pairs touching the batch are generated, by banding the
    * BATCH signatures against the FULL band index (batch-vs-index plus
    * batch-vs-batch; never index-vs-index). Verified pairs use the same
    * exact-Jaccard gate as [[qMinhashLsh]], so the output is exactly the
    * subset of the full near-dup pair set with ≥ 1 endpoint in the batch.
    *
    * Scale shape: THE property that makes LSH dedup operable at 100 TB —
    * per-batch cost is Σ_bucket |batch ∩ bucket|·|bucket|, proportional
    * to BATCH size at fixed index density, not corpus². The persisted
    * band table is the long-lived index artifact; each ingest banding
    * only its delta against it. Pair normalization (least/greatest +
    * distinct) collapses the two orientations a batch-batch pair can
    * arrive in.
    */
  def qIncrementalLsh(s: SparkSession, dir: String): DataFrame = {
    val MinhashIndex(grams, bands) = minhashIndex(t(s, dir, "documents"))
    val delta = bands.filter(col("doc_id") % 10 === 7)
    val cand = bands.as("a").join(delta.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_sig") === col("b.band_sig") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    verifyPairs(cand, grams, 0.8).orderBy("doc_a", "doc_b")
  }

  val qIncrementalLshOracle: String =
    s"""WITH ${lshCtesDuck()},
      |cand AS (
      |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
      |                  greatest(a.doc_id, b.doc_id) AS doc_b
      |  FROM bands2 a JOIN bands2 b
      |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
      |   AND a.doc_id <> b.doc_id AND b.doc_id % 10 = 7)
      |${lshVerifySelectDuck("0.8")}
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Measured MinHash-LSH quality — recall AND candidate precision of the
    * banded index against exact ground truth, on a deterministic PROBE
    * SAMPLE (doc_id % 10 == 0): for each probe doc, its true near-dups
    * at exact J ≥ 0.8 (any partner doc) vs the band-collision candidates
    * involving it. The sample is how this audit runs in production too —
    * exact truth for the full corpus is the quadratic object the index
    * exists to avoid, and recall estimated on a 10% probe set has the
    * same expectation. Truth candidates come from the gram-keyed join
    * (a J ≥ 0.8 pair shares ≥ 1 gram by definition), probe-side
    * restricted so the pair surface is Σ_g df_probe·df — the
    * decontamination shape, never all-pairs; both arms then apply the
    * SAME exact-Jaccard verify, so hits ⊆ truth and recall = hits/truth.
    * The twin of `q_ann_recall` for the text arm.
    *
    * Truth candidates use PREFIX FILTERING (the AllPairs/PPJoin exact
    * similarity-join technique — Bayardo et al. WWW'07, Xiao et al.
    * ICDE'08): grams are globally ordered by ascending document
    * frequency, and a J ≥ τ pair provably shares a gram within each
    * doc's first ⌊(1−τ)·n⌋+1 grams of that order — so the candidate
    * join runs over ~20% of gram rows, and the df-ascending order keeps
    * stopword-grade hot grams OUT of prefixes when the vocabulary allows
    * (a raw gram-keyed join pays Σ_g df² on exactly those grams). The
    * synthetic corpus is adversarially dense (≈931 distinct grams over
    * 5000 docs at sf0.1, min df 3), so the probe budget carries most of
    * the measured win here: 28.8s (raw, 10% fixed fraction) → 2.9s
    * (prefix + budget) at sf0.1.
    */
  def qMinhashRecall(s: SparkSession, dir: String): DataFrame = {
    // fixed probe BUDGET (~50 docs), not a fixed fraction: the audit's
    // cost must not grow with the corpus. count() on parquet is a
    // footer-metadata scalar; the oracle derives the same modulus in SQL.
    val nDocs = graft.Tables.rowCount(s, dir, "documents")
    val probeMod = math.max(10L, nDocs / 50L)
    val grams = gramsOf(t(s, dir, "documents")).persist()
    val gramRows = grams.select(col("doc_id"), explode(col("grams")).as("g"))
    val gdf = gramRows.groupBy("g").agg(count(lit(1)).as("df"))
    val prefix = gramRows.join(gdf, Seq("g"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rn") <= floor(col("n") * lit(0.2)) + 1)
      .select("doc_id", "g")
    val truthCand = prefix.filter(col("doc_id") % probeMod === 0)
      .select(col("doc_id").as("doc_a"), col("g"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // NOT persisted, although lshCand/prefix/bands each appear in two
    // subtrees (measured, r16): every consumer lives under the ONE final
    // crossJoin action, whose branch subtrees execute concurrently —
    // neither branch sees the other's cache population mid-job, so a
    // persist here still computes the frame per branch AND pays the
    // cache write (q_minhash_recall 1.66 → 2.11 s min-of-6 at sf0.1 with
    // the persists). Duplicate-subtree elimination via persist only pays
    // across SEQUENTIAL actions (the CC loop, q_containment's cap path).
    val bands = bandsOf(sigOf(grams))
    val lshCand = bands.filter(col("doc_id") % probeMod === 0).as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_sig") === col("b.band_sig") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val nTrue = verifyPairs(truthCand, grams, 0.8).agg(count(lit(1)).as("n_true"))
    // n_cand and n_hit fused into ONE pass over the verified candidate
    // stream (count every pair, count the J ≥ 0.8 survivors) — the former
    // `lshCand.count` + `verifyPairs(lshCand).count` pair evaluated the
    // banded self-join TWICE under the one final action (bands → 4
    // signature passes total; persist can't dedup concurrent branches,
    // see the note above). The verify joins are inner on doc_id, which
    // preserves the candidate count exactly: every lshCand endpoint comes
    // from bands ⊆ grams, so both joins match every pair.
    val candHit = scorePairs(lshCand, grams)
      .agg(count(lit(1)).as("n_cand"),
        coalesce(sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)),
          lit(0L)).as("n_hit"))
    // -1.0 sentinels keep the row NULL-free when a tiny SF yields an
    // empty truth/candidate set (NaN/NULL don't hash stably cross-engine)
    nTrue.crossJoin(candHit)
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        coalesce(round(col("n_hit") / col("n_true").cast("double"), 4),
          lit(-1.0)).as("recall"),
        coalesce(round(col("n_hit") / col("n_cand").cast("double"), 4),
          lit(-1.0)).as("precision"))
  }

  private def recallVerifyCountDuck(candCte: String, as: String): String =
    s"""SELECT count(*) AS $as FROM $candCte c
      |JOIN ths ta ON ta.doc_id = c.doc_a
      |JOIN ths tb ON tb.doc_id = c.doc_b
      |WHERE round(len(list_intersect(ta.grams, tb.grams)) /
      |  CAST(len(list_distinct(list_concat(ta.grams, tb.grams))) AS DOUBLE), 4)
      |  >= 0.8""".stripMargin

  val qMinhashRecallOracle: String =
    s"""WITH ${lshCtesDuck()},
      |gram_rows AS (SELECT doc_id, unnest(grams) AS g FROM ths),
      |gdf AS (SELECT g, count(*) AS df FROM gram_rows GROUP BY g),
      |prefix AS (
      |  SELECT doc_id, g FROM (
      |    SELECT r.doc_id, r.g,
      |      row_number() OVER (PARTITION BY r.doc_id
      |                         ORDER BY gdf.df, r.g) AS rn,
      |      count(*) OVER (PARTITION BY r.doc_id) AS n
      |    FROM gram_rows r JOIN gdf USING (g)) x
      |  WHERE rn <= CAST(floor(n * 0.2) AS BIGINT) + 1),
      |pm AS (SELECT greatest(10, count(*) // 50) AS m FROM documents),
      |truth_cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM prefix a JOIN prefix b
      |    ON a.g = b.g AND a.doc_id <> b.doc_id
      |  WHERE a.doc_id % (SELECT m FROM pm) = 0),
      |lsh_cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands2 a JOIN bands2 b
      |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
      |   AND a.doc_id <> b.doc_id
      |  WHERE a.doc_id % (SELECT m FROM pm) = 0),
      |t AS (${recallVerifyCountDuck("truth_cand", "n_true")}),
      |nc AS (SELECT count(*) AS n_cand FROM lsh_cand),
      |h AS (${recallVerifyCountDuck("lsh_cand", "n_hit")})
      |SELECT n_true, n_cand, n_hit,
      |  coalesce(round(n_hit / CAST(n_true AS DOUBLE), 4), -1.0) AS recall,
      |  coalesce(round(n_hit / CAST(n_cand AS DOUBLE), 4), -1.0) AS precision
      |FROM t, nc, h""".stripMargin

  // Exact-substring span length in words. 8 keeps the toy corpus's
  // duplicated-span surface non-trivial; production uses ~50 tokens.
  private val SpanWords = 8

  /** Exact-substring duplication accounting (the span-level analysis from
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": any ≥k-token span shared across documents is duplicated
    * text): every OVERLAPPING [[SpanWords]]-word span is hashed, spans
    * whose document frequency exceeds 1 are duplicated, and each doc
    * reports its duplicated-span fraction — the per-doc signal an exact
    * substring dedup pass removes. Unlike [[qLineDedup]]'s fixed
    * non-overlapping lines, overlapping spans catch shared text at ANY
    * alignment. Spans shuffle as 128-bit md5 digests, never text; the df
    * count and the per-doc rollup are both map-side combinable hash
    * aggregates, so the whole op is two digest-keyed shuffles of the
    * span surface.
    */
  def qSpanDedup(s: SparkSession, dir: String): DataFrame = {
    val k = SpanWords
    val docs = t(s, dir, "documents")
    val spans = withWords(docs).select(col("doc_id"),
        explode(expr(
          s"""CASE WHEN size(ws) >= $k
             | THEN transform(sequence(1, size(ws) - ${k - 1}),
             |                i -> array_join(slice(ws, i, $k), ' '))
             | ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("span"))
      .select(col("doc_id"), md5(encode(col("span"), "UTF-8")).as("h"))
    val df = spans.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
    val perDoc = spans.join(df, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(round(col("n_dup_spans") / col("n_spans").cast("double"), 4),
          lit(0.0)).as("dup_frac"))
      .orderBy("doc_id")
  }

  val qSpanDedupOracle: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |spans AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= $SpanWords
      |    THEN list_transform(range(1, len(ws) - ${SpanWords - 2}),
      |           i -> array_to_string(ws[i:i + ${SpanWords - 1}], ' '))
      |    ELSE CAST([] AS VARCHAR[]) END) AS span
      |  FROM w),
      |df AS (
      |  SELECT span, count(DISTINCT doc_id) AS df FROM spans GROUP BY span),
      |per_doc AS (
      |  SELECT s.doc_id, count(*) AS n_spans,
      |    sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS n_dup_spans
      |  FROM spans s JOIN df USING (span) GROUP BY s.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
      |  coalesce(round(p.n_dup_spans / CAST(p.n_spans AS DOUBLE), 4), 0.0)
      |    AS dup_frac
      |FROM documents d LEFT JOIN per_doc p USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Content-defined chunking (the rsync/LBFS boundary rule: cut where a
    * rolling content hash hits `h % divisor == 0`, expected chunk length =
    * divisor words) followed by chunk-level dedup — the storage-layer
    * dedup used by dataset versioning systems: because boundaries depend
    * only on LOCAL content, an insertion early in a document shifts word
    * positions but re-synchronizes at the next boundary, so all later
    * chunks still fingerprint identically (fixed-size blocks would all
    * change — the whole point of CDC chunking over [[qLineDedup]]'s
    * structural lines).
    *
    * The fingerprint is local-position-weighted — Σ h_i·(pos_i−start+1),
    * computed as `Σ h_i·(pos_i+1) − start·Σ h_i` from plain commutative
    * SUM aggregates — so it is order-sensitive within the chunk yet
    * position-invariant across documents (the algebraic trick that avoids
    * a non-deterministic collect_list concat). Keyed on (fp, n_words) to
    * shrink collision surface.
    *
    * Scale shape: one posexplode + narrow hash projection; the chunk-id
    * running sum is a per-document window (parallel across docs); chunk
    * aggregation and the instance/df rollups are map-side-combining hash
    * aggregates on fingerprint keys — the corpus text never shuffles,
    * only (doc, chunk) hash rows. Output is a 1-row storage-dedup report.
    */
  /** (doc_id, n_words, fp) content-defined chunks of `docs(doc_id, text)`
    * — the factored kernel of [[qContentChunks]], unit-testable on a
    * synthetic frame (the resynchronization property needs a controlled
    * insertion, which the corpus can't stage).
    */
  private[operators] def chunkFingerprints(docs: DataFrame, divisor: Int = 16): DataFrame = {
    val occ = withWords(docs)
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "w")))
      .withColumn("h", expr(shingleHashScalar("w")))
      .withColumn("bnd", when(col("h") % divisor === 0, 1L).otherwise(0L))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    occ.withColumn("chunk", sum("bnd").over(byDoc))
      .groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("n_words"), min("pos").as("start"),
        sum(expr("h * (CAST(pos AS BIGINT) + 1)")).as("sh_pos"),
        sum("h").as("sh"))
      .select(col("doc_id"), col("n_words"),
        (col("sh_pos") - col("start") * col("sh")).as("fp"))
  }

  def qContentChunks(s: SparkSession, dir: String): DataFrame = {
    val chunks = chunkFingerprints(t(s, dir, "documents"))
    val stats = chunks.groupBy("fp", "n_words")
      .agg(count(lit(1)).as("n_inst"), countDistinct("doc_id").as("n_docs"))
    stats.agg(
      sum("n_inst").as("total_chunks"),
      count(lit(1)).as("distinct_chunks"),
      sum(when(col("n_inst") > 1, (col("n_inst") - 1) * col("n_words"))
        .otherwise(0L)).as("dup_tokens"),
      sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("shared_chunks"))
      .withColumn("dedup_bp",
        expr("((total_chunks - distinct_chunks) * 10000) div total_chunks"))
  }

  val qContentChunksOracle: String =
    s"""WITH occ AS (
      |  SELECT doc_id, unnest(ws) AS w, unnest(range(0, len(ws))) AS pos
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |hh AS (
      |  SELECT doc_id, pos, ${shingleHashScalar("w")} AS h FROM occ),
      |ch AS (
      |  SELECT doc_id, pos, h,
      |    sum(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
      |  FROM hh),
      |agg AS (
      |  SELECT doc_id, chunk, count(*) AS n_words, min(pos) AS start,
      |    sum(h * (pos + 1)) AS sh_pos, sum(h) AS sh
      |  FROM ch GROUP BY doc_id, chunk),
      |fp AS (
      |  SELECT doc_id, n_words, sh_pos - start * sh AS fp FROM agg),
      |st AS (
      |  SELECT fp, n_words, count(*) AS n_inst,
      |    count(DISTINCT doc_id) AS n_docs
      |  FROM fp GROUP BY fp, n_words)
      |SELECT CAST(sum(n_inst) AS BIGINT) AS total_chunks,
      |  count(*) AS distinct_chunks,
      |  CAST(sum(CASE WHEN n_inst > 1 THEN (n_inst - 1) * n_words ELSE 0 END)
      |    AS BIGINT) AS dup_tokens,
      |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_chunks,
      |  CAST((sum(n_inst) - count(*)) * 10000 // sum(n_inst) AS BIGINT) AS dedup_bp
      |FROM st""".stripMargin

  // All-pairs exact similarity-join threshold — the near-exact-duplicate
  // regime (J ≥ 0.9), one notch above the LSH verify threshold (0.8):
  // exact all-pairs is the audit tool for "provably every surviving pair",
  // and the tighter τ is what keeps its candidate surface affordable on a
  // dense vocabulary (prefix length ⌊(1−τ)·n⌋+1 = 10% of each doc's
  // grams + 1, and every prune sharpens with τ). Held as an exact
  // rational: the prunes run in INTEGER arithmetic because a float τ
  // silently tightens the boundary — ceil(57 · (0.9/1.9)) = 28 in
  // doubles where the true ⌈57·9/19⌉ = 27, which drops a legitimate
  // J = 27/30 = 0.9 pair (caught by the brute-force spec).
  private[operators] val TauNum = 9L
  private[operators] val TauDen = 10L
  private[operators] val AllPairsTau: Double = TauNum.toDouble / TauDen

  /** Exact all-pairs set-similarity SELF-JOIN at Jaccard ≥ [[AllPairsTau]]
    * — the AllPairs/PPJoin algorithm (Bayardo et al. WWW'07; Xiao et al.
    * ICDE'08) as a standalone operator, the EXACT-answer counterpart to
    * the [[qMinhashLsh]] index: same output contract (verified near-dup
    * pairs with scores), no probabilistic recall loss, for when the
    * pipeline needs "every pair above τ" (legal dedup audits, eval-set
    * leakage sweeps) rather than "almost every pair, faster".
    *
    * Why it scales without an index: a J ≥ τ pair must share a gram
    * inside each doc's first ⌊(1−τ)·n⌋+1 grams when every doc's gram set
    * is sorted by one GLOBAL order (rarest-first by document frequency),
    * so the candidate join runs over the prefix rows only — and the
    * df-ascending order puts exactly the low-df grams in prefixes,
    * bounding the join's Σ df_prefix² surface where a raw gram join pays
    * Σ df² on stopword grams. Two more lossless prunes run inside the
    * join stage, before anything shuffles toward the verify: the length
    * filter (J ≥ τ forces τ·max(|a|,|b|) ≤ min(|a|,|b|)) and PPJoin's
    * POSITIONAL filter — a prefix gram at 1-based rank r in a doc of n
    * grams leaves at most n − r grams after it, so the overlap is
    * bounded by 1 + min(n_a − r_a, n_b − r_b), which must reach the
    * equivalent-overlap threshold ⌈τ/(1+τ)·(n_a+n_b)⌉. The verify
    * itself is the fused two-pointer [[graft.functions.Jaccard4]] over
    * sorted gram arrays. All three pruning rules are
    * exactness-preserving, so the oracle is the BRUTE-FORCE join — any
    * pair the pruning wrongly dropped would hash-mismatch.
    *
    * Scale shape: grams explode once (persisted for the two consumers);
    * df and prefix are gram-keyed / doc-windowed aggregates of that
    * surface; the candidate join shuffles NARROW prefix rows (doc_id,
    * gram hash, n, rn, block ids — no arrays) on (gram hash, block pair)
    * — the per-gram grid decomposition that keeps a hot gram from
    * serializing its df² pair surface in one task — and the resulting
    * pair stream is never shuffled again: it pipelines through the
    * broadcast gram-index verify (see [[verifyPairs]] `bcastGrams`)
    * and only τ-survivors materialize. At 100 TB this is the
    * expensive-but-exact path — the df-ordered prefix is what keeps it
    * feasible at all, and τ controls the cost knob directly.
    */
  def qAllpairsJaccard(s: SparkSession, dir: String): DataFrame =
    allpairsJaccard(t(s, dir, "documents"), AllPairsBlockRows)

  /** Rows-per-block knob for the candidate join's per-gram grid
    * decomposition: a gram with df ≤ blockRows keeps one block (zero
    * replication — the sf0.01/sf0.1 gate path is plan-identical to the
    * undecomposed join); a hotter gram splits into ceil(df/blockRows)
    * blocks per side, bounding any task's raw-pair surface near
    * blockRows² (~17M at 4096) regardless of how hot the gram is. The
    * spec exercises the multi-block path with a tiny override.
    */
  private[operators] val AllPairsBlockRows = 4096L

  private[operators] def allpairsJaccard(docs: DataFrame, blockRows: Long): DataFrame = {
    val grams = gramsOf(docs).persist()
    val gramRows = grams.select(col("doc_id"), explode(col("grams")).as("g"))
    val gdf = gramRows.groupBy("g").agg(count(lit(1)).as("df"))
    val sized = gramRows.join(gdf, Seq("g"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    // candidates join on the gram's 64-bit polynomial hash, not the
    // string: longs shuffle and compare cheaper, and a hash collision can
    // only ADD candidates — the exact verify rejects them, so the prune
    // stays lossless
    // all prune thresholds in exact integer arithmetic (see TauNum):
    // ⌈p/q⌉ = (p + q − 1) div q, so prefix length n − ⌈τn⌉ + 1 and the
    // equivalent-overlap threshold α = ⌈τ/(1+τ)·(n_a+n_b)⌉ =
    // ⌈TauNum·v / (TauNum+TauDen)⌉ never suffer float boundary drift
    val prefix = sized
      .filter(col("rn") <=
        expr(s"n - ((n * $TauNum + ${TauDen - 1}) div $TauDen) + 1"))
      .select(col("doc_id"), expr(shingleHashScalar("g")).as("gh"),
        col("n"), col("rn"), col("df"))
    // Per-gram GRID decomposition of the self-join — the skew defense.
    // Keying on gh alone serializes a hot gram's entire df² pair surface
    // in ONE task (AQE's skew split can't help: it judges skew by INPUT
    // partition bytes, and a hot gram's input is kilobytes while its join
    // OUTPUT is billions of pairs — the sf10 audit watched exactly that
    // 8-core straggler tail). Instead, each gram's docs are hashed into
    // nblk = ceil(df/blockRows) blocks; the left side replicates each row
    // across peer block ids gj, the right across gi, and the join keys on
    // (gh, gi, gj) — so a pair (x, y) sharing gram g meets EXACTLY at
    // (gh, blk(x), blk(y)), once, and a hot gram becomes nblk² bounded
    // tasks instead of one straggler. Replication multiplies only the
    // NARROW prefix rows (×nblk, i.e. ×df/blockRows), never pair rows.
    // nblk is a function of df — a per-GRAM quantity both sides compute
    // identically — so the meet is deterministic; gh collisions between
    // distinct grams can as ever only add stray candidates (different
    // nblk per side changes only where those strays meet), which the
    // exact verify rejects. Same triangle-block idea as
    // [[Similarity.nearDupPairs]], but derived distributively from the
    // df column already in the plan — no driver-side cell census.
    val pfx = prefix
      .withColumn("nblk",
        greatest(lit(1L), expr(s"(df + ${blockRows - 1}) div $blockRows")))
      .withColumn("blk", pmod(hash(col("doc_id")).cast("long"), col("nblk")))
    val alphaDen = TauNum + TauDen
    val cand = pfx.select(col("doc_id").as("doc_a"), col("gh"),
        col("n").as("n_a"), col("rn").as("r_a"), col("blk").as("gi"),
        explode(sequence(lit(0L), col("nblk") - 1)).as("gj"))
      .join(pfx.select(col("doc_id").as("doc_b"), col("gh"),
        col("n").as("n_b"), col("rn").as("r_b"), col("blk").as("gj"),
        explode(sequence(lit(0L), col("nblk") - 1)).as("gi")),
        Seq("gh", "gi", "gj"))
      .filter(col("doc_a") < col("doc_b"))
      // length filter: J ≥ τ forces τ·max(|a|,|b|) ≤ min(|a|,|b|)
      .filter(least(col("n_a"), col("n_b")) * TauDen >=
        greatest(col("n_a"), col("n_b")) * TauNum)
      // positional filter: a first-common-gram row bounds overlap by
      // 1 + min(n−r), which must reach α (every qualifying pair has its
      // first common gram inside both prefixes, so ≥ 1 row passes)
      .filter(lit(1) + least(col("n_a") - col("r_a"), col("n_b") - col("r_b")) >=
        expr(s"((n_a + n_b) * $TauNum + ${alphaDen - 1}) div $alphaDen"))
      .select("doc_a", "doc_b")
    // NO pre-verify distinct: deduplicating the full candidate stream is
    // a pair-count-sized shuffle (the sf10 audit's disk killer), and the
    // measured duplication factor — pairs sharing >1 prefix gram — is
    // only 1.09× at sf1, so re-verifying dups costs 9% extra codegen'd
    // jaccard4 calls instead of a ~40 GB+ exchange. Candidates flow
    // straight into the broadcast verify (one pipelined stage) and only
    // the τ-survivors — bounded by the true near-dup count — are
    // deduplicated, where distinct() touches thousands of rows, not
    // billions. Dup rows are bit-identical (jaccard is deterministic),
    // so distinct-after-verify preserves the exact output contract.
    verifyPairs(cand, grams, AllPairsTau, bcastGrams = true)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  val qAllpairsJaccardOracle: String =
    s"""WITH ths AS (
      |  SELECT doc_id, $gramsDuck AS grams FROM $duckWords),
      |gram_rows AS (SELECT doc_id, unnest(grams) AS g FROM ths),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM gram_rows a JOIN gram_rows b
      |    ON a.g = b.g AND a.doc_id < b.doc_id)
      |${lshVerifySelectDuck(AllPairsTau.toString)}
      |ORDER BY doc_a, doc_b""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_incremental_dedup", qIncrementalDedup, Some(qIncrementalDedupOracle)),
    QueryDef("q_incremental_lsh", qIncrementalLsh, Some(qIncrementalLshOracle)),
    QueryDef("q_dedup_ensemble", qDedupEnsemble, Some(qDedupEnsembleOracle)),
    QueryDef("q_allpairs_jaccard", qAllpairsJaccard, Some(qAllpairsJaccardOracle)),
    QueryDef("q_line_dedup", qLineDedup, Some(qLineDedupOracle)),
    QueryDef("q_boilerplate_strip", qBoilerplateStrip, Some(qBoilerplateStripOracle)),
    QueryDef("q_span_dedup", qSpanDedup, Some(qSpanDedupOracle)),
    QueryDef("q_content_chunks", qContentChunks, Some(qContentChunksOracle)),
    QueryDef("q_minhash_recall", qMinhashRecall, Some(qMinhashRecallOracle)),
    QueryDef("q_dedup_exact", qDedupExact, Some(qDedupExactOracle)),
    QueryDef("q_dedup_digest", qDedupDigest, Some(qDedupDigestOracle)),
    QueryDef("q_normalize", qNormalize, Some(qNormalizeOracle)),
    QueryDef("q_hash_sample", qHashSample, Some(qHashSampleOracle)),
    QueryDef("q_minhash_sig", qMinhashSig, Some(qMinhashSigOracle)),
    QueryDef("q_minhash_lsh", qMinhashLsh, Some(qMinhashLshOracle)),
    QueryDef("q_ngram_jaccard", qNgramJaccard, Some(qNgramJaccardOracle)),
    QueryDef("q_simhash", qSimhash, Some(qSimhashOracle)),
    QueryDef("q_simhash_near_dup", qSimhashNearDup, Some(qSimhashNearDupOracle)),
    QueryDef("q_source_overlap", qSourceOverlap, Some(qSourceOverlapOracle)),
    QueryDef("q_jaccard_curve", qJaccardCurve, Some(qJaccardCurveOracle)),
  )
}
