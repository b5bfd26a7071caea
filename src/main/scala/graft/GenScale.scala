package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Deterministic sf1-and-beyond testdata generator for the scaling audit
  * (round-7 verdict item 1: "one more decade of data turns the 10×→1.73×
  * claim from extrapolation into measurement").
  *
  * The driver's testdata tops out at sf0.1 and is read-only, so bigger
  * scale factors are synthesized here, OUTSIDE /root/testdata, matched to
  * the driver data's measured shape (same ~4% planted near-duplicate pair
  * rate, same 'dup'-token rate, same 30-day event window with constant
  * per-user density, unit-norm label-clustered embeddings, and ×N
  * replicas of the TPC-H-ish tables with offset keys). Matching the
  * SHAPE is what makes the audit honest: dedup/LSH costs are governed by
  * the duplicate-pair rate and bucket occupancy, stream/asof costs by
  * per-key density — scaling corpus size while holding those constant is
  * exactly how production corpora grow.
  *
  * KEY CARDINALITY also scales the way production data does (round-11
  * verdict #1 — previously every blocking key space was frozen at its
  * sf0.1 size, which manufactured quadratic candidate growth no real
  * corpus shows): the vocabulary grows by Heaps' law with Zipf-sampled
  * words ([[vocabFor]]/[[zipfWord]]), embedding label count grows as √n
  * (the IVF coarse-cell convention), and replicated customer names
  * follow their offset keys so ER blocks stay bounded.
  *
  * Everything is hash-derived from the row id (splitmix64 finalizer — the
  * round-7 lesson: low bits of odd-multiplier hashes are
  * lattice-structured, so use a full avalanche finalizer), so output is
  * deterministic, seedable, and generated fully distributed (spark.range,
  * no driver-side loops).
  *
  * Usage: runMain graft.GenScale <srcSfDir> <outDir> <factor> [tables]
  *   e.g.  runMain graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf1 10
  *         runMain graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf30 300 documents,embeddings
  * [tables] is an optional comma-separated subset to generate (default:
  * all) — the sf30 dedup-family audit only needs the corpus tables, and
  * skipping the ×300 lineitem replica keeps generation time and disk
  * proportional to what the audit reads.
  */
object GenScale {

  /** splitmix64 finalizer over (x, salt) — full-avalanche determinism. */
  def h(x: Long, salt: Long): Long = {
    var z = x * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
    z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
    z ^= z >>> 27; z *= 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0,1) from a hash. */
  def u01(x: Long, salt: Long): Double =
    (h(x, salt) >>> 11).toDouble / (1L << 53).toDouble

  // the driver corpus vocabulary, measured at sf0.1 (30 words; 'dup' is
  // the planted-duplicate marker appearing in ~5% of docs). At factor 1
  // this is the whole vocabulary; bigger factors EXTEND it (below).
  private val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** Vocabulary for a scale factor, grown by Heaps' law: distinct-word
    * count on real text follows V ∝ tokens^β with β ≈ 0.5, so a ×factor
    * corpus carries √factor × the vocabulary. Replicating the 30-word
    * base at every SF instead (rounds ≤ 11) froze every content-derived
    * key space — shingle grams, simhash band signatures, bigram keys —
    * so band-bucket occupancy and gram document frequency grew with the
    * corpus and the candidate surfaces of the banded dedup operators
    * grew quadratically BY DATA CONSTRUCTION, a growth law no real web
    * corpus shows (round-11 verdict #1). Ranks 1..30 stay the driver
    * words; synthetic tail words are "w<i>".
    */
  def vocabFor(factor: Int): Array[String] = {
    val v = math.max(Vocab.length,
      math.ceil(Vocab.length * math.sqrt(factor.toDouble)).toInt)
    Vocab ++ (Vocab.length until v).map(i => s"w$i")
  }

  /** Zipf-distributed word draw: rank r with P(r) ∝ 1/r via the inverse-
    * CDF r = ⌊V^u⌋ (u uniform; P(r ≤ x) = ln x / ln V, the s=1 Zipf CDF).
    * Zipf sampling is what makes Heaps' law EMERGE in the generated text
    * (the two are duals), and it reproduces the head-heavy df spectrum
    * the PPJoin prefix pruning and band subdivision are designed for —
    * uniform draws over a grown vocab would instead make every gram
    * uniformly rare and flatter the operators' selectivity profile.
    */
  private def zipfWord(vocab: Array[String], x: Long, salt: Long): String = {
    // r = ⌊(V+1)^u⌋ with u ∈ [0,1) lands in [1, V], so index r-1 covers
    // the FULL vocabulary [0, V-1]. (Rounds ≤13 drew ⌊V^u⌋, which gave
    // the last word zero probability — an effective vocabulary of V-1.
    // Fixed round 14 at the sf60 regeneration boundary; the scale
    // corpora sf1/sf10/sf30 were regenerated once under the new law, and
    // the ~1/(V ln V) tail-mass shift is noted in BASELINE.md as a
    // cross-round comparability break for corpus-dependent timings.)
    val r = math.pow(vocab.length.toDouble + 1.0, u01(x, salt)).toInt
    vocab(math.min(vocab.length - 1, r - 1))
  }

  /** Word sequence for one document: length ~ U[8, 110] words (matches
    * the measured 44..577-char range, mean ≈ 297), words Zipf over the
    * factor-scaled vocab. `seed` decouples content from doc_id so
    * near-dup pairs can share content with independent perturbations.
    */
  private def baseWords(seed: Long, vocab: Array[String]): Array[String] = {
    val n = 8 + (h(seed, 1) >>> 33).toInt % 103 // >>>33 leaves 31 bits: non-negative
    Array.tabulate(n)(i => zipfWord(vocab, seed * 131 + i, 2))
  }

  def docText(id: Long, vocab: Array[String]): String = {
    // ~4% of docs form near-dup pairs: doc 25k+1 is a perturbed copy of
    // doc 25k (same base seed, ~5% of positions mutated, matching the
    // measured 206-pairs-per-5000-docs prefix-dup structure)
    val isDupCopy = id % 25 == 1
    val seed = if (isDupCopy) id - 1 else id
    val words = baseWords(seed, vocab)
    val perturbed =
      if (!isDupCopy) words
      else words.zipWithIndex.map { case (w, i) =>
        if (u01(id * 131 + i, 3) < 0.05) zipfWord(vocab, id * 131 + i, 4)
        else w
      }
    // 'dup' marker token in ~5% of docs (measured 250/5000)
    val tagged =
      if (h(seed, 5) % 20 == 0) perturbed :+ "dup" else perturbed
    tagged.mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val knownTables = Set("documents", "events", "embeddings", "lineitem",
      "orders", "customer", "part", "supplier", "nation", "region")
    only.foreach { sub =>
      // fail fast on a typo'd table name: a silent no-match would print
      // "[genscale] done" over a partial corpus and surface only when a
      // downstream query can't find its input
      val unknown = sub -- knownTables
      require(unknown.isEmpty,
        s"unknown table(s) in subset arg: ${unknown.toSeq.sorted.mkString(", ")} " +
          s"(known: ${knownTables.toSeq.sorted.mkString(", ")})")
      // subset mode overwrites only the requested tables; anything else
      // already in outDir survives from a PRIOR run — possibly at a
      // different factor. Warn so a mixed-factor corpus can't assemble
      // silently.
      val existing = Option(new java.io.File(outDir).list())
        .getOrElse(Array.empty[String])
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSet
      val stale = existing -- sub
      if (stale.nonEmpty)
        println(s"[genscale] WARNING: $outDir already holds tables outside " +
          s"this subset (${stale.toSeq.sorted.mkString(", ")}) — left as-is " +
          s"from a prior run; verify they were generated at factor $factor")
    }
    def wants(name: String): Boolean = only.forall(_.contains(name))
    val spark = graft.runner.Cli.buildSpark("graft-genscale")
    import spark.implicits._

    def out(name: String) = s"$outDir/$name.parquet"
    def write(df: => org.apache.spark.sql.DataFrame, name: String): Unit =
      if (wants(name)) {
        df.write.mode(SaveMode.Overwrite).parquet(out(name))
        println(s"[genscale] wrote $name")
      }

    // ---- documents: 5000 * factor fresh docs, driver-measured shape ----
    val nDocs = 5000L * factor
    val vocab = vocabFor(factor)
    write(
      spark.range(nDocs).select(col("id").as("doc_id")).map { r =>
        val id = r.getLong(0)
        val text = docText(id, vocab)
        val lang = { // measured: en 41%, others ~15% each
          val u = u01(id, 6)
          if (u < 0.41) "en" else if (u < 0.56) "zh"
          else if (u < 0.71) "es" else if (u < 0.86) "fr" else "de"
        }
        (id, text, lang, s"src${(h(id, 7) >>> 33).toInt.abs % 20}", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"),
      "documents")

    // ---- events: constant per-user density (users scale, window fixed) --
    val nEvents = 100000L * factor
    val nUsers = 1500L * factor
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val spanUs = 30L * 86400L * 1000000L - 60L * 1000000L
    write(
      spark.range(nEvents).select(
        col("id").as("event_id"),
        timestamp_micros(lit(t0) +
          (abs(xxhash64(col("id"), lit(11))) % spanUs)).as("ts"),
        (abs(xxhash64(col("id"), lit(12))) % nUsers).as("user_id"),
        element_at(
          array(lit("error"), lit("view"), lit("signup"), lit("click"), lit("purchase")),
          (abs(xxhash64(col("id"), lit(13))) % 5 + 1).cast("int")).as("event_type"),
        // exponential(mean 50), capped like the measured max
        round(least(
          -lit(50.0) * log(lit(1.0) -
            (abs(xxhash64(col("id"), lit(14))) % 1000000L).cast("double") / 1000000.0),
          lit(560.0)), 2).as("value"),
        concat(lit("{\"k\": "),
          (abs(xxhash64(col("id"), lit(15))) % 100).cast("string"),
          lit("}")).as("props")),
      "events")

    // ---- embeddings: unit-norm, ~√n weak label clusters, 64 dims -------
    // Label count follows the IVF convention the operators document
    // (coarse cells ~ √n, so per-cell occupancy also grows as √n instead
    // of linearly): a fixed 10 labels at every SF made every same-label
    // scored join's block surface grow quadratically by construction —
    // the round-11 verdict's FIXED_BLOCK_CARDINALITY artifact. The
    // driver's sf0.1 data keeps its 10 labels; generated SFs get
    // max(10, ⌈√n⌉): sf1 → 142, sf10 → 448.
    val nVecs = 2000L * factor
    val nLabels = math.max(10, math.ceil(math.sqrt(nVecs.toDouble)).toInt)
    write(
      spark.range(nVecs).map { id =>
        val label = (h(id, 21) >>> 33).toInt % nLabels
        val raw = Array.tabulate(64) { d =>
          // box-muller-lite: sum of 2 uniforms centered — close enough to
          // gaussian for timing work; small label-dependent centroid shift
          val g = u01(id * 64 + d, 22) + u01(id * 64 + d, 23) - 1.0
          (g + 0.15 * (u01(label * 64L + d, 24) - 0.5)).toFloat
        }
        val norm = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
        (id, raw.map(_ / norm), label)
      }.toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding"), col("label").cast("int").as("label")),
      "embeddings")

    // ---- TPC-H-ish tables: ×factor replicas with offset keys -----------
    // Replication is the right model here: group keys (returnflag, status,
    // priority, region...) keep their cardinality while per-group sizes
    // grow ×factor — exactly how these tables grow in production. Key
    // offsets keep join keys unique so join fan-outs stay 1:N, not N:N.
    lazy val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    lazy val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    lazy val cust = spark.read.parquet(s"$srcDir/customer.parquet")
    lazy val maxOrder = ord.agg(max("o_orderkey")).head.getLong(0) + 1
    lazy val maxCust = cust.agg(max("c_custkey")).head.getLong(0) + 1
    val rep = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
    write(
      rep(li)
        .withColumn("l_orderkey", col("l_orderkey") + col("__r") * maxOrder)
        .drop("__r"),
      "lineitem")
    write(
      rep(ord)
        .withColumn("o_orderkey", col("o_orderkey") + col("__r") * maxOrder)
        .withColumn("o_custkey", col("o_custkey") + col("__r") * maxCust)
        .drop("__r"),
      "orders")
    write(
      rep(cust)
        .withColumn("c_custkey", col("c_custkey") + col("__r") * maxCust)
        // production names follow keys: regenerate the TPC-H digit tail
        // to match the offset custkey. Replicating c_name verbatim made
        // every ER blocking key (nation + digit-string of name) collect
        // `factor` copies per block, so the levenshtein-verified edge
        // count grew factor² (600M undirected edges at sf10) — a growth
        // law real customer tables don't have (round-11 verdict #1).
        // format_string %09d zero-pads but NEVER truncates (lpad would
        // silently truncate once the offset custkey exceeds 9 digits —
        // custkey >= 1e9, factor ~ 6700 on the sf0.1 base — colliding
        // regenerated names and re-creating the factor² ER blocks this
        // change retires); identical output for all committed factors
        .withColumn("c_name",
          format_string("Customer#%09d", col("c_custkey")))
        .drop("__r"),
      "customer")
    // dimension tables: fixed cardinality at every SF (copy unchanged)
    Seq("part", "supplier", "nation", "region").foreach { nm =>
      write(spark.read.parquet(s"$srcDir/$nm.parquet"), nm)
    }
    println(s"[genscale] done: $outDir at ${factor}x of $srcDir")
    spark.stop()
  }
}
