package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** Duplicate-cluster operators — the step AFTER pairwise near-dup
  * detection in a real training-data pipeline: near-dup pairs form a
  * graph, and what the pipeline actually deletes is "every doc in a
  * connected component except one representative". Pairs alone
  * under-delete (A~B, B~C but A,C never compared) — component closure is
  * what makes dedup transitive.
  *
  * Reference scope: the reference engine has no graph step (it delegated
  * set logic to the warehouse); this is part of the LLM-pipeline surface
  * the builder prompt adds on top (SURVEY §6).
  */
object ClusterOps {

  /** Connected components over MinHash-LSH verified near-dup edges
    * (jaccard ≥ 0.8, same kernel as [[Dedup.qMinhashLsh]]), by iterative
    * min-label propagation WITH pointer jumping: every node starts labeled
    * with its own id, and each round takes the min label over itself and
    * its neighbors, then "jumps" once more through its label's own label
    * (path halving). Plain neighbor propagation needs O(component
    * diameter) rounds — a chain of near-dups (doc1~doc2~...~docN, the
    * shape sequentially-generated corpora actually produce) degrades to
    * O(N) sequential Spark jobs; the jump composes reachability so rounds
    * are O(log diameter). `maxIter` is a guard, and falling out of it
    * early would only split a giant chain, never merge two components
    * (labels only move DOWN along existing edges), so results stay a
    * refinement — the fixpoint check makes the output exact.
    *
    * Scale shape: the label frame is one row per NON-SINGLETON doc (docs
    * with no near-dup never enter the graph — at 100 TB that is the vast
    * majority, filtered out before any iteration). Each round is one
    * key-equality shuffle of (id, label) pairs — never the corpus, never
    * doc × doc. `localCheckpoint` truncates the growing lineage each
    * round (see [[connectedComponents]] for its failure mode); the
    * convergence probe is a scalar count, not a collect.
    *
    * Output: one row per duplicate cluster (representative = min doc_id,
    * member count, max member) — the "keep one, drop n-1" manifest.
    */
  def qDedupClusters(s: SparkSession, dir: String, maxIter: Int = 20): DataFrame = {
    val index = Dedup.minhashIndex(t(s, dir, "documents"))
    val labels = connectedComponents(index.pairs(0.8).select("doc_a", "doc_b"), maxIter)
    index.release()
    labels.groupBy(col("lbl").as("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"), max("id").as("max_doc"))
      .orderBy("cluster_rep")
  }

  /** The connected-components kernel over an undirected pair frame
    * (doc_a, doc_b) → one (id, lbl) row per vertex with lbl = component
    * min. Exposed separately so the log-round convergence can be tested
    * on adversarial graphs (long chains) the LSH corpus never produces.
    *
    * Failure mode: each round's labels are a `localCheckpoint`, whose
    * blocks live only in executor storage and cannot be recomputed (the
    * lineage is cut). Losing an executor mid-loop therefore fails the
    * query; the recovery is a rerun.
    */
  private[graft] def connectedComponents(pairs: DataFrame, maxIter: Int,
      hops: Int = 1): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter, hops)._1

  /** [[connectedComponents]] plus the number of rounds the loop ran —
    * the observable the O(log diameter) claim is asserted against
    * (ClusterOpsSpec / [[qStressChainClusters]]).
    *
    * `hops` = pointer jumps per round. One hop (path halving) already
    * gives O(log diameter) rounds; extra hops are a constant-factor trade
    * — each adds a cheap join per round but only pays off when the
    * diameter is large enough that fewer rounds are bought (the chain
    * stress passes 3; the LSH dup graph's components are dense and
    * shallow, so its caller keeps 1 and saves the extra plan cost).
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int, hops: Int = 1): (DataFrame, Int) = {
    // undirected edge list, materialized once (reused every round). The
    // graph is the DUPLICATE surface, not the corpus — orders of magnitude
    // smaller — so the iteration runs at a parallelism derived from the
    // observed edge count (~100k edges per task), not the corpus-sized
    // shuffle default: per-round cost is then a couple of small tasks
    // instead of a full-width shuffle per round. At 100 TB with a heavy
    // dup rate the same formula scales the loop back up to wide plans.
    val edgesRaw = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .persist()
    val nEdges = edgesRaw.count()
    // cap 4096, not the executor-thread count: a heavy-duplication graph
    // (the sf10 ER audit hit 600M undirected edges from 200-member
    // name-replica blocks) needs the per-round joins and aggregations to
    // run hundreds of tasks wide or a single task's aggregation map
    // exhausts execution memory — the "scales back up to wide plans"
    // half of this formula was previously capped at 32 and OOM'd there.
    val p = math.max(1, math.min(4096, (nEdges / 100000L).toInt + 1))
    // the per-round groupBy/join shuffles plan at
    // spark.sql.shuffle.partitions regardless of the edge frame's own
    // partitioning — match it to the edge-derived width for the loop's
    // duration (AQE coalesces stages that turn out small). Matching goes
    // BOTH directions: a heavy graph needs hundreds of tasks per round
    // (see the 4096 note above), while a tiny dup graph under the
    // session default pays the session's full task count per round-stage
    // for kilobyte partitions — across ~6 rounds × 4 stages that
    // scheduling overhead was most of the loop's wall-clock at the bench
    // SF. Floor 8 keeps the loop multi-core without a 1-task
    // serialization cliff.
    //
    // The width lives in a CLONED session (shared SparkContext, caches
    // and checkpoints included; full runtime conf copied), NOT a
    // temporary mutation of the caller's conf: suites and concurrent
    // queries share the session, and anything planning during the loop
    // would otherwise pick up the narrowed/widened width.
    val loopShuffle = math.max(8, p)
    val callerSpark = pairs.sparkSession
    val edges = org.apache.spark.sql.graftbridge.GraftBridge
      .withConf(edgesRaw.repartition(p, col("src")),
        "spark.sql.shuffle.partitions" -> loopShuffle.toString)
      .persist()

    // persist (not an eager checkpoint — saves one job): round 0's two
    // reads share the cached blocks, and the first agg checkpoint cuts
    // the lineage anyway.
    // Seeded start: lbl = min(id, min neighbor id). This IS the first
    // propagation round's fixpoint contribution, computed as ONE
    // aggregation over the symmetric edge list instead of the loop's
    // join + union + groupBy + probe machinery — on every non-trivial
    // graph round 1 improves some label, so the un-seeded loop always
    // paid a full round to learn what this aggregate already knows.
    // Grouped on SRC, not dst: `edges` is hash-partitioned by src, so
    // the src-keyed aggregate elides its exchange entirely (the edge
    // list is symmetric — min(dst) over src=x IS x's neighborhood min),
    // and the seeded label frame comes out co-partitioned with the
    // loop's edges("src") === labels("id") join key. The first draft
    // grouped by dst and silently paid a full edge-list reshuffle —
    // +50% on the sf10 600M-edge ER graph.
    var labels: DataFrame = edges
      .groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("lbl"))
      .select(col("src").as("id"), col("lbl"))
      .persist()
    val labels0 = labels
    var it = 0
    var converged = false
    // the round that supersedes a checkpoint frees it: Dataset.unpersist
    // never sees checkpoint RDDs (they're not in the CacheManager), so
    // without this every round's node-frame blocks pile up in storage
    // for the whole query
    var prevAgg: DataFrame = null
    while (!converged && it < maxIter) {
      // one aggregation computes BOTH the new labels and the convergence
      // signal: self rows carry the previous label, neighbor rows carry
      // Long.MaxValue in old_lbl, so min(old_lbl) is the previous label
      // and (lbl < old_lbl) marks any row that improved this round.
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"), lit(Long.MaxValue).as("old_lbl"))
      // checkpoint the aggregate BEFORE the self-join below — joining an
      // unmaterialized frame with itself would run the groupBy shuffle
      // twice (once per branch). LAZY checkpoint (r16): the convergence
      // probe right below is a full-partition count over this frame, so
      // it materializes the checkpoint as a side effect — fusing what
      // were TWO jobs per round (eager-checkpoint job + probe job) into
      // one. The probe must stay a plain count (no limit(1)): a
      // short-circuiting limit could leave partitions uncomputed and the
      // checkpoint blocks only partially persisted.
      val agg = labels.select(col("id"), col("lbl"), col("lbl").as("old_lbl"))
        .union(prop)
        .groupBy("id").agg(min("lbl").as("lbl"), min("old_lbl").as("old_lbl"))
        .localCheckpoint(false)
      // convergence is probed on the checkpointed aggregate, BEFORE the
      // pointer jumps: if propagation improved no label, then for every
      // edge (u,v) lbl(u) = lbl(v), i.e. labels are constant per
      // component and (since every lbl is a component-member id that
      // only decreases from lbl=id) equal to the component min — the
      // exact fixpoint — and jumping through lbl(lbl(x)) = lbl(x) is
      // also a no-op. Probing `agg` instead of the jumped frame keeps
      // the hop joins out of the probe, and lets the converged final
      // round skip the jumps entirely.
      val changed = agg.filter(col("lbl") < col("old_lbl")).count()
      // the probe job materialized this round's checkpoint — the
      // previous round's blocks (their only remaining reader was the
      // frame just computed) are now dead weight
      if (prevAgg != null)
        org.apache.spark.sql.graftbridge.GraftBridge.unpersistLocalCheckpoint(prevAgg)
      prevAgg = agg
      converged = changed == 0
      // pointer jumps: relabel through the label's own label, `hops`
      // times per round. Every lbl value is a node id (by induction from
      // lbl=id), so the lookup side is `agg` itself; left+coalesce keeps
      // the row even if the invariant were ever violated rather than
      // dropping it. Each extra hop is one more narrow join over the
      // SAME checkpointed tiny frame; on long chains the per-round fixed
      // cost (checkpoint job + probe job) dominates, so extra hops buy
      // ~2× fewer rounds cheaply. `next` is NOT checkpointed: lineage
      // depth stays bounded at `hops` joins because agg is cut every
      // round.
      val next = if (converged) agg else (1 to hops).foldLeft(
        agg.select(col("id"), col("lbl"), col("old_lbl"))) { (cur, _) =>
        cur.as("a")
          .join(agg.as("b"), col("a.lbl") === col("b.id"), "left")
          .select(col("a.id"),
            least(col("a.lbl"), coalesce(col("b.lbl"), col("a.lbl"))).as("lbl"),
            col("a.old_lbl"))
      }
      labels = next.select("id", "lbl")
      it += 1
    }
    edgesRaw.unpersist(blocking = true)
    labels0.unpersist(blocking = true)
    // labels is checkpointed — safe to release upstream
    edges.unpersist(blocking = true)
    // re-root the result into the CALLER's session: only the edge-sized
    // loop shuffles need the loop width; the label frame any caller
    // consumes next is node-count-sized and should plan at the caller's
    // own shuffle setting. The plan bottoms out in the checkpointed
    // LogicalRDD, so re-analysis is free.
    (org.apache.spark.sql.graftbridge.GraftBridge
      .ofRows(callerSpark, labels.queryExecution.logical), it)
  }

  val qDedupClustersOracle: String =
    s"""WITH RECURSIVE ${Dedup.lshPairsDuck(0.8)},
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT src AS id, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS id, reach.lbl FROM reach JOIN edges e ON e.src = reach.id),
      |comp AS (SELECT id, min(lbl) AS cluster_rep FROM reach GROUP BY id)
      |SELECT cluster_rep, count(*) AS n_docs, max(id) AS max_doc
      |FROM comp GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin

  /** Cross-corpus near-duplicate dedup (decontamination at the DOCUMENT
    * level, complementing [[CorpusOps.qContamination]]'s n-gram overlap):
    * flag every train-corpus doc whose MinHash signature band-collides
    * with any reference-corpus doc AND verifies at Jaccard ≥ 0.8. The
    * reference corpus here is sources src0..src3 (a held-out eval set);
    * everything else is train.
    *
    * Scale shape: one banded signature pass over the union, then a
    * train×ref join restricted to equal (band_idx, band_sig) — candidate
    * generation is key-equality, never train × ref. The ref side of the
    * band join is the small side (eval sets are tiny next to a 100 TB
    * train corpus) and broadcastable; flagged-doc distinct is one narrow
    * shuffle of doc ids.
    */
  def qCrossDedup(s: SparkSession, dir: String): DataFrame = {
    val refSrcs = (0 until 4).map(i => s"src$i")
    val docs = t(s, dir, "documents")
    val Dedup.MinhashIndex(grams, bands) = Dedup.minhashIndex(docs, "source")
    val cand = bands.filter(!col("source").isInCollection(refSrcs)).as("a")
      .join(bands.filter(col("source").isInCollection(refSrcs)).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_sig") === col("b.band_sig"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val flagged = Dedup.verifyPairs(cand, grams, 0.8)
      .select(col("doc_a").as("doc_id")).distinct()
      .withColumn("flag", lit(1L))
    docs.filter(!col("source").isInCollection(refSrcs))
      .select("doc_id", "source")
      .join(flagged, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("flag"), lit(0L))).as("n_flagged"))
      .orderBy("source")
  }

  val qCrossDedupOracle: String = {
    val refs = (0 until 4).map(i => s"'src$i'").mkString(", ")
    s"""WITH ${Dedup.lshCtesDuck(Seq("source"))},
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands2 a JOIN bands2 b
      |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
      |  WHERE a.source NOT IN ($refs) AND b.source IN ($refs)),
      |flagged AS (
      |  SELECT DISTINCT doc_a AS doc_id FROM (${Dedup.lshVerifySelectDuck("0.8")}) v)
      |SELECT d.source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      |FROM documents d LEFT JOIN flagged f ON f.doc_id = d.doc_id
      |WHERE d.source NOT IN ($refs)
      |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  /** Adversarial closure stress — the worst-case graph for label
    * propagation, mirroring how [[StressOps.qStressHotNearDup]] proves the
    * block bound: one MAXIMAL-DIAMETER chain per source (each source's
    * docs linked in doc_id order), so component diameter ≈ component size.
    * Plain neighbor propagation would need O(chain length) sequential
    * Spark rounds here — the exact shape `connectedComponents`' doc says
    * the LSH corpus never produces; the pointer-jumping kernel must close
    * every chain within the same O(log diameter) budget
    * (`ClusterOpsSpec` asserts the measured round count; `maxIter = 64`
    * covers log2 of any conceivable chain, it is a guard not a budget).
    *
    * Scale shape: chain construction is one window over (source, doc_id)
    * — a per-source sort, fine for a synthetic constructor; the closure
    * inherits the kernel's dup-surface-sized rounds. Oracle: each chain's
    * cluster stats are just min/count/max of its source's doc ids — the
    * recursive CTE is unnecessary BECAUSE the expected closure is total
    * per source, which is also why any split chain (early exit, dropped
    * jump) hash-fails immediately.
    */
  def qStressChainClusters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents").select("doc_id", "source")
    val w = Window.partitionBy("source").orderBy("doc_id")
    val pairs = docs.withColumn("nxt", lead("doc_id", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id").as("doc_a"), col("nxt").as("doc_b"))
    // hops = 5 (was 3, r16): at the bench SF the per-round fixed cost
    // (one fused checkpoint+probe job) dominates, so buying ~1 fewer
    // round with two more narrow joins over the checkpointed frame is a
    // measured win (3.05 -> 2.49 s min-of-5, same-conditions A/B); on a
    // longer chain the trade only improves (rounds scale with log of
    // diameter, hop joins stay constant per round).
    connectedComponents(pairs, maxIter = 64, hops = 5)
      .groupBy(col("lbl").as("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"), max("id").as("max_doc"))
      .orderBy("cluster_rep")
  }

  val qStressChainClustersOracle: String =
    """SELECT min(doc_id) AS cluster_rep, count(*) AS n_docs,
      |  max(doc_id) AS max_doc
      |FROM documents GROUP BY source HAVING count(*) > 1
      |ORDER BY cluster_rep""".stripMargin

  /** Duplicate-cluster SIZE DISTRIBUTION — the histogram every dedup run
    * reports ("how much of the corpus sits in 2-doc pairs vs 1000-doc
    * template explosions"): cluster sizes from the same LSH → verify →
    * connected-components pipeline as [[qDedupClusters]], rolled up to
    * (size → number of clusters, docs absorbed). Singleton docs (no dup
    * edge) are counted from the corpus total rather than materialized —
    * the histogram frame is |distinct sizes| rows. The removal headline
    * falls out: Σ (size−1)·n_clusters docs are droppable.
    */
  def qClusterSizeHist(s: SparkSession, dir: String, maxIter: Int = 20): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = graft.Tables.rowCount(s, dir, "documents")
    val index = Dedup.minhashIndex(docs)
    val labels = connectedComponents(index.pairs(0.8).select("doc_a", "doc_b"), maxIter)
    index.release()
    val clustered = labels.groupBy("lbl").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
    val clusteredDocs = clustered
      .agg(coalesce(sum(col("size") * col("n_clusters")), lit(0L)).as("n"))
    val singletons = clusteredDocs
      .select(lit(1L).as("size"), (lit(nDocs) - col("n")).as("n_clusters"))
    clustered.union(singletons)
      .groupBy("size").agg(sum("n_clusters").as("n_clusters"))
      .withColumn("n_docs", col("size") * col("n_clusters"))
      .orderBy("size")
  }

  val qClusterSizeHistOracle: String =
    s"""WITH RECURSIVE ${Dedup.lshPairsDuck(0.8)},
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT src AS id, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS id, reach.lbl FROM reach JOIN edges e ON e.src = reach.id),
      |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
      |sizes AS (SELECT lbl, count(*) AS size FROM comp GROUP BY lbl),
      |hist AS (SELECT size, count(*) AS n_clusters FROM sizes GROUP BY size),
      |singles AS (
      |  SELECT 1 AS size,
      |    (SELECT count(*) FROM documents) -
      |      coalesce((SELECT sum(size * n_clusters) FROM hist), 0) AS n_clusters)
      |SELECT size, n_clusters, size * n_clusters AS n_docs FROM (
      |  SELECT CAST(size AS BIGINT) AS size,
      |    CAST(sum(n_clusters) AS BIGINT) AS n_clusters FROM (
      |    SELECT size, n_clusters FROM hist
      |    UNION ALL SELECT size, n_clusters FROM singles) u
      |  GROUP BY size) f
      |ORDER BY size""".stripMargin

  /** Triangle count + transitivity of the near-dup graph — the graph
    * -structure audit AFTER pairwise detection: a dup graph whose edges
    * close into triangles is genuine duplication (A~B~C~A), while a
    * triangle-free high-degree graph is LSH noise around hub documents;
    * pipelines use transitivity to tune the verify threshold. Edges are
    * the verified embedding near-dup pairs (cos ≥ 0.3, per label cell).
    *
    * Node-iterator shape on the ORIENTED edge list (a < b): each wedge
    * (a<b<c) materializes exactly once through the b-keyed edge-edge
    * equi-join, and the closing-edge check is a semi-join — no triangle
    * is counted twice and no all-pairs surface exists. Wedge counts come
    * from a degree aggregate, not enumeration. At 100 TB the join
    * surface is Σ_b deg(b)², bounded because a cos threshold caps
    * near-dup neighborhoods — the dup graph is sparse by construction
    * (and the standard degree-cap pre-filter drops hub nodes first).
    * Transitivity is reported in integer basis points: 3·triangles /
    * wedges.
    */
  def qDupTriangles(s: SparkSession, dir: String): DataFrame = {
    // persist the VERIFIED edge list (the sparse survivor of the cos
    // threshold, orders of magnitude smaller than the scored-pair
    // stream): the plan references it six times (degree pass, three
    // legs of the wedge/closing join, edge count), and without an
    // explicit materialization each reference re-runs the quadratic
    // scoring kernel that produced it
    val edges = Similarity.qEmbeddingNearDup(s, dir)
      .select(col("label"), col("id_a").as("a"), col("id_b").as("b"))
      .persist()
    val deg = edges.select(col("label"), col("a").as("id"))
      .union(edges.select(col("label"), col("b").as("id")))
      .groupBy("label", "id").agg(count(lit(1)).as("deg"))
    val wedges = deg.groupBy("label")
      .agg(sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    val tri = edges.as("x").join(edges.as("y"),
        col("x.label") === col("y.label") && col("x.b") === col("y.a"))
      .select(col("x.label").as("wlbl"), col("x.a").as("wa"), col("y.b").as("wc"))
      .join(edges.as("z"), col("wlbl") === col("z.label") &&
        col("wa") === col("z.a") && col("wc") === col("z.b"), "left_semi")
      .groupBy(col("wlbl").as("label")).agg(count(lit(1)).as("n_triangles"))
    edges.groupBy("label").agg(count(lit(1)).as("n_edges"))
      .join(wedges, Seq("label"))
      .join(tri, Seq("label"), "left")
      .select(col("label"), col("n_edges"), col("n_wedges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("trans_bp", expr(
        "CASE WHEN n_wedges > 0 THEN (3 * n_triangles * 10000) div n_wedges ELSE 0 END"))
      .orderBy("label")
  }

  val qDupTrianglesOracle: String =
    """WITH pairs AS (
      |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
      |    unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT label, id_a, id_b,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos_sim
      |  FROM pairs GROUP BY label, id_a, id_b),
      |e AS (SELECT label, id_a AS a, id_b AS b FROM scored WHERE cos_sim >= 0.3),
      |deg AS (
      |  SELECT label, id, count(*) AS deg FROM (
      |    SELECT label, a AS id FROM e UNION ALL SELECT label, b FROM e) u
      |  GROUP BY label, id),
      |w AS (SELECT label, sum((deg * (deg - 1)) // 2) AS n_wedges FROM deg GROUP BY label),
      |tr AS (
      |  SELECT x.label, count(*) AS n_triangles
      |  FROM e x JOIN e y ON x.label = y.label AND x.b = y.a
      |  JOIN e z ON z.label = x.label AND z.a = x.a AND z.b = y.b
      |  GROUP BY x.label),
      |ne AS (SELECT label, count(*) AS n_edges FROM e GROUP BY label)
      |SELECT ne.label, ne.n_edges, CAST(w.n_wedges AS BIGINT) AS n_wedges,
      |  CAST(coalesce(tr.n_triangles, 0) AS BIGINT) AS n_triangles,
      |  CAST(CASE WHEN w.n_wedges > 0
      |       THEN (3 * coalesce(tr.n_triangles, 0) * 10000) // w.n_wedges
      |       ELSE 0 END AS BIGINT) AS trans_bp
      |FROM ne JOIN w USING (label) LEFT JOIN tr ON tr.label = ne.label
      |ORDER BY ne.label""".stripMargin

  /** Canonical-document selection — the step AFTER cluster closure:
    * within each near-dup cluster KEEP the member with the highest
    * type-token ratio (tie → lowest doc_id), i.e. "drop n−1 copies, but
    * keep the best one, not an arbitrary one". Clusters are connected
    * components over verified simhash pairs (hamming ≤ 8 on the 48-bit
    * signature — the same kernel as [[Dedup.qSimhashNearDup]], chosen
    * over MinHash here because the signature pass is the cheap one: 8
    * bytes per doc shuffle, no gram sets).
    *
    * Scale shape: the component graph is the duplicate surface only;
    * the quality join is doc-keyed; the keep-best windows partition by
    * cluster label (cluster-sized partitions, never corpus-sorted); the
    * band join runs through [[Dedup.SimhashIndex]]'s hot-bucket
    * subdivision, so no band bucket's pair count grows quadratically
    * with corpus size. The ttr quality column is 4-dp fixed so the DESC
    * ordering is engine-stable, with doc_id as the total tie-break.
    */
  def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val index = Dedup.simhashIndex(docs)
    val labels = connectedComponents(index.pairs
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 8)
      .select("doc_a", "doc_b"), 20)
    index.release()
    val ttr = docs.select(col("doc_id"),
      round(size(array_distinct(split(col("text"), " "))) /
        size(split(col("text"), " ")).cast("double"), 4).as("ttr"))
    // keep rule as a lexicographic struct-max AGGREGATE, not a window:
    // argmax by (ttr DESC, doc_id ASC) = max(struct(ttr, -doc_id)) — the
    // same mode idiom as qLabelProp's vote. The former row_number +
    // count window pair paid one exchange plus a full per-cluster sort
    // of every member; the aggregate is map-side combinable, so k
    // partial rows per cluster cross the shuffle instead of the whole
    // membership, and nothing sorts (guide: aggregate before you
    // shuffle). Result identical: row_number()=1 under that ORDER BY is
    // exactly this argmax, and n_members is the same count.
    labels.join(ttr, labels("id") === ttr("doc_id"))
      .groupBy(col("lbl"))
      .agg(max(struct(col("ttr"), (-col("doc_id")).as("neg"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("lbl").as("cluster_rep"), (-col("m.neg")).as("keep_doc_id"),
        col("n_members"), col("m.ttr").as("best_ttr"))
      .orderBy("cluster_rep")
  }

  val qDedupKeepBestOracle: String =
    s"""WITH RECURSIVE ${graft.operators.Dedup.simhash48SigsDuck},
      |sigs AS (SELECT doc_id, sig FROM base_sigs),
      |${graft.operators.Dedup.simhashCandDuck},
      |pairs AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE bit_count(xor(sig_a, sig_b)) <= 8),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT src AS id, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS id, reach.lbl FROM reach JOIN edges e ON e.src = reach.id),
      |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
      |ttr AS (
      |  SELECT doc_id, round(len(list_distinct(string_split(text, ' ')))
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS ttr
      |  FROM documents),
      |rk AS (
      |  SELECT comp.id, comp.lbl, ttr.ttr,
      |    row_number() OVER (PARTITION BY lbl ORDER BY ttr DESC, id) AS rk,
      |    count(*) OVER (PARTITION BY lbl) AS n_members
      |  FROM comp JOIN ttr ON ttr.doc_id = comp.id)
      |SELECT lbl AS cluster_rep, id AS keep_doc_id, n_members, ttr AS best_ttr
      |FROM rk WHERE rk = 1 ORDER BY cluster_rep""".stripMargin

  /** Down-sampled exact audit of [[qDedupKeepBest]]'s heavy stages — the
    * scale-checkable twin the full query can't have: keep_best's oracle
    * is a banded self-join that DuckDB evaluates quadratically (no LSH
    * pruning), impractical past sf0.1, so without this the suite's most
    * expensive query was only oracle-proven at sf0.01 (round-11 verdict
    * #5). A DETERMINISTIC ~1% stratum of simhash band buckets
    * ((band_idx·31 + band_sig) mod 97 = 0 — arithmetic on the key, no
    * RNG, identical in both engines) is carried through the exact same
    * machinery the full query runs: band/bucket-count/subdivide
    * ([[Dedup.cappedBands]]), the banded candidate self-join, the
    * hamming ≤ 8 verify, and the TTR keep rule applied pairwise. Output
    * is one row per band: bucket/row counts of the stratum, candidate
    * and verified pair counts, how often the LEFT doc wins the keep rule
    * (higher TTR, ties to the smaller doc_id), and the verified hamming
    * mass.
    *
    * Scale shape: the stratum filter lands on the banded frame BEFORE
    * the self-join in both engines, so the oracle's quadratic surface is
    * 1/97² per bucket-set × the bucket count — minutes at sf1 where the
    * full oracle is hours. The Spark side is the full query's own plan
    * shapes restricted to 1% of buckets.
    */
  def qKeepBestAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sigs = docs.select(col("doc_id"), expr("simhash48(text)").as("sig"))
    // filter AFTER the bucket-count join: bucket_n (and with it the
    // hot-bucket subdivision) must be computed on the FULL corpus, like
    // the query under audit — sampling first would undercount buckets
    // past the cap and silently skip the subdivision path
    // persisted: perBand plus both self-join sides read this frame
    val keyed = Dedup.cappedBands(sigs, "doc_id", "sig", bands = 3, width = 16,
        cap = Dedup.BandBucketCap)
      .filter((col("band_idx") * 31 + col("band_sig")) % 97 === 0)
      .persist()
    val perBand = keyed.groupBy("band_idx")
      .agg(countDistinct("band_sig").as("n_buckets"),
        count(lit(1)).as("n_rows"))
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_sig") === col("b.band_sig") &&
        col("a.sub") === col("b.sub") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.band_idx").as("band_idx"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("dist"))
    val ttr = docs.select(col("doc_id"),
      round(size(array_distinct(split(col("text"), " "))) /
        size(split(col("text"), " ")).cast("double"), 4).as("ttr"))
    val scored = cand
      .join(ttr.select(col("doc_id").as("doc_a"), col("ttr").as("ttr_a")), Seq("doc_a"))
      .join(ttr.select(col("doc_id").as("doc_b"), col("ttr").as("ttr_b")), Seq("doc_b"))
    val candAgg = scored.groupBy("band_idx").agg(
      count(lit(1)).as("n_cand"),
      sum(when(col("dist") <= 8, 1L).otherwise(0L)).as("n_verified"),
      sum(when(col("dist") <= 8 &&
          (col("ttr_a") > col("ttr_b") ||
           (col("ttr_a") === col("ttr_b") && col("doc_a") < col("doc_b"))), 1L)
        .otherwise(0L)).as("n_keep_a"),
      sum(when(col("dist") <= 8, col("dist").cast("long")).otherwise(0L))
        .as("sum_dist"))
    val out = perBand.join(candAgg, Seq("band_idx"), "left")
      .select(col("band_idx").cast("long").as("band_idx"), col("n_buckets"),
        col("n_rows"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        coalesce(col("n_keep_a"), lit(0L)).as("n_keep_a"),
        coalesce(col("sum_dist"), lit(0L)).as("sum_dist"))
      .orderBy("band_idx")
    out
  }

  val qKeepBestAuditOracle: String =
    s"""WITH ${graft.operators.Dedup.simhash48SigsDuck},
      |sigs AS (SELECT doc_id, sig FROM base_sigs),
      |${graft.operators.Dedup.simhashCandDuck},
      |skeyed AS (
      |  SELECT * FROM keyed WHERE (band_idx * 31 + band_sig) % 97 = 0),
      |bp AS (
      |  SELECT band_idx, count(DISTINCT band_sig) AS n_buckets,
      |    count(*) AS n_rows
      |  FROM skeyed GROUP BY 1),
      |scand AS (
      |  SELECT a.band_idx, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    bit_count(xor(a.sig, b.sig)) AS dist
      |  FROM skeyed a JOIN skeyed b
      |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
      |    AND a.sub = b.sub AND a.doc_id < b.doc_id),
      |ttr AS (
      |  SELECT doc_id, round(len(list_distinct(string_split(text, ' ')))
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS ttr
      |  FROM documents),
      |vk AS (
      |  SELECT v.band_idx, v.dist,
      |    CASE WHEN ta.ttr > tb.ttr OR (ta.ttr = tb.ttr AND v.doc_a < v.doc_b)
      |      THEN 1 ELSE 0 END AS keep_a
      |  FROM scand v
      |  JOIN ttr ta ON ta.doc_id = v.doc_a
      |  JOIN ttr tb ON tb.doc_id = v.doc_b),
      |ca AS (
      |  SELECT band_idx, count(*) AS n_cand,
      |    CAST(coalesce(sum(CASE WHEN dist <= 8 THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS n_verified,
      |    CAST(coalesce(sum(CASE WHEN dist <= 8 THEN keep_a ELSE 0 END), 0)
      |      AS BIGINT) AS n_keep_a,
      |    CAST(coalesce(sum(CASE WHEN dist <= 8 THEN dist ELSE 0 END), 0)
      |      AS BIGINT) AS sum_dist
      |  FROM vk GROUP BY 1)
      |SELECT bp.band_idx, bp.n_buckets, bp.n_rows,
      |  coalesce(ca.n_cand, 0) AS n_cand,
      |  coalesce(ca.n_verified, 0) AS n_verified,
      |  coalesce(ca.n_keep_a, 0) AS n_keep_a,
      |  coalesce(ca.sum_dist, 0) AS sum_dist
      |FROM bp LEFT JOIN ca USING (band_idx)
      |ORDER BY band_idx""".stripMargin

  /** Dirty-replica rec_id offset, derived from the data: the smallest
    * power of ten above max(c_custkey) (10^decimal-digits — pure integer
    * and string logic, so Spark and DuckDB agree bit-for-bit where a
    * float log10 could round either way). A fixed 1,000,000 collides
    * with clean custkeys once customer passes 1M rows (sf≈7; sf10 has
    * 1.5M), silently merging unrelated records. One-row broadcast
    * scalar, the q_above_avg idiom — never a driver constant.
    */
  private def custKeyOffset(c: DataFrame): DataFrame =
    c.agg(pow(lit(10.0), length(max(col("c_custkey")).cast("string")))
      .cast("long").as("off"))

  private val custKeyOffsetDuck: String =
    """off AS (
      |  SELECT CAST(power(10, len(CAST(max(c_custkey) AS VARCHAR))) AS BIGINT)
      |    AS off FROM customer)""".stripMargin

  /** Entity resolution end-to-end — the record-linkage pipeline shape
    * (Fellegi–Sunter by way of modern blocking): normalize → block →
    * pairwise verify (edit distance) → transitive closure → canonical
    * representative. The record set is the customer table unioned with a
    * deterministically dirtied variant of itself (case flip, `#`→`-`,
    * a `Custmer` typo — one mutation class per custkey mod 3), so the
    * ground truth is known and every stage is oracle-checkable.
    *
    * Blocking key = (nation, digit-string of the name): mutations
    * preserve digits, so every true match shares a block, and the
    * pairwise levenshtein verify (≤2 after lowercasing) only ever runs
    * within blocks — the candidate surface is Σ block², never records².
    * Closure reuses the [[connectedComponents]] pointer-jump kernel; the
    * canonical pick is the component-min record id.
    *
    * Scale shape: the block join is a key-equality shuffle; blocks are
    * bounded by construction (digit strings are near-unique), and a hot
    * block would get the same subdivide-by-extra-bits treatment as the
    * simhash bands. The closure iterates over the MATCH graph, which is
    * duplicate-surface-sized, not corpus-sized.
    */
  def qErClusters(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val clean = c.select(col("c_custkey").cast("long").as("rec_id"),
      col("c_name").as("name"), col("c_nationkey").as("nation"))
    val dirty = c.crossJoin(broadcast(custKeyOffset(c)))
      .select((col("c_custkey") + col("off")).as("rec_id"),
      when(col("c_custkey") % 3 === 0, lower(col("c_name")))
        .when(col("c_custkey") % 3 === 1, regexp_replace(col("c_name"), "#", "-"))
        .otherwise(regexp_replace(col("c_name"), "Customer", "Custmer")).as("name"),
      col("c_nationkey").as("nation"))
    val recs = clean.unionByName(dirty)
      .withColumn("blk", concat_ws(":", col("nation"),
        regexp_replace(col("name"), "[^0-9]", "")))
    val pairs = recs.as("a").join(recs.as("b"),
        col("a.blk") === col("b.blk") && col("a.rec_id") < col("b.rec_id"))
      .filter(levenshtein(lower(col("a.name")), lower(col("b.name"))) <= 2)
      .select(col("a.rec_id").as("doc_a"), col("b.rec_id").as("doc_b"))
    connectedComponents(pairs, maxIter = 10)
      .groupBy(col("lbl").as("entity_rep"))
      .agg(count(lit(1)).as("n_records"), max("id").as("max_rec"))
      .orderBy("entity_rep")
  }

  val qErClustersOracle: String =
    s"""WITH $custKeyOffsetDuck,
      |recs AS (
      |  SELECT c_custkey AS rec_id, c_name AS name, c_nationkey AS nation
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + (SELECT off FROM off),
      |    CASE c_custkey % 3
      |      WHEN 0 THEN lower(c_name)
      |      WHEN 1 THEN replace(c_name, '#', '-')
      |      ELSE replace(c_name, 'Customer', 'Custmer') END,
      |    c_nationkey
      |  FROM customer),
      |blocked AS (
      |  SELECT rec_id, name, nation,
      |    nation::VARCHAR || ':' || regexp_replace(name, '[^0-9]', '', 'g') AS blk
      |  FROM recs),
      |pairs AS (
      |  SELECT a.rec_id AS ra, b.rec_id AS rb
      |  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.rec_id < b.rec_id
      |  WHERE levenshtein(lower(a.name), lower(b.name)) <= 2),
      |-- blocks are cliques under the verify (all members within edit
      |-- distance of each other), so one min-label round over
      |-- self+neighbors IS the component fixpoint
      |lbl AS (
      |  SELECT id, min(l) AS lbl FROM (
      |    SELECT ra AS id, ra AS l FROM pairs
      |    UNION ALL SELECT rb, ra FROM pairs
      |    UNION ALL SELECT rb, rb FROM pairs
      |    UNION ALL SELECT ra, rb FROM pairs) u
      |  GROUP BY id)
      |SELECT lbl AS entity_rep, count(*) AS n_records, max(id) AS max_rec
      |FROM lbl GROUP BY lbl ORDER BY entity_rep""".stripMargin

  /** Blocking-quality audit for entity resolution — the measurement step
    * every ER deployment runs BEFORE trusting a blocking key: reduction
    * ratio (how much of the n²/2 comparison space the blocking prunes),
    * pairs completeness (what fraction of TRUE matches survive into the
    * candidate set — blocking recall), and pairs quality (what fraction
    * of candidates are true matches — blocking precision). The record
    * set extends [[qErClusters]]' construction with a fourth,
    * deliberately block-BREAKING mutation class (drop the name's last
    * digit for custkey % 4 == 3), so completeness is a real measurement
    * (≈0.75 by construction), not a tautological 1.0; ground truth is
    * known exactly — each dirty record (custkey + the data-derived
    * [[custKeyOffset]]) matches its clean twin and nothing else.
    *
    * Scale shape: the candidate count is a block-keyed self-join of
    * narrow (rec_id, blk) rows; the n·(n−1)/2 denominator is arithmetic
    * on one scalar count, never a materialized pair surface; truth
    * matching is a filter on the candidate stream (rb − ra = offset),
    * not a second join. The three metric aggregates ride broadcast
    * 1-row cross-joins.
    */
  def qErBlockingAudit(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    // data-derived rec-id offset (see [[custKeyOffset]]) — a fixed
    // constant collides with clean custkeys at sf≳7
    val off = broadcast(custKeyOffset(c))
    val clean = c.select(col("c_custkey").cast("long").as("rec_id"),
      col("c_name").as("name"), col("c_nationkey").as("nation"))
    val dirty = c.crossJoin(off).select((col("c_custkey") + col("off")).as("rec_id"),
      when(col("c_custkey") % 4 === 0, lower(col("c_name")))
        .when(col("c_custkey") % 4 === 1, regexp_replace(col("c_name"), "#", "-"))
        .when(col("c_custkey") % 4 === 2,
          regexp_replace(col("c_name"), "Customer", "Custmer"))
        .otherwise(expr("substring(c_name, 1, length(c_name) - 1)")).as("name"),
      col("c_nationkey").as("nation"))
    val recs = clean.unionByName(dirty)
      .withColumn("blk", concat_ws(":", col("nation"),
        regexp_replace(col("name"), "[^0-9]", "")))
      .select("rec_id", "blk")
    val nRecs = recs.agg(count(lit(1)).as("n_records"))
    val nTrue = c.agg(count(lit(1)).as("n_true"))
    val cand = recs.as("a").join(recs.as("b"),
        col("a.blk") === col("b.blk") && col("a.rec_id") < col("b.rec_id"))
      .select(col("a.rec_id").as("ra"), col("b.rec_id").as("rb"))
    val candStats = cand.crossJoin(off).agg(count(lit(1)).as("n_cand"),
      sum(when(col("rb") - col("ra") === col("off"), 1L).otherwise(0L))
        .as("n_blocked_true"))
    nRecs.crossJoin(broadcast(nTrue)).crossJoin(broadcast(candStats))
      .select(col("n_records"), col("n_cand"), col("n_true"),
        col("n_blocked_true"),
        round(lit(1.0) - col("n_cand") /
          (col("n_records") * (col("n_records") - 1) / lit(2)).cast("double"),
          6).as("rr"),
        round(col("n_blocked_true") / col("n_true").cast("double"), 4).as("pc"),
        round(col("n_blocked_true") / col("n_cand").cast("double"), 4).as("pq"))
  }

  val qErBlockingAuditOracle: String =
    s"""WITH $custKeyOffsetDuck,
      |clean AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS rec_id, c_name AS name,
      |    c_nationkey AS nation FROM customer),
      |dirty AS (
      |  SELECT c_custkey + (SELECT off FROM off) AS rec_id,
      |    CASE c_custkey % 4
      |      WHEN 0 THEN lower(c_name)
      |      WHEN 1 THEN replace(c_name, '#', '-')
      |      WHEN 2 THEN replace(c_name, 'Customer', 'Custmer')
      |      ELSE substring(c_name, 1, len(c_name) - 1) END AS name,
      |    c_nationkey AS nation FROM customer),
      |recs AS (
      |  SELECT rec_id,
      |    nation::VARCHAR || ':' || regexp_replace(name, '[^0-9]', '', 'g') AS blk
      |  FROM (SELECT * FROM clean UNION ALL SELECT * FROM dirty)),
      |nr AS (SELECT count(*) AS n_records FROM recs),
      |nt AS (SELECT count(*) AS n_true FROM customer),
      |cs AS (
      |  SELECT count(*) AS n_cand,
      |    CAST(coalesce(sum(CASE WHEN b.rec_id - a.rec_id = (SELECT off FROM off)
      |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_blocked_true
      |  FROM recs a JOIN recs b ON a.blk = b.blk AND a.rec_id < b.rec_id)
      |SELECT n_records, n_cand, n_true, n_blocked_true,
      |  round(1.0 - n_cand / (n_records * (n_records - 1) / 2)::DOUBLE, 6) AS rr,
      |  round(n_blocked_true / n_true::DOUBLE, 4) AS pc,
      |  round(n_blocked_true / n_cand::DOUBLE, 4) AS pq
      |FROM nr CROSS JOIN nt CROSS JOIN cs""".stripMargin

  /** PageRank over the similarity kNN graph — the graph-centrality rank
    * retrieval pipelines use to pick representative documents out of a
    * near-dup neighborhood (and the canonical "iterative distributed
    * compute" kernel). Nodes are embedding vectors; directed edges go
    * from each vector to its k=3 nearest same-label neighbors by rounded
    * cosine (label = the IVF coarse cell, so graph construction is the
    * blocked pair join of [[Similarity.qEmbeddingNearDup]], never
    * all-pairs). Three damped power-iteration rounds (d=0.85) from the
    * uniform start; ranks are reported scaled by N and rounded. At
    * 100 TB the label partitioning follows the IVF convention (~√n
    * cells, so cells stay bounded as the corpus grows) and a hot cell
    * decomposes via the [[Similarity.qEmbeddingNearDup]] triangle-block
    * kernel.
    *
    * Scale shape: the edge build is the label-blocked scored join + the
    * bounded [[graft.functions.TopKAggregator]] (k rows per node cross
    * the exchange); each iteration is ONE key-equality shuffle of (node,
    * contribution) pairs over the kN-edge frame — the textbook Pregel
    * round — with `localCheckpoint` truncating lineage per round exactly
    * like [[connectedComponents]]. Nothing driver-side but the node
    * count (one scalar action).
    *
    * Failure mode: as in [[connectedComponents]], losing an executor
    * mid-loop fails the query, because local-checkpoint blocks cannot be
    * recomputed. The recovery is a rerun.
    */
  def qPagerank(s: SparkSession, dir: String, iters: Int = 3, k: Int = 3): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        expr(Similarity.normExpr).as("nrm"))
    // Edge build through the triangle-blocked kernel
    // ([[Similarity.scoredAllPairs]]): each unordered same-label pair is
    // scored ONCE (half the dot products of the naive directed join) and
    // emitted in both directions — IEEE multiplication commutes, so the
    // reverse row carries the bit-identical cosine. The block grid also
    // keeps the quadratic loop wide: the naive join hashed on the
    // 10-value label column and ran ≤10 tasks at any corpus size.
    // symmetrize with a row-local explode (NOT a self-union, which would
    // run the quadratic join twice): each scored row expands to its two
    // directions inside the same codegen stage
    val scored = Similarity.scoredAllPairs(e, 4096L)
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"), col("cos_sim").as("cos")),
        struct(col("id_b").as("src"), col("id_a").as("dst"), col("cos_sim").as("cos"))))
        .as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"), col("p.cos").as("cos"))
    val edges = graft.functions.TopKAggregator
      .ranked(scored, Seq("src"), k, col("cos"), col("dst"))
      .select(col("src"), col("id").as("dst"))
      .persist()
    val nodes = e.select(col("vec_id").as("id")).persist()
    // N is the unfiltered embeddings row count — a parquet-footer scalar
    // (Tables.rowCount), not a job; the nodes cache materializes inside
    // round 1's first join instead of a dedicated count pass.
    val n = graft.Tables.rowCount(s, dir, "embeddings")
    var pr = nodes.withColumn("pr", lit(1.0 / n))
    var prevPr: DataFrame = null
    for (i <- 1 to iters) {
      val contrib = edges.join(pr, col("src") === col("id"))
        .select(col("dst").as("id"), (col("pr") / k.toDouble).as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      val next = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(0.15 / n) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("pr"))
      // checkpoint only INTERIOR rounds: the final round's sole consumer
      // is the output action, so an eager checkpoint there was one whole
      // extra materialization job for a frame read exactly once — the
      // last round's (bounded, one-join) lineage evaluates inside the
      // output action instead. prevPr (the N−1 checkpoint) stays alive
      // as that plan's input.
      pr = if (i < iters) {
        val ck = next.localCheckpoint(true)
        // superseded round's checkpoint blocks are dead once the new one
        // is materialized (see connectedComponentsWithRounds)
        if (prevPr != null)
          org.apache.spark.sql.graftbridge.GraftBridge.unpersistLocalCheckpoint(prevPr)
        prevPr = ck
        ck
      } else next
    }
    val out = pr.select(col("id").as("vec_id"),
      round(col("pr") * n, 6).as("pr_scaled6")).orderBy("vec_id")
    edges.unpersist(blocking = true)
    nodes.unpersist(blocking = true)
    out
  }

  val qPagerankOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
      |scored AS (
      |  SELECT src, dst,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos
      |  FROM pairs GROUP BY src, dst),
      |edges AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
      |    FROM scored) WHERE rk <= 3),
      |n AS (SELECT count(*)::DOUBLE AS n FROM e),
      |pr0 AS (SELECT vec_id AS id, 1.0 / (SELECT n FROM n) AS pr FROM e),
      |pr1 AS (
      |  SELECT v.vec_id AS id,
      |    0.15 / (SELECT n FROM n) + 0.85 * coalesce(c.s, 0) AS pr
      |  FROM e v LEFT JOIN (
      |    SELECT dst, sum(pr / 3) AS s FROM edges JOIN pr0 ON pr0.id = edges.src
      |    GROUP BY dst) c ON c.dst = v.vec_id),
      |pr2 AS (
      |  SELECT v.vec_id AS id,
      |    0.15 / (SELECT n FROM n) + 0.85 * coalesce(c.s, 0) AS pr
      |  FROM e v LEFT JOIN (
      |    SELECT dst, sum(pr / 3) AS s FROM edges JOIN pr1 ON pr1.id = edges.src
      |    GROUP BY dst) c ON c.dst = v.vec_id),
      |pr3 AS (
      |  SELECT v.vec_id AS id,
      |    0.15 / (SELECT n FROM n) + 0.85 * coalesce(c.s, 0) AS pr
      |  FROM e v LEFT JOIN (
      |    SELECT dst, sum(pr / 3) AS s FROM edges JOIN pr2 ON pr2.id = edges.src
      |    GROUP BY dst) c ON c.dst = v.vec_id)
      |SELECT id AS vec_id, round(pr * (SELECT n FROM n), 6) AS pr_scaled6
      |FROM pr3 ORDER BY vec_id""".stripMargin

  /** Semi-supervised label propagation — the "label 10%, infer the rest"
    * step of weakly-supervised data curation: seeds (vec_id < 50) keep
    * their true class; every other node adopts, round by round, the
    * MAJORITY label among its labeled graph neighbors (vote ties break
    * to the smaller label — the deterministic convention). The graph is
    * an honest ANN kNN graph: candidates from the data-sized hyperplane
    * bucket (NOT the true label — that is the quantity being predicted),
    * top-5 by rounded cosine per node via the bounded
    * [[graft.functions.TopKAggregator]]. Two propagation rounds, then
    * accuracy against the held-back true labels per class — the
    * measurement that decides whether propagated labels are usable.
    *
    * Scale shape: graph build = the [[Similarity.qAnnRecall]] candidate
    * discipline (bucket-equality join, bounded top-k); each round is one
    * keyed shuffle of (node, vote) pairs over the kN-edge frame plus a
    * struct-max aggregate (no window); seeds and predictions never leave
    * the node frame. The plane count is sized to the corpus
    * ([[Similarity.planesFor]]: log₂(n/8), floor 8 — 8 planes at driver
    * SFs, 12 at sf1, 15 at sf10, 16–32 at 100 TB) so expected bucket
    * occupancy — and with it the scored join's per-bucket pair surface —
    * stays constant as the corpus grows, exactly the multi-table
    * discipline the simhash/phash band caps apply; the oracle computes
    * the same count from the data in SQL. Each round's labels are a
    * `localCheckpoint`: as in [[connectedComponents]], losing an
    * executor mid-loop fails the query, because those blocks cannot be
    * recomputed. The recovery is a rerun.
    */
  def qLabelProp(s: SparkSession, dir: String, rounds: Int = 2, k: Int = 5): DataFrame = {
    // plane count sized to the corpus (log₂(n/8), floor 8 — see
    // Similarity.planesFor): the candidate bucket space must grow with n
    // or bucket occupancy — and the bucket-blocked scored join's pair
    // surface — grows linearly-per-bucket, quadratically in total. The
    // count() is a parquet-metadata action (row-group stats, no scan).
    val nPlanes = Similarity.planesFor(graft.Tables.rowCount(s, dir, "embeddings"))
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        expr(Similarity.normExpr).as("nrm"),
        Similarity.hyperplaneBucket(nPlanes).as("bucket"))
    val a = e.select(col("vec_id").as("src"), col("embedding").as("qv"),
      col("nrm").as("qnrm"), col("bucket"))
    val b = e.select(col("vec_id").as("dst"), col("embedding"),
      col("nrm"), col("bucket"))
    val scored = a.join(b, Seq("bucket")).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(expr(Similarity.dotExpr) / (col("qnrm") * col("nrm")), 4).as("cos"))
    val edges = graft.functions.TopKAggregator
      .ranked(scored, Seq("src"), k, col("cos"), col("dst"))
      .select(col("src"), col("id").as("dst"))
      .persist()
    val nodes = e.select(col("vec_id").as("id"), col("label").as("true_lbl"))
      .persist()
    var cur = nodes.select(col("id"),
      when(col("id") < 50, col("true_lbl")).as("lbl"))
    var prevCur: DataFrame = null
    for (i <- 1 to rounds) {
      val votes = edges
        .join(cur.filter(col("lbl").isNotNull), col("dst") === col("id"))
        .groupBy(col("src"), col("lbl").as("vlbl"))
        .agg(count(lit(1)).as("v"))
      // mode per node WITHOUT a window: lexicographic struct-max over
      // (votes, -label) = most votes, ties to the smaller label
      val best = votes
        .groupBy(col("src").as("id"))
        .agg(max(struct(col("v"), (-col("vlbl")).as("neg"))).as("m"))
        .select(col("id"), (-col("m.neg")).cast("int").as("vlbl"))
      val next = cur.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("vlbl")).as("lbl"))
      // final round stays lazy — its one consumer is the output action
      // (see qPagerank's loop for the rationale)
      cur = if (i < rounds) {
        val ck = next.localCheckpoint(true)
        if (prevCur != null)
          org.apache.spark.sql.graftbridge.GraftBridge.unpersistLocalCheckpoint(prevCur)
        prevCur = ck
        ck
      } else next
    }
    val out = nodes.join(cur, "id")
      .groupBy(col("true_lbl"))
      .agg(
        sum(when(col("id") < 50, 1L).otherwise(0L)).as("n_seeds"),
        sum(when(col("id") >= 50 && col("lbl").isNotNull, 1L).otherwise(0L))
          .as("n_predicted"),
        sum(when(col("id") >= 50 && col("lbl") === col("true_lbl"), 1L)
          .otherwise(0L)).as("n_correct"))
      .select(col("true_lbl"), col("n_seeds"), col("n_predicted"), col("n_correct"),
        expr("CASE WHEN n_predicted > 0 THEN (n_correct * 10000) div n_predicted ELSE 0 END")
          .as("accuracy_bp"))
      .orderBy("true_lbl")
    edges.unpersist(blocking = true)
    nodes.unpersist(blocking = true)
    out
  }

  val qLabelPropOracle: String =
    """WITH np AS (
      |  -- data-sized plane count, same integer-exact rule as
      |  -- Similarity.planesFor: ceil(log2(ceil(n / 8))), floor 8
      |  SELECT greatest(8, CAST(ceil(log2((count(*) + 7) // 8)) AS INT)) AS np
      |  FROM embeddings),
      |-- DuckDB's range() table function only takes constants, so the
      |-- dynamic plane list is a filtered constant range (64 planes is
      |-- enough for n up to 8 * 2^64)
      |planes AS (SELECT r.r AS p FROM range(64) r(r), np WHERE r.r < np.np),
      |comp AS (
      |  SELECT vec_id, p.p AS p,
      |    sum((e.embedding[j.j + 1])::DOUBLE * ((p.p * 131 + j.j * 37) % 19 - 9)) AS dot
      |  FROM embeddings e, planes AS p, range(64) AS j(j)
      |  GROUP BY vec_id, p.p),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM comp GROUP BY vec_id),
      |pairs AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
      |  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      |  JOIN embeddings ea ON ea.vec_id = a.vec_id
      |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
      |scored AS (
      |  SELECT src, dst,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos
      |  FROM pairs GROUP BY src, dst),
      |edges AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
      |    FROM scored) WHERE rk <= 5),
      |l0 AS (
      |  SELECT vec_id AS id, CASE WHEN vec_id < 50 THEN label END AS lbl
      |  FROM embeddings),
      |v1 AS (
      |  SELECT e.src, l.lbl AS vlbl, count(*) AS v
      |  FROM edges e JOIN l0 l ON l.id = e.dst AND l.lbl IS NOT NULL
      |  GROUP BY e.src, l.lbl),
      |b1 AS (
      |  SELECT src AS id, vlbl FROM (
      |    SELECT src, vlbl,
      |      row_number() OVER (PARTITION BY src ORDER BY v DESC, vlbl) AS rk
      |    FROM v1) WHERE rk = 1),
      |l1 AS (
      |  SELECT l0.id, coalesce(l0.lbl, b1.vlbl) AS lbl
      |  FROM l0 LEFT JOIN b1 ON b1.id = l0.id),
      |v2 AS (
      |  SELECT e.src, l.lbl AS vlbl, count(*) AS v
      |  FROM edges e JOIN l1 l ON l.id = e.dst AND l.lbl IS NOT NULL
      |  GROUP BY e.src, l.lbl),
      |b2 AS (
      |  SELECT src AS id, vlbl FROM (
      |    SELECT src, vlbl,
      |      row_number() OVER (PARTITION BY src ORDER BY v DESC, vlbl) AS rk
      |    FROM v2) WHERE rk = 1),
      |l2 AS (
      |  SELECT l1.id, coalesce(l1.lbl, b2.vlbl) AS lbl
      |  FROM l1 LEFT JOIN b2 ON b2.id = l1.id)
      |SELECT e.label AS true_lbl,
      |  CAST(sum(CASE WHEN e.vec_id < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds,
      |  CAST(sum(CASE WHEN e.vec_id >= 50 AND l2.lbl IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_predicted,
      |  CAST(sum(CASE WHEN e.vec_id >= 50 AND l2.lbl = e.label THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_correct,
      |  CAST(CASE WHEN sum(CASE WHEN e.vec_id >= 50 AND l2.lbl IS NOT NULL THEN 1 ELSE 0 END) > 0
      |    THEN (sum(CASE WHEN e.vec_id >= 50 AND l2.lbl = e.label THEN 1 ELSE 0 END) * 10000)
      |      // sum(CASE WHEN e.vec_id >= 50 AND l2.lbl IS NOT NULL THEN 1 ELSE 0 END)
      |    ELSE 0 END AS BIGINT) AS accuracy_bp
      |FROM embeddings e JOIN l2 ON l2.id = e.vec_id
      |GROUP BY e.label ORDER BY true_lbl""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_clusters", (s, d) => qDedupClusters(s, d), Some(qDedupClustersOracle)),
    QueryDef("q_dedup_keep_best", qDedupKeepBest, Some(qDedupKeepBestOracle)),
    QueryDef("q_keep_best_audit", qKeepBestAudit, Some(qKeepBestAuditOracle)),
    QueryDef("q_cluster_size_hist", (s, d) => qClusterSizeHist(s, d),
      Some(qClusterSizeHistOracle)),
    QueryDef("q_cross_dedup", qCrossDedup, Some(qCrossDedupOracle)),
    QueryDef("q_stress_chain_clusters", qStressChainClusters,
      Some(qStressChainClustersOracle)),
    QueryDef("q_dup_triangles", qDupTriangles, Some(qDupTrianglesOracle)),
    QueryDef("q_er_clusters", qErClusters, Some(qErClustersOracle)),
    QueryDef("q_er_blocking_audit", qErBlockingAudit, Some(qErBlockingAuditOracle)),
    QueryDef("q_pagerank", (s, d) => qPagerank(s, d), Some(qPagerankOracle)),
    QueryDef("q_label_prop", (s, d) => qLabelProp(s, d), Some(qLabelPropOracle)),
  )
}
