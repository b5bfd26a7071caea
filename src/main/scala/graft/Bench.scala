package graft
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.runner.Cli
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg: comma-separated query-name filter for local
    // re-measurement of specific queries (the driver passes no args)
    val only = SparkEntry.nameFilter(args.lift(0))
    var spark = Cli.buildSpark("graft-bench")
    // Untimed per-query warmup immediately before each timed slot:
    // whole-stage codegen caches at most 100 generated classes, so with
    // this many queries any earlier warm pass is long evicted by the time
    // a query's slot arrives — running the SAME query at sf0.001 with
    // nothing in between guarantees the timed runs hit the codegen cache
    // instead of paying a fresh Janino compile (~1-7s for the widest
    // plans). A code path that only materializes at sf scale (e.g. an AQE
    // skew-split variant that never triggers on the tiny warm input)
    // still compiles inside the FIRST timed run — but min-of-2 means the
    // second run, which hits the cached classes, is the one reported, so
    // sf-only codegen never lands in the published number.
    // (Until round 9 there was additionally a full untimed pass over
    // every query up front, for deep C2 warmup. The two-sweep structure
    // below makes it redundant — C2 accumulates across the run, and the
    // reversed second sweep gives the queries that ran earliest a fully
    // warm late slot, with the cross-sweep min discarding whichever
    // sample was colder — so it was dropped to keep wall-clock flat.)
    val warmDir = "/root/testdata/sf0.001"
    // Two full sweeps, the second in REVERSE query order, per-query min
    // across both. Why: an A/B of two identical full-suite invocations
    // showed a 7.7% comparable-sum gap with zero code change, spread over
    // dozens of queries (e.g. one run's q_cluster_size_hist held ≥2.5 s
    // across all its samples while the other run's sat at 1.7 s) — a
    // sustained per-JVM/per-position condition that consecutive samples
    // of one query cannot escape, and the same drift that manufactured 4
    // false cross-round weak flags in rounds 7-8. Sampling each query at
    // two distant, order-reversed positions in the run's lifetime gives
    // every query two independent draws of JVM/GC/neighborhood state;
    // the min is the steady-state estimate.
    def sweep(
        ordered: Seq[(String, (SparkSession, String) => DataFrame)],
        prewarm: Boolean): Seq[(String, Double)] = ordered.map { case (name, fn) =>
      if (prewarm) {
        try { fn(spark, warmDir).count() } catch { case _: Throwable => }
      }
      // release synchronously (the prewarm's blocks included): RDD-level
      // debt once inflated q_dedup_keep_best 16.7s in-suite vs 3.4s
      // isolated
      SparkEntry.release(spark)
      // settle the heap before the timed window: 150+ queries of byte[]
      // payloads and cached signature tables leave GC debt that
      // otherwise lands inside whichever sub-second query runs next
      // (observed 5-10x inflation of the multimodal family deep into the
      // suite, at r1 levels when run in isolation)
      System.gc()
      // min of two timed runs: single-shot timing of sub-100ms queries is
      // dominated by scheduler/GC jitter (observed 2-4x swings on an
      // otherwise-identical run), and min is the standard steady-state
      // estimator. The cache is cleared INSIDE each run's setup so the
      // second run re-reads parquet like the first — min-of-2 removes
      // noise, never data work.
      // A run that THROWS must never be published as a time: the
      // time-to-throw of a fast failure (dead context, OOM, bad path)
      // looks like a spectacular speedup — the sf10 audit once recorded
      // a 30-query sweep of ~0.1 s "times" that were all failures.
      // Failed runs return NaN (poisoning min), print a loud marker,
      // and publish as -1 so downstream gates can refuse them.
      def timedRun(): Double = {
        SparkEntry.release(spark)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] BENCHFAIL $name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200))
          // A fatal task error (executor OOM in local mode) stops the
          // SparkContext itself, and every later query then fails
          // instantly with "stopped SparkContext" — the sf10 audit lost
          // 11 queries' worth of valid measurements to one such cascade.
          // Rebuild the session so one query's fatality stays one
          // query's BENCHFAIL.
          if (spark.sparkContext.isStopped) {
            System.err.println(s"[bench] SparkContext died during $name — rebuilding session")
            spark = Cli.buildSpark("graft-bench")
          }
          Double.NaN
        }
      }
      val samples = (1 to 2).map(_ => timedRun())
      val ok = samples.filterNot(_.isNaN)
      val sec = if (ok.isEmpty) -1.0 else ok.min
      // outside the timed window: queries whose plans read persisted
      // signature/hash tables (the reusable-index idiom) hand cache
      // lifetime to the caller — release between queries so one query's
      // working set can't poison the next one's measurement
      SparkEntry.release(spark)
      name -> sec
    }
    // BENCH-ONLY timing surfaces (not in SparkEntry.queries, so no
    // correctness row): plans whose production entry point differs from
    // the registered, oracle-gated wrapper. q_dq_profile_approx_raw is
    // the one-pass HLL profile — its registered wrapper joins an exact
    // twin to self-gate the estimate (harness cost, round 15), which
    // means the wrapper's timing no longer measures the sketch path;
    // this entry does, end to end at every benched SF (round-16 ADVICE).
    val benchOnly: Seq[(String, (SparkSession, String) => DataFrame)] =
      Seq("q_dq_profile_approx_raw" ->
        ((s: SparkSession, d: String) =>
          graft.operators.DqOps.qDqProfileApproxRaw(s, d)))
    val ordered = (SparkEntry.queries.toSeq ++ benchOnly)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1)
    val first = sweep(ordered, prewarm = true)
    // The second sweep covers only queries at/above 0.4 s — in the A/B
    // those carried 6.4 s of the 7.4 s gap while the ~130 sub-0.4 s
    // queries carried ~1 s between them — and skips the sf0.001 pre-warm:
    // with min-of-2, the first timed sample absorbs any codegen
    // recompile and the min discards it (the same argument the sweep-1
    // comment makes for sf-only codegen paths). Net cost ≈ +3 min on a
    // ~9 min run.
    // ...plus any query whose sweep-1 runs ALL failed (-1): the second
    // sweep is its retry slot — a transient fatality (e.g. a task OOM
    // that killed the context mid-sweep) shouldn't void the query for
    // the whole run.
    val second =
      if (ordered.size == 1) Map.empty[String, Double]
      else sweep(
        ordered.reverse.filter { case (n, _) =>
          first.exists { case (fn2, s) => fn2 == n && (s >= 0.4 || s < 0) } },
        prewarm = false).toMap
    // Combine sweeps over VALID samples only: -1 is the failed-run
    // marker, and min() would let a sweep-2 failure clobber a perfectly
    // good sweep-1 time (the first sf10 audit published -1 for 11
    // queries that had already measured fine in sweep 1). A query is -1
    // only when every sample of every sweep failed.
    val results = first.map { case (n, s) =>
      val valid = Seq(Some(s), second.get(n)).flatten.filter(_ >= 0)
      n -> (if (valid.isEmpty) -1.0 else valid.min)
    }
    // Tear down EVERYTHING noisy before printing: stateful streaming
    // queries leave StateStore maintenance threads whose shutdown stack
    // traces (RpcEnvStoppedException) have previously landed AFTER the
    // totals and pushed them out of the driver's bounded tail capture.
    // Order: stop streams → stop the state store → silence logging →
    // stop the session → only THEN print, so the JSON lines are the
    // last bytes the process writes.
    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case _: Throwable => }
    // 3 decimals: bench noise is >>1ms and the shorter map keeps more
    // per-query entries inside the driver's bounded tail capture
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // total over valid times only: -1 failure markers must not subtract
    // from the headline number (failures are already loud via BENCHFAIL
    // lines and the -1 entries in the map)
    val total = f"${results.map(_._2).filter(_ >= 0).sum}%.3f"
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // Durable copy of the COMPLETE per-query map: the driver snapshots
    // only the last ~2000 chars of stdout, which loses most of the
    // 188-entry map and has repeatedly limited cross-round regression
    // triage to the slowest ~30 queries. Written to the repo so a later
    // commit (ours or the driver's end-of-round auto-commit) makes the
    // full map part of the round's record. Partial-run (filtered)
    // invocations go to a side file so they never clobber the
    // full-suite record.
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL",
      if (only.isEmpty) "/root/repo/bench_detail.json"
      else "/root/repo/bench_detail_partial.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(detailPath),
        (fullLine + "\n").getBytes("UTF-8"))
      // bench_detail.json is overwritten every run, which lost round 7's
      // full 188-query map forever and limited cross-round triage to the
      // ~58 queries in the driver's tail captures. ALSO write a
      // round-stamped copy (round = max BENCH_r{N}.json present + 1,
      // which is the round whose artifacts the driver will write at
      // round end) so consecutive rounds' full maps coexist in git.
      // ...but only for the canonical sf0.1 driver run: an explicit
      // SPARK_GRAFT_BENCH_DETAIL override (the sf1 audit, ad-hoc SF
      // sweeps) is a side measurement and must not clobber the round's
      // sf0.1 record.
      if (only.isEmpty && !sys.env.contains("SPARK_GRAFT_BENCH_DETAIL")) {
        val repo = java.nio.file.Paths.get("/root/repo")
        val rounds = java.nio.file.Files.list(repo).iterator().asScala
          .flatMap { p =>
            "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(p.getFileName.toString)
              .map(_.group(1).toInt)
          }.toSeq
        val round = (if (rounds.isEmpty) 1 else rounds.max + 1)
        java.nio.file.Files.write(
          repo.resolve(f"bench_detail_r$round%02d.json"),
          (fullLine + "\n").getBytes("UTF-8"))
      }
    } catch { case _: Throwable => } // bench must still print even if the repo path is unwritable
    // canonical full line first (complete in local captures)...
    println(fullLine)
    // ...and a compact summary LAST: the driver snapshots only the tail
    // of the run output, so with this many queries the full line loses
    // its head to truncation — the line the gates need most must be the
    // final thing printed (tools/compare_bench.py falls back to it).
    // It carries the slowest queries (the regression-gating signal) up
    // to a byte budget that keeps the whole line inside the driver's
    // 2000-char tail capture.
    val slow = new StringBuilder
    results.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .foreach { e =>
        if (slow.length + e.length < 1500) {
          if (slow.nonEmpty) slow.append(',')
          slow.append(e)
        }
      }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":{${slow.result()}},"sf":"$sfDir"}""")
    System.out.flush()
  }
}
