package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.QueryDef

/** Oracle-gated Structured Streaming: a REAL streaming query (file source
  * → watermarked window aggregate → memory sink) driven end-to-end inside
  * a `queries()` entry, so streaming correctness is hash-checked against
  * the DuckDB batch oracle instead of asserted only in unit specs. The
  * invariant proven: stream(events) == batch(events) == oracle — the
  * exactly-once contract every production streaming ingest is built on.
  *
  * Reference scope: the reference's only streaming surface is
  * `streaming_load` (jobclass/streaming_load.rb) — batch-faithful
  * equivalents live in `streaming/StreamingLoad.scala`; this is the
  * idiomatic Structured Streaming counterpart over the analytics tables.
  */
object StreamOps {

  /** Run `body` with `spark.sql.shuffle.partitions` = 2 (env-overridable),
    * restoring the session value after. A stateful streaming query
    * materializes ONE state-store instance (+ its checkpoint files) PER
    * shuffle partition per stateful operator; at the correctness gate's
    * data volume the batch-sized 32 leaves every store nearly empty while
    * paying 32 stores' worth of checkpoint IO per micro-batch. The round-17
    * width sweep (isolated min-of-4 per query at sf0.1, widths 8/4/2/1)
    * measured 2 as the optimum: state-store-bound queries drop hard
    * (sessions 2.04→1.56, join 3.11→2.71, enriched 1.97→1.82, cdc
    * 1.53→1.42) while 1 serializes the stateful compute (join 4.19) and
    * only the pure window aggregate pays ~0.1 s vs 8. Results are
    * unchanged (the partition count is sealed into each fresh checkpoint,
    * so this never conflicts with a resumed query). A production
    * deployment sizes this to throughput via SPARK_GRAFT_STREAM_PARTITIONS,
    * not to the batch session default. (The same sweep rejected the
    * RocksDB provider for these drain-once queries — per-store instance
    * startup regressed join 3.11→3.75 — and found a RAM-backed
    * SPARK_GRAFT_TMPROOT worth ~0.2 s on sessions only, both left at
    * their defaults.)
    */
  private def withStreamPartitions[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val saved = s.conf.get(key)
    s.conf.set(key, sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "2"))
    try body finally s.conf.set(key, saved)
  }

  /** File-stream source for `<dir>/<name>.parquet` in BOTH testdata
    * layouts: the driver's single-file-per-table layout (stream the
    * parent dir with a name glob — the file source requires a directory)
    * and the GenScale/production layout where the table IS a directory
    * of part files (stream the directory itself — a name glob there
    * would match against the part-file names and silently yield ZERO
    * rows, which is exactly how the sf1 scaling audit caught this).
    */
  private def streamTable(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val rawSchema = s.read.parquet(path).schema
    // Layout probe through Hadoop's FileSystem — NOT java.io.File, which
    // answers false for any non-local scheme (hdfs://, s3x://) and would
    // silently route a directory table into the glob branch → zero rows,
    // the exact failure mode this helper exists to prevent.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val isDir = fs.getFileStatus(hPath).isDirectory
    // Fail LOUDLY if the chosen layout branch would stream nothing. The
    // original layout bug — glob matched nothing against a directory of
    // part files — survived a bench, a verify, and a "0 failed" summary
    // because an empty stream is indistinguishable from a completed one.
    // The row probe reads parquet FOOTERS on the driver (the same
    // metadata the scan planner reads anyway) instead of running a batch
    // isEmpty job: the guard fires per stream-source construction, and a
    // limit-1 Spark job per source was pure scheduling overhead next to
    // a footer's row count — semantics identical (a valid-layout but
    // zero-row table still refuses, StructuredStreamsSpec pins it).
    def footerRows(p: org.apache.hadoop.fs.Path): Long = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, s.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    val hasRows =
      if (isDir) fs.listStatus(hPath).iterator
        .filter(f => f.isFile && {
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
        })
        .exists(f => footerRows(f.getPath) > 0)
      else footerRows(hPath) > 0
    require(hasRows,
      s"streamTable($path): the ${if (isDir) "directory" else "glob"} " +
        "layout branch matches 0 rows — refusing to stream an empty " +
        "table (layout mismatch or bad path?)")
    if (isDir) s.readStream.schema(rawSchema).parquet(path)
    else s.readStream.schema(rawSchema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  /** Streaming twin of [[Relational.qEventsHourly]]: hourly event counts
    * and value sums computed by a watermarked tumbling-window streaming
    * aggregate drained with `Trigger.AvailableNow` (no distinct-count —
    * streaming aggregates cannot hold per-user distinct state unbounded).
    * A fresh checkpoint per call forces a full deterministic reprocess,
    * so the memory-sink table is the complete answer every run.
    *
    * Scale shape: identical to the batch plan — the window aggregate
    * shuffles (hour, event_type) partials with map-side combine; the
    * watermark bounds the state store to open windows. At 100 TB the same
    * query runs incrementally over arriving files instead of draining.
    */
  def qStreamHourly(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    // events.ts normalization matches graft.Tables.t, but through
    // readStream (the batch reader's resolved schema provides the
    // streaming schema)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = streamTable(s, dir, "events")
      .transform(graft.Tables.normalizeEventsTs)
    val agg = graft.streaming.StructuredStreams
      .windowedEventStats(ev, "1 hour", "1 hour")
    val sink = "stream_hourly_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val ckpt = graft.core.TempDirs.create("graft_stream_ckpt").toString
    val q = agg.writeStream
      .format("memory").queryName(sink)
      .outputMode("complete") // re-emit all windows; append would hold
      // open windows back behind the watermark at end-of-input
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
    s.table(sink)
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("event_type"), col("n_events"),
        round(col("value_sum"), 2).as("value_sum"))
      .orderBy("hr", "event_type")
  }

  val qStreamHourlyOracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
      | event_type, count(*) AS n_events, round(sum("value"), 2) AS value_sum
      |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin

  /** Stream-static enrichment under the oracle gate: streaming events
    * join a static user→segment dimension (derived deterministically from
    * the distinct user surface, segment = user_id % 4) before the
    * watermarked hourly window — the streaming star-join shape of
    * [[graft.streaming.StructuredStreams.enrichedSegmentStats]], proven
    * equal to the batch join + aggregate in DuckDB. The join is size
    * -chosen, not hinted (see the helper's doc).
    */
  def qStreamEnriched(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = streamTable(s, dir, "events")
      .transform(graft.Tables.normalizeEventsTs)
    val dim = graft.Tables.t(s, dir, "events")
      .select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("seg"), col("user_id") % 4))
    val agg = graft.streaming.StructuredStreams
      .enrichedSegmentStats(ev, dim, "1 hour", "1 hour")
    val sink = "stream_enriched_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val ckpt = graft.core.TempDirs.create("graft_stream_ckpt").toString
    val q = agg.writeStream
      .format("memory").queryName(sink)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
    s.table(sink)
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("segment"), col("n_events"),
        round(col("value_sum"), 2).as("value_sum"))
      .orderBy("hr", "segment")
  }

  val qStreamEnrichedOracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
      | 'seg' || CAST(user_id % 4 AS VARCHAR) AS segment,
      | count(*) AS n_events, round(sum("value"), 2) AS value_sum
      |FROM events GROUP BY 1, 2 ORDER BY hr, segment""".stripMargin

  /** Streaming twin of [[LakeOps.qCdcLatest]] — the CDC-upsert
    * materialized view: a non-windowed per-key aggregate
    * (`max(struct(ts, …))` + version count) maintained by the streaming
    * engine's state store. Complete mode drains the full view into the
    * memory sink here; at 100 TB the same query runs in update mode
    * against a key-value sink, emitting one upsert per changed key per
    * micro-batch — the latest-version table that downstream consumers
    * read instead of replaying the feed. State is one struct per key
    * (bounded by key cardinality), and the map-side partial max collapses
    * each micro-batch's versions before the shuffle, exactly like the
    * batch plan.
    */
  def qStreamCdcLatest(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = streamTable(s, dir, "events")
      .transform(graft.Tables.normalizeEventsTs)
    val agg = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_versions"),
        max(struct(col("ts"), col("event_id"),
          col("event_type"), col("value"))).as("last"))
    val sink = "stream_cdc_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val ckpt = graft.core.TempDirs.create("graft_stream_ckpt").toString
    val q = agg.writeStream
      .format("memory").queryName(sink)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
    s.table(sink)
      .select(col("user_id"), col("n_versions"),
        col("last.event_type").as("last_type"),
        round(col("last.value"), 4).as("last_value"))
      .orderBy("user_id")
  }

  // same answer as the batch CDC compaction — stream == batch == oracle
  val qStreamCdcLatestOracle: String = LakeOps.qCdcLatestOracle

  /** Stream-stream interval join — the one streaming surface the
    * stream-static ops above cannot express: view events joined to
    * purchase events of the SAME user within a 30-minute attribution
    * window, both sides watermarked, joined on user equality plus an
    * event-time range. This is the canonical "attribution join" every
    * clickstream pipeline runs, and the only join shape where BOTH inputs
    * are unbounded.
    *
    * Scale shape: the join shuffles both streams on `user_id` (the
    * equality key) so matching is per-partition; each side's state store
    * holds only rows younger than its watermark, so state is bounded by
    * `delay × arrival rate`, not by history. The watermark here is 31
    * days because the correctness gate REPLAYS a 30-day history in one
    * drain (backfill semantics: a delay shorter than the replayed span
    * would evict one side mid-replay and silently drop matches); a live
    * deployment sets the business lateness bound (minutes) and state
    * stays tiny. Inner-join results emit as they match — append mode
    * never withholds them behind the watermark.
    *
    * The streaming query materializes matched pairs to a PARQUET files
    * sink (chaining an aggregate after a stream-stream join is
    * restricted in append mode, and the roll-up is not the part under
    * streaming test); the hourly roll-up is a batch aggregate reading
    * that table back. A files sink keeps the unbounded matched-pair set
    * on executors/disk — the driver never holds it — unlike a memory
    * sink, which is only safe for the bounded-aggregate sinks the other
    * streaming queries use. The pairs are projected to the three
    * roll-up columns (v_ts, v_user, p_value) BEFORE the sink so the
    * materialized table is as narrow as the downstream aggregate needs.
    */
  def qStreamJoin(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def side(tp: String, pfx: String) = streamTable(s, dir, "events")
      .transform(graft.Tables.normalizeEventsTs)
      .filter(col("event_type") === tp)
      .select(col("user_id").as(s"${pfx}_user"), col("ts").as(s"${pfx}_ts"),
        col("value").as(s"${pfx}_value"))
      .withWatermark(s"${pfx}_ts", "31 days")
    val joined = side("view", "v").join(side("purchase", "p"),
      expr("v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 30 MINUTES"))
      .select(col("v_ts"), col("v_user"), col("p_value"))
    val sinkDir = graft.core.TempDirs.create("graft_stream_join_sink").toString
    val ckpt = graft.core.TempDirs.create("graft_stream_ckpt").toString
    val q = joined.writeStream
      .format("parquet").option("path", sinkDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
    // explicit schema: a zero-row sink directory (possible on a filtered
    // corpus where no view/purchase pair lands in-window) must read back
    // as an empty frame, not throw "Unable to infer schema"
    s.read.schema(joined.schema).parquet(sinkDir)
      .groupBy(date_format(date_trunc("hour", col("v_ts")), "yyyy-MM-dd HH:mm:ss").as("hr"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("v_user")).as("n_users"),
        round(sum("p_value"), 2).as("value_sum"))
      .orderBy("hr")
  }

  val qStreamJoinOracle: String =
    """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, ts, "value" FROM events WHERE event_type = 'purchase')
      |SELECT strftime(date_trunc('hour', v.ts), '%Y-%m-%d %H:%M:%S') AS hr,
      | count(*) AS n_pairs, count(DISTINCT v.user_id) AS n_users,
      | round(sum(p."value"), 2) AS value_sum
      |FROM v JOIN p ON p.user_id = v.user_id
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
      |GROUP BY 1 ORDER BY hr""".stripMargin

  /** Streaming per-source token-budget admission, oracle-gated — drives
    * [[graft.streaming.StructuredStreams.streamingTokenBudget]] (the
    * tree's one `transformWithState` / arbitrary-state-v2 operator)
    * end-to-end through the correctness gate: documents stream in, each
    * is admitted iff its source's running token spend stays within the
    * budget, and the emitted per-doc decisions are hash-compared against
    * a DuckDB recursive-CTE replay of the same greedy doc_id-ordered
    * fold.
    *
    * Determinism: the file source delivers the single parquet file as
    * one micro-batch, and the processor folds each source's rows in
    * doc_id order within a batch, so the admission sequence is exactly
    * the oracle's walk. Scale shape: state is ONE Long per source in the
    * RocksDB store, shuffled by source key — admission of a firehose
    * costs a narrow (source, doc_id, n_tokens) shuffle, never the text.
    */
  def qStreamTokenBudget(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val budget = 700L
    val docs = streamTable(s, dir, "documents")
      .selectExpr("source", "doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens")
      .as[graft.streaming.StructuredStreams.BudgetDoc]
    // the v2 state API requires the RocksDB provider; scope it to this
    // query so batch queries keep the session default
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dec = graft.streaming.StructuredStreams
        .streamingTokenBudget(docs, budget)
      // files sink, not memory: the emitted set is ONE ROW PER DOCUMENT
      // (every admission decision), i.e. corpus-proportional — a memory
      // sink would spool the whole corpus's decisions into driver heap.
      // The parquet sink keeps them on executors/disk (same pattern as
      // qStreamJoin's matched-pair sink); the driver holds nothing
      // corpus-sized — only the bounded per-source Long state in RocksDB.
      val sinkDir = graft.core.TempDirs.create("graft_stream_budget_sink").toString
      val ckpt = graft.core.TempDirs.create("graft_stream_ckpt").toString
      val q = dec.writeStream
        .format("parquet").option("path", sinkDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      // explicit schema so an empty queue (zero admission decisions)
      // reads back as an empty frame rather than failing schema inference
      s.read.schema(dec.schema).parquet(sinkDir)
        .select(col("source"), col("doc_id"), col("admitted"),
          col("spent_after"))
        .orderBy("source", "doc_id")
    } finally {
      prior match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  val qStreamTokenBudgetOracle: String =
    """WITH RECURSIVE d AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |walk AS (
      |  SELECT source, 0 AS rn, CAST(0 AS BIGINT) AS spent,
      |    CAST(NULL AS BIGINT) AS doc_id, FALSE AS admitted,
      |    CAST(0 AS BIGINT) AS spent_after
      |  FROM (SELECT DISTINCT source FROM d) s0
      |  UNION ALL
      |  SELECT d.source, d.rn,
      |    CASE WHEN w.spent + d.n_tokens <= 700 THEN w.spent + d.n_tokens ELSE w.spent END,
      |    d.doc_id,
      |    w.spent + d.n_tokens <= 700,
      |    CASE WHEN w.spent + d.n_tokens <= 700 THEN w.spent + d.n_tokens ELSE w.spent END
      |  FROM walk w JOIN d ON d.source = w.source AND d.rn = w.rn + 1)
      |SELECT source, doc_id, admitted, spent_after
      |FROM walk WHERE rn > 0 ORDER BY source, doc_id""".stripMargin

  /** Streaming deterministic reservoir — the [[CorpusOps.qReservoirSample]]
    * sampler run AS A STREAMING AGGREGATE: the bounded
    * [[graft.functions.MinKAggregator]] (k smallest md5 priorities per
    * language) is registered as a UDAF over the document stream, so the
    * engine's state store holds exactly one size-k buffer per language
    * and the result is provably independent of arrival order and
    * micro-batch boundaries (min-k is a commutative, idempotent-merge
    * aggregate — the property the batch spec proves by split invariance,
    * proven here by hash-equality with the batch oracle).
    *
    * At 100 TB this is the always-on corpus sampler: a firehose of
    * documents maintains a uniform (or, with [[CorpusOps.qWeightedSample]]
    * priorities, weighted) per-stratum sample in O(k · strata) state,
    * emitted on every micro-batch in update/complete mode.
    */
  def qStreamReservoir(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val docs = streamTable(s, dir, "documents")
      .select(col("lang"), md5(encode(col("text"), "UTF-8")).as("priority"),
        col("doc_id"))
    val mink = udaf(new graft.functions.MinKAggregator(10),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong))
    val agg = docs.groupBy("lang")
      .agg(mink(col("priority"), col("doc_id")).as("keep"))
    val sink = "stream_reservoir_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val ckpt = graft.core.TempDirs.create("graft_stream_ckpt").toString
    val q = agg.writeStream
      .format("memory").queryName(sink)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
    s.table(sink)
      .select(col("lang"), posexplode(col("keep")).as(Seq("pos", "item")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
        col("item._2").as("doc_id"))
      .orderBy("lang", "rk")
  }

  // identical contract to the batch sampler — stream == batch == oracle
  val qStreamReservoirOracle: String = CorpusOps.qReservoirSampleOracle

  /** Oracle-gated CUSTOM-STATE sessionization: the
    * [[graft.streaming.StructuredStreams.sessionize]]
    * `flatMapGroupsWithState` kernel (gap-based sessions, event-time
    * timeouts) drained over the events table and hash-checked against a
    * DuckDB twin. Emission semantics are the streaming contract, priced
    * into the oracle rather than papered over: a session is emitted when
    * it CLOSES — by a later same-user event beyond the gap (in-batch), or
    * by the watermark passing `last + gap` (timeout in the post-drain
    * no-data batch). With a 0s watermark delay that is exactly "sessions
    * with end + gap < max event time"; each user's final session inside
    * the gap of end-of-input stays open in the state store, as it should
    * in a query that never ends. The per-user session-count/duration
    * aggregate runs on the emitted (bounded) session stream.
    *
    * Scale shape: state per user is ONE {start, last, n} triple, dropped
    * at timeout — bounded by active users inside the gap horizon, not by
    * history; this and [[qStreamTokenBudget]] are the two custom-state
    * operators the native `session_window`/window aggregates can't
    * express (arbitrary fold + explicit timeout policy).
    */
  def qStreamSessions(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = streamTable(s, dir, "events")
      .transform(graft.Tables.normalizeEventsTs)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[graft.streaming.StructuredStreams.Event]
    val sessions = graft.streaming.StructuredStreams
      .sessionize(ev, gapMs = 30L * 60 * 1000)
    // files sink, not memory: emitted rows are ONE PER CLOSED SESSION —
    // corpus-proportional over a replayed history — so a memory sink
    // would hold the full session log on the driver. Parquet keeps it on
    // executors/disk (qStreamJoin's pattern); the driver holds only the
    // bounded per-active-user {start, last, n} state inside the store,
    // and the per-user roll-up below is a batch aggregate over the files.
    val sinkDir = graft.core.TempDirs.create("graft_stream_sessions_sink").toString
    val ckpt = graft.core.TempDirs.create("graft_stream_ckpt").toString
    val q = sessions.writeStream
      .format("parquet").option("path", sinkDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
    // explicit schema: with a small input no session may close before the
    // final watermark, leaving a row-less sink — read it back empty
    s.read.schema(sessions.schema).parquet(sinkDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        max("n_events").as("max_session_events"),
        sum(col("end_ms") - col("start_ms")).as("total_dur_ms"))
      .orderBy("user_id")
  }

  /** Sessions via gap-walk (strict `> gap` starts a new session, matching
    * the fold), emitted only when closed before the final watermark.
    */
  val qStreamSessionsOracle: String =
    """WITH g AS (
      |  SELECT user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts,
      |    sum(CASE WHEN prev_ts IS NULL
      |             OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      |        THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts
      |            ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM g),
      |per AS (
      |  SELECT user_id, sess, count(*) AS n,
      |    min(ts) AS t0, max(ts) AS t1
      |  FROM s GROUP BY user_id, sess),
      |closed AS (
      |  SELECT * FROM per
      |  WHERE epoch_ms(t1) + 1800000 < (SELECT epoch_ms(max(ts)) FROM events))
      |SELECT user_id, count(*) AS n_sessions,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  max(n) AS max_session_events,
      |  CAST(sum(epoch_ms(t1) - epoch_ms(t0)) AS BIGINT) AS total_dur_ms
      |FROM closed GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Late-data semantics under the oracle gate: the events table is
    * split into two deterministic micro-batches (even event_ids arrive
    * first, odd second, enforced by file modification times +
    * `maxFilesPerTrigger=1`), so every odd event older than the
    * watermark established by batch 1 is LATE and gets dropped by the
    * windowed aggregate — the exactly-priced cost of bounded state. The
    * DuckDB twin replays the watermark arithmetic: after batch 1 the
    * watermark is max(even ts) - 1h, a batch-2 row is kept iff its
    * 1h-window end is strictly above that, and (append mode) a window is
    * emitted iff its end is at or below the final watermark
    * max(all ts) - 1h. Nothing about lateness is asserted "roughly" —
    * the kept/dropped/emitted sets are hash-checked.
    *
    * Scale shape: the window aggregate is the q_stream_hourly plan; the
    * batch-split prep writes are test harness (production batches arrive
    * as files on their own). State stays watermark-bounded precisely
    * BECAUSE late rows are dropped — this operator is the measurement of
    * that trade.
    */
  def qStreamLateDrop(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val base = graft.core.TempDirs.create("graft_stream_late").toString
    val cols = graft.Tables.t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"))
    // THREE batches, not two: Spark's late-record filter lags the
    // eviction watermark by one batch (SPARK-40925 two-watermark
    // semantics — measured here: with two files the late batch was
    // filtered against the INITIAL 1970 watermark and nothing dropped).
    // The even half arrives as two files, with the max-even-ts row
    // pinned into file 1 so the filter watermark operating on the late
    // file is exactly max(even ts) - 1h and the file-2/file-1 watermark
    // gap is zero (a nonzero gap would re-emit already-closed windows).
    val evens = cols.filter(col("event_id") % 2 === 0)
    val maxEvenTs = evens.agg(max("ts")).head().getTimestamp(0)
    // The three batch files come out of ONE partitioned write (repartition
    // on the batch id clusters each batch into a single task → exactly one
    // part file per b= directory), replacing three sequential coalesce(1)
    // write jobs — the prep is test harness, not the operator under test,
    // so it should cost one pass. The part files are then moved to flat
    // bN.parquet names with staged mtimes (the source-ordering contract).
    val tmp = s"$base/tmp_batches"
    cols.withColumn("b",
        when(col("event_id") % 2 =!= 0, lit(3))
          .when(col("event_id") % 4 === 0 || col("ts") === maxEvenTs, lit(1))
          .otherwise(lit(2)))
      .repartition(col("b"))
      .write.mode("overwrite").partitionBy("b").parquet(tmp)
    (1 to 3).foreach { b =>
      val part = new java.io.File(s"$tmp/b=$b").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(base, s"b$b.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(b * 1000000000L)
    }
    val schema = s.read.parquet(s"$base/b1.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(base)
    val agg = stream.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val sink = "stream_late_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val ckpt = graft.core.TempDirs.create("graft_stream_ckpt").toString
    val q = agg.writeStream
      .format("memory").queryName(sink)
      .outputMode("append") // emission gated on the watermark — the mode
      // in which late-drop semantics are actually observable
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
    s.table(sink)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("event_type"), col("n"))
      .orderBy("hr", "event_type")
  }

  val qStreamLateDropOracle: String =
    """WITH wm1 AS (
      |  SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events WHERE event_id % 2 = 0),
      |wm2 AS (
      |  SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
      |kept AS (
      |  SELECT date_trunc('hour', ts) AS h, event_type FROM events
      |  WHERE event_id % 2 = 0
      |     OR date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT wm FROM wm1)),
      |agg AS (SELECT h, event_type, count(*) AS n FROM kept GROUP BY 1, 2)
      |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hr, event_type, n
      |FROM agg WHERE h + INTERVAL 1 HOUR <= (SELECT wm FROM wm2)
      |ORDER BY hr, event_type""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_stream_hourly", qStreamHourly, Some(qStreamHourlyOracle)),
    QueryDef("q_stream_enriched", qStreamEnriched, Some(qStreamEnrichedOracle)),
    QueryDef("q_stream_cdc_latest", qStreamCdcLatest, Some(qStreamCdcLatestOracle)),
    QueryDef("q_stream_join", qStreamJoin, Some(qStreamJoinOracle)),
    QueryDef("q_stream_token_budget", qStreamTokenBudget,
      Some(qStreamTokenBudgetOracle)),
    QueryDef("q_stream_reservoir", qStreamReservoir, Some(qStreamReservoirOracle)),
    QueryDef("q_stream_sessions", qStreamSessions, Some(qStreamSessionsOracle)),
    QueryDef("q_stream_late_drop", qStreamLateDrop, Some(qStreamLateDropOracle)),
  )
}
