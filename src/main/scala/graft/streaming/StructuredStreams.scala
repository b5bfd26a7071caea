package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The streaming operators a training-data pipeline needs: watermarked
  * windowed aggregation and custom sessionization state. The exactly-once
  * file load is the `streaming: true` mode of [[StreamingLoadJobClass]]
  * (SURVEY §2.11 option (b)).
  *
  * Scale notes: state stores (windows, sessions) are partitioned by
  * grouping key across executors and spill via RocksDB if configured;
  * watermarks bound state growth.
  */
object StructuredStreams {

  /** Watermarked tumbling-window aggregation over an event stream:
    * count + sum(value) per (window, event_type). Late data beyond the
    * watermark is dropped; closed windows leave the state store.
    */
  def windowedEventStats(events: DataFrame, watermark: String,
      windowLength: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum("value").as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  /** Stream-static enrichment: streaming events join a STATIC dimension
    * frame (user → segment) before a watermarked windowed aggregate. The
    * static side is re-resolved every micro-batch, so a slowly-changing
    * dimension picks up updates without restarting the query. The join is
    * deliberately UNHINTED: Spark broadcasts the static side while it
    * measures under the threshold (no stream shuffle for the join, only
    * for the windowed agg) and falls back to a stream-side-keyed join
    * when a user dimension has grown data-scale — a `broadcast()` hint
    * would be mandatory and OOM instead of degrading. The streaming
    * counterpart of the batch star-join (q5) shape.
    */
  def enrichedSegmentStats(events: DataFrame, dim: DataFrame,
      watermark: String, windowLength: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(dim, Seq("user_id"))
      .groupBy(window(col("ts"), windowLength), col("segment"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("value_sum"))
      .select(col("window.start").as("window_start"), col("segment"),
        col("n_events"), col("value_sum"))

  /** Streaming deduplication bounded by the watermark: state for an id is
    * held only while late duplicates can still arrive, so the state store
    * cannot grow without bound (the streaming counterpart of the batch
    * exact-dedup operators).
    */
  def dedupWithinWatermark(events: DataFrame, idCol: String,
      watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, closed: Boolean)

  /** Custom per-key state: gap-based sessionization via
    * flatMapGroupsWithState. A session closes when no event arrives
    * within `gapMs` (event-time timeout keyed by watermark); closed
    * sessions are emitted, open ones stay in the state store.
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.start, s.last, s.n, closed = true))
          } else {
            val ts = rows.map(_.ts.getTime).toSeq.sorted
            // fold new events into (possibly multiple) sessions
            var out = List.empty[Session]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1))
                case Some(s) =>
                  out ::= Session(userId, s.start, s.last, s.n, closed = true)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            out.reverseIterator
          }
      }
  }

  /** Per-shard count-min state for [[streamingHeavyHitters]]: a flattened
    * depth×width sketch, a bounded candidate map, and the processed-token
    * count. The state is FIXED-SIZE regardless of how long the stream
    * runs — the property that makes frequency tracking viable in a
    * never-ending ingest pipeline (exact per-token counts would grow the
    * state store with the vocabulary).
    */
  case class HhState(sketch: Array[Long], cand: Map[String, Long], n: Long)
  case class HhEstimate(shard: Int, gram: String, est: Long)

  /** Streaming heavy hitters — the stateful counterpart of
    * `operators.SketchOps.qCmsHeavyHitters`: each shard's token stream
    * folds into a count-min sketch held in the state store via
    * `flatMapGroupsWithState`, and every micro-batch re-emits the shard's
    * current top-k estimates (Update mode). CMS guarantees carry over:
    * estimates never undercount; the candidate set is bounded at 2k so a
    * hot token can displace a cold one but state never grows past
    * depth×width + 2k entries per shard.
    */
  def streamingHeavyHitters(tokens: Dataset[(Int, String)], k: Int = 5,
      depth: Int = 4, width: Int = 256): Dataset[HhEstimate] = {
    import tokens.sparkSession.implicits._
    // self-contained closure: everything the state function touches is a
    // local (referencing object members would drag the whole module into
    // the serialized task)
    val p = 2147483647L
    val cell: (String, Int) => Int = (g, d) => {
      var h = g.length.toLong
      var i = 0
      while (i < g.length) { h = (h * 131 + g.charAt(i)) % p; i += 1 }
      ((((1103L * (d + 41) + 7) * h + 12289L * (d + 41) + 3) % p) % width).toInt
    }
    tokens.groupByKey(_._1)
      .flatMapGroupsWithState[HhState, HhEstimate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[(Int, String)], state: GroupState[HhState]) =>
          val st = state.getOption
            .getOrElse(HhState(new Array[Long](depth * width), Map.empty, 0L))
          val sketch = st.sketch.clone()
          var n = st.n
          val batch = rows.map(_._2).toSeq
          batch.foreach { g =>
            var d = 0
            while (d < depth) { sketch(d * width + cell(g, d)) += 1; d += 1 }
            n += 1
          }
          def est(g: String): Long =
            (0 until depth).map(d => sketch(d * width + cell(g, d))).min
          val cand = (st.cand.keySet ++ batch).toSeq
            .map(g => g -> est(g))
            .sortBy { case (g, e) => (-e, g) }
            .take(2 * k)
          state.update(HhState(sketch, cand.toMap, n))
          cand.take(k).map { case (g, e) => HhEstimate(shard, g, e) }.iterator
      }
  }

  /** Streaming near-duplicate detection — the online form of
    * [[graft.operators.Dedup.qSimhashNearDup]], the shape an ingest
    * pipeline runs so a dup is flagged the moment the second copy
    * ARRIVES rather than in a nightly batch sweep: each incoming doc's
    * 48-bit simhash is split into its three 16-bit LSH bands, and a
    * `flatMapGroupsWithState` keyed on (band_idx, band_sig) keeps the
    * signatures previously seen in that bucket. An arrival is compared
    * against its bucket's state only (pigeonhole: any pair within
    * Hamming 2 shares a band; near-dups sit far below the ≤ 8 verify),
    * and verified pairs are emitted as (doc_lo, doc_hi, hamming) —
    * possibly once per shared band, so the exactly-once pair view is a
    * downstream `dropDuplicates`, the same contract as the batch
    * kernel's candidate `distinct()`.
    *
    * Scale shape: state is partitioned across executors by bucket key
    * and BOUNDED per bucket at `maxPerBucket` signatures (8 bytes
    * each) — the Manku-style hub cap: a pathological boilerplate
    * bucket stops absorbing new signatures instead of growing without
    * bound, trading recall on 65th+ copies (which the kept members
    * already flagged) for hard state bounds. Only (id, sig) pairs ever
    * enter state or the shuffle — never document text.
    */
  def streamingNearDup(docs: Dataset[(Long, String)],
      maxPerBucket: Int = 64): Dataset[(Long, Long, Long)] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.toDF("doc_id", "text")
      .select(col("doc_id"), expr("simhash48(text)").as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until 3).map(m =>
          shiftright(col("sig"), 16 * m).bitwiseAND(lit(0xffffL))): _*)))
      .toDF("doc_id", "sig", "band_idx", "band_sig")
      .as[(Long, Long, Int, Long)]
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState[List[(Long, Long)], (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state: GroupState[List[(Long, Long)]]) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = List.newBuilder[(Long, Long, Long)]
          // id-sorted fold: within-batch pairs are found too, and the
          // emitted (lo, hi) orientation matches the batch kernel's
          rows.toSeq.sortBy(_._1).foreach { case (id, sig, _, _) =>
            if (!seen.exists(_._1 == id)) {
              seen.foreach { case (oid, osig) =>
                val ham = java.lang.Long.bitCount(sig ^ osig).toLong
                if (ham <= 8)
                  out += ((math.min(oid, id), math.max(oid, id), ham))
              }
              if (seen.size < maxPerBucket) seen = (id, sig) :: seen
            }
          }
          state.update(seen)
          out.result().iterator
      }
  }

  final case class BudgetDoc(source: String, doc_id: Long, n_tokens: Long)
  final case class BudgetDecision(source: String, doc_id: Long,
      admitted: Boolean, spent_after: Long)

  /** [[StatefulProcessor]] for [[streamingTokenBudget]]: one Long of
    * state per source — the tokens admitted so far. The arbitrary-state
    * v2 API (transformWithState, Spark 4) replaces the
    * GroupState wrappers with named, individually-evolvable state
    * variables served by the RocksDB state store, which is what makes
    * billion-key state practical: state lives off-heap/on-disk per
    * executor and only the touched keys are read per batch.
    */
  class TokenBudgetProcessor(budget: Long)
      extends StatefulProcessor[String, BudgetDoc, BudgetDecision] {
    @transient private var spent: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      spent = getHandle.getValueState[Long]("spent", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[BudgetDoc],
        timerValues: TimerValues): Iterator[BudgetDecision] = {
      var s = if (spent.exists()) spent.get() else 0L
      // doc_id-sorted fold WITHIN the batch: admission is deterministic
      // given the batch split, mirroring the batch operator's greedy
      // doc_id order (CorpusOps.qTokenBudget)
      val out = rows.toSeq.sortBy(_.doc_id).map { d =>
        val ok = s + d.n_tokens <= budget
        if (ok) s += d.n_tokens
        BudgetDecision(key, d.doc_id, ok, s)
      }
      spent.update(s)
      out.iterator
    }
  }

  /** Streaming per-source token-budget admission — the online form of
    * the batch token-budget selection ([[graft.operators.CorpusOps]]
    * `qTokenBudget`), the shape an ingest pipeline runs so a source's
    * quota closes the moment it fills rather than in a nightly batch
    * re-rank: every arriving doc is admitted iff its source's running
    * token spend stays within `budget`, and each decision is emitted
    * with the post-decision spend.
    *
    * Built on `transformWithState` (the Spark 4 arbitrary-state v2
    * API; requires the RocksDB state store provider): state is ONE
    * Long per source, partitioned across executors by source key —
    * admission of a 100 TB/day firehose costs a narrow shuffle on
    * source plus an O(1) state read/write per batch per source.
    */
  def streamingTokenBudget(docs: Dataset[BudgetDoc],
      budget: Long): Dataset[BudgetDecision] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new TokenBudgetProcessor(budget),
        TimeMode.None(), OutputMode.Append())
  }
}
