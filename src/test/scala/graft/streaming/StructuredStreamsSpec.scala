package graft.streaming

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Structured Streaming layer: watermark + window aggregation,
  * flatMapGroupsWithState sessionization.
  */
class StructuredStreamsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def tmp(prefix: String): Path = graft.core.TempDirs.create(prefix)

  test("q_stream_hourly: the streaming window agg equals the batch plan") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.operators.StreamOps.qStreamHourly(spark, dir)
      .collect().map(_.mkString("|")).toSeq
    val batch = graft.Tables.t(spark, dir, "events")
      .select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("event_type"), col("value"))
      .groupBy("hr", "event_type")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("value_sum"))
      .orderBy("hr", "event_type")
      .collect().map(_.mkString("|")).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "stream(events) must equal batch(events) row for row")
  }

  test("q_stream_hourly reads the directory-of-part-files layout (sf1 audit regression)") {
    // GenScale (and any production writer) lays a table out as
    // `<dir>/events.parquet/part-*.parquet`. The pre-fix streamTable
    // globbed `events.parquet` against the PART file names and silently
    // streamed zero rows — this run's committed sf1 streaming numbers
    // measured empty streams because of it. This pins the fix: the
    // directory layout must produce the same answer as the driver's
    // single-file layout.
    val srcDir = "/root/testdata/sf0.001"
    val dirLayout = tmp("dirlayout")
    graft.Tables.t(spark, srcDir, "events")
      .write.mode("overwrite").parquet(dirLayout.resolve("events.parquet").toString)
    val fromDir = graft.operators.StreamOps.qStreamHourly(spark, dirLayout.toString)
      .collect().map(_.mkString("|")).toSeq
    val fromFile = graft.operators.StreamOps.qStreamHourly(spark, srcDir)
      .collect().map(_.mkString("|")).toSeq
    assert(fromDir.nonEmpty && fromDir == fromFile,
      "directory layout must stream the same rows as the single-file layout")
  }

  test("streaming an empty table fails loudly instead of returning zero rows") {
    // The zero-row failure mode must never again be silent: if the chosen
    // layout branch matches no rows, streamTable refuses up front.
    val dir = tmp("emptylayout")
    graft.Tables.t(spark, "/root/testdata/sf0.001", "events")
      .filter(lit(false))
      .write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
    val e = intercept[IllegalArgumentException] {
      graft.operators.StreamOps.qStreamHourly(spark, dir.toString)
    }
    assert(e.getMessage.contains("0 rows"), s"unexpected message: ${e.getMessage}")
  }

  test("checkpoint resume is exactly-once: a restarted query reads only new files and still matches batch") {
    // The contract every StreamOps scaladoc claims ("at 100 TB the same
    // query runs incrementally over arriving files") proven across a
    // RESTART: drain file 1 under a checkpoint, stop, add files 2-3,
    // restart from the same checkpoint — the resumed query must read
    // ONLY the new files (source bookkeeping) while the complete-mode
    // answer still equals the batch aggregate over everything (state
    // store recovery).
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.t(spark, dir, "events")
    val srcDir = tmp("ckpt_src")
    val ckpt = tmp("ckpt_state").toString
    def addFile(idx: Int): Long = {
      val part = ev.filter(col("event_id") % 3 === idx)
      val staging = tmp(s"ckpt_stage_$idx")
      part.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val f = staging.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, srcDir.resolve(s"f$idx.parquet"))
      part.count()
    }
    def runDrain() = {
      val s = spark.readStream.schema(ev.schema).parquet(srcDir.toString)
      StructuredStreams.windowedEventStats(s, "1 hour", "1 hour")
        .writeStream.format("memory").queryName("ckpt_resume")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
    }
    val n1 = addFile(0)
    val q1 = runDrain(); q1.awaitTermination()
    assert(q1.recentProgress.map(_.numInputRows).sum == n1)
    val n23 = addFile(1) + addFile(2)
    val q2 = runDrain(); q2.awaitTermination()
    val in2 = q2.recentProgress.map(_.numInputRows).sum
    assert(in2 == n23,
      s"resume must read ONLY the new files: read $in2, expected $n23")
    val got = spark.table("ckpt_resume")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("event_type"), col("n_events"), round(col("value_sum"), 2).as("value_sum"))
      .orderBy("hr", "event_type").collect().map(_.mkString("|")).toSeq
    val want = ev
      .select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("event_type"), col("value"))
      .groupBy("hr", "event_type")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("value_sum"))
      .orderBy("hr", "event_type").collect().map(_.mkString("|")).toSeq
    assert(got.nonEmpty && got == want,
      "recovered stream state must reproduce the batch aggregate exactly")
  }

  test("q_stream_join: the stream-stream interval join equals the batch join") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.operators.StreamOps.qStreamJoin(spark, dir)
      .collect().map(_.mkString("|")).toSeq
    val ev = graft.Tables.t(spark, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    val batch = v.join(p,
        expr("v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 30 MINUTES"))
      .groupBy(date_format(date_trunc("hour", col("v_ts")), "yyyy-MM-dd HH:mm:ss").as("hr"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("v_user")).as("n_users"),
        round(sum("p_value"), 2).as("value_sum"))
      .orderBy("hr")
      .collect().map(_.mkString("|")).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "stream-stream join must equal the batch interval join row for row")
  }

  test("streaming near-dup flags exactly the batch simhash pair set across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)

    // expected: band-collision candidates verified at hamming <= 8,
    // computed with the batch kernel's own column expressions
    val sigs = spark.createDataset(docs.toSeq).toDF("doc_id", "text")
      .select(col("doc_id"), expr("simhash48(text)").as("sig"))
    val bands = sigs.select(col("doc_id"), col("sig"),
        posexplode(array((0 until 3).map(m =>
          shiftright(col("sig"), 16 * m).bitwiseAND(lit(0xffffL))): _*)))
      .toDF("doc_id", "sig", "band_idx", "band_sig")
    val expected = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_sig") === col("b.band_sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("lo"), col("b.doc_id").as("hi"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("ham"))
      .filter(col("ham") <= 8).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty, "fixture must contain near-dups")

    val in = MemoryStream[(Long, String)]
    val q = StructuredStreams.streamingNearDup(in.toDS())
      .writeStream.format("memory").queryName("near_dup_stream")
      .outputMode("append").start()
    val (first, second) = docs.splitAt(docs.length / 2)
    in.addData(first.toSeq)
    q.processAllAvailable()
    in.addData(second.toSeq)
    q.processAllAvailable()
    val flagged = spark.table("near_dup_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(flagged == expected,
      s"streaming pair set diverges: missing ${expected -- flagged}, extra ${flagged -- expected}")
  }

  test("streaming near-dup under a tight bucket cap stays a subset and bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    val q = StructuredStreams.streamingNearDup(in.toDS(), maxPerBucket = 1)
      .writeStream.format("memory").queryName("near_dup_capped")
      .outputMode("append").start()
    in.addData(docs.toSeq)
    q.processAllAvailable()
    val capped = spark.table("near_dup_capped").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    // reference: an uncapped run over the same input (self-contained —
    // no dependence on the other test's memory sink)
    val in2 = MemoryStream[(Long, String)]
    val q2 = StructuredStreams.streamingNearDup(in2.toDS())
      .writeStream.format("memory").queryName("near_dup_uncapped")
      .outputMode("append").start()
    in2.addData(docs.toSeq)
    q2.processAllAvailable()
    val full = spark.table("near_dup_uncapped").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q2.stop()
    // cap=1 keeps only each bucket's first signature: emitted pairs are a
    // strict subset of the uncapped run (state bound traded for recall)
    assert(capped.subsetOf(full), s"capped run emitted pairs outside the full set")
    assert(capped.size < full.size, "cap=1 must lose some recall on this fixture")
    // and every emitted pair still verifies at hamming <= 8
    assert(capped.forall(_._3 <= 8))
  }

  test("windowed aggregation with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val agg = StructuredStreams.windowedEventStats(events, "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    in.addData(
      (Timestamp.valueOf("2024-08-07 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-08-07 10:45:00"), "click", 2.0),
      (Timestamp.valueOf("2024-08-07 11:05:00"), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("win_agg").orderBy("window_start", "event_type").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n_events") == 2)
    assert(rows(0).getAs[Double]("value_sum") == 3.0)
    assert(rows(1).getAs[String]("event_type") == "view")
  }

  test("stream-static enrichment joins the dim per batch and aggregates by segment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val events = in.toDF().toDF("ts", "user_id", "value")
    val dim = Seq((1L, "free"), (2L, "pro"), (3L, "pro"))
      .toDF("user_id", "segment")
    val agg = StructuredStreams.enrichedSegmentStats(events, dim, "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("seg_agg")
      .outputMode("complete").start()
    in.addData(
      (Timestamp.valueOf("2024-08-07 10:05:00"), 1L, 1.0),
      (Timestamp.valueOf("2024-08-07 10:15:00"), 2L, 2.0),
      (Timestamp.valueOf("2024-08-07 10:25:00"), 3L, 3.0),
      (Timestamp.valueOf("2024-08-07 10:35:00"), 4L, 100.0)) // no dim row: dropped
    q.processAllAvailable()
    val rows = spark.table("seg_agg").orderBy("segment").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("segment") == "free")
    assert(rows(0).getAs[Long]("n_events") == 1)
    assert(rows(1).getAs[String]("segment") == "pro")
    assert(rows(1).getAs[Long]("n_events") == 2)
    assert(rows(1).getAs[Double]("value_sum") == 5.0)
  }

  test("streaming dedup within watermark drops cross-batch duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val deduped = StructuredStreams.dedupWithinWatermark(
      in.toDF().toDF("id", "ts"), "id", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    in.addData((1L, Timestamp.valueOf("2024-08-07 10:00:00")),
      (1L, Timestamp.valueOf("2024-08-07 10:00:05")),
      (2L, Timestamp.valueOf("2024-08-07 10:01:00")))
    q.processAllAvailable()
    // duplicate of id 1 in a later batch, still within the watermark
    in.addData((1L, Timestamp.valueOf("2024-08-07 10:02:00")),
      (3L, Timestamp.valueOf("2024-08-07 10:03:00")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("sessionization: gap split within a batch, state carries across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StructuredStreams.Event]
    val sessions = StructuredStreams.sessionize(in.toDS(), gapMs = 60000L)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    // user 1: two bursts 10 minutes apart -> first session closes in-batch
    in.addData(
      StructuredStreams.Event(1L, ts("2024-08-07 10:00:00"), "a"),
      StructuredStreams.Event(1L, ts("2024-08-07 10:00:30"), "a"),
      StructuredStreams.Event(1L, ts("2024-08-07 10:10:00"), "a"))
    q.processAllAvailable()
    val closed1 = spark.table("sessions").filter("closed").collect()
    assert(closed1.length == 1)
    assert(closed1(0).getAs[Long]("n_events") == 2)
    // advance watermark far past the open session's timeout -> it closes
    in.addData(StructuredStreams.Event(2L, ts("2024-08-07 12:00:00"), "b"))
    q.processAllAvailable()
    in.addData(StructuredStreams.Event(2L, ts("2024-08-07 12:30:00"), "b"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("sessions").filter("closed").collect()
    assert(all.exists(r => r.getAs[Long]("user_id") == 1L &&
      r.getAs[Long]("n_events") == 1))
  }

  test("streaming heavy hitters: sketch state accumulates across batches, never undercounts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Int, String)]
    val hh = StructuredStreams.streamingHeavyHitters(in.toDS(), k = 3)
    val q = hh.writeStream.format("memory").queryName("hh")
      .outputMode("update").start()
    // batch 1: 'hot' x4, 'warm' x2, singles
    in.addData(Seq("hot", "hot", "hot", "hot", "warm", "warm", "a", "b")
      .map(0 -> _): _*)
    q.processAllAvailable()
    val b1 = spark.table("hh").collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(b1("hot") >= 4 && b1("hot") > b1("warm"))
    // batch 2: more 'warm' — state must carry batch 1's counts forward
    in.addData(Seq("warm", "warm", "warm").map(0 -> _): _*)
    q.processAllAvailable()
    q.stop()
    val b2 = spark.table("hh").collect()
      .map(r => r.getString(1) -> r.getLong(2)).groupBy(_._1)
      .map { case (g, vs) => g -> vs.map(_._2).max }
    assert(b2("warm") >= 5, "cross-batch accumulation lost")
    assert(b2("hot") >= 4)
  }

  test("transformWithState token budget: admission matches a driver-side fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StructuredStreams.{BudgetDoc, BudgetDecision}
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("source", "doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens")
      .collect().map(r => BudgetDoc(r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.doc_id)
    val budget = docs.map(_.n_tokens).sum / (docs.map(_.source).distinct.length * 2)
    val (first, second) = docs.splitAt(docs.length / 2)

    // expected: greedy doc_id-ordered fold per source, batch1 then batch2
    val expected = Seq(first, second).flatMap { batch =>
      batch.groupBy(_.source).toSeq.flatMap { case (src, ds) =>
        ds.sortBy(_.doc_id).map(d => (src, d))
      }
    }.groupBy(_._1).flatMap { case (src, rows) =>
      var s = 0L
      rows.map(_._2).map { d =>
        val ok = s + d.n_tokens <= budget
        if (ok) s += d.n_tokens
        BudgetDecision(src, d.doc_id, ok, s)
      }
    }.toSet

    // the v2 state API requires the RocksDB provider; scope it to this
    // query so the rest of the suite keeps the default provider
    val in = MemoryStream[BudgetDoc]
    val scoped = GraftBridge.withConf(
      StructuredStreams.streamingTokenBudget(in.toDS(), budget).toDF(),
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = scoped.writeStream.format("memory").queryName("budget_stream")
      .outputMode("append").start()
    in.addData(first.toSeq)
    q.processAllAvailable()
    in.addData(second.toSeq)
    q.processAllAvailable()
    q.stop()
    // the memory sink's view lives in the scoped session
    val got = scoped.sparkSession.table("budget_stream").collect()
      .map(r => StructuredStreams.BudgetDecision(
        r.getString(0), r.getLong(1), r.getBoolean(2), r.getLong(3))).toSet
    assert(got == expected,
      s"admission diverged: missing ${expected -- got}, extra ${got -- expected}")
    assert(got.exists(_.admitted) && got.exists(!_.admitted),
      "budget must exercise both admissions and rejections")
    // per-source spend never exceeds the budget
    got.groupBy(_.source).foreach { case (src, ds) =>
      assert(ds.map(_.spent_after).max <= budget, s"$src overspent")
    }
  }

  test("streaming min-k reservoir is invariant to micro-batch split and order") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.t(spark, dir, "documents")
      .select(col("lang"), md5(encode(col("text"), "UTF-8")).as("priority"),
        col("doc_id"))
    // two shards, REVERSED order: the second half of the corpus arrives
    // in the first micro-batch (file listing order is name order)
    val shardDir = graft.core.TempDirs.create("graft_res_shards")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(shardDir.resolve("a_late_half").toString)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(shardDir.resolve("b_early_half").toString)
    val mink = udaf(new graft.functions.MinKAggregator(7),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong))
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1") // force one shard per micro-batch
      .parquet(shardDir.toString + "/*")
      .groupBy("lang").agg(mink(col("priority"), col("doc_id")).as("keep"))
    val ckpt = graft.core.TempDirs.create("graft_res_ckpt").toString
    val q = streamed.writeStream.format("memory").queryName("res_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).start()
    q.awaitTermination()
    val got = spark.table("res_stream")
      .select(col("lang"), explode(col("keep")).as("item"))
      .select(col("lang"), col("item._2").as("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = graft.functions.MinKAggregator
      .ranked(docs, Seq("lang"), 7, col("priority"), col("doc_id"))
      .select("lang", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == batch,
      "streamed min-k sample diverged from the batch fold under shard reversal")
  }
}
