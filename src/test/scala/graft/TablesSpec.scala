package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Testdata drift repair: the driver regenerates the parquet tables each
  * round and the timestamp encoding has already shifted once (r6: 24
  * queries lost to INT64-nanos events.ts). These pin the repair rules.
  */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("normalizeTs repairs an INT64-nanos column, landing on the same type per branch") {
    import spark.implicits._
    // 2024-08-07 10:00:00 UTC in nanoseconds
    val ns = 1723024800L * 1000000000L
    val df = Seq(ns).toDF("ts")
    // castNtz=false (lineitem/orders): nanos land on TIMESTAMP_NTZ — the
    // SAME type the NTZ-vintage files read as natively, so the column
    // type doesn't vary by testdata vintage (round-8 advice fix)
    val out = Tables.normalizeTs(df, "ts", castNtz = false)
    assert(out.schema("ts").dataType == TimestampNTZType)
    val got = out.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .head().getString(0)
    assert(got == "2024-08-07 10:00:00")
    // castNtz=true (events): nanos land on session-TZ TIMESTAMP
    val outTz = Tables.normalizeTs(df, "ts", castNtz = true)
    assert(outTz.schema("ts").dataType == TimestampType)
    assert(outTz.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .head().getString(0) == "2024-08-07 10:00:00")
  }

  test("normalizeTs casts NTZ only when asked (pushdown stays intact otherwise)") {
    val ntz = spark.sql(
      "SELECT CAST('2024-08-07 10:00:00' AS TIMESTAMP_NTZ) AS ts")
    assert(Tables.normalizeTs(ntz, "ts", castNtz = true)
      .schema("ts").dataType == TimestampType)
    assert(Tables.normalizeTs(ntz, "ts", castNtz = false)
      .schema("ts").dataType == TimestampNTZType)
    // already-TIMESTAMP columns pass through untouched
    val tz = spark.sql("SELECT CAST('2024-08-07 10:00:00' AS TIMESTAMP) AS ts")
    assert(Tables.normalizeTs(tz, "ts").schema("ts").dataType == TimestampType)
  }

  test("embedding normalization yields array<float> regardless of source width") {
    val f64 = spark.sql("SELECT CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>) AS embedding")
    val out = Tables.normalizeEmbedding(f64)
    assert(out.schema("embedding").dataType.simpleString == "array<float>")
  }

  test("the factory session raises the ObjectHashAggregate fallback threshold") {
    // The bounded top-k Aggregators plan as ObjectHashAggregateExec, which
    // silently degrades to sort-based aggregation (full sort of every
    // scored pair + per-row buffer serialization) after only 128 distinct
    // keys per task — measured 221x time for 100x pairs on q_pagerank at
    // sf10 before the threshold was raised. Cli.buildSpark sets it on
    // every session it builds, before any table is read.
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "1000000")
  }

  /** A fresh `<dir>/events.parquet` whose `ts` is INT64 TIMESTAMP(NANOS),
    * the encoding earlier testdata shipped; each row is (event_id, ts in
    * nanoseconds, user_id, event_type, value). Returns `dir`.
    */
  private def nanosEvents(rows: (Long, Long, Long, String, Double)*): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = graft.core.TempDirs.create("tables-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id; required binary event_type (STRING); required double value; }
        |""".stripMargin)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"),
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val group = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts, user, tp, v) =>
      w.write(group.newGroup().append("event_id", id).append("ts", ts)
        .append("user_id", user).append("event_type", tp).append("value", v))
    } finally w.close()
    dir
  }

  // 2024-08-07 10:00:00 UTC in nanoseconds
  private val ns0 = 1723024800L * 1000000000L

  test("an INT64 TIMESTAMP(NANOS) table reads through Tables.t and leaves the caller's conf alone") {
    val dir = nanosEvents((1L, ns0 + 123456789L, 7L, "view", 1.0))
    // a fresh caller: no earlier read in this JVM can have set anything on it
    val caller = spark.newSession()
    val before = caller.conf.getAll
    val df = Tables.t(caller, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select("ts").collect().map(_.getTimestamp(0).toInstant).toSeq
    // microsecond precision, as every other timestamp column
    assert(got == Seq(java.time.Instant.ofEpochSecond(1723024800L, 123456000L)))
    assert(caller.conf.getAll == before)
  }

  test("an INT64 TIMESTAMP(NANOS) events table streams as it reads in batch") {
    // user 7's latest version by ts is event 1, not the higher event id
    val dir = nanosEvents((1L, ns0 + 2000000000L, 7L, "view", 1.0),
      (2L, ns0 + 1000000000L, 7L, "buy", 2.0), (3L, ns0, 8L, "view", 3.0))
    val caller = spark.newSession()
    val before = caller.conf.getAll
    val expected = Seq(Row(7L, 2L, "view", 1.0), Row(8L, 1L, "view", 3.0))
    assert(graft.operators.LakeOps.qCdcLatest(caller, dir).collect().toSeq == expected)
    assert(graft.operators.StreamOps.qStreamCdcLatest(caller, dir).collect().toSeq == expected)
    assert(caller.conf.getAll == before)
  }
}
