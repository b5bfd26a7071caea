package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Tables.t
import graft.core.{SqlStatement, Variables}

/** Data-movement kernels of the framework, expressed as oracle-checkable
  * queries: the exact relational cores of insert-delta (delete-where),
  * streaming_load (load-log anti-join dedup), and load/unload (CSV
  * round-trip fidelity). These give the job-class layer hash-verified
  * correctness beyond its unit tests.
  */
object DataMovement {

  /** insert-delta kernel (reference: jobclass/insert-delta.rb +
    * sqlstatement.rb:7-9): `DELETE WHERE cond` then INSERT of recomputed
    * rows — on Parquet, anti-filter ∪ replacement. Here: orders on
    * 2000-01-01+ get their totalprice rebuilt from lineitem, others kept.
    */
  def qInsertDelta(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2000-01-01").cast("timestamp")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    // no intermediate rounding: round(x, 2) halfway cases resolve
    // differently across engines; quantize once via the final decimal sum
    val kept = o.filter(!(col("o_orderdate") >= cutoff))
      .select(col("o_orderkey"), col("o_totalprice").as("price"))
    val recomputed = o.filter(col("o_orderdate") >= cutoff)
      .join(l, o("o_orderkey") === l("l_orderkey"), "left")
      .groupBy(o("o_orderkey").as("o_orderkey"))
      .agg(coalesce(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), lit(0.0)).as("price"))
    kept.union(recomputed)
      .groupBy()
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("price").cast("decimal(30,6)")).cast("double"), 2).as("total"))
  }

  val qInsertDeltaOracle: String =
    """WITH kept AS (
      |  SELECT o_orderkey, o_totalprice AS price FROM orders
      |  WHERE NOT (o_orderdate >= TIMESTAMP '2000-01-01')),
      |recomputed AS (
      |  SELECT o.o_orderkey, coalesce(sum(l_extendedprice * (1 - l_discount)), 0) AS price
      |  FROM orders o LEFT JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      |  GROUP BY o.o_orderkey)
      |SELECT count(*) AS n_rows, round(CAST(sum(CAST(price AS DECIMAL(30,6))) AS DOUBLE), 2) AS total
      |FROM (SELECT * FROM kept UNION ALL SELECT * FROM recomputed) u""".stripMargin

  /** streaming_load dedup kernel (reference: streaming_load.rb:294-330):
    * queue candidates vs load log → loaded/not-loaded partition with the
    * right-outer join + NOT-IN guard. Simulated deterministically over
    * events: "files" are event ids, the "log" holds multiples of 3 < 600.
    */
  def qStreamingDedup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val candidates = e.select(concat(lit("file_"), col("event_id")).as("data_file"),
      col("event_id"))
    val log = e.filter(col("event_id") % 3 === 0 && col("event_id") < 600)
      .select(concat(lit("file_"), col("event_id")).as("data_file"))
    // the reference's right-outer classification (:294-312)
    val classified = log.withColumn("loaded", lit(true))
      .join(candidates, Seq("data_file"), "right_outer")
      .select(col("data_file"), coalesce(col("loaded"), lit(false)).as("loaded"))
    classified.groupBy("loaded")
      .agg(count(lit(1)).as("n_files"))
      .orderBy("loaded")
  }

  val qStreamingDedupOracle: String =
    """WITH candidates AS (
      |  SELECT 'file_' || event_id AS data_file, event_id FROM events),
      |log AS (
      |  SELECT 'file_' || event_id AS data_file FROM events
      |  WHERE event_id % 3 = 0 AND event_id < 600)
      |SELECT (l.data_file IS NOT NULL) AS loaded, count(*) AS n_files
      |FROM candidates c LEFT JOIN log l ON c.data_file = l.data_file
      |GROUP BY 1 ORDER BY loaded""".stripMargin

  /** load/unload round-trip fidelity (reference: COPY/UNLOAD,
    * psqldatasource.rb:392-473): write a projection of lineitem as CSV
    * (unload), read it back with an explicit schema (load), and aggregate —
    * must equal the same aggregate computed directly from the source.
    */
  def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // key the scratch dir by scale dir: concurrent/interleaved runs at
    // different SFs (bench warmup at sf0.001, timed pass at sf0.1) must
    // not share a path
    val out = graft.core.TempDirs.keyed("graft_csv_roundtrip", dir).toString
    val src = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round(col("l_quantity"), 2).as("qty"))
    src.write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(out)
    val back = s.read
      .schema("l_orderkey BIGINT, l_linenumber INT, l_returnflag STRING, qty DOUBLE")
      .option("header", "true").csv(out)
    back.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum("l_orderkey").as("key_sum"),
        round(sum("qty"), 2).as("qty_sum"))
      .orderBy("l_returnflag")
  }

  val qCsvRoundtripOracle: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      | CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
      | round(sum(round(l_quantity, 2)), 2) AS qty_sum
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ORC round-trip — the columnar-format sibling of [[qCsvRoundtrip]]
    * (reference UNLOAD/COPY supported format variants the same way:
    * psqldatasource.rb:392-473): orders unloaded to ORC, read back
    * through a pushed-down predicate, aggregated — must equal the same
    * filtered aggregate over the source. ORC carries its own schema and
    * min/max stripe stats, so unlike the CSV leg the readback needs no
    * declared schema and the `o_totalprice` filter prunes stripes at the
    * scan (`PushedFilters` in the ORC scan node) — the second columnar
    * format a lake realistically has to ingest from.
    */
  def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.TempDirs.keyed("graft_orc_roundtrip", dir).toString
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.mode(SaveMode.Overwrite).orc(out)
    s.read.orc(out)
      .filter(col("o_totalprice") > 100000.0)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").as("key_sum"),
        round(sum("o_totalprice"), 2).as("price_sum"))
      .orderBy("o_orderpriority")
  }

  val qOrcRoundtripOracle: String =
    """SELECT o_orderpriority, count(*) AS n_rows,
      | CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      | round(sum(o_totalprice), 2) AS price_sum
      |FROM orders WHERE o_totalprice > 100000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Multi-statement SQL script execution (reference: psql ran whole files;
    * we split on top-level `;` — sqlstatement.rb:69, SURVEY §7.4#4): a
    * 3-statement script with a quoted semicolon, run through the real
    * SqlStatement bind+split path against temp views.
    */
  def qMultiStatement(s: SparkSession, dir: String): DataFrame = {
    val script = new SqlStatement(
      """--dest-table: $dest
        |CREATE OR REPLACE TEMP VIEW $dest AS
        |  SELECT o_orderpriority, count(*) AS cnt FROM orders
        |  WHERE o_orderpriority <> 'X;Y' GROUP BY o_orderpriority;
        |SELECT o_orderpriority, cnt FROM $dest ORDER BY o_orderpriority""".stripMargin)
      .bind(Variables("dest" -> "prio_summary"))
    Tables.sql(s, dir, script.statements: _*)
  }

  val qMultiStatementOracle: String =
    """SELECT o_orderpriority, count(*) AS cnt FROM orders
      |WHERE o_orderpriority <> 'X;Y'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** COPY `maxerror` enforcement (reference: psqldatasource.rb:476-601 — the
    * load tolerates up to N bad rows, records them, and the good rows land):
    * write lineitem as CSV with every `l_orderkey % 97 == 0` row corrupted,
    * load through the real LoadOptions path under a generous maxerror, and
    * aggregate the survivors. The oracle computes the same aggregate from the
    * clean source with the bad keys filtered out — survivors must be exactly
    * the parseable rows. (The over-threshold JobFailure path is unit-tested
    * in LoadOptionsSpec.)
    */
  def qLoadMaxerror(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.TempDirs.keyed("graft_load_maxerror", dir).toString
    val src = t(s, dir, "lineitem")
      .select(col("l_orderkey"), round(col("l_quantity"), 2).as("qty"))
    src.select(concat_ws(",", col("l_orderkey"),
        when(col("l_orderkey") % 97 === 0, lit("not-a-number"))
          .otherwise(col("qty").cast("string"))).as("value"))
      .write.mode(SaveMode.Overwrite).text(out)
    graft.jobclass.LoadOptions.withRead(s, Seq(out), "csv",
      Map("maxerror" -> "1000000"),
      org.apache.spark.sql.types.StructType.fromDDL("l_orderkey BIGINT, qty DOUBLE")) {
      loaded =>
        val agg = loaded.groupBy()
          .agg(count(lit(1)).as("n_rows"),
            sum("l_orderkey").as("key_sum"),
            round(sum("qty"), 2).as("qty_sum"))
        // materialize the 1-row aggregate before withRead drops the
        // full-parse cache the corrupt-row filter depends on
        s.createDataFrame(java.util.Arrays.asList(agg.collect(): _*), agg.schema)
    }
  }

  val qLoadMaxerrorOracle: String =
    """SELECT count(*) AS n_rows,
      | CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
      | round(sum(round(l_quantity, 2)), 2) AS qty_sum
      |FROM lineitem WHERE l_orderkey % 97 <> 0""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_insert_delta", qInsertDelta, Some(qInsertDeltaOracle)),
    QueryDef("q_streaming_dedup", qStreamingDedup, Some(qStreamingDedupOracle)),
    QueryDef("q_csv_roundtrip", qCsvRoundtrip, Some(qCsvRoundtripOracle)),
    QueryDef("q_orc_roundtrip", qOrcRoundtrip, Some(qOrcRoundtripOracle)),
    QueryDef("q_multi_statement", qMultiStatement, Some(qMultiStatementOracle)),
    QueryDef("q_load_maxerror", qLoadMaxerror, Some(qLoadMaxerrorOracle)),
  )
}
