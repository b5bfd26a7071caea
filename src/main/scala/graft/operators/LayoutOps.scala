package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.t

/** Physical-layout operators — the two data-organization techniques that
  * decide whether a 100 TB join/scan is cheap or catastrophic:
  *
  *  - BUCKETING: pre-hash-partitioning fact tables on their join key at
  *    write time so the join needs NO exchange at read time (the shuffle
  *    is paid once, at load, and amortized over every downstream query);
  *  - PARTITION PRUNING: directory-partitioning on a predicate column so
  *    a filtered scan touches only matching partitions (PartitionFilters
  *    in the scan, not a post-scan filter over everything).
  *
  * Both are side-effecting queries in the q_csv_roundtrip mold: they
  * write a scratch warehouse layout keyed by scale dir, read it back the
  * way a downstream consumer would, and oracle-check the result against
  * plain SQL over the logical input — proving layout changes semantics
  * not at all while the plan (PLANS.md / LayoutOpsSpec) proves the
  * exchange/scan savings.
  */
object LayoutOps {

  private def tag(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  private def scratch(prefix: String, dir: String): String =
    graft.core.TempDirs.keyed(prefix, dir).toString

  /** Co-located join over bucketed tables: lineitem and orders are written
    * bucketed (8 buckets) + sorted on the join key, then joined. The merge
    * hint pins sort-merge (at test SF the orders side would otherwise
    * broadcast, hiding the point); bucketing makes BOTH exchanges vanish —
    * the plan has no `Exchange hashpartitioning(l_orderkey/o_orderkey)`,
    * which at 100 TB is the difference between re-shuffling the fact table
    * per query and never shuffling it at all. Only the final (5-group)
    * aggregate exchanges.
    */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val liT = s"li_bkt_${tag(dir)}"
    val ordT = s"ord_bkt_${tag(dir)}"
    val base = scratch("graft_bucketed", dir)
    s.sql(s"DROP TABLE IF EXISTS $liT")
    s.sql(s"DROP TABLE IF EXISTS $ordT")
    // repartition onto the bucket key first: without it every write task
    // emits a file per bucket (tasks x buckets small files); with it each
    // bucket is one task -> one file, and the sortBy metadata lets the
    // join skip its Sort as well
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .repartition(8, col("l_orderkey"))
      .write.mode(SaveMode.Overwrite)
      .option("path", s"$base/lineitem")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(liT)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(8, col("o_orderkey"))
      .write.mode(SaveMode.Overwrite)
      .option("path", s"$base/orders")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(ordT)
    s.table(liT).hint("merge")
      .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        // decimal accumulation: double sums drift past the 2dp boundary
        // at sf1 row counts (see q5_region_revenue)
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(30,6)")), 2).cast("double")
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  val qBucketedJoinOracle: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      | CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Partition-pruned scan: events are re-laid-out `partitionBy(day)`
    * (30 directory partitions), then a one-day query reads back through
    * the partition column. The day literal is resolved from a bounded
    * scalar pre-query (min day — one value, never data-scale), so the
    * filter is static at plan time and the scan shows
    * `PartitionFilters: [day = …], PartitionCount: 1` — reading 1/30th of
    * the data, which at 100 TB is the entire point of date-partitioned
    * ingest layouts.
    */
  def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val base = scratch("graft_day_part", dir)
    val ev = t(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    // cluster rows by partition value before the write: one task per day
    // -> one file per partition directory instead of tasks x days
    ev.repartition(col("day"))
      .write.mode(SaveMode.Overwrite).partitionBy("day")
      .parquet(base)
    val day0 = ev.agg(min("day")).head().getString(0)
    s.read.parquet(base)
      .filter(col("day") === day0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
      .orderBy("event_type")
  }

  val qPartitionPruneOracle: String =
    """SELECT event_type, count(*) AS n_events,
      | round(sum("value"), 2) AS value_sum
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') =
      |  (SELECT min(strftime(ts, '%Y-%m-%d')) FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** ceil(totalBytes / targetBytes), floored at one file. */
  private[operators] def compactionFileCount(totalBytes: Long, targetBytes: Long): Int =
    math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt

  /** Bytes of data files under a directory — a driver-side metadata
    * listing of ONE layout directory (the maintenance op already owns it),
    * never a data scan.
    */
  private[operators] def dataBytes(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(p).iterator
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(_.getLen).sum
  }

  /** Small-file compaction — the maintenance op every long-lived lake
    * needs: a fragmented ingest layout (64 shards of a 500-row table,
    * the "one file per micro-batch" failure mode) is rewritten to
    * right-sized files. The target count is DERIVED FROM BYTES —
    * ceil(input bytes / 128 MB), exactly what the op does at 100 TB —
    * not a constant; plus the identity proof: the readback aggregate
    * (count, id-sum, char-sum per source) hash-matches plain SQL over
    * the logical table, so compaction changed bytes-on-disk and nothing
    * else.
    *
    * `repartition(n)` (round-robin), not `coalesce(n)`: the scan layer
    * bin-packs small files into splits of `maxPartitionBytes`, so coalesce
    * would inherit the READER's packing and silently ignore the derived
    * count; round-robin guarantees exactly n balanced output files. The
    * extra exchange re-buffers bytes the rewrite was going to move anyway
    * — compaction is IO-bound either way.
    */
  def qCompaction(s: SparkSession, dir: String): DataFrame =
    compaction(s, dir, 128L << 20)

  /** [[qCompaction]] at any file-size target, so the spec can exercise
    * the byte-derived file count at toy scale factors.
    */
  private[operators] def compaction(s: SparkSession, dir: String,
      targetBytes: Long): DataFrame = {
    val smallDir = scratch("graft_smallfiles", dir)
    val compactDir = scratch("graft_compacted", dir)
    t(s, dir, "documents").repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(smallDir)
    val nFiles = compactionFileCount(dataBytes(s, smallDir), targetBytes)
    s.read.parquet(smallDir).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(compactDir)
    s.read.parquet(compactDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("char_sum"))
      .orderBy("source")
  }

  val qCompactionOracle: String =
    """SELECT source, count(*) AS n_docs,
      | CAST(sum(doc_id) AS BIGINT) AS id_sum,
      | CAST(sum(n_chars) AS BIGINT) AS char_sum
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // Z-order geometry: 8 bits per dimension interleaved into a 16-bit
  // z-value, split into 32 static z-ranges ("files").
  private val ZBits = 8
  private val ZFiles = 32
  private val ZSpace = 1L << (2 * ZBits) // 65536 z-values

  /** Interleave the low [[ZBits]] bits of `xb`/`yb` (x in odd positions). */
  private def zSpark(xb: String, yb: String): String =
    (0 until ZBits).map(i =>
      s"(shiftleft((shiftright($xb, $i) & 1), ${2 * i + 1})" +
        s" + shiftleft((shiftright($yb, $i) & 1), ${2 * i}))").mkString(" + ")

  private def zDuck(xb: String, yb: String): String =
    (0 until ZBits).map(i =>
      s"((($xb >> $i) & 1) << ${2 * i + 1}) + ((($yb >> $i) & 1) << ${2 * i})")
      .mkString(" + ")

  /** Z-order (Morton) clustering of lineitem on (l_partkey, l_suppkey) —
    * the multi-dimensional layout technique behind Delta/Iceberg
    * `OPTIMIZE ZORDER BY`: interleaving the bucketed bits of two columns
    * makes rows that are close in EITHER dimension land in the same file,
    * so a range predicate on either column prunes most files by min/max
    * stats (a linear sort clusters only its leading column). Output: per
    * z-range file, the row count and both columns' min/max extents — the
    * stats a format's data-skipping index would persist, hash-checked.
    *
    * Scale shape: bucketing + bit interleave is one narrow all-integer
    * codegen'd projection (min/max bounds broadcast from a 1-row agg);
    * file assignment uses STATIC z-ranges — no global sort, no ntile
    * window — and the final aggregate is 32 groups. At 100 TB the same
    * projection feeds `repartitionByRange(z)` + sortWithinPartitions for
    * balanced file sizes; the static-range form keeps the oracle exact.
    */
  def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
    val bounds = li.agg(
      min("l_partkey").as("x0"), max("l_partkey").as("x1"),
      min("l_suppkey").as("y0"), max("l_suppkey").as("y1"))
    li.crossJoin(broadcast(bounds))
      .withColumn("xb", expr(s"(l_partkey - x0) * ${1 << ZBits} DIV (x1 - x0 + 1)"))
      .withColumn("yb", expr(s"(l_suppkey - y0) * ${1 << ZBits} DIV (y1 - y0 + 1)"))
      .withColumn("zv", expr(zSpark("xb", "yb")))
      .withColumn("file_id", expr(s"zv DIV ${ZSpace / ZFiles}"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("l_partkey").as("x_min"), max("l_partkey").as("x_max"),
        min("l_suppkey").as("y_min"), max("l_suppkey").as("y_max"))
      .orderBy("file_id")
  }

  val qZorderLayoutOracle: String =
    s"""WITH r AS (
      |  SELECT min(l_partkey) AS x0, max(l_partkey) AS x1,
      |         min(l_suppkey) AS y0, max(l_suppkey) AS y1 FROM lineitem),
      |b AS (
      |  SELECT l_partkey, l_suppkey,
      |    (l_partkey - x0) * ${1 << ZBits} // (x1 - x0 + 1) AS xb,
      |    (l_suppkey - y0) * ${1 << ZBits} // (y1 - y0 + 1) AS yb
      |  FROM lineitem, r),
      |z AS (SELECT l_partkey, l_suppkey, ${zDuck("xb", "yb")} AS zv FROM b)
      |SELECT zv // ${ZSpace / ZFiles} AS file_id, count(*) AS n_rows,
      |  min(l_partkey) AS x_min, max(l_partkey) AS x_max,
      |  min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
      |FROM z GROUP BY 1 ORDER BY file_id""".stripMargin

  /** Schema evolution: a table whose early files were written BEFORE a
    * column existed (here: a `v1` batch without `source`, a `v2` batch
    * with it) read back as ONE table via `mergeSchema` — Spark unions the
    * parquet footers and null-fills the missing column, exactly how a
    * long-lived lake table absorbs additive schema change without
    * rewriting history. The aggregate proves the semantics: legacy rows
    * surface with NULL `source`, evolved rows keep theirs, and nothing
    * is dropped or duplicated.
    *
    * Scale shape: footer-merge is metadata work; each file group is
    * still scanned with its OWN pruned schema (the v1 scan never reads a
    * `source` column that isn't there). The cost to avoid at 100 TB is
    * the history rewrite — which this op exists to not do.
    */
  def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_schema_evo", dir)
    val d = t(s, dir, "documents")
    d.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "lang", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/v1")
    d.filter(col("doc_id") % 2 =!= 0)
      .select("doc_id", "lang", "n_chars", "source")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/v2")
    s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_legacy"),
        countDistinct("source").as("n_sources"),
        sum("n_chars").as("chars"))
      .orderBy("lang")
  }

  val qSchemaEvolutionOracle: String =
    """SELECT lang, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
      |  count(DISTINCT CASE WHEN doc_id % 2 <> 0 THEN source END) AS n_sources,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Dynamic partition pruning — the join-driven cousin of
    * [[qPartitionPrune]]'s static filter, and the optimizer feature that
    * carries star-schema queries at 100 TB: the fact side is partitioned
    * by day, the dim side (one row per day, filtered to the first 3
    * days) is broadcast, and Catalyst injects the dim's post-filter day
    * set into the fact SCAN as a `dynamicpruning` subquery reusing the
    * join's broadcast — untouched partitions are never listed, let alone
    * read. The day selection is NOT statically known to the fact scan
    * (it comes through the join), which is exactly the case static
    * pruning cannot cover; `LayoutOpsSpec` asserts the pruning subquery
    * is present in the executed plan.
    *
    * The `broadcast` hint is justified-small: the dim is one row per
    * DAY (time-bounded by definition, ~365 rows/year at any corpus
    * size) — not a corpus-fraction frame. The single-partition window
    * ranks that same day frame, so no wide data crosses one partition.
    */
  def qDppJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = scratch("graft_dpp", dir)
    val ev = t(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.repartition(col("day"))
      .write.mode(SaveMode.Overwrite).partitionBy("day")
      .parquet(base)
    val dim = ev.select("day").distinct()
      .withColumn("rk", row_number().over(Window.orderBy("day")))
      .filter(col("rk") <= 3)
      .select("day")
    s.read.parquet(base)
      .join(broadcast(dim), Seq("day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
      .orderBy("event_type")
  }

  val qDppJoinOracle: String =
    """WITH days AS (
      |  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day FROM events),
      |sel AS (SELECT day FROM days ORDER BY day LIMIT 3)
      |SELECT event_type, count(*) AS n_events,
      |  round(sum("value"), 2) AS value_sum
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') IN (SELECT day FROM sel)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_bucketed_join", qBucketedJoin, Some(qBucketedJoinOracle)),
    QueryDef("q_dpp_join", qDppJoin, Some(qDppJoinOracle)),
    QueryDef("q_partition_prune", qPartitionPrune, Some(qPartitionPruneOracle)),
    QueryDef("q_compaction", qCompaction, Some(qCompactionOracle)),
    QueryDef("q_zorder_layout", qZorderLayout, Some(qZorderLayoutOracle)),
    QueryDef("q_schema_evolution", qSchemaEvolution, Some(qSchemaEvolutionOracle)),
  )
}
