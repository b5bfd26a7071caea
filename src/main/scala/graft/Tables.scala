package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.StructType

/** A declared query: Spark-side DataFrame builder + optional DuckDB oracle
  * SQL over the same parquet tables. Column names/aliases MUST match between
  * the two (the driver sorts columns by name before hashing).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Parquet table access for the driver testdata layout (TESTDATA.md).
  *
  * Mirrors the reference's table resolution, where a `TableSpec` name pair
  * resolves to a warehouse table (reference: lib/bricolage/sqlstatement.rb:302-349);
  * here a bare table name resolves to `<sfDir>/<name>.parquet`.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // Parquet INT64 TIMESTAMP(NANOS), which Spark's schema inference
  // rejects, infers as a long that `normalizeTs` repairs. Set only on the
  // reader session below, never on a caller's.
  private val ReadConf = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  // Timestamp-bearing columns per table: every one of these is exposed
  // to the same drift the r6 testdata regen hit on events.ts (INT64
  // TIMESTAMP(NANOS) vs TIMESTAMP(MICROS) vs TIMESTAMP_NTZ), so all get
  // the same normalization, not just the one that has already broken.
  private val tsColumns: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  /** One reader session per SparkContext (a scoped clone carrying
    * [[ReadConf]]) and its normalized relations by (dir, name).
    * `spark.read.parquet` re-lists the directory and re-reads footers on
    * every call; one resolved relation shares its FileIndex and schema
    * across all queries of a run (plans are immutable, so sharing is
    * safe). Only schema inference needs [[ReadConf]]; scans read each
    * column as the resolved schema says, so callers plan and run these
    * relations in their own sessions without it.
    */
  private final class Reader(val session: SparkSession) {
    val relations = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  }
  private val reader = new java.util.concurrent.atomic.AtomicReference[Reader]()

  private def relation(spark: SparkSession, dir: String, name: String): DataFrame = {
    val r = reader.updateAndGet(r =>
      if (r != null && (r.session.sparkContext eq spark.sparkContext)) r
      else new Reader(GraftBridge.sessionWithConf(spark, ReadConf)))
    r.relations.computeIfAbsent((dir, name), { _ =>
      val raw = r.session.read.parquet(s"$dir/$name.parquet")
      if (tsColumns.contains(name))
        // Only `events` additionally casts NTZ to session-TZ timestamp
        // (its consumers are windows / watermarks); lineitem/orders keep
        // NTZ as read, since a cast there would wrap the column and break
        // parquet filter pushdown on every date predicate.
        tsColumns(name).foldLeft(raw)((df, c) => normalizeTs(df, c, castNtz = name == "events"))
      else if (name == "embeddings") normalizeEmbedding(raw)
      else raw
    })
  }

  /** Testdata table `<dir>/<name>.parquet`, normalized, in `spark`. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    GraftBridge.ofRows(spark, relation(spark, dir, name).queryExecution.analyzed)

  /** The schema of `<dir>/<name>.parquet` as the reader session resolves
    * it, before any normalization: the schema a stream of the same files
    * reads with.
    */
  def rawSchema(spark: SparkSession, dir: String, name: String): StructType =
    relation(spark, dir, name).queryExecution.analyzed.collectLeaves().head.schema

  /** Run SQL `statements` in order over the testdata tables of `dir`;
    * the last one's frame. The tables are temp views of a scoped clone of
    * `spark`, and so is anything the statements create, so no view
    * shadows a catalog table of the caller's.
    */
  def sql(spark: SparkSession, dir: String, statements: String*): DataFrame = {
    val scoped = GraftBridge.sessionWithConf(spark)
    names.foreach(n => t(scoped, dir, n).createOrReplaceTempView(n))
    statements.map(scoped.sql).last
  }

  /** Normalize `embeddings.embedding` to array<float> — the type every
    * vector kernel (vec_dot/vec_norm, PQ, IVF) binds to. The driver
    * regenerates testdata between rounds and pandas/arrow writers have
    * shipped float64 lists for the same logical column before (the
    * events-ts drift in round 6 cost 24 queries); the cast is a no-op on
    * the current files.
    */
  def normalizeEmbedding(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case _ => df.withColumn("embedding", col("embedding").cast("array<float>"))
    }
  }

  /** Normalize a timestamp column to TimestampType regardless of how the
    * parquet encoded it: INT64 nanos-as-long (legacy driver testdata),
    * TIMESTAMP_NTZ (pandas micros without timezone), or already TIMESTAMP.
    * The session runs in UTC, so the NTZ cast is instant-preserving and
    * matches what the DuckDB oracle sees reading the same file.
    */
  def normalizeTs(df: DataFrame, c: String, castNtz: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(c).dataType match {
      case LongType if castNtz =>
        df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case LongType =>
        // non-events (lineitem/orders): land on TIMESTAMP_NTZ, the same
        // type the NTZ-vintage files read as natively, so the column type
        // doesn't vary by testdata vintage. Pushdown on the wrapped column
        // is lost in this vintage regardless (the file carries raw INT64
        // nanos); the castNtz=false contract only promises pushdown on
        // the NTZ/native vintages, where the column is untouched.
        df.withColumn(c,
          expr(s"cast(timestamp_micros($c div 1000) as timestamp_ntz)"))
      case TimestampNTZType if castNtz =>
        df.withColumn(c, col(c).cast("timestamp"))
      case _ => df
    }
  }

  // Memoized per (dir, name): footer counts are immutable for a testdata
  // layout, and several queries re-derive the same corpus size.
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  /** Exact row count of `<dir>/<name>.parquet` from parquet FOOTER record
    * counts, read on the driver — no Spark job. Several operators derive
    * scale-adaptive parameters from an UNFILTERED table count (containment
    * df cap, recall probe modulus, label-prop plane count, tf-idf corpus
    * size); `t(...).count()` for that scalar paid a full job-scheduling
    * round trip per query for metadata every scan reads anyway. Handles
    * both testdata layouts (single file / directory of part files) through
    * the Hadoop FS API, so non-local schemes keep working. Identical to
    * `t(spark, dir, name).count()` by parquet's own contract: footers
    * carry the exact record count per file.
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    countCache.computeIfAbsent((dir, name), { _ =>
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = root.getFileSystem(conf)
      def rows(p: org.apache.hadoop.fs.Path): Long = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }
      val st = fs.getFileStatus(root)
      if (st.isDirectory)
        fs.listStatus(root).iterator
          .filter(f => f.isFile && {
            val n = f.getPath.getName
            !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
          })
          .map(f => rows(f.getPath)).sum
      else rows(root)
    })
}
