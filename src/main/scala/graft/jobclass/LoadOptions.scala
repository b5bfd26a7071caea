package graft.jobclass

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** COPY/UNLOAD option bag mapped to Spark reader options + post-transforms
  * (reference: PSQLLoadOptions, lib/bricolage/psqldatasource.rb:476-601;
  * observed option set in fixtures — SURVEY §2.2).
  *
  * gzip            → codec inference (automatic from extension)
  * maxerror N      → mode=PERMISSIVE + corrupt-record column; rows that fail
  *                   to parse are counted after the read and the load FAILS
  *                   (JobFailure) when the count exceeds N; surviving rows
  *                   exclude the corrupt ones (reference: the COPY aborts and
  *                   stl_load_errors records the bad rows,
  *                   psqldatasource.rb:476-601)
  * emptyasnull     → nullValue=""
  * dateformat/timeformat → dateFormat / timestampFormat
  * removequotes    → strip surrounding quotes in DELIMITED (tsv) loads; a
  *                   delimited load without it treats '"' as data
  *                   (Redshift semantics — quoting is only interpreted in
  *                   CSV format or under removequotes)
  * trimblanks      → post trim() on string columns
  * truncatecolumns → no-op (no varchar(n) limit on Spark STRING)
  * acceptinvchars / acceptanydate → permissive parse
  * statupdate/compupdate/encrypted/manifest → no-op shims
  */
object LoadOptions {

  /** Name unlikely to collide with user columns. */
  private val CorruptCol = "_graft_corrupt_record"

  /** Render one COPY option the way the reference's generated SQL would —
    * used for logging the option bag in reference form
    * (reference: psqldatasource.rb:568-600 Option#to_s;
    * test_psqldatasource.rb "load option is correctly formatted").
    */
  def formatOption(name: String, value: Any): String =
    if (name == "encoding") s"$name $value" // encoding utf16le
    else value match {
      case true                  => name // acceptanydate
      case false                 => s"$name false" // compupdate false
      case "on" | "off"          => s"$name $value"
      case s: String             => s"$name '$s'" // json 'auto'
      case i: Int                => s"$name $i" // maxerror 10
      case l: Long               => s"$name $l"
      case null                  => "" // explicitly disabled boolean
      case other =>
        throw new graft.core.ParameterError(
          s"unsupported option value type for $name: $other")
    }

  /** Read for callers that accept a session-lifetime cache: a maxerror load
    * pins its full-parse cache until the session ends (test/diagnostic use).
    * Production load paths go through [[withRead]], which releases it.
    */
  def read(spark: SparkSession, paths: Seq[String], format: String,
      options: Map[String, Any], schema: StructType): DataFrame =
    readReleasable(spark, paths, format, options, schema)._1

  /** Loan-style read: `consume` the loaded frame (typically a write), then
    * the maxerror full-parse cache — which backs the frame's corrupt-row
    * filter — is dropped. The cache must outlive consumption, so plain
    * `read` cannot release it; this is the shape production loads use.
    */
  def withRead[A](spark: SparkSession, paths: Seq[String], format: String,
      options: Map[String, Any], schema: StructType)(consume: DataFrame => A): A = {
    val (df, release) = readReleasable(spark, paths, format, options, schema)
    try consume(df) finally release()
  }

  /** Read plus a release handle that unpersists the maxerror full-parse
    * cache (no-op when the load has no maxerror). The returned frame is
    * DERIVED from the cached one (corrupt filter + trims), so callers must
    * release via the handle — unpersist() on the returned frame would be a
    * no-op on an uncached plan.
    */
  def readReleasable(spark: SparkSession, paths: Seq[String], format: String,
      options: Map[String, Any], schema: StructType): (DataFrame, () => Unit) = {
    // parquet maps columns by position, as a Redshift COPY does, so it
    // takes the file schema rather than the table's
    val df =
      if (format == "parquet") spark.read.parquet(paths: _*)
      else {
        val (name, readerOptions, readSchema) = source(format, options, schema)
        spark.read.format(name).schema(readSchema).options(readerOptions).load(paths: _*)
      }
    checked(df, format, options, paths.mkString(", "))
  }

  /** The one COPY format mapping: Spark source name, reader options and
    * read schema for a format and option bag. The batch reader above and
    * streaming_load's file stream both read through it.
    */
  def source(format: String, options: Map[String, Any], schema: StructType)
      : (String, Map[String, String], StructType) = {
    val opt = lookup(options) _
    val permissive = opt("maxerror").isDefined ||
      opt("acceptinvchars").isDefined || opt("acceptanydate").isDefined
    val parse =
      (if (permissive)
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)
      else Map("mode" -> "FAILFAST")) ++
        opt("dateformat").map(f => "dateFormat" -> cFormat(f)) ++
        opt("timeformat").map(f => "timestampFormat" -> cFormat(f)) ++
        opt("emptyasnull").map(_ => "nullValue" -> "")
    // maxerror needs the corrupt-record column declared in the read schema
    val readSchema =
      if (opt("maxerror").isDefined) schema.add(CorruptCol, StringType, nullable = true)
      else schema
    format match {
      case "parquet" => ("parquet", Map.empty, schema)
      case "tsv" =>
        // delimited load: quotes are literal data unless removequotes
        val quote = if (opt("removequotes").isDefined) "\"" else ""
        ("csv", parse + ("sep" -> "\t") + ("quote" -> quote), readSchema)
      case "csv" | "json" => (format, parse, readSchema)
      case other => throw new graft.core.JobError(s"load: unknown format $other")
    }
  }

  /** The post-read half of the option bag over a frame read through
    * [[source]]: the maxerror count and corrupt-row filter, then
    * trimblanks. Returns the frame plus the handle releasing its cache.
    */
  def checked(read: DataFrame, format: String, options: Map[String, Any],
      what: String): (DataFrame, () => Unit) = {
    val opt = lookup(options) _
    var df = read
    var release: () => Unit = () => ()
    opt("maxerror").map(_.toLong).foreach { limit =>
      if (format != "parquet") {
        // The cache is REQUIRED for correctness, not speed: corrupt-record
        // detection only fires for columns the scan actually parses, and
        // column pruning on an uncached frame would let a row with a bad
        // value in an unreferenced column sneak past both the count and
        // the filter. Caching materializes the full-width parse once; the
        // returned handle unpersists this frame (the returned DataFrame is
        // derived from it, so unpersist() there would not reach the cache).
        val cached = df.cache()
        release = () => { cached.unpersist(); () }
        val bad = cached.filter(col(CorruptCol).isNotNull).count()
        if (bad > limit) {
          cached.unpersist()
          throw new graft.core.JobFailure(
            s"load error count $bad exceeds maxerror $limit ($what)")
        }
        df = cached.filter(col(CorruptCol).isNull).drop(CorruptCol)
      }
    }

    if (opt("trimblanks").isDefined) {
      val cols = df.schema.fields.map { f =>
        if (f.dataType == StringType) trim(col(f.name)).as(f.name) else col(f.name)
      }
      df = df.select(cols.toSeq: _*)
    }
    (df, release)
  }

  private def lookup(options: Map[String, Any])(k: String): Option[String] =
    options.get(k).map(String.valueOf).filter(_ != "false")

  /** Redshift strptime-ish format → java.time pattern (subset). */
  private def cFormat(f: String): String =
    f.replace("YYYY", "yyyy").replace("MM", "MM").replace("DD", "dd")
      .replace("HH24", "HH").replace("HH", "HH").replace("MI", "mm").replace("SS", "ss")
}
