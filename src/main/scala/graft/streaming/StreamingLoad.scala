package graft.streaming

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.util.matching.Regex

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.core._
import graft.ds.{ObjectStore, SparkDataSource}
import graft.jobclass.{Action, JobClass, JobContext}

/** Micro-batch load from a filesystem object queue
  * (reference: jobclass/streaming_load.rb — the only "streaming" in the
  * reference; SURVEY §2.11). Batch-faithful port:
  *
  *  1. snapshot the queue ONCE: list objects matching a filename pattern
  *     with `%Y%m%d...%Q` time captures (reference: :415-473);
  *  2. partition the snapshot against the load log on `data_file`
  *     (reference: :137-153, 166-196 partition_loaded_objects) — the join
  *     runs as a Spark job; `loaded` objects (left over from a crashed
  *     prior run) are dequeued immediately, `not_loaded` go on to load;
  *  3. load new files into the work table in bounded batches, insert into
  *     dest (reference: :202-237), append each batch to the load log with a
  *     NOT-IN anti-join guard (:314-330), then dequeue that batch;
  *  4. dequeue = move each object to the persistent path (:502-514). Only
  *     objects recorded in the load log are ever moved — a file that
  *     arrives mid-load stays queued for the next run.
  *
  * Modes `noop/load-only/dequeue-only/skip-work` (:28-31) are honored.
  *
  * Delivery semantics: the reference wraps dest-insert + log-append in one
  * DB transaction; Spark-catalog parquet tables have no cross-table
  * transaction, so a crash between a batch's dest insert and its log append
  * re-loads that batch on rerun — **at-least-once on crash, exactly-once in
  * normal operation** (the crashed batch's files stay in the queue because
  * dequeue is log-driven). Smaller `batch-size` shrinks that window. For
  * true exactly-once use the Structured Streaming path
  * (`StructuredStreams`: `Trigger.AvailableNow` + checkpoint) behind the
  * same job class.
  */
object StreamingLoadJobClass extends JobClass("streaming_load") {

  val params: Seq[Param] = Seq(
    DataSourceParam("fs", "src-ds", optional = true),
    DataSourceParam("fs", "s3-ds", optional = true), // reference name (:18)
    StringParam("queue-path"),
    StringParam("persistent-path", optional = true),
    StringParam("file-name", optional = true), // pattern w/ %Y%m%d%H%M%S%Q
    DataSourceParam("spark", "dest-ds", optional = true),
    DataSourceParam("spark", "redshift-ds", optional = true), // reference name (:22)
    DestTableParam(),
    StringParam("work-table", optional = true),
    StringParam("log-table", optional = true),
    // manifest-bucket knobs (reference :15-17); our manifest is the explicit
    // file list passed to the reader, so ctl-* only affect bookkeeping
    DataSourceParam("fs", "ctl-ds", optional = true),
    StringParam("ctl-prefix", optional = true),
    OptionalBoolParam("keep-ctl"),
    EnumParam("format", Seq("tsv", "csv", "json", "parquet"), Some("json")),
    KeyValuePairsParam("load-options"),
    SqlFileParam("sql-file", optional = true),
    IntParam("batch-size"), // max files per load batch; must be positive
    OptionalBoolParam("noop"), OptionalBoolParam("load-only"),
    OptionalBoolParam("dequeue-only"), OptionalBoolParam("skip-work"),
    // idiomatic mode: Structured Streaming file source + checkpoint
    // replaces the load-log join (SURVEY §2.11 option (b))
    OptionalBoolParam("streaming"),
    StringParam("checkpoint-path", optional = true),
  )

  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val fs = ctx.registry.store(
      p.stringOpt("src-ds").orElse(p.stringOpt("s3-ds")).getOrElse("fs"))
    val ds = ctx.registry.spark(
      p.stringOpt("dest-ds").orElse(p.stringOpt("redshift-ds")).getOrElse("sql"))
    val dest = p.table("dest-table")
    val work = p.stringOpt("work-table").map(TableSpec.parse)
      .getOrElse(TableSpec(dest.schema, dest.name + "_wk"))
    val log = p.stringOpt("log-table").map(TableSpec.parse)
      .getOrElse(TableSpec(dest.schema, dest.name + "_l"))
    val queuePath = vars.expand(p.string("queue-path"))
    val pattern = p.stringOpt("file-name").map(FileNamePattern.compile)

    // base-relative candidate paths (works over local FS or s3a the same).
    // Hidden names (leading '.' or '_') are never queue objects BY
    // DEFAULT: a producer staging via a Spark/Hadoop writer leaves commit
    // metadata (_SUCCESS, .part-*.crc) beside the data files, and Spark's
    // own hidden-file convention skips them only for DIRECTORY reads — an
    // explicitly-listed .crc path bypasses that filter and would be fed
    // to the loader, logged as a data file, and dequeued (round-16
    // ADVICE: /tmp/graft_pipeline_save held dequeued .crc files, so the
    // pipeline's per-object counts measured ~2N+1 instead of N). Two
    // refinements (round-16 review): (a) the exclusion applies to every
    // path COMPONENT, not just the basename — a file inside an in-flight
    // commit dir (_temporary/0/task_*/part-*.parquet) has a clean
    // basename but loading it mid-commit corrupts the producer's write
    // AND double-loads the rows after the rename; (b) hidden basenames
    // are excluded even when an explicit file-name pattern matches them,
    // but LOUDLY: Spark's InMemoryFileIndex skips '_'/'.'-prefixed files
    // even when listed explicitly (measured in this repo's spec — the
    // batch read returns 0 rows), so "honoring" the pattern would load
    // nothing and DEQUEUE the object anyway, i.e. silent data loss. A
    // producer naming objects `_export-*.json` must rename; the warning
    // is the breadcrumb for its otherwise ever-growing queue.
    def hiddenSeg(seg: String): Boolean =
      seg.startsWith(".") || seg.startsWith("_")
    // rel is BASE-relative (fs.listRelative), so it still carries the
    // queuePath prefix — inspect only the segments BELOW the queue root,
    // or a queue-path like `_staging/incoming` (its own components are
    // the deployment's naming, not commit metadata) would silently
    // exclude every object it holds (round-16 review)
    val queuePrefix = queuePath.stripSuffix("/") + "/"
    def listCandidates(): Seq[String] =
      fs.listRelative(queuePath).filter { rel =>
        val below = rel.stripPrefix(queuePrefix)
        val segs = below.split('/')
        val visible = !segs.exists(hiddenSeg)
        // warn only for a hidden BASENAME the pattern wanted — a hidden
        // parent dir (in-flight commit innards) is a silent, correct skip
        if (hiddenSeg(segs.last) && pattern.exists(_.matches(segs.last)))
          System.err.println(s"[streaming_load] skipping '$rel': it matches" +
            " file-name but Spark readers cannot load hidden ('_'/'.')" +
            " basenames — rename the producer's objects")
        visible && pattern.forall(_.matches(segs.last))
      }

    // Partition a queue snapshot against the load log on data_file
    // (reference :294-312 partition_loaded_objects). Runs as a Spark join.
    // BOTH sides stream through toLocalIterator so an unbounded queue
    // never sits fully in driver memory — consumers pull one dequeue/load
    // batch of names at a time (the cursor-batch idiom,
    // DataSource.queryBatch). The `loaded` side is usually tiny (crash
    // leftovers from one prior run) but CAN be the whole queue listing
    // when dequeue lags, so it gets the same treatment.
    def partitionBySnapshot(candidates: Seq[String])
        : (Iterator[String], Iterator[String]) = {
      if (candidates.isEmpty) return (Iterator.empty, Iterator.empty)
      val spark = ds.spark
      import spark.implicits._
      ensureLogTable(ds, log)
      val cand = candidates.map(r => (r, fs.urlString(r))).toDF("rel", "data_file")
      val logged = ds.table(log).select(col("data_file"))
      def sideIt(joinType: String): Iterator[String] = {
        import scala.jdk.CollectionConverters._
        cand.join(logged, Seq("data_file"), joinType)
          .orderBy("rel").select("rel").as[String]
          .toLocalIterator().asScala
      }
      (sideIt("left_semi"), sideIt("left_anti"))
    }

    val batchSize = p.longOpt("batch-size").map(_.toInt).getOrElse(100000)

    if (p.bool("streaming"))
      // Structured Streaming mode: the checkpointed file source IS the load
      // log (exactly-once per file, survives crashes); files stay queued —
      // retention is the checkpoint's job, not a dequeue move.
      return Seq(Action("streaming_load:stream") {
        val spark = ds.spark
        val schema = ds.table(dest).schema
        // conservative glob from the %-pattern: directives match any run
        val glob = p.stringOpt("file-name")
          .map(_.replaceAll("%[YmdHMSQ*]", "*").replaceAll("\\*+", "*"))
        var reader = spark.readStream.schema(schema)
        glob.foreach(g => reader = reader.option("pathGlobFilter", g))
        val src = p.string("format") match {
          case "json"    => reader.json(fs.urlString(queuePath))
          case "tsv"     => reader.option("sep", "\t").csv(fs.urlString(queuePath))
          case "csv"     => reader.csv(fs.urlString(queuePath))
          case "parquet" => reader.parquet(fs.urlString(queuePath))
        }
        val ckpt = p.stringOpt("checkpoint-path").map(vars.expand).map(fs.urlString)
          .getOrElse(fs.urlString(queuePath.stripSuffix("/") + "_checkpoint"))
        val query = src.writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            p.stringOpt("sql-file") match {
              case Some(sf) =>
                batch.createOrReplaceTempView("stream_work_table")
                val stmt = bindSql(ctx.sqlText(sf, vars),
                  vars.add("work_table", "stream_work_table")
                    .add("dest_table", ds.qualify(dest)), ctx)
                stmt.statements.foreach(s => batch.sparkSession.sql(s))
              case None =>
                batch.write.mode(SaveMode.Append).insertInto(ds.qualify(dest))
            }
            ()
          }
          .start()
        query.awaitTermination()
        // the microbatch writes ran in a cloned session; drop this
        // session's cached relation so readers see the new files
        spark.catalog.refreshTable(ds.qualify(dest))
      })

    if (p.bool("noop"))
      return Seq(Action("streaming_load:noop") {
        listCandidates().foreach(f => println(s"[noop] would load $f"))
      })
    if (p.bool("dequeue-only"))
      // reference :135-153: dequeue-only moves ONLY objects present in the
      // load log; unloaded queue objects stay put.
      return Seq(Action("streaming_load:dequeue") {
        val (loadedRel, _) = partitionBySnapshot(listCandidates())
        loadedRel.grouped(batchSize).foreach(b => dequeue(fs, queuePath, b, p, vars))
      })

    val loadAction = Action("streaming_load:load") {
      // ONE queue snapshot drives the whole run (reference :166-170):
      // files arriving after this point are next run's work.
      val (alreadyLoaded, newFiles) = partitionBySnapshot(listCandidates())
      // leftovers from a crashed prior run: logged but never dequeued.
      // Batched pulls off the iterator — never the whole listing at once.
      if (!p.bool("load-only"))
        alreadyLoaded.grouped(batchSize).foreach(b => dequeue(fs, queuePath, b, p, vars))
      if (newFiles.nonEmpty) {
        val spark = ds.spark
        import spark.implicits._
        val jobProcessId = java.util.UUID.randomUUID().toString
        // bounded batches keep the driver-side manifest and the
        // crash-replay window small (reference loads one manifest per run;
        // an unbounded queue would otherwise sit in driver memory)
        newFiles.grouped(batchSize).foreach { batchRel =>
          val batch = batchRel.map(fs.urlString)
          val startTime = java.sql.Timestamp.from(java.time.Instant.now())
          // explicit file list = the reference's manifest (:207-226); COPY
          // options map through LoadOptions semantics
          val reader = spark.read.schema(ds.table(dest).schema)
          val df = p.string("format") match {
            case "json"    => reader.json(batch: _*)
            case "tsv"     => reader.option("sep", "\t").csv(batch: _*)
            case "csv"     => reader.csv(batch: _*)
            case "parquet" => reader.parquet(batch: _*)
          }
          if (p.bool("skip-work")) {
            // reference :31: "Skip work table and load directly into
            // dest-table" — one append, no staging
            df.write.mode(SaveMode.Append).insertInto(ds.qualify(dest))
          } else {
            // load work table from the new files only (:165,202-237), then
            // commit via user SQL or INSERT SELECT *
            ds.dropForce(work)
            df.write.saveAsTable(ds.qualify(work))
            p.stringOpt("sql-file") match {
              case Some(sf) =>
                val stmt = bindSql(ctx.sqlText(sf, vars),
                  vars.add("work_table", ds.qualify(work))
                    .add("dest_table", ds.qualify(dest)), ctx)
                ds.execScript(stmt)
              case None =>
                ds.sql(s"INSERT INTO ${ds.qualify(dest)} SELECT * FROM ${ds.qualify(work)}")
            }
            ds.dropForce(work)
          }
          // append load log w/ NOT-IN guard (:314-330)
          val endTime = java.sql.Timestamp.from(java.time.Instant.now())
          val entries = batch.toDF("data_file")
            .withColumn("job_process_id", lit(jobProcessId))
            .withColumn("start_time", lit(startTime))
            .withColumn("end_time", lit(endTime))
            .withColumn("target_table", lit(ds.qualify(dest)))
            .select("job_process_id", "start_time", "end_time", "target_table", "data_file")
          val guarded = entries.join(ds.table(log).select(col("data_file")),
            Seq("data_file"), "left_anti")
            .select("job_process_id", "start_time", "end_time", "target_table", "data_file")
          guarded.write.mode(SaveMode.Append).insertInto(ds.qualify(log))
          // dequeue this batch now that it is logged (reference :186-190)
          if (!p.bool("load-only")) dequeue(fs, queuePath, batchRel, p, vars)
        }
      }
    }

    Seq(loadAction)
  }

  private def ensureLogTable(ds: SparkDataSource, log: TableSpec): Unit =
    if (!ds.tableExists(log))
      // schema: streaming_load_log.ct:1-9
      ds.sql(s"""CREATE TABLE ${ds.qualify(log)} (
        | job_process_id STRING, start_time TIMESTAMP, end_time TIMESTAMP,
        | target_table STRING, data_file STRING) USING parquet""".stripMargin)

  private def dequeue(fs: ObjectStore, queuePath: String, files: Seq[String],
      p: ParamValues, vars: Variables): Unit = {
    val persistent = p.stringOpt("persistent-path").map(vars.expand)
      .getOrElse(queuePath.stripSuffix("/") + "_done")
    val stamp = LocalDateTime.now()
    files.foreach { f =>
      val rel = f.stripPrefix(queuePath.stripSuffix("/") + "/")
      val destDir = FileNamePattern.expandPathTemplate(persistent, stamp)
      fs.move(f, destDir.stripSuffix("/") + "/" + rel)
    }
  }
}

/** Filename pattern with strftime-ish captures, compiled to a regex
  * (reference: streaming_load.rb:415-473; tested by
  * test/test_c_streaming_load.rb:146-152). `%Y %m %d %H %M %S` match digit
  * runs; `%Q` matches an arbitrary digit sequence (sequence number);
  * `%*` matches anything.
  */
object FileNamePattern {

  final case class Compiled(regex: Regex) {
    def matches(name: String): Boolean = regex.pattern.matcher(name).matches()
  }

  def compile(pattern: String): Compiled = {
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      val ch = pattern.charAt(i)
      if (ch == '%' && i + 1 < pattern.length) {
        pattern.charAt(i + 1) match {
          case 'Y' => sb.append("(\\d{4})")
          case 'm' | 'd' | 'H' | 'M' | 'S' => sb.append("(\\d{2})")
          case 'Q' => sb.append("(\\d+)")
          // a path-component wildcard, not a full-path one: a slash must
          // never match (reference: streaming_load.rb:458 `[^/]*`;
          // test_c_streaming_load.rb:146-152)
          case '*' => sb.append("[^/]*")
          case '%' => sb.append("%")
          case other => throw new ParameterError(s"bad filename pattern directive: %$other")
        }
        i += 2
      } else {
        sb.append(Regex.quote(ch.toString))
        i += 1
      }
    }
    Compiled(sb.toString.r)
  }

  /** Expand a date-templated persistent path (reference: :429-448). */
  def expandPathTemplate(template: String, now: LocalDateTime): String =
    template
      .replace("%Y", now.format(DateTimeFormatter.ofPattern("yyyy")))
      .replace("%m", now.format(DateTimeFormatter.ofPattern("MM")))
      .replace("%d", now.format(DateTimeFormatter.ofPattern("dd")))
}
