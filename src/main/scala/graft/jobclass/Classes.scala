package graft.jobclass

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.core._
import graft.ds.SparkDataSource

/** The built-in job classes (reference: the jobclass directory, SURVEY §2.1). Each
  * `build` returns the action sequence the reference's script would run,
  * with Redshift SQL generation replaced by in-process Spark SQL and
  * transactions replaced by staged-publish (SURVEY §4.3).
  */

/** optional TRUNCATE → user SQL → optional VACUUM/ANALYZE/GRANT
  * (reference: jobclass/sql.rb).
  */
object SqlJobClass extends JobClass("sql") {
  val params: Seq[Param] = Seq(
    SqlFileParam(),
    DataSourceParam("spark"),
    DestTableParam(optional = true),
    SrcTableParam(),
    OptionalBoolParam("truncate"),
    OptionalBoolParam("vacuum"), OptionalBoolParam("vacuum-sort"),
    OptionalBoolParam("analyze"),
    KeyValuePairsParam("grant"),
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val ds = sparkDs(p, ctx)
    val stmt = bindSql(ctx.sqlText(p.string("sql-file"), vars), vars, ctx)
    val dest = p.get("dest-table").map(_ => p.table("dest-table"))
    Seq(
      Some(Action("truncate") {
        dest.foreach(ds.truncate)
      }).filter(_ => p.bool("truncate")),
      Some(Action.explainable("sql")(ds.explainScript(stmt)) {
        ds.execScript(stmt); ()
      }),
      Some(Action("vacuum") { dest.foreach(ds.vacuum(_)) }).filter(_ => p.bool("vacuum")),
      Some(Action("analyze") { dest.foreach(ds.analyze) }).filter(_ => p.bool("analyze")),
    ).flatten
  }
}

/** [truncate] → txn{ [drop] [create table-def] INSERT-SELECT [analyze] } →
  * vacuum (reference: jobclass/insert.rb).
  */
object InsertJobClass extends JobClass("insert") {
  val params: Seq[Param] = Seq(
    SqlFileParam(),
    DataSourceParam("spark"),
    DestTableParam(),
    SrcTableParam(),
    StringParam("table-def", optional = true),
    OptionalBoolParam("truncate"), OptionalBoolParam("drop"),
    OptionalBoolParam("vacuum"), OptionalBoolParam("analyze"),
    KeyValuePairsParam("grant"),
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val ds = sparkDs(p, ctx)
    val dest = p.table("dest-table")
    val stmt = bindSql(ctx.sqlText(p.string("sql-file"), vars), vars, ctx)
    Seq(
      Some(Action("truncate") { ds.truncate(dest) }).filter(_ => p.bool("truncate")),
      Some(Action.explainable("insert")(ds.explainScript(stmt)) {
        if (p.bool("drop") && p.get("table-def").isDefined) {
          // rebuild path: stage into _wk from the .ct definition, then swap
          ds.stagedOverwrite(dest) { wk =>
            ds.sql(ctCreateSql(ds, ctx, p.string("table-def"), wk))
            ds.execScript(retarget(stmt, ds, dest, wk))
          }
        } else {
          if (p.get("table-def").isDefined && !ds.tableExists(dest)) {
            ds.sql(ctCreateSql(ds, ctx, p.string("table-def"), dest))
          }
          ds.execScript(stmt)
        }
        if (p.bool("analyze")) ds.analyze(dest)
      }),
      Some(Action("vacuum") { ds.vacuum(dest) }).filter(_ => p.bool("vacuum")),
    ).flatten
  }
}

/** txn{ DELETE WHERE cond → INSERT-SELECT } — idempotent partition reload
  * (reference: jobclass/insert-delta.rb; delete-where at
  * lib/bricolage/sqlstatement.rb:7-9). On Parquet: read dest, anti-filter,
  * re-insert via staged overwrite (no in-place delete).
  */
object InsertDeltaJobClass extends JobClass("insert-delta") {
  val params: Seq[Param] = Seq(
    SqlFileParam(),
    DataSourceParam("spark"),
    DestTableParam(),
    SrcTableParam(),
    StringParam("delete-cond"),
    StringParam("partitioned-by", optional = true),
    OptionalBoolParam("vacuum"), OptionalBoolParam("analyze"),
  )
  /** The INSERT a `partitioned-by` script turns into an overwrite — found
    * anywhere in a statement, so `WITH src AS (…) INSERT INTO …` counts.
    */
  private val InsertInto = "(?i)insert\\s+into"

  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val ds = sparkDs(p, ctx)
    val dest = p.table("dest-table")
    val cond = vars.expand(p.string("delete-cond"))
    val stmt = bindSql(ctx.sqlText(p.string("sql-file"), vars), vars, ctx)
    // each INSERT becomes its own partition overwrite, so a second one
    // into the same partition would silently wipe the first one's rows
    if (p.stringOpt("partitioned-by").isDefined &&
        stmt.statements.map(InsertInto.r.findAllIn(_).size).sum > 1)
      throw new ParameterError(
        "insert-delta: a partitioned-by script must have at most one INSERT INTO")
    Seq(Action.explainable("insert-delta")(ds.explainScript(stmt)) {
      p.stringOpt("partitioned-by") match {
        case Some(_) if ds.tableExists(dest) =>
          // Partitioned dest: dynamic INSERT OVERWRITE rewrites ONLY the
          // partitions the delta touches — at 100 TB a whole-table staged
          // rewrite per daily reload is the classic scale failure. The
          // delete-cond is implicit: overwritten partitions drop their old
          // rows (the reference's DELETE WHERE targets the same reload
          // window).
          // The dynamic overwrite mode lives in a clone of the job session
          // (shared catalog, the job session's runtime conf copied), so it
          // is scoped to this script: a concurrent job in the job session
          // never observes it. The statements run one by one in the clone
          // (a temp view made by one is visible to the next); the script's
          // one INSERT INTO becomes the overwrite.
          val scoped = new SparkDataSource(ds.name, GraftBridge.sessionWithConf(ds.spark,
            "spark.sql.sources.partitionOverwriteMode" -> "dynamic"), ds.defaultSchema)
          stmt.statements.foreach { st =>
            scoped.sql(st.replaceFirst(InsertInto, "INSERT OVERWRITE TABLE"))
          }
          // the job session's relation cache is stale after a write from
          // the clone — refresh so same-session reads see it
          ds.spark.catalog.refreshTable(ds.qualify(dest))
        case _ =>
          ds.stagedOverwrite(dest) { wk =>
            // keep rows NOT matching the delete condition
            ds.sql(s"CREATE TABLE ${ds.qualify(wk)} USING parquet AS " +
              s"SELECT * FROM ${ds.qualify(dest)} WHERE NOT ($cond)")
            // re-run the user INSERT against the staged table
            ds.execScript(retarget(stmt, ds, dest, wk))
          }
      }
      if (p.bool("analyze")) ds.analyze(dest)
    })
  }
}

/** txn{ [drop] CREATE TABLE from .ct [analyze] [grant] }
  * (reference: jobclass/create.rb).
  */
object CreateJobClass extends JobClass("create") {
  val params: Seq[Param] = Seq(
    StringParam("table-def"),
    DataSourceParam("spark"),
    DestTableParam(),
    OptionalBoolParam("drop"),
    OptionalBoolParam("analyze"),
    KeyValuePairsParam("grant"),
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val ds = sparkDs(p, ctx)
    val dest = p.table("dest-table")
    Seq(Action("create") {
      if (p.bool("drop")) ds.dropForce(dest)
      ds.sql(ctCreateSql(ds, ctx, p.string("table-def"), dest))
      if (p.bool("analyze")) ds.analyze(dest)
    })
  }
}

/** txn{ [drop view] CREATE VIEW [grant] } (reference: jobclass/createview.rb). */
object CreateViewJobClass extends JobClass("createview") {
  val params: Seq[Param] = Seq(
    SqlFileParam(),
    DataSourceParam("spark"),
    DestTableParam(),
    SrcTableParam(),
    OptionalBoolParam("drop"),
    KeyValuePairsParam("grant"),
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val ds = sparkDs(p, ctx)
    val dest = p.table("dest-table")
    val stmt = bindSql(ctx.sqlText(p.string("sql-file"), vars), vars, ctx)
    Seq(Action("createview") {
      if (p.bool("drop")) ds.dropViewForce(dest)
      // reference createview.rb:19 execs the user SQL verbatim — the script
      // IS the `create view` statement; only a bare SELECT gets wrapped
      if (stmt.kind == "create") ds.execScript(stmt)
      else ds.sql(s"CREATE OR REPLACE VIEW ${ds.qualify(dest)} AS ${stmt.stripped}")
      ()
    })
  }
}

/** txn{ DROP dest; CREATE; INSERT-SELECT; GRANT } → VACUUM/ANALYZE — rebuild
  * with downtime (reference: jobclass/rebuild-drop.rb).
  */
object RebuildDropJobClass extends JobClass("rebuild-drop") {
  val params: Seq[Param] = Seq(
    SqlFileParam(),
    StringParam("table-def"),
    DataSourceParam("spark"),
    DestTableParam(),
    SrcTableParam(),
    OptionalBoolParam("analyze"),
    KeyValuePairsParam("grant"),
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val ds = sparkDs(p, ctx)
    val dest = p.table("dest-table")
    val stmt = bindSql(ctx.sqlText(p.string("sql-file"), vars), vars, ctx)
    Seq(Action("rebuild-drop") {
      ds.dropForce(dest)
      ds.sql(ctCreateSql(ds, ctx, p.string("table-def"), dest))
      ds.execScript(stmt)
      if (p.bool("analyze")) ds.analyze(dest)
    })
  }
}

/** Build `dest_wk`, then swap via rename — zero-downtime rebuild
  * (reference: jobclass/rebuild-rename.rb:28-53: create dummy dest;
  * `alter table dest rename to dest_old`; `alter ... dest_wk rename to dest`).
  */
object RebuildRenameJobClass extends JobClass("rebuild-rename") {
  val params: Seq[Param] = Seq(
    SqlFileParam(),
    StringParam("table-def"),
    DataSourceParam("spark"),
    DestTableParam(),
    SrcTableParam(),
    OptionalBoolParam("analyze"),
    KeyValuePairsParam("grant"),
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val ds = sparkDs(p, ctx)
    val dest = p.table("dest-table")
    val stmt = bindSql(ctx.sqlText(p.string("sql-file"), vars), vars, ctx)
    Seq(Action("rebuild-rename") {
      // identical publish dance as the reference, via stagedOverwrite:
      // dummy-create dest if absent so the rename pair always succeeds
      if (!ds.tableExists(dest)) ds.createDummyTable(dest)
      ds.stagedOverwrite(dest) { wk =>
        ds.sql(ctCreateSql(ds, ctx, p.string("table-def"), wk))
        // the reference rewrites $dest_table to the work table (:32-35)
        ds.execScript(retarget(stmt, ds, dest, wk))
        if (p.bool("analyze")) ds.analyze(wk)
      }
    })
  }
}

/** COPY from the fs datasource into a table: tsv/csv/json, 3 patterns —
  * drop-create-load / truncate-load / load-append
  * (reference: jobclass/load.rb:29-69; COPY generation
  * psqldatasource.rb:392-435).
  */
object LoadJobClass extends JobClass("load") {
  val params: Seq[Param] = Seq(
    DataSourceParam("fs", "src-ds"),
    StringParam("src-file"),
    DataSourceParam("spark", "dest-ds", optional = true),
    DestTableParam(),
    StringParam("table-def", optional = true),
    EnumParam("format", Seq("tsv", "csv", "json", "parquet"), Some("tsv")),
    KeyValuePairsParam("options"),
    OptionalBoolParam("drop"), OptionalBoolParam("truncate"),
    OptionalBoolParam("vacuum"), OptionalBoolParam("analyze"),
    KeyValuePairsParam("grant"),
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val ds = sparkDs(p, ctx, "dest-ds")
    val src = ctx.registry.store(p.stringOpt("src-ds").getOrElse("fs"))
    val dest = p.table("dest-table")
    val path = src.urlString(vars.expand(p.string("src-file")))
    Seq(Action("load") {
      if (p.bool("drop")) {
        ds.dropForce(dest)
        p.stringOpt("table-def").foreach { td =>
          ds.sql(ctCreateSql(ds, ctx, td, dest))
        }
      } else if (p.bool("truncate")) {
        ds.truncate(dest)
      }
      if (!ds.tableExists(dest)) {
        p.stringOpt("table-def") match {
          case Some(td) =>
            ds.sql(ctCreateSql(ds, ctx, td, dest))
          case None => throw new JobError(s"load: table ${dest} does not exist and no table-def")
        }
      }
      LoadOptions.withRead(ds.spark, Seq(path), p.string("format"),
        p.pairs("options"), ds.table(dest).schema) { df =>
        df.write.mode(SaveMode.Append).insertInto(ds.qualify(dest))
      }
      if (p.bool("analyze")) ds.analyze(dest)
    })
  }
}

/** UNLOAD: query → fs files as tsv/csv/json/parquet
  * (reference: jobclass/unload.rb; psqldatasource.rb:437-469).
  */
object UnloadJobClass extends JobClass("unload") {
  val params: Seq[Param] = Seq(
    SqlFileParam(),
    DataSourceParam("spark"),
    DataSourceParam("fs", "dest-ds", optional = true),
    StringParam("dest-file"),
    EnumParam("format", Seq("tsv", "csv", "json", "parquet"), Some("tsv")),
    KeyValuePairsParam("options"),
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val ds = sparkDs(p, ctx)
    val fs = ctx.registry.store(p.stringOpt("dest-ds").getOrElse("fs"))
    val stmt = bindSql(ctx.sqlText(p.string("sql-file"), vars), vars, ctx)
    val dest = fs.urlString(vars.expand(p.string("dest-file")))
    // UNLOAD option bag (reference: psqldatasource.rb:441-469 appends the
    // raw option list after the per-format delimiter default):
    //   gzip → output codec; header → csv/tsv header row;
    //   delimiter X → separator override; addquotes → quote every field;
    //   parallel off → single output file (Redshift writes one slice);
    //   partitions N → exactly N output files (the object-count knob —
    //   the role MAXFILESIZE plays in the reference's UNLOAD option bag
    //   (psqldatasource.rb:441-469): a producer staging a queue for a
    //   downstream streaming_load controls how many objects it drops);
    //   allowoverwrite / manifest / escape → shims (overwrite is already
    //   the write mode; no manifest; Spark handles escaping natively)
    val opts = p.pairs("options")
    def has(k: String): Boolean =
      opts.get(k).map(String.valueOf).exists(_ != "false")
    Seq(Action.explainable("unload")(ds.explainScript(stmt)) {
      var df = ds.execScript(stmt).getOrElse(throw new JobError("unload: empty SQL"))
      // a DROP/DDL frame has zero columns — exporting it would silently
      // write an empty dataset to dest. A script must END with the
      // statement whose result it exports (the frame routed to `last`),
      // so fail loudly instead (round-16 review: a trailing cleanup DROP
      // used to be survivable only because pre-r16 drops skipped `last`)
      if (df.schema.isEmpty)
        throw new JobError("unload: the script's last statement returned no" +
          " columns (a trailing DROP/DDL? end the script with the SELECT" +
          " to export)")
      if (has("parallel") && String.valueOf(opts("parallel")).equalsIgnoreCase("off"))
        df = df.coalesce(1)
      opts.get("partitions").map(String.valueOf).foreach { n =>
        val k =
          try n.toInt
          catch { case _: NumberFormatException =>
            throw new JobError(s"unload: partitions not an integer: '$n'") }
        if (k <= 0) throw new JobError(s"unload: partitions must be positive: $k")
        // round-robin repartition: equal-sized objects regardless of the
        // query's key distribution (this knob is about file COUNT/size)
        df = df.repartition(k)
      }
      var w = df.write.mode(SaveMode.Overwrite)
      if (has("gzip")) w = w.option("compression", "gzip")
      p.string("format") match {
        case "tsv" | "csv" =>
          val sep = opts.get("delimiter").map(String.valueOf)
            .getOrElse(if (p.string("format") == "tsv") "\t" else ",")
          if (has("header")) w = w.option("header", "true")
          if (has("addquotes")) w = w.option("quoteAll", "true")
          w.option("sep", sep).csv(dest)
        case "json"    => w.json(dest)
        case "parquet" => w.parquet(dest)
      }
    })
  }
}

/** Local file glob → fs datasource put (reference: jobclass/s3-put.rb;
  * s3datasource.rb:144-192), with optional remove-after.
  */
object FsPutJobClass extends JobClass("fs-put") {
  val params: Seq[Param] = Seq(
    DataSourceParam("file", "src-ds", optional = true),
    StringParam("src-file"),
    DataSourceParam("fs", "dest-ds", optional = true),
    StringParam("dest-file"),
    OptionalBoolParam("remove"),
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val fileDs = ctx.registry.file(p.stringOpt("src-ds").getOrElse("file"))
    val fs = ctx.registry.store(p.stringOpt("dest-ds").getOrElse("fs"))
    val pattern = vars.expand(p.string("src-file"))
    val destRel = vars.expand(p.string("dest-file"))
    Seq(Action("fs-put") {
      // absolute src-file (e.g. `$bricolage_home/data/test.txt`,
      // reference fixture put.job): a direct single-file put, with
      // dest-file as the exact object key (s3datasource.rb:150-160)
      val abs = Paths.get(pattern)
      if (abs.isAbsolute) {
        if (!Files.isRegularFile(abs))
          throw new JobFailure(s"fs-put: no such file: $pattern")
        val key = if (destRel.endsWith("/"))
          destRel + abs.getFileName.toString else destRel
        fs.put(abs, key)
        if (p.bool("remove")) Files.delete(abs)
      } else {
        val matcher = fileDs.baseDir.getFileSystem.getPathMatcher("glob:" + pattern)
        val files = java.nio.file.Files.walk(fileDs.baseDir).iterator()
        var found = false
        files.forEachRemaining { f =>
          if (Files.isRegularFile(f) && matcher.matches(fileDs.baseDir.relativize(f))) {
            found = true
            fs.put(f, destRel.stripSuffix("/") + "/" + f.getFileName.toString)
            if (p.bool("remove")) Files.delete(f)
          }
        }
        if (!found) throw new JobFailure(s"fs-put: no files match $pattern")
      }
    })
  }
}

/** Run an arbitrary command (reference: jobclass/exec.rb:13 `system`). */
object ExecJobClass extends JobClass("exec") {
  val params: Seq[Param] = Seq(
    StringListParam("args"),
    KeyValuePairsParam("env"),
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val argv = p("args").asInstanceOf[Seq[String]]
    val env = p.pairs("env").map { case (k, v) => k -> String.valueOf(v) }.toSeq
    Seq(Action("exec") {
      // Ruby `system(*args)` runs a single-string command through the shell
      // (reference fixture exec.job pipes through grep) — match that.
      val cmd = if (argv.size == 1) Seq("sh", "-c", argv.head) else argv
      val code = scala.sys.process.Process(cmd, None, env: _*).!
      if (code != 0) throw new JobFailure(s"exec: command failed with exit $code")
    })
  }
}

/** Succeed or fail per `failure` flag (reference: jobclass/noop.rb). */
object NoopJobClass extends JobClass("noop") {
  val params: Seq[Param] = Seq(OptionalBoolParam("failure"))
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] =
    Seq(Action("noop") {
      if (p.bool("failure")) throw new JobFailure("noop job failed (failure: true)")
    })
}

/** Run a SQL file, nothing else (reference: jobclass/adhoc.rb). */
object AdhocJobClass extends JobClass("adhoc") {
  val params: Seq[Param] = Seq(SqlFileParam(), DataSourceParam("spark"))
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val ds = sparkDs(p, ctx)
    val stmt = bindSql(ctx.sqlText(p.string("sql-file"), vars), vars, ctx)
    Seq(Action.explainable("adhoc")(ds.explainScript(stmt)) {
      ds.execScript(stmt); ()
    })
  }
}

/** Poll for a file until it exists or max-wait-minutes elapses
  * (reference: jobclass/wait-file.rb:22-47; 5s poll interval).
  */
object WaitFileJobClass extends JobClass("wait-file") {
  val params: Seq[Param] = Seq(
    StringParam("file"),
    StringParam("max-wait-minutes", optional = true),
    StringParam("poll-seconds", optional = true), // test hook; reference fixes 5s
  )
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
    val target = Paths.get(vars.expand(p.string("file")))
    val maxMinutes = p.stringOpt("max-wait-minutes").map(_.toDouble).getOrElse(60.0)
    val pollMs = (p.stringOpt("poll-seconds").map(_.toDouble).getOrElse(5.0) * 1000).toLong
    Seq(Action("wait-file") {
      val deadline = System.nanoTime() + (maxMinutes * 60e9).toLong
      while (!Files.exists(target)) {
        if (System.nanoTime() > deadline)
          throw new JobFailure(s"wait-file: timed out waiting for $target")
        Thread.sleep(pollMs)
      }
    })
  }
}
