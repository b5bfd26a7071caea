package graft.plugins

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.core._
import graft.ds.{ObjectStore, SparkDataSource}
import graft.jobclass._

/** Out-of-core job classes mirroring the bricolage-mysql plugin's surface
  * (the reference loads `my-import` / `my-migrate` / `my-import-delta`
  * from a separate gem; fixtures: test/home/subsys/my-import.job,
  * migrate.job, my-import-delta.sql.job). This module is the plugin-model
  * demonstration: nothing here is in the default registry — callers invoke
  * [[MySqlPlugin.register]] the way a Gemfile pulled in the gem.
  *
  * The MySQL source is any registered spark datasource (a JDBC-federated
  * catalog at production scale); the dump stage writes gzipped JSON to an
  * object store and the load stage COPYs through LoadOptions, so the
  * dump → s3 → COPY pipeline shape of the plugin is preserved exactly.
  */
object MySqlPlugin {

  def register(): Unit = {
    JobClass.register(MyImportJobClass)
    JobClass.register(MyMigrateJobClass)
    JobClass.register(MyImportDeltaJobClass)
  }

  /** Apply dump-options to the source frame (plugin surface observed in
    * my-import.job / my-import-delta.sql.job):
    * src/dst_zone_offset shift timestamp columns; partition_column drives a
    * range-partitioned dump (the plugin dumps per id-range so one table
    * never serializes through one writer).
    */
  private[plugins] def applyDumpOptions(df: DataFrame,
      opts: Map[String, Any]): DataFrame = {
    def offsetSeconds(k: String): Option[Int] =
      opts.get(k).map(String.valueOf).map { s =>
        val sign = if (s.startsWith("-")) -1 else 1
        val Array(h, m) = s.stripPrefix("+").stripPrefix("-").split(":")
        sign * (h.toInt * 3600 + m.toInt * 60)
      }
    val shift = (offsetSeconds("dst_zone_offset").getOrElse(0)
      - offsetSeconds("src_zone_offset").getOrElse(0))
    val shifted =
      if (shift == 0) df
      else df.select(df.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.TimestampType)
          (col(f.name) + expr(s"INTERVAL $shift SECONDS")).as(f.name)
        else col(f.name)
      }.toSeq: _*)
    opts.get("partition_column").map(String.valueOf) match {
      case Some(c) if shifted.columns.contains(c) =>
        shifted.repartitionByRange(col(c))
      case _ => shifted
    }
  }

  private[plugins] def dumpJsonGz(df: DataFrame, store: ObjectStore,
      prefix: String, gzip: Boolean, deleteObjects: Boolean): String = {
    if (deleteObjects)
      store.listRelative(prefix).foreach(store.delete)
    val url = store.urlString(prefix)
    var w = df.write.mode(SaveMode.Overwrite)
    if (gzip) w = w.option("compression", "gzip")
    w.json(url)
    url
  }

  /** Rebuild `dest` from `df` with the plugin's backup dance: the previous
    * dest survives as `<dest>_old` unless no-backup (reference plugin
    * drops or keeps the renamed-away table the same way).
    */
  private[plugins] def publishRebuild(ds: SparkDataSource, dest: TableSpec,
      ctSql: Option[String], load: TableSpec => Unit, noBackup: Boolean): Unit = {
    val wk = TableSpec(dest.schema, dest.name + "_wk")
    val old = TableSpec(dest.schema, dest.name + "_old")
    ds.dropForce(wk)
    var publishing = false
    try {
      ctSql match {
        case Some(sql) => ds.sql(sql.replaceFirst("(?is)create\\s+table\\s+[\\$\\w\\.]+",
          java.util.regex.Matcher.quoteReplacement(s"CREATE TABLE ${ds.qualify(wk)}")))
        case None => ()
      }
      load(wk)
      ds.dropForce(old)
      publishing = true
      if (ds.tableExists(dest)) ds.renameTable(dest, old)
      ds.renameTable(wk, dest)
      publishing = false
      if (noBackup) ds.dropForce(old)
    } catch {
      // same recovery discipline as SparkDataSource.stagedOverwrite: a
      // failure DURING publish restores dest from _old and keeps wk (it
      // may hold the only copy); before publish, wk is just dropped
      case e: Throwable =>
        try {
          if (publishing) {
            if (!ds.tableExists(dest) && ds.tableExists(old)) ds.renameTable(old, dest)
          } else ds.dropForce(wk)
        } catch { case _: Throwable => () } // original failure stays primary
        throw e
    }
  }

  /** `my-import`: dump src table → object store (json.gz) → rebuild dest
    * from table-def → COPY with the load option bag → analyze/grant.
    */
  object MyImportJobClass extends JobClass("my-import") {
    val params: Seq[Param] = Seq(
      DataSourceParam("spark", "src-ds"),
      SrcTableParam(),
      DataSourceParam("fs", "s3-ds"),
      StringParam("s3-prefix"),
      OptionalBoolParam("gzip", default = true),
      KeyValuePairsParam("dump-options"),
      DataSourceParam("spark", "dest-ds"),
      DestTableParam(),
      StringParam("table-def"),
      OptionalBoolParam("no-backup"),
      KeyValuePairsParam("options"),
      OptionalBoolParam("vacuum"), OptionalBoolParam("vacuum-sort"),
      OptionalBoolParam("analyze"),
      KeyValuePairsParam("grant"),
    )
    def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
      val src = ctx.registry.spark(p.string("src-ds"))
      val store = ctx.registry.store(p.string("s3-ds"))
      val destDs = ctx.registry.spark(p.string("dest-ds"))
      val dest = p.table("dest-table")
      val srcTables = p("src-tables").asInstanceOf[Map[String, TableSpec]]
      val prefix = vars.expand(p.string("s3-prefix"))
      val dumpOpts = p.pairs("dump-options")
      Seq(Action("my-import") {
        val srcTable = srcTables.values.headOption.getOrElse(
          throw new ParameterError("my-import: src-tables required"))
        val dumped = applyDumpOptions(src.table(srcTable), dumpOpts)
        val url = dumpJsonGz(dumped, store, prefix, p.bool("gzip"),
          deleteObjects = dumpOpts.get("delete_objects").exists(String.valueOf(_) == "true"))
        publishRebuild(destDs, dest,
          Some(ctCreateSql(destDs, ctx, p.string("table-def"), dest)), wk => {
          LoadOptions.withRead(destDs.spark, Seq(url), "json",
            p.pairs("options"), destDs.table(wk).schema) { df =>
            df.write.mode(SaveMode.Append).insertInto(destDs.qualify(wk))
          }
        }, p.bool("no-backup"))
        if (p.bool("analyze")) destDs.analyze(dest)
        p.pairs("grant") // ACL no-op, logged at the datasource layer
        ()
      })
    }
  }

  /** `my-migrate`: dump src table → local tmp file → put to the object
    * store → rebuild + COPY (the fixture migrate.job pipeline; tmp-file
    * and remove-tmp map the plugin's staging file).
    */
  object MyMigrateJobClass extends JobClass("my-migrate") {
    val params: Seq[Param] = Seq(
      DataSourceParam("spark", "src-ds"),
      SrcTableParam(),
      StringParam("tmp-file"),
      OptionalBoolParam("remove-tmp"),
      DataSourceParam("fs", "s3-ds"),
      StringParam("s3-file"),
      OptionalBoolParam("override"),
      DataSourceParam("spark", "dest-ds"),
      DestTableParam(),
      StringParam("table-def"),
      OptionalBoolParam("no-backup"),
      KeyValuePairsParam("options"),
      OptionalBoolParam("vacuum"), OptionalBoolParam("vacuum-sort"),
      OptionalBoolParam("analyze"),
      KeyValuePairsParam("grant"),
    )
    def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
      val src = ctx.registry.spark(p.string("src-ds"))
      val store = ctx.registry.store(p.string("s3-ds"))
      val destDs = ctx.registry.spark(p.string("dest-ds"))
      val dest = p.table("dest-table")
      val srcTables = p("src-tables").asInstanceOf[Map[String, TableSpec]]
      val tmpFile = java.nio.file.Paths.get(vars.expand(p.string("tmp-file")))
      val s3File = vars.expand(p.string("s3-file"))
      Seq(Action("my-migrate") {
        val srcTable = srcTables.values.headOption.getOrElse(
          throw new ParameterError("my-migrate: src-tables required"))
        // dump → single local gz file (the plugin writes one staging file).
        // The dump itself is distributed; the single file is produced by
        // byte-concatenating the gzip members (a valid gzip stream), so no
        // row ever passes through driver memory.
        val stage = graft.core.TempDirs.create("my-migrate-dump")
        src.table(srcTable).toJSON.write.mode(SaveMode.Overwrite)
          .option("compression", "gzip").text(stage.toString)
        import scala.jdk.CollectionConverters._
        val listing = java.nio.file.Files.list(stage)
        val parts =
          try listing.iterator.asScala
            .filter(_.getFileName.toString.endsWith(".gz")).toSeq.sortBy(_.toString)
          finally listing.close()
        val out = java.nio.file.Files.newOutputStream(tmpFile)
        try parts.foreach(part => java.nio.file.Files.copy(part, out))
        finally out.close()
        if (!p.bool("override") && store.listRelative(s3File).nonEmpty)
          throw new JobFailure(s"my-migrate: object exists (override: false): $s3File")
        store.put(tmpFile, s3File)
        if (p.bool("remove-tmp")) java.nio.file.Files.deleteIfExists(tmpFile)
        publishRebuild(destDs, dest,
          Some(ctCreateSql(destDs, ctx, p.string("table-def"), dest)), wk => {
          LoadOptions.withRead(destDs.spark, Seq(store.urlString(s3File)), "json",
            p.pairs("options"), destDs.table(wk).schema) { df =>
            df.write.mode(SaveMode.Append).insertInto(destDs.qualify(wk))
          }
        }, p.bool("no-backup"))
        if (p.bool("analyze")) destDs.analyze(dest)
        ()
      })
    }
  }

  /** `my-import-delta`: run the user SELECT against the source per
    * partition condition (the `@PARTITION_CONDITION@` placeholder), dump
    * to the object store, then DELETE delete-cond + INSERT — the
    * insert-delta pattern fed from an external source.
    */
  object MyImportDeltaJobClass extends JobClass("my-import-delta") {
    val params: Seq[Param] = Seq(
      SqlFileParam(),
      DataSourceParam("spark", "src-ds"),
      SrcTableParam(),
      DataSourceParam("fs", "s3-ds"),
      StringParam("s3-prefix"),
      OptionalBoolParam("gzip", default = true),
      KeyValuePairsParam("dump-options"),
      DataSourceParam("spark", "dest-ds"),
      DestTableParam(),
      StringParam("delete-cond"),
      KeyValuePairsParam("options"),
      OptionalBoolParam("vacuum"), OptionalBoolParam("vacuum-sort"),
      OptionalBoolParam("analyze"),
    )
    def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] = {
      val src = ctx.registry.spark(p.string("src-ds"))
      val store = ctx.registry.store(p.string("s3-ds"))
      val destDs = ctx.registry.spark(p.string("dest-ds"))
      val dest = p.table("dest-table")
      val cond = vars.expand(p.string("delete-cond"))
      val prefix = vars.expand(p.string("s3-prefix"))
      val dumpOpts = p.pairs("dump-options")
      val stmt = bindSql(ctx.sqlText(p.string("sql-file"), vars), vars, ctx)
      Seq(Action("my-import-delta") {
        // the plugin splits the dump by partition_column ranges; a single
        // full-range condition preserves the placeholder contract here and
        // repartitionByRange in applyDumpOptions keeps writers parallel
        val sel = stmt.stripped.replace("@PARTITION_CONDITION@", "1=1")
        val dumped = applyDumpOptions(src.sql(sel), dumpOpts)
        val url = dumpJsonGz(dumped, store, prefix, p.bool("gzip"),
          deleteObjects = dumpOpts.get("delete_objects").exists(String.valueOf(_) == "true"))
        destDs.stagedOverwrite(dest) { wk =>
          destDs.sql(s"CREATE TABLE ${destDs.qualify(wk)} USING parquet AS " +
            s"SELECT * FROM ${destDs.qualify(dest)} WHERE NOT ($cond)")
          LoadOptions.withRead(destDs.spark, Seq(url), "json",
            p.pairs("options"), destDs.table(wk).schema) { df =>
            df.write.mode(SaveMode.Append).insertInto(destDs.qualify(wk))
          }
        }
        if (p.bool("analyze")) destDs.analyze(dest)
        ()
      })
    }
  }
}
