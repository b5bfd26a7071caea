package graft.ds

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{JobError, JobFailure, SqlStatement, TableSpec}

/** Typed, named connection configs (reference: lib/bricolage/datasource.rb:98-149;
  * types psql/s3/file/generic/ruby at datasource.rb:10-22). Here:
  * `spark` (SparkSession + warehouse catalog — replaces `psql`),
  * `fs` (filesystem tree — replaces `s3`; the production path would be an
  * s3a:// Hadoop filesystem, same API), `file` (local files), `generic`.
  */
trait DataSource {
  def name: String
}

object DataSource {
  /** Kill switch for dropForce's orphan-location purge — deployments that
    * share one warehouse across CONCURRENT jobnet JVMs (where a purge
    * keyed on the table name could race a live peer) set
    * -Dgraft.dropforce.purge_orphans=false and accept that a crashed
    * prior run's location must be cleaned out of band.
    */
  def purgeOrphans: Boolean =
    sys.props.getOrElse("graft.dropforce.purge_orphans", "true").toBoolean

  /** True when every regular file under `loc` is something a table writer
    * produces: data files (parquet/orc/csv/tsv/json), Hadoop commit
    * markers (_SUCCESS, _committed*, _started*), or checksum sidecars
    * (.crc). Partition subdirectories recurse. Anything else means the
    * directory is NOT an orphaned managed table and must not be purged.
    *
    * Vacuously true for an EMPTY directory — deliberately: a
    * create-then-crash orphan is often an empty dir and must be purged
    * to clear LOCATION_ALREADY_EXISTS, while a concurrent peer whose
    * just-created empty location we race is unharmed (Hadoop writers
    * recreate parent dirs on the first part-file write). The remaining
    * window — a peer's IN-FLIGHT non-empty table, whose part files are
    * indistinguishable from an orphan's — is the documented inherent
    * race of in-memory catalogs over one warehouse; shared-warehouse
    * concurrent deployments disable the purge (see [[purgeOrphans]]).
    */
  private val DataFileExts =
    Seq(".parquet", ".orc", ".csv", ".tsv", ".json", ".txt", ".gz")

  private[ds] def looksLikeTableData(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path): Boolean = {
    val it = fs.listFiles(loc, true)
    var ok = true
    while (ok && it.hasNext) {
      val f = it.next().getPath.getName.toLowerCase(java.util.Locale.ROOT)
      ok = f.startsWith("_") || f.endsWith(".crc") ||
        DataFileExts.exists(f.endsWith)
    }
    ok
  }
}

final class GenericDataSource(val name: String) extends DataSource

/** The warehouse datasource (replaces PSQLDataSource,
  * reference: lib/bricolage/psqldatasource.rb:13-217). All SQL runs
  * in-process via spark.sql with real exceptions instead of a psql
  * subprocess; the §2.2 primitive actions are methods here.
  */
final class SparkDataSource(val name: String, val spark: SparkSession,
    val defaultSchema: String = "default") extends DataSource {

  def qualify(t: TableSpec): String =
    t.schema.getOrElse(defaultSchema) + "." + t.name

  /** Statements are logged with credentials masked
    * (reference: postgresconnection.rb:267-274 — kept verbatim even though
    * Spark-side SQL rarely embeds secrets).
    */
  var sqlLogging: Boolean = false

  def sql(stmt: String): DataFrame = {
    if (sqlLogging)
      System.err.println(s"[$name] ${SparkDataSource.maskSecrets(stmt)}")
    try spark.sql(stmt)
    catch {
      case e: JobError   => throw e
      case e: Exception  => throw new JobFailure(s"SQL failed: ${e.getMessage}", e)
    }
  }

  /** Cursor-batch read parity (reference: postgresconnection.rb:151-155,
    * 206-241 — `declare cursor` + `fetch N`, default 5000): stream the
    * result through the driver in bounded batches without collecting.
    */
  def queryBatch(stmt: String, batchSize: Int = 5000)(
      f: Seq[org.apache.spark.sql.Row] => Unit): Unit = {
    val it = sql(stmt).toLocalIterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    while (it.hasNext) {
      buf += it.next()
      if (buf.size >= batchSize) { f(buf.toSeq); buf.clear() }
    }
    if (buf.nonEmpty) f(buf.toSeq)
  }

  /** Run every statement of a bound SQL script; the last result wins
    * (reference: lib/bricolage/script.rb:44-50).
    */
  def execScript(s: SqlStatement): Option[DataFrame] = {
    var last: Option[DataFrame] = None
    s.statements.foreach { stmt =>
      // VACUUM is storage maintenance — meaningless on immutable Parquet,
      // honored as a logged no-op so reference scripts (raw-vacuum.sql.job)
      // run unchanged (psqldatasource.rb:342-352, SURVEY §7.5). Keyword
      // sniffing skips leading comments.
      if (SqlStatement.firstKeyword(stmt) == "vacuum")
        System.err.println(s"[$name] vacuum (no-op on parquet): $stmt")
      else SqlStatement.dropIfExistsTable(stmt) match {
        // DROP TABLE IF EXISTS in a script routes through dropForce so it
        // also clears an orphaned managed location left by a prior JVM
        // (see dropForce) — otherwise a setup script's drop/create pair
        // is only idempotent within one process lifetime. A name
        // TableSpec can't model (3-part `catalog.db.t` — valid Spark
        // SQL) falls back to the plain statement: orphan cleanup is a
        // best-effort extra, never a reason to reject a valid script.
        // Either way the drop's (empty) frame updates `last`, so a
        // script ENDING in a drop returns the drop's result, not the
        // prior statement's (round-16 ADVICE).
        case Some(tbl) =>
          scala.util.Try(TableSpec.parse(tbl)).toOption match {
            case Some(t) => last = Some(dropForceReturning(t))
            case None    => last = Some(sql(stmt))
          }
        case None      => last = Some(sql(stmt))
      }
    }
    last
  }

  // --- §2.2 primitive actions (reference: psqldatasource.rb:233-474) ---

  def createDummyTable(t: TableSpec): Unit =
    sql(s"CREATE TABLE IF NOT EXISTS ${qualify(t)} (x INT) USING parquet")

  def drop(t: TableSpec): Unit = sql(s"DROP TABLE ${qualify(t)}")

  def dropForce(t: TableSpec): Unit = { dropForceReturning(t); () }

  /** [[dropForce]] returning the DROP's (empty) result frame, so script
    * execution can report it as the statement result (execScript `last`).
    */
  private[graft] def dropForceReturning(t: TableSpec): DataFrame = {
    // `drop ... cascade` parity: Spark has no CASCADE for tables; views on
    // the table are session-scoped and dropped separately by callers.
    val dropped = sql(s"DROP TABLE IF EXISTS ${qualify(t)}")
    // Persistent-warehouse parity (Redshift's DROP removes storage): the
    // session catalog is in-memory per JVM while the warehouse directory
    // persists, so a managed table created by a PRIOR process leaves an
    // orphaned location the catalog no longer knows about — and the next
    // CREATE TABLE in a fresh JVM (the cron deployment shape: one JVM per
    // jobnet run) dies with LOCATION_ALREADY_EXISTS. When the drop found
    // no catalog entry, clear the orphan location explicitly. Uses the
    // Hadoop FileSystem API so the same code path works on s3a.
    //
    // Two guards (round-16 ADVICE): (a) the managed-location directory is
    // Spark's LOWERCASED identifier, while t.name keeps script case —
    // `DROP TABLE IF EXISTS MyTable` must find `mytable/` on a
    // case-sensitive FS; (b) the purge deletes only a directory that
    // LOOKS like an orphaned managed table (data/commit files and
    // partition subdirs only — nothing a table writer wouldn't produce),
    // so a same-named unrelated directory in a shared warehouse is
    // reported, not destroyed. The residual shared-warehouse race (a
    // concurrent JVM's live same-named table) is inherent to in-memory
    // catalogs over one warehouse; deployments that share a warehouse
    // across concurrent jobnets can disable the purge with
    // -Dgraft.dropforce.purge_orphans=false (catalog-level locking is a
    // metastore's job, out of scope per SURVEY §7.5).
    if (DataSource.purgeOrphans && !spark.catalog.tableExists(qualify(t))) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      // Locale.ROOT: SessionCatalog.formatTableName lowercases with the
      // root locale — a tr_TR default locale would fold 'INDEX_T' to
      // 'ındex_t' and miss Spark's 'index_t' directory
      val db = t.schema.getOrElse(defaultSchema)
        .toLowerCase(java.util.Locale.ROOT)
      val nm = t.name.toLowerCase(java.util.Locale.ROOT)
      val rel = if (db == "default") nm else s"$db.db/$nm"
      val loc = new org.apache.hadoop.fs.Path(wh, rel)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) {
        if (DataSource.looksLikeTableData(fs, loc)) {
          System.err.println(s"[$name] drop_force: clearing orphaned managed" +
            s" location $loc (table absent from this JVM's catalog)")
          fs.delete(loc, true)
        } else
          System.err.println(s"[$name] drop_force: NOT clearing $loc — " +
            "contents do not look like table data (non-data files present)")
      }
    }
    dropped
  }

  def dropViewForce(t: TableSpec): Unit = { sql(s"DROP VIEW IF EXISTS ${qualify(t)}"); () }

  def truncate(t: TableSpec): Unit = { sql(s"TRUNCATE TABLE ${qualify(t)}"); () }

  def renameTable(from: TableSpec, to: TableSpec): Unit = {
    sql(s"ALTER TABLE ${qualify(from)} RENAME TO ${qualify(to)}")
    ()
  }

  /** VACUUM parity: storage reclaim is meaningless on immutable Parquet;
    * kept as an explicit no-op hook (reference: psqldatasource.rb:342-352,
    * SURVEY §7.5).
    */
  def vacuum(t: TableSpec, sortOnly: Boolean = false): Unit = ()

  /** Plan text for a statement (reference: psqldatasource.rb:273-296
    * generates `explain <stmt>` for select/insert/update/delete kinds).
    * The statement is prefixed with EXPLAIN rather than planned via
    * `spark.sql(stmt).queryExecution` because Spark executes DML commands
    * (INSERT/CREATE ...) eagerly on `spark.sql` — EXPLAIN only parses.
    */
  def explain(stmt: String): String =
    sql("EXPLAIN EXTENDED " + stmt).collect().map(_.getString(0)).mkString("\n")

  /** EXPLAIN every explainable statement of a bound script; DDL and
    * maintenance statements are listed unexplained
    * (reference: job.rb:146-149 Job#explain over the script's actions).
    */
  def explainScript(s: SqlStatement): String =
    s.statements.map { stmt =>
      SqlStatement.firstKeyword(stmt) match {
        case "select" | "insert" | "update" | "delete" | "with" => explain(stmt)
        case _ => s"-- (not explainable) $stmt"
      }
    }.mkString("\n")

  def analyze(t: TableSpec): Unit = {
    sql(s"ANALYZE TABLE ${qualify(t)} COMPUTE STATISTICS")
    ()
  }

  /** GRANT parity: no ACLs in a session catalog; logged no-op
    * (reference: psqldatasource.rb:366-384, SURVEY §7.3).
    */
  def grant(priv: String, on: TableSpec, to: String): Unit = ()

  def tableExists(t: TableSpec): Boolean =
    spark.catalog.tableExists(qualify(t))

  def table(t: TableSpec): DataFrame = spark.table(qualify(t))

  /** Transaction emulation (reference: psqldatasource.rb:386-390 +
    * SURVEY §4.3): run `body` against a staged `_wk` table, then atomically
    * publish via catalog rename — the reference's own zero-downtime idiom
    * (rebuild-rename.rb:28-50). On failure before the publish renames the
    * work table is dropped; on failure DURING publish the handler restores
    * `dest` from `_old` and keeps `_wk` (it may hold the only copy of the
    * new data), same as the reference leaving `<name>_old` behind.
    */
  def stagedOverwrite(dest: TableSpec)(body: TableSpec => Unit): Unit = {
    val wk = TableSpec(dest.schema, dest.name + "_wk")
    val old = TableSpec(dest.schema, dest.name + "_old")
    dropForce(wk)
    var publishing = false
    try {
      body(wk)
      dropForce(old)
      publishing = true
      if (tableExists(dest)) renameTable(dest, old)
      renameTable(wk, dest)
      publishing = false
      dropForce(old)
    } catch {
      case e: Throwable =>
        try {
          if (publishing) {
            // dest may have been renamed away: bring it back; never drop wk
            if (!tableExists(dest) && tableExists(old)) renameTable(old, dest)
          } else dropForce(wk)
        } catch { case _: Throwable => () } // original failure stays primary
        throw e
    }
  }
}

/** Filesystem datasource (replaces S3DataSource,
  * reference: lib/bricolage/s3datasource.rb:9-141): url building, listing,
  * get/put/delete/move. Backed by java.nio here; on a cluster the same
  * operations go through the Hadoop FileSystem API against s3a://.
  */
/** SNS datasource parity (reference: lib/bricolage/snsdatasource.rb:6-38 —
  * used as a logging device publishing job events to a topic). No network
  * in this engine: a log-appender stub with a pluggable sink
  * (SURVEY §2.4 maps SNS to "log appender").
  */
final class SnsDataSource(val name: String,
    sink: String => Unit = m => System.err.println(s"[sns] $m")) extends DataSource {
  def publish(message: String): Unit = sink(message)
}

object SparkDataSource {
  /** reference: postgresconnection.rb:271-273 */
  def maskSecrets(msg: String): String =
    msg.replaceAll("(?is)\\bcredentials\\s+'.*?'", "credentials '****'")
}

/** Object-store surface shared by the local-FS and Hadoop-FS datasources —
  * everything the load/unload/streaming-load job classes need, expressed
  * over store-relative string paths so an s3a:// base works the same as a
  * local directory (reference: lib/bricolage/s3datasource.rb:105-192).
  */
trait ObjectStore extends DataSource {
  /** Absolute URL for a store-relative path (feedable to spark.read). */
  def urlString(rel: String): String
  /** Recursive file listing under `prefix`, as base-relative paths. */
  def listRelative(prefix: String): Seq[String]
  def put(local: Path, rel: String): Unit
  def get(rel: String): Array[Byte]
  def delete(rel: String): Unit
  /** Dequeue-by-move, tolerating a missing source (eventual consistency —
    * reference: streaming_load.rb:502-514).
    */
  def move(fromRel: String, toRel: String): Unit
}

final class FsDataSource(val name: String, val base: Path) extends DataSource
    with ObjectStore {

  // a leading "/" means bucket-root-relative, as in S3 object keys
  // (reference fixture load.job: `src-file: /search_backends/...`)
  def url(rel: String): Path = base.resolve(rel.stripPrefix("/"))

  def urlString(rel: String): String = url(rel).toString

  def listRelative(prefix: String): Seq[String] =
    list(prefix).map(f => base.relativize(f).toString)

  /** Prefix listing with bounded retry (reference: s3datasource.rb:127-140
    * `traverse` — 3 retries on transient errors, 1 s sleep).
    */
  def list(prefix: String): Seq[Path] =
    graft.core.Retry.withRetry(limit = 3, sleepMs = 1000) {
      val dir = url(prefix)
      if (!Files.isDirectory(dir)) Nil
      else Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    }

  def put(local: Path, rel: String): Unit = {
    val target = url(rel)
    Files.createDirectories(target.getParent)
    Files.copy(local, target, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  def get(rel: String): Array[Byte] = Files.readAllBytes(url(rel))

  def delete(rel: String): Unit = { Files.deleteIfExists(url(rel)); () }

  def move(fromRel: String, toRel: String): Unit = {
    val from = url(fromRel)
    if (Files.exists(from)) {
      val to = url(toRel)
      Files.createDirectories(to.getParent)
      Files.move(from, to, StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }
}

/** Hadoop-FileSystem-backed object store: the same operations against any
  * Hadoop-compatible URI — `file:`, `hdfs:`, `s3a:` — so the S3 paths of
  * the reference run unchanged on a real cluster. Listing carries the
  * reference's 3-retry discipline (s3datasource.rb:127-140).
  */
final class HadoopFsDataSource(val name: String, baseUri: String)
    extends DataSource with ObjectStore {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  private val base = new HPath(baseUri)
  private lazy val fsys: FileSystem = base.getFileSystem(new Configuration())

  private def abs(rel: String): HPath = new HPath(base, rel.stripPrefix("/"))

  def urlString(rel: String): String = abs(rel).toString

  def listRelative(prefix: String): Seq[String] =
    graft.core.Retry.withRetry(limit = 3, sleepMs = 1000) {
      val dir = abs(prefix)
      if (!fsys.exists(dir)) Nil
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val it = fsys.listFiles(dir, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile)
            out += base.toUri.relativize(st.getPath.toUri).getPath
        }
        out.toSeq.sorted
      }
    }

  def put(local: Path, rel: String): Unit = {
    val target = abs(rel)
    fsys.mkdirs(target.getParent)
    fsys.copyFromLocalFile(false, true, new HPath(local.toUri), target)
  }

  def get(rel: String): Array[Byte] = {
    val in = fsys.open(abs(rel))
    try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
    finally in.close()
  }

  def delete(rel: String): Unit = { fsys.delete(abs(rel), false); () }

  def move(fromRel: String, toRel: String): Unit = {
    val from = abs(fromRel)
    if (fsys.exists(from)) {
      val to = abs(toRel)
      fsys.mkdirs(to.getParent)
      fsys.rename(from, to)
      ()
    }
  }
}

/** Local-file datasource (reference: lib/bricolage/filedatasource.rb:6-39). */
/** A server-database datasource resolvable by `--db-name` for the DB task
  * queue (reference: jobnetrunner.rb:100-105 resolves a 'psql' datasource;
  * psqldatasource.rb builds the connection from host/port/database). An
  * explicit `url:` wins; otherwise a PostgreSQL JDBC URL is assembled from
  * host/port/database. The queue store (JdbcExecutionStore) is ANSI-SQL
  * JDBC, so any server the driver jars can reach works.
  */
final class JdbcDataSource(val name: String, config: Map[String, String])
    extends DataSource {
  val url: String = config.getOrElse("url", {
    val host = config.getOrElse("host", "localhost")
    val port = config.getOrElse("port", "5432")
    val db = config.getOrElse("database",
      throw new JobError(s"datasource $name: 'url' or 'database' required"))
    s"jdbc:postgresql://$host:$port/$db"
  })

  /** Connection credentials from the datasource config — `password` is
    * typically merged in from password.yml (reference:
    * psqldatasource.rb:13-27 username/password keys).
    */
  val properties: java.util.Properties = {
    val p = new java.util.Properties()
    config.get("username").orElse(config.get("user"))
      .foreach(p.setProperty("user", _))
    config.get("password").foreach(p.setProperty("password", _))
    p
  }
}

final class FileDataSource(val name: String, val baseDir: Path) extends DataSource {
  def resolve(rel: String): Path = baseDir.resolve(rel)
  def removeGlob(pattern: String): Int = {
    val matcher = baseDir.getFileSystem.getPathMatcher("glob:" + pattern)
    val removed = Files.walk(baseDir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && matcher.matches(baseDir.relativize(p)))
      .toSeq
    removed.foreach(Files.delete(_))
    removed.size
  }
}

/** Registry loaded from datasource.yml-style config
  * (reference: lib/bricolage/context.rb:96-133, datasource.rb:10-22).
  */
final class DataSourceRegistry(sources: Map[String, DataSource]) {
  def get(name: String): DataSource =
    sources.getOrElse(name, throw new JobError(s"no such datasource: $name"))
  def spark(name: String): SparkDataSource = get(name) match {
    case s: SparkDataSource => s
    case _ => throw new JobError(s"not a spark datasource: $name")
  }
  def fs(name: String): FsDataSource = get(name) match {
    case s: FsDataSource => s
    case _ => throw new JobError(s"not a fs datasource: $name")
  }
  def store(name: String): ObjectStore = get(name) match {
    case s: ObjectStore => s
    case _ => throw new JobError(s"not an object-store datasource: $name")
  }
  def file(name: String): FileDataSource = get(name) match {
    case s: FileDataSource => s
    case _ => throw new JobError(s"not a file datasource: $name")
  }
  def jdbc(name: String): JdbcDataSource = get(name) match {
    case s: JdbcDataSource => s
    case _ => throw new JobError(s"not a jdbc datasource: $name")
  }
}

object DataSourceRegistry {
  /** Build from a parsed datasource.yml map:
    * `name: {type: spark|fs|file|generic, ...}`.
    */
  def fromConfig(config: Map[String, Any], spark: => SparkSession): DataSourceRegistry = {
    val sources = config.map { case (name, raw) =>
      val opts = raw match {
        case m: Map[_, _] => m.map { case (k, v) => String.valueOf(k) -> String.valueOf(v) }
        case _            => Map.empty[String, String]
      }
      val ds: DataSource = opts.getOrElse("type", "generic") match {
        case "spark"   => new SparkDataSource(name, spark, opts.getOrElse("schema", "default"))
        case "fs"      => new FsDataSource(name, Paths.get(opts.getOrElse("base", ".")))
        case "hadoopfs" | "s3" =>
          new HadoopFsDataSource(name, opts.getOrElse("base",
            throw new JobError(s"datasource $name: 'base' URI required")))
        case "file"    => new FileDataSource(name, Paths.get(opts.getOrElse("base", ".")))
        case "generic" => new GenericDataSource(name)
        case "jdbc" | "psql" | "postgres" | "postgresql" =>
          new JdbcDataSource(name, opts)
        case "sns"     => new SnsDataSource(name)
        case "redis" | "kvs" => new graft.plugins.RedisPlugin.KvsDataSource(name)
        case other     => throw new JobError(s"unknown datasource type: $other")
      }
      name -> ds
    }
    new DataSourceRegistry(sources)
  }
}
