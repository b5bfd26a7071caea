package graft.jobclass

import java.nio.file.{Files, Path}

import graft.core._
import graft.ds.{CtTranslator, DataSourceRegistry, SparkDataSource}

/** Execution context for compiled jobs (reference: lib/bricolage/context.rb):
  * home directory (fixture tree of subsystems), datasource registry, global
  * variables.
  */
final case class JobContext(registry: DataSourceRegistry, home: Path,
    subsys: String = "", globalVariables: Variables = Variables.empty) {

  def subsysDir: Path = if (subsys.isEmpty) home else home.resolve(subsys)

  /** Resolve a sql-file parameter value: a path (relative to the subsystem
    * directory) if such a file exists, otherwise inline SQL text
    * (.sql.job bodies arrive as text — reference: jobfile.rb:25-41).
    */
  def sqlText(value: String, vars: Variables = Variables.empty): String = {
    // inline SQL body from a .sql.job: file paths never contain whitespace
    if (value.contains("\n") || value.trim.contains(" ")) return value
    val expanded = vars.expand(value)
    val p = subsysDir.resolve(expanded)
    // a bare job id also resolves as `<id>.sql` (reference:
    // job.rb:133-134 + filesystem.rb sql file lookup)
    val pSql = subsysDir.resolve(expanded + ".sql")
    if (Files.exists(p)) Files.readString(p)
    else if (!expanded.endsWith(".sql") && Files.exists(pSql)) Files.readString(pSql)
    else if (expanded.endsWith(".sql"))
      throw new JobError(s"SQL file not found: $p")
    else value
  }

  /** Read a .ct create-table file (reference: user-authored DDL, SURVEY §1.2). */
  def ctText(value: String): String = {
    val p = subsysDir.resolve(value)
    if (!Files.exists(p)) throw new JobError(s".ct file not found: $p")
    Files.readString(p)
  }
}

/** One sequential step of a compiled job
  * (reference: lib/bricolage/script.rb:8-118 — script = tasks = actions;
  * actions run sequentially, last result wins).
  */
trait Action {
  def label: String
  def run(): Unit
  /** Plan text for `-E/--explain` — SQL-backed actions return their
    * EXPLAIN output instead of executing (reference: job.rb:146-149 +
    * psqldatasource.rb:273-296 explain_source); non-SQL actions are
    * skipped.
    */
  def explain(): Option[String] = None
}

object Action {
  def apply(lbl: String)(body: => Unit): Action = new Action {
    val label: String = lbl
    def run(): Unit = body
  }

  /** An action that can also be EXPLAINed without running. */
  def explainable(lbl: String)(explainFn: => String)(body: => Unit): Action =
    new Action {
      val label: String = lbl
      def run(): Unit = body
      override def explain(): Option[String] = Some(explainFn)
    }
}

/** A named job template declaring typed parameters and building an action
  * sequence (reference: lib/bricolage/jobclass.rb:9-110).
  */
abstract class JobClass(val id: String) {
  def params: Seq[Param]
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action]

  protected def sparkDs(p: ParamValues, ctx: JobContext,
      param: String = "data-source", default: String = "sql"): SparkDataSource =
    ctx.registry.spark(p.stringOpt(param).getOrElse(default))

  /** The CREATE TABLE statement of the `.ct` definition `tableDef`,
    * retargeted at `table` (reference: user-authored DDL, SURVEY §1.2).
    */
  protected def ctCreateSql(ds: SparkDataSource, ctx: JobContext,
      tableDef: String, table: TableSpec): String =
    CtTranslator.translate(ctx.ctText(tableDef), Some(ds.qualify(table))).createSql

  /** `stmt` with `$dest_table` (bound to dest's qualified name) rewritten
    * to the work table `wk` (reference: rebuild-rename.rb:32-35).
    */
  protected def retarget(stmt: SqlStatement, ds: SparkDataSource,
      dest: TableSpec, wk: TableSpec): SqlStatement =
    stmt.replace(java.util.regex.Pattern.quote(ds.qualify(dest)), ds.qualify(wk))

  /** Bind a SQL script against the job's variables; ERB helpers see the
    * job's home/subsystem dirs (reference binds EmbeddedCodeAPI the same way).
    */
  protected def bindSql(text: String, vars: Variables,
      ctx: JobContext): SqlStatement =
    new SqlStatement(text).bind(vars,
      ErbContext(Some(ctx.home), Some(ctx.subsysDir)))
}

object JobClass {
  /** Lazily-initialized registry (reference: jobclass.rb:37-49 loads
    * jobclass files on demand; here a static map).
    */
  lazy val registry: Map[String, JobClass] = Seq(
    SqlJobClass, InsertJobClass, InsertDeltaJobClass, CreateJobClass,
    CreateViewJobClass, RebuildDropJobClass, RebuildRenameJobClass,
    LoadJobClass, UnloadJobClass, FsPutJobClass, ExecJobClass, NoopJobClass,
    AdhocJobClass, WaitFileJobClass, graft.streaming.StreamingLoadJobClass,
  ).map(jc => jc.id -> jc).toMap +
    ("s3-put" -> FsPutJobClass) // reference class name (jobclass/s3-put.rb)

  /** User-registered job classes (the reference's plugin model: out-of-repo
    * classes like bricolage-mysql's my-import — jobclass.rb:12-18; custom
    * registrations shadow built-ins, latest wins).
    */
  private val custom =
    new java.util.concurrent.ConcurrentHashMap[String, JobClass]()

  def register(jc: JobClass): Unit = { custom.put(jc.id, jc); () }

  def get(id: String): JobClass =
    Option(custom.get(id)).orElse(registry.get(id))
      .getOrElse(throw new ParameterError(s"no such job class: $id"))

  /** Sorted class ids for `--list-job-class`
    * (reference: application.rb:338-342 JobClass.list).
    */
  def list: Seq[String] = {
    import scala.jdk.CollectionConverters._
    (registry.keys ++ custom.keySet.asScala).toSeq.distinct.sorted
  }
}

/** Define a job class from a plain function — the ScalaJobClass analogue
  * of the reference's RubyJobClass (rubyjobclass.rb:7-48), which lets a
  * user script contribute a job class without subclassing.
  */
final class ScalaJobClass(id: String, val declaredParams: Seq[Param])(
    builder: (ParamValues, Variables, JobContext) => Seq[Action])
    extends JobClass(id) {
  def params: Seq[Param] = declaredParams
  def build(p: ParamValues, vars: Variables, ctx: JobContext): Seq[Action] =
    builder(p, vars, ctx)
}
