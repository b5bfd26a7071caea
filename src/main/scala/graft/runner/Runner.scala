package graft.runner

import java.nio.file.{Files, Path}
import scala.collection.mutable

import graft.core._
import graft.jobclass.{Action, JobClass, JobContext}
import graft.net.{JobDAG, JobNet, JobRef, MemoryTaskQueue, TaskQueue}

/** Lifecycle hooks with error-swallowing handlers
  * (reference: lib/bricolage/eventhandlers.rb:2-51; fired at
  * application.rb:79-83 and jobnetrunner.rb:159-181).
  */
trait JobListener {
  /** Fired by the CLI entry points before argv parsing — the reference's
    * 5th hook (eventhandlers.rb:25-31). The returned sequence REPLACES the
    * argv (the reference's hooks mutate ARGV to inject default options);
    * return `args` unchanged to only observe.
    */
  def beforeOptionParsing(args: Seq[String]): Seq[String] = args
  def beforeAllJobs(refs: Seq[JobRef]): Unit = ()
  def beforeJob(ref: JobRef): Unit = ()
  def afterJob(ref: JobRef, result: JobResult): Unit = ()
  def afterAllJobs(result: JobResult): Unit = ()
}

object JobListener {
  /** Globally registered handlers — the analogue of the reference's
    * hooks-file registration (`Bricolage.before_option_parsing { ... }`,
    * eventhandlers.rb:25-41). The CLI mains fire these in addition to any
    * listeners passed explicitly.
    */
  private val global = new java.util.concurrent.CopyOnWriteArrayList[JobListener]()
  def register(l: JobListener): Unit = { global.add(l); () }
  def registered: Seq[JobListener] = {
    import scala.jdk.CollectionConverters._
    global.asScala.toSeq
  }

  /** Fire `f` swallowing handler errors (reference: eventhandlers.rb:30-40). */
  def fire(listeners: Seq[JobListener])(f: JobListener => Unit): Unit =
    listeners.foreach { l =>
      try f(l) catch { case e: Exception =>
        System.err.println(s"[hook] handler failed (ignored): ${e.getMessage}")
      }
    }

  /** Thread argv through every beforeOptionParsing hook (a failing hook is
    * skipped, keeping the args it received).
    */
  def fireOptionParsing(listeners: Seq[JobListener],
      args: Seq[String]): Seq[String] =
    listeners.foldLeft(args) { (acc, l) =>
      try l.beforeOptionParsing(acc) catch { case e: Exception =>
        System.err.println(s"[hook] handler failed (ignored): ${e.getMessage}")
        acc
      }
    }
}

/** A job: id + job class + context; compile resolves parameters and
  * variables in precedence order and builds the action sequence; execute
  * runs it (reference: lib/bricolage/job.rb:14-228).
  */
final class Job(val id: String, jobFile: JobFile, ctx: JobContext,
    cliOptions: Map[String, String] = Map.empty,
    cliVariables: Variables = Variables.empty,
    jobPath: Option[Path] = None) {

  private lazy val jc = JobClass.get(jobFile.jobClass)

  /** Declared parameter names for `--list-declarations` (reference:
    * application.rb:60-62 + job.rb:137-138 — the reference parses SQL
    * header declarations; here the job class IS the declaration surface).
    */
  def declarations(): Seq[String] = jc.params.map(_.name)

  /** The job's final resolved variable overlay for `--list-variables`
    * (reference: application.rb:64-66 + job.rb:111-122).
    */
  def variables(): Variables = resolveAll()._2

  /** Compile (reference: job.rb:88-126): resolve params against globals,
    * union variables in precedence order — global < published params <
    * job-file rest vars < -v CLI vars (job.rb:111-120) — then build and
    * bind the script.
    */
  def compile(): Seq[Action] = {
    val (params, vars) = resolveAll()
    jc.build(params, vars, ctx)
  }

  private def resolveAll(): (ParamValues, Variables) = {
    val declNames = jc.params.map(_.name).toSet
    val (declared, rest) = jobFile.values.partition { case (k, _) => declNames(k) }
    val withInline = jobFile.inlineScript match {
      case Some(sql) if declNames("sql-file") && !declared.contains("sql-file") =>
        declared + ("sql-file" -> sql)
      case _ => declared
    }
    // sql-file defaults to the job id, resolved as `<id>.sql` next to the
    // job file (reference: job.rb:133-134 provide_sql_file_by_job_id,
    // fixture separated.job/separated.sql)
    val withSqlDefault =
      if (jc.params.exists { case p: SqlFileParam => !p.optional; case _ => false }
          && !withInline.contains("sql-file")) {
        val base = id.stripSuffix(".job").stripSuffix(".sql")
        withInline + ("sql-file" -> base)
      } else withInline
    // the job file's own path publishes as $script — a .rb/.py/.sh.job's
    // '#' header makes the file directly runnable, so `args: ["sh",
    // "$script"]` executes the job file itself (reference:
    // jobfile.rb:131-135 global_variables)
    val globals = jobPath.map(p => ctx.globalVariables.add("script", p.toString))
      .getOrElse(ctx.globalVariables)
    val restVars = Variables.fromMap(rest.map { case (k, v) => k -> String.valueOf(v) })
    // parameter values may reference job-file rest variables and -v CLI
    // variables, not just globals (reference: test_variables.rb "job
    // parameter can refer job file variables" — job.rb:88-126 resolves the
    // full variable overlay before materializing parameters). LENIENT
    // resolve: a rest variable may itself reference a parameter-published
    // variable ($dest_table) that only exists in the final overlay — that
    // must not fail unless a parameter actually consumes it here.
    val paramVars = globals.union(restVars).union(cliVariables).resolveLenient()
    val params = new ParamDecls(jc.params)
      .materialize(withSqlDefault, cliOptions, paramVars)
    val vars = globals
      .union(params.publishedVariables)
      .union(restVars)
      .union(cliVariables)
      .resolve()
    (params, vars)
  }

  /** Execute compiled actions sequentially; the failed action maps to the
    * reference's exit taxonomy (reference: job.rb:151-185,
    * script.rb:44-50,78-86). No fork: a failed job must not kill the
    * runner. Per-action elapsed time is logged (the reference's
    * `\timing on` psql prologue — psqldatasource.rb:255-264,
    * logger.rb:41-52).
    */
  def execute(): JobResult =
    try {
      compile().foreach { a =>
        val t0 = System.nanoTime()
        a.run()
        System.err.println(
          f"[job $id] ${a.label}: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      JobResult.success
    } catch {
      case e: Throwable => JobResult.forException(e)
    }
}

/** Single-job entry point (reference: bin/bricolage →
  * lib/bricolage/application.rb:37-91).
  */
object Application {

  def runJobFile(path: Path, ctx: JobContext,
      cliOptions: Map[String, String] = Map.empty,
      cliVariables: Variables = Variables.empty,
      listeners: Seq[JobListener] = Nil): JobResult = {
    val name = path.getFileName.toString
    val job = new Job(name, JobFile.load(path), ctx, cliOptions, cliVariables,
      Some(path.toAbsolutePath))
    runJob(job, JobRef(ctx.subsys, name, isNet = false), listeners)
  }

  /** Execute a built job between the beforeJob/afterJob hooks. */
  def runJob(job: Job, ref: JobRef, listeners: Seq[JobListener]): JobResult = {
    JobListener.fire(listeners)(_.beforeJob(ref))
    val result = job.execute()
    JobListener.fire(listeners)(_.afterJob(ref, result))
    result
  }
}

/** Jobnet entry point (reference: bin/bricolage-jobnet →
  * lib/bricolage/jobnetrunner.rb:40-93): parse the root net, recursively
  * resolve subnets, topo-sort, enqueue, pre-flight compile every job, then
  * consume the queue stopping at the first failure.
  */
final class JobNetRunner(ctx: JobContext,
    listeners: Seq[JobListener] = Nil) {

  /** Locate a job file for a ref: `<home>/<subsys>/<name>{.job,.sql.job,...}`
    * (reference: lib/bricolage/filesystem.rb:16-27 job_file resolution).
    */
  def jobFilePath(ref: JobRef): Path = {
    val dir = if (ref.subsys.isEmpty) ctx.home else ctx.home.resolve(ref.subsys)
    val candidates = Seq(s"${ref.name}.job", s"${ref.name}.sql.job",
      s"${ref.name}.rb.job", s"${ref.name}.py.job", s"${ref.name}.sh.job", ref.name)
    candidates.map(dir.resolve).find(Files.exists(_)).getOrElse(
      throw new ParameterError(s"job file not found for $ref under $dir"))
  }

  def netFilePath(ref: JobRef): Path = {
    val dir = if (ref.subsys.isEmpty) ctx.home else ctx.home.resolve(ref.subsys)
    dir.resolve(s"${ref.name}.jobnet")
  }

  /** Load + flatten + topo-sort the net into the sequential job list
    * (reference: jobnet.rb:8-33 RootJobNet.load_auto + :132-134 tsort).
    */
  def sequentialJobs(rootNet: Path): Seq[JobRef] = {
    val rootRef = JobRef(ctx.subsys,
      rootNet.getFileName.toString.stripSuffix(".jobnet"), isNet = true)
    val cache = mutable.Map.empty[String, JobNet]
    def loader(ref: JobRef): JobNet =
      cache.getOrElseUpdate(ref.toString,
        JobNet.parseFile(netFilePath(ref), ref))
    val root = JobNet.parseFile(rootNet, rootRef)
    cache(rootRef.toString) = root
    new JobDAG(JobNet.flatten(root, loader)).sequentialJobs
  }

  /** Restore-or-enqueue: a non-empty restored queue resumes where it
    * stopped; otherwise the full sequential job list is enqueued. Shared
    * by run() and the CLI's --list-jobs/--check-only flows so they see the
    * same job set.
    */
  def bindQueue(rootNet: Path, queue: TaskQueue): Unit =
    if (queue.isEmpty) sequentialJobs(rootNet).foreach(queue.enqueue)

  /** Pre-flight: compile every queued job before running any (reference:
    * jobnetrunner.rb:150-154 check_jobs). Shared with --check-only.
    */
  def preflight(queue: TaskQueue, cliVariables: Variables = Variables.empty): Unit =
    queue.queued.foreach { ref =>
      val jf = JobFile.load(jobFilePath(ref))
      new Job(ref.name, jf, ctx.copy(subsys = ref.subsys), Map.empty, cliVariables,
        Some(jobFilePath(ref).toAbsolutePath)).compile()
    }

  /** Run the full net through a queue; a restart with the same file queue
    * skips completed jobs (reference: jobnetrunner.rb:61-72,156-172).
    * With `logs` set, each job's stdout/stderr is redirected to its
    * templated log path (reference: jobnetrunner.rb:174-187 +
    * loglocator.rb).
    */
  def run(rootNet: Path, queue: TaskQueue = new MemoryTaskQueue,
      cliVariables: Variables = Variables.empty,
      logs: Option[JobLogs] = None): JobResult = {
    val jobnetStart = java.time.LocalDateTime.now()
    val jobnetId = (if (ctx.subsys.isEmpty) "" else ctx.subsys + "/") +
      rootNet.getFileName.toString.stripSuffix(".jobnet")
    bindQueue(rootNet, queue)
    preflight(queue, cliVariables)
    JobListener.fire(listeners)(_.beforeAllJobs(queue.queued))
    val result = queue.consumeEach { ref =>
      JobListener.fire(listeners)(_.beforeJob(ref))
      val jf = JobFile.load(jobFilePath(ref))
      def exec() =
        new Job(ref.name, jf, ctx.copy(subsys = ref.subsys), Map.empty, cliVariables,
          Some(jobFilePath(ref).toAbsolutePath)).execute()
      val r = logs match {
        case Some(l) => l.redirect(ref, jobnetId, java.time.LocalDateTime.now(), jobnetStart)(exec())
        case None => exec()
      }
      JobListener.fire(listeners)(_.afterJob(ref, r))
      r
    }
    JobListener.fire(listeners)(_.afterAllJobs(result))
    result
  }
}
