package graft.runner

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.SparkSession

import graft.core.{EmbeddedFunctions, JobFile, ParameterError, Variables}
import graft.ds.{DataSourceRegistry, FileDataSource, FsDataSource, SparkDataSource}
import graft.jobclass.{JobClass, JobContext}
import graft.net.{FileTaskQueue, MemoryTaskQueue, TaskQueue}

/** CLI entry points mirroring the reference's two binaries
  * (`bin/bricolage` → Application.main, application.rb:37-91;
  * `bin/bricolage-jobnet` → JobNetRunner.main, jobnetrunner.rb:40-93).
  *
  * Context loading (reference: lib/bricolage/context.rb:96-133):
  * `<home>/datasource.yml` configures datasources (defaults provided),
  * `<home>/variable.yml` and `<home>/<subsys>/variable.yml` add global
  * variables (ERB-style `<%= %>` helpers preprocessed).
  */
object Cli {

  /** Printed by `--version` (reference: application.rb:361-363 prints
    * `APPLICATION_NAME version VERSION`).
    */
  val Version = "0.3.0"

  /** The one SparkSession factory: the CLI mains and the harness mains
    * (Bench, Verify, Explain, GenScale, Demo) all build here, so their
    * timings and plans come from the same session settings.
    *
    * The master is `SPARK_MASTER` (a deployment address), else
    * `local[$SPARK_GRAFT_CPUS]`, else every local core. Shuffle width is
    * the master's core count. `conf` adds per-caller settings.
    */
  def buildSpark(appName: String, conf: (String, String)*): SparkSession = {
    val master = sys.env.getOrElse("SPARK_MASTER",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")}]")
    // The context comes first so its core count can be a builder option:
    // setting it on the built session instead would initialize the
    // session state eagerly (~0.5 s of startup) and keep the width from
    // sessions made with newSession().
    val sc = SparkContext.getOrCreate(new SparkConf()
      .setMaster(master)
      .setAppName(appName)
      .set("spark.ui.enabled", "false")
      .setAll(conf))
    // the builder reuses `sc` on purpose; silence its warning about that
    sc.setLogLevel("ERROR")
    val s = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", sc.defaultParallelism.toLong)
      .getOrCreate()
    sc.setLogLevel("WARN")
    s
  }

  /** Default environment when `-e` is absent (reference: context.rb
    * DEFAULT_ENV with the `BRICOLAGE_ENV` override).
    */
  def environment: String = sys.env.getOrElse("BRICOLAGE_ENV", "development")

  /** Config search paths for a basename (reference: filesystem.rb:126-128
    * config_pathes — `config/<name>` then `config/<env>/<name>`; the home
    * root is accepted too for flat layouts).
    */
  def configPaths(home: Path, basename: String, env: String = environment): Seq[Path] =
    Seq(home.resolve("config").resolve(basename),
      home.resolve("config").resolve(env).resolve(basename),
      home.resolve(basename))

  /** Variable layering (reference: context.rb:96-133 +
    * load_variables_for_all_scopes): builtin vars < bricolage.yml (system
    * options) < variable.yml, each layered `config/` < `config/<env>/` <
    * home root < subsystem dir (later wins); all files are
    * ERB-preprocessed.
    */
  def loadVariables(home: Path, subsys: String, env: String = environment): Variables = {
    def fromFile(p: Path): Variables =
      if (!Files.exists(p)) Variables.empty
      else Variables.fromMap(
        JobFile.parseYamlMap(EmbeddedFunctions.preprocess(Files.readString(p),
            graft.core.ErbContext(Some(home), Some(p.getParent))))
          .map { case (k, v) => k -> String.valueOf(v) })
    def scoped(basename: String): Variables = {
      val layers = configPaths(home, basename, env) ++
        (if (subsys.isEmpty) Nil else Seq(home.resolve(subsys).resolve(basename)))
      layers.map(fromFile).reduce(_.union(_))
    }
    val builtin = Variables(
      "bricolage_env" -> env,
      "bricolage_home" -> home.toString)
    builtin.union(scoped("bricolage.yml")).union(scoped("variable.yml"))
  }

  /** Prelude auto-load (reference: context.rb:55 `load_configurations`
    * evaluates `config_pathes('prelude.rb')` at every context creation).
    * The Spark-side prelude is `prelude.conf` on the same search paths
    * (`config/prelude.conf`, `config/<env>/prelude.conf`): one
    * fully-qualified feature object per line (`#` comments allowed), each
    * loaded through [[requireFeature]] — the auto-discovery counterpart of
    * explicit `-r/--require`. A Ruby `prelude.rb` found on the search path
    * cannot be evaluated here, so it is LOUDLY skipped with a pointer at
    * the conf/flag equivalents — a ported home directory never silently
    * loses its prelude.
    */
  def loadPrelude(home: Path, env: String = environment): Unit = {
    configPaths(home, "prelude.rb", env).filter(Files.exists(_)).foreach { p =>
      System.err.println(s"[graft] WARNING: skipping $p — Ruby preludes are " +
        s"not evaluated; list feature objects in " +
        s"${p.resolveSibling("prelude.conf")} or pass -r/--require")
    }
    configPaths(home, "prelude.conf", env).filter(Files.exists(_)).foreach { p =>
      Files.readAllLines(p).forEach { line =>
        val l = line.trim
        if (l.nonEmpty && !l.startsWith("#")) requireFeature(l)
      }
    }
  }

  def loadContext(home: Path, subsys: String, spark: => SparkSession,
      env: String = environment): JobContext = {
    loadPrelude(home, env)
    // datasource.yml with database.yml fallback, each searched through the
    // config paths; password.yml entries merge into the same-named
    // datasource configs (reference: datasource.rb:10-22,32-50
    // DataSourceFactory.load over context.config_pathes)
    val dsFile = Seq("datasource.yml", "database.yml")
      .flatMap(configPaths(home, _, env)).find(Files.exists(_))
    val registry = dsFile match {
      case Some(f) =>
        var config = JobFile.parseYamlMap(Files.readString(f))
        val pwFile = configPaths(home, "password.yml", env).find(Files.exists(_))
        pwFile.foreach { pf =>
          val passwords = JobFile.parseYamlMap(Files.readString(pf))
          config = config.map {
            case (name, conf: Map[_, _]) if passwords.contains(name) =>
              name -> (conf.asInstanceOf[Map[String, Any]] +
                ("password" -> passwords(name)))
            case other => other
          }
        }
        DataSourceRegistry.fromConfig(config, spark)
      case None =>
        new DataSourceRegistry(Map(
          "sql"  -> new SparkDataSource("sql", spark, "default"),
          "fs"   -> new FsDataSource("fs", home),
          "file" -> new FileDataSource("file", home)))
    }
    JobContext(registry, home, subsys, loadVariables(home, subsys, env))
  }

  /** `-r/--require=FEATURE` — the gem-require analogue (reference:
    * application.rb:352-354 requires a ruby library whose load side-effect
    * registers job classes/hooks). FEATURE is a fully-qualified Scala
    * object name (e.g. `graft.plugins.MySqlPlugin`); its `register()` is
    * invoked when present, otherwise class initialization alone is the
    * registration hook.
    */
  def requireFeature(feature: String): Unit = {
    val cls =
      try Class.forName(feature + "$")
      catch { case _: ClassNotFoundException =>
        try Class.forName(feature)
        catch { case _: ClassNotFoundException =>
          throw new ParameterError(s"cannot load feature: $feature")
        }
      }
    val instance = scala.util.Try(cls.getField("MODULE$").get(null)).getOrElse(null)
    cls.getMethods.find(m => m.getName == "register" && m.getParameterCount == 0)
      .foreach(_.invoke(instance))
  }

  /** `--help` text (reference: application.rb:312-316 banner + option
    * summaries; jobnetrunner.rb:256-316).
    */
  def helpText(program: String): String =
    s"""Synopsis:
       |  $program [options] JOB_FILE | JOB_CLASS [job_options]   (single job)
       |  $program [options] JOBNET_FILE                          (jobnet)
       |Options:
       |  -C, --home=PATH            application home directory
       |  -e, --environment=NAME     execution environment (config/<env>/)
       |  -f, --job=FILE             job file (also accepted positionally)
       |  -v, --variable=NAME=VALUE  set variable
       |  -n, --dry-run              show compiled actions without executing
       |  -E, --explain              EXPLAIN each SQL action without executing
       |  -c, --check-only           compile every job in the net, then quit
       |  -l, --list-jobs            list the net's jobs in execution order
       |  -r, --require=FEATURE      load a plugin object (register() hook)
       |      --list-job-class       list registered job classes
       |      --list-global-variables / --list-variables / --list-declarations
       |      --dump-options         show effective options with provenance
       |  -L, --log-dir=PATH         per-job log directory
       |      --log-path=TEMPLATE    per-job log path (%{std} etc.)
       |      --s3-log=DS:KEY        ship per-job logs to an object store
       |  -Q, --enable-queue         file queue at the derived state path
       |      --queue=PATH           file queue at PATH
       |      --db-queue=PATH        embedded-DB queue at PATH
       |      --db-name=DS           server-DB queue via a jdbc datasource
       |      --local-state-dir=PATH state dir for derived queue paths
       |      --disable-queue        no durable queue (overrides the above)
       |      --clear-queue          discard persisted progress first
       |      --unlock-jobnet        take over a dead runner's jobnet lock
       |      --ecs-executor         derive executor id from ECS metadata
       |      --version              show version and quit
       |      --help                 show this message and quit""".stripMargin

  /** Executor identity for the DB queue: `Hostname:PID`, or `TaskID:PID`
    * when running under ECS (reference: jobnetrunner.rb:113-124
    * get_executor_id — the task id is the last ARN path component of the
    * container metadata endpoint's `/task` document).
    */
  def executorId(ecsMetadataUri: Option[String] = None): String = {
    val pid = ProcessHandle.current().pid()
    ecsMetadataUri match {
      case Some(base) =>
        val body = new String(
          java.net.URI.create(base.stripSuffix("/") + "/task").toURL
            .openStream().readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val arn = """"TaskARN"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(body)
          .map(_.group(1)).getOrElse(
            throw new graft.core.JobError("ECS task metadata has no TaskARN"))
        arn.split('/').last + ":" + pid
      case None =>
        java.net.InetAddress.getLocalHost.getHostName + ":" + pid
    }
  }

  /** Application name for derived queue paths: the home directory's
    * basename, skipping Capistrano release segments
    * (reference: jobnetrunner.rb:136-142 app_name).
    */
  def appName(home: Path): String = {
    var p = home.toAbsolutePath.normalize
    while (p.getFileName != null &&
        p.getFileName.toString.matches("""\d+|current|releases"""))
      p = p.getParent
    Option(p.getFileName).map(_.toString).getOrElse("graft")
  }

  final case class Options(
      home: Path,
      environment: Option[String],
      varAssigns: Variables,
      jobOptions: Map[String, String],
      queuePath: Option[Path],
      dbQueuePath: Option[Path],
      dbName: Option[String],
      enableQueue: Boolean,
      queueDisabled: Boolean,
      clearQueue: Boolean,
      unlockJobnet: Boolean,
      dryRun: Boolean,
      explain: Boolean,
      checkOnly: Boolean,
      listJobs: Boolean,
      listJobClass: Boolean,
      listGlobalVariables: Boolean,
      listVariables: Boolean,
      listDeclarations: Boolean,
      dumpOptions: Boolean,
      showVersion: Boolean,
      showHelp: Boolean,
      localStateDir: Option[Path],
      ecsExecutor: Boolean,
      logDir: Option[String],
      logPath: Option[String],
      s3Log: Option[String],
      target: Option[Path],
      sources: Map[String, String]) {

    /** Provenance of a common option's value for `--dump-options`
      * (reference: application.rb:166-185 OptionValue locations).
      */
    def source(name: String): String = sources.getOrElse(name, "default value")
  }

  /** Parse the shared option surface of both binaries (reference:
    * application.rb:318-365 GlobalOptions + jobnetrunner.rb:256-316
    * Options; the common log options are application.rb:222-234).
    * Unknown `--name[=value]` arguments fall through to job options
    * (job-class parameters are set this way).
    */
  def parseArgs(args: Seq[String]): Options = {
    var home = Paths.get(sys.env.getOrElse("BRICOLAGE_HOME", "."))
    var env: Option[String] = None
    var vars = Variables.empty
    var jobOpts = Map.empty[String, String]
    var sources = Map.empty[String, String]
    // env layer between defaults and cmdline (reference:
    // jobnetrunner.rb:256-270 opts_env + application.rb:208-217:
    // BRICOLAGE_QUEUE_PATH / BRICOLAGE_ENABLE_QUEUE /
    // BRICOLAGE_DISABLE_QUEUE / BRICOLAGE_LOG_DIR / BRICOLAGE_LOG_PATH)
    var queue: Option[Path] = sys.env.get("BRICOLAGE_QUEUE_PATH").map(Paths.get(_))
    queue.foreach(_ => sources += ("queue-path" -> "env BRICOLAGE_QUEUE_PATH"))
    var dbQueue: Option[Path] = None
    var dbName: Option[String] = None
    var enableQ = sys.env.contains("BRICOLAGE_ENABLE_QUEUE")
    if (enableQ) sources += ("enable-queue" -> "env BRICOLAGE_ENABLE_QUEUE")
    // disabled is tracked separately from !enableQ so it can also veto a
    // bricolage.yml-saved enable-queue/queue-path/db-name at queue build
    var disabled = false
    if (sys.env.contains("BRICOLAGE_DISABLE_QUEUE")) {
      enableQ = false; disabled = true
      sources += ("enable-queue" -> "env BRICOLAGE_DISABLE_QUEUE")
    }
    var logDir: Option[String] = sys.env.get("BRICOLAGE_LOG_DIR")
    logDir.foreach(_ => sources += ("log-dir" -> "env BRICOLAGE_LOG_DIR"))
    var logPath: Option[String] = sys.env.get("BRICOLAGE_LOG_PATH")
    logPath.foreach(_ => sources += ("log-path" -> "env BRICOLAGE_LOG_PATH"))
    var s3Log: Option[String] = None
    var stateDir: Option[Path] = None
    var ecs = false
    var clear = false
    var unlock = false
    var dry = false
    var explainFlag = false
    var checkOnly = false
    var listJobs = false
    var listJobClass = false
    var listGlobalVars = false
    var listVars = false
    var listDecls = false
    var dump = false
    var version = false
    var help = false
    var target: Option[Path] = None
    val it = args.iterator
    def nextValue(opt: String): String = {
      if (!it.hasNext) throw new ParameterError(s"$opt requires a value")
      it.next()
    }
    def cmdline(name: String): Unit = sources += (name -> s"--$name option")
    while (it.hasNext) {
      it.next() match {
        case a if a.startsWith("--home=") => home = Paths.get(a.drop(7))
        case "-C" => home = Paths.get(nextValue("-C"))
        case "-e" => env = Some(nextValue("-e"))
        case a if a.startsWith("--environment=") => env = Some(a.drop(14))
        case "-v" =>
          val kv = nextValue("-v")
          kv.split("=", 2) match {
            case Array(k, v) => vars = vars.add(k, v)
            case _ => throw new ParameterError(s"bad -v argument: $kv")
          }
        case a if a.startsWith("--variable=") =>
          a.drop(11).split("=", 2) match {
            case Array(k, v) => vars = vars.add(k, v)
            case _ => throw new ParameterError(s"bad --variable argument: ${a.drop(11)}")
          }
        case "-f" => target = Some(Paths.get(nextValue("-f")))
        case a if a.startsWith("--job=") => target = Some(Paths.get(a.drop(6)))
        // every explicit cmdline enablement lifts an earlier disable (env
        // BRICOLAGE_DISABLE_QUEUE or a preceding --disable-queue): cmdline
        // beats env, and between cmdline flags the LAST one wins
        case a if a.startsWith("--queue=") =>
          queue = Some(Paths.get(a.drop(8))); disabled = false; cmdline("queue-path")
        case a if a.startsWith("--queue-path=") =>
          queue = Some(Paths.get(a.drop(13))); disabled = false; cmdline("queue-path")
        case a if a.startsWith("--db-queue=") =>
          dbQueue = Some(Paths.get(a.drop(11))); disabled = false; cmdline("db-queue")
        case a if a.startsWith("--db-name=") =>
          dbName = Some(a.drop(10)); disabled = false; cmdline("db-name")
        case "--ecs-executor" => ecs = true; cmdline("ecs-executor")
        case a if a.startsWith("--local-state-dir=") =>
          stateDir = Some(Paths.get(a.drop(18))); cmdline("local-state-dir")
        case "-L" => logDir = Some(nextValue("-L")); cmdline("log-dir")
        case a if a.startsWith("--log-dir=") =>
          logDir = Some(a.drop(10)); cmdline("log-dir")
        case a if a.startsWith("--log-path=") =>
          logPath = Some(a.drop(11)); cmdline("log-path")
        case a if a.startsWith("--s3-log=") =>
          s3Log = Some(a.drop(9)); cmdline("s3-log")
        case "-Q" | "--enable-queue" =>
          enableQ = true; disabled = false; cmdline("enable-queue")
        case "--disable-queue" =>
          // disable wins over every queue enablement, including an earlier
          // --db-queue/--db-name (reference: opts_env/--disable-queue set
          // 'enable-queue' false, and make_queue checks it first)
          enableQ = false; disabled = true
          queue = None; dbQueue = None; dbName = None
          sources += ("enable-queue" -> "--disable-queue option")
        case "--clear-queue" => clear = true
        case "--unlock-jobnet" => unlock = true
        case "--dry-run" | "-n" => dry = true
        case "-E" | "--explain" => explainFlag = true
        case "-c" | "--check-only" => checkOnly = true
        case "-l" | "--list-jobs" => listJobs = true
        case "--list-job-class" => listJobClass = true
        case "--list-global-variables" => listGlobalVars = true
        case "--list-variables" => listVars = true
        case "--list-declarations" => listDecls = true
        case "--dump-options" => dump = true
        case "--version" => version = true
        case "--help" => help = true
        // requires fire at parse time, like the reference's `require feature`
        case "-r" => requireFeature(nextValue("-r"))
        case a if a.startsWith("--require=") => requireFeature(a.drop(10))
        case a if a.startsWith("--") && a.contains("=") =>
          val Array(k, v) = a.drop(2).split("=", 2)
          jobOpts += (k -> v)
        case a if a.startsWith("--") => jobOpts += (a.drop(2) -> "true")
        case a if target.isEmpty => target = Some(Paths.get(a))
        case a => throw new ParameterError(s"unexpected argument: $a")
      }
    }
    Options(home, env, vars, jobOpts, queue, dbQueue, dbName, enableQ,
      disabled, clear, unlock, dry, explainFlag, checkOnly, listJobs,
      listJobClass, listGlobalVars, listVars, listDecls, dump, version, help,
      stateDir, ecs, logDir, logPath, s3Log, target, sources)
  }

  /** Cmdline/env values overlaid on bricolage.yml saved options
    * (reference: application.rb:236-249 merge_saved_options +
    * build_common_options!: default < saved < env < cmdline). Returns the
    * effective (value, source) per common option name.
    */
  def commonOptionPairs(opts: Options, saved: String => Option[String]):
      Seq[(String, Option[String], String)] = {
    def pair(name: String, parsed: Option[String]): (String, Option[String], String) =
      parsed match {
        case Some(v) => (name, Some(v), opts.source(name))
        case None => saved(name) match {
          case Some(v) => (name, Some(v), s"bricolage.yml:$name")
          case None    => (name, None, "default value")
        }
      }
    // queue options report what queue construction actually uses: the
    // disable veto hides saved values, queue layering is by group (any
    // cmdline queue option hides ALL saved queue values), and a saved
    // enable-queue counts
    val anyCmdlineQueue =
      opts.dbName.isDefined || opts.dbQueuePath.isDefined || opts.queuePath.isDefined
    def pairQ(name: String, parsed: Option[String]): (String, Option[String], String) =
      if (opts.queueDisabled) (name, None, opts.source("enable-queue"))
      else if (anyCmdlineQueue)
        (name, parsed, parsed.map(_ => opts.source(name)).getOrElse("default value"))
      else pair(name, parsed)
    val enableRow: (String, Option[String], String) =
      if (opts.queueDisabled) ("enable-queue", Some("false"), opts.source("enable-queue"))
      else if (opts.enableQueue)
        ("enable-queue", Some("true"), opts.source("enable-queue"))
      else saved("enable-queue") match {
        case Some(v) => ("enable-queue", Some(v), "bricolage.yml:enable-queue")
        case None    => ("enable-queue", Some("false"), "default value")
      }
    Seq(
      pair("log-path", opts.logPath),
      pair("log-dir", opts.logDir),
      pair("s3-log", opts.s3Log),
      pair("local-state-dir", opts.localStateDir.map(_.toString)),
      enableRow,
      pairQ("queue-path", opts.queuePath.map(_.toString)),
      pairQ("db-queue", opts.dbQueuePath.map(_.toString)),
      pairQ("db-name", opts.dbName),
      ("ecs-executor", Some(opts.ecsExecutor.toString), opts.source("ecs-executor")),
    )
  }

  /** Print `name=value (source)` pairs for `--dump-options`
    * (reference: application.rb:45-50 / jobnetrunner.rb:51-58 print
    * `name=value.inspect` with the OptionValue location).
    */
  def printOptionPairs(opts: Options, saved: String => Option[String]): Unit =
    commonOptionPairs(opts, saved).foreach { case (name, value, source) =>
      println(s"$name=${value.getOrElse("nil")} ($source)")
    }

  /** `name=value` listing for `--list-global-variables`/`--list-variables`
    * (reference: application.rb:139-144 list_variables).
    */
  def printVariables(vars: Variables): Unit =
    vars.names.foreach(n => println(s"$n=${vars(n)}"))
}

/** `runMain graft.runner.BricolageMain [options] job-file` — run ONE job. */
object BricolageMain {
  /** Testable core: returns the process exit code (0/1/2,
    * reference: jobresult.rb:26-28). `sparkOverride` lets tests inject a
    * shared session instead of building one.
    */
  def run(args: Seq[String],
      sparkOverride: Option[SparkSession] = None): Int = {
    val args1 = JobListener.fireOptionParsing(JobListener.registered, args)
    val opts = Cli.parseArgs(args1)
    if (opts.showHelp) { println(Cli.helpText("BricolageMain")); return 0 }
    if (opts.showVersion) { println(s"graft version ${Cli.Version}"); return 0 }
    if (opts.listJobClass) {
      // reference: application.rb:338-342 --list-job-class
      JobClass.list.foreach(println)
      return 0
    }
    // class mode (reference: application.rb:313-315 banner +
    // :103-112 load_job): a positional that names a registered job class
    // instead of an existing file runs that class directly, parameters
    // supplied entirely by --option job options
    val classMode = opts.target.exists(p =>
      !Files.exists(p) && JobClass.list.contains(p.toString))
    // subsystem = the job file's parent directory name under home;
    // --dump-options/--list-global-variables work without a job file
    // (reference: application.rb:45-54 run before load_job)
    val subsys = opts.target.filter(_ => !classMode)
      .flatMap(p => Option(p.toAbsolutePath.getParent))
      .filter(_ != opts.home.toAbsolutePath)
      .map(_.getFileName.toString).getOrElse("")
    val env = opts.environment.getOrElse(Cli.environment)
    lazy val spark = sparkOverride.getOrElse(
      Cli.buildSpark(s"graft-${opts.target.map(_.getFileName).getOrElse("cli")}"))
    val ctx = Cli.loadContext(opts.home, subsys, spark, env)
    if (opts.dumpOptions) {
      Cli.printOptionPairs(opts, ctx.globalVariables.get)
      return 0
    }
    if (opts.listGlobalVariables) {
      // reference: application.rb:51-54
      Cli.printVariables(ctx.globalVariables.resolve())
      return 0
    }
    val jobPath = opts.target.getOrElse(
      throw new ParameterError("usage: BricolageMain [options] job-file|job-class"))
    val jf =
      if (classMode) JobFile(jobPath.toString, Map.empty)
      else JobFile.load(jobPath)
    val job = new Job(jobPath.getFileName.toString, jf, ctx, opts.jobOptions,
      opts.varAssigns, if (classMode) None else Some(jobPath.toAbsolutePath))
    if (opts.listDeclarations) {
      // reference: application.rb:60-62 — the script's declared parameters
      job.declarations().foreach(println)
      return 0
    }
    if (opts.listVariables) {
      // reference: application.rb:64-66 — the job's final variable overlay
      Cli.printVariables(job.variables())
      return 0
    }
    if (opts.dryRun) {
      job.compile().foreach(a => println(a))
      return 0
    }
    if (opts.explain) {
      // reference: application.rb:72-74 + job.rb:146-149 — EXPLAIN each
      // SQL action instead of executing
      job.compile().foreach { a =>
        a.explain().foreach { plan => println(s"-- ${a.label}"); println(plan) }
      }
      return 0
    }
    // single-job log wiring (reference: application.rb:77-80 builds the
    // same LogLocator the jobnet runner uses, jobnet id = subsys/job).
    // log-dir beats log-path even when log-path is the cmdline one — the
    // reference's log_path_format order (application.rb:260-268)
    val saved = ctx.globalVariables.get _
    val logFiles = LogFilePath.default(
      opts.logDir.orElse(saved("log-dir")),
      opts.logPath.orElse(saved("log-path")))
    val ref = graft.net.JobRef(subsys, jobPath.getFileName.toString, isNet = false)
    def execute(): graft.core.JobResult = Application.runJob(job, ref, JobListener.registered)
    val result = logFiles match {
      case Some(lp) =>
        val now = java.time.LocalDateTime.now()
        val p = Paths.get(lp.format(ref, s"$subsys/${jobPath.getFileName}", now, now))
        val upload = opts.s3Log.orElse(saved("s3-log")).map { spec =>
          val (dsName, key) = spec.split(":", 2) match {
            case Array(ds, k) if k.trim.nonEmpty => (ds, k.trim)
            case other => (other.head, "logs")
          }
          val store = ctx.registry.store(dsName)
          (f: Path) => store.put(f, key.stripSuffix("/") + "/" + f.getFileName.toString)
        }
        LogLocator.redirect(p, upload)(execute())
      case None => execute()
    }
    if (!result.success) System.err.println(result.message)
    result.exitCode
  }

  def main(args: Array[String]): Unit = sys.exit(run(args.toSeq))
}

/** `runMain graft.runner.JobNetMain [options] net-file` — run a DAG. */
object JobNetMain {
  def run(args: Seq[String],
      sparkOverride: Option[SparkSession] = None): Int = {
    val args1 = JobListener.fireOptionParsing(JobListener.registered, args)
    val opts = Cli.parseArgs(args1)
    if (opts.showHelp) { println(Cli.helpText("JobNetMain")); return 0 }
    if (opts.showVersion) { println(s"graft version ${Cli.Version}"); return 0 }
    val netPath = opts.target.getOrElse(
      throw new ParameterError("usage: JobNetMain [options] jobnet-file"))
    val subsys = Option(netPath.toAbsolutePath.getParent)
      .filter(_ != opts.home.toAbsolutePath)
      .map(_.getFileName.toString).getOrElse("")
    val env = opts.environment.getOrElse(Cli.environment)
    lazy val spark = sparkOverride.getOrElse(
      Cli.buildSpark(s"graft-net-${netPath.getFileName}"))
    val ctx = Cli.loadContext(opts.home, subsys, spark, env)
    val saved = ctx.globalVariables.get _
    val jobnetId = (if (subsys.isEmpty) "" else subsys + "/") +
      netPath.getFileName.toString.stripSuffix(".jobnet")
    if (opts.dumpOptions) {
      // reference: jobnetrunner.rb:51-58
      println(s"jobnet-id=$jobnetId")
      println(s"jobnet-file=$netPath")
      Cli.printOptionPairs(opts, saved)
      return 0
    }
    val runner = new JobNetRunner(ctx, JobListener.registered)
    val executorId = Cli.executorId(
      if (opts.ecsExecutor) Some(sys.env.getOrElse("ECS_CONTAINER_METADATA_URI",
        throw new ParameterError("--ecs-executor requires ECS_CONTAINER_METADATA_URI")))
      else None)
    // effective queue selection layers bricolage.yml saved values under
    // cmdline/env (reference: merge_saved_options + make_queue), so
    // --dump-options reports what actually runs; --disable-queue (or the
    // env var) vetoes saved enablement too
    // layering is by GROUP, not per option: any cmdline/env queue option
    // makes the whole cmdline group win, otherwise the saved group
    // applies — a saved higher-priority type (db-queue) must never
    // override an explicit cmdline lower-priority one (--queue)
    val anyCmdlineQueue =
      opts.dbName.isDefined || opts.dbQueuePath.isDefined || opts.queuePath.isDefined
    val (effDbName, effDbQueue, effQueuePath) =
      if (opts.queueDisabled) (None, None, None)
      else if (anyCmdlineQueue) (opts.dbName, opts.dbQueuePath, opts.queuePath)
      else (saved("db-name"), saved("db-queue").map(Paths.get(_)),
        saved("queue-path").map(Paths.get(_)))
    val effEnableQueue = !opts.queueDisabled &&
      (opts.enableQueue || saved("enable-queue").contains("true"))
    // queue construction is side-effect-free: clear/restore happen AFTER
    // the locked check below, so a locked queue is never mutated
    val (queue: TaskQueue, clearAction: (() => Unit)) =
      (effDbName, effDbQueue, effQueuePath) match {
        case (Some(name), _, _) =>
          // named-datasource DB queue (reference: jobnetrunner.rb:100-105 —
          // --db-name resolves a datasource; the reference passes
          // enable_lock: false here because multi-runner exclusion comes
          // from the store's own conflict handling)
          val jds = ctx.registry.jdbc(name)
          val store = new graft.net.JdbcExecutionStore(jds.url, jds.properties)
          // a dead runner's lock can only be released by the operator (its
          // executor_id pid is gone): --unlock-jobnet takes it over while
          // keeping all recorded progress
          if (opts.unlockJobnet) store.forceUnlock(jobnetId)
          (new graft.net.DatabaseTaskQueue(store, jobnetId, executorId,
            enableLock = false),
            () => store.cancelJobnet(jobnetId, "cleared by --clear-queue"))
        case (None, Some(db), _) =>
          // DB-backed queue (reference: taskqueue.rb:175-310
          // DatabaseTaskQueue): executions + locks live in the database, so
          // a second runner on the same jobnet is excluded and a restart
          // resumes the unfinished executions
          val store = graft.net.JdbcExecutionStore.embedded(db)
          if (opts.unlockJobnet) store.forceUnlock(jobnetId)
          (new graft.net.DatabaseTaskQueue(store, jobnetId, executorId,
            enableLock = true),
            () => store.cancelJobnet(jobnetId, "cleared by --clear-queue"))
        case (None, None, Some(p)) =>
          (new FileTaskQueue(p), () => { Files.deleteIfExists(p); () })
        case (None, None, None) if effEnableQueue =>
          // derived file-queue path under the local state dir (reference:
          // jobnetrunner.rb:126-142 get_queue_file_path —
          // <state>/queue/<app>.<jobnet-id-dotted>; state dir from
          // --local-state-dir, bricolage.yml, or <home>/.bricolage)
          val stateDir = opts.localStateDir
            .orElse(saved("local-state-dir").map(Paths.get(_)))
            .getOrElse(opts.home.resolve(".bricolage"))
          val p = stateDir.resolve("queue")
            .resolve(s"${Cli.appName(opts.home)}.${jobnetId.replace('/', '.')}.queue")
          (new FileTaskQueue(p), () => { Files.deleteIfExists(p); () })
        case (None, None, None) => (new MemoryTaskQueue, () => ())
      }
    if (queue.locked) {
      // reference: jobnetrunner.rb:61-63 — refuse to touch a locked queue
      // (even for --clear-queue); tell the operator how to unlock. Nothing
      // has been cleared or restored at this point.
      queue.close()
      throw new ParameterError(
        s"Job queue is still locked. If you are sure to restart jobnet, ${queue.unlockHelp}")
    }
    if (opts.clearQueue) {
      // reference: jobnetrunner.rb:64-68 — --clear-queue clears and QUITS
      clearAction()
      queue.close()
      System.err.println("queue is unlocked and cleared")
      return 0
    }
    // restore persisted progress (DB queues bind here; the file queue
    // restored from its file at construction and re-reading is idempotent)
    queue.restore()
    // log-path wiring (reference: application.rb:222-234 common options +
    // jobnetrunner.rb:85-86 LogLocatorBuilder.for_options). Layering is
    // per option (cmdline/env beat bricolage.yml); between the two,
    // log-dir wins over log-path — the reference's own log_path_format
    // order (application.rb:260-268)
    val logFiles = LogFilePath.default(
      opts.logDir.orElse(saved("log-dir")),
      opts.logPath.orElse(saved("log-path")))
    val logStore = opts.s3Log.orElse(saved("s3-log")).map { spec =>
      val (dsName, key) = spec.split(":", 2) match {
        case Array(ds, k) if k.trim.nonEmpty => (ds, k.trim)
        case other => (other.head, "logs")
      }
      (ctx.registry.store(dsName), key)
    }
    if (opts.listJobs || opts.checkOnly) {
      // reference: jobnetrunner.rb:69-83 — both operate on the QUEUE after
      // restore-or-enqueue, so a resumed jobnet lists/checks only its
      // persisted remainder, not the whole net; the bind + pre-flight are
      // the same code paths run() uses
      try {
        runner.bindQueue(netPath, queue)
        if (opts.listJobs) { queue.queued.foreach(println); return 0 }
        runner.preflight(queue, opts.varAssigns)
        println("OK")
        return 0
      } finally queue.close()
    }
    try {
      val result = runner.run(netPath, queue, opts.varAssigns, logFiles, logStore)
      if (!result.success) System.err.println(result.message)
      result.exitCode
    } finally queue.close()
  }

  def main(args: Array[String]): Unit = sys.exit(run(args.toSeq))
}
