package graft.runner

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.ParameterError

/** CLI argument parsing and context/variable loading
  * (reference: application.rb:37-43 option parse, context.rb:96-133).
  */
class CliSpec extends AnyFunSuite {

  test("parseArgs: home, -v vars, job options, queue, flags, target") {
    val o = Cli.parseArgs(Seq("--home=/tmp/h", "-v", "a=1", "-v", "b=x=y",
      "--dest-table=t.d", "--force", "--queue=/tmp/q", "--clear-queue",
      "--dry-run", "job.sql.job"))
    assert(o.home.toString == "/tmp/h")
    assert(o.varAssigns.get("a").contains("1"))
    assert(o.varAssigns.get("b").contains("x=y"))
    assert(o.jobOptions == Map("dest-table" -> "t.d", "force" -> "true"))
    assert(o.queuePath.get.toString == "/tmp/q")
    assert(o.clearQueue && o.dryRun)
    assert(o.target.get.toString == "job.sql.job")
  }

  test("parseArgs rejects bad -v and extra positional args") {
    intercept[ParameterError](Cli.parseArgs(Seq("-v", "noequals", "f")))
    intercept[ParameterError](Cli.parseArgs(Seq("a.job", "b.job")))
  }

  test("loadVariables: subsystem overrides global; ERB date helpers expand") {
    val home = graft.core.TempDirs.create("cli-home")
    Files.createDirectories(home.resolve("ss"))
    Files.writeString(home.resolve("variable.yml"),
      "data_date: <%= today - 1 %>\nwho: global\n")
    Files.writeString(home.resolve("ss/variable.yml"), "who: subsys\n")
    val vars = Cli.loadVariables(home, "ss")
    assert(vars("who") == "subsys")
    assert(vars("data_date") == java.time.LocalDate.now().minusDays(1).toString)
  }

  test("loadVariables: builtin < bricolage.yml < variable.yml layering") {
    val home = graft.core.TempDirs.create("cli-home3")
    Files.writeString(home.resolve("bricolage.yml"),
      "log_dir: /var/log/graft\nwho: system\n")
    Files.writeString(home.resolve("variable.yml"), "who: user\n")
    // an empty and a comment-only layer load as no variables
    Files.createDirectories(home.resolve("config"))
    Files.writeString(home.resolve("config/variable.yml"), "")
    Files.writeString(home.resolve("config/bricolage.yml"), "# nothing set yet\n\n")
    val vars = Cli.loadVariables(home, "")
    assert(vars("log_dir") == "/var/log/graft")
    assert(vars("who") == "user")
    assert(vars("bricolage_home") == home.toString)
    assert(vars.contains("bricolage_env"))
  }

  test("Retry.withRetry retries transient failures then succeeds, rethrows after limit") {
    var calls = 0
    val got = graft.core.Retry.withRetry(limit = 3, sleepMs = 1) {
      calls += 1
      if (calls < 3) throw new java.io.IOException("transient")
      "ok"
    }
    assert(got == "ok" && calls == 3)
    intercept[java.io.IOException] {
      graft.core.Retry.withRetry(limit = 2, sleepMs = 1) {
        if (true) throw new java.io.IOException("always"); ""
      }
    }
    // non-retriable errors propagate immediately
    var n = 0
    intercept[IllegalStateException] {
      graft.core.Retry.withRetry(limit = 3, sleepMs = 1) {
        n += 1; if (true) throw new IllegalStateException("fatal"); ""
      }
    }
    assert(n == 1)
  }

  test("LogLocator.redirect captures println and System.out, then restores") {
    val f = graft.core.TempDirs.create("log-loc").resolve("a/b/job.log")
    val before = System.out
    LogLocator.redirect(f) {
      println("via console")
      System.out.println("via system")
    }
    assert(System.out eq before)
    val text = Files.readString(f)
    assert(text.contains("via console") && text.contains("via system"))
  }

  test("LogLocator upload hook ships the log after the job; failure only warns") {
    val dir = graft.core.TempDirs.create("log-up")
    val f = dir.resolve("job.log")
    var shipped: Option[java.nio.file.Path] = None
    LogLocator.redirect(f, Some(p => shipped = Some(p))) { println("x") }
    assert(shipped.contains(f))
    // a throwing uploader must not fail the job path
    LogLocator.redirect(dir.resolve("job2.log"),
      Some(_ => throw new RuntimeException("s3 down"))) { println("y") }
    assert(Files.exists(dir.resolve("job2.log")))
  }

  test("BricolageMain and JobNetMain run end-to-end from files, exit codes map") {
    val spark = graft.SparkTestBase.spark
    spark.sql("CREATE DATABASE IF NOT EXISTS cli_e2e")
    spark.sql("DROP TABLE IF EXISTS cli_e2e.t")
    val home = graft.core.TempDirs.create("cli-e2e")
    Files.createDirectories(home.resolve("etl"))
    Files.writeString(home.resolve("datasource.yml"),
      "sql:\n  type: spark\n  schema: cli_e2e\n")
    Files.writeString(home.resolve("etl/mk.sql.job"),
      """/* class: adhoc
        |data-source: sql */
        |CREATE TABLE cli_e2e.t USING parquet AS SELECT $n AS v;""".stripMargin)
    Files.writeString(home.resolve("etl/chk.sql.job"),
      """/* class: adhoc
        |data-source: sql */
        |SELECT assert_true(v = 7) FROM cli_e2e.t;""".stripMargin)
    Files.writeString(home.resolve("etl/net.jobnet"), "mk -> chk\n")

    // single job with a -v variable
    assert(BricolageMain.run(Seq(s"--home=$home", "-v", "n=7",
      home.resolve("etl/mk.sql.job").toString), Some(spark)) == 0)
    // full jobnet with a file queue
    val q = home.resolve("net.queue")
    spark.sql("DROP TABLE IF EXISTS cli_e2e.t")
    assert(JobNetMain.run(Seq(s"--home=$home", "-v", "n=7", s"--queue=$q",
      home.resolve("etl/net.jobnet").toString), Some(spark)) == 0)
    assert(spark.sql("SELECT v FROM cli_e2e.t").head.getInt(0) == 7)
    // a failing job yields exit code 1 (JobFailure)
    Files.writeString(home.resolve("etl/bad.sql.job"),
      "/* class: adhoc\ndata-source: sql */\nSELECT * FROM cli_e2e.nope;")
    assert(BricolageMain.run(Seq(s"--home=$home",
      home.resolve("etl/bad.sql.job").toString), Some(spark)) == 1)
  }

  test("loadContext builds registry from datasource.yml") {
    val home = graft.core.TempDirs.create("cli-home2")
    Files.writeString(home.resolve("datasource.yml"),
      """sql:
        |  type: spark
        |  schema: cli_test
        |work:
        |  type: fs
        |  base: /tmp/cli-work
        |""".stripMargin)
    val ctx = Cli.loadContext(home, "", SparkTestBase.spark)
    assert(ctx.registry.spark("sql").defaultSchema == "cli_test")
    assert(ctx.registry.store("work").urlString("a/b.tsv") == "/tmp/cli-work/a/b.tsv")
  }

  test("loadContext falls back to database.yml and merges password.yml") {
    // reference: datasource.rb:10-22 (file fallback) + :32-39 (passwords)
    val home = graft.core.TempDirs.create("cli-home3")
    Files.writeString(home.resolve("database.yml"),
      """db:
        |  type: generic
        |  username: app
        |""".stripMargin)
    Files.writeString(home.resolve("password.yml"), "db: sekrit\n")
    val ctx = Cli.loadContext(home, "", SparkTestBase.spark)
    // the generic ds exists — config (incl. merged password) was accepted
    assert(ctx.registry.get("db").name == "db")
  }

  test("--enable-queue derives a file-queue path under the local state dir") {
    val home = graft.core.TempDirs.create("cli-eq")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/b.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/q.jobnet"), "a -> b\n")
    val args = Seq(s"--home=$home", "--enable-queue",
      home.resolve("net/q.jobnet").toString)
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 1)
    // the derived queue file persists the failed tail; the file is named
    // <app>.<jobnet-id-dotted> where app = home basename (reference:
    // jobnetrunner.rb:127-142 get_queue_file_path + app_name)
    val qf = home.resolve(
      s".bricolage/queue/${home.getFileName}.net.q.queue")
    assert(Files.exists(qf))
    assert(Files.readString(qf).trim == "net/b")
    // fix and resume from the persisted queue: only b reruns
    Files.writeString(home.resolve("net/b.job"), "class: noop\n")
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 0)
    assert(!Files.exists(qf)) // drained queues delete their file
  }

  test("config/ and config/<env>/ variable layering (reference config_pathes)") {
    val home = graft.core.TempDirs.create("cli-cfg")
    Files.createDirectories(home.resolve("config/development"))
    Files.createDirectories(home.resolve("sub"))
    Files.writeString(home.resolve("config/variable.yml"),
      "base: from_config\nov: from_config\nov2: from_config\n")
    Files.writeString(home.resolve("config/development/variable.yml"),
      "ov: from_env\nov2: from_env\n")
    Files.writeString(home.resolve("sub/variable.yml"), "ov2: from_subsys\n")
    val vars = Cli.loadVariables(home, "sub").resolve()
    assert(vars("base") == "from_config")
    assert(vars("ov") == "from_env")      // config/<env> beats config/
    assert(vars("ov2") == "from_subsys")  // subsystem beats both
    assert(vars("bricolage_env") == "development")
  }

  test("JobNetMain --db-queue: Derby-backed queue resumes after a failure") {
    val home = graft.core.TempDirs.create("cli-dbq")
    val db = home.resolve("queue-db")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/ok1.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/ok2.job"), "class: noop\n")
    Files.writeString(home.resolve("net/n.jobnet"), "ok1 -> boom -> ok2\n")
    val args = Seq(s"--home=$home", s"--db-queue=$db",
      home.resolve("net/n.jobnet").toString)
    // first run fails at boom; ok1 succeeded and is recorded in the DB
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 1)
    // fix the job; the rerun restores only boom + ok2 from the DB queue
    Files.writeString(home.resolve("net/boom.job"), "class: noop\n")
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 0)
    val store = graft.net.JdbcExecutionStore.embedded(db)
    try {
      assert(store.all.map(_.status).forall(_ == graft.net.ExecutionStatus.Succeeded))
      // ok1 ran exactly once across both runs
      assert(store.stateTransitions.count(t =>
        t.status == "running" &&
          store.get(t.jobExecutionId).exists(_.jobName == "ok1")) == 1)
    } finally store.close()
  }

  private def captureOut(body: => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true)) { body }
    bos.toString
  }

  test("--version prints the program version and quits (reference application.rb:361-363)") {
    val out = captureOut { assert(BricolageMain.run(Seq("--version")) == 0) }
    assert(out.trim == s"graft version ${Cli.Version}")
    val out2 = captureOut { assert(JobNetMain.run(Seq("--version")) == 0) }
    assert(out2.trim == s"graft version ${Cli.Version}")
  }

  test("--list-job-class lists job class names (reference application.rb:338-342)") {
    val out = captureOut { assert(BricolageMain.run(Seq("--list-job-class")) == 0) }
    val names = out.trim.split("\n").toSeq
    assert(names.contains("sql") && names.contains("load") &&
      names.contains("streaming_load") && names.contains("s3-put"))
    assert(names == names.sorted)
  }

  test("-e/--environment selects config/<env>/ (reference application.rb:325-327)") {
    val home = graft.core.TempDirs.create("cli-env")
    Files.createDirectories(home.resolve("config/production"))
    Files.writeString(home.resolve("config/variable.yml"), "x: base\n")
    Files.writeString(home.resolve("config/production/variable.yml"), "x: prod\n")
    val o = Cli.parseArgs(Seq("-e", "production", "f.job"))
    assert(o.environment.contains("production"))
    assert(Cli.parseArgs(Seq("--environment=staging")).environment.contains("staging"))
    // -e drives config/<env>/ layering and $bricolage_env
    val out = captureOut {
      assert(BricolageMain.run(Seq(s"--home=$home", "-e", "production",
        "--list-global-variables"), Some(SparkTestBase.spark)) == 0)
    }
    assert(out.contains("x=prod"))
    assert(out.contains("bricolage_env=production"))
    val outDev = captureOut {
      assert(BricolageMain.run(Seq(s"--home=$home",
        "--list-global-variables"), Some(SparkTestBase.spark)) == 0)
    }
    assert(outDev.contains("x=base"))
  }

  test("--dump-options shows values with provenance (reference application.rb:45-50)") {
    val home = graft.core.TempDirs.create("cli-dump")
    Files.writeString(home.resolve("bricolage.yml"), "log-dir: /var/log/graft\n")
    val out = captureOut {
      assert(BricolageMain.run(Seq(s"--home=$home", "--log-path=/x/%{std}.log",
        "--dump-options"), Some(SparkTestBase.spark)) == 0)
    }
    assert(out.contains("log-path=/x/%{std}.log (--log-path option)"))
    assert(out.contains("log-dir=/var/log/graft (bricolage.yml:log-dir)"))
    assert(out.contains("s3-log=nil (default value)"))
    // jobnet variant prints the jobnet id + file first (jobnetrunner.rb:51-58)
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/n.jobnet"), "a\n")
    val out2 = captureOut {
      assert(JobNetMain.run(Seq(s"--home=$home", "--dump-options",
        home.resolve("net/n.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    }
    assert(out2.startsWith("jobnet-id=net/n"))
    assert(out2.contains("jobnet-file="))
    assert(out2.contains("enable-queue=false"))
  }

  test("-l/--list-jobs lists target jobs without executing (reference jobnetrunner.rb:74-77,144-148)") {
    val home = graft.core.TempDirs.create("cli-lj")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/n.jobnet"), "a -> boom\n")
    val out = captureOut {
      // exit 0 proves boom never executed
      assert(JobNetMain.run(Seq(s"--home=$home", "-l",
        home.resolve("net/n.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    }
    val lines = out.trim.split("\n").toSeq
    assert(lines == Seq("net/a", "net/boom"))
  }

  test("-l on a resumed queue lists only the persisted remainder (reference jobnetrunner.rb:69-77)") {
    val home = graft.core.TempDirs.create("cli-lr")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/q.jobnet"), "a -> boom\n")
    val qf = home.resolve("state.queue")
    assert(JobNetMain.run(Seq(s"--home=$home", s"--queue=$qf",
      home.resolve("net/q.jobnet").toString), Some(SparkTestBase.spark)) == 1)
    val out = captureOut {
      assert(JobNetMain.run(Seq(s"--home=$home", s"--queue=$qf", "-l",
        home.resolve("net/q.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    }
    assert(out.trim.split("\n").toSeq == Seq("net/boom"))
    // listing must not clobber the persisted remainder
    assert(Files.readString(qf).trim == "net/boom")
    // a fresh file queue is NOT created by a read-only listing
    val qf2 = home.resolve("fresh.queue")
    assert(JobNetMain.run(Seq(s"--home=$home", s"--queue=$qf2", "-l",
      home.resolve("net/q.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    assert(!Files.exists(qf2))
  }

  test("-c/--check-only compiles all jobs and quits (reference jobnetrunner.rb:78-83,150-154)") {
    val home = graft.core.TempDirs.create("cli-co")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/n.jobnet"), "a -> boom\n")
    val out = captureOut {
      assert(JobNetMain.run(Seq(s"--home=$home", "--check-only",
        home.resolve("net/n.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    }
    assert(out.trim == "OK")
    // a bad job class fails the check before anything runs
    Files.writeString(home.resolve("net/bad.job"), "class: no-such-class\n")
    Files.writeString(home.resolve("net/n2.jobnet"), "a -> bad\n")
    intercept[ParameterError] {
      JobNetMain.run(Seq(s"--home=$home", "-c",
        home.resolve("net/n2.jobnet").toString), Some(SparkTestBase.spark))
    }
  }

  test("-E/--explain prints the SQL plan without executing (reference application.rb:72-74, job.rb:146-149)") {
    val spark = SparkTestBase.spark
    spark.sql("CREATE DATABASE IF NOT EXISTS cli_exp")
    spark.sql("DROP TABLE IF EXISTS cli_exp.t")
    spark.sql("CREATE TABLE cli_exp.t (v INT) USING parquet")
    val home = graft.core.TempDirs.create("cli-exp")
    Files.createDirectories(home.resolve("etl"))
    Files.writeString(home.resolve("datasource.yml"),
      "sql:\n  type: spark\n  schema: cli_exp\n")
    Files.writeString(home.resolve("etl/ins.sql.job"),
      """/* class: sql
        |data-source: sql */
        |INSERT INTO cli_exp.t SELECT 9;""".stripMargin)
    val out = captureOut {
      assert(BricolageMain.run(Seq(s"--home=$home", "-E",
        home.resolve("etl/ins.sql.job").toString), Some(spark)) == 0)
    }
    assert(out.contains("Physical Plan"))
    // EXPLAIN must not have executed the INSERT
    assert(spark.sql("SELECT count(*) AS c FROM cli_exp.t").head.getLong(0) == 0L)
  }

  test("--list-variables and --list-declarations (reference application.rb:56-66)") {
    val home = graft.core.TempDirs.create("cli-lv")
    Files.writeString(home.resolve("variable.yml"), "who: world\n")
    Files.writeString(home.resolve("nop.job"), "class: noop\ngreet: $who\n")
    val decls = captureOut {
      assert(BricolageMain.run(Seq(s"--home=$home", "--list-declarations",
        home.resolve("nop.job").toString), Some(SparkTestBase.spark)) == 0)
    }
    assert(decls.trim.split("\n").contains("failure")) // noop's declared param
    val vars = captureOut {
      assert(BricolageMain.run(Seq(s"--home=$home", "--list-variables",
        home.resolve("nop.job").toString), Some(SparkTestBase.spark)) == 0)
    }
    assert(vars.contains("who=world"))
    assert(vars.contains("greet=world")) // rest vars resolve against globals
  }

  test("-L/--log-dir writes per-job logs and --s3-log ships them (reference application.rb:222-234)") {
    val home = graft.core.TempDirs.create("cli-log")
    val logDir = home.resolve("logs")
    val shipped = home.resolve("shipped")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("datasource.yml"),
      s"logstore:\n  type: fs\n  base: $shipped\n")
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/n.jobnet"), "a\n")
    assert(JobNetMain.run(Seq(s"--home=$home", s"--log-dir=$logDir",
      "--s3-log=logstore:jobnet-logs",
      home.resolve("net/n.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    def findLogs(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      if (!Files.exists(p)) Nil
      else Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".log")).toSeq
    }
    assert(findLogs(logDir).nonEmpty)       // local templated log written
    assert(findLogs(shipped.resolve("jobnet-logs")).nonEmpty) // shipped copy
  }

  test("BricolageMain -L/--log-dir writes the single job's log too (reference application.rb:77-80)") {
    val home = graft.core.TempDirs.create("cli-jlog")
    val logDir = home.resolve("logs")
    Files.writeString(home.resolve("a.job"), "class: noop\n")
    assert(BricolageMain.run(Seq(s"--home=$home", s"--log-dir=$logDir",
      home.resolve("a.job").toString), Some(SparkTestBase.spark)) == 0)
    import scala.jdk.CollectionConverters._
    val logs = Files.walk(logDir).iterator().asScala
      .filter(_.toString.endsWith(".log")).toSeq
    assert(logs.nonEmpty)
  }

  test("--local-state-dir overrides the derived queue path (reference jobnetrunner.rb:277-279)") {
    val home = graft.core.TempDirs.create("cli-lsd")
    val state = graft.core.TempDirs.create("cli-lsd-state")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/q.jobnet"), "a -> boom\n")
    assert(JobNetMain.run(Seq(s"--home=$home", "-Q", s"--local-state-dir=$state",
      home.resolve("net/q.jobnet").toString), Some(SparkTestBase.spark)) == 1)
    val qf = state.resolve(s"queue/${home.getFileName}.net.q.queue")
    assert(Files.exists(qf))
    assert(Files.readString(qf).trim == "net/boom")
  }

  test("--db-name resolves a jdbc datasource for the DB queue (reference jobnetrunner.rb:100-105,292-294)") {
    val home = graft.core.TempDirs.create("cli-dbn")
    val db = home.resolve("named-db")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("datasource.yml"),
      s"""taskdb:
         |  type: jdbc
         |  url: "jdbc:derby:$db;create=true"
         |""".stripMargin)
    Files.writeString(home.resolve("net/ok.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/n.jobnet"), "ok -> boom\n")
    graft.net.JdbcExecutionStore.quietDerby()
    val args = Seq(s"--home=$home", "--db-name=taskdb",
      home.resolve("net/n.jobnet").toString)
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 1)
    // fix and resume: the named server-DB queue restores the unfinished tail
    Files.writeString(home.resolve("net/boom.job"), "class: noop\n")
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 0)
    val store = graft.net.JdbcExecutionStore.embedded(db)
    try {
      assert(store.all.nonEmpty)
      assert(store.all.map(_.status).forall(_ == graft.net.ExecutionStatus.Succeeded))
    } finally store.close()
  }

  test("a stale queue lock refuses the run with unlock guidance (reference jobnetrunner.rb:61-63)") {
    val home = graft.core.TempDirs.create("cli-lk")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/q.jobnet"), "a\n")
    val qf = home.resolve("state.queue")
    Files.createFile(home.resolve("state.queue.LOCK")) // crashed runner's lock
    val args = Seq(s"--home=$home", s"--queue=$qf",
      home.resolve("net/q.jobnet").toString)
    val e = intercept[ParameterError] {
      JobNetMain.run(args, Some(SparkTestBase.spark))
    }
    assert(e.getMessage.contains("still locked"))
    assert(e.getMessage.contains("state.queue.LOCK")) // tells the operator what to remove
    // --clear-queue must not bypass the lock NOR mutate the locked queue
    Files.writeString(qf, "net/a\n")
    intercept[ParameterError] {
      JobNetMain.run(Seq(s"--home=$home", s"--queue=$qf", "--clear-queue",
        home.resolve("net/q.jobnet").toString), Some(SparkTestBase.spark))
    }
    assert(Files.readString(qf).trim == "net/a") // refused BEFORE clearing
    Files.delete(qf)
    Files.delete(home.resolve("state.queue.LOCK"))
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 0)
  }

  test("cmdline --queue beats a saved higher-priority db-queue (group layering)") {
    val home = graft.core.TempDirs.create("cli-gl")
    Files.writeString(home.resolve("bricolage.yml"),
      s"db-queue: ${home.resolve("saved-db")}\n")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/q.jobnet"), "a -> boom\n")
    val qf = home.resolve("cli.queue")
    // an explicit cmdline file queue must win over the saved db-queue
    assert(JobNetMain.run(Seq(s"--home=$home", s"--queue=$qf",
      home.resolve("net/q.jobnet").toString), Some(SparkTestBase.spark)) == 1)
    assert(Files.exists(qf)) // the cmdline file queue was used
    assert(!Files.exists(home.resolve("saved-db"))) // the saved DB was not
    // the dump shows the cmdline group and hides the unused saved value
    val out = captureOut {
      assert(JobNetMain.run(Seq(s"--home=$home", s"--queue=$qf", "--dump-options",
        home.resolve("net/q.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    }
    assert(out.contains(s"queue-path=$qf (--queue-path option)"))
    assert(out.contains("db-queue=nil (default value)"))
  }

  test("bricolage.yml saved enable-queue turns on the derived file queue") {
    val home = graft.core.TempDirs.create("cli-seq")
    Files.writeString(home.resolve("bricolage.yml"), "enable-queue: true\n")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/q.jobnet"), "a -> boom\n")
    // no cmdline queue flags at all: the saved enable-queue must persist
    // the failed tail at the derived path
    assert(JobNetMain.run(Seq(s"--home=$home",
      home.resolve("net/q.jobnet").toString), Some(SparkTestBase.spark)) == 1)
    val qf = home.resolve(s".bricolage/queue/${home.getFileName}.net.q.queue")
    assert(Files.exists(qf))
    assert(Files.readString(qf).trim == "net/boom")
  }

  test("bricolage.yml saved queue-path takes effect; --disable-queue vetoes it (reference merge_saved_options)") {
    val home = graft.core.TempDirs.create("cli-sq")
    val qf = home.resolve("saved.queue")
    Files.writeString(home.resolve("bricolage.yml"), s"queue-path: $qf\n")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/q.jobnet"), "a -> boom\n")
    val args = Seq(s"--home=$home", home.resolve("net/q.jobnet").toString)
    // no cmdline queue option: the saved queue-path is the durable queue
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 1)
    assert(Files.exists(qf))
    assert(Files.readString(qf).trim == "net/boom")
    // fix and resume from the saved queue: only the tail reruns
    Files.writeString(home.resolve("net/boom.job"), "class: noop\n")
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 0)
    assert(!Files.exists(qf))
    // --disable-queue vetoes the saved value: a fresh failure persists nothing
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    assert(JobNetMain.run(Seq(s"--home=$home", "--disable-queue",
      home.resolve("net/q.jobnet").toString), Some(SparkTestBase.spark)) == 1)
    assert(!Files.exists(qf))
  }

  test("--clear-queue clears persisted progress and quits without running (reference jobnetrunner.rb:64-68)") {
    val home = graft.core.TempDirs.create("cli-cq")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/q.jobnet"), "a -> boom\n")
    val qf = home.resolve("state.queue")
    val args = Seq(s"--home=$home", s"--queue=$qf",
      home.resolve("net/q.jobnet").toString)
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 1)
    assert(Files.exists(qf)) // the failed tail persisted
    assert(JobNetMain.run(Seq(s"--home=$home", s"--queue=$qf", "--clear-queue",
      home.resolve("net/q.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    assert(!Files.exists(qf)) // cleared, and exit 0 proves nothing re-ran
    assert(JobNetMain.run(args, Some(SparkTestBase.spark)) == 1) // fresh start
  }

  test("--help prints usage and quits (reference application.rb:356-359)") {
    val out = captureOut { assert(BricolageMain.run(Seq("--help")) == 0) }
    assert(out.contains("Synopsis:") && out.contains("--dump-options"))
  }

  test("-r/--require loads a plugin object and fires its register() (reference application.rb:352-354)") {
    val home = graft.core.TempDirs.create("cli-req")
    // the redis plugin registers the redis-export class on require; loading
    // it through -r must make the class visible to --list-job-class
    val out = captureOut {
      assert(BricolageMain.run(Seq("-r", "graft.plugins.RedisPlugin",
        "--list-job-class"), Some(SparkTestBase.spark)) == 0)
    }
    assert(out.trim.split("\n").contains("redis-export"))
    intercept[ParameterError] {
      BricolageMain.run(Seq(s"--home=$home", "--require=no.such.Plugin", "x.job"))
    }
  }

  test("positional job class runs in class mode (reference application.rb:103-112)") {
    val home = graft.core.TempDirs.create("cli-cm")
    // no job file on disk: the positional names a registered job class and
    // parameters come entirely from --option job options
    assert(BricolageMain.run(Seq(s"--home=$home", "noop"),
      Some(SparkTestBase.spark)) == 0)
    assert(BricolageMain.run(Seq(s"--home=$home", "noop", "--failure=true"),
      Some(SparkTestBase.spark)) == 1)
    // class mode composes with the informational options
    val decls = captureOut {
      assert(BricolageMain.run(Seq(s"--home=$home", "--list-declarations", "noop"),
        Some(SparkTestBase.spark)) == 0)
    }
    assert(decls.trim.split("\n").contains("failure"))
  }

  test("-l with a DB queue lists the restored remainder after a failure") {
    val home = graft.core.TempDirs.create("cli-dbl")
    val db = home.resolve("dbq")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/ok.job"), "class: noop\n")
    Files.writeString(home.resolve("net/boom.job"), "class: noop\nfailure: true\n")
    Files.writeString(home.resolve("net/n.jobnet"), "ok -> boom\n")
    graft.net.JdbcExecutionStore.quietDerby()
    assert(JobNetMain.run(Seq(s"--home=$home", s"--db-queue=$db",
      home.resolve("net/n.jobnet").toString), Some(SparkTestBase.spark)) == 1)
    // the DB holds the failed execution; -l lists only that remainder
    val out = captureOut {
      assert(JobNetMain.run(Seq(s"--home=$home", s"--db-queue=$db", "-l",
        home.resolve("net/n.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    }
    assert(out.trim.split("\n").toSeq == Seq("net/boom"))
    // and the run afterwards still resumes from the DB remainder
    Files.writeString(home.resolve("net/boom.job"), "class: noop\n")
    assert(JobNetMain.run(Seq(s"--home=$home", s"--db-queue=$db",
      home.resolve("net/n.jobnet").toString), Some(SparkTestBase.spark)) == 0)
  }

  test("--disable-queue clears --db-queue and --db-name too (reference make_queue checks enablement first)") {
    val o = Cli.parseArgs(Seq("--db-queue=/x", "--db-name=y", "--queue=/q",
      "--disable-queue", "f.jobnet"))
    assert(o.dbQueuePath.isEmpty && o.dbName.isEmpty && o.queuePath.isEmpty
      && !o.enableQueue && o.queueDisabled)
    // a LATER explicit enablement lifts the disable (last cmdline flag wins)
    val o2 = Cli.parseArgs(Seq("--disable-queue", "--queue=/q", "f.jobnet"))
    assert(o2.queuePath.isDefined && !o2.queueDisabled)
    val o3 = Cli.parseArgs(Seq("--disable-queue", "-Q", "f.jobnet"))
    assert(o3.enableQueue && !o3.queueDisabled)
  }

  test("--dump-options reflects effective queue layering (saved enable-queue, disable veto)") {
    val home = graft.core.TempDirs.create("cli-dq")
    Files.writeString(home.resolve("bricolage.yml"),
      "enable-queue: true\nqueue-path: /var/q/net.queue\n")
    Files.createDirectories(home.resolve("net"))
    Files.writeString(home.resolve("net/a.job"), "class: noop\n")
    Files.writeString(home.resolve("net/n.jobnet"), "a\n")
    val out = captureOut {
      assert(JobNetMain.run(Seq(s"--home=$home", "--dump-options",
        home.resolve("net/n.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    }
    assert(out.contains("enable-queue=true (bricolage.yml:enable-queue)"))
    assert(out.contains("queue-path=/var/q/net.queue (bricolage.yml:queue-path)"))
    // disable veto hides the saved values the run will not use
    val out2 = captureOut {
      assert(JobNetMain.run(Seq(s"--home=$home", "--disable-queue", "--dump-options",
        home.resolve("net/n.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    }
    assert(out2.contains("enable-queue=false (--disable-queue option)"))
    assert(out2.contains("queue-path=nil (--disable-queue option)"))
  }

  test("Cli.executorId: host:pid default, ECS TaskARN:pid (reference jobnetrunner.rb:113-124)") {
    val pid = ProcessHandle.current().pid()
    assert(Cli.executorId(None).endsWith(s":$pid"))
    val meta = graft.core.TempDirs.create("ecs-meta")
    Files.writeString(meta.resolve("task"),
      """{"Cluster":"c","TaskARN":"arn:aws:ecs:us-east-1:123:task/cluster/abc123def"}""")
    assert(Cli.executorId(Some(s"file://$meta")) == s"abc123def:$pid")
  }

  test("before_option_parsing hook fires before argv parsing and can inject options") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val jobEvents = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val home = graft.core.TempDirs.create("cli-home4")
    JobListener.register(new JobListener {
      override def beforeOptionParsing(args: Seq[String]): Seq[String] = {
        seen += args
        // inject a default option, as the reference's hooks do via ARGV
        if (args.exists(_.endsWith("nop2.job"))) s"--home=$home" +: args else args
      }
      override def beforeJob(ref: graft.net.JobRef): Unit =
        jobEvents.add(s"before ${ref.name}")
      override def afterJob(ref: graft.net.JobRef, result: graft.core.JobResult): Unit =
        jobEvents.add(s"after ${ref.name}")
    })
    Files.writeString(home.resolve("nop.job"), "class: noop\n")
    assert(BricolageMain.run(Seq(s"--home=$home",
      home.resolve("nop.job").toString), Some(SparkTestBase.spark)) == 0)
    assert(seen.nonEmpty && seen.head.exists(_.endsWith("nop.job")))
    // injected --home takes effect: no explicit --home in the argv
    Files.writeString(home.resolve("nop2.job"), "class: noop\n")
    assert(BricolageMain.run(Seq(home.resolve("nop2.job").toString),
      Some(SparkTestBase.spark)) == 0)
    // beforeJob/afterJob reach global hooks from BricolageMain (job file
    // and class mode)...
    jobEvents.clear()
    Files.writeString(home.resolve("hooked.job"), "class: noop\n")
    assert(BricolageMain.run(Seq(s"--home=$home",
      home.resolve("hooked.job").toString), Some(SparkTestBase.spark)) == 0)
    assert(BricolageMain.run(Seq(s"--home=$home", "noop"), Some(SparkTestBase.spark)) == 0)
    // ...and from JobNetMain, for every job of the net
    Files.createDirectories(home.resolve("hnet"))
    Files.writeString(home.resolve("hnet/hooked_a.job"), "class: noop\n")
    Files.writeString(home.resolve("hnet/hooked_b.job"), "class: noop\n")
    Files.writeString(home.resolve("hnet/n.jobnet"), "hooked_a -> hooked_b\n")
    assert(JobNetMain.run(Seq(s"--home=$home",
      home.resolve("hnet/n.jobnet").toString), Some(SparkTestBase.spark)) == 0)
    import scala.jdk.CollectionConverters._
    assert(jobEvents.asScala.toSeq == Seq(
      "before hooked.job", "after hooked.job", "before noop", "after noop",
      "before hooked_a", "after hooked_a", "before hooked_b", "after hooked_b"))
  }

  test("prelude.conf auto-requires features at context creation (reference context.rb:55)") {
    val home = graft.core.TempDirs.create("cli-prelude")
    Files.createDirectories(home.resolve("config/staging"))
    Files.writeString(home.resolve("config/prelude.conf"),
      "# global prelude\ngraft.runner.PreludeProbe\n\n")
    Files.writeString(home.resolve("config/staging/prelude.conf"),
      "graft.runner.PreludeEnvProbe\n")
    PreludeProbe.loads = 0
    PreludeEnvProbe.loads = 0
    Cli.loadContext(home, "", SparkTestBase.spark, env = "staging")
    assert(PreludeProbe.loads == 1, "config/prelude.conf feature not required")
    assert(PreludeEnvProbe.loads == 1, "config/<env>/prelude.conf feature not required")
    // a different env loads only the global layer
    Cli.loadContext(home, "", SparkTestBase.spark, env = "production")
    assert(PreludeProbe.loads == 2 && PreludeEnvProbe.loads == 1)
  }

  test("a Ruby prelude.rb is loudly skipped, never silently ignored") {
    val home = graft.core.TempDirs.create("cli-preluderb")
    Files.createDirectories(home.resolve("config"))
    Files.writeString(home.resolve("config/prelude.rb"), "require 'foo'\n")
    val bos = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(bos, true))
    try Cli.loadContext(home, "", SparkTestBase.spark)
    finally System.setErr(saved)
    val err = bos.toString
    assert(err.contains("prelude.rb") && err.contains("WARNING"),
      s"expected a loud skip warning, got: $err")
    assert(err.contains("prelude.conf") && err.contains("--require"),
      "warning must point at the supported equivalents")
  }
}

/** Fixture features for the prelude auto-require tests; `register()` is
  * the observable load side effect (same hook the real plugins use).
  */
object PreludeProbe {
  @volatile var loads = 0
  def register(): Unit = loads += 1
}

object PreludeEnvProbe {
  @volatile var loads = 0
  def register(): Unit = loads += 1
}
