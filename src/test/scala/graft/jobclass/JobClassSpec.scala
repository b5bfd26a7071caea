package graft.jobclass

import java.nio.file.{Files, Path}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._
import graft.ds.{DataSourceRegistry, FileDataSource, FsDataSource, SparkDataSource}
import graft.net.FileTaskQueue
import graft.runner.{Application, JobNetRunner}

/** End-to-end job-class runs against a temp warehouse + fixture home,
  * mirroring the reference's fixture tree (test/home/subsys).
  */
class JobClassSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestBase.spark
  private var home: Path = _
  private var fsBase: Path = _
  private var ctx: JobContext = _
  private lazy val sds = ctx.registry.spark("sql")

  override def beforeAll(): Unit = {
    home = graft.core.TempDirs.create("graft-home")
    fsBase = graft.core.TempDirs.create("graft-fs")
    Files.createDirectories(home.resolve("subsys"))
    spark.sql("CREATE DATABASE IF NOT EXISTS app")
    val registry = new DataSourceRegistry(Map(
      "sql"  -> new SparkDataSource("sql", spark, "app"),
      "fs"   -> new FsDataSource("fs", fsBase),
      "file" -> new FileDataSource("file", home)))
    ctx = JobContext(registry, home, "subsys",
      Variables("data_date" -> "2024-08-07"))
  }

  private def write(rel: String, text: String): Path = {
    val p = home.resolve("subsys").resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
    p
  }

  private def run(jobFileName: String, text: String): JobResult = {
    val p = write(jobFileName, text)
    Application.runJobFile(p, ctx)
  }

  private def count(table: String): Long =
    spark.sql(s"SELECT count(*) FROM $table").head.getLong(0)

  test("adhoc .sql.job runs inline SQL end-to-end") {
    val r = run("adhoc1.sql.job",
      """/* class: adhoc
        |data-source: sql */
        |CREATE TABLE app.adhoc_t USING parquet AS SELECT 1 AS x;
        |INSERT INTO app.adhoc_t SELECT 2;""".stripMargin)
    assert(r.success, r.message)
    assert(count("app.adhoc_t") == 2)
  }

  test("create job translates .ct and creates the table") {
    write("users.ct",
      """create table users
        |( id int encode lzo
        |, name varchar(64)
        |, created date
        |) distkey (id) sortkey (created);""".stripMargin)
    val r = run("create_users.job",
      """class: create
        |table-def: users.ct
        |dest-table: app.users
        |data-source: sql
        |drop: true
        |""".stripMargin)
    assert(r.success, r.message)
    assert(spark.catalog.tableExists("app.users"))
  }

  test("sql job: truncate + user SQL + variables") {
    spark.sql("DROP TABLE IF EXISTS app.sql_t")
    spark.sql("CREATE TABLE app.sql_t USING parquet AS SELECT 99 AS v")
    val r = run("sqljob.sql.job",
      """/* class: sql
        |data-source: sql
        |dest-table: app.sql_t
        |truncate: true */
        |INSERT INTO $dest_table SELECT 7;""".stripMargin)
    assert(r.success, r.message)
    assert(spark.sql("SELECT v FROM app.sql_t").collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("insert job appends via INSERT-SELECT") {
    spark.sql("DROP TABLE IF EXISTS app.ins_dest")
    spark.sql("CREATE TABLE app.ins_dest USING parquet AS SELECT 1 AS v")
    val r = run("insert1.sql.job",
      """/* class: insert
        |data-source: sql
        |dest-table: app.ins_dest */
        |INSERT INTO $dest_table SELECT 2;""".stripMargin)
    assert(r.success, r.message)
    assert(count("app.ins_dest") == 2)
  }

  test("insert-delta is idempotent for a partition reload") {
    spark.sql("DROP TABLE IF EXISTS app.delta_t")
    spark.sql(
      """CREATE TABLE app.delta_t USING parquet AS
        |SELECT * FROM VALUES ('2024-08-06', 1), ('2024-08-07', 2) AS t(dt, v)""".stripMargin)
    val job =
      """/* class: insert-delta
        |data-source: sql
        |dest-table: app.delta_t
        |delete-cond: "dt = '$data_date'" */
        |INSERT INTO app.delta_t SELECT '$data_date', 20;""".stripMargin
    assert(run("delta1.sql.job", job).success)
    assert(run("delta1.sql.job", job).success) // run twice: idempotent
    val rows = spark.sql("SELECT dt, v FROM app.delta_t ORDER BY dt").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(rows == Seq(("2024-08-06", 1), ("2024-08-07", 20)))
  }

  test("insert-delta with partitioned-by overwrites only touched partitions") {
    spark.sql("DROP TABLE IF EXISTS app.delta_p")
    spark.sql("CREATE TABLE app.delta_p (v INT) USING parquet PARTITIONED BY (dt STRING)")
    spark.sql("INSERT INTO app.delta_p VALUES (1, '2024-08-06'), (2, '2024-08-07')")
    val job =
      """/* class: insert-delta
        |data-source: sql
        |dest-table: app.delta_p
        |partitioned-by: dt
        |delete-cond: "dt = '$data_date'" */
        |INSERT INTO app.delta_p SELECT 20, '$data_date';""".stripMargin
    assert(run("deltap.sql.job", job).success)
    assert(run("deltap.sql.job", job).success) // idempotent re-run
    val rows = spark.sql("SELECT dt, v FROM app.delta_p ORDER BY dt").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    // 08-06 untouched, 08-07 partition replaced (not appended)
    assert(rows == Seq(("2024-08-06", 1), ("2024-08-07", 20)))
    // the dynamic overwrite mode was scoped to a cloned session — the
    // job session's conf must not have been mutated
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic")
  }

  test("insert-delta with partitioned-by runs a multi-statement script") {
    spark.sql("DROP TABLE IF EXISTS app.delta_ms")
    spark.sql("CREATE TABLE app.delta_ms (v INT) USING parquet PARTITIONED BY (dt STRING)")
    spark.sql("INSERT INTO app.delta_ms VALUES (1, '2024-08-06'), (2, '2024-08-07')")
    // a temp view, then the INSERT that reads it: each statement runs on
    // its own, in one scoped session
    val r = run("deltams.sql.job",
      """/* class: insert-delta
        |data-source: sql
        |dest-table: app.delta_ms
        |partitioned-by: dt
        |delete-cond: "dt = '$data_date'" */
        |CREATE OR REPLACE TEMP VIEW delta_ms_src AS SELECT 30 AS v, '$data_date' AS dt;
        |INSERT INTO app.delta_ms SELECT v, dt FROM delta_ms_src;""".stripMargin)
    assert(r.success, r.message)
    val rows = spark.sql("SELECT dt, v FROM app.delta_ms ORDER BY dt").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(rows == Seq(("2024-08-06", 1), ("2024-08-07", 30)))
  }

  test("insert-delta with partitioned-by overwrites for a CTE-prefixed INSERT") {
    spark.sql("DROP TABLE IF EXISTS app.delta_cte")
    spark.sql("CREATE TABLE app.delta_cte (v INT) USING parquet PARTITIONED BY (dt STRING)")
    spark.sql("INSERT INTO app.delta_cte VALUES (1, '2024-08-06'), (2, '2024-08-07')")
    val job =
      """/* class: insert-delta
        |data-source: sql
        |dest-table: app.delta_cte
        |partitioned-by: dt
        |delete-cond: "dt = '$data_date'" */
        |WITH src AS (SELECT 40 AS v, '$data_date' AS dt)
        |INSERT INTO app.delta_cte SELECT v, dt FROM src;""".stripMargin
    assert(run("deltacte.sql.job", job).success)
    assert(run("deltacte.sql.job", job).success) // re-run replaces, never doubles
    val rows = spark.sql("SELECT dt, v FROM app.delta_cte ORDER BY dt").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(rows == Seq(("2024-08-06", 1), ("2024-08-07", 40)))
  }

  test("insert-delta with partitioned-by rejects a second INSERT INTO") {
    spark.sql("DROP TABLE IF EXISTS app.delta_two")
    spark.sql("CREATE TABLE app.delta_two (v INT) USING parquet PARTITIONED BY (dt STRING)")
    spark.sql("INSERT INTO app.delta_two VALUES (2, '2024-08-07')")
    // as two overwrites the second would wipe the first one's rows
    val r = run("deltatwo.sql.job",
      """/* class: insert-delta
        |data-source: sql
        |dest-table: app.delta_two
        |partitioned-by: dt
        |delete-cond: "dt = '$data_date'" */
        |INSERT INTO app.delta_two SELECT 50, '$data_date';
        |INSERT INTO app.delta_two SELECT 60, '$data_date';""".stripMargin)
    assert(!r.success)
    assert(r.message.contains("at most one INSERT INTO"), r.message)
    val rows = spark.sql("SELECT dt, v FROM app.delta_two").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(rows == Seq(("2024-08-07", 2)))
  }

  test("insert-delta with partitioned-by keeps the job session's runtime confs") {
    spark.sql("DROP TABLE IF EXISTS app.delta_tz")
    spark.sql("CREATE TABLE app.delta_tz (tz STRING) USING parquet PARTITIONED BY (dt STRING)")
    spark.sql("INSERT INTO app.delta_tz VALUES ('none', '2024-08-06')")
    val key = "spark.sql.session.timeZone"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    val r = try run("deltatz.sql.job",
      """/* class: insert-delta
        |data-source: sql
        |dest-table: app.delta_tz
        |partitioned-by: dt
        |delete-cond: "dt = '$data_date'" */
        |INSERT INTO app.delta_tz SELECT current_timezone(), '$data_date';""".stripMargin)
    finally spark.conf.set(key, prior)
    assert(r.success, r.message)
    val rows = spark.sql("SELECT dt, tz FROM app.delta_tz ORDER BY dt").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("2024-08-06", "none"), ("2024-08-07", "America/Los_Angeles")))
  }

  test("rebuild-rename swaps atomically and keeps old data on failure") {
    write("big.ct", "create table big (v int);")
    spark.sql("DROP TABLE IF EXISTS app.big")
    val ok =
      """/* class: rebuild-rename
        |data-source: sql
        |dest-table: app.big
        |table-def: big.ct */
        |INSERT INTO app.big SELECT 42;""".stripMargin
    assert(run("rebuild1.sql.job", ok).success)
    assert(count("app.big") == 1)
    // failing rebuild leaves the published table intact
    val bad =
      """/* class: rebuild-rename
        |data-source: sql
        |dest-table: app.big
        |table-def: big.ct */
        |INSERT INTO app.big SELECT * FROM app.no_such_table;""".stripMargin
    val r = run("rebuild2.sql.job", bad)
    assert(!r.success)
    assert(count("app.big") == 1) // survived
  }

  test("createview creates a queryable view") {
    val r = run("view1.sql.job",
      """/* class: createview
        |data-source: sql
        |dest-table: app.v_users */
        |SELECT 123 AS uid""".stripMargin)
    assert(r.success, r.message)
    assert(spark.sql("SELECT uid FROM app.v_users").head.getInt(0) == 123)
  }

  test("load job reads TSV from the fs datasource into a table") {
    write("load_t.ct", "create table load_t (id int, name varchar(10));")
    Files.createDirectories(fsBase.resolve("in"))
    Files.writeString(fsBase.resolve("in/part1.tsv"), "1\talice\n2\tbob\n")
    val r = run("load1.job",
      """class: load
        |src-ds: fs
        |src-file: in
        |dest-ds: sql
        |dest-table: app.load_t
        |table-def: load_t.ct
        |format: tsv
        |drop: true
        |""".stripMargin)
    assert(r.success, r.message)
    assert(count("app.load_t") == 2)
  }

  test("unload job writes query results as csv to the fs datasource") {
    val r = run("unload1.sql.job",
      """/* class: unload
        |data-source: sql
        |dest-ds: fs
        |dest-file: out/res
        |format: csv */
        |SELECT 1 AS a UNION ALL SELECT 2""".stripMargin)
    assert(r.success, r.message)
    val files = Files.list(fsBase.resolve("out/res")).iterator()
    var rows = 0
    files.forEachRemaining { f =>
      if (f.getFileName.toString.endsWith(".csv"))
        rows += Files.readAllLines(f).size()
    }
    assert(rows == 2)
  }

  test("noop failure maps to JobFailure exit code 1") {
    val r = run("noop_fail.job", "class: noop\nfailure: true\n")
    assert(!r.success)
    assert(r.exitCode == 1)
  }

  test("undeclared job-file keys become rest variables usable in SQL (job.rb:111-120)") {
    spark.sql("DROP TABLE IF EXISTS app.rest_t")
    val r = run("rest1.sql.job",
      """/* class: adhoc
        |data-source: sql
        |magic_number: 41 */
        |CREATE TABLE app.rest_t USING parquet AS SELECT $magic_number + 1 AS v;""".stripMargin)
    assert(r.success, r.message)
    assert(spark.sql("SELECT v FROM app.rest_t").head.getInt(0) == 42)
  }

  test("unknown CLI option is a JobError (exit 2)") {
    val p = write("cli1.job", "class: noop\n")
    val r = Application.runJobFile(p, ctx, cliOptions = Map("not-an-option" -> "1"))
    assert(r.exitCode == 2)
  }

  test("exec job runs a command") {
    val r = run("exec1.job", "class: exec\nargs: [\"true\"]\n")
    assert(r.success)
    val r2 = run("exec2.job", "class: exec\nargs: [\"false\"]\n")
    assert(!r2.success)
  }

  test("wait-file times out as JobFailure") {
    val r = run("wait1.job",
      "class: wait-file\nfile: /nonexistent/never\nmax-wait-minutes: 0.001\npoll-seconds: 0.05\n")
    assert(!r.success)
    assert(r.exitCode == 1)
  }

  test("jobnet runner executes in topo order and file queue resumes") {
    write("ok1.job", "class: noop\n")
    write("ok2.job", "class: noop\n")
    write("boom.job", "class: noop\nfailure: true\n")
    write("net_ok.jobnet", "ok1 -> ok2\n")
    val runner = new JobNetRunner(ctx)
    assert(runner.run(home.resolve("subsys/net_ok.jobnet")).success)

    write("net_fail.jobnet", "ok1 -> boom\nboom -> ok2\n")
    val qdir = graft.core.TempDirs.create("queue")
    val q1 = new FileTaskQueue(qdir.resolve("net_fail.queue"))
    val r = runner.run(home.resolve("subsys/net_fail.jobnet"), q1)
    assert(!r.success)
    // boom + ok2 remain queued; fix boom and resume from the persisted queue
    write("boom.job", "class: noop\n")
    val q2 = new FileTaskQueue(qdir.resolve("net_fail.queue"))
    assert(q2.queued.map(_.name) == Seq("boom", "ok2"))
    assert(runner.run(home.resolve("subsys/net_fail.jobnet"), q2).success)
  }

  test("custom ScalaJobClass registers and runs through a .job file") {
    var ran = Vector.empty[String]
    JobClass.register(new ScalaJobClass("my-import",
        Seq(graft.core.StringParam("src-name")))((p, vars, ctx) =>
      Seq(Action("my-import") { ran :+= p.string("src-name") + "/" + vars("suffix") })))
    val p = home.resolve("subsys/myimp.job")
    java.nio.file.Files.writeString(p,
      "class: my-import\nsrc-name: users\nsuffix: v1\n")
    val r = graft.runner.Application.runJobFile(p, ctx)
    assert(r.success)
    assert(ran == Vector("users/v1"))
  }

  test("explain returns plan text; queryBatch streams bounded batches") {
    assert(sds.explain("SELECT 1 AS one").contains("Physical Plan"))
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    sds.queryBatch("SELECT id FROM range(25)", batchSize = 10)(rows => sizes += rows.size)
    assert(sizes.toSeq == Seq(10, 10, 5))
  }

  test("maskSecrets hides credentials in logged SQL") {
    assert(SparkDataSource.maskSecrets(
      "copy t from 's3://b/k' credentials 'aws_access_key_id=AKIA;secret=x' gzip")
      == "copy t from 's3://b/k' credentials '****' gzip")
  }
}
