package graft.runner

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.GZIPOutputStream

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** End-to-end run of the ported reference fixture home
  * (reference: the test/home tree its own test suite drives; SURVEY §5).
  * Every file under src/test/resources/fixture-home is a faithful port of
  * the same-named reference fixture; this spec drives them through the real
  * CLI entry points (BricolageMain/JobNetMain) so context loading,
  * variable.yml ERB, datasource.yml, job-file parsing, and the job classes
  * all run exactly as a user's home directory would.
  */
class FixtureHomeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestBase.spark
  private var home: Path = _

  private def copyTree(from: Path, to: Path): Unit = {
    Files.walk(from).forEach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  override def beforeAll(): Unit = {
    home = graft.core.TempDirs.create("fixture-home")
    copyTree(Paths.get("src/test/resources/fixture-home"), home)
    // datasource config (reference keeps this in config/<env>/database.yml;
    // paths are machine-local so the spec writes it)
    Files.writeString(home.resolve("datasource.yml"),
      s"""sql: {type: spark, schema: default}
         |fs: {type: fs, base: $home}
         |file: {type: file, base: $home}
         |s3: {type: fs, base: $home}
         |s3_ctl: {type: fs, base: $home}
         |mysql: {type: spark, schema: main}
         |mysql_summary: {type: spark, schema: summary}
         |redis: {type: redis}
         |""".stripMargin)
    // plugin classes load out-of-core, the Gemfile analogue
    graft.plugins.MySqlPlugin.register()
    graft.plugins.RedisPlugin.register()
    // source table + databases the fixtures expect to exist
    spark.sql("CREATE DATABASE IF NOT EXISTS fixture")
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    spark.sql("CREATE DATABASE IF NOT EXISTS summary")
    // "mysql" stand-in sources for the plugin fixtures
    spark.sql("DROP TABLE IF EXISTS main.users")
    spark.sql("""CREATE TABLE main.users (id INT, user_name STRING,
      | birthday DATE, zip STRING, created_at TIMESTAMP,
      | updated_at TIMESTAMP) USING parquet""".stripMargin)
    spark.sql("""INSERT INTO main.users VALUES
      | (1, 'ann', DATE'1990-01-02', '100-0001',
      |  TIMESTAMP'2020-01-01 00:00:00', TIMESTAMP'2020-01-01 00:00:00'),
      | (2, 'bob', DATE'1985-05-06', '200-0002',
      |  TIMESTAMP'2020-06-01 12:00:00', TIMESTAMP'2020-06-02 12:00:00')""".stripMargin)
    spark.sql("DROP TABLE IF EXISTS main.search_backends")
    spark.sql("""CREATE TABLE main.search_backends (id INT, role STRING,
      | group_id SMALLINT, index_type STRING, config_key STRING,
      | updated_at TIMESTAMP) USING parquet""".stripMargin)
    spark.sql("""INSERT INTO main.search_backends VALUES
      | (10, 'primary', 1S, 'text', 'mk1', TIMESTAMP'2021-01-01 00:00:00'),
      | (11, 'replica', 1S, 'text', 'mk2', TIMESTAMP'2021-01-02 00:00:00'),
      | (12, 'replica', 2S, 'vector', 'mk3', TIMESTAMP'2021-01-03 00:00:00')""".stripMargin)
    val yday = java.time.LocalDate.now().minusDays(1)
    spark.sql("DROP TABLE IF EXISTS summary.item_pv")
    spark.sql("""CREATE TABLE summary.item_pv (data_date DATE, item_id INT,
      | pv BIGINT, uu BIGINT, `date` DATE) USING parquet""".stripMargin)
    spark.sql(s"""INSERT INTO summary.item_pv VALUES
      | (DATE'$yday', 7, 100L, 10L, DATE'$yday'),
      | (DATE'$yday', 8, 200L, 20L, DATE'$yday'),
      | (DATE'2020-01-01', 9, 300L, 30L, DATE'2020-01-01')""".stripMargin)
    spark.sql("DROP TABLE IF EXISTS fixture.item_pv_acc")
    spark.sql("""CREATE TABLE fixture.item_pv_acc (data_date DATE,
      | item_id INT, pv BIGINT, uu BIGINT) USING parquet""".stripMargin)
    // one stale row in the reload window (must be replaced) + one kept
    spark.sql(s"""INSERT INTO fixture.item_pv_acc VALUES
      | (DATE'$yday', 99, 1L, 1L), (DATE'2019-12-31', 5, 50L, 5L)""".stripMargin)
    spark.sql("DROP TABLE IF EXISTS fixture.users")
    spark.sql("DROP TABLE IF EXISTS fixture.users_old")
    spark.sql("DROP TABLE IF EXISTS fixture.user_cook_recipes")
    spark.sql("""CREATE TABLE fixture.user_cook_recipes
      | (user_id INT, recipe_id INT, score DOUBLE) USING parquet""".stripMargin)
    spark.sql("""INSERT INTO fixture.user_cook_recipes VALUES
      | (1, 100, 0.9), (1, 101, 0.5), (2, 100, 0.7)""".stripMargin)
    spark.sql("DROP TABLE IF EXISTS s")
    spark.sql("CREATE TABLE s (x INT, y INT, z INT) USING parquet")
    spark.sql("INSERT INTO s VALUES (1,2,3), (4,5,6), (7,8,9)")
    spark.sql("DROP TABLE IF EXISTS d")
    spark.sql("DROP VIEW IF EXISTS some_view")
    spark.sql("DROP TABLE IF EXISTS fixture.search_backends")
    spark.sql("DROP TABLE IF EXISTS fixture.load_test")
    spark.sql("DROP TABLE IF EXISTS fixture.load_test_l")
    // gzipped JSON object for load.job (reference test data is a .json.gz
    // S3 object)
    val sbDir = Files.createDirectories(home.resolve("search_backends"))
    val gz = new GZIPOutputStream(
      Files.newOutputStream(sbDir.resolve("search_backends.json.gz")))
    gz.write(
      ("""{"id":1,"role":"primary","group_id":1,"index_type":"text","config_key":"k1","updated_at":"2019-05-28T00:00:00.000Z"}""" + "\n" +
       """{"id":2,"role":"replica","group_id":1,"index_type":"text","config_key":"k2","updated_at":"2019-05-28T01:00:00.000Z"}""" + "\n").getBytes("UTF-8"))
    gz.close()
    // streaming_load queue object named by the fixture pattern
    // (reference: test/home/subsys/20190528_0000_00.json)
    val qDir = Files.createDirectories(home.resolve("load_test/queue"))
    Files.writeString(qDir.resolve("20190528_0000_00.json"),
      """{"x":1,"y":"a","z":"b"}""" + "\n" + """{"x":2,"y":"c","z":"d"}""" + "\n")
    spark.sql("CREATE TABLE fixture.load_test (x INT, y STRING, z STRING) USING parquet")
  }

  private def runJob(rel: String, opts: String*): Int =
    BricolageMain.run(Seq(s"--home=$home") ++ opts :+ home.resolve(rel).toString,
      Some(spark))

  private def runNet(rel: String): Int =
    JobNetMain.run(Seq(s"--home=$home", home.resolve(rel).toString), Some(spark))

  test("variable.yml: the reference's ERB data_date line resolves to yesterday") {
    val vars = Cli.loadVariables(home, "subsys")
    assert(vars.resolve().get("data_date")
      .contains(java.time.LocalDate.now().minusDays(1).toString))
    assert(vars.resolve().get("test_schema").contains("fixture"))
  }

  test("net1.jobnet: nested *net2 expands to job1 -> job2 -> job3 -> job4") {
    val ctx = Cli.loadContext(home, "subsys", spark)
    val order = new JobNetRunner(ctx)
      .sequentialJobs(home.resolve("subsys/net1.jobnet")).map(_.name)
    assert(order == Seq("job1", "job2", "job3", "job4"))
    assert(runNet("subsys/net1.jobnet") == 0)
  }

  test("subsys2/net.jobnet: cross-subsystem refs + nested net + comment") {
    val ctx = Cli.loadContext(home, "subsys2", spark)
    val order = new JobNetRunner(ctx)
      .sequentialJobs(home.resolve("subsys2/net.jobnet"))
      .map(r => s"${r.subsys}/${r.name}")
    assert(order == Seq("subsys2/job1", "subsys/job5", "subsys/job1",
      "subsys/job2", "subsys/job3", "subsys/job4", "subsys2/job2"))
    assert(runNet("subsys2/net.jobnet") == 0)
  }

  test("rebuild.sql.job: rebuild-drop from d.ct, then insert.sql.job appends") {
    assert(runJob("subsys/rebuild.sql.job") == 0)
    assert(spark.table("d").count() == 3)
    assert(runJob("subsys/insert.sql.job") == 0)
    assert(spark.table("d").count() == 6)
  }

  test("some_view-cv.sql.job: createview over d") {
    assert(runJob("subsys/some_view-cv.sql.job") == 0)
    assert(spark.table("some_view").count() == spark.table("d").count())
  }

  test("separated.job: class sql resolves separated.sql by job id") {
    assert(runJob("subsys/separated.job") == 0)
  }

  test("unified.jobnet: solo node resolves unified.sql.job (adhoc)") {
    assert(runNet("subsys/unified.jobnet") == 0)
  }

  test("raw-vacuum.jobnet: ERB vacuum-lock shims + VACUUM statement no-op") {
    assert(runNet("subsys/raw-vacuum.jobnet") == 0)
  }

  test("exec.job: env + single-string shell command with a pipe") {
    assert(runJob("subsys/exec.job") == 0)
  }

  test("shprog.sh.job: script job runs itself via $script (rubyprog pattern)") {
    // the reference's rubyprog.rb.job runs `ruby $script` on its own file;
    // no ruby in this container, so the sh twin proves the mechanism
    assert(runJob("subsys/shprog.sh.job") == 0)
  }

  test("put.job: s3-put alias, absolute src-file, exact dest key") {
    assert(runJob("subsys/put.job") == 0)
    assert(Files.readString(home.resolve("test-dest.txt"))
      == Files.readString(home.resolve("data/test.txt")))
  }

  test("load.job: drop-create from .ct, gzipped JSON load into $test_schema") {
    assert(runJob("subsys/load.job") == 0)
    val rows = spark.table("fixture.search_backends").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("role")).toSet == Set("primary", "replica"))
  }

  test("my-import.job: plugin dump -> s3 json.gz -> rebuild -> COPY with options") {
    assert(runJob("subsys/my-import.job") == 0)
    val rows = spark.table("fixture.users").collect()
    assert(rows.length == 2)
    // dst_zone_offset +09:00 shifted the dump timestamps
    val ann = rows.find(_.getAs[Int]("id") == 1).get
    assert(ann.getAs[java.sql.Timestamp]("created_at").toInstant
      == java.time.Instant.parse("2020-01-01T09:00:00Z"))
    // backup kept (no-backup commented out in the fixture)
    assert(runJob("subsys/my-import.job") == 0)
    assert(spark.catalog.tableExists("fixture.users_old"))
  }

  test("migrate.job: plugin dump -> local tmp gz -> fs put -> rebuild (no backup)") {
    assert(runJob("subsys/migrate.job") == 0)
    assert(spark.table("fixture.search_backends").count() == 3)
    // remove-tmp deleted the staging file; no-backup dropped the old copy
    assert(!Files.exists(java.nio.file.Paths.get("/tmp/search_backends.json.gz")))
    assert(!spark.catalog.tableExists("fixture.search_backends_old"))
    // the staged object is a valid single gz the load path can re-read
    assert(Files.exists(home.resolve("search_backends/search_backends.json.gz")))
  }

  test("my-import-delta.sql.job: plugin delta reload replaces only the window") {
    assert(runJob("subsys/my-import-delta.sql.job") == 0)
    val rows = spark.table("fixture.item_pv_acc").collect()
      .map(r => (r.getAs[java.sql.Date]("data_date").toString, r.getAs[Int]("item_id")))
      .sortBy(_.toString)
    val yday = java.time.LocalDate.now().minusDays(1).toString
    // stale row 99 in the window replaced by items 7 and 8; 2019 row kept
    assert(rows.toSeq == Seq(("2019-12-31", 5), (yday, 7), (yday, 8)))
  }

  test("redis_export.job / redis_export2.job: plugin KVS export (hash + json)") {
    import graft.plugins.RedisPlugin.InProcessKvs
    InProcessKvs.clear("redis")
    assert(runJob("subsys/redis_export.job") == 0)
    // composite key, hash encoding, TTL
    assert(InProcessKvs.keys("redis")
      == Seq("ha_ucp_1_100", "ha_ucp_1_101", "ha_ucp_2_100"))
    val (hv, httl) = InProcessKvs.get("redis", "ha_ucp_1_100").get
    assert(hv.asInstanceOf[Map[String, String]]("score") == "0.9")
    assert(httl.contains(604800L))
    InProcessKvs.clear("redis")
    assert(runJob("subsys/redis_export2.job") == 0)
    // single key column, json encoding (last row per key wins)
    assert(InProcessKvs.keys("redis") == Seq("1", "2"))
    val (jv, jttl) = InProcessKvs.get("redis", "2").get
    assert(jv.asInstanceOf[String].contains("\"user_id\":2"))
    assert(jttl.contains(60L))
  }

  test("load_test.job: streaming_load with the reference's param names") {
    assert(runJob("subsys/load_test.job") == 0)
    assert(spark.table("fixture.load_test").count() == 2)
    // queue object dequeued to the dated persistent path
    assert(!Files.exists(home.resolve("load_test/queue/20190528_0000_00.json")))
    val today = java.time.LocalDate.now()
    val saved = home.resolve(f"load_test/save/${today.getYear}%04d/" +
      f"${today.getMonthValue}%02d/${today.getDayOfMonth}%02d/20190528_0000_00.json")
    assert(Files.exists(saved))
    // re-run: load log prevents a duplicate load
    Files.createDirectories(home.resolve("load_test/queue"))
    assert(runJob("subsys/load_test.job") == 0)
    assert(spark.table("fixture.load_test").count() == 2)
  }
}
