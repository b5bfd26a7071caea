package graft

import java.nio.file.{Files, Path}

import graft.core.Variables
import graft.ds.{DataSourceRegistry, FileDataSource, FsDataSource, SparkDataSource}
import graft.jobclass.JobContext
import graft.net.{FileTaskQueue, JobRef}
import graft.runner.{Application, Cli, JobNetRunner, JobListener}

/** End-to-end demo of the framework surface: builds a fixture home
  * (create → load → transform → unload jobnet + a streaming_load queue)
  * over the sf0.001 testdata and runs it through the public runner API.
  *
  * Usage: sbt "runMain graft.Demo"
  */
object Demo {

  def main(args: Array[String]): Unit = {
    val wh = graft.core.TempDirs.create("demo-warehouse")
    val spark = Cli.buildSpark("graft-demo", "spark.sql.warehouse.dir" -> wh.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql("CREATE DATABASE IF NOT EXISTS demo")

    val home = graft.core.TempDirs.create("demo-home")
    val fsBase = graft.core.TempDirs.create("demo-fs")
    val subsys = home.resolve("etl")
    Files.createDirectories(subsys)

    val ctx = JobContext(
      new DataSourceRegistry(Map(
        "sql"  -> new SparkDataSource("sql", spark, "demo"),
        "fs"   -> new FsDataSource("fs", fsBase),
        "file" -> new FileDataSource("file", home))),
      home, "etl",
      Variables("sf_dir" -> sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")))

    def write(name: String, text: String): Path = {
      val p = subsys.resolve(name); Files.writeString(p, text); p
    }

    // 1. import: register source parquet as a table (adhoc SQL job)
    write("import_orders.sql.job",
      """/* class: adhoc
        |data-source: sql */
        |CREATE TABLE IF NOT EXISTS demo.orders_raw USING parquet
        |  AS SELECT * FROM parquet.`$sf_dir/orders.parquet`;""".stripMargin)

    // 2. transform: rebuild a summary table with zero-downtime rename
    write("summary.ct",
      "create table summary (status varchar(4), cnt bigint, total double) distkey(status);")
    write("build_summary.sql.job",
      """/* class: rebuild-rename
        |data-source: sql
        |dest-table: demo.order_summary
        |table-def: summary.ct */
        |INSERT INTO demo.order_summary
        |SELECT o_orderstatus, count(*), round(sum(o_totalprice), 2)
        |FROM demo.orders_raw GROUP BY o_orderstatus;""".stripMargin)

    // 3. export: unload the summary as CSV to the fs datasource
    write("export_summary.sql.job",
      """/* class: unload
        |data-source: sql
        |dest-ds: fs
        |dest-file: exports/summary
        |format: csv */
        |SELECT * FROM demo.order_summary ORDER BY status""".stripMargin)

    write("demo.jobnet",
      """import_orders -> build_summary
        |build_summary -> export_summary
        |""".stripMargin)

    val listener = new JobListener {
      override def beforeJob(ref: JobRef): Unit = println(s">>> running $ref")
      override def afterJob(ref: JobRef, r: graft.core.JobResult): Unit =
        println(s"<<< $ref: ${if (r.success) "OK" else "FAILED " + r.message}")
    }

    val queue = new FileTaskQueue(home.resolve("demo.queue"))
    val result = new JobNetRunner(ctx, Seq(listener))
      .run(subsys.resolve("demo.jobnet"), queue)
    println(s"jobnet result: ${result.status} (exit ${result.exitCode})")

    println("order_summary:")
    spark.sql("SELECT * FROM demo.order_summary ORDER BY status").show()

    // 4. streaming load: json events queue, exactly-once
    Files.createDirectories(fsBase.resolve("queue"))
    Files.writeString(fsBase.resolve("queue/ev-20240807-01.json"),
      """{"id": 1, "kind": "click"}""" + "\n" + """{"id": 2, "kind": "view"}""" + "\n")
    spark.sql("CREATE TABLE IF NOT EXISTS demo.events_in (id INT, kind STRING) USING parquet")
    val slJob = write("stream_load.job",
      """class: streaming_load
        |src-ds: fs
        |queue-path: queue
        |persistent-path: loaded/%Y/%m
        |file-name: "ev-%Y%m%d-%Q.json"
        |dest-ds: sql
        |dest-table: demo.events_in
        |format: json
        |""".stripMargin)
    println("streaming_load run 1: " + Application.runJobFile(slJob, ctx).status)
    println("streaming_load run 2 (no new files): " + Application.runJobFile(slJob, ctx).status)
    spark.sql("SELECT * FROM demo.events_in ORDER BY id").show()
    println("events_in rows: " + spark.sql("SELECT count(*) FROM demo.events_in").head.getLong(0))
    val exported = Files.list(fsBase.resolve("exports/summary")).iterator()
    exported.forEachRemaining { f =>
      if (f.getFileName.toString.endsWith(".csv"))
        println("exported csv:\n" + Files.readString(f))
    }
    spark.stop()
  }
}
