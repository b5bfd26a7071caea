package org.apache.spark.sql.graftbridge

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.{TempDirs, Variables}
import graft.ds.{DataSourceRegistry, FileDataSource, FsDataSource, SparkDataSource}
import graft.jobclass.JobContext
import graft.operators.StreamOps
import graft.runner.Application

/** Scoped-session housekeeping that needs the context's listener bus,
  * which only code under `org.apache.spark` can see.
  */
class GraftBridgeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def streamBuses: Int =
    spark.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size

  test("draining streams in scoped sessions leaves no streaming listener behind") {
    // each drain's query runs in two fresh sessions (the scoped one and
    // the clone it executes in), each registering a listener bus with the
    // shared SparkContext
    val before = streamBuses
    StreamOps.qStreamCdcLatest(spark, dir).collect()  // complete-mode memory sink
    StreamOps.qStreamLateDrop(spark, dir).collect()   // append-mode files sink
    assert(streamBuses == before)
  }

  test("a streaming_load stream-mode run leaves no streaming listener behind") {
    // a fresh job session, as in a new process: started in it, the query
    // would build its StreamingQueryManager, whose bus stays attached
    val session = GraftBridge.sessionWithConf(spark)
    val home = TempDirs.create("gb-home")
    val fsBase = TempDirs.create("gb-fs")
    Files.createDirectories(home.resolve("subsys"))
    Files.createDirectories(fsBase.resolve("queue"))
    Files.writeString(fsBase.resolve("queue/s-1.json"), """{"id": 1, "name": "a"}""" + "\n")
    spark.sql("CREATE DATABASE IF NOT EXISTS gb")
    spark.sql("DROP TABLE IF EXISTS gb.strack")
    spark.sql("CREATE TABLE gb.strack (id INT, name STRING) USING parquet")
    val ctx = JobContext(new DataSourceRegistry(Map(
      "sql"  -> new SparkDataSource("sql", session, "gb"),
      "fs"   -> new FsDataSource("fs", fsBase),
      "file" -> new FileDataSource("file", home))), home, "subsys", Variables.empty)
    val job = home.resolve("subsys/stream.job")
    Files.writeString(job, """class: streaming_load
      |src-ds: fs
      |queue-path: queue
      |dest-ds: sql
      |dest-table: gb.strack
      |format: json
      |streaming: true
      |""".stripMargin)
    val before = streamBuses
    val r = Application.runJobFile(job, ctx)
    assert(r.success, r.message)
    assert(session.sql("SELECT count(*) FROM gb.strack").head.getLong(0) == 1)
    assert(streamBuses == before)
  }
}
