package org.apache.spark.sql.graftbridge

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase}

/** The session-hygiene contract: the session factory is the one place a
  * session is set up, and building, collecting and releasing any
  * registered query leaves the caller's session as it found it. Lives
  * under `org.apache.spark` to count the context's streaming listener
  * buses, as GraftBridgeSpec does.
  */
class SessionHygieneSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  /** Everything a query could leave behind in the caller's session:
    * runtime conf, temp views (local and global), temporary functions,
    * extra planner strategies and streaming listener buses. Catalog tables
    * and persisted frames (freed by `SparkEntry.release`) are not session
    * setup and are left out.
    */
  private def sessionState = {
    val catalog = spark.asInstanceOf[classic.SparkSession].sessionState.catalog
    val global = catalog.globalTempViewManager
    (spark.conf.getAll,
      catalog.getTempViewNames().toSet,
      global.listViewNames("*").toSet,
      catalog.listFunctions("default").map(_._1).filter(catalog.isTemporaryFunction).toSet,
      spark.experimental.extraStrategies,
      spark.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size)
  }

  test("every registered query leaves the caller's session as it found it") {
    val started = System.nanoTime
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val before = sessionState
      q(spark, dir).collect()
      SparkEntry.release(spark)
      val after = sessionState
      assert(after == before, s"$name changed the caller's session")
    }
    info(f"${SparkEntry.queries.size} queries in ${(System.nanoTime - started) / 1e9}%.1f s")
  }

  test("only the factory builds a session; operators, streams and Tables write no session state") {
    def sources(root: String): Seq[Path] =
      Files.walk(Paths.get(root)).iterator.asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    def count(f: Path, needle: String): Int =
      java.util.regex.Pattern.quote(needle).r.findAllMatchIn(Files.readString(f)).size
    // split so this file does not match itself
    val builder = "SparkSession" + ".builder("
    val builds = (sources("src/main") ++ sources("src/test"))
      .flatMap(f => Seq.fill(count(f, builder))(f.getFileName.toString))
    assert(builds == Seq("Cli.scala"))
    val graft = "src/main/scala/graft"
    val sessionUsers = sources(s"$graft/operators") ++ sources(s"$graft/streaming") :+
      Paths.get(s"$graft/Tables.scala")
    Seq("conf.set(", "extraStrategies").foreach { needle =>
      assert(sessionUsers.filter(count(_, needle) > 0).isEmpty, needle)
    }
  }
}
