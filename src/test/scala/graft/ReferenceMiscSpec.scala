package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Variables
import graft.ds.DataSourceRegistry
import graft.jobclass.{JobContext, LoadOptions}
import graft.net.{FileTaskQueue, JobRef}
import graft.runner.JobNetRunner

/** 1:1 ports of the reference's remaining small test suites:
  * test_filesystem.rb, test_psqldatasource.rb (load-option formatting),
  * test_c_streaming_load.rb (filename pattern compiler), and
  * test_filetaskqueue.rb — each against the ported fixture home.
  */
class ReferenceMiscSpec extends AnyFunSuite {

  private val fixtureHome = Paths.get("src/test/resources/fixture-home")

  private def runner(subsys: String) =
    new JobNetRunner(JobContext(new DataSourceRegistry(Map.empty),
      fixtureHome, subsys, Variables.empty))

  // --- test_filesystem.rb ---

  test("FileSystem.job_file") {
    val r = runner("subsys")
    assert(r.jobFilePath(JobRef("subsys", "unified", false))
      == fixtureHome.resolve("subsys/unified.sql.job"))
    assert(r.jobFilePath(JobRef("subsys", "separated", false))
      == fixtureHome.resolve("subsys/separated.job"))
  }

  // --- test_psqldatasource.rb ---

  test("load option is correctly formatted") {
    assert(LoadOptions.formatOption("gzip", true) == "gzip")
    assert(LoadOptions.formatOption("json", "auto") == "json 'auto'")
    assert(LoadOptions.formatOption("encoding", "utf16le") == "encoding utf16le")
    assert(LoadOptions.formatOption("compupdate", false) == "compupdate false")
    assert(LoadOptions.formatOption("maxerror", 10) == "maxerror 10")
  }

  // --- test_c_streaming_load.rb ---

  test("compile_name_pattern") {
    val re = graft.streaming.FileNamePattern.compile("%*%Y%m%d-%H%M_%Q.gz")
    assert(re.matches("x20240101-1234_9.gz"))
    assert(re.matches("20240101-1234_00.gz"))
    assert(!re.matches("20240101-1234_00.json"))
    assert(!re.matches("2024010a-1234_00.gz")) // %d must be digits
    // %* is a path-component wildcard: a slash must never match
    assert(!re.matches("a/b20240101-1234_9.gz"))
  }

  // --- test_filetaskqueue.rb ---

  private def net1Jobs: Seq[JobRef] =
    runner("subsys").sequentialJobs(fixtureHome.resolve("subsys/net1.jobnet"))

  test("#restore_jobnet") {
    val temp = graft.core.TempDirs.create("ftq").resolve("test_temp.queue")
    val empty = new FileTaskQueue(temp)
    assert(empty.queued.isEmpty)
    // a persisted queue restores its single pending job
    val existing = new FileTaskQueue(
      fixtureHome.resolve("subsys/test_exist.queue"))
    assert(existing.queued.map(r => (r.subsys, r.name)) == Seq(("subsys", "job1")))
  }

  test("#enqueue_jobnet") {
    val temp = graft.core.TempDirs.create("ftq2").resolve("test_temp.queue")
    val queue = new FileTaskQueue(temp)
    assert(queue.queued.isEmpty)
    net1Jobs.foreach(queue.enqueue)
    assert(queue.queued.size == 4)
    val jobs = queue.queued
    assert((jobs.head.subsys, jobs.head.name) == (("subsys", "job1")))
    assert((jobs(3).subsys, jobs(3).name) == (("subsys", "job4")))
  }

  test("#consume_each") {
    val temp = graft.core.TempDirs.create("ftq3").resolve("test_temp.queue")
    val queue = new FileTaskQueue(temp)
    net1Jobs.foreach(queue.enqueue)
    assert(!queue.locked)
    assert(queue.queued.size == 4)
    val jobs = scala.collection.mutable.ArrayBuffer.empty[JobRef]
    val r = queue.consumeEach { job =>
      assert(queue.locked)
      // the persisted file shrinks as jobs complete
      assert(Files.readAllLines(temp).size == 4 - jobs.size)
      assert(queue.queued.size == 4 - jobs.size)
      jobs += job
      graft.core.JobResult.success
    }
    assert(r.success)
    assert(!queue.locked)
    assert(queue.queued.isEmpty)
    assert(jobs.map(_.name) == Seq("job1", "job2", "job3", "job4"))
    assert(jobs.forall(_.subsys == "subsys"))
  }
}
