package graft.net

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{JobResult, Variables}
import graft.ds.DataSourceRegistry
import graft.jobclass.JobContext
import graft.runner.JobNetRunner

/** 1:1 port of the reference's test_databasetaskqueue.rb (164 LoC) against
  * the JDBC (embedded Derby) execution store and the ported fixture-home
  * jobnets — nested net1 (4 jobs) and the cross-subsystem subsys2/net
  * (7 jobs). `job_execution_dao.enqueued_jobs` maps to
  * `store.enqueuedJobs(jobnetId)`.
  */
class ReferenceDbQueueSpec extends AnyFunSuite {

  private val fixtureHome = Paths.get("src/test/resources/fixture-home")

  private def jobs(subsys: String, net: String): Seq[JobRef] =
    new JobNetRunner(JobContext(new DataSourceRegistry(Map.empty),
      fixtureHome, subsys, Variables.empty))
      .sequentialJobs(fixtureHome.resolve(s"$subsys/$net.jobnet"))

  private lazy val net1Jobs = jobs("subsys", "net1")
  private lazy val net2Jobs = jobs("subsys2", "net")

  // fresh store per test = the reference's teardown delete_all
  private def mkStore(): JdbcExecutionStore =
    JdbcExecutionStore.embedded(
      graft.core.TempDirs.create("graft-dbq").resolve("db"))

  private def enqueue(store: ExecutionStoreApi, jobnetId: String,
      executorId: String, refs: Seq[JobRef],
      enableLock: Boolean = false): DatabaseTaskQueue = {
    val q = new DatabaseTaskQueue(store, jobnetId, executorId, enableLock)
    refs.foreach(q.enqueue)
    q
  }

  test("parse a nested jobnet") {
    val store = mkStore()
    val q = enqueue(store, "subsys/net1", "dummy_executor", net1Jobs)
    assert(q.queued.size == 4)
    store.close()
  }

  test("parse a jobnet with another subsystem") {
    val store = mkStore()
    val q = enqueue(store, "subsys2/net", "dummy_executor", net2Jobs)
    assert(q.queued.size == 7)
    store.close()
  }

  test("#consume_each") {
    val store = mkStore()
    val q = enqueue(store, "subsys/net1", "dummy_executor", net1Jobs,
      enableLock = true)
    assert(!q.locked)
    val done = scala.collection.mutable.ArrayBuffer.empty[JobRef]
    q.consumeEach { job =>
      assert(q.locked)
      assert(q.queued.size == 4 - done.size)
      assert(store.enqueuedJobs("subsys/net1").size == 4 - done.size)
      done += job
      JobResult.success
    }
    assert(!q.locked)
    assert(q.queued.isEmpty)
    assert(done.map(r => (r.subsys, r.name)) == Seq(
      ("subsys", "job1"), ("subsys", "job2"),
      ("subsys", "job3"), ("subsys", "job4")))
    store.close()
  }

  test("#consume_each (no lock)") {
    val store = mkStore()
    val q = enqueue(store, "subsys/net1", "dummy_executor", net1Jobs)
    var n = 0
    q.consumeEach { _ =>
      n += 1
      assert(store.enqueuedJobs("subsys/net1").size == 4 - n + 1)
      JobResult.success
    }
    assert(n == 4 && q.queued.isEmpty)
    store.close()
  }

  test("#consume_each many times") {
    val store = mkStore()
    (0 until 5).foreach { seq =>
      val q = enqueue(store, "subsys/net1", s"t$seq", net1Jobs,
        enableLock = true)
      var n = 0
      q.consumeEach { _ => n += 1; JobResult.success }
      assert(n == 4 && q.queued.isEmpty)
    }
    store.close()
  }

  test("#cancel_jobnet") {
    val store = mkStore()
    enqueue(store, "subsys/net1", "dummy_executor", net1Jobs)
    assert(store.enqueuedJobs("subsys/net1").size == 4)
    store.cancelJobnet("subsys/net1", "test")
    assert(store.enqueuedJobs("subsys/net1").isEmpty)
    store.close()
  }

  test("#consume_each (multiple jobnets mix)") {
    val store = mkStore()
    val q1 = enqueue(store, "subsys/net1", "t1", net1Jobs, enableLock = true)
    val q2 = enqueue(store, "subsys2/net", "t2", net2Jobs, enableLock = true)
    assert(store.enqueuedJobs("subsys/net1").size == 4)
    assert(store.enqueuedJobs("subsys2/net").size == 7)
    var i = 0
    q1.consumeEach { _ => i += 1; JobResult.success }
    assert(i == 4)
    assert(store.enqueuedJobs("subsys/net1").isEmpty)
    assert(store.enqueuedJobs("subsys2/net").size == 7)
    var j = 0
    q2.consumeEach { _ => j += 1; JobResult.success }
    assert(j == 7)
    assert(store.enqueuedJobs("subsys/net1").isEmpty)
    assert(store.enqueuedJobs("subsys2/net").isEmpty)
    store.close()
  }

  test("#consume_each (multiple jobnets with cancellation)") {
    val store = mkStore()
    val q1 = enqueue(store, "subsys/net1", "t1", net1Jobs, enableLock = true)
    val q2 = enqueue(store, "subsys2/net", "t2", net2Jobs, enableLock = true)
    var i = 0
    q1.consumeEach { _ =>
      i += 1
      if (i == 1) JobResult.success else JobResult.failure("test job failed")
    }
    assert(store.enqueuedJobs("subsys/net1").size == 3)
    store.cancelJobnet("subsys/net1", "test")
    assert(store.enqueuedJobs("subsys/net1").isEmpty)
    assert(store.enqueuedJobs("subsys2/net").size == 7)
    var j = 0
    q2.consumeEach { _ => j += 1; JobResult.success }
    assert(j == 7)
    assert(store.enqueuedJobs("subsys2/net").isEmpty)
    store.close()
  }
}
