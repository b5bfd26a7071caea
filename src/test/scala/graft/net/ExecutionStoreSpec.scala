package graft.net

import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{JobResult, ParameterError}
import graft.runner.LogFilePath

/** State machine + DB-queue semantics (reference:
  * test/test_databasetaskqueue.rb and lib/bricolage/dao/jobexecution.rb)
  * and log path templating (reference: test/test_logfilepath.rb:160-170).
  * The store is the JDBC (embedded Derby) one with the reference's SQL
  * locking idioms.
  */
class ExecutionStoreSpec extends AnyFunSuite {

  private def ref(n: String) = JobRef("subsys", n, isNet = false)

  private def mk(): JdbcExecutionStore = JdbcExecutionStore.embedded(
    graft.core.TempDirs.create("graft-derby").resolve("db"))

  test("[jdbc] enqueue creates waiting executions in sequence order") {
    val store = mk()
    store.enqueueJob("subsys/net1", ref("job1"), 1)
    store.enqueueJob("subsys/net1", ref("job2"), 2)
    val q = store.enqueuedJobs("subsys/net1")
    assert(q.map(_.jobName) == Seq("job1", "job2"))
    assert(q.forall(_.status == ExecutionStatus.Waiting))
  }

  test("[jdbc] legal transitions waiting -> running -> succeeded, with audit trail") {
    val store = mk()
    val e = store.enqueueJob("n", ref("j"), 1)
    store.transitionToRunning(e.id)
    assert(store.get(e.id).get.startedAt.isDefined)
    store.transitionToSucceeded(e.id)
    assert(store.get(e.id).get.status == ExecutionStatus.Succeeded)
    assert(store.stateTransitions.map(_.status) ==
      Seq("waiting", "running", "succeeded"))
  }

  test("[jdbc] illegal transitions raise; running re-claim is legal") {
    val store = mk()
    val e = store.enqueueJob("n", ref("j"), 1)
    intercept[IllegalJobStateException](store.transitionToSucceeded(e.id))
    store.transitionToRunning(e.id)
    // a crashed runner leaves 'running'; a restart must be able to
    // re-claim it rather than demand --clear-queue
    store.transitionToRunning(e.id)
    store.transitionToSucceeded(e.id)
    intercept[IllegalJobStateException](store.transitionToRunning(e.id))
  }

  test("[jdbc] failed job can re-run (failed -> running)") {
    val store = mk()
    val e = store.enqueueJob("n", ref("j"), 1)
    store.transitionToRunning(e.id)
    store.transitionToFailed(e.id, "boom")
    assert(store.get(e.id).get.message == "boom")
    store.transitionToRunning(e.id)
    assert(store.get(e.id).get.status == ExecutionStatus.Running)
  }

  test("[jdbc] queue consume stops at first failure; restore skips succeeded") {
    val store = mk()
    val q = new DatabaseTaskQueue(store, "subsys/net1", "host:1")
    Seq("a", "b", "c").foreach(n => q.enqueue(ref(n)))
    val r = q.consumeEach { j =>
      if (j.name == "b") JobResult.failure("b failed") else JobResult.success
    }
    assert(!r.success)
    assert(store.enqueuedJobs("subsys/net1").map(_.jobName) == Seq("b", "c"))
    // restart: a fresh queue restores only the unfinished jobs
    val q2 = new DatabaseTaskQueue(store, "subsys/net1", "host:2")
    assert(q2.restoreJobnet())
    assert(q2.queued.map(_.name) == Seq("b", "c"))
    assert(q2.consumeEach(_ => JobResult.success).success)
    assert(store.enqueuedJobs("subsys/net1").isEmpty)
  }

  test("[jdbc] unexpected exception still writes failed state") {
    val store = mk()
    val q = new DatabaseTaskQueue(store, "n", "host:1")
    q.enqueue(ref("a"))
    intercept[RuntimeException](q.consumeEach(_ => throw new RuntimeException("kaboom")))
    assert(store.all.head.status == ExecutionStatus.Failed)
  }

  test("[jdbc] jobnet lock excludes a second executor") {
    val store = mk()
    val q1 = new DatabaseTaskQueue(store, "n", "host:1", enableLock = true)
    q1.enqueue(ref("a"))
    store.lock("n", "host:9")
    intercept[IllegalJobStateException](q1.consumeEach(_ => JobResult.success))
    store.unlock("n", "host:9")
    assert(q1.consumeEach(_ => JobResult.success).success)
  }

  test("[jdbc] cancelJobnet cancels all non-terminal executions") {
    val store = mk()
    store.enqueueJob("n", ref("a"), 1)
    store.enqueueJob("n", ref("b"), 2)
    store.cancelJobnet("n", "operator cancel")
    assert(store.all.forall(_.status == ExecutionStatus.Canceled))
    assert(store.enqueuedJobs("n").isEmpty)
  }

  test("jdbc store persists and reloads across connections") {
    val db = graft.core.TempDirs.create("graft-derby-p").resolve("db")
    val s1 = JdbcExecutionStore.embedded(db)
    val e = s1.enqueueJob("n", ref("a"), 1)
    s1.transitionToRunning(e.id)
    s1.transitionToFailed(e.id, "boom")
    s1.close()
    val s2 = JdbcExecutionStore.embedded(db)
    assert(s2.get(e.id).get.status == ExecutionStatus.Failed)
    assert(s2.enqueueJob("n2", ref("b"), 1).id > e.id)
    s2.close()
  }

  test("jdbc enqueue race: concurrent stores cannot double-insert an execution") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    val db = graft.core.TempDirs.create("graft-derby-race").resolve("db")
    val s1 = JdbcExecutionStore.embedded(db)
    val s2 = new JdbcExecutionStore(s"jdbc:derby:$db") // second connection, same DB
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (round <- 1 to 5) {
        val barrier = new CyclicBarrier(2)
        def race(s: JdbcExecutionStore) = pool.submit(new Callable[JobExecution] {
          def call(): JobExecution = { barrier.await(); s.enqueueJob("netr", ref("j"), 1) }
        })
        val (f1, f2) = (race(s1), race(s2))
        val e1 = f1.get(30, TimeUnit.SECONDS)
        val e2 = f2.get(30, TimeUnit.SECONDS)
        // the loser of the INSERT race must adopt the winner's row
        assert(e1.id == e2.id, s"round $round double-inserted")
        assert(s1.enqueuedJobs("netr").size == 1)
        // finish the execution; a terminal row frees the slot for the next round
        s1.transitionToRunning(e1.id)
        s1.transitionToSucceeded(e1.id)
      }
      assert(s1.all.count(_.jobnet == "netr") == 5) // one row per round, not per racer
    } finally {
      pool.shutdownNow()
      s2.close(); s1.close()
    }
  }

  test("jdbc store migrates a pre-active_key schema in place") {
    val db = graft.core.TempDirs.create("graft-derby-mig").resolve("db")
    JdbcExecutionStore.quietDerby()
    // hand-build the old schema (no active_key column) with one live row
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db;create=true")
    val st = conn.createStatement()
    st.executeUpdate(
      """CREATE TABLE job_executions (
        | job_execution_id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        | jobnet VARCHAR(512) NOT NULL,
        | subsys VARCHAR(256) NOT NULL,
        | job_name VARCHAR(256) NOT NULL,
        | execution_sequence INT NOT NULL,
        | status VARCHAR(16) NOT NULL,
        | message VARCHAR(4000) NOT NULL,
        | submitted_at TIMESTAMP NOT NULL,
        | started_at TIMESTAMP,
        | finished_at TIMESTAMP)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE job_execution_states (
        | state_id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        | job_execution_id BIGINT NOT NULL,
        | status VARCHAR(16) NOT NULL,
        | message VARCHAR(4000) NOT NULL,
        | created_at TIMESTAMP NOT NULL)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE execution_locks (
        | lock_key VARCHAR(512) PRIMARY KEY,
        | executor_id VARCHAR(128),
        | locked_at TIMESTAMP)""".stripMargin)
    st.executeUpdate(
      """INSERT INTO job_executions
        | (jobnet, subsys, job_name, execution_sequence, status, message, submitted_at)
        | VALUES ('netm', 'subsys', 'j', 1, 'waiting', '', CURRENT_TIMESTAMP)""".stripMargin)
    st.close(); conn.close()
    // opening the store migrates: column added, live row backfilled, constraint on
    val s = JdbcExecutionStore.embedded(db)
    try {
      // the backfilled key dedups re-enqueue of the same live job
      val e = s.enqueueJob("netm", ref("j"), 1)
      assert(s.all.count(_.jobnet == "netm") == 1)
      // and a fresh job still inserts under the constraint
      assert(s.enqueueJob("netm", ref("k"), 2).id != e.id)
    } finally s.close()
  }

  test("jdbc lock survives reconnection (durable executor_id row)") {
    val db = graft.core.TempDirs.create("graft-derby-l").resolve("db")
    val s1 = JdbcExecutionStore.embedded(db)
    s1.lock("net9", "host:1")
    s1.close()
    val s2 = JdbcExecutionStore.embedded(db)
    assert(s2.lockedBy("net9").contains("host:1"))
    intercept[IllegalJobStateException](s2.lock("net9", "host:2"))
    s2.unlock("net9", "host:1")
    s2.lock("net9", "host:2")
    s2.close()
  }

  test("log path %{std} expansion") {
    val lp = new LogFilePath("/log/%{std}.log")
    val t = LocalDateTime.of(2024, 8, 7, 9, 30, 15, 123000000)
    val out = lp.format(JobRef("subsys", "job1", false), "subsys/net1", t, t)
    assert(out == "/log/20240807/subsys::net1/20240807_093015123/subsys-job1.log")
  }

  test("log path individual variables and bad variable") {
    val t = LocalDateTime.of(2024, 1, 2, 3, 4, 5, 0)
    val jt = LocalDateTime.of(2024, 1, 1, 0, 0, 0, 0)
    val lp = new LogFilePath("%{job_start_date}/%{net}/%{job}")
    assert(lp.format(JobRef("ss", "j", false), "net9", t, jt) == "20240102/net9/j")
    intercept[ParameterError](
      new LogFilePath("%{nope}").format(JobRef("ss", "j", false), "n", t, jt))
  }
}
