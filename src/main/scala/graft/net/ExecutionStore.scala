package graft.net

import java.time.Instant
import scala.collection.mutable

import graft.core.{JobFailure, JobResult}

/** Job-execution state machine:
  * waiting → running → succeeded | failed (failed → running on retry),
  * waiting/failed → canceled; every transition appends an audit record
  * (reference: lib/bricolage/dao/jobexecution.rb:148-213 and
  * schema/Schemafile:16-33 — `job_executions` + `job_execution_states`).
  */
object ExecutionStatus {
  val Waiting = "waiting"
  val Running = "running"
  val Succeeded = "succeeded"
  val Failed = "failed"
  val Canceled = "canceled"
}

final case class JobExecution(
    id: Long,
    jobnet: String,
    subsys: String,
    jobName: String,
    executionSequence: Int,
    status: String,
    message: String,
    submittedAt: Instant,
    startedAt: Option[Instant],
    finishedAt: Option[Instant]) {
  def ref: JobRef = JobRef(subsys, jobName, isNet = false)
}

/** Audit-trail row (reference: `job_execution_states`, Schemafile:27-33). */
final case class StateTransition(
    jobExecutionId: Long, status: String, message: String, createdAt: Instant)

class IllegalJobStateException(msg: String) extends JobFailure(msg)

/** DB-backed task queue semantics over [[JdbcExecutionStore]]
  * (reference: lib/bricolage/taskqueue.rb:175-310 `DatabaseTaskQueue`):
  * enqueue creates waiting executions in topological order; consume walks
  * them with running/succeeded/failed transitions, stops at the first
  * failure, and writes a failed state even on unexpected errors; restore
  * re-queues only non-succeeded executions, so a rerun skips completed
  * jobs; optional jobnet/job locks are keyed by executor id.
  */
final class DatabaseTaskQueue(
    store: JdbcExecutionStore,
    jobnetId: String,
    executorId: String,
    enableLock: Boolean = false) extends TaskQueue {

  private val q = mutable.Queue.empty[JobExecution]
  private var bound = false

  def enqueue(ref: JobRef): Unit = {
    val e = store.enqueueJob(jobnetId, ref, q.size + 1)
    q.enqueue(e)
    bound = true
  }

  /** Re-load unfinished executions of the jobnet (restart path). Returns
    * true if anything was restored.
    */
  def restoreJobnet(): Boolean = {
    require(!bound, "jobnet is already bound to queue")
    val pending = store.enqueuedJobs(jobnetId)
    pending.foreach(q.enqueue)
    bound = pending.nonEmpty
    bound
  }

  def queued: Seq[JobRef] = q.toSeq.map(_.ref)

  def consumeEach(f: JobRef => JobResult): JobResult = {
    require(bound, "jobnet is not bound to queue")
    if (enableLock) store.lock(jobnetId, executorId)
    try {
      while (q.nonEmpty) {
        val task = q.head
        if (enableLock) store.lock(s"$jobnetId#${task.ref}", executorId)
        try {
          store.transitionToRunning(task.id)
          var completed = false
          try {
            val r = f(task.ref)
            if (r.success) {
              store.transitionToSucceeded(task.id)
              completed = true
              q.dequeue()
            } else {
              store.transitionToFailed(task.id, r.message)
              completed = true
              return r
            }
          } finally {
            if (!completed)
              try store.transitionToFailed(task.id, "unexpected error")
              catch { case _: IllegalJobStateException => }
          }
        } finally {
          if (enableLock) store.unlock(s"$jobnetId#${task.ref}", executorId)
        }
      }
      JobResult.success
    } finally {
      if (enableLock) store.unlock(jobnetId, executorId)
    }
  }

  override def restore(): Unit = if (!bound) { restoreJobnet(); () }
  override def lock(): Unit = store.lock(jobnetId, executorId)
  override def unlock(): Unit = store.unlock(jobnetId, executorId)
  override def locked: Boolean = store.lockedBy(jobnetId).isDefined
  override def unlockHelp: String = s"run with --unlock-jobnet (lock: $jobnetId)"
  override def close(): Unit = store.close()
}
