package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.JobResult
import graft.ds.ObjectStore
import graft.net.{JobRef, TaskQueue}

/** In-memory span recorder. Spans are opened around calls into the
  * program's public functions; each carries its parent (the innermost
  * open span on the calling thread) and the pass it belongs to. While a
  * span is open, its id is the calling thread's SparkContext local
  * property [[Trace.SpanProp]], so every Spark job the call submits is
  * attributed to it. With tracing off, `span` only runs its body.
  */
object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, attr: String,
      start: Long, end: Long, pass: Int)

  @volatile var enabled = false
  @volatile var pass = -1
  @volatile private var sc: Option[SparkContext] = None

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[(String, Int), Double]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def attach(spark: SparkSession): Unit = sc = Some(spark.sparkContext)

  def span[T](name: String, attr: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0)
      stack.set(id :: outer)
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
      val p = pass
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        sc.foreach(_.setLocalProperty(SpanProp,
          outer.headOption.map(_.toString).orNull))
        synchronized { spans += Span(id, parent, name, attr, t0, t1, p) }
      }
    }

  /** Add to a counter of the current pass. */
  def count(name: String, by: Double = 1.0, at: Int = pass): Unit =
    if (enabled) synchronized {
      counters((name, at)) = counters.getOrElse((name, at), 0.0) + by
    }

  def spansJson: String = synchronized {
    spans.map(s => Json.arr(Seq(s.id, s.parent, s.name, s.attr, s.start, s.end, s.pass)))
      .mkString("[", ",\n", "]")
  }

  def countersJson: String = synchronized {
    counters.map { case ((k, p), v) => Json.arr(Seq(k, p, v)) }.mkString("[", ",", "]")
  }
}

/** Clock pair that maps Spark's millisecond event times onto the
  * nanoTime axis the spans use.
  */
object Clock {
  val nano0: Long = System.nanoTime()
  val milli0: Long = System.currentTimeMillis()
  def toNanos(ms: Long): Long = nano0 + (ms - milli0) * 1000000L
}

/** Spark jobs with the span they ran under and their tasks' summed
  * metrics, plus per-query planning phases. Registered only for traced
  * runs.
  */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  private final class JobRec(val id: Int, val span: String, val start: Long) {
    var end = -1L
    var stages = 0
    var tasks = 0L
    val m = Array.fill(8)(0L) // run, cpu, gc, shRead, shWrite, spill, in, out
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.SpanProp))).getOrElse("0")
    jobs(e.jobId) = new JobRec(e.jobId, span, Clock.toNanos(e.time))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Clock.toNanos(e.time))
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); tm <- Option(e.taskMetrics)) {
      j.tasks += 1
      val v = Seq(tm.executorRunTime, tm.executorCpuTime / 1000000L, tm.jvmGCTime,
        tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
        tm.memoryBytesSpilled + tm.diskBytesSpilled, tm.inputMetrics.bytesRead,
        tm.outputMetrics.bytesWritten)
      v.indices.foreach(i => j.m(i) += v(i))
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    queries += ((Clock.toNanos(start), ms("analysis"), ms("optimization"),
      ms("planning"), 1L))
    notifyAll()
  }

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  def queryCount: Int = synchronized(queries.size)

  /** Wait until every listener event posted before this call has been
    * delivered: the listener bus is FIFO, so once a sentinel job and its
    * query are seen, everything earlier has been too.
    */
  def drain(spark: SparkSession): Unit = {
    val q0 = queryCount
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.SpanProp, "-1")
    spark.range(1).count()
    sc.setLocalProperty(Trace.SpanProp, null)
    val deadline = System.currentTimeMillis() + 30000
    synchronized {
      def done = queries.size > q0 &&
        jobs.values.exists(j => j.span == "-1" && j.end >= 0)
      while (!done && System.currentTimeMillis() < deadline) wait(100)
    }
  }

  def jobsJson: String = synchronized {
    jobs.values.filter(_.span != "-1").map(j => Json.arr(
      Seq[Any](j.id, j.span.toInt, j.start, j.end, j.stages, j.tasks) ++ j.m.toSeq))
      .mkString("[", ",\n", "]")
  }

  def queriesJson: String = synchronized {
    queries.map { case (s, a, o, p, _) => Json.arr(Seq(s, a, o, p)) }
      .mkString("[", ",\n", "]")
  }
}

/** Delegating task queue: the consume loop is the `net.queue` span (its
  * self time is the queue's bookkeeping between jobs), and each distinct
  * persisted state of the queue file counts as one save.
  */
final class TracedQueue(inner: TaskQueue, file: Path) extends TaskQueue {
  private var lastState = ""

  private def observe(): Unit = {
    val state = if (Files.exists(file)) Files.readString(file) else ""
    if (state != lastState) Trace.count("net.queue_saves")
    lastState = state
  }

  def enqueue(ref: JobRef): Unit = inner.enqueue(ref)
  def queued: Seq[JobRef] = inner.queued
  override def isEmpty: Boolean = inner.isEmpty
  def consumeEach(f: JobRef => JobResult): JobResult = Trace.span("net.queue") {
    val r = inner.consumeEach { ref => observe(); f(ref) }
    observe()
    r
  }
  override def lock(): Unit = inner.lock()
  override def unlock(): Unit = inner.unlock()
  override def locked: Boolean = inner.locked
  override def restore(): Unit = inner.restore()
  override def unlockHelp: String = inner.unlockHelp
  override def close(): Unit = inner.close()
}

/** Delegating object store: listing and dequeue moves are `ds.*` spans. */
final class TracedStore(inner: ObjectStore) extends ObjectStore {
  def name: String = inner.name
  def urlString(rel: String): String = inner.urlString(rel)
  def listRelative(prefix: String): Seq[String] =
    Trace.span("ds.list")(inner.listRelative(prefix))
  def put(local: Path, rel: String): Unit = inner.put(local, rel)
  def get(rel: String): Array[Byte] = inner.get(rel)
  def delete(rel: String): Unit = inner.delete(rel)
  def move(fromRel: String, toRel: String): Unit =
    Trace.span("ds.move")(inner.move(fromRel, toRel))
}

/** Minimal JSON writer for the raw record the Python side reads. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Seq[Any]): String = xs.map(render).mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def render(x: Any): String = x match {
    case s: String => str(s)
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => arr(xs)
    case other => str(String.valueOf(other))
  }
}
