package org.apache.spark.sql.graftbridge

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The `private[sql]` doorways the engine needs: wrapping a hand-built
  * logical node back into a `DataFrame`, running a plan under its own SQL
  * settings, and releasing checkpoint blocks and streaming listeners.
  * Lives under `org.apache.spark.sql` for package-private access — the
  * standard pattern of Spark-extension libraries (Delta, Iceberg,
  * spark-rapids all ship an identical shim); everything else in this repo
  * stays on public APIs.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Clone the session (shared SparkContext + SharedState, so caches,
    * checkpoints and catalog tables stay visible) with a copy of the
    * caller's ENTIRE runtime SQL conf — a new session would silently drop
    * runtime settings like the session time zone or the ObjectHashAggregate
    * fallback threshold — then apply per-scope overrides. This is the one
    * way a query or statement gets its own settings: the shared session's
    * conf is never mutated, so nothing planning concurrently in it (test
    * suites and jobs share one session) can observe the override.
    */
  def sessionWithConf(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val cloned = spark.asInstanceOf[classic.SparkSession].cloneSession()
    overrides.foreach { case (k, v) => cloned.conf.set(k, v) }
    cloned
  }

  /** `df`'s plan re-rooted into a [[sessionWithConf]] clone of its
    * session carrying `overrides`. Build the plan in the caller's session
    * and scope it afterwards: optimizer, planner and AQE settings all apply
    * when the returned frame is planned and executed, so its own executed
    * plan shows what the overrides did. The analyzed plan moves as is —
    * no re-resolution of names in the clone.
    */
  def withConf(df: DataFrame, overrides: (String, String)*): DataFrame =
    ofRows(sessionWithConf(df.sparkSession, overrides: _*), df.queryExecution.analyzed)

  /** Start `writer`'s streaming query, wait for it to end and release its
    * streaming listeners. The one way a streaming query runs: start it on
    * a frame scoped with [[withConf]], so the sessions it builds are its
    * own.
    */
  def runStream(writer: DataStreamWriter[_]): Unit = {
    val q = writer.start()
    try q.awaitTermination() finally releaseStreams(q)
  }

  /** Detach the streaming-query listener buses of `query`, a finished
    * query started in a scoped session. A session's first streaming query
    * builds its `StreamingQueryManager`, whose bus joins the context's
    * listener bus and is never removed; a query makes two such sessions,
    * the one it was started in and the clone it executes in (its state
    * store coordinator lives there). Left attached, each run would add
    * two listeners that see every later event of the process.
    */
  private def releaseStreams(query: StreamingQuery): Unit = {
    val busField = classOf[classic.StreamingQueryManager].getDeclaredField("listenerBus")
    busField.setAccessible(true)
    val q = query.asInstanceOf[StreamingQueryWrapper].streamingQuery
    Seq(q.sparkSession, q.sparkSessionForStream).foreach { s =>
      s.sparkContext.listenerBus.removeListener(
        busField.get(s.streams).asInstanceOf[SparkListenerInterface])
    }
  }

  /** Release the storage blocks behind a `localCheckpoint`ed DataFrame.
    *
    * `Dataset.unpersist` only consults the CacheManager, which never
    * sees checkpoint RDDs — so an iterative kernel that checkpoints per
    * round (connected components, PageRank, label propagation) leaks
    * every superseded round's blocks until the whole job ends. On a
    * big-graph run that debt is real memory pressure (each round's
    * frame is node-count-sized). This reaches through the plan to the
    * checkpointed RDD and unpersists it directly; silently a no-op for
    * any other plan shape, so callers can use it unconditionally.
    */
  def unpersistLocalCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.collectLeaves().foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking)
      case _ => ()
    }
}
