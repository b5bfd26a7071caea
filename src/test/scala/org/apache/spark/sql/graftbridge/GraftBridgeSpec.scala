package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.operators.StreamOps

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
}
