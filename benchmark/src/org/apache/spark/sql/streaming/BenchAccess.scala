package org.apache.spark.sql.streaming

import org.apache.spark.SparkContext

import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import scala.jdk.CollectionConverters._

/** Reaches Spark members that are package-private: the listener bus, and
  * the progress constructors the harness self-checks build synthetic
  * events with.
  */
object BenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def progress(name: String, batchId: Long, durationMs: Map[String, Long], inputRows: Long,
               state: Option[(Long, Long, Long, Long)], offsets: (String, String, String),
               sinkRows: Long): QueryProgressEvent = {
    val ops = state.toSeq.map { case (rows, bytes, commitMs, updateMs) =>
      new StateOperatorProgress("flatMapGroupsWithState", rows, 0L, updateMs, 0L, 0L, commitMs,
        bytes, 0L, 4L, 4L, new java.util.HashMap[String, java.lang.Long]())
    }.toArray
    val src = new SourceProgress("MemoryStream", offsets._1, offsets._2, offsets._3, inputRows,
      0.0, 0.0, new java.util.HashMap[String, String]())
    new QueryProgressEvent(new StreamingQueryProgress(java.util.UUID.randomUUID(), java.util.UUID.randomUUID(), name,
      "2026-01-01T00:00:00.000Z", batchId, durationMs.getOrElse("triggerExecution", 0L),
      durationMs.map { case (k, v) => k -> java.lang.Long.valueOf(v) }.asJava,
      new java.util.HashMap[String, String](), ops, Array(src),
      new SinkProgress("ForeachBatchSink", sinkRows, new java.util.HashMap[String, String]()),
      new java.util.HashMap[String, org.apache.spark.sql.Row]()))
  }
}
