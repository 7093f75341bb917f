package graftbench

import graft.bus.{Bus, MemoryBus}
import graft.envelope.{PayloadCodec, PublishedEvent}
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** A `MemoryBus` whose `publishEnvelopes` calls are timed from outside.
  * Everything else is delegated unchanged.
  */
final class TimedBus(val inner: MemoryBus) extends Bus {
  val publishNs = new ConcurrentLinkedQueue[java.lang.Long]()
  val publishedEvents = new java.util.concurrent.atomic.AtomicLong()
  def spark: SparkSession = inner.spark
  def publish[T: Encoder](events: Seq[T], key: Option[T => String]): Unit = inner.publish(events, key)
  def publishEnvelopes(topic: String, events: Seq[PublishedEvent]): Unit = {
    val t0 = System.nanoTime()
    inner.publishEnvelopes(topic, events)
    publishNs.add(System.nanoTime() - t0)
    publishedEvents.addAndGet(events.size)
  }
  def source(topic: String): DataFrame = inner.source(topic)
  def sinkEnvelopes(routed: DataFrame): StreamingQuery = inner.sinkEnvelopes(routed)
  def topics: Set[String] = inner.topics
  def publishMs: Seq[Double] = publishNs.asScala.toSeq.map(_.doubleValue / 1e6)
}

object Codecs {
  /** Per-event encode and decode cost of `codec` on a static batch:
    * encode the batch, materialize the envelopes, then time a full
    * materialization of the decoded frame. Median of `reps` timings, in
    * microseconds per event, plus the decode-ok and decode-failed counts.
    */
  def perEvent[T](spark: SparkSession, codec: PayloadCodec, events: Seq[T],
                  corrupt: Int => Boolean, reps: Int = 3)
                 (implicit enc: Encoder[T]): (Double, Double, Long, Long) = {
    import org.apache.spark.sql.functions._
    val ds = spark.createDataset(events)
    val encTimes = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      codec.encode(ds).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e3 / events.size
    }
    val encoded = codec.encode(ds).withColumn("__i", monotonically_increasing_id())
    val rows = encoded.collect()
    val schema = encoded.schema
    val broken = rows.zipWithIndex.map { case (r, i) =>
      if (corrupt(i)) org.apache.spark.sql.Row(r.get(0), BusDrain.corruptPayload, r.get(2)) else r
    }
    val frame = spark.createDataFrame(java.util.Arrays.asList(broken: _*), schema)
      .drop("__i").localCheckpoint(eager = true)
    val decTimes = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      codec.decodeWithMeta[T](frame).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e3 / events.size
    }
    val ok = codec.decodeWithMeta[T](frame).count()
    val bad = codec.decodeFailures[T](frame).count()
    (Pct.median(encTimes), Pct.median(decTimes), ok, bad)
  }
}
