package graft.bus

import graft.envelope._
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The pluggable bus abstraction (reference: typebus/src/main/scala/io/
  * surfkit/typebus/bus/package.scala — `Publisher`/`Consumer`).
  *
  * One topic ≡ one payload type ≡ one stream (reference:
  * KafkaBus.scala:63,69 — topic name is the payload FQN). In Spark, a
  * topic is a streaming `DataFrame` of envelope rows; `source` is the
  * consumer side, `publish` the producer side.
  *
  * Implementations:
  *  - [[MemoryBus]] — the testkit analog (reference:
  *    typebus-testkit/src/main/scala/io/surfkit/typebus/bus/testkit/
  *    TestBus.scala:27-169), built on `MemoryStream`.
  *  - [[KafkaBus]] — the reference's primary data path (reference:
  *    KafkaBus.scala:56-248): stock `readStream`/`writeStream`
  *    `format("kafka")`, topic = payload FQN, group-id = service name,
  *    `key` = partition key. Compiles against plain Spark (the connector
  *    resolves at runtime); the build image ships no connector jar or
  *    broker, so MemoryBus remains the in-env execution proof while
  *    KafkaBusWireSpec pins the wire transforms batch-side.
  */
trait Bus {
  def spark: SparkSession

  /** Producer side: wrap and publish a typed batch to the type's topic
    * (reference: bus/package.scala:52-60 `Publisher.publish[T]`). Every
    * bus does it the same way: [[envelopesOf]] through
    * [[publishEnvelopes]] to topic `EnvelopeCodec.fqnOf[T]`.
    */
  def publish[T: Encoder](events: Seq[T], key: Option[T => String] = None): Unit

  /** One fresh envelope per event for [[publish]]: JSON payloads written
    * through the engine ([[graft.envelope.PayloadCodec.payloads]]), so they
    * are byte-identical to columnar-built ones; event type = the payload
    * type's FQN.
    */
  protected def envelopesOf[T](events: Seq[T], key: Option[T => String])
                              (implicit enc: Encoder[T]): Seq[PublishedEvent] = {
    val fqn = EnvelopeCodec.fqnOf[T]
    events.zip(EnvelopeCodec.payloads(spark, events)).map { case (e, payload) =>
      PublishedEvent(
        EventMeta(
          eventId = java.util.UUID.randomUUID().toString,
          eventType = fqn,
          key = key.map(f => f(e)),
          occurredAt = new java.sql.Timestamp(System.currentTimeMillis())),
        payload = payload)
    }
  }

  /** Publish pre-built envelopes (reference: `publish(event: PublishedEvent)`,
    * KafkaBus.scala:56-80) — used for RPC replies where meta is enriched.
    */
  def publishEnvelopes(topic: String, events: Seq[PublishedEvent]): Unit

  /** Consumer side: the streaming DataFrame of envelope rows for a topic
    * (reference: KafkaBus.scala:191-192 committable source per topic).
    */
  def source(topic: String): DataFrame

  /** Producer sink for a ROUTED envelope stream — rows shaped
    * (`topic`, `meta`, `payload`) as produced by
    * [[graft.envelope.EnvelopeCodec.routeToTopics]]. Implementations must
    * append executor-side (no driver collection): a Kafka bus is literally
    * `routed.writeStream.format("kafka")` — the stock sink routes on the
    * `topic` column per record (reference: KafkaBus.scala:56-80);
    * MemoryBus appends per partition via a ForeachWriter. At-least-once on
    * retry, matching the reference's commit-after-publish
    * (KafkaBus.scala:172).
    */
  def sinkEnvelopes(routed: DataFrame): org.apache.spark.sql.streaming.StreamingQuery

  /** All topics ever published/subscribed. */
  def topics: Set[String]
}

/** In-memory bus over `MemoryStream` — the Structured Streaming analog of
  * the reference's `TestBus` (TestBus.scala:27-169): same
  * publish/subscribe/RPC-reply semantics, no broker, for tests.
  *
  * Each topic is its own `MemoryStream[PublishedEvent]`; `addData` is the
  * producer network hop. At-least-once + ordering semantics match the
  * reference's per-partition Kafka ordering (stronger, single partition).
  */
final class MemoryBus(val spark: SparkSession) extends Bus {
  import spark.implicits._

  /** Identity under which executor-side writers find this bus back
    * (single-JVM by definition — MemoryBus is the testkit; a multi-node
    * bus is Kafka, where the sink needs no such registry).
    */
  private val busId: String = java.util.UUID.randomUUID().toString
  MemoryBus.register(busId, this)

  private val streams =
    scala.collection.concurrent.TrieMap.empty[String, MemoryStream[PublishedEvent]]

  private def streamFor(topic: String): MemoryStream[PublishedEvent] =
    streams.getOrElseUpdate(topic,
      MemoryStream[PublishedEvent](implicitly[org.apache.spark.sql.Encoder[PublishedEvent]],
        spark.sqlContext))

  def publish[T](events: Seq[T], key: Option[T => String] = None)
                (implicit enc: Encoder[T]): Unit =
    publishEnvelopes(EnvelopeCodec.fqnOf[T], envelopesOf(events, key))

  /** `addData` encodes rows through the stream's one shared serializer,
    * which is not thread-safe: concurrent callers (sink tasks closing
    * their partitions, RPC clients) corrupt topic rows unless each
    * stream's appends are serialized.
    */
  def publishEnvelopes(topic: String, events: Seq[PublishedEvent]): Unit = {
    val stream = streamFor(topic)
    stream.synchronized(stream.addData(events))
  }

  def source(topic: String): DataFrame = streamFor(topic).toDF()

  /** Executor-side publish: per-partition buffered append through a
    * ForeachWriter — no `collect()`, no driver-side batch loop. Rows reach
    * the in-JVM MemoryStreams directly from task threads (local mode: same
    * JVM — exactly the reference TestBus's in-process delivery,
    * TestBus.scala:34-52).
    */
  def sinkEnvelopes(routed: DataFrame): org.apache.spark.sql.streaming.StreamingQuery = {
    implicit val enc: Encoder[TopicEnvelope] =
      org.apache.spark.sql.Encoders.product[TopicEnvelope]
    routed.as[TopicEnvelope]
      .writeStream.outputMode("append")
      .foreach(new MemoryBusForeachWriter(busId))
      .start()
  }

  def topics: Set[String] = streams.keySet.toSet

}

object MemoryBus {
  private val registry = scala.collection.concurrent.TrieMap.empty[String, MemoryBus]
  private[bus] def register(id: String, bus: MemoryBus): Unit = registry.put(id, bus)
  private[bus] def lookup(id: String): MemoryBus = registry(id)
}

/** Per-partition append writer for [[MemoryBus.sinkEnvelopes]]: buffers a
  * partition's envelopes by destination topic, appends on successful
  * close. Serializable closure state is just the bus id string.
  */
private final class MemoryBusForeachWriter(busId: String)
    extends org.apache.spark.sql.ForeachWriter[TopicEnvelope] {
  @transient private var buf:
    scala.collection.mutable.HashMap[String, scala.collection.mutable.ArrayBuffer[PublishedEvent]] = _

  override def open(partitionId: Long, epochId: Long): Boolean = {
    buf = scala.collection.mutable.HashMap.empty
    true
  }

  override def process(t: TopicEnvelope): Unit =
    buf.getOrElseUpdate(t.topic, scala.collection.mutable.ArrayBuffer.empty) +=
      PublishedEvent(t.meta, t.payload)

  override def close(errorOrNull: Throwable): Unit =
    if (errorOrNull == null && buf != null)
      buf.foreach { case (topic, es) =>
        MemoryBus.lookup(busId).publishEnvelopes(topic, es.toSeq)
      }
}
