package graft.bus

import graft.envelope._
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka bus — the port of the reference's primary data path
  * (reference: typebus-kafka/src/main/scala/io/surfkit/typebus/bus/kafka/
  * KafkaBus.scala:56-248): topic = payload FQN, group-id = service name,
  * offset reset `latest`, partition key from `meta.key`, commit-after-
  * publish at-least-once.
  *
  * Built entirely on the STOCK DataFrame/Structured-Streaming surface —
  * `format("kafka")` resolves its connector at RUNTIME, so this class
  * compiles against plain Spark and needs the `spark-sql-kafka-0-10`
  * connector jar (absent in this build image, which ships no broker
  * either) only when actually started; the wire transforms
  * ([[KafkaBus.toValue]]/[[KafkaBus.fromValue]]) are pure column
  * expressions, unit-tested batch-side without Kafka, and [[MemoryBus]]
  * carries the identical logical semantics in-env.
  *
  * Wire format on the Kafka `value`: JSON of `{meta, payload_b64}` — the
  * whole [[PublishedEvent]] envelope, payload base64-armored (the
  * payload bytes themselves are whatever [[PayloadCodec]] produced:
  * JSON or Avro; the envelope armor is codec-agnostic). `key` =
  * `meta.key` bytes (P1: Kafka's partitioner then co-locates by entity
  * key, reference KafkaBus.scala:61-67).
  *
  * Scale: every transform here is a narrow per-row projection; the
  * publish path is `routed.writeStream.format("kafka")` exactly as
  * [[Bus.sinkEnvelopes]] specifies — executor-side, zero driver
  * involvement, per-record topic routing on the `topic` column.
  */
final class KafkaBus(val spark: SparkSession,
                     bootstrapServers: String,
                     serviceName: String,
                     checkpointRoot: String,
                     startingOffsets: String = "latest") extends Bus {

  private val subscribed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Consumer group for the data plane (S1): the service name, so all
    * instances of a service share one group and partition the topic
    * (reference: KafkaBus.scala:114-117).
    */
  def dataGroupId: String = serviceName

  /** Consumer group for a back-channel consumer (S2): unique per
    * instance, so EVERY instance sees every control event (reference:
    * KafkaBus.scala:118-121,245).
    */
  def backChannelGroupId(): String =
    serviceName + "-bc-" + java.util.UUID.randomUUID()

  /** The S1/S2 reader option contract as pure data — this map IS the
    * configuration handed to `readStream.format("kafka")`, exposed so
    * KafkaOptionContractSpec can pin it without a broker.
    */
  def sourceOptions(topic: String, groupId: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "startingOffsets" -> startingOffsets,
    "kafka.group.id" -> groupId,
    "subscribe" -> topic)

  /** The producer option contract ([[sinkEnvelopes]] adds a unique
    * `checkpointLocation` per start on top).
    */
  def sinkOptions: Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrapServers)

  /** S1: one consumer per topic, group-id = service name (reference:
    * KafkaBus.scala:114-121,191-192 — the committable source subscribed
    * per registered input type, sharing the service's consumer group).
    */
  def source(topic: String): DataFrame = {
    subscribed.add(topic)
    KafkaBus.fromValue(spark.readStream.format("kafka")
      .options(sourceOptions(topic, dataGroupId)).load())
  }

  /** S2: the control-plane back-channel — a second consumer graph under a
    * RANDOM group id, so every instance sees every control event
    * (reference: KafkaBus.scala:118-121,245).
    */
  def backChannelSource(topic: String): DataFrame = {
    subscribed.add(topic)
    KafkaBus.fromValue(spark.readStream.format("kafka")
      .options(sourceOptions(topic, backChannelGroupId())).load())
  }

  def publish[T](events: Seq[T], key: Option[T => String] = None)
                (implicit enc: Encoder[T]): Unit =
    publishEnvelopes(EnvelopeCodec.fqnOf[T], envelopesOf(events, key))

  /** Driver-originated publish (RPC clients, tests): a one-batch write
    * through the stock Kafka sink — same wire transform as the streaming
    * path.
    */
  def publishEnvelopes(topic: String, events: Seq[PublishedEvent]): Unit = {
    subscribed.add(topic)
    implicit val env: Encoder[PublishedEvent] = Encoders.product[PublishedEvent]
    KafkaBus.toValue(spark.createDataset(events).toDF()
        .withColumn("topic", lit(topic)))
      .write.format("kafka")
      .options(sinkOptions)
      .save()
  }

  /** K1/K2/K5: the routed envelope stream feeds the stock Kafka sink
    * unchanged — per-record topic from the `topic` column (reference:
    * KafkaBus.scala:56-80), checkpointed for the at-least-once
    * commit-after-publish contract (KafkaBus.scala:172).
    */
  def sinkEnvelopes(routed: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    KafkaBus.toValue(routed)
      .writeStream.format("kafka")
      .options(sinkOptions)
      .option("checkpointLocation",
        checkpointRoot + "/" + java.util.UUID.randomUUID())
      .start()

  def topics: Set[String] = {
    import scala.jdk.CollectionConverters._
    subscribed.asScala.toSet
  }
}

object KafkaBus {

  private val wireSchema: StructType = StructType(Seq(
    StructField("meta", EnvelopeCodec.metaSchema, nullable = false),
    StructField("payload_b64", StringType, nullable = false)))

  /** Routed envelopes (`topic`, `meta`, `payload`) → Kafka sink rows
    * (`topic`, `key`, `value`). Pure projection, codegen-friendly.
    */
  def toValue(routed: DataFrame): DataFrame =
    routed.select(
      col("topic"),
      col("meta.key").cast(BinaryType).as("key"),
      to_json(struct(col("meta"),
        base64(col("payload")).as("payload_b64"))).cast(BinaryType).as("value"))

  /** Kafka source rows → envelope rows (`meta`, `payload`) — the inverse
    * of [[toValue]]; extra Kafka columns (offsets, partitions) drop.
    */
  def fromValue(kafka: DataFrame): DataFrame =
    kafka.select(from_json(col("value").cast(StringType), wireSchema).as("e"))
      .select(col("e.meta").as("meta"),
        unbase64(col("e.payload_b64")).as("payload"))
}
