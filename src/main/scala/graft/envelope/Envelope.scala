package graft.envelope

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** RPC reply address: which service (and where) should receive the reply.
  *
  * Mirrors the reference's reply-to address
  * (reference: typebus/macros/src/main/scala/io/surfkit/typebus/event/package.scala:122
  * `RpcClient(path, service)`). In Spark there is no actor path; the reply
  * is routed purely by `service` (the reply topic) — see
  * [[graft.rpc.Rpc]].
  */
final case class RpcClient(path: String, service: String)

/** Event metadata envelope.
  *
  * Field-for-field the reference's `EventMeta`
  * (reference: event/package.scala:140-149), with `occurredAt` as a
  * timestamp column usable for Structured Streaming watermarks.
  */
final case class EventMeta(
    eventId: String,
    eventType: String,
    correlationId: Option[String] = None,
    trace: Boolean = false,
    directReply: Option[RpcClient] = None,
    key: Option[String] = None,
    socketId: Option[String] = None,
    responseTo: Option[String] = None,
    extra: Map[String, String] = Map.empty,
    occurredAt: java.sql.Timestamp = new java.sql.Timestamp(0L)
)

/** The wire envelope: metadata + opaque serialized payload
  * (reference: event/package.scala:166-169 `PublishedEvent(meta, payload)`).
  */
final case class PublishedEvent(meta: EventMeta, payload: Array[Byte])

/** An envelope routed to a destination topic — the executor-side publish
  * row shape. A Kafka sink consumes exactly this (its `topic` column picks
  * the destination per record, reference: KafkaBus.scala:63,69); the
  * MemoryBus test sink appends per partition through a ForeachWriter.
  */
final case class TopicEnvelope(topic: String, meta: EventMeta, payload: Array[Byte])

/** Error event published when a handler fails
  * (reference: event/package.scala:28-33 `ServiceException`).
  */
final case class ServiceException(
    message: String,
    throwableType: String,
    stackTrace: Seq[String] = Seq.empty,
    extra: Map[String, String] = Map.empty
)

/** Pluggable payload wire format behind the shared envelope shape: every
  * codec produces/consumes the same (`meta`, `payload: BINARY`) rows
  * ([[EnvelopeCodec.envelopeSchema]]), so topic routing, sinks, RPC
  * correlation, and retry are codec-agnostic — exactly the reference's
  * `ByteStreamReader/Writer[A]` seam (reference: typebus/macros/src/main/
  * scala/io/surfkit/typebus/Typebus.scala:20-64), which lets it swap Avro
  * binary and Avro-JSON serde behind one bus.
  *
  * The envelope is written once, here: [[encode]], [[encodeReply]],
  * [[decodeTyped]], [[decodeWithMeta]], [[decodeFailures]] and the
  * driver-side [[payloads]] build every meta struct through
  * [[EnvelopeCodec.meta]]/[[EnvelopeCodec.replyMeta]]. A codec supplies
  * only its bytes:
  *  - [[writePayload]] replaces the payload struct column `payload` with
  *    its BINARY bytes, keeping every other column;
  *  - [[parse]] reads the `payload` of envelopes already filtered to T's
  *    event type into a [[PayloadCodec.Parsed]] frame that keeps `meta`.
  *
  * Implementations: [[EnvelopeCodec]] (JSON-in-binary, fully columnar —
  * the reference's `AvroJsonStream` analog, Mapper.scala:131-158) and
  * [[AvroPayloadCodec]] (Avro binary via GenericDatumWriter/Reader —
  * the reference's default `AvroByteStreams`, Mapper.scala:11-121).
  */
trait PayloadCodec {
  import EnvelopeCodec.{fqnOf, meta, noReply, replyMeta}

  /** `df` with its `payload` column (a struct of schema `st`, the payload
    * type named `name`) replaced by the serialized BINARY bytes.
    */
  protected def writePayload(df: DataFrame, st: StructType, name: String): DataFrame

  /** Parse the `payload` of `df` (envelopes of T's event type only). */
  protected def parse[T](df: DataFrame)(implicit enc: Encoder[T]): PayloadCodec.Parsed

  private def parsed[T](df: DataFrame)(implicit enc: Encoder[T]): PayloadCodec.Parsed =
    parse[T](df.filter(col("meta.eventType") === fqnOf[T]))

  /** Envelope rows: `payload` (a struct over `df`, schema `st`) goes
    * through [[writePayload]] next to the `carry` columns, then `meta` is
    * built over those. Every payload write precedes its meta, so a codec
    * that serializes outside the plan still sees the meta inputs.
    * [[graft.service.Traces]] builds its trace and heartbeat envelopes
    * here too, so they carry the service's payload format.
    */
  private[graft] def envelope(df: DataFrame, carry: Seq[Column], payload: Column,
                              st: StructType, name: String)(header: Column): DataFrame =
    writePayload(df.select(carry :+ payload.as("payload"): _*), st, name)
      .select(header.as("meta"), col("payload"))

  private def orNull(c: Option[Column]): Column = c.getOrElse(lit(null).cast(StringType))

  /** Wrap a typed dataset into fresh envelope rows. `keyExpr` is the
    * partition key extractor (reference: bus/package.scala:32-46
    * `StreamBuilder.withPartitionKey`); it becomes the Kafka message key /
    * shuffle key downstream.
    */
  def encode[T](ds: Dataset[T], keyExpr: Option[Column] = None,
                correlationId: Option[Column] = None,
                responseTo: Option[Column] = None,
                directReplyService: Option[String] = None)
               (implicit enc: Encoder[T]): DataFrame = {
    val flat = ds.toDF()
    envelope(flat,
      Seq(orNull(keyExpr).as("__key"), orNull(correlationId).as("__corr"),
        orNull(responseTo).as("__resp")),
      struct(flat.columns.toIndexedSeq.map(col): _*), enc.schema, fqnOf[T])(
      meta(lit(fqnOf[T]), correlationId = col("__corr"), key = col("__key"),
        responseTo = col("__resp"),
        directReply = directReplyService.fold(noReply)(svc =>
          struct(lit("").as("path"), lit(svc).as("service")))))
  }

  /** Build REPLY envelopes from `(U, inputMeta)` pairs under
    * [[EnvelopeCodec.replyMeta]] — what closes the RPC loop:
    * [[graft.rpc.Rpc.correlate]] joins `request.eventId === reply.responseTo`.
    * `keyExpr` is written against U's fields.
    */
  def encodeReply[U](ds: Dataset[(U, EventMeta)], keyExpr: Option[Column] = None)
                    (implicit enc: Encoder[U]): DataFrame = {
    // payload columns top-level (so keyExpr resolves), input meta under a
    // reserved name
    val flat = ds.toDF().select(col("_2").as("__in_meta"), col("_1.*"))
    val payload = struct(flat.columns.filter(_ != "__in_meta").map(col).toIndexedSeq: _*)
    envelope(flat, Seq(col("__in_meta"), orNull(keyExpr).as("__key")), payload,
      enc.schema, fqnOf[U])(replyMeta(col("__in_meta"), fqnOf[U], col("__key")))
  }

  /** Typed payloads of T's envelopes. Unusable payloads are DROPPED,
    * matching the reference's resume-on-any-error supervision
    * (KafkaBus.scala:109-112): a poison message must not kill the stream.
    * Route them to an error report via [[decodeFailures]] (F4). Mirrors
    * the reader-lookup-by-eventType dispatch (reference:
    * bus/package.scala:141-142).
    */
  def decodeTyped[T](df: DataFrame)(implicit enc: Encoder[T]): Dataset[T] = {
    val p = parsed[T](df)
    p.frame.where(p.ok).select(p.value.as("value")).select("value.*").as[T]
  }

  /** [[decodeTyped]] keeping the metadata — the shape the reference's
    * handlers see: `(T, EventMeta)` (reference: bus/package.scala:143-150,
    * handlers are `(T, EventMeta) => Future[U]`).
    */
  def decodeWithMeta[T](df: DataFrame)(implicit enc: Encoder[T]): Dataset[(T, EventMeta)] = {
    val p = parsed[T](df)
    p.frame.where(p.ok).select(p.value.as("_1"), col("meta").as("_2"))
      .as[(T, EventMeta)](Encoders.tuple(enc, Encoders.product[EventMeta]))
  }

  /** F4: the error side-channel — T's envelopes whose payload failed to
    * deserialize, as `ServiceException` reply envelopes addressed to the
    * failed event, with no key (reference: `Publisher.produceErrorReport`,
    * bus/package.scala:93-125 — any handler/decode failure becomes a
    * published ServiceException instead of a stream death).
    */
  def decodeFailures[T](df: DataFrame)(implicit enc: Encoder[T]): DataFrame = {
    val p = parsed[T](df)
    val excFqn = classOf[ServiceException].getName
    val report = struct(
      concat(lit(s"payload for ${fqnOf[T]} failed to deserialize: "),
        substring(p.err, 1, 256)).as("message"),
      lit("DeserializationException").as("throwableType"),
      array().cast("array<string>").as("stackTrace"),
      map().cast(MapType(StringType, StringType)).as("extra"))
    envelope(p.frame.where(!p.ok), Seq(col("meta")), report,
      Encoders.product[ServiceException].schema, excFqn)(
      replyMeta(col("meta"), excFqn))
  }

  /** Driver-side payload bytes of a typed batch, written THROUGH THE
    * ENGINE by [[writePayload]], so driver-built envelopes (RPC clients,
    * testkit publishes) are byte-identical to columnar-built ones. A
    * collect of the batch itself: for small driver batches only.
    */
  def payloads[T](spark: SparkSession, events: Seq[T])
                 (implicit enc: Encoder[T]): Seq[Array[Byte]] = {
    val df = spark.createDataset(events).toDF()
    writePayload(df.select(struct(df.columns.toIndexedSeq.map(col): _*).as("payload")),
      enc.schema, fqnOf[T]).collect().map(_.getAs[Array[Byte]](0)).toSeq
  }
}

object PayloadCodec {
  /** A codec's parse of T's envelopes: `frame` keeps the input `meta`;
    * `ok` marks a usable payload; `value` (T's struct) is read only where
    * `ok` holds and `err` (the failure text) only where it does not.
    */
  final case class Parsed(frame: DataFrame, ok: Column, value: Column, err: Column)
}

/** Envelope codec: the meta builders every envelope shares, and the
  * JSON-in-binary payload codec.
  *
  * The reference's DEFAULT serde is Avro binary via avro4s
  * (reference: typebus/src/main/scala/io/surfkit/typebus/Mapper.scala:46-67)
  * — ported as [[AvroPayloadCodec]]. This object is the JSON-in-binary
  * codec — identical envelope semantics, different byte encoding (the
  * reference itself offers the same JSON fallback, Mapper.scala:131-158
  * `AvroJsonStream`). All envelope construction here is columnar
  * (`to_json`/`from_json`, `uuid()`) so it stays inside whole-stage
  * codegen and never round-trips through driver-side objects — at 100 TB
  * the envelope wrap/unwrap is a per-row map with zero shuffle.
  */
object EnvelopeCodec extends PayloadCodec {

  /** FQN of a type = its topic name (reference: KafkaBus.scala:63,69 —
    * `new ProducerRecord(event.meta.eventType.fqn, ...)`), with the
    * reference's leading `"api."` strip (event/package.scala:58-65).
    */
  def fqnOf[T](implicit enc: Encoder[T]): String = {
    val n = enc.clsTag.runtimeClass.getName
    if (n.startsWith("api.")) n.stripPrefix("api.") else n
  }

  val metaSchema: StructType = StructType(Seq(
    StructField("eventId", StringType, nullable = false),
    StructField("eventType", StringType, nullable = false),
    StructField("correlationId", StringType, nullable = true),
    StructField("trace", BooleanType, nullable = false),
    StructField("directReply", StructType(Seq(
      StructField("path", StringType), StructField("service", StringType))),
      nullable = true),
    StructField("key", StringType, nullable = true),
    StructField("socketId", StringType, nullable = true),
    StructField("responseTo", StringType, nullable = true),
    StructField("extra", MapType(StringType, StringType), nullable = true),
    StructField("occurredAt", TimestampType, nullable = false)
  ))

  val envelopeSchema: StructType = StructType(Seq(
    StructField("meta", metaSchema, nullable = false),
    StructField("payload", BinaryType, nullable = false)
  ))

  /** A NULL reply address. */
  private[envelope] val noReply: Column = lit(null).cast(metaSchema("directReply").dataType)

  /** The one builder of a meta struct (field-for-field the reference's
    * `EventMeta`, in [[metaSchema]] order): a fresh `uuid()` eventId, the
    * given fields, and NULL / false / an empty `extra` / now for the rest.
    */
  def meta(eventType: Column,
           correlationId: Column = lit(null),
           trace: Column = lit(false),
           directReply: Column = noReply,
           key: Column = lit(null),
           socketId: Column = lit(null),
           responseTo: Column = lit(null),
           extra: Column = map().cast(MapType(StringType, StringType)),
           occurredAt: Column = current_timestamp()): Column =
    struct(
      expr("uuid()").as("eventId"),
      eventType.as("eventType"),
      correlationId.cast(StringType).as("correlationId"),
      trace.as("trace"),
      directReply.as("directReply"),
      key.cast(StringType).as("key"),
      socketId.cast(StringType).as("socketId"),
      responseTo.cast(StringType).as("responseTo"),
      extra.as("extra"),
      occurredAt.as("occurredAt"))

  /** The reference's replyAndCommit rule (KafkaBus.scala:136-182): a
    * fresh event of `eventType` answering the meta struct `in` —
    * `responseTo = in.eventId`; correlationId, trace, directReply,
    * socketId and extra threaded from `in`; occurredAt = now; `key`
    * the reply's own partition key (NULL when it has none).
    */
  def replyMeta(in: Column, eventType: String, key: Column = lit(null)): Column =
    meta(lit(eventType),
      correlationId = in("correlationId"), trace = in("trace"),
      directReply = in("directReply"), key = key, socketId = in("socketId"),
      responseTo = in("eventId"), extra = in("extra"))

  /** JSON payload bytes: `to_json` of the payload struct. */
  protected def writePayload(df: DataFrame, st: StructType, name: String): DataFrame =
    df.withColumn("payload", to_json(col("payload")).cast(BinaryType))

  /** JSON parse with a corrupt-record canary column. PERMISSIVE from_json
    * yields an all-null struct (not a NULL struct) for malformed input,
    * so "did it parse" needs the canary; "is it usable" additionally
    * needs every non-nullable field present (a valid-JSON `{"n": null}`
    * against a non-nullable Int would otherwise kill the stream with
    * NOT_NULL_ASSERT_VIOLATION at deserialization).
    */
  protected def parse[T](df: DataFrame)(implicit enc: Encoder[T]): PayloadCodec.Parsed = {
    val corrupt = "_graft_corrupt"
    val frame = df.select(col("meta"),
      from_json(col("payload").cast(StringType), enc.schema.add(corrupt, StringType),
        Map("columnNameOfCorruptRecord" -> corrupt)).as("pv"))
    val ok = enc.schema.fields.filterNot(_.nullable)
      .map(f => col(s"pv.${f.name}").isNotNull)
      .foldLeft(col("pv").isNotNull && col(s"pv.$corrupt").isNull)(_ && _)
    val value = struct(enc.schema.fieldNames.toIndexedSeq.map(n => col(s"pv.$n").as(n)): _*)
    PayloadCodec.Parsed(frame, ok, value,
      coalesce(col(s"pv.$corrupt"), lit("<missing non-nullable field>")))
  }

  /** K1+K2 publish routing, computed IN THE PLAN (executor side): every
    * envelope goes to `outTopic`, and replies to RPC requests (responseTo
    * and directReply both present) are additionally copied to the CALLER's
    * service-name topic — the RPC back-channel (reference:
    * KafkaBus.scala:60,64-73; TestBus.scala:126-129). One narrow
    * `explode` over a conditional topic array: no shuffle, no driver
    * collection, and the output shape (`topic`, `meta`, `payload`) is what
    * a Kafka sink consumes directly. At 100 TB this is the publish path —
    * the per-row fan-out stays inside whole-stage codegen.
    */
  def routeToTopics(outTopic: String, envelopes: DataFrame): DataFrame = {
    val topics =
      when(col("meta.responseTo").isNotNull && col("meta.directReply").isNotNull,
        array(lit(outTopic), col("meta.directReply.service")))
      .otherwise(array(lit(outTopic)))
    envelopes.select(explode(topics).as("topic"), col("meta"), col("payload"))
  }
}
