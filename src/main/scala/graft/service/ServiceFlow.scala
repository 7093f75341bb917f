package graft.service

import graft.bus.Bus
import graft.envelope._
import graft.schema.SchemaRegistry
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.concurrent.duration._

/** Retry backoff kinds (reference: typebus/src/main/scala/io/surfkit/
  * typebus/bus/package.scala:19-24).
  */
sealed trait RetryBackoff
object RetryBackoff {
  case object NoBackoff extends RetryBackoff
  case object Linear extends RetryBackoff
  case object Exponential extends RetryBackoff
}

/** Retry policy (reference: bus/package.scala:26-29). `delayFor` is the
  * exact schedule arithmetic of the reference's retry stage
  * (KafkaBus.scala:223-228): None -> delay; Linear -> attempt * delay;
  * "Exponential" -> attempt² * delay (the reference's exponential is in
  * fact quadratic — reproduced faithfully, not "fixed").
  */
final case class RetryPolicy(numRetry: Int, delay: FiniteDuration, backoff: RetryBackoff) {
  def delayFor(attempt: Int): FiniteDuration = backoff match {
    case RetryBackoff.NoBackoff   => delay
    case RetryBackoff.Linear      => attempt * delay
    case RetryBackoff.Exponential => (attempt.toLong * attempt) * delay
  }
}
object RetryPolicy {
  val Fail = RetryPolicy(0, 0.seconds, RetryBackoff.NoBackoff)

  /** Columnar form of `delayFor`, for computing a whole retry schedule as
    * a DataFrame (used by the oracle-checked `retry_backoff_schedule`
    * query). `attempt` is a column of ints; result is millis.
    */
  def delayMillisColumn(attempt: Column, delayMillis: Long, backoff: RetryBackoff): Column =
    backoff match {
      case RetryBackoff.NoBackoff   => lit(delayMillis)
      case RetryBackoff.Linear      => attempt.cast("long") * delayMillis
      case RetryBackoff.Exponential => attempt.cast("long") * attempt.cast("long") * delayMillis
    }
}

/** One registered handler: input topic -> transform -> output topic
  * (reference: Module.scala:52-63 `op2`; the `(T, EventMeta) =>
  * Future[U]` handler becomes a typed map over `(T, EventMeta)` rows —
  * SURVEY.md §2 T1).
  */
final case class StreamBuilder(
    inFqn: String,
    outFqn: Option[String],
    transform: DataFrame => DataFrame,
    /** Stored, not applied yet: [[ServiceFlow.start]] and
      * [[ServiceFlow.startPublishing]] run `transform` without retrying.
      */
    retry: Option[RetryPolicy] = None,
    isServiceStream: Boolean = false,
    /** F4 error side-channel: unparseable input envelopes → ServiceException
      * reply envelopes (reference: produceErrorReport, bus/package.scala:93-125).
      */
    failures: DataFrame => DataFrame = df => df.limit(0)
)

/** Service descriptor (reference: module/Service.scala:105-120
  * `makeServiceDescriptor`): identity + method table + schema map.
  * Unit-returning sinks are excluded from `serviceMethods`, matching the
  * reference's skip of Unit returns (Service.scala:110-113).
  */
final case class ServiceMethod(in: String, out: String)

/** D2: control-plane request for a service's descriptor
  * (reference: event/package.scala:115 `GetServiceDescriptor(service)`).
  */
final case class GetServiceDescriptor(service: String)
final case class ServiceDescriptor(
    service: String,
    serviceId: String,
    upTime: java.sql.Timestamp,
    serviceMethods: Seq[ServiceMethod],
    types: Map[String, String]
)

/** The service: a registry of typed handlers compiled into streaming
  * queries — the analog of "consumer constructor = physical plan"
  * (reference: KafkaBus.scala:86-248, `TypebusKafkaConsumer`).
  *
  * Handlers are per-event `(T, EventMeta) => U`, exactly the reference's
  * handler shape (Service.scala:53-54; the `Future` wrapper disappears —
  * Spark's task parallelism replaces the async dispatcher). Replies
  * carry `responseTo = in.eventId` and thread correlationId / trace /
  * directReply from the input meta (KafkaBus.replyAndCommit:136-182), so
  * [[graft.rpc.Rpc.correlate]] can close RPC round-trips produced by
  * `registerStream`.
  *
  * Registration mirrors `Service.registerStream` (Service.scala:53-83);
  * dispatch mirrors the PF chain ordering: sinks, then user transforms,
  * then service transforms (reference: bus/package.scala:143-150) — in
  * Spark the topic already partitions by type, so dispatch is a
  * `filter(eventType === fqn)` per branch that Catalyst pushes into the
  * source (SURVEY.md §4: topic-per-type ≡ predicate pushdown).
  *
  * Scale: each handler is a narrow per-row map over its topic — no
  * shuffle. The only shuffles a service introduces are the explicit ones
  * (partition-key repartition at publish, keyed state in
  * [[graft.entity.EntityStore]], RPC join in [[graft.rpc.Rpc]]).
  *
  * `codec` picks the payload wire format ([[graft.envelope.PayloadCodec]]):
  * JSON-in-binary ([[EnvelopeCodec]], default) or Avro binary
  * ([[graft.envelope.AvroPayloadCodec]], the reference's default serde,
  * Mapper.scala:11-121). The envelope shape is codec-invariant, so
  * routing, sinks, and RPC correlation are untouched by the choice.
  */
final class ServiceFlow(val name: String, val bus: Bus,
                        val registry: SchemaRegistry = new SchemaRegistry(),
                        val codec: PayloadCodec = EnvelopeCodec) {
  import bus.spark
  import scala.jdk.CollectionConverters._

  val serviceId: String = java.util.UUID.randomUUID().toString
  private val startedAt = new java.sql.Timestamp(System.currentTimeMillis())
  private val builders = new java.util.concurrent.CopyOnWriteArrayList[StreamBuilder]()

  /** T1: typed request->response transform (reference: Service.scala:53-54
    * -> Module.op2, Module.scala:52-63). `f` runs per event with its
    * metadata; the reply envelope answers that event (T6 enrichment).
    */
  def registerStream[T, U](f: (T, EventMeta) => U,
                           partitionKey: Option[Column] = None,
                           retry: Option[RetryPolicy] = None)
                          (implicit encT: Encoder[T], encU: Encoder[U]): ServiceFlow = {
    registry.register[T]()
    registry.register[U]()
    val b = StreamBuilder(
      EnvelopeCodec.fqnOf[T], Some(EnvelopeCodec.fqnOf[U]),
      df => codec.encodeReply[U](
        mapWithMeta(codec.decodeWithMeta[T](df), f), partitionKey),
      retry,
      failures = df => codec.decodeFailures[T](df))
    builders.add(b); this
  }

  /** T3: state-lookup transform (reference: Service.scala:66-71
    * `registerDataBaseStream`): a `T <: DbAccessor`-style request event is
    * answered with the current state `S` for its id. The entity db is a
    * keyed `Dataset[(String, S)]` (see [[graft.entity.EntityStore]]); the
    * lookup is a hash join on the id — requests carry no payload to
    * shuffle beyond the key, and the reply meta threads responseTo so the
    * caller's correlation join completes.
    */
  def registerDataBaseStream[T, S](state: Dataset[(String, S)], idOf: T => String)
                                  (implicit encT: Encoder[T], encS: Encoder[S]): ServiceFlow = {
    registry.register[T]()
    registry.register[S]()
    implicit val metaEnc: Encoder[EventMeta] = Encoders.product[EventMeta]
    implicit val keyedEnc: Encoder[(String, EventMeta)] =
      Encoders.tuple(Encoders.STRING, metaEnc)
    implicit val outEnc: Encoder[(S, EventMeta)] = Encoders.tuple(encS, metaEnc)
    val b = StreamBuilder(
      EnvelopeCodec.fqnOf[T], Some(EnvelopeCodec.fqnOf[S]),
      df => {
        val reqs = codec.decodeWithMeta[T](df)
          .map { case (t, m) => (idOf(t), m) }
        val joined = reqs.joinWith(state, reqs("_1") === state("_1"), "inner")
        codec.encodeReply[S](joined.map { case ((_, m), (_, s)) => (s, m) })
      })
    builders.add(b); this
  }

  /** K4: fire-and-forget sink (reference: Service.scala:63-64 ->
    * Module.op2Unit:72-80) — consume, commit, emit nothing. The handler
    * sees `(T, EventMeta)` rows; its side effects are its own (foreach /
    * foreachBatch downstream); no reply topic exists.
    */
  def registerSink[T](f: Dataset[(T, EventMeta)] => Unit)
                     (implicit encT: Encoder[T]): ServiceFlow = {
    registry.register[T]()
    val b = StreamBuilder(
      EnvelopeCodec.fqnOf[T], None,
      df => { f(codec.decodeWithMeta[T](df)); spark.emptyDataFrame })
    builders.add(b); this
  }

  /** T2: control-plane transform, hidden from the descriptor
    * (reference: Service.scala:82-83 -> Module.op2Service:91-102).
    */
  def registerServiceStream[T, U](f: (T, EventMeta) => U)
                                 (implicit encT: Encoder[T], encU: Encoder[U]): ServiceFlow = {
    registry.register[T]()
    registry.register[U]()
    val b = StreamBuilder(
      EnvelopeCodec.fqnOf[T], Some(EnvelopeCodec.fqnOf[U]),
      df => codec.encodeReply[U](
        mapWithMeta(codec.decodeWithMeta[T](df), f)),
      isServiceStream = true)
    builders.add(b); this
  }

  /** Apply a per-event handler, carrying each input event's meta along so
    * the reply can answer it (the row-level analog of the reference's
    * per-message replyAndCommit; no positional zipping — meta rides the
    * row through the map, so reordering/shuffling cannot mis-pair).
    */
  private def mapWithMeta[T, U](in: Dataset[(T, EventMeta)], f: (T, EventMeta) => U)
                               (implicit encU: Encoder[U]): Dataset[(U, EventMeta)] = {
    implicit val metaEnc: Encoder[EventMeta] = Encoders.product[EventMeta]
    implicit val outEnc: Encoder[(U, EventMeta)] = Encoders.tuple(encU, metaEnc)
    in.map { case (t, m) => (f(t, m), m) }
  }

  /** Compile the registry into one StreamingQuery per handler — the
    * physical-plan build (reference: TypebusKafkaConsumer ctor,
    * KafkaBus.scala:86-248). Each query reads the handler's topic,
    * transforms, and republishes to the out topic via the sink fn.
    */
  def start(sink: (String, DataFrame) => StreamingQuery): Seq[StreamingQuery] =
    builders.asScala.toSeq.map { b =>
      sink(b.outFqn.getOrElse(s"${b.inFqn}.sink"), b.transform(bus.source(b.inFqn)))
    }

  /** F4: one query per handler routing unparseable input envelopes to the
    * ServiceException topic — a poison message becomes an error report to
    * the caller instead of a stream death (reference: produceErrorReport,
    * bus/package.scala:93-125; Supervision.Resume, KafkaBus.scala:109-112).
    */
  def startErrors(sink: (String, DataFrame) => StreamingQuery): Seq[StreamingQuery] = {
    val errTopic = classOf[ServiceException].getName
    builders.asScala.toSeq.map { b =>
      sink(errTopic, b.failures(bus.source(b.inFqn)))
    }
  }

  /** D2: answer `GetServiceDescriptor` requests with this service's
    * descriptor over the control plane (reference: KafkaBus.scala:130-134,
    * 247; TestBus.scala:90-94,168 — the descriptor is also broadcast at
    * startup; here the request/reply path covers both, since a caller
    * can always ask). Call AFTER registering the service's handlers —
    * the descriptor is materialized at this point, mirroring the
    * reference's publish-at-startup snapshot.
    */
  def enableDiscovery(): ServiceFlow = {
    implicit val encG: Encoder[GetServiceDescriptor] = Encoders.product[GetServiceDescriptor]
    implicit val encD: Encoder[ServiceDescriptor] = Encoders.product[ServiceDescriptor]
    val snapshot = descriptor
    registerServiceStream[GetServiceDescriptor, ServiceDescriptor]((_, _) => snapshot)
  }

  /** Compile handlers into queries that publish BACK ONTO THE BUS: each
    * reply goes to its out topic (K1), and replies to RPC requests
    * (responseTo + directReply present) are additionally copied to the
    * CALLER's service-name topic — K2, the RPC back-channel
    * (reference: KafkaBus.scala:60,64-73; TestBus.scala:126-129).
    *
    * The routing is computed IN THE PLAN ([[EnvelopeCodec.routeToTopics]]:
    * one narrow explode over a conditional topic array) and the sink
    * appends executor-side ([[graft.bus.Bus.sinkEnvelopes]]) — no
    * `collect()`, no driver-side loop. On a Kafka bus the routed frame
    * feeds the stock kafka sink unchanged; MemoryBus appends per
    * partition. This is the shape that survives real throughput: the
    * driver never touches event rows.
    */
  def startPublishing(): Seq[StreamingQuery] =
    builders.asScala.toSeq.flatMap { b =>
      b.outFqn.map { outTopic =>
        bus.sinkEnvelopes(
          EnvelopeCodec.routeToTopics(outTopic, b.transform(bus.source(b.inFqn))))
      }
    }

  /** D1: the service descriptor (reference: Service.scala:105-120). */
  def descriptor: ServiceDescriptor = ServiceDescriptor(
    service = name,
    serviceId = serviceId,
    upTime = startedAt,
    serviceMethods = builders.asScala.toSeq
      .filter(b => b.outFqn.isDefined && !b.isServiceStream)
      .map(b => ServiceMethod(b.inFqn, b.outFqn.get)),
    types = registry.all
  )
}
