package graft.rpc

import graft.bus.Bus
import graft.envelope._
import org.apache.spark.sql.{Dataset, Encoder}

/** R1 (client side): the typed RPC caller
  * (reference: typebus/src/main/scala/io/surfkit/typebus/client/
  * Client.scala:32-52 `wire[T,U]` + actors/GatherActor.scala:38-106).
  *
  * The reference spawns a per-request GatherActor that publishes T with
  * `directReply = RpcClient(selfPath, service)` + correlationId, then
  * awaits the reply routed back to its service topic. In Spark there are
  * no per-request actors: [[call]] publishes the enveloped requests
  * (returning their eventIds), the service's [[graft.service.ServiceFlow
  * .startPublishing]] routes replies to this client's service topic (K2),
  * and [[replies]] is the typed stream a caller correlates on
  * `responseTo` via [[Rpc.correlate]] / [[Rpc.correlateStreaming]] —
  * timeouts become unmatched-request rows instead of AskTimeoutException
  * (SURVEY.md §7.4: trigger-granularity timeouts).
  */
final class Client(val service: String, bus: Bus,
                   codec: PayloadCodec = EnvelopeCodec) {

  val clientId: String = java.util.UUID.randomUUID().toString

  /** Publish enveloped requests; returns the request eventIds to
    * correlate on (GatherActor.scala:56-70 meta construction). Payload
    * bytes go THROUGH THE ENGINE via the configured codec, so
    * driver-built request envelopes are byte-identical to columnar-built
    * ones for any wire format (test/RPC-client path only — not a hot
    * path; the documented driver-side collect).
    */
  def call[T](requests: Seq[T], correlationId: Option[String] = None)
             (implicit enc: Encoder[T]): Seq[String] = {
    val fqn = EnvelopeCodec.fqnOf[T]
    val ids = requests.map(_ => java.util.UUID.randomUUID().toString)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    bus.publishEnvelopes(fqn, ids.zip(codec.payloads(bus.spark, requests)).map { case (id, p) =>
      PublishedEvent(
        EventMeta(
          eventId = id, eventType = fqn,
          correlationId = correlationId.orElse(Some(id)),
          directReply = Some(RpcClient(path = "", service = service)),
          occurredAt = now),
        p)
    })
    ids
  }

  /** The caller's typed reply stream: everything routed to this client's
    * service topic, decoded as U with metadata (`responseTo` identifies
    * the answered request; reference: Service.handleRpcReply,
    * Service.scala:90-103).
    */
  def replies[U](implicit enc: Encoder[U]): Dataset[(U, EventMeta)] =
    codec.decodeWithMeta[U](bus.source(service))
}
