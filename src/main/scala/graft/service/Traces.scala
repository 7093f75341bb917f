package graft.service

import graft.envelope.{EnvelopeCodec, PayloadCodec}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** O1/O2: observability side-channels.
  *
  * Trace emission (reference: bus/package.scala:66-90 `Publisher.trace`):
  * when the service traces (`busTrace`) or the event opts in
  * (`meta.trace`), every consumed/produced/errored envelope is wrapped in
  * an `InEventTrace`/`OutEventTrace`/`ExceptionTrace` event and published.
  * The reference suppresses self-traces (tracing the trace topic);
  * [[Traces.sideOutput]] reproduces that guard.
  *
  * Heartbeat (reference: event/package.scala:173 `Hb(ts)`): a periodic
  * system event; in Spark the rate source IS the scheduler.
  *
  * Scale: the trace stream is a narrow columnar projection of the event
  * stream — no shuffle, no driver round-trip; at 100 TB the trace topic
  * write is the only added cost, and it's gated per-event by `meta.trace`
  * so the default overhead is a codegen'd filter.
  */
object Traces {

  /** Trace payload: which service saw the event + the original envelope
    * (meta as JSON, payload base64) — the columnar rendering of the
    * reference's `InEventTrace(service, event: PublishedEvent)`
    * (event/package.scala:24-45).
    */
  final case class ServiceIdentifier(name: String, id: String)

  val InTrace = "graft.service.InEventTrace"
  val OutTrace = "graft.service.OutEventTrace"
  val ExceptionTrace = "graft.service.ExceptionTrace"

  private val traceTypes = Set(InTrace, OutTrace, ExceptionTrace)

  /** The trace side output for a stream of envelopes: one trace envelope
    * per input envelope that is trace-enabled (service-wide `busTrace` or
    * per-event `meta.trace`, reference: bus/package.scala:69-74), except
    * trace events themselves (self-trace suppression, :68). The payload
    * is written by `codec`, the service's own serde, as the reference
    * writes traces through the bus's serde.
    */
  def sideOutput(envelopes: DataFrame, service: ServiceIdentifier,
                 kind: String, busTrace: Boolean = false,
                 codec: PayloadCodec = EnvelopeCodec): DataFrame = {
    require(traceTypes.contains(kind), s"unknown trace kind $kind")
    val traced = envelopes.where((lit(busTrace) || col("meta.trace")) &&
      !col("meta.eventType").isin(traceTypes.toSeq: _*))
    val payload = struct(
      struct(lit(service.name).as("name"), lit(service.id).as("id")).as("service"),
      to_json(col("meta")).as("eventMeta"),
      base64(col("payload")).as("eventPayload"))
    val st = traced.select(payload).schema.head.dataType.asInstanceOf[StructType]
    codec.envelope(traced, Seq(col("meta")), payload, st, kind)(
      // trace stays false: self-trace suppression downstream
      EnvelopeCodec.meta(lit(kind), correlationId = col("meta.correlationId"),
        directReply = col("meta.directReply"), responseTo = col("meta.eventId")))
  }

  /** O2: heartbeat stream — `Hb(ts)` events on a fixed cadence from the
    * rate source (the Structured Streaming scheduler; reference:
    * event/package.scala:173, serde Mapper.scala:98-99).
    *
    * NOTE: the rate source always has more data, so
    * `StreamingQuery.processAllAvailable()` blocks indefinitely on a
    * heartbeat query — poll the sink instead.
    *
    * The `Hb` payload is written by `codec`, so the service's own
    * `decodeTyped[Hb]` reads it back.
    */
  final case class Hb(ts: Long)

  def heartbeat(spark: SparkSession, rowsPerSecond: Int = 1,
                codec: PayloadCodec = EnvelopeCodec): DataFrame = {
    val hb = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(unix_millis(col("timestamp")).as("ts"))
    codec.envelope(hb, Seq(col("ts")), struct(col("ts")),
      Encoders.product[Hb].schema, classOf[Hb].getName)(
      EnvelopeCodec.meta(lit(classOf[Hb].getName),
        occurredAt = timestamp_millis(col("ts"))))
  }
}
