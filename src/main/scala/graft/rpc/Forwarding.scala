package graft.rpc

import graft.envelope.{EnvelopeCodec, RpcClient}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** R3: forward/delegation — re-publish a request so its reply goes to a
  * DIFFERENT caller, threading correlationId and extra metadata
  * (reference: typebus/src/main/scala/io/surfkit/typebus/client/
  * Forwarding.scala:13-27 — publish T with `directReply` pointing at the
  * delegate, correlationId preserved, extra merged).
  *
  * Pure columnar envelope rewrite: fresh eventId (it is a new publish),
  * same eventType/payload/correlationId, replaced reply address, merged
  * extra. No shuffle.
  */
object Forwarding {

  def forward(envelopes: DataFrame, to: RpcClient,
              extra: Map[String, String] = Map.empty): DataFrame = {
    val extraCol =
      if (extra.isEmpty) col("meta.extra")
      else map_concat(
        coalesce(col("meta.extra"), map().cast(MapType(StringType, StringType))),
        map(extra.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*))
    envelopes.select(
      EnvelopeCodec.meta(col("meta.eventType"),
        correlationId = col("meta.correlationId"), trace = col("meta.trace"),
        directReply = struct(lit(to.path).as("path"), lit(to.service).as("service")),
        key = col("meta.key"), socketId = col("meta.socketId"),
        responseTo = col("meta.responseTo"), extra = extraCol,
        occurredAt = col("meta.occurredAt")).as("meta"),
      col("payload"))
  }
}
