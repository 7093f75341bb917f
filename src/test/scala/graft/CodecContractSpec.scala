package graft

import graft.envelope._
import graft.rpc.Forwarding
import graft.service.Traces
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The envelope contract every [[PayloadCodec]] keeps: all ten meta fields
  * of a fresh publish, a reply (the reference's replyAndCommit rule,
  * KafkaBus.scala:136-182) and an F4 failure report, plus the meta column
  * shape of every envelope builder in main.
  */
class CodecContractSpec extends SparkSpec {
  import spark.implicits._

  private implicit val metaEnc: org.apache.spark.sql.Encoder[EventMeta] =
    Encoders.product[EventMeta]

  private val pingFqn = classOf[Ping].getName
  private val epoch = new java.sql.Timestamp(0L)

  /** The input meta a reply or a failure report answers: every field set. */
  private val inMeta = EventMeta(
    eventId = "req-1", eventType = pingFqn,
    correlationId = Some("corr-7"), trace = true,
    directReply = Some(RpcClient("p", "caller-svc")),
    key = Some("in-key"), socketId = Some("sock-1"),
    responseTo = Some("older"), extra = Map("a" -> "b"),
    occurredAt = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))

  private def metas(df: DataFrame): Seq[EventMeta] =
    df.select("meta.*").as[EventMeta].collect().toSeq

  /** Fresh eventIds (distinct, none reused from `notIds`) and a current
    * occurredAt; returns the metas with both blanked for field compares.
    */
  private def fresh(ms: Seq[EventMeta], notIds: Set[String], t0: Long): Seq[EventMeta] = {
    assert(ms.map(_.eventId).distinct.length === ms.length)
    ms.foreach { m =>
      assert(m.eventId.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
      assert(!notIds.contains(m.eventId))
      assert(m.occurredAt.getTime >= t0 - 1000 &&
        m.occurredAt.getTime <= System.currentTimeMillis() + 1000)
    }
    ms.map(_.copy(eventId = "", occurredAt = epoch))
  }

  private val codecs = Seq("json" -> EnvelopeCodec, "avro" -> AvroPayloadCodec)

  codecs.foreach { case (name, codec) =>

    test(s"$name: encode fills all ten meta fields of a fresh publish") {
      val t0 = System.currentTimeMillis()
      val ds = Seq(Ping(1, "x"), Ping(2, "y")).toDS()
      val full = codec.encode(ds, keyExpr = Some(col("tag")),
        correlationId = Some(concat(lit("c-"), col("n"))),
        responseTo = Some(lit("resp-0")), directReplyService = Some("svc-x"))
      val got = fresh(metas(full), Set.empty, t0).sortBy(_.key)
      assert(got === Seq("x" -> 1, "y" -> 2).map { case (k, n) =>
        EventMeta(eventId = "", eventType = pingFqn, correlationId = Some(s"c-$n"),
          trace = false, directReply = Some(RpcClient("", "svc-x")), key = Some(k),
          socketId = None, responseTo = Some("resp-0"), extra = Map.empty,
          occurredAt = epoch)
      })
      val bare = fresh(metas(codec.encode(ds)), Set.empty, t0)
      assert(bare === Seq.fill(2)(EventMeta(eventId = "", eventType = pingFqn,
        occurredAt = epoch)))
      assert(codec.decodeTyped[Ping](full).collect().sortBy(_.n).toSeq ===
        Seq(Ping(1, "x"), Ping(2, "y")))
    }

    test(s"$name: encodeReply answers the input meta and keys from keyExpr") {
      implicit val tupleEnc = Encoders.tuple(Encoders.product[Pong], metaEnc)
      val t0 = System.currentTimeMillis()
      val in = Seq((Pong(4, "x"), inMeta)).toDS()
      val expected = EventMeta(eventId = "", eventType = classOf[Pong].getName,
        correlationId = Some("corr-7"), trace = true,
        directReply = Some(RpcClient("p", "caller-svc")), key = Some("x"),
        socketId = Some("sock-1"), responseTo = Some("req-1"),
        extra = Map("a" -> "b"), occurredAt = epoch)
      val keyed = codec.encodeReply(in, keyExpr = Some(col("tag")))
      assert(fresh(metas(keyed), Set("req-1"), t0) === Seq(expected))
      assert(fresh(metas(codec.encodeReply(in)), Set("req-1"), t0) ===
        Seq(expected.copy(key = None)))
      assert(codec.decodeTyped[Pong](keyed).collect().toSeq === Seq(Pong(4, "x")))
    }

    test(s"$name: decodeFailures reports a poison payload as a keyless ServiceException reply") {
      val t0 = System.currentTimeMillis()
      val poison = Seq(PublishedEvent(inMeta, "definitely not avro".getBytes("UTF-8"))).toDS()
      val env = codec.encode(Seq(Ping(1, "ok")).toDS()).unionByName(poison.toDF())
      val failures = codec.decodeFailures[Ping](env)
      assert(fresh(metas(failures), Set("req-1"), t0) === Seq(EventMeta(
        eventId = "", eventType = classOf[ServiceException].getName,
        correlationId = Some("corr-7"), trace = true,
        directReply = Some(RpcClient("p", "caller-svc")), key = None,
        socketId = Some("sock-1"), responseTo = Some("req-1"),
        extra = Map("a" -> "b"), occurredAt = epoch)))
      implicit val excEnc = Encoders.product[ServiceException]
      val Seq(exc) = codec.decodeTyped[ServiceException](failures).collect().toSeq
      assert(exc.message.startsWith(s"payload for $pingFqn failed to deserialize: "))
      assert(exc.message.length > s"payload for $pingFqn failed to deserialize: ".length)
      assert(exc.throwableType === "DeserializationException")
      assert(exc.stackTrace.isEmpty && exc.extra.isEmpty)
      assert(codec.decodeTyped[Ping](env).collect().toSeq === Seq(Ping(1, "ok")))
    }
  }

  test("every envelope builder emits metaSchema's fields and types, in order") {
    implicit val tupleEnc = Encoders.tuple(Encoders.product[Pong], metaEnc)
    def shape(st: StructType): Seq[(String, String)] =
      st.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
    def metaShape(df: DataFrame): Seq[(String, String)] =
      shape(df.schema("meta").dataType.asInstanceOf[StructType])
    val want = shape(EnvelopeCodec.metaSchema)
    val pings = Seq(Ping(1, "x")).toDS()
    val frames = codecs.flatMap { case (name, codec) =>
      val env = codec.encode(pings)
      Seq(
        s"$name encode" -> env,
        s"$name encode (all params)" -> codec.encode(pings, Some(col("tag")),
          Some(lit("c")), Some(lit("r")), Some("svc")),
        s"$name encodeReply" -> codec.encodeReply(Seq((Pong(1, "x"), inMeta)).toDS()),
        s"$name decodeFailures" -> codec.decodeFailures[Ping](env),
        s"$name sideOutput" -> Traces.sideOutput(env,
          Traces.ServiceIdentifier("svc", "id-1"), Traces.InTrace),
        s"$name forward" -> Forwarding.forward(env, RpcClient("", "delegate")),
        s"$name forward (extra)" -> Forwarding.forward(env, RpcClient("", "delegate"),
          Map("hop" -> "1")))
    } :+ ("heartbeat" -> Traces.heartbeat(spark))
    frames.foreach { case (label, df) =>
      assert(metaShape(df) === want, label)
      assert(df.columns.toSeq === Seq("meta", "payload"), label)
    }
  }
}
