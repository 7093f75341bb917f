package graft

import graft.bus.MemoryBus
import graft.envelope._
import graft.rpc.{Client, Forwarding}
import graft.service._
import graft.service.RetryFlow.Attempt
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentHashMap

object FlakyHandler {
  /** fail counter per key — simulates a handler that succeeds on the Nth try */
  val calls = new ConcurrentHashMap[String, Integer]()
  def handle(failTimes: Int)(p: Ping, m: EventMeta): Pong = {
    val n = calls.merge(m.eventId, 1, (a, b) => a + b)
    if (n <= failTimes) throw new RuntimeException(s"boom $n")
    Pong(p.n * 2, p.tag)
  }
}

/** F1 retry execution, R1 client round trip incl. K2 back-channel,
  * D2 discovery, R3 forwarding, O1 traces, O2 heartbeat.
  */
class ServiceExtrasSpec extends SparkSpec {
  import spark.implicits._

  private def envOf(id: String, n: Int): PublishedEvent =
    PublishedEvent(EventMeta(eventId = id, eventType = classOf[Ping].getName,
      occurredAt = new java.sql.Timestamp(System.currentTimeMillis())),
      s"""{"n":$n,"tag":"t"}""".getBytes("UTF-8"))

  test("inBatch retry: succeeds after transient failures, reports attempts") {
    FlakyHandler.calls.clear()
    val bus = new MemoryBus(spark)
    bus.publishEnvelopes(classOf[Ping].getName, Seq(envOf("rb-1", 5)))
    val q = bus.source(classOf[Ping].getName)
      .writeStream.format("memory").queryName("retry_in").outputMode("append").start()
    try {
      q.processAllAvailable()
      val in = EnvelopeCodec.decodeWithMeta[Ping](spark.table("retry_in"))
      val out = RetryFlow.inBatch(in,
        RetryPolicy(3, scala.concurrent.duration.Duration.Zero, RetryBackoff.NoBackoff))(
        FlakyHandler.handle(2)).collect()
      assert(out.length === 1)
      assert(out.head._1 === Attempt(Some(Pong(10, "t")), None, 3))
    } finally q.stop()
  }

  test("inBatch retry: exhausts retries into an error row, never drops") {
    FlakyHandler.calls.clear()
    val bus = new MemoryBus(spark)
    bus.publishEnvelopes(classOf[Ping].getName, Seq(envOf("rb-2", 1)))
    val q = bus.source(classOf[Ping].getName)
      .writeStream.format("memory").queryName("retry_exhaust").outputMode("append").start()
    try {
      q.processAllAvailable()
      val in = EnvelopeCodec.decodeWithMeta[Ping](spark.table("retry_exhaust"))
      val out = RetryFlow.inBatch(in,
        RetryPolicy(1, scala.concurrent.duration.Duration.Zero, RetryBackoff.NoBackoff))(
        FlakyHandler.handle(99)).collect()
      assert(out.length === 1)
      val a = out.head._1
      assert(a.ok === None && a.attempts === 2)
      assert(a.err.exists(_.contains("boom")))
    } finally q.stop()
  }

  test("streaming retry: parks failures in keyed state and re-fires on timeout") {
    FlakyHandler.calls.clear()
    val bus = new MemoryBus(spark)
    bus.publishEnvelopes(classOf[Ping].getName, Seq(envOf("rs-1", 7)))
    val in = EnvelopeCodec.decodeWithMeta[Ping](bus.source(classOf[Ping].getName))
    val out = RetryFlow.streaming(in,
      RetryPolicy(5, scala.concurrent.duration.Duration(10, "ms"), RetryBackoff.NoBackoff))(
      FlakyHandler.handle(2))
    val q = out.writeStream.format("memory").queryName("retry_stream")
      .outputMode("append").start()
    try {
      // poll WITHOUT processAllAvailable: pending processing-time timeouts
      // keep scheduling micro-batches, so processAllAvailable can block
      // indefinitely — the timeouts fire on those empty batches
      val deadline = System.currentTimeMillis() + 30000
      var rows = Array.empty[(Attempt[Pong], EventMeta)]
      while (rows.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        rows = spark.table("retry_stream").as[(Attempt[Pong], EventMeta)].collect()
      }
      assert(rows.length === 1)
      assert(rows.head._1 === Attempt(Some(Pong(14, "t")), None, 3))
      assert(rows.head._2.eventId === "rs-1")
    } finally q.stop()
  }

  test("RPC client round trip: call -> service -> K2 back-channel -> typed replies") {
    val bus = new MemoryBus(spark)
    val flow = new ServiceFlow("server-svc", bus)
    flow.registerStream[Ping, Pong]((p, _) => Pong(p.n * 2, p.tag))
    val client = new Client("caller-svc", bus)
    val ids = client.call(Seq(Ping(3, "a"), Ping(4, "b")))
    val serverQs = flow.startPublishing()
    val replyQ = client.replies[Pong].toDF()
      .writeStream.format("memory").queryName("client_replies")
      .outputMode("append").start()
    try {
      serverQs.foreach(_.processAllAvailable())
      replyQ.processAllAvailable()
      val got = spark.table("client_replies")
        .select($"_1.doubled", $"_2.responseTo").as[(Int, String)].collect().sortBy(_._1)
      assert(got.map(_._1).toSeq === Seq(6, 8))
      assert(got.map(_._2).toSet === ids.toSet)
      // the publish path is executor-side: ForeachSink, not a
      // foreachBatch collect loop
      assert(serverQs.forall(q =>
        Option(q.lastProgress).exists(_.sink.description.contains("Foreach"))))
    } finally { replyQ.stop(); serverQs.foreach(_.stop()) }
  }

  test("routeToTopics: K1 out-topic always, K2 caller copy only for RPC replies") {
    val mk = (id: String, responseTo: Option[String], reply: Option[RpcClient]) =>
      PublishedEvent(EventMeta(eventId = id, eventType = "graft.Pong",
        responseTo = responseTo, directReply = reply,
        occurredAt = new java.sql.Timestamp(0)), "{}".getBytes("UTF-8"))
    val env = Seq(
      mk("r-1", Some("req-1"), Some(RpcClient("", "caller-a"))), // RPC reply → 2 topics
      mk("r-2", None, Some(RpcClient("", "caller-b"))),          // no responseTo → 1
      mk("r-3", Some("req-3"), None),                            // no directReply → 1
      mk("r-4", None, None)                                      // plain publish → 1
    ).toDS().toDF()
    val routed = EnvelopeCodec.routeToTopics("graft.Pong", env)
      .select($"topic", $"meta.eventId").as[(String, String)].collect().sorted
    assert(routed.toSeq === Seq(
      ("caller-a", "r-1"),
      ("graft.Pong", "r-1"), ("graft.Pong", "r-2"),
      ("graft.Pong", "r-3"), ("graft.Pong", "r-4")))
  }

  test("discovery: GetServiceDescriptor is answered over the control plane (D2)") {
    val bus = new MemoryBus(spark)
    val flow = new ServiceFlow("disco-svc", bus)
    flow.registerStream[Ping, Pong]((p, _) => Pong(p.n, p.tag))
    flow.enableDiscovery()
    val client = new Client("asker-svc", bus)
    client.call(Seq(GetServiceDescriptor("disco-svc")))
    val qs = flow.startPublishing()
    val replyQ = client.replies[ServiceDescriptor].toDF()
      .writeStream.format("memory").queryName("disco_replies")
      .outputMode("append").start()
    try {
      qs.foreach(_.processAllAvailable())
      replyQ.processAllAvailable()
      val ds = spark.table("disco_replies").select($"_1.*").as[ServiceDescriptor].collect()
      assert(ds.length === 1)
      assert(ds.head.service === "disco-svc")
      assert(ds.head.serviceMethods === Seq(
        ServiceMethod(classOf[Ping].getName, classOf[Pong].getName)))
      assert(ds.head.types.contains(classOf[Ping].getName))
    } finally { replyQ.stop(); qs.foreach(_.stop()) }
  }

  test("forwarding rewrites the reply address, keeps correlation + payload (R3)") {
    val env = Seq(PublishedEvent(
      EventMeta(eventId = "f-1", eventType = "graft.Ping",
        correlationId = Some("corr-x"),
        directReply = Some(RpcClient("", "original-caller")),
        extra = Map("k0" -> "v0"),
        occurredAt = new java.sql.Timestamp(1000)),
      """{"n":1,"tag":"z"}""".getBytes("UTF-8"))).toDS().toDF()
    val fwd = Forwarding.forward(env, RpcClient("", "delegate-svc"),
      extra = Map("hop" -> "1")).collect().head
    val meta = fwd.getStruct(0)
    assert(meta.getAs[String]("eventId") !== "f-1") // fresh publish
    assert(meta.getAs[String]("correlationId") === "corr-x")
    assert(meta.getStruct(meta.fieldIndex("directReply")).getAs[String]("service") === "delegate-svc")
    val extra = meta.getAs[Map[String, String]]("extra")
    assert(extra === Map("k0" -> "v0", "hop" -> "1"))
    assert(new String(fwd.getAs[Array[Byte]]("payload"), "UTF-8") === """{"n":1,"tag":"z"}""")
  }

  test("traces: per-event opt-in, self-trace suppression, original envelope carried (O1)") {
    val mk = (id: String, traced: Boolean, etype: String) => PublishedEvent(
      EventMeta(eventId = id, eventType = etype, trace = traced,
        occurredAt = new java.sql.Timestamp(0)), s"""{"x":"$id"}""".getBytes("UTF-8"))
    val env = Seq(
      mk("t-1", true, "graft.Ping"),
      mk("t-2", false, "graft.Ping"),                  // not traced
      mk("t-3", true, Traces.InTrace)                  // self-trace suppressed
    ).toDS().toDF()
    val traces = Traces.sideOutput(env, Traces.ServiceIdentifier("svc", "id-1"),
      Traces.InTrace).collect()
    assert(traces.length === 1)
    val m = traces.head.getStruct(0)
    assert(m.getAs[String]("eventType") === Traces.InTrace)
    assert(m.getAs[String]("responseTo") === "t-1")
    // the JSON codec's exact trace payload bytes
    assert(new String(traces.head.getAs[Array[Byte]](1), "UTF-8") ===
      """{"service":{"name":"svc","id":"id-1"},"eventMeta":"{\"eventId\":\"t-1\",""" +
      """\"eventType\":\"graft.Ping\",\"trace\":true,\"extra\":{},""" +
      """\"occurredAt\":\"1970-01-01T00:00:00.000Z\"}","eventPayload":"eyJ4IjoidC0xIn0="}""")
    // busTrace=true traces everything except trace events themselves
    assert(Traces.sideOutput(env, Traces.ServiceIdentifier("svc", "id-1"),
      Traces.OutTrace, busTrace = true).count() === 2)
  }

  /** A heartbeat stream's envelopes, collected once its memory sink is
    * non-empty. Sleep-poll: the rate source always has more data, so
    * processAllAvailable would block indefinitely.
    */
  private def heartbeatRows(name: String, codec: PayloadCodec): Array[org.apache.spark.sql.Row] = {
    val q = Traces.heartbeat(spark, rowsPerSecond = 10, codec = codec)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        n = spark.table(name).count()
      }
      spark.table(name).collect()
    } finally q.stop()
  }

  test("heartbeat emits Hb envelopes from the rate source (O2)") {
    val rows = heartbeatRows("hb", EnvelopeCodec)
    assert(rows.nonEmpty)
    val r = rows.head
    assert(r.getStruct(0).getAs[String]("eventType") === classOf[Traces.Hb].getName)
    assert(new String(r.getAs[Array[Byte]](1), "UTF-8").startsWith("""{"ts":"""))
  }

  test("heartbeat on an Avro service writes Hb through the service's codec (O2)") {
    val rows = heartbeatRows("hb_avro", AvroPayloadCodec)
    assert(rows.nonEmpty)
    val env = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      spark.table("hb_avro").schema)
    val emitted = rows.map(_.getStruct(0).getAs[java.sql.Timestamp]("occurredAt").getTime)
    assert(AvroPayloadCodec.decodeTyped[Traces.Hb](env).collect().map(_.ts).sorted.toSeq ===
      emitted.sorted.toSeq)
    assert(AvroPayloadCodec.decodeFailures[Traces.Hb](env).count() === 0)
  }
}
