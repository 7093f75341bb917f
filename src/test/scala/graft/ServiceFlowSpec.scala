package graft

import graft.bus.MemoryBus
import graft.envelope._
import graft.service.ServiceFlow
import org.apache.spark.sql.functions._

/** End-to-end service round trip over the in-memory bus — the testkit
  * scenario of the reference (TestBus.scala): publish typed events,
  * a registered handler transforms them, replies land on the out topic
  * with reply-envelope enrichment (responseTo, correlationId).
  */
class ServiceFlowSpec extends SparkSpec {
  import spark.implicits._

  test("MemoryBus round trip: publish -> handler -> enveloped reply with responseTo") {
    val bus = new MemoryBus(spark)
    val flow = new ServiceFlow("test-svc", bus)
    flow.registerStream[Ping, Pong]((p, _) => Pong(p.n * 2, p.tag))

    // hand-built envelopes with known meta, the RPC-caller shape
    val reqMeta = EventMeta(
      eventId = "req-1", eventType = classOf[Ping].getName,
      correlationId = Some("corr-9"),
      occurredAt = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    bus.publishEnvelopes(classOf[Ping].getName, Seq(
      PublishedEvent(reqMeta, """{"n":21,"tag":"t1"}""".getBytes("UTF-8")),
      PublishedEvent(reqMeta.copy(eventId = "req-2", correlationId = None),
        """{"n":5,"tag":"t2"}""".getBytes("UTF-8"))))

    val queries = flow.start { (topic, df) =>
      df.writeStream.format("memory")
        .queryName(topic.replace('.', '_'))
        .outputMode("append").start()
    }
    try {
      queries.foreach(_.processAllAvailable())
      val out = spark.table(classOf[Pong].getName.replace('.', '_'))
      val rows = out
        .select($"meta.responseTo", $"meta.correlationId", $"meta.eventType",
          $"payload".cast("string"))
        .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getString(2), r.getString(3)))
        .sortBy(_._1)
      assert(rows.length === 2)
      assert(rows(0)._1 === "req-1")
      assert(rows(0)._2 === Some("corr-9"))
      assert(rows(0)._3 === classOf[Pong].getName)
      assert(rows(0)._4.contains("\"doubled\":42"))
      assert(rows(1)._1 === "req-2")
      assert(rows(1)._2 === None)
      assert(rows(1)._4.contains("\"doubled\":10"))
    } finally queries.foreach(_.stop())
  }

  test("MemoryBus.publish serializes through the engine (Option/Timestamp survive)") {
    val bus = new MemoryBus(spark)
    bus.publish(Seq(
      RichEvent(1L, "x", Some("maybe"), java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
        Map("a" -> "b"), Inner(3, None))))
    val q = bus.source(classOf[RichEvent].getName)
      .writeStream.format("memory").queryName("rich_pub").outputMode("append").start()
    try {
      q.processAllAvailable()
      val back = EnvelopeCodec.decodeTyped[RichEvent](spark.table("rich_pub")).collect()
      assert(back.head.note === Some("maybe"))
      assert(back.head.inner === Inner(3, None))
      assert(back.head.at === java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
    } finally q.stop()
  }

  test("descriptor lists methods and registered types, hiding service streams") {
    val bus = new MemoryBus(spark)
    val flow = new ServiceFlow("svc", bus)
    flow.registerStream[Ping, Pong]((p, _) => Pong(p.n, p.tag))
    flow.registerSink[Pong](_ => ())
    flow.registerServiceStream[Pong, Ping]((p, _) => Ping(p.doubled, p.tag))
    val d = flow.descriptor
    assert(d.service === "svc")
    assert(d.serviceMethods.map(m => (m.in, m.out)) ===
      Seq((classOf[Ping].getName, classOf[Pong].getName)))
    assert(d.types.keySet === Set(classOf[Ping].getName, classOf[Pong].getName))
  }

  test("state-lookup stream answers requests with current entity state (T3)") {
    val bus = new MemoryBus(spark)
    val flow = new ServiceFlow("db-svc", bus)
    val state = spark.createDataset(Seq(
      ("u1", UserState("u1", 10.5)), ("u2", UserState("u2", 2.0))))
    flow.registerDataBaseStream[GetUser, UserState](state, _.userId)

    bus.publishEnvelopes(classOf[GetUser].getName, Seq(
      PublishedEvent(EventMeta(eventId = "q-1", eventType = classOf[GetUser].getName,
        occurredAt = new java.sql.Timestamp(0)), """{"userId":"u2"}""".getBytes("UTF-8"))))
    val queries = flow.start { (topic, df) =>
      df.writeStream.format("memory").queryName("dbreply")
        .outputMode("append").start()
    }
    try {
      queries.foreach(_.processAllAvailable())
      val rows = spark.table("dbreply")
        .select($"meta.responseTo", $"payload".cast("string")).as[(String, String)].collect()
      assert(rows.toSeq === Seq(("q-1", """{"userId":"u2","total":2.0}""")))
    } finally queries.foreach(_.stop())
  }

  test("MemoryBus: concurrent driver publishes and sink tasks deliver every envelope intact") {
    // Four driver threads and a four-partition sink (whose tasks append
    // from ForeachWriter.close) publish to ONE topic at once: every
    // eventId must arrive exactly once with the payload built for it.
    val bus = new MemoryBus(spark)
    val topic = classOf[Ping].getName
    def env(id: String, n: Int): PublishedEvent = PublishedEvent(
      EventMeta(eventId = id, eventType = topic),
      s"""{"n":$n,"tag":"$id"}""".getBytes("UTF-8"))
    val routed = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TopicEnvelope](
      org.apache.spark.sql.Encoders.product[TopicEnvelope], spark.sqlContext)
    val sink = bus.sinkEnvelopes(routed.toDF().repartition(4))
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val drivers = (0 until 4).map { t =>
      new Thread(() => try {
        start.await()
        (0 until 500).grouped(5).foreach { chunk =>
          bus.publishEnvelopes(topic, chunk.map(i => env(s"drv-$t-$i", i)))
          Thread.sleep(1)
        }
      } catch { case e: Throwable => errors.add(e) })
    }
    val batches = (0 until 4).map(b => (0 until 500).map { i =>
      val e = env(s"sink-$b-$i", i)
      TopicEnvelope(topic, e.meta, e.payload)
    })
    try {
      drivers.foreach(_.start())
      start.countDown()
      batches.foreach(routed.addData(_))
      sink.processAllAvailable()
      drivers.foreach(_.join())
    } finally sink.stop()
    assert(errors.isEmpty, errors.toString)

    val read = bus.source(topic).writeStream.format("memory")
      .queryName("concurrent_publish").outputMode("append").start()
    try read.processAllAvailable() finally read.stop()
    val rows = spark.table("concurrent_publish")
    val ids = rows.select($"meta.eventId").as[String].collect()
    val expected = batches.flatten.map(_.meta.eventId) ++
      (for (t <- 0 until 4; i <- 0 until 500) yield s"drv-$t-$i")
    assert(ids.sorted.toSeq === expected.sorted)
    val decoded = EnvelopeCodec.decodeWithMeta[Ping](rows).collect()
    assert(decoded.length === 4000)
    assert(decoded.forall { case (p, meta) => p.tag == meta.eventId })
  }
}
