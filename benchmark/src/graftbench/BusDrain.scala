package graftbench

import graft.bus.MemoryBus
import graft.entity.EntityStore
import graft.entity.EntityStore.{EntityEvent, Modify}
import graft.envelope.{AvroPayloadCodec, EnvelopeCodec, EventMeta, PublishedEvent, ServiceException}
import graft.service.{RetryBackoff, RetryFlow, RetryPolicy}
import graft.service.RetryFlow.Attempt
import org.apache.spark.sql.{ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** `plan`: 0 = succeeds, 1 = fails once then succeeds, 2 = always fails. */
final case class Txn(account: String, amount: Long, seq: Long, plan: Int)
final case class Posted(account: String, amount: Long, seq: Long)
final case class AcctState(amount: Long, seq: Long)

object DrainHandlers {
  val calls = new ConcurrentHashMap[String, AtomicInteger]()
  def post(t: Txn, m: EventMeta): Posted = t.plan match {
    case 1 if calls.computeIfAbsent(m.eventId, _ => new AtomicInteger()).incrementAndGet() == 1 =>
      throw new IllegalStateException("planted transient failure")
    case 2 => throw new IllegalStateException("planted permanent failure")
    case _ => Posted(t.account, t.amount, t.seq)
  }
}

/** Sink-side observers of one drain, reached from executor tasks. */
object DrainSinks {
  val outputs = new ConcurrentLinkedQueue[Row]()
  val count = new AtomicLong()
  val entity = new ConcurrentHashMap[String, AcctState]()
  val created = new AtomicLong()
  def clear(): Unit = { outputs.clear(); count.set(0); entity.clear(); created.set(0) }
}

final class OutputWriter extends ForeachWriter[Row] {
  def open(partitionId: Long, epochId: Long): Boolean = true
  def process(r: Row): Unit = { DrainSinks.outputs.add(r); DrainSinks.count.incrementAndGet() }
  def close(e: Throwable): Unit = ()
}

final class EntityWriter extends ForeachWriter[EntityEvent[AcctState]] {
  def open(partitionId: Long, epochId: Long): Boolean = true
  def process(e: EntityEvent[AcctState]): Unit = {
    DrainSinks.entity.put(e.id, e.state)
    if (e.created) DrainSinks.created.incrementAndGet()
  }
  def close(e: Throwable): Unit = ()
}

/** Backlog drain: a consumer that starts after a backlog of Avro-encoded
  * transactions are already on its topic and works through them with
  * retries, error reports and entity-state writes.
  */
object BusDrain {
  val EventsPerSecond = 8000 // backlog size per second of --seconds
  val WarmEvents = 2000
  val Accounts = 50000
  val ZipfS = 1.1
  val TransientShare = 0.02
  val PermanentShare = 0.01
  val CorruptShare = 0.01
  val Policy = RetryPolicy(2, 5.millis, RetryBackoff.NoBackoff)
  val ChunkEvents = 5000
  val TxnTopic: String = classOf[Txn].getName
  val OutTopic = "drain.replies"
  val ErrTopic = "drain.errors"

  /** Truncated payload: a string length with no string behind it. */
  val corruptPayload: Array[Byte] = Array[Byte](0x7e)

  final case class Backlog(txns: IndexedSeq[Txn], corrupt: Set[Int], envelopes: IndexedSeq[PublishedEvent])

  private lazy val zipfCdf: Array[Double] = {
    val w = (1 to Accounts).map(k => 1.0 / math.pow(k, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def generate(spark: SparkSession, seed: Long, n: Int): Backlog = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    val txns = (0 until n).map { i =>
      val u = r.nextDouble()
      val k = java.util.Arrays.binarySearch(zipfCdf, u) match { case j if j >= 0 => j; case j => -j - 1 }
      val p = r.nextDouble()
      val plan = if (p < TransientShare) 1 else if (p < TransientShare + PermanentShare) 2 else 0
      Txn(f"acct-${k min (Accounts - 1)}%06d", r.nextInt(100000).toLong, i.toLong, plan)
    }
    val corrupt = (0 until n).filter(_ => r.nextDouble() < CorruptShare).toSet
    val encoded = AvroPayloadCodec.encode(txns.toDS()).as[PublishedEvent].collect().toIndexedSeq
    val envs = encoded.zipWithIndex.map { case (e, i) =>
      if (corrupt(i)) e.copy(payload = corruptPayload) else e
    }
    Backlog(txns, corrupt, envs)
  }

  /** Publishes the backlog, starts the consumer and returns when every
    * event is accounted for and the entity writer has read the whole
    * topic. The clock covers consumer start to completion.
    */
  def drain(ctx: Ctx, b: Backlog, tag: String): Option[Double] = {
    val spark = ctx.spark
    import spark.implicits._
    DrainSinks.clear(); DrainHandlers.calls.clear()
    val bus = new TimedBus(new MemoryBus(spark))
    buses.add(bus)
    ctx.tracer.span("bus.publish", tag) {
      b.envelopes.grouped(ChunkEvents).foreach(c => bus.publishEnvelopes(TxnTopic, c))
    }
    val n = b.envelopes.size
    val t0 = System.nanoTime()
    lastStartNs = t0
    val src = bus.source(TxnTopic)
    val in = AvroPayloadCodec.decodeWithMeta[Txn](src)
    val attempts = RetryFlow.streaming[Txn, Posted](in, Policy)(DrainHandlers.post)
    val handlerQ = bus.sinkEnvelopes(EnvelopeCodec.routeToTopics(OutTopic,
      AvroPayloadCodec.encodeReply[Attempt[Posted]](attempts)))
    val errorQ = bus.sinkEnvelopes(EnvelopeCodec.routeToTopics(ErrTopic,
      AvroPayloadCodec.decodeFailures[Txn](src)))
    val cmds = in.map { case (t, _) => Modify(t.account, AcctState(t.amount, t.seq), t.seq) }
    val entityQ = EntityStore.streamingEntityDb[AcctState](cmds)
      .writeStream.outputMode("update").foreach(new EntityWriter).start()
    val counterQ = bus.source(OutTopic).union(bus.source(ErrTopic))
      .select(col("meta"), col("payload"))
      .writeStream.outputMode("append").foreach(new OutputWriter).start()
    val qs = Seq(handlerQ, errorQ, entityQ, counterQ)
    Seq("handler" -> handlerQ, "errors" -> errorQ, "entity" -> entityQ, "counter" -> counterQ)
      .foreach { case (role, q) => roles.put(q.id.toString, role) }
    def entityRead: Long = entityQ.recentProgress.map(_.numInputRows).sum
    def dead = qs.find(q => !q.isActive)
    val (done, died) = try ctx.tracer.span("drain", tag) {
      val d = DrainWatch.await(() => (DrainSinks.count.get() >= n && entityRead >= n) || dead.isDefined,
        t0 + 120L * 1000 * 1000 * 1000)
      (d, dead)
    } finally qs.foreach(_.stop())
    died.foreach(q => ctx.note(s"$tag: a pipeline query died: ${q.exception.map(_.getMessage.take(200))}"))
    done.filter(_ => died.isEmpty).map(t1 => (t1 - t0) / 1e9)
  }

  @volatile var lastStartNs = 0L
  /** Query id -> pipeline role, and every drain's bus, for the trace. */
  val roles = new ConcurrentHashMap[String, String]()
  val buses = new ConcurrentLinkedQueue[TimedBus]()
  /** Attempts and give-ups seen by the gates. */
  val attempts = new AtomicLong()
  val attempted = new AtomicLong()
  val gaveUp = new AtomicLong()

  /** Checks one finished drain against the planted schedule. Returns the
    * number of unaccounted or wrongly handled events.
    */
  def gate(ctx: Ctx, b: Backlog): Long = {
    val spark = ctx.spark
    import spark.implicits._
    val n = b.envelopes.size
    var bad = 0L
    def fail(k: Long, msg: String): Unit = if (k > 0) { bad += k; ctx.note(msg) }
    val rows = DrainSinks.outputs.asScala.toSeq
    val frame = spark.createDataFrame(rows.asJava, EnvelopeCodec.envelopeSchema)
    val replies = AvroPayloadCodec.decodeWithMeta[Attempt[Posted]](frame).collect()
    val reports = AvroPayloadCodec.decodeWithMeta[ServiceException](frame).collect()
    fail((n - replies.length - reports.length).abs, s"accounted ${replies.length + reports.length} of $n")
    val byId = b.envelopes.map(_.meta.eventId).zipWithIndex.toMap
    val seen = new java.util.HashSet[String]()
    var okN, transientN, gaveUpN = 0L
    replies.foreach { case (a, m) =>
      val i = m.responseTo.flatMap(byId.get).getOrElse(-1)
      if (i < 0 || b.corrupt(i) || !seen.add(m.eventId)) fail(1, s"stray reply $m")
      else {
        val t = b.txns(i)
        val want = t.plan match {
          case 0 => Attempt(Some(Posted(t.account, t.amount, t.seq)), None, 1)
          case 1 => Attempt(Some(Posted(t.account, t.amount, t.seq)), None, 2)
          case _ => a.copy(ok = None, attempts = Policy.numRetry + 1)
        }
        if (a != want || (t.plan == 2 && a.err.forall(!_.contains("planted permanent"))))
          fail(1, s"event $i plan ${t.plan}: got $a")
        t.plan match { case 0 => okN += 1; case 1 => transientN += 1; case _ => gaveUpN += 1 }
        attempts.addAndGet(a.attempts); attempted.incrementAndGet()
        if (a.err.isDefined) gaveUp.incrementAndGet()
      }
    }
    reports.foreach { case (_, m) =>
      val i = m.responseTo.flatMap(byId.get).getOrElse(-1)
      if (i < 0 || !b.corrupt(i)) fail(1, s"error report for a decodable event $m")
    }
    val valid = b.txns.indices.filterNot(b.corrupt)
    val planted = valid.groupBy(i => b.txns(i).plan).map { case (k, v) => k -> v.size.toLong }
    fail((planted.getOrElse(0, 0L) - okN).abs, s"ok $okN != planted ${planted.getOrElse(0, 0L)}")
    fail((planted.getOrElse(1, 0L) - transientN).abs, s"transient $transientN != ${planted.getOrElse(1, 0L)}")
    fail((planted.getOrElse(2, 0L) - gaveUpN).abs, s"gave up $gaveUpN != ${planted.getOrElse(2, 0L)}")
    fail((b.corrupt.size - reports.length).abs, s"reports ${reports.length} != corrupt ${b.corrupt.size}")
    // entity state: the streaming db must end where the batch one is
    val cmds = valid.map(b.txns).toDF()
    val expected = EntityStore.latestState(cmds, "account", col("seq"), col("seq"),
      (col("amount"), "amount"), (col("seq"), "seq"))
      .as[(String, Long, Long)].collect().map { case (k, a, s) => k -> AcctState(a, s) }.toMap
    val got = DrainSinks.entity.asScala.toMap
    fail(expected.count { case (k, v) => !got.get(k).contains(v) } + (got.keySet -- expected.keySet).size,
      s"entity state differs from latestState on ${expected.count { case (k, v) => !got.get(k).contains(v) }} keys")
    fail((DrainSinks.created.get() - expected.size).abs,
      s"entity.created ${DrainSinks.created.get()} != distinct keys ${expected.size}")
    bad
  }

  final case class Pass(eps: Option[Double], startNs: Long)

  /** Generates a backlog of `events`, drains it and checks the outputs. */
  def pass(ctx: Ctx, events: Int, seed: Long): Pass = {
    val g0 = System.nanoTime()
    val b = generate(ctx.spark, seed, events)
    ctx.attempted += b.envelopes.size
    val g1 = System.nanoTime()
    val res = drain(ctx, b, s"drain-$seed")
    System.err.println(f"[drain] generated in ${(g1 - g0) / 1e9}%.1f s, drained in ${res.getOrElse(-1.0)}%.2f s")
    res match {
      case Some(_) => ctx.failed += gate(ctx, b)
      case None =>
        ctx.failed += (b.envelopes.size - DrainSinks.count.get()).max(1L)
        ctx.note("the drain did not finish")
    }
    Pass(res.map(b.envelopes.size / _), lastStartNs)
  }

  def run(ctx: Ctx, m: Metrics): Unit = {
    val setupT0 = System.nanoTime()
    val warm = generate(ctx.spark, ctx.seed * 1000 + 999, WarmEvents)
    drain(ctx, warm, "warm")
    val events = (EventsPerSecond * ctx.seconds).toInt
    val plain = pass(ctx, events, ctx.seed * 1000)
    // set-up: JVM/session start, warm drain, first backlog generated and
    // published — everything before the first timed consumer starts
    m.put("setup_s", m.toMap("jvm_spark_start_s")._1 + (plain.startNs - setupT0) / 1e9, "s")
    plain.eps.foreach(m.put("events_per_s", _, "events/s"))
    if (ctx.trace) traced(ctx, m, plain, events)
  }

  private def traced(ctx: Ctx, m: Metrics, plain: Pass, events: Int): Unit = {
    roles.clear(); buses.clear(); attempts.set(0); attempted.set(0); gaveUp.set(0)
    ctx.enableTracing()
    val t = pass(ctx, events, ctx.seed * 1000 + 1)
    ctx.drainListeners()
    for (a <- plain.eps; b <- t.eps) m.put("trace.overhead.events_per_s", b - a, "events/s")
    val agg = ctx.progress.agg
    def role(r: String) = agg.forQueries(id => roles.get(id) == r)
    val handler = role("handler")
    val drainWall = ctx.tracer.totalMs("drain").sum / 1e3
    Layers.service(m, handler, drainWall)
    val entity = role("entity")
    m.put("service.rows_out", handler.sinkRows + role("errors").sinkRows, "count")
    val publish = buses.asScala.toSeq
    m.put("bus.publish_ms_p50", Pct.p50OrZero(publish.flatMap(_.publishMs)), "ms")
    m.put("bus.publish_events", publish.map(_.publishedEvents.get()).sum, "count")
    m.put("bus.backlog_max", handler.backlogMax, "offsets")
    m.put("bus.sink_rows", handler.sinkRows + role("errors").sinkRows, "count")
    m.put("retry.attempts_per_event", attempts.get().toDouble / attempted.get().max(1), "ratio")
    m.put("retry.gave_up", gaveUp.get(), "count")
    m.put("retry.state_rows_max", handler.stateRowsMax, "count")
    m.put("entity.state_rows", entity.stateRowsMax, "count")
    m.put("entity.state_bytes", entity.stateBytesMax, "bytes")
    m.put("entity.update_ms_p50", Pct.p50OrZero(entity.stateUpdateMs), "ms")
    m.put("entity.commit_ms_p50", Pct.p50OrZero(entity.stateCommitMs), "ms")
    m.put("entity.created", DrainSinks.created.get(), "count")
    val b = generate(ctx.spark, ctx.seed * 1000 + 998, WarmEvents * 4)
    val spark = ctx.spark
    import spark.implicits._
    val (encUs, decUs, ok, bad) =
      Codecs.perEvent(ctx.spark, AvroPayloadCodec, b.txns, b.corrupt)
    m.put("envelope.encode_us_per_event", encUs, "us")
    m.put("envelope.decode_us_per_event", decUs, "us")
    m.put("envelope.decode_failed", bad, "count")
    m.put("envelope.decode_ok_ratio", ok.toDouble / b.txns.size, "ratio")
    Layers.spark(m, ctx.tasks.total)

    // Single-threaded baseline: the same drain on a local[1] session.
    ctx.spark.stop()
    val one = Main.session(1, ctx.runDir.resolve("local1"))
    try {
      val c1 = new Ctx(one, ctx.seed, ctx.seconds, trace = false, ctx.runDir.resolve("local1"), 1)
      drain(c1, generate(one, ctx.seed * 1000 + 997, WarmEvents), "warm-local1")
      val p1 = pass(c1, events, ctx.seed * 1000 + 2)
      ctx.attempted += c1.attempted; ctx.failed += c1.failed
      c1.errors.foreach(e => ctx.note(s"local[1]: $e"))
      for (n <- plain.eps; one1 <- p1.eps) {
        m.put("service.events_per_s_localn", n, "events/s")
        m.put("service.events_per_s_local1", one1, "events/s")
        m.put("service.scaling", n / one1, "ratio")
      }
    } finally one.stop()
  }
}
