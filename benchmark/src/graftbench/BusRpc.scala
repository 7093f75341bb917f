package graftbench

import graft.bus.MemoryBus
import graft.entity.EntityStore
import graft.envelope.{EnvelopeCodec, EventMeta}
import graft.rpc.Client
import graft.service.ServiceFlow
import org.apache.spark.sql.{Dataset, ForeachWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

final case class Quote(account: String, amount: Long)
final case class BalanceQuery(account: String)
final case class Balance(account: String, balance: Long, seq: Long)

object RpcHandlers {
  /** The compute handler: a pure function of the request. */
  def quote(q: Quote, m: EventMeta): Balance = Balance(q.account, q.amount * 7 + q.account.length, -1L)
  def accountOf(q: BalanceQuery): String = q.account
}

/** Replies seen by the callers' reply queries, keyed by `responseTo`. */
object RpcReplies {
  final case class Seen(reply: Balance, count: Int, caller: Int)
  val seen = new ConcurrentHashMap[String, Seen]()
}

final class ReplyWriter extends ForeachWriter[Row] {
  def open(partitionId: Long, epochId: Long): Boolean = true
  def process(r: Row): Unit = {
    val b = Balance(r.getString(2), r.getLong(3), r.getLong(4))
    RpcReplies.seen.merge(r.getString(1), RpcReplies.Seen(b, 1, r.getInt(0)),
      (a, n) => a.copy(count = a.count + n.count))
  }
  def close(e: Throwable): Unit = ()
}

/** Closed-loop RPC: `Callers` threads, each with its own client and reply
  * topic, send a round of requests and wait for every reply before the
  * next round. One service answers with two handlers: a compute handler
  * and an entity-state lookup.
  */
object BusRpc {
  val Callers = 4
  val QuotesPerCall = 3
  val LookupsPerCall = 1
  val TimeoutNs = 4000L * 1000 * 1000 // the reference's RPC timeout
  val MinCalls = 100 // ten calls beyond the p90
  val Accounts = 500

  final case class Ledger(account: String, balance: Long, seq: Long)
  final case class Sent(id: String, expected: Balance, caller: Int, call: String)
  /** One Client.call of a round: its id, the call itself, expected replies. */
  final case class Call(id: String, send: () => Seq[String], expected: Seq[Balance])

  /** One closed-loop pass: round-trip samples and the requests to check. */
  final class Pass {
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
    val rtts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val timedOut = ConcurrentHashMap.newKeySet[String]()
    val calls = new java.util.concurrent.atomic.AtomicLong()
    var wallS = 0.0
    def samples: Seq[Double] = rtts.asScala.toSeq.map(_.doubleValue)
  }

  def run(ctx: Ctx, m: Metrics): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val setupT0 = System.nanoTime()
    val rng = new scala.util.Random(ctx.seed)
    val accounts = (0 until Accounts).map(i => f"acct-$i%05d")
    val ledger = accounts.flatMap { a =>
      (1 to 1 + rng.nextInt(5)).map(s => Ledger(a, rng.nextInt(1000000).toLong, s.toLong))
    }
    val latest = EntityStore.latestState(ledger.toDF(), "account", col("seq"), col("account"),
      (col("balance"), "balance"), (col("seq"), "seq"))
    val state: Dataset[(String, Balance)] = latest
      .select(col("account").as("_1"), struct(col("account"), col("balance"), col("seq")).as("_2"))
      .as[(String, Balance)]
    val expectedState: Map[String, Balance] = state.collect().toMap

    val bus = new TimedBus(new MemoryBus(spark))
    val flow = new ServiceFlow("rpc-service", bus)
      .registerStream[Quote, Balance](RpcHandlers.quote _)
      .registerDataBaseStream[BalanceQuery, Balance](state, RpcHandlers.accountOf _)
    val serviceQs = flow.startPublishing()
    val clients = (0 until Callers).map(i => new Client(s"rpc-caller-$i", bus))
    val replyQ = clients.zipWithIndex.map { case (c, i) =>
      c.replies[Balance].toDF()
        .select(lit(i).as("caller"), col("_2.responseTo"), col("_1.account"), col("_1.balance"), col("_1.seq"))
    }.reduce(_ union _)
      .writeStream.queryName("rpc-replies").outputMode("append")
      .foreach(new ReplyWriter).start()
    val queries: Seq[StreamingQuery] = serviceQs :+ replyQ
    val everSent = ConcurrentHashMap.newKeySet[String]()

    def loop(p: Pass, caller: Int, untilNs: Long, maxNs: Long, salt: Long, minCalls: Int): Unit = {
      val r = new scala.util.Random(ctx.seed * 1000003L + caller * 7919L + salt)
      val client = clients(caller)
      var k = 0
      while ((System.nanoTime() < untilNs || p.calls.get() < minCalls) && System.nanoTime() < maxNs &&
             queries.forall(_.isActive)) {
        val id = s"$salt-$caller-$k"
        def quoteCall(tag: String): Call = {
          val qs = Seq.fill(QuotesPerCall)(Quote(accounts(r.nextInt(Accounts)), r.nextInt(10000).toLong))
          Call(s"$id/$tag", () => client.call(qs), qs.map(q => RpcHandlers.quote(q, null)))
        }
        def lookupCall(tag: String): Call = {
          val ls = Seq.fill(LookupsPerCall)(BalanceQuery(accounts(r.nextInt(Accounts))))
          Call(s"$id/$tag", () => client.call(ls), ls.map(l => expectedState(l.account)))
        }
        val round = Seq(quoteCall("q"), lookupCall("l"))
        ctx.tracer.span("rpc.round", id) {
          // one sample per Client.call: from just before the call to the
          // moment its last reply is matched on responseTo
          var pending = round.map { c =>
            val t0 = System.nanoTime()
            val ids = ctx.tracer.span("rpc.call", id, "rpc.round")(c.send())
            ids.foreach(everSent.add)
            ids.zip(c.expected).foreach { case (i, e) => p.sent.add(Sent(i, e, caller, c.id)) }
            (c.id, ids, t0)
          }
          ctx.tracer.span("rpc.reply_wait", id, "rpc.round") {
            while (pending.nonEmpty) {
              val now = System.nanoTime()
              val (doneNow, rest) = pending.partition(_._2.forall(RpcReplies.seen.containsKey))
              doneNow.foreach { case (_, _, t0) => p.rtts.add((now - t0) / 1e6) }
              val (late, waiting) = rest.partition(c => now - c._3 > TimeoutNs)
              late.foreach(c => p.timedOut.add(c._1))
              p.calls.addAndGet(doneNow.size + late.size)
              pending = waiting
              if (pending.nonEmpty) Thread.sleep(1)
            }
          }
        }
        k += 1
      }
    }

    /** Runs the callers for `seconds` (longer if fewer than MinCalls
      * calls completed, up to four times as long).
      */
    def closedLoop(seconds: Double, salt: Long, minCalls: Int = MinCalls): Pass = {
      val p = new Pass
      val t0 = System.nanoTime()
      val until = t0 + (seconds * 1e9).toLong
      val maxNs = t0 + (seconds * 4e9).toLong
      val threads = (0 until Callers).map { c =>
        val t = new Thread(() => loop(p, c, until, maxNs, salt, minCalls), s"rpc-caller-$c")
        t.start(); t
      }
      threads.foreach(_.join())
      p.wallS = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[rpc] pass $salt: ${p.calls.get()} calls in ${p.wallS}%.1f s")
      p
    }

    /** Correctness gate, outside the timed loop: exactly one reply per
      * request, matched on responseTo, from the caller's own topic, with
      * the expected payload. Every timed-out or wrong round is a failure.
      */
    def gate(p: Pass): Unit = {
      Thread.sleep(200) // let straggling duplicates arrive before counting
      ctx.attempted += p.calls.get()
      ctx.failed += p.timedOut.size
      if (!p.timedOut.isEmpty) ctx.note(s"${p.timedOut.size} calls over the 4 s timeout")
      val wrongCalls = new java.util.HashSet[String]()
      def wrong(s: Sent, msg: String): Unit = if (wrongCalls.add(s.call)) ctx.fail(msg)
      p.sent.forEach { s =>
        if (!p.timedOut.contains(s.call)) Option(RpcReplies.seen.get(s.id)) match {
          case None => wrong(s, s"no reply to ${s.id}")
          case Some(r) if r.count != 1 => wrong(s, s"${r.count} replies to ${s.id}")
          case Some(r) if r.caller != s.caller => wrong(s, s"reply to ${s.id} reached caller ${r.caller}")
          case Some(r) if r.reply != s.expected => wrong(s, s"reply ${r.reply} != expected ${s.expected}")
          case _ =>
        }
      }
      queries.filterNot(_.isActive).foreach(q =>
        ctx.fail(s"query ${q.name} died: ${q.exception.map(_.getMessage.take(200))}"))
      val stray = RpcReplies.seen.keySet().asScala.count(k => !everSent.contains(k))
      if (stray > 0) ctx.fail(s"$stray replies answer no request")
    }

    def rttMetrics(p: Pass, out: Metrics): Unit = {
      val xs = p.samples
      if (xs.nonEmpty) out.put("rtt_p50_ms", Pct.median(xs), "ms")
      Pct.tail(xs, 0.90) match {
        case Right((v, n)) => out.put("rtt_p90_ms", v, "ms"); out.put("rpc.rtt_samples", n, "count")
        case Left(msg) => ctx.fail(msg)
      }
    }

    try {
      // Warm: the same closed loop, unchecked, so codegen and every
      // query's first triggers land before the timed pass.
      closedLoop(6.0, salt = 0, minCalls = 0)
      m.put("setup_s", m.toMap("jvm_spark_start_s")._1 + (System.nanoTime() - setupT0) / 1e9, "s")
      val plain = closedLoop(ctx.seconds, salt = 1)
      gate(plain)
      rttMetrics(plain, m)
      if (ctx.trace) {
        ctx.enableTracing()
        val traced = closedLoop(ctx.seconds, salt = 2)
        gate(traced)
        val t = new Metrics
        rttMetrics(traced, t)
        ctx.drainListeners()
        for (k <- Seq("rtt_p50_ms", "rtt_p90_ms"); a <- m.toMap.get(k); b <- t.toMap.get(k))
          m.put(s"trace.overhead.$k", b._1 - a._1, "ms")
        m.put("rpc.rtt_samples", t.toMap.get("rpc.rtt_samples").map(_._1).getOrElse(0.0), "count")
        val svc = ctx.progress.agg.forQueries(serviceQs.map(_.id.toString).toSet)
        Layers.service(m, svc, traced.wallS)
        m.put("bus.publish_ms_p50", Pct.p50OrZero(bus.publishMs), "ms")
        m.put("bus.publish_events", bus.publishedEvents.get(), "count")
        m.put("bus.backlog_max", svc.backlogMax, "offsets")
        m.put("bus.sink_rows", svc.sinkRows, "count")
        m.put("rpc.call_ms_p50", Pct.p50OrZero(ctx.tracer.totalMs("rpc.call")), "ms")
        m.put("rpc.reply_wait_ms_p50", Pct.p50OrZero(ctx.tracer.totalMs("rpc.reply_wait")), "ms")
        m.put("rpc.round_self_ms_p50", Pct.p50OrZero(ctx.tracer.selfMs.getOrElse("rpc.round", Nil)), "ms")
        m.put("rpc.timeouts", traced.timedOut.size, "count")
        m.put("entity.lookup_rows", traced.sent.asScala.count(_.expected.seq >= 0), "count")
        val quotes = (0 until 20000).map(i => Quote(accounts(i % Accounts), i.toLong))
        val (encUs, decUs, ok, bad) = Codecs.perEvent(spark, EnvelopeCodec, quotes, _ => false)
        m.put("envelope.encode_us_per_event", encUs, "us")
        m.put("envelope.decode_us_per_event", decUs, "us")
        m.put("envelope.decode_failed", bad, "count")
        m.put("envelope.decode_ok_ratio", ok.toDouble / quotes.size, "ratio")
        Layers.spark(m, ctx.tasks.total)
      }
    } finally queries.foreach(_.stop())
  }
}
