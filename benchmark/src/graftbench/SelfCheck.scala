package graftbench

import org.apache.spark.sql.streaming.BenchAccess

/** Self-checks of the harness on synthetic inputs; no SparkSession.
  * Run with `python3 benchmark/run.py --self-check`; exits 1 on failure.
  */
object SelfCheck {
  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // percentile helper: a tail quantile needs ten samples beyond its rank
    val xs100 = (1 to 100).map(_.toDouble)
    check("p90 of 100 samples is the 90th and reports n=100") {
      Pct.tail(xs100, 0.90) == Right((90.0, 100))
    }
    check("p90 of 99 samples is refused") { Pct.tail(xs100.init, 0.90).isLeft }
    val xs200 = (1 to 200).map(_.toDouble)
    check("p95 of 200 samples is the 190th and reports n=200") {
      Pct.tail(xs200, 0.95) == Right((190.0, 200))
    }
    check("p95 of 199 samples is refused") { Pct.tail(xs200.init, 0.95).isLeft }
    check("p95 refusal names the sample count") {
      Pct.tail(xs200.take(50), 0.95).left.exists(_.contains("got 50"))
    }
    check("median of an even count averages the middle pair") {
      Pct.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }

    // listener aggregation over synthetic progress events
    val listener = new ProgressListener
    val idle = BenchAccess.progress("svc", 0, Map("triggerExecution" -> 1L, "latestOffset" -> 1L),
      0, None, ("3", "3", "3"), 0)
    val work = BenchAccess.progress("svc", 1,
      Map("triggerExecution" -> 60L, "addBatch" -> 40L, "queryPlanning" -> 10L, "walCommit" -> 5L,
        "getBatch" -> 1L, "latestOffset" -> 2L), 100, Some((50L, 1000L, 3L, 7L)), ("3", "5", "9"), 100)
    // a retry timeout firing with no new input: state work, zero rows
    val timeout = BenchAccess.progress("svc", 2,
      Map("triggerExecution" -> 30L, "addBatch" -> 20L, "queryPlanning" -> 6L, "walCommit" -> 4L),
      0, Some((20L, 800L, 1L, 2L)), ("5", "5", "5"), 3)
    val other = BenchAccess.progress("replies", 0, Map("triggerExecution" -> 500L, "addBatch" -> 400L),
      7, None, ("0", "1", "1"), 7)
    Seq(idle, work, timeout, other).foreach(p => listener.onQueryProgress(p))
    val a = listener.agg.forQueries(_ == "svc")
    check("idle polling triggers are not counted") { a.triggers == 2 }
    check("phase medians come from durationMs") {
      Pct.median(a.phase("addBatch")) == 30.0 && Pct.median(a.phase("walCommit")) == 4.5
    }
    check("busy time sums every trigger") { a.busyMs == 91.0 }
    check("rows in/out sum over triggers") { a.rowsIn == 100 && a.sinkRows == 103 }
    check("state operator fields: max rows and bytes") { a.stateRowsMax == 50 && a.stateBytesMax == 1000 }
    check("state commit/update medians over stateful triggers") {
      Pct.median(a.stateCommitMs) == 2.0 && Pct.median(a.stateUpdateMs) == 4.5
    }
    check("backlog is latestOffset - endOffset") { a.backlogMax == 4 }
    check("queries are separated by name") { listener.agg.forQueries(_ == "replies").rowsIn == 7 }

    // drain completion: the sink count decides, while the retry query
    // keeps firing triggers forever
    val count = new java.util.concurrent.atomic.AtomicLong()
    val firing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val triggers = new Thread(() => {
      var b = 3L
      while (firing.get()) {
        listener.onQueryProgress(timeout); b += 1; Thread.sleep(5)
      }
    })
    val sink = new Thread(() => (1 to 100).foreach { _ => count.incrementAndGet(); Thread.sleep(1) })
    triggers.start(); sink.start()
    val t0 = System.nanoTime()
    val done = DrainWatch.await(() => count.get() >= 100, t0 + 10L * 1000 * 1000 * 1000)
    check("drain completes on the sink count while triggers keep firing") {
      done.isDefined && firing.get() && (done.get - t0) < 5L * 1000 * 1000 * 1000
    }
    check("drain reports a timeout when the count never arrives") {
      DrainWatch.await(() => count.get() >= 101, System.nanoTime() + 50L * 1000 * 1000).isEmpty
    }
    firing.set(false); triggers.join(); sink.join()

    // spans: self time is the parent's time outside its children's union
    val tr = new Tracer
    tr.enabled = true
    val p = tr.Span("round", "r1", "", 0L, 100000000L)
    val kids = Seq(tr.Span("call", "r1", "round", 10000000L, 30000000L),
      tr.Span("call", "r1", "round", 20000000L, 50000000L),
      tr.Span("wait", "r1", "round", 80000000L, 90000000L),
      tr.Span("call", "r2", "round", 0L, 100000000L))
    (p +: kids).foreach(tr.add)
    check("self time subtracts the union of direct children of the same id") {
      tr.selfMs("round") == Seq(50.0)
    }

    println(if (failures == 0) "self-check passed" else s"self-check: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
