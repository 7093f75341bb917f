package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Order statistics for latency samples. */
object Pct {
  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `q`-quantile that still has at least `minBeyond`
    * samples strictly above its rank. Returns the value and the sample
    * count, or a Left naming how many samples the quantile needs.
    */
  def tail(xs: Seq[Double], q: Double, minBeyond: Int = 10): Either[String, (Double, Int)] = {
    val n = xs.size
    val rank = math.ceil(q * n).toInt.max(1)
    if (n - rank < minBeyond) {
      val need = math.ceil(minBeyond / (1 - q)).toInt
      Left(f"p${q * 100}%.0f needs >= $need samples for $minBeyond beyond it, got $n")
    } else Right((xs.sorted.apply(rank - 1), n))
  }

  def p50OrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Nearest-rank quantile without the tail rule — for per-layer
    * counters whose sample size is whatever the run produced.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply((math.ceil(q * xs.size).toInt - 1).max(0))
}

/** CPU time of this process, every thread included. On a shared host it
  * leaves out the time the hypervisor gave the process's CPUs to others,
  * which wall time counts.
  */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU time of the calling thread, in ns. */
  def threadNs: Long = threads.getCurrentThreadCpuTime
}

/** Benchmark-side spans. When disabled, `span` only runs its body. */
final class Tracer {
  @volatile var enabled = false
  final case class Span(name: String, id: String, parent: String, start: Long, end: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[A](name: String, id: String, parent: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally spans.add(Span(name, id, parent, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def add(s: Span): Unit = spans.add(s)

  /** Wall time of each span minus the union of its direct children's
    * intervals, in ms, keyed by span name.
    */
  def selfMs: Map[String, Seq[Double]] = {
    val spansNow = all
    val kidsOf = spansNow.filter(_.parent.nonEmpty).groupBy(k => (k.parent, k.id))
    spansNow.map { s =>
      val kids = kidsOf.getOrElse((s.name, s.id), Nil)
        .map(k => (k.start max s.start, k.end min s.end)).filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0L; var curS = 0L; var curE = 0L
      kids.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = curE max b
      }
      covered += curE - curS
      s.name -> (s.end - s.start - covered) / 1e6
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  def totalMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.end - s.start) / 1e6)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"name":"${s.name}","id":"${s.id}","parent":"${s.parent}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** One micro-batch's progress, reduced to the fields the benchmark reads. */
final case class Progress(
    query: String,
    batchId: Long,
    durationMs: Map[String, Long],
    inputRows: Long,
    stateRowsTotal: Long,
    stateBytes: Long,
    stateCommitMs: Long,
    stateUpdateMs: Long,
    backlog: Long,
    sinkRows: Long)

object Progress {
  private def offset(s: String): Option[Long] =
    Option(s).map(_.trim).filter(_.nonEmpty).filter(_.forall(c => c.isDigit || c == '-'))
      .map(_.toLong)

  def of(p: StreamingQueryProgress): Progress = {
    val ops = p.stateOperators.toSeq
    val backlog = p.sources.toSeq.flatMap { s =>
      for (l <- offset(s.latestOffset); e <- offset(s.endOffset)) yield (l - e).max(0L)
    }.sum
    Progress(
      query = Option(p.name).getOrElse(p.id.toString),
      batchId = p.batchId,
      durationMs = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      inputRows = p.numInputRows,
      stateRowsTotal = ops.map(_.numRowsTotal).sum,
      stateBytes = ops.map(_.memoryUsedBytes).sum,
      stateCommitMs = ops.map(_.commitTimeMs).sum,
      stateUpdateMs = ops.map(_.allUpdatesTimeMs).sum,
      backlog = backlog,
      sinkRows = Option(p.sink).map(_.numOutputRows).filter(_ >= 0).getOrElse(0L))
  }
}

/** Aggregates of the progress events of one set of queries. */
final case class StreamAgg(ps: Seq[Progress]) {
  /** Triggers that did work: read rows or ran a state operator. Empty
    * polling triggers would otherwise dominate every median.
    */
  val active: Seq[Progress] = ps.filter(p => p.inputRows > 0 || p.stateUpdateMs > 0 ||
    p.durationMs.getOrElse("addBatch", 0L) > 0)
  def phase(name: String): Seq[Double] = active.flatMap(_.durationMs.get(name)).map(_.toDouble)
  def triggers: Int = active.size
  def triggerMs: Seq[Double] = phase("triggerExecution")
  def rowsIn: Long = ps.map(_.inputRows).sum
  def rowsPerTrigger: Seq[Double] = active.map(_.inputRows.toDouble)
  def busyMs: Double = ps.flatMap(_.durationMs.get("triggerExecution")).sum.toDouble
  def stateRowsMax: Long = if (ps.isEmpty) 0L else ps.map(_.stateRowsTotal).max
  def stateBytesMax: Long = if (ps.isEmpty) 0L else ps.map(_.stateBytes).max
  def stateCommitMs: Seq[Double] = active.filter(_.stateUpdateMs > 0).map(_.stateCommitMs.toDouble)
  def stateUpdateMs: Seq[Double] = active.filter(_.stateUpdateMs > 0).map(_.stateUpdateMs.toDouble)
  def sinkRows: Long = ps.map(_.sinkRows).sum
  def backlogMax: Long = if (ps.isEmpty) 0L else ps.map(_.backlog).max
  def forQueries(pred: String => Boolean): StreamAgg = StreamAgg(ps.filter(p => pred(p.query)))
  def queries: Int = ps.map(_.query).distinct.size
}

/** Per-layer metrics shared by the workloads. */
object Layers {
  def service(m: Metrics, a: StreamAgg, wallS: Double): Unit = {
    m.put("service.triggers", a.triggers, "count")
    m.put("service.trigger_ms_p50", Pct.p50OrZero(a.triggerMs), "ms")
    m.put("service.trigger_ms_p95", Pct.quantile(a.triggerMs, 0.95), "ms")
    m.put("service.planning_ms_p50", Pct.p50OrZero(a.phase("queryPlanning")), "ms")
    m.put("service.get_batch_ms_p50", Pct.p50OrZero(a.phase("getBatch")), "ms")
    m.put("service.latest_offset_ms_p50", Pct.p50OrZero(a.phase("latestOffset")), "ms")
    m.put("service.wal_commit_ms_p50", Pct.p50OrZero(a.phase("walCommit")), "ms")
    m.put("service.add_batch_ms_p50", Pct.p50OrZero(a.phase("addBatch")), "ms")
    m.put("service.rows_per_trigger_p50", Pct.p50OrZero(a.rowsPerTrigger), "count")
    // trigger time over wall time, averaged over the service's queries
    m.put("service.busy_share", a.busyMs / (wallS * 1000 * a.queries.max(1)), "ratio")
    m.put("service.rows_in", a.rowsIn, "count")
    m.put("service.rows_out", a.sinkRows, "count")
  }

  def spark(m: Metrics, t: TaskListener#Tally): Unit = {
    m.put("spark.gc_ms", t.gcMs, "ms")
    m.put("spark.tasks", t.tasks, "count")
    m.put("spark.shuffle_bytes", t.shuffleBytes, "bytes")
    m.put("spark.spill_bytes", t.spillBytes, "bytes")
  }
}

/** Collects streaming progress; registered only in traced runs. */
final class ProgressListener extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    q.add(Progress.of(e.progress))
  def agg: StreamAgg = StreamAgg(q.asScala.toSeq)
}

/** Task-level totals per job group; registered only in traced runs. */
final class TaskListener extends SparkListener {
  final class Tally {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var cpuNs = 0L
  }
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tallies = new java.util.concurrent.ConcurrentHashMap[String, Tally]()
  private def tally(g: String): Tally = tallies.computeIfAbsent(g, _ => new Tally)
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    tally(g).synchronized { tally(g).jobs += 1 }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    tally(g).synchronized { tally(g).stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "")
    val m = e.taskMetrics
    val t = tally(g)
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  def groups: Map[String, Tally] = tallies.asScala.toMap
  def total: Tally = {
    val t = new Tally
    tallies.values.asScala.foreach { x =>
      t.jobs += x.jobs; t.stages += x.stages; t.tasks += x.tasks; t.runMs += x.runMs
      t.gcMs += x.gcMs; t.shuffleBytes += x.shuffleBytes; t.spillBytes += x.spillBytes
      t.cpuNs += x.cpuNs
    }
    t
  }
}

/** Polls a sink-side count until it reaches the expected total. Retry
  * timeouts keep a stateful query scheduling triggers, so
  * `processAllAvailable` can block indefinitely; polling the outputs
  * cannot.
  */
object DrainWatch {
  /** Returns the nanoTime at which `done()` first held, or None on timeout. */
  def await(done: () => Boolean, deadlineNs: Long, pollMs: Long = 2): Option[Long] = {
    while (System.nanoTime() < deadlineNs) {
      if (done()) return Some(System.nanoTime())
      Thread.sleep(pollMs)
    }
    if (done()) Some(System.nanoTime()) else None
  }
}

/** Metric sink: name -> (value, unit), printed as one JSON object. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m.put(name, (value, unit))
  def toMap: Map[String, (Double, String)] = m.toMap
  def json: String = m.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    s""""$k":{"value":$num,"unit":"$u"}"""
  }.mkString("{", ",", "}")
}

/** Per-workload run context. */
final class Ctx(initial: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val runDir: java.nio.file.Path, val cores: Int) {
  private var session = initial
  def spark: SparkSession = session

  /** Stops the session and starts a new one on fresh directories under
    * `dir`, `java.io.tmpdir` included.
    */
  def restart(dir: java.nio.file.Path): Unit = {
    session.stop()
    val tmp = dir.resolve("tmp")
    java.nio.file.Files.createDirectories(tmp)
    System.setProperty("java.io.tmpdir", tmp.toString)
    session = Main.session(cores, dir)
  }

  val tracer = new Tracer
  val progress = new ProgressListener
  val tasks = new TaskListener

  /** Turns on spans and listeners; the untraced pass runs before this. */
  def enableTracing(): Unit = {
    spark.streams.addListener(progress)
    spark.sparkContext.addSparkListener(tasks)
    tracer.enabled = true
  }
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def note(msg: String): Unit = errors.synchronized { if (errors.size < 20) errors += msg }
  def fail(msg: String): Unit = { failed += 1; note(msg) }

  /** Waits until every queued listener event has been delivered. */
  def drainListeners(): Unit = org.apache.spark.sql.streaming.BenchAccess.waitForListeners(spark.sparkContext)
}
