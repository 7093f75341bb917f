package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** A fixed slice of the operator board, timed row by row with the
  * `graft.Bench` discipline: full materialization, interleaved reps,
  * per-row medians. Each workload times one class of rows.
  */
object Board {
  /** Where the board's data work is: the dictionary-grain containment
    * rows, the heaviest steady-state rows of the full board (a ROADMAP
    * carried item).
    */
  val Heavy: Seq[String] = Seq("dedup_containment_cjkdict", "dedup_containment_thaidict")

  /** Rows dominated by fixed per-query overhead: the four rows known to
    * swing between runs and two of the bus surface's batch twins.
    */
  val Swing: Seq[String] = Seq("mm_decode_meta", "mm_phash", "mm_features", "dedup_simhash_keeper")
  val Twins: Seq[String] = Seq("rpc_correlation", "entity_latest_state")
  val Light: Seq[String] = Swing ++ Twins
  val Classes: Map[String, Seq[String]] = Map("board_heavy" -> Heavy, "board_light" -> Light)
  val MinReps = 3
  /** Set-ups per run; `setup_s` reports their median. */
  val Setups = 3
  /** Untimed reps after the set-ups: rep times kept falling through the
    * first seconds of reps without them.
    */
  val WarmupSeconds = 5.0

  /** One row execution: wall time of its three phases, and its CPU time:
    * the calling thread's and that of the row's tasks.
    */
  final case class Sample(constructMs: Double, planMs: Double, executeMs: Double, cpuMs: Double) {
    def totalMs: Double = constructMs + planMs + executeMs
  }

  /** Releases what a row leased or persisted, as `graft.Bench` does, so
    * the next row starts from clean storage.
    */
  private def release(spark: SparkSession): Unit = {
    graft.ops.Caches.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def timeRow(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
                      dir: String): Sample = {
    val c0 = Cpu.threadNs
    val t0 = System.nanoTime()
    val df = fn(spark, dir)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    try df.queryExecution.toRdd.count() finally release(spark)
    val t3 = System.nanoTime()
    Sample((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, (Cpu.threadNs - c0) / 1e6)
  }

  private def indexDirs(): Set[String] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft_")).toSet
  }

  final case class Pass(samples: Map[String, Seq[Sample]], reps: Int)

  /** Interleaved reps in a seed-shuffled order until `seconds` have
    * passed (at least `minReps` reps). A rep that throws is counted as a
    * failure and contributes no sample. `cpu` must listen on the session:
    * it adds each row's task CPU time to its sample.
    */
  def pass(ctx: Ctx, rows: Seq[String], dir: String, seconds: Double, salt: Long,
           cpu: TaskListener, minReps: Int = MinReps): Pass = {
    val spark = ctx.spark
    val queries = SparkEntry.queries
    val raw = mutable.ArrayBuffer.empty[(String, String, Sample)]
    val t0 = System.nanoTime()
    var rep = 0
    while (rep < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val order = new scala.util.Random(ctx.seed * 7919 + salt * 104729 + rep).shuffle(rows)
      for (row <- order) {
        // collect the previous row's garbage before the clock starts, as
        // graft.Bench does
        System.gc()
        ctx.attempted += 1
        val group = s"$row#$rep@$salt"
        spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
        try {
          val s = ctx.tracer.span("board.row", group)(timeRow(spark, queries(row), dir))
          raw += ((row, group, s))
        } catch { case e: Throwable => ctx.fail(s"$row rep $rep threw: $e") }
        finally spark.sparkContext.clearJobGroup()
      }
      rep += 1
      System.err.println(f"[board] rep $rep ends at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    ctx.drainListeners()
    val tasks = cpu.groups
    val samples = raw.toSeq.groupMap(_._1) { case (_, g, s) =>
      s.copy(cpuMs = s.cpuMs + tasks.get(g).map(_.cpuNs / 1e6).getOrElse(0.0))
    }
    Pass(samples, rep)
  }

  /** Sum over `rows` of each row's median `f` (wall time unless given),
    * in seconds; None if any row has no sample (a row that threw must not
    * lower the sum).
    */
  def boardSeconds(p: Pass, rows: Seq[String], f: Sample => Double = _.totalMs): Option[Double] =
    if (rows.exists(r => p.samples.get(r).forall(_.isEmpty))) None
    else Some(rows.map(r => Pct.median(p.samples(r).map(f))).sum / 1e3)

  /** One set-up: every row once, untimed. It compiles every shape and does
    * the first-touch builds under the session's fresh `java.io.tmpdir`.
    */
  private def warm(ctx: Ctx, rows: Seq[String], dir: String): Unit =
    for (row <- rows) {
      ctx.attempted += 1
      val w0 = System.nanoTime()
      try {
        timeRow(ctx.spark, SparkEntry.queries(row), dir)
        System.err.println(f"[board] warm $row%-28s ${(System.nanoTime() - w0) / 1e6}%8.0f ms")
      } catch { case e: Throwable => ctx.fail(s"$row warm pass threw: $e") }
    }

  /** Writes each row's result for the oracle comparison (run.py hashes it
    * after this JVM exits), with the oracle SQL beside it.
    */
  private def writeResults(ctx: Ctx, rows: Seq[String], dir: String): Unit = {
    val results = ctx.runDir.resolve("results")
    val oracle = mutable.LinkedHashMap.empty[String, String]
    for (row <- rows) {
      ctx.attempted += 1
      try {
        SparkEntry.queries(row)(ctx.spark, dir).write.mode("overwrite")
          .parquet(results.resolve(row).toString)
        SparkEntry.oracleSql.get(row) match {
          case Some(sql) => oracle.put(row, sql)
          case None => ctx.fail(s"$row has no oracle SQL to check it against")
        }
      } catch { case e: Throwable => ctx.fail(s"$row result pass threw: $e") }
      finally release(ctx.spark)
    }
    Files.write(ctx.runDir.resolve("oracle_sql.json"), oracle.map { case (k, v) =>
      "\"" + k + "\":" + Json.str(v)
    }.mkString("{", ",", "}").getBytes("UTF-8"))
  }

  /** Wall and CPU seconds of a stretch of set-up. */
  final case class Cost(wallS: Double, cpuS: Double) {
    def +(o: Cost): Cost = Cost(wallS + o.wallS, cpuS + o.cpuS)
  }

  /** `launch` is the cost from process launch to `main`, `session` the
    * first session's start.
    */
  def run(ctx: Ctx, m: Metrics, data: Path, rows: Seq[String], launch: Cost,
          session: Cost): Unit = {
    val dir = data.toString
    val missing = rows.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"board rows missing from the registry: ${missing.mkString(",")}")

    // Each set-up after the first starts a new session on fresh directories
    // in the same JVM, so a cold JVM weighs on one set-up of three.
    var builtInSetup = 0
    val setups = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val c0 = Cpu.seconds
      if (i > 1) ctx.restart(ctx.runDir.resolve(s"setup-$i"))
      val before = indexDirs()
      warm(ctx, rows, dir)
      builtInSetup = (indexDirs() -- before).size
      val s = Cost((System.nanoTime() - t0) / 1e9, Cpu.seconds - c0) + (if (i == 1) session else Cost(0, 0))
      System.err.println(f"[board] set-up $i: ${s.wallS}%.2f s wall, ${s.cpuS}%.2f s CPU")
      s
    }
    m.put("setup_s", launch.cpuS + Pct.median(setups.map(_.cpuS)), "s")
    m.put("board.setup_wall_s", launch.wallS + Pct.median(setups.map(_.wallS)), "s")

    val afterSetup = indexDirs()
    val cpu = new TaskListener
    ctx.spark.sparkContext.addSparkListener(cpu)
    pass(ctx, rows, dir, WarmupSeconds, salt = 0, cpu, minReps = 1)
    val plain = pass(ctx, rows, dir, ctx.seconds, salt = 1, cpu)
    for ((r, ss) <- plain.samples)
      System.err.println(f"[board] $r%-34s median ${Pct.median(ss.map(_.totalMs))}%9.1f ms over ${ss.size} reps")
    boardSeconds(plain, rows, _.cpuMs).foreach(m.put("board_cpu_s", _, "s"))
    boardSeconds(plain, rows).foreach(m.put("board.wall_s", _, "s"))
    m.put("board.reps", plain.reps, "count")
    if (ctx.trace) {
      ctx.enableTracing()
      val traced = pass(ctx, rows, dir, ctx.seconds, salt = 2, cpu)
      ctx.drainListeners()
      for (a <- boardSeconds(plain, rows, _.cpuMs); b <- boardSeconds(traced, rows, _.cpuMs))
        m.put("trace.overhead.board_cpu_s", b - a, "s")
      for (a <- boardSeconds(plain, rows); b <- boardSeconds(traced, rows))
        m.put("trace.overhead.wall_s", b - a, "s")
      m.put("board.setup_cold_s", launch.wallS + setups.head.wallS, "s")
      m.put("board.index_built_setup", builtInSetup, "count")
      m.put("board.index_built_timed", (indexDirs() -- afterSetup).size, "count")
      def med(f: Sample => Double): Double =
        rows.flatMap(r => traced.samples.get(r)).map(ss => Pct.median(ss.map(f))).sum
      m.put("board.construct_ms", med(_.constructMs), "ms")
      m.put("board.plan_ms", med(_.planMs), "ms")
      m.put("board.execute_ms", med(_.executeMs), "ms")
      // task tallies per rep, summed over the rows
      val ts = ctx.tasks.groups.filter { case (g, _) => rows.contains(g.takeWhile(_ != '#')) }.values
      val reps = traced.reps.max(1).toDouble
      m.put("board.jobs", ts.map(_.jobs).sum / reps, "count")
      m.put("board.stages", ts.map(_.stages).sum / reps, "count")
      m.put("board.tasks", ts.map(_.tasks).sum / reps, "count")
      m.put("board.shuffle_bytes", ts.map(_.shuffleBytes).sum / reps, "bytes")
      m.put("board.gc_ms", ts.map(_.gcMs).sum / reps, "ms")
      val wallMs = rows.flatMap(r => traced.samples.get(r)).flatten.map(_.totalMs).sum
      m.put("board.busy_share", ts.map(_.runMs).sum / (wallMs * ctx.cores).max(1.0), "ratio")
      Layers.spark(m, ctx.tasks.total)
    }
    // the correctness gate's output, outside every timed region
    writeResults(ctx, rows, dir)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
