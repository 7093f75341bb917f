package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Runs one workload in this JVM and writes its result object to `--out`.
  * `run.py` is the entry point: it builds, prepares inputs, launches this
  * class and prints the final line.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --run-dir D --out F
  *       --t0-ms T [--data D --launch-cpu-s C]
  */
object Main {
  def session(cores: Int, runDir: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", runDir.resolve("ckpt").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = a.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis())
    // time spent before this JVM's workload code: process launch and input
    // generation, then JVM and SparkSession start; each workload adds its
    // own set-up to it
    // inputs generated before this JVM started report their CPU time here
    val jvmCpu0 = Cpu.seconds
    val launch = Board.Cost((System.currentTimeMillis() - t0) / 1e3,
      a.get("launch-cpu-s").map(_.toDouble).getOrElse(0.0) + jvmCpu0)
    val spark = session(cores, runDir)
    val sessionCpuS = Cpu.seconds - jvmCpu0
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble, a("trace") == "1", runDir, cores)
    val m = new Metrics
    val startS = (System.currentTimeMillis() - t0) / 1e3
    m.put("jvm_spark_start_s", startS, "s")
    var crashed: Option[Throwable] = None
    try workload match {
      case "bus_rpc" => BusRpc.run(ctx, m)
      case "bus_drain" => BusDrain.run(ctx, m)
      case w if Board.Classes.contains(w) =>
        Board.run(ctx, m, Paths.get(a("data")), Board.Classes(w), launch,
          Board.Cost(startS - launch.wallS, sessionCpuS))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch { case e: Throwable => crashed = Some(e); e.printStackTrace() }
    System.err.println(f"[main] workload done at ${(System.currentTimeMillis() - t0) / 1e3}%.1f s")
    if (ctx.trace) ctx.tracer.writeJsonl(runDir.resolve("spans.jsonl"))
    val errs = (ctx.errors.toSeq ++ crashed.map(e => s"crashed: $e"))
      .map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ").take(300) + "\"")
    val out =
      s"""{"crashed":${crashed.isDefined},"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""errors":${errs.mkString("[", ",", "]")},"metrics":${m.json}}"""
    Files.write(Paths.get(a("out")), out.getBytes("UTF-8"))
    ctx.spark.stop()
    System.err.println(f"[main] session stopped at ${(System.currentTimeMillis() - t0) / 1e3}%.1f s")
  }
}
