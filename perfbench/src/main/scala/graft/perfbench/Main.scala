package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** What a workload gets: the session, its seed and run length, the
  * tracer (disabled on plain runs) and a scratch directory. */
final case class Bench(spark: SparkSession, seed: Long, seconds: Int,
    tracer: Tracer, scratch: Path)

/** What a workload reports. `setupS` is the median of its repeated
  * set-up; `e2e` the end-to-end metrics of a plain run; `layers` the
  * per-layer metrics of a traced run; `info` context for the trace file. */
final case class Result(attempted: Int, failed: Int, setupS: Double,
    e2e: Map[String, Double], layers: Map[String, Double], info: Map[String, Double])

/** JVM side of the benchmark, launched by `run.py`:
  * `Main <workload> <seed> <seconds> <trace 0|1> <scratch dir>`.
  * Prints one JSON line: the session-ready epoch time, the workload's
  * counts and its metrics; `run.py` adds process-level figures. */
object Main {
  val workloads: Map[String, Bench => Result] = Map(
    "service_mix" -> ServiceMix.run,
    "dedup_scaled" -> DedupScaled.run)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, scratchArg) = args
    // run.py holds our stdin open; end of input means it is gone, and a
    // benchmark JVM must not outlive the process that started it
    val watchdog = new Thread(() => {
      while (System.in.read() >= 0) {}
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val scratch = Paths.get(scratchArg).toAbsolutePath
    Files.createDirectories(scratch)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Tables.configure(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(traceArg == "1")
    if (tracer.enabled) spark.sparkContext.addSparkListener(new SparkSpans(tracer))
    val seed = seedArg.toLong
    val r = try run(Bench(spark, seed, secondsArg.toInt, tracer, scratch))
      finally spark.stop()
    if (tracer.enabled)
      tracer.writeJson(scratch.getParent.resolve(s"trace-$workload-$seed.json"),
        r.e2e ++ r.layers ++ r.info.map { case (k, v) => s"info.$k" -> v } +
          ("setup_workload_s" -> r.setupS))
    System.err.println(s"[perfbench] $workload seed=$seed setup_workload_s=${r.setupS} " +
      (r.e2e ++ r.info).toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.4g" }.mkString(" "))
    val metrics = if (tracer.enabled) r.layers else r.e2e
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    println(s"""{"session_ready_ms":$sessionReadyMs,"setup_workload_s":${r.setupS},""" +
      s""""attempted":${r.attempted},"failed":${r.failed},"metrics":""" +
      metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
        .mkString("{", ",", "}") + "}")
  }
}
