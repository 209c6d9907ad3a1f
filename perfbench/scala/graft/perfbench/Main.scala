package graft.perfbench

import graft.pipeline.GraftSession
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run, in one JVM, at local[nproc] with one client and a
  * closed loop (the next operation starts when the previous one ended).
  *
  *   Main --phase prepare --workload W --root DIR
  *   Main --phase run --workload W --seed N --seconds S --trace 0|1 --root DIR --out FILE
  *
  * The prepare phase, in a JVM of its own, generates the inputs the
  * workload reads from the cache, so no generation cost, heap or JIT
  * state reaches the measured JVM. The run phase picks the seed's inputs,
  * then `setups` times makes a set-up (session build plus warm-up, then
  * stop) and takes their median as setup_s, then runs the workload in
  * the timed session. The result (metrics, gates, environment) is
  * written to FILE as JSON. */
object Main {
  val setups = 9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val root = Paths.get(opt("root")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val build = root.resolve(".bench_build")
    val dirs = Dirs(
      bench = root.resolve("perfbench"),
      data = root.resolve("perfbench/data/sf0.01"),
      cache = build.resolve("corpus"),
      work = build.resolve(s"work/$name-${ProcessHandle.current().pid()}"))
    Files.createDirectories(dirs.cache)
    def session(tag: String): SparkSession = GraftSession.build(cores, s"perfbench-$name-$tag")
    if (opt("phase") == "prepare") {
      Workload.generate(name, dirs, () => session("generate"))
      sys.exit(0)
    }

    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val out = Paths.get(opt("out"))
    Files.createDirectories(dirs.work)
    val workload = Workload(name, dirs, cores, trace)
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    val start = System.nanoTime()
    def log(msg: String): Unit = System.err.println(f"[perfbench] ${secs(start)}%7.1f s  $msg")

    workload.prepare(seed)
    log("inputs picked")

    val setupS = (1 to setups).map { i =>
      System.gc() // the previous set-up's garbage is not this one's cost
      val t0 = System.nanoTime()
      val s = session(s"warm-$i")
      workload.warmUp(s)
      s.stop()
      log(s"set-up $i done")
      secs(t0)
    }

    val spark = session("timed")
    val tracer = new Tracer(trace)
    val outcome = workload.run(spark, tracer, seconds)
    spark.stop()
    log(s"timed session done: ${outcome.attempted} attempted, ${outcome.failed} failed")
    Fs.deleteRecursively(dirs.work)

    val metrics: Map[String, Double] =
      if (trace) outcome.layers
      else outcome.endToEnd ++ Map(
        "setup_s" -> Stats.median(setupS),
        "peak_rss_mb" -> Env.peakRssMb())
    if (trace) tracer.write(out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".trace.jsonl"))
    Files.writeString(out, Json.obj(Seq(
      "workload" -> name,
      "trace" -> trace,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics,
      "setup_samples_s" -> setupS,
      "notes" -> outcome.notes,
      "env" -> Env.describe(seed, cores).toMap)) + "\n")
    // a thread a query left behind must not hold the JVM open
    sys.exit(0)
  }
}
