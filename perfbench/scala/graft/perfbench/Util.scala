package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** The box and the JVM a result was measured on. */
object Env {
  private def meminfoKb(key: String): Long =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  /** Peak resident set of this JVM, MB (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)

  def describe(seed: Long, cores: Int): Seq[(String, Any)] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> cores,
      "mem_total_kb" -> meminfoKb("MemTotal"),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "gc" -> rt.getInputArguments.asScala.filter(_.matches("-XX:[+]Use.*GC")).mkString(" "),
      "gc_beans" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getName).mkString(","),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "git_head" -> sys.env.getOrElse("PERFBENCH_GIT_HEAD", "unknown"),
      "source_stamp" -> sys.env.getOrElse("PERFBENCH_SOURCE_STAMP", "unknown"),
      "seed" -> seed)
  }
}

object Fs {
  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]).iterator.asScala.foreach(Files.delete)
    finally walk.close()
  }

  def sizeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val walk = Files.walk(p)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }
}
