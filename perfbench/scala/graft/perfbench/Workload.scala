package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** What a workload reports: operations attempted and failed (a wrong
  * output counts as failed), the end-to-end metrics of an untraced run,
  * the per-layer metrics of a traced run (a layer the workload does not
  * exercise is left out and reads 0), and notes for the result file. */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], layers: Map[String, Double],
    notes: Map[String, Double] = Map.empty)

/** Paths a run uses, all inside the checkout: the benchmark's own
  * directory, the vendored tables, the corpus cache and a scratch
  * directory for this run. */
final case class Dirs(bench: Path, data: Path, cache: Path, work: Path)

/** One benchmark workload. `prepare` picks the seeded inputs from what
  * Workload.generate left in the cache; `warmUp` runs in sessions that
  * are stopped before the timed session starts, so no warm-up memo or
  * checkpoint can serve a timed operation. */
trait Workload {
  def prepare(seed: Long): Unit
  def warmUp(spark: SparkSession): Unit
  def run(spark: SparkSession, tracer: Tracer, seconds: Int): Outcome
}

object Workload {
  /** Generates, in the prepare phase's JVM, the inputs `name` reads from
    * the cache; `session` is called only when something is missing. */
  def generate(name: String, dirs: Dirs, session: () => SparkSession): Unit = name match {
    case "extract" => Pool.ensure(dirs.cache, session)
    case _ => ()
  }

  def apply(name: String, dirs: Dirs, cores: Int, trace: Boolean): Workload = name match {
    case "extract"   => new ExtractWorkload(dirs, cores, trace)
    case "query_mix" => new QueryMixWorkload(dirs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Per-layer metrics of the traced extraction stages over `turns` rows. */
  def stageLayers(st: Map[String, Long], scanS: Double): Map[String, Double] = {
    val n = math.max(1L, st("turns")).toDouble
    def per(k: String) = st(k) / n
    val stages = Seq("tokenize", "boiler", "header", "code", "table", "assemble", "serialize")
    val stageSum = stages.map(per).sum
    Map(
      "pipeline.scan_s" -> scanS,
      "pipeline.decode_ns_per_turn" -> per("decode"),
      "core.stage_gap_ns_per_turn" -> (per("extract") - stageSum),
      "core.alloc_bytes_per_turn" -> per("alloc_bytes"),
      "core.header_retry_ratio" -> per("header_retry"),
      "core.table_path_config" -> st("path_config").toDouble,
      "core.table_path_noconf" -> st("path_noconf").toDouble,
      "core.table_path_extra" -> st("path_extra").toDouble,
      "core.error_rows" -> st("error_rows").toDouble,
      "core.warning_rows" -> st("warning_rows").toDouble) ++
      (stages :+ "extract").map(s => s"core.${s}_ns_per_turn" -> per(s))
  }

  /** Executor and scheduler metrics from counter deltas over `wallS`
    * seconds of `ops` operations, per operation. */
  def executorLayers(d: Map[String, Long], wallS: Double, ops: Int, cores: Int): Map[String, Double] = {
    val k = math.max(1, ops).toDouble
    Map(
      "executor.run_ms" -> d("run_ms") / k,
      "executor.cpu_ms" -> d("cpu_ns") / 1e6 / k,
      "executor.gc_ms" -> d("gc_ms") / k,
      "executor.busy_share" -> (if (wallS > 0) d("run_ms") / (wallS * 1000 * cores) else 0.0))
  }

  /** Tracing cost from (traced, untraced) time pairs of the same
    * operation: the median of their ratios minus one, with the count of
    * pairs. A negative estimate is noise, not a cost: it is kept as a
    * note, and the metric is left out (it reads 0). */
  def overhead(pairs: Seq[(Double, Double)]): (Map[String, Double], Map[String, Double]) =
    if (pairs.isEmpty) (Map.empty, Map.empty)
    else {
      val share = Stats.median(pairs.map { case (t, p) => t / p }) - 1.0
      val notes = Map("trace_overhead_estimate" -> share, "trace_overhead_pairs" -> pairs.length.toDouble)
      (if (share > 0) Map("trace.overhead_share" -> share) else Map.empty, notes)
    }
}
