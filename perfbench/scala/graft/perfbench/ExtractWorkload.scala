package graft.perfbench

import graft.core.TurnInput
import graft.pipeline.Pipeline
import org.apache.spark.sql.{Dataset, SparkSession}

/** `extract`: the paper's headline path. Timed passes run
  * Pipeline.extractTurns over the seeded corpus (8 pool chunks, about
  * 21k turns) into the noop sink, back to back, until the run's
  * seconds are used.
  *
  *   throughput_per_s  turns / median steady pass time
  *   latency_p50/p90   steady pass time, ms
  *   batch_s           the first `batch` passes of the timed session, the
  *                     cold first one included
  *
  * Steady passes are those after the first `batch`: pass times still
  * fall by several percent over the first ten while the JIT finishes,
  * and how fast it does varies from JVM to JVM. There are at least
  * `batch` of them.
  *
  * Gate: every output turn equals the generator's ground truth for its
  * (conv_id, turn_idx), and every generated turn has an output row.
  * Traced runs also measure the extraction stages (Stages) and the
  * table write, merge and lookup paths (Io) on the same corpus. */
final class ExtractWorkload(dirs: Dirs, cores: Int, trace: Boolean) extends Workload {
  private val nChunks = 8
  private val batch = 10
  private var seed = 0L
  private var corpus: Corpus = _
  private var warm: Corpus = _

  def prepare(seed: Long): Unit = {
    this.seed = seed
    val pool = Pool.existing(dirs.cache)
    corpus = Corpus.forSeed(pool, seed, nChunks)
    warm = Corpus.warm(pool)
  }

  private def pass(ds: Dataset[TurnInput]): Unit =
    Pipeline.extractTurns(ds).write.format("noop").mode("overwrite").save()

  def warmUp(spark: SparkSession): Unit = {
    val ds = warm.read(spark)
    pass(ds); pass(ds)
    if (trace) Io.warmUp(spark, warm, dirs.work.resolve("warm-table"))
  }

  def run(spark: SparkSession, tracer: Tracer, seconds: Int): Outcome = {
    val ds = corpus.read(spark)
    val (_, first, _) = tracer.timed("extract.pass", "pass" -> 0)(pass(ds))
    var batchS = first
    // traced runs pair consecutive passes, one with and one without the
    // counters attached, alternating which goes first: the pairs give
    // the tracing overhead
    val traced, plain = Seq.newBuilder[Double]
    val pairs = Seq.newBuilder[(Double, Double)]
    var execDelta = Map.empty[String, Long].withDefaultValue(0L)
    var tracedWall = 0.0
    var tracedPasses = 0
    var passes = 0
    var previous = 0.0
    val t0 = System.nanoTime()
    while (passes < 2 * batch || (System.nanoTime() - t0) / 1e9 < seconds ||
        (tracer.enabled && passes % 2 == 1)) {
      val pair = passes / 2
      val withCounters = tracer.enabled && passes % 2 == pair % 2
      passes += 1
      if (withCounters) tracer.attach(spark)
      val (_, s, d) = tracer.timed("extract.pass", "pass" -> passes)(pass(ds))
      if (passes < batch) batchS += s
      if (withCounters) {
        tracer.detach()
        if (passes >= batch) traced += s
        tracedWall += s; tracedPasses += 1
        execDelta = SparkCounters.plus(execDelta, d)
      } else if (passes >= batch) plain += s
      if (tracer.enabled && passes % 2 == 0) pairs += (if (withCounters) (s, previous) else (previous, s))
      previous = s
    }
    val times = if (tracer.enabled) traced.result() else plain.result()
    val (overheadLayer, overheadNotes) = Workload.overhead(pairs.result())

    val (bad, rows) = tracer.timed("extract.check")(
      Corpus.mismatches(Pipeline.extractTurns(ds), corpus.expected(spark)))._1
    val io =
      if (!tracer.enabled) Io.Result(0, 0, Map.empty)
      else Io.measure(spark, tracer, corpus, dirs.work.resolve("table"), seed)
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        val (_, scanS, _) = tracer.timed("pipeline.scan")(Stages.scan(ds.toDF()))
        // an untimed staged pass first: it brings the stage copy and the
        // stages it calls to the JIT tier extractOne already runs at
        Stages.staged(spark, ds.toDF())
        val (st, _, _) = tracer.timed("core.staged")(Stages.staged(spark, ds.toDF()))
        Workload.stageLayers(st, scanS) ++ io.layers ++
          Workload.executorLayers(execDelta, tracedWall, tracedPasses, cores) ++
          overheadLayer
      }
    Outcome(
      attempted = corpus.turns + io.attempted,
      failed = bad + math.abs(corpus.turns - rows) + io.failed,
      endToEnd = Map(
        "throughput_per_s" -> corpus.turns / Stats.median(times),
        "latency_p50_ms" -> Stats.median(times) * 1000,
        "latency_p90_ms" -> Stats.quantile(times, 0.9) * 1000,
        "batch_s" -> batchS),
      layers = layers,
      notes = overheadNotes)
  }
}
