package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark-side counters: scheduler work from a SparkListener, Catalyst
  * phase times from a QueryExecutionListener. Values only grow; callers
  * take the difference of two snapshots around the operation they time. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map[String, Long]().withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { c("jobs") += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c("stages") += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      c("tasks") += 1
      c("run_ms") += m.executorRunTime
      c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("input_bytes") += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    for ((phase, key) <- Seq(QueryPlanningTracker.ANALYSIS -> "analysis_ms",
        QueryPlanningTracker.OPTIMIZATION -> "optimize_ms",
        QueryPlanningTracker.PLANNING -> "plan_ms"))
      p.get(phase).foreach(s => c(key) += s.durationMs)
  }

  def snapshot(): Map[String, Long] = synchronized(c.toMap.withDefaultValue(0L))
}

object SparkCounters {
  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before(k)) }.withDefaultValue(0L)
  def plus(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (a(k) + b(k))).toMap.withDefaultValue(0L)
}

/** One run's trace. Disabled, it only times. Enabled, it attaches
  * SparkCounters to the session and keeps, in memory until `write`,
  * a span per timed call into a layer (name, parent, start, end and the
  * counter deltas of that call). */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any])

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(0)
  private var counters: Option[(SparkSession, SparkCounters)] = None

  def attach(spark: SparkSession): Unit = if (enabled) {
    detach()
    val l = new SparkCounters
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    counters = Some(spark -> l)
  }

  def detach(): Unit = counters.foreach { case (spark, l) =>
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
    counters = None
  }

  /** Counter totals so far, after every queued listener event landed. */
  def snapshot(): Map[String, Long] = counters match {
    case Some((spark, l)) =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      l.snapshot()
    case None => Map.empty[String, Long].withDefaultValue(0L)
  }

  /** Runs `f` as one span; returns its value, its seconds and (when the
    * counters are attached) the counter deltas it caused. The listener
    * bus is drained outside the timed interval. */
  def timed[A](name: String, attrs: (String, Any)*)(f: => A): (A, Double, Map[String, Long]) = {
    val before = snapshot()
    val id = spans.length + 1
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    val r = try f finally stack = stack.tail
    val t1 = System.nanoTime()
    val delta = SparkCounters.diff(snapshot(), before)
    if (enabled) spans += Span(id, parent, name, t0, t1, attrs.toMap ++ delta)
    (r, (t1 - t0) / 1e9, delta)
  }

  /** Adds attributes to the most recent span named `name`. */
  def annotate(name: String, attrs: (String, Any)*): Unit =
    if (enabled) spans.lastIndexWhere(_.name == name) match {
      case -1 => ()
      case i  => spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.attrs.toSeq.sortBy(_._1))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
