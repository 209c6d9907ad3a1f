package graft.perfbench

import graft.queries.Relational
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._

/** `query_mix`: a frozen, family-stratified list of registry queries over
  * the vendored sf0.01 tables, run one at a time in seeded order. Each
  * query is built (the registry function, including any job it runs
  * before its final action) and then collected.
  *
  *   throughput_per_s  queries / suite seconds
  *   latency_p50/p90   query time (build + collect), ms
  *   batch_s           the suite
  *
  * Gate: each query's row count and order-insensitive hash equal the
  * values pinned in queries/query_mix.tsv. */
final class QueryMixWorkload(dirs: Dirs) extends Workload {
  private val pins: Seq[QueryPin] = QueryPin.load(dirs.bench.resolve("queries/query_mix.tsv"))
  private val warmList = Seq("q_tpch_q6", "q_agg_cube", "q_window_rank")
  private val overheadPairs = 24
  private var order: Seq[QueryPin] = Nil

  def prepare(seed: Long): Unit =
    order = new scala.util.Random(seed).shuffle(pins)

  private def build(spark: SparkSession, name: String): DataFrame =
    Relational.queries(name)(spark, dirs.data.toString)

  def warmUp(spark: SparkSession): Unit =
    for (q <- warmList) build(spark, q).collect()

  /** (traced, untraced) times of the first `overheadPairs` queries of the
    * order, each run twice more back to back, once with and once without
    * the counters attached, alternating which goes first. An untimed run
    * comes first: the first rerun of a query can rebuild a memo entry
    * the suite evicted, and whichever side paid for it would decide the
    * median. */
  private def rerunPairs(spark: SparkSession, tracer: Tracer): Seq[(Double, Double)] =
    for ((q, i) <- order.take(overheadPairs).zipWithIndex) yield {
      build(spark, q.name).collect()
      val times = Seq(i % 2 == 0, i % 2 != 0).map { withCounters =>
        if (withCounters) tracer.attach(spark) else tracer.detach()
        withCounters -> tracer.timed("query.rerun", "query" -> q.name)(build(spark, q.name).collect())._2
      }.toMap
      (times(true), times(false))
    }

  def run(spark: SparkSession, tracer: Tracer, seconds: Int): Outcome = {
    tracer.attach(spark)
    val suiteStart = tracer.snapshot()
    val memos = new MemoWatch
    var failed = 0L
    val lat = Seq.newBuilder[Double]
    var buildS, execS, buildJobs = 0.0
    val shared = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val t0 = System.nanoTime()
    for ((q, i) <- order.zipWithIndex) {
      val before = if (tracer.enabled) memos.keys() else Map.empty[String, Set[AnyRef]]
      val (df, b, db) = tracer.timed("query.build", "query" -> q.name, "order" -> i)(
        scala.util.Try(build(spark, q.name)))
      val (rows, e, _) = tracer.timed("query.exec", "query" -> q.name, "order" -> i)(
        df.flatMap(d => scala.util.Try(d.collect())))
      lat += (b + e) * 1000
      buildS += b; execS += e; buildJobs += db("jobs")
      rows.failed.foreach(x => System.err.println(s"[perfbench] ${q.name} failed: $x"))
      if (!rows.toOption.exists(q.matches)) failed += 1
      if (tracer.enabled) for (d <- df) {
        val role = memos.roleOf(d, before)
        if (role.nonEmpty) {
          tracer.annotate("query.build", "shared_build" -> role)
          shared(role.takeWhile(_ != ':')) += b
          if (role.startsWith("first")) shared("count") += 1
        }
      }
    }
    val suiteS = (System.nanoTime() - t0) / 1e9
    val d = SparkCounters.diff(tracer.snapshot(), suiteStart)
    val (overheadLayer, overheadNotes) =
      Workload.overhead(if (tracer.enabled) rerunPairs(spark, tracer) else Nil)

    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        val n = order.length
        Workload.executorLayers(d, suiteS, n, Runtime.getRuntime.availableProcessors) ++ Map(
          "queries.build_s" -> buildS,
          "queries.build_jobs" -> buildJobs,
          "queries.exec_s" -> execS,
          "queries.shared_builds" -> shared("count"),
          "queries.shared_first_build_s" -> shared("first"),
          "queries.shared_later_build_s" -> shared("later"),
          "catalyst.analysis_s" -> d("analysis_ms") / 1000.0,
          "catalyst.optimize_s" -> d("optimize_ms") / 1000.0,
          "catalyst.plan_s" -> d("plan_ms") / 1000.0,
          "scheduler.jobs" -> d("jobs").toDouble,
          "scheduler.stages" -> d("stages").toDouble,
          "scheduler.tasks" -> d("tasks").toDouble,
          "scheduler.tasks_per_stage" -> d("tasks").toDouble / math.max(1L, d("stages")),
          "shuffle.read_bytes" -> d("shuffle_read_bytes").toDouble,
          "shuffle.write_bytes" -> d("shuffle_write_bytes").toDouble,
          "spill.bytes" -> d("spill_bytes").toDouble) ++ overheadLayer
      }
    tracer.detach()
    val latencies = lat.result()
    Outcome(order.length.toLong, failed,
      endToEnd = Map(
        "throughput_per_s" -> order.length / suiteS,
        "latency_p50_ms" -> Stats.median(latencies),
        "latency_p90_ms" -> Stats.quantile(latencies, 0.9),
        "batch_s" -> suiteS),
      layers = layers,
      notes = overheadNotes)
  }
}

/** A query of the frozen list with its pinned result: row count and an
  * order-insensitive hash (the wrapping sum of a 64-bit digest of each
  * row's canonical text; doubles are canonicalised to 12 significant
  * digits so a last-bit summation-order difference does not count). */
final case class QueryPin(name: String, rows: Long, hash: String) {
  def matches(result: Array[Row]): Boolean =
    result.length == rows && QueryPin.hash(result) == hash
}

object QueryPin {
  def load(p: java.nio.file.Path): Seq[QueryPin] =
    java.nio.file.Files.readAllLines(p).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => QueryPin(f(0), f(1).toLong, f(2)))

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).stripTrailingZeros.toString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case o => o.toString
  }

  def hash(rows: Array[Row]): String = {
    var acc = 0L
    for (r <- rows) {
      val d = java.security.MessageDigest.getInstance("SHA-256").digest(canon(r).getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(d).getLong
    }
    f"$acc%016x"
  }
}

/** Watches the query modules' session memos (the shared builds) by
  * reflection, read-only: a query that adds a memo entry is its first
  * consumer; a query whose plan reads a memo entry made before it is a
  * later consumer. */
final class MemoWatch {
  private val memos: Seq[(String, java.util.Map[AnyRef, AnyRef])] =
    Class.forName("graft.queries.Relational$").getDeclaredFields.toSeq
      .filter(f => f.getName.endsWith("Memo") &&
        classOf[java.util.Map[_, _]].isAssignableFrom(f.getType))
      .map { f => f.setAccessible(true); f.getName -> f.get(null).asInstanceOf[java.util.Map[AnyRef, AnyRef]] }

  def keys(): Map[String, Set[AnyRef]] =
    memos.map { case (n, m) => n -> m.synchronized(m.keySet.asScala.toSet) }.toMap

  private def rddIds(v: Any): Set[Int] = v match {
    case ds: org.apache.spark.sql.Dataset[_] =>
      ds.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
    case p: Product => p.productIterator.flatMap(rddIds).toSet
    case _ => Set.empty
  }

  /** "first:<memo>", "later:<memo>" or "" for the query built as `df`. */
  def roleOf(df: DataFrame, before: Map[String, Set[AnyRef]]): String = {
    val now = keys()
    val built = memos.collect { case (n, _) if (now(n) -- before(n)).nonEmpty => n }
    if (built.nonEmpty) "first:" + built.mkString("+")
    else {
      val used = df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
      // entrySet, not get: a get would reorder the access-ordered LRU
      val reused = memos.collect { case (n, m) if m.synchronized(m.entrySet.asScala.exists(e =>
          before(n)(e.getKey) && (rddIds(e.getValue) & used).nonEmpty)) => n }
      if (reused.nonEmpty) "later:" + reused.mkString("+") else ""
    }
  }
}
