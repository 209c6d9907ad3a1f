package graft.perfbench

import graft.io.TableIO
import graft.pipeline.Pipeline
import graft.synth.TurnGen
import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The `io` layer (TableIO), measured in traced `extract` runs: the
  * corpus is extracted and committed with writeExtracted into a fresh
  * table, mergeExtracted applies a seeded 5% re-extracted slice, then
  * 100 point reads (lookupConv) run one at a time on seeded conv
  * ids, about a tenth of them misses.
  *
  * Gates: lineage rows and the read-back count equal the corpus turns;
  * the merge keeps the count; each lookup returns turnsPerConv rows of
  * its conv id, and none for a miss. */
object Io {
  final case class Result(attempted: Long, failed: Long, layers: Map[String, Double])

  /** The seeded 5% of a corpus that the merge re-extracts. */
  private def sliceOf(c: Corpus, spark: SparkSession, s: Long) =
    c.read(spark).filter(pmod(xxhash64(col("conv_id"), lit(s)), lit(20)) === 0)

  /** The write (in one wave), merge and lookup paths once each, on 100
    * conversations of `warm`. */
  def warmUp(spark: SparkSession, warm: Corpus, root: Path): Unit = {
    Fs.deleteRecursively(root)
    val ids = warm.convIds.take(100)
    val turns = warm.read(spark).filter(col("conv_id") <= ids.last)
    TableIO.writeExtracted(Pipeline.extractTurns(turns), root.toString, waves = 1)
    TableIO.mergeExtracted(Pipeline.extractTurns(turns.filter(col("conv_id") < ids(5))), root.toString)
    for (id <- ids.take(5)) TableIO.lookupConv(spark, root.toString, id).collect()
    Fs.deleteRecursively(root)
  }

  private val lookups = 100

  def measure(spark: SparkSession, tracer: Tracer, corpus: Corpus, root: Path, seed: Long): Result = {
    Fs.deleteRecursively(root)
    var failed, attempted = 0L
    def gate(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
    tracer.attach(spark)
    val (_, _, scanD) = tracer.timed("io.scan")(Stages.scan(corpus.read(spark).toDF()))
    val (lineage, writeS, writeD) = tracer.timed("io.write")(
      TableIO.writeExtracted(Pipeline.extractTurns(corpus.read(spark)), root.toString))
    val tableBytes = Fs.sizeBytes(root)
    gate(lineage.map(_.rows).sum == corpus.turns &&
      TableIO.readExtracted(spark, root.toString).count() == corpus.turns)

    val updates = Pipeline.extractTurns(sliceOf(corpus, spark, seed))
    val (_, mergeS, mergeD) = tracer.timed("io.merge")(TableIO.mergeExtracted(updates, root.toString))
    gate(TableIO.readExtracted(spark, root.toString).count() == corpus.turns)

    val rng = new scala.util.Random(seed)
    val ids = corpus.convIds.toVector
    val buildMs, execMs, jobs = Seq.newBuilder[Double]
    for (_ <- 0 until lookups) {
      // about one in ten is a miss: a pool conversation not in the table
      val id =
        if (rng.nextInt(10) == 0) Iterator.continually(Pool.convId(rng.nextInt(Pool.size.toInt)))
          .dropWhile(corpus.contains).next()
        else ids(rng.nextInt(ids.length))
      val (ds, b, db) = tracer.timed("io.lookup.build", "conv_id" -> id)(
        TableIO.lookupConv(spark, root.toString, id))
      val (rows, e, de) = tracer.timed("io.lookup.exec", "conv_id" -> id)(ds.collect())
      buildMs += b * 1000; execMs += e * 1000; jobs += db("jobs") + de("jobs")
      val want = if (corpus.contains(id)) TurnGen.turnsPerConv(id) else 0
      gate(rows.length == want && rows.forall(_.conv_id == id))
    }
    tracer.detach()
    Fs.deleteRecursively(root)
    Result(attempted, failed, Map(
      "io.write_s" -> writeS,
      "io.write_jobs" -> writeD("jobs").toDouble,
      "io.scan_amplification" -> writeD("input_bytes").toDouble / math.max(1L, scanD("input_bytes")),
      "io.shuffle_write_bytes" -> writeD("shuffle_write_bytes").toDouble,
      "io.table_bytes" -> tableBytes.toDouble,
      "io.merge_s" -> mergeS,
      "io.merge_jobs" -> mergeD("jobs").toDouble,
      "io.merge_shuffle_bytes" -> mergeD("shuffle_write_bytes").toDouble,
      "io.lookup_build_ms" -> Stats.median(buildMs.result()),
      "io.lookup_exec_ms" -> Stats.median(execMs.result()),
      "io.lookup_jobs" -> jobs.result().sum / lookups))
  }
}
