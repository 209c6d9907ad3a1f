package graft.perfbench

import graft.core.{ExtractedTurn, TurnInput}
import graft.synth.TurnGen
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** The transcript pool the seeded corpora are drawn from: `chunks`
  * chunks of consecutive conversations, each cut to hold about
  * `turnsPerChunk` turns (conversations are heavy-tailed, so equal turn
  * counts, not equal conversation counts, keep a corpus's size the same
  * from seed to seed). Rendered once per checkout by the engine's own
  * generator together with its ground truth (the per-key body of
  * Pipeline.synthWithExpected) and stored as parquet with the expected
  * output in an `expected` column, one file per chunk. A chunk file is
  * about 2.5 MB, so the engine's 8 MB splits always take two chunks: a
  * corpus of 2k chunks is read as k equal tasks, whichever chunks the
  * seed drew. Generation runs in the prepare phase's JVM, never in the
  * measured one. */
object Pool {
  val chunks = 64
  val turnsPerChunk = 2600

  /** starts(c) is the first conversation index of chunk c; starts(chunks)
    * ends the pool. */
  lazy val starts: Array[Long] = {
    val b = Array.newBuilder[Long]
    var i = 0L; var turns = 0L
    b += 0L
    for (c <- 1 to chunks) {
      while (turns < c.toLong * turnsPerChunk) { turns += TurnGen.turnsPerConv(convId(i)); i += 1 }
      b += i
    }
    b.result()
  }

  def size: Long = starts(chunks)

  def chunkOf(i: Long): Int = {
    val k = java.util.Arrays.binarySearch(starts, i)
    if (k >= 0) k else -k - 2
  }

  def convId(i: Long): String = f"conv-$i%09d"

  /** Cache key: the pool's size and a hash of a fixed sample of generated
    * turns, inputs and expected outputs both, so a generator change never
    * reads a stale pool. */
  def key: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (i <- 0L until size by 997L; t <- 0 until 2) {
      val g = TurnGen.genTurn(convId(i), t)
      md.update(g.input.toString.getBytes("UTF-8"))
      md.update(g.expected.toString.getBytes("UTF-8"))
    }
    val h = md.digest().take(8).map(b => f"$b%02x").mkString
    s"pool-c$chunks-t$turnsPerChunk-$h"
  }

  /** Renders the pool under `cacheRoot` when its key is new, in a
    * session from `session`; pools of other keys are removed. */
  def ensure(cacheRoot: Path, session: () => SparkSession): Unit = {
    val dir = cacheRoot.resolve(key)
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      val stale = { val s = Files.list(cacheRoot); try s.iterator.asScala.toVector finally s.close() }
      stale.foreach(Fs.deleteRecursively)
      val spark = session()
      import spark.implicits._
      val bounds = starts
      spark.range(0, size, 1, spark.sparkContext.defaultParallelism * 4).flatMap { i =>
        val c = f"conv-$i%09d"
        val k = java.util.Arrays.binarySearch(bounds, i)
        val chunk = if (k >= 0) k else -k - 2
        (0 until TurnGen.turnsPerConv(c)).iterator.map { t =>
          val g = TurnGen.genTurn(c, t); (chunk, g.input, g.expected)
        }
      }.select(col("_1").as("chunk"), col("_2.*"), col("_3").as("expected"))
        .repartition(col("chunk")).sortWithinPartitions("chunk", "conv_id", "turn_idx")
        .write.partitionBy("chunk").parquet(dir.toString)
      spark.stop()
    }
  }

  /** The pool under `cacheRoot` that `ensure` rendered for the current
    * generator. */
  def existing(cacheRoot: Path): Path = {
    val dir = cacheRoot.resolve(key)
    require(Files.exists(dir.resolve("_SUCCESS")), s"no transcript pool at $dir: the prepare phase makes it")
    dir
  }
}

/** A corpus: some chunks of the pool. Chunk 0 is kept for warm-up; a
  * seed draws its chunks from the others, so the conv ids, and with them
  * the turns, differ from seed to seed. */
final case class Corpus(pool: Path, chunkIds: Seq[Int]) {
  private def dirs: Seq[String] = chunkIds.map(c => pool.resolve(s"chunk=$c").toString)

  def convIds: Seq[String] =
    chunkIds.flatMap(c => (Pool.starts(c) until Pool.starts(c + 1)).map(Pool.convId))
  def contains(id: String): Boolean =
    chunkIds.contains(Pool.chunkOf(id.stripPrefix("conv-").toLong))

  /** Generated turn count, computed without rendering a turn. */
  lazy val turns: Long = convIds.iterator.map(c => TurnGen.turnsPerConv(c).toLong).sum

  def read(spark: SparkSession): Dataset[TurnInput] = {
    import spark.implicits._
    spark.read.parquet(dirs: _*).drop("expected").as[TurnInput]
  }

  def expected(spark: SparkSession): Dataset[ExtractedTurn] = {
    import spark.implicits._
    spark.read.parquet(dirs: _*).select(col("expected.*")).as[ExtractedTurn]
  }
}

object Corpus {
  def warm(pool: Path): Corpus = Corpus(pool, Seq(0))

  def forSeed(pool: Path, seed: Long, nChunks: Int): Corpus =
    Corpus(pool, new scala.util.Random(seed).shuffle((1 until Pool.chunks).toVector).take(nChunks).sorted)

  /** Output rows that differ from the expected row of the same
    * (conv_id, turn_idx) or have no partner on the other side, and the
    * rows compared. */
  def mismatches(out: Dataset[ExtractedTurn], expected: Dataset[ExtractedTurn]): (Long, Long) = {
    val spark = out.sparkSession
    import spark.implicits._
    val r = out.joinWith(expected,
        out("conv_id") === expected("conv_id") && out("turn_idx") === expected("turn_idx"), "full_outer")
      .map { case (o, e) => if (o != null && o == e) 0L else 1L }
      .toDF("m").selectExpr("coalesce(sum(m), 0L)", "count(1)").first()
    (r.getLong(0), r.getLong(1))
  }
}
