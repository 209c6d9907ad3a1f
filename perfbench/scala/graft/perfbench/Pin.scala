package graft.perfbench

import graft.queries.Relational
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the query_mix results. For each named query, in the given order:
  * writes its result as parquet under OUT/<query> and a line
  * "name<TAB>rows<TAB>hash" to OUT/pins.tsv; writes OUT/oracle_sql.json
  * for tools/oracle_check.py. perfbench/pin.py drives it.
  *
  *   Pin <tables dir> <file with one query name a line> <OUT> */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(data, list, outDir) = args
    val names = Files.readAllLines(Paths.get(list)).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val spark = graft.pipeline.GraftSession.build(Runtime.getRuntime.availableProcessors, "perfbench-pin")
    Files.createDirectories(Paths.get(outDir))
    val pins = Seq.newBuilder[String]
    for (n <- names) {
      val rows = Relational.queries(n)(spark, data).collect()
      pins += s"$n\t${rows.length}\t${QueryPin.hash(rows)}"
      Relational.queries(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
    }
    Files.writeString(Paths.get(outDir, "pins.tsv"), pins.result().mkString("", "\n", "\n"))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), Json.value(
      names.map(n => n -> Relational.oracleSql(n)).toMap))
    spark.stop()
  }
}
