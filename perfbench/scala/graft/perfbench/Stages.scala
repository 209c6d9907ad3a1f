package graft.perfbench

import graft.core._
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

/** Per-layer cost of the extraction path, for traced runs.
  *
  * `scan` reads the three columns the extractor reads and nothing more.
  * `staged` runs, for every turn, the UTF-8 decode, one untimed
  * extractOne (so neither timed call pays the payload's first touch),
  * then a copy of extractOne's body with each `core` stage timed on the
  * output of the stage before it, and extractOne itself, in alternating
  * order from turn to turn. Stage times are per stage, not cumulative
  * prefixes; the gap between their sum and extractOne's time is
  * reported. Callers run it once untimed first: until the JIT has
  * compiled the copy, its stages read far slower than extractOne.
  * Outcome counts (header retries, which table path fired, error and
  * warning rows) repeat exactly for a seed. */
object Stages {
  private val keys = Seq("decode", "tokenize", "boiler", "header", "code", "table", "assemble",
    "serialize", "extract", "turns", "alloc_bytes", "header_retry", "path_config", "path_noconf",
    "path_extra", "error_rows", "warning_rows")
  private val index: Map[String, Int] = keys.zipWithIndex.toMap

  def scan(df: DataFrame): Long =
    Pipeline.projected(df).queryExecution.toRdd
      .mapPartitions(it => Iterator.single(it.foldLeft(0L)((n, r) => n + r.getUTF8String(2).numBytes())))
      .fold(0L)(_ + _)

  def staged(spark: SparkSession, df: DataFrame): Map[String, Long] = {
    val acc: Seq[LongAccumulator] = keys.map(k => spark.sparkContext.longAccumulator(k))
    Pipeline.projected(df).queryExecution.toRdd.foreachPartition { it =>
      val local = new Array[Long](keys.length)
      def add(k: String, v: Long): Unit = local(index(k)) += v
      val view = new CharsView
      val tmx = java.lang.management.ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean]
      val tid = Thread.currentThread().getId
      it.foreach { row =>
        val conv = row.getUTF8String(0).toString
        val idx = row.getInt(1)
        val u = row.getUTF8String(2)
        val t0 = System.nanoTime()
        val payload: CharSequence = if (u == null) null else Pipeline.decodeUtf8(u, view)
        add("decode", System.nanoTime() - t0)
        Extractor.extractOne(conv, idx, payload)
        def timedExtract(): ExtractedTurn = {
          val a0 = tmx.getThreadAllocatedBytes(tid)
          val e0 = System.nanoTime()
          val out = Extractor.extractOne(conv, idx, payload)
          add("extract", System.nanoTime() - e0)
          add("alloc_bytes", tmx.getThreadAllocatedBytes(tid) - a0)
          out
        }
        // a payload extractOne turns into an error row throws in the copy
        def timedStages(): Unit =
          try stagesOf(conv, idx, payload, add) catch { case scala.util.control.NonFatal(_) => () }
        val out =
          if (local(index("turns")) % 2 == 0) { timedStages(); timedExtract() }
          else { val o = timedExtract(); timedStages(); o }
        add("turns", 1)
        if (out.errors.isDefined) add("error_rows", 1)
        if (out.warnings.isDefined) add("warning_rows", 1)
      }
      for (i <- keys.indices) acc(i).add(local(i))
    }
    keys.zip(acc.map(_.sum)).toMap
  }

  private def missing(o: Option[String]): Boolean = o.forall(_.isEmpty)

  /** Extractor.extractOneUnsafe, statement for statement, with a lap
    * after each stage: a change there must be copied here, and a traced
    * core.stage_gap_ns_per_turn outside ±10% of core.extract_ns_per_turn
    * means this copy has drifted. The ExtractedTurn it builds counts
    * with score assembly. */
  private def stagesOf(convId: String, turnIdx: Int, payload: CharSequence,
      add: (String, Long) => Unit): ExtractedTurn = {
    var t = System.nanoTime()
    def lap(k: String): Unit = { add(k, System.nanoTime() - t); t = System.nanoTime() }
    val errors   = Vector.newBuilder[String]
    val warnings = Vector.newBuilder[String]

    val blocks  = Tokenizer.tokenize(payload)
    lap("tokenize")
    val contentArr = Boiler.contentSpans(blocks)
    val content = scala.collection.immutable.ArraySeq.unsafeWrapArray(contentArr)
    val glyphs  = {
      var n = 0; var i = 0
      while (i < contentArr.length) {
        val s = contentArr(i); if (s.kind == "g" && s.page == 0) n += 1; i += 1
      }
      val a = new Array[Span](n); var o = 0; i = 0
      while (i < contentArr.length) {
        val s = contentArr(i); if (s.kind == "g" && s.page == 0) { a(o) = s; o += 1 }; i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    }
    lap("boiler")

    var (subjOpt, gradeOpt, varOpt, _) = Header.recognizeHat(content, Layouts.Hat)
    if (missing(subjOpt) || missing(gradeOpt)) {
      add("header_retry", 1)
      val retry = Header.recognizeHat(content, Layouts.HatReserve)
      subjOpt = retry._1; gradeOpt = retry._2; varOpt = retry._3
    }
    if (missing(subjOpt) || missing(gradeOpt)) {
      errors += Messages.HeaderError
    }
    var subject = subjOpt
    var key: Option[String] = None
    if (!missing(subjOpt) && !missing(gradeOpt)) {
      subject = subjOpt.map(_.replace(" ", ""))
      val k = s"${subject.get} ${gradeOpt.get}"
      if (Layouts.configs.contains(k)) key = Some(k)
      else warnings += Messages.ConfigMissWarning
    }
    lap("header")

    val codeSpans = content.filter(s => s.page == 0 && Layouts.Code.containsFully(s))
    val code: Option[String] = CodeRec.recognizeCode(codeSpans) match {
      case Left(_)  => errors += Messages.CodeError; None
      case Right(c) => c
    }
    lap("code")

    var taskNumbers: List[String] = Nil
    var digits: Classify.ScoreBuf = Classify.ScoreBuf.empty
    val mainRows = TableDetect.extractTableRows(
      TableDetect.detectCells(content, TableDetect.MainDetector))
    key.foreach { k =>
      val cfg = Layouts.configs(k)
      TableDetect.recognizeTableFromRows(mainRows, glyphs, cfg) match {
        case Some(d) =>
          digits = d
          taskNumbers = Layouts.taskLists(k)
        case None => ()
      }
    }
    if (key.isEmpty || digits.isEmpty) {
      val noconf = TableDetect.recognizeTableAllFromRows(mainRows, glyphs)
        .filter(_._2.nonEmpty)
      val all = noconf
        .orElse(TableDetect.recognizeTableAll(content, glyphs, TableDetect.ExtraDetector))
      all match {
        case Some((t, d)) => taskNumbers = t; digits = d
        case None         => taskNumbers = Nil; digits = Classify.ScoreBuf.empty
      }
      if (noconf.isDefined) add("path_noconf", 1)
      else if (digits.nonEmpty) add("path_extra", 1)
    } else add("path_config", 1)
    lap("table")

    val scores = Vector.newBuilder[ScoreEntry]
    var total = 0
    if (digits.isEmpty) {
      errors += Messages.TableError
    } else {
      val lowConf = Vector.newBuilder[String]
      var anyLow = false
      var rem = taskNumbers
      var i = 0
      while (i < digits.n && rem.nonEmpty) {
        val digit = digits.digits(i)
        val prob = Extractor.bround2(digits.probs(i))
        val task = rem.head
        val display =
          if (digit == 10) "-" else if (digit == 11) "x" else digit.toString
        scores += ScoreEntry(task, display, prob)
        if (prob < 0.6) { lowConf += task; anyLow = true }
        if (digit != 10 && digit != 11) total += digit
        rem = rem.tail
        i += 1
      }
      if (anyLow)
        warnings += Messages.LowConfPrefix + lowConf.result().mkString(", ")
    }
    lap("assemble")

    val (extractedText, offsets) = Extractor.serializeContent(content)
    lap("serialize")

    val errs  = errors.result()
    val warns = warnings.result()
    val out = ExtractedTurn(
      conv_id = convId,
      turn_idx = turnIdx,
      subject = subject,
      grade = gradeOpt,
      variant = varOpt,
      participant_code = code,
      total_score = total,
      scores = scores.result(),
      extracted_text = extractedText,
      span_offsets = offsets,
      errors = if (errs.nonEmpty) Some(errs) else None,
      warnings = if (warns.nonEmpty) Some(warns) else None)
    lap("assemble")
    out
  }
}
