package graft

import graft.queries.Relational

/** Physical-plan quality gates (SURVEY.md §4): these assertions pin the
  * plan shapes that matter at 100 TB — filter/projection pushdown to
  * the parquet scan, broadcast joins for dims, no shuffle in front of
  * the per-turn map, whole-stage codegen over the scan. A regression
  * here is a performance bug even when results stay correct. */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Relational.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("scan+filter pushes predicates and prunes columns at the source") {
    val p = plan("q_scan_filter")
    assert(p.contains("PushedFilters:") && p.contains("l_discount"),
      s"no pushed filters in:\n$p")
    // projection pruning: the scan must not read l_extendedprice etc.
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_partkey"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("dim lookups broadcast (no shuffle join on small sides)") {
    val p = plan("q_join_lookup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("semi/anti joins use join strategies, not subquery re-scans") {
    assert(plan("q_join_semi").contains("Semi"), plan("q_join_semi"))
    assert(plan("q_join_anti").contains("Anti"), plan("q_join_anti"))
  }

  test("grouped aggregation is partial+final hash agg (map-side combine)") {
    val p = plan("q_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("extraction pipeline has no pre-map shuffle and codegens the scan") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("plan-turns").toString
    graft.pipeline.Pipeline.synthTurns(spark, 20L, 2).write.mode("overwrite").parquet(tmp)
    val turns = spark.read.parquet(tmp).as[graft.core.TurnInput]
    // the pruned input plan that feeds the per-turn map (the map itself
    // sits behind the internal-row boundary, so gates run here)
    val p = graft.pipeline.Pipeline.projected(turns.toDF())
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"unexpected shuffle before per-turn map:\n$p")
    assert(p.contains("*(1)"), s"no whole-stage-codegen span over the scan:\n$p")
    // scan reads ONLY the three live columns
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("conv_id") && read.contains("text") &&
      !read.contains("role") && !read.contains("tool") && !read.contains("ts:"),
      s"scan not pruned to live columns: $read")
    // the full pipeline plan must not introduce a shuffle either
    val full = graft.pipeline.Pipeline.extractTurns(turns)
      .queryExecution.executedPlan.toString
    assert(!full.contains("Exchange"), s"unexpected shuffle in pipeline plan:\n$full")
    // the salted variant DOES have exactly its one explicit exchange
    val ps = graft.pipeline.Pipeline.projected(turns.toDF())
      .repartition(8, org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("conv_id"),
          org.apache.spark.sql.functions.col("turn_idx")),
        org.apache.spark.sql.functions.lit(8)))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(ps).size >= 1, ps)
  }

  test("UTF8String fast decode is char-identical to String semantics") {
    import org.apache.spark.unsafe.types.UTF8String
    val view = new graft.core.CharsView
    // valid corpus: ascii, cyrillic, 2/3/4-byte, supplementary, empty
    val valid = Seq("", "hello", "Привет, мир! Вариант 3", "aé€😀b",
      "\u0000ctrl\n\t", "ё" * 3000)
    for (s <- valid) {
      val u = UTF8String.fromString(s)
      val d = graft.pipeline.Pipeline.decodeUtf8(u, view)
      assert(d.toString == s, s"decode mismatch for ${s.take(20)}")
    }
    // malformed byte sequences must fall back to UTF8String.toString
    val bad = Seq(
      Array[Byte](0x61, 0x80.toByte),                       // stray continuation
      Array[Byte](0xc0.toByte, 0xaf.toByte),                // overlong 2-byte
      Array[Byte](0xe0.toByte, 0x80.toByte, 0x80.toByte),   // overlong 3-byte
      Array[Byte](0xed.toByte, 0xa0.toByte, 0x80.toByte),   // surrogate
      Array[Byte](0xf5.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte), // > U+10FFFF lead
      Array[Byte](0xc2.toByte))                             // truncated
    for (b <- bad) {
      val u = UTF8String.fromBytes(b)
      val d = graft.pipeline.Pipeline.decodeUtf8(u, view)
      assert(d.toString == u.toString, "malformed input must match UTF8String.toString")
    }
    // randomized cross-check: random bytes (often invalid) and random
    // valid strings must both round-trip to exactly u.toString
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 2000) {
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte)
      val u = UTF8String.fromBytes(b)
      assert(graft.pipeline.Pipeline.decodeUtf8(u, view).toString == u.toString)
    }
    for (_ <- 0 until 500) {
      val s = new String(Array.fill(rnd.nextInt(60))(rnd.nextInt(0x2500).toChar))
      val u = UTF8String.fromString(s)
      assert(graft.pipeline.Pipeline.decodeUtf8(u, view).toString == u.toString)
    }
  }

  test("driver contract: SparkEntry.entry returns rows; every oracle key has a query") {
    assert(SparkEntry.entry(spark).limit(5).count() > 0)
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracleSql keys without a query: $orphans")
    // pinned registry fingerprint: every query name, sorted, with the
    // SHA-256 of its oracle SQL ("-" when it has none); a refactor of
    // the builders must leave both the registry and its oracles as is.
    // The per-JVM sidecar root is masked before hashing.
    val root = graft.queries.TrainingData.expectedTurnsPath.stripSuffix("/expected_turns")
    def sha256(sql: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(sql.replace(root, "<oracle-root>").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val now = qs.toSeq.sorted.map(q =>
      q + "\t" + SparkEntry.oracleSql.get(q).map(sha256).getOrElse("-"))
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/registry_fingerprint.tsv"), "UTF-8")
    val pinned = try src.getLines().toSeq finally src.close()
    assert(now == pinned,
      s"registry drifted; not pinned: ${now.diff(pinned).take(10)}, " +
        s"pinned but gone: ${pinned.diff(now).take(10)}")
  }

  test("kmeans memo eviction unpersists the evicted fit's vector dataset") {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.storage.StorageLevel
    // three fits in one session through a memo of two: the first goes
    val dirs = (1 to 3).map { _ =>
      val d = java.nio.file.Files.createTempDirectory("kmeans-memo")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
        d.resolve("embeddings.parquet"))
      d.toString
    }
    for (d <- dirs) Relational.queries("q_ann_kmeans")(spark, d)
    // the fit's persisted vector frame, rebuilt over the same plan, so
    // its storageLevel reads the fit's cache entry
    def vectors(d: String) = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(x * 1000) as bigint))").as("v"))
    assert(vectors(dirs(2)).storageLevel != StorageLevel.NONE,
      "the newest fit's vectors are not cached: the probe no longer matches the fit")
    assert(vectors(dirs(0)).storageLevel == StorageLevel.NONE,
      "the evicted fit's vectors are still cached")
  }

  test("ordered output is invariant to input partitioning and the salt shuffle") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("plan-inv").toString
    graft.pipeline.Pipeline.synthTurns(spark, 200L, 7).write.mode("overwrite").parquet(tmp)
    def json(ds: org.apache.spark.sql.Dataset[graft.core.ExtractedTurn]): Seq[String] =
      graft.pipeline.Pipeline.ordered(ds)
        .collect().map(graft.core.Json.responseJson).toSeq
    val turns1 = spark.read.parquet(tmp).as[graft.core.TurnInput]
    val turns2 = spark.read.parquet(tmp).repartition(13).as[graft.core.TurnInput]
    val a = json(graft.pipeline.Pipeline.extractTurns(turns1))
    val b = json(graft.pipeline.Pipeline.extractTurns(turns2))
    val c = json(graft.pipeline.Pipeline.extractTurnsSalted(turns1, 11))
    assert(a == b, "repartitioned input changed the ordered output")
    assert(a == c, "salted variant changed the ordered output")
    assert(a.nonEmpty)
  }

  test("SparkSessionExtensions path: long_array_dot callable from spark.sql") {
    org.apache.spark.sql.graftx.GraftFunctions.install(spark)
    val d = spark.sql("SELECT long_array_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect()(0).getLong(0)
    assert(d == 4L + 10L + 18L)
    // the builder-time injector wires the same description
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
  }

  test("pos_tokenize plans as a real Generate node (native UDTF tier)") {
    org.apache.spark.sql.graftx.GraftFunctions.install(spark)
    import spark.implicits._
    val df = Seq((1L, "a bb  ccc")).toDF("id", "text")
      .selectExpr("id", "pos_tokenize(text)")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate") && p.contains("pos_tokenize"), p.take(1500))
    // offsets: "a bb  ccc" → a@[0,1) bb@[2,4) ""@[5,5) ccc@[6,9)
    val rows = df.collect().map(r =>
      (r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4))).toSeq
    assert(rows == Seq((0, "a", 0, 1), (1, "bb", 2, 4),
      (2, "", 5, 5), (3, "ccc", 6, 9)))
  }

  test("Observation API: pipeline-run metrics equal direct aggregation") {
    // the free-metrics surface for a 100 TB run: collect row counts and
    // sums DURING the write (zero extra passes) instead of re-scanning
    // the output to report them
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val obs = org.apache.spark.sql.Observation("extract_metrics")
    val turns = graft.pipeline.Pipeline.synthTurns(spark, 80L, 4)
    val out = graft.pipeline.Pipeline.extractTurns(turns).toDF()
      .observe(obs,
        count(lit(1)).as("n"),
        sum(col("total_score").cast("long")).as("sum_score"),
        sum(when(col("errors").isNotNull, 1L).otherwise(0L)).as("n_err"))
    out.write.format("noop").mode("overwrite").save()
    val m = obs.get
    val direct = graft.pipeline.Pipeline.extractTurns(turns).toDF()
      .agg(count(lit(1)), sum(col("total_score").cast("long")),
        sum(when(col("errors").isNotNull, 1L).otherwise(0L))).head()
    assert(m("n") == direct.getLong(0))
    assert(m("sum_score") == direct.getLong(1))
    assert(m("n_err") == direct.getLong(2))
    assert(direct.getLong(0) > 0)
  }

  test("jaro_winkler: rapidfuzz-pinned values, SQL surface, stays in codegen") {
    org.apache.spark.sql.graftx.GraftFunctions.install(spark)
    // values measured from DuckDB's rapidfuzz implementation (the
    // oracle engine), including its non-textbook corners: empty-empty
    // is 0.0, transpositions halve by INTEGER division, boost gated
    // at jaro > 0.7
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("dwayne", "duane", 0.8400000000000001),
      ("abc", "abc", 1.0),
      ("", "", 0.0),
      ("a", "", 0.0),
      ("eadec", "ccbdaaea", 0.6833333333333332),   // integer-halved trans
      ("aedacc", "aecdcab", 0.9174603174603175),   // boost over int-trans jaro
      ("cbhad", "cdgg", 0.48333333333333334))      // prefix present, no boost ≤0.7
    for ((a, b, want) <- cases) {
      val got = spark.sql(s"SELECT jaro_winkler('$a', '$b') AS s")
        .collect()(0).getDouble(0)
      assert(got == want, s"jaro_winkler($a, $b): got $got want $want")
      // interpreted eval path agrees with codegen
      val interp = org.apache.spark.sql.graftx.JaroWinklerImpl.similarity(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(interp == want)
    }
    val p = Relational.queries("q_join_jarowinkler")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("jaro_winkler"), p.take(2000))
    assert(!p.contains("CodegenFallback"), "jaro_winkler must stay codegen'd")
  }

  test("nfc_normalize: composes combining sequences, identity fast path, SQL surface") {
    org.apache.spark.sql.graftx.GraftFunctions.install(spark)
    val cases = Seq(
      ("e\u0301", "\u00e9"),            // e + combining acute -> precomposed
      ("A\u030a", "\u00c5"),            // A + ring -> precomposed
      ("\u00e9", "\u00e9"),             // already NFC: unchanged
      ("\u0438\u0301", "\u0438\u0301"), // Cyrillic + acute: no composition exists
      ("plain ascii", "plain ascii"),
      ("", ""))
    for ((in_, want) <- cases) {
      val got = org.apache.spark.sql.graftx.NfcNormalizeImpl.normalize(
        org.apache.spark.unsafe.types.UTF8String.fromString(in_)).toString
      assert(got == want, s"nfc(${in_}): got $got want $want")
    }
    // SQL surface + codegen round trip on a DataFrame
    import spark.implicits._
    val df = Seq("e\u0301cole", "cafe\u0301").toDF("s")
      .selectExpr("nfc_normalize(s) AS n")
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("\u00e9cole", "caf\u00e9"))
  }

  test("ANN broadcasts the query set, never the candidate table") {
    // At 100 TB the candidate table must STREAM through the join; only
    // the (tiny, filtered) query set may ride a BroadcastExchange.
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    for (name <- Seq("q_ann_ivf", "q_ann_topk")) {
      val exec = Relational.queries(name)(spark, dir).queryExecution.sparkPlan
      val builds = exec.collect {
        case j: BroadcastHashJoinExec =>
          if (j.buildSide == BuildRight) j.right else j.left
        case j: BroadcastNestedLoopJoinExec =>
          if (j.buildSide == BuildRight) j.right else j.left
      }
      assert(builds.nonEmpty, s"$name: no broadcast join in\n$exec")
      builds.foreach { b =>
        val t = b.toString
        assert(t.contains("vec_id") && t.contains("< 10"),
          s"$name: broadcast build side is not the filtered query set:\n$t")
      }
    }
    // and the IVF variant joins on the inverted-list id (hash, not NLJ)
    val ivf = Relational.queries("q_ann_ivf")(spark, dir).queryExecution.sparkPlan.toString
    assert(ivf.contains("BroadcastHashJoin"), ivf)
  }

  test("multi-probe IVF broadcasts only probe/centroid sides (candidates stream)") {
    // nprobe=2 must keep the nprobe=1 shape: every broadcast build side
    // is either the filtered query/probe set or the k-row centroid
    // literal — the candidate table itself streams through the hash
    // join on the list id at any scale
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val exec = Relational.queries("q_ann_ivf_multiprobe")(spark, dir).queryExecution.sparkPlan
    val builds = exec.collect {
      case j: BroadcastHashJoinExec =>
        if (j.buildSide == BuildRight) j.right else j.left
      case j: BroadcastNestedLoopJoinExec =>
        if (j.buildSide == BuildRight) j.right else j.left
    }
    assert(builds.nonEmpty, s"no broadcast join in\n$exec")
    builds.foreach { b =>
      val t = b.toString
      assert(t.contains("< 10") || t.contains("LocalTableScan"),
        s"broadcast build side is neither the probe set nor the centroid literal:\n$t")
    }
    assert(!exec.toString.contains("CartesianProduct"), exec.toString.take(2000))
  }

  test("bucketed tables join without an exchange (co-located join)") {
    // the 100 TB conv-level story: transcripts and per-conv metadata
    // bucketed by conv key join with ZERO shuffle — both sides' bucket
    // layout satisfies the join's distribution requirement
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("plan-bucket").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.range(0, 5000).map(i => (i, s"conv-$i", (i % 97).toInt))
        .toDF("k", "conv", "n")
        .write.mode("overwrite").option("path", s"$wh/t_a")
        .bucketBy(8, "k").sortBy("k").saveAsTable("graft_bucket_a")
      spark.range(0, 3000).map(i => (i, i * 2.5)).toDF("k", "score")
        .write.mode("overwrite").option("path", s"$wh/t_b")
        .bucketBy(8, "k").saveAsTable("graft_bucket_b")
      val j = spark.table("graft_bucket_a").join(spark.table("graft_bucket_b"), "k")
      assert(j.collect().length == 3000)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n${plan.take(3000)}")
      assert(plan.contains("SortMergeJoin"), plan.take(1000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("AQE splits a skewed join at runtime (the 100 TB hot-key story)") {
    // heavy-tailed keys are the norm in conversation corpora; the
    // relational layer leans on AQE's skew-join splitting (documented in
    // README/SURVEY) — gate that it actually engages on this session's
    // config when a partition is pathological
    import spark.implicits._
    val prev = (
      spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val hot = spark.range(0, 200000).map(i => (0L, s"payload-$i-${"x" * 40}"))
        .toDF("k", "v")
      val tail = spark.range(1, 64).map(i => (i, s"t$i")).toDF("k", "v2")
        .union(Seq((0L, "t0")).toDF("k", "v2"))
      val joined = hot.join(tail, "k")
      // materialize THIS query execution — AQE finalizes the plan only
      // for the execution that actually ran (count() would spawn a new
      // one and leave this plan isFinalPlan=false)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE skew split did not engage:\n${plan.take(3000)}")
    } finally {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", prev._1)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", prev._2)
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prev._3)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev._4)
    }
  }

  test("kmeans assignment broadcasts the k-row centroid set, never all-pairs data") {
    // Lloyd assignment must be candidates × (k=8 broadcast centroid
    // rows) — a BroadcastNestedLoopJoin whose BUILD side is the
    // centroid relation — and must never plan a CartesianProduct over
    // the vector table itself
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val exec = Relational.queries("q_ann_kmeans")(spark, dir).queryExecution.sparkPlan
    assert(!exec.toString.contains("CartesianProduct"), exec.toString.take(2000))
    val builds = exec.collect {
      case j: BroadcastNestedLoopJoinExec =>
        if (j.buildSide == BuildRight) j.right else j.left
    }
    assert(builds.nonEmpty, s"no broadcast join in kmeans assignment:\n$exec")
    builds.foreach { b =>
      assert(b.toString.contains("cid"),
        s"kmeans broadcast build side is not the centroid set:\n$b")
    }
    // the learned-IVF search: every broadcast build side is either the
    // k-row centroid set (assignment) or the filtered query set
    // (search); the candidate table itself never rides a broadcast
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val searchExec = Relational.queries("q_ann_ivf_kmeans")(spark, dir)
      .queryExecution.sparkPlan
    assert(!searchExec.toString.contains("CartesianProduct"))
    val searchBuilds = searchExec.collect {
      case j: BroadcastHashJoinExec =>
        if (j.buildSide == BuildRight) j.right else j.left
      case j: BroadcastNestedLoopJoinExec =>
        if (j.buildSide == BuildRight) j.right else j.left
    }
    assert(searchBuilds.nonEmpty)
    searchBuilds.foreach { b =>
      val t = b.toString
      assert(t.contains("cid") || t.contains("< 10"),
        s"ivf_kmeans broadcast build side is neither centroids nor the query set:\n$t")
    }
  }

  test("shingle jaccard self-joins as a hash/merge equi-join on the gram hash") {
    // the inverted-index self-join must key on the shingle hash (an
    // equi-join Spark can shuffle or sort-merge); a CartesianProduct or
    // BroadcastNestedLoopJoin here would be the O(n²) corpus-scale bomb
    val p = graft.queries.Relational.queries("q_dedup_ngram_jaccard")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ngram jaccard degraded to an all-pairs join:\n${p.take(3000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("conv-level minhash aggregates partially before the shuffle (hot-conv combine)") {
    // a heavy-tail conversation's tokens must combine map-side: the
    // signature agg groupBy(conv_id, band).min must be a partial+final
    // split (two HashAggregate/ObjectHashAggregate nodes around an
    // Exchange), not a single post-shuffle aggregation, or one hot conv
    // ships all its token hashes through the wire and straggles the
    // stage at corpus scale
    val p = graft.queries.TrainingData.queries("q_dedup_conv_minhash")(spark, dir)
      .queryExecution.executedPlan.toString
    val aggs = "(Hash|Sort|ObjectHash)Aggregate".r.findAllIn(p).size
    assert(aggs >= 4, s"expected partial+final agg pairs, found $aggs aggregate nodes:\n${p.take(3000)}")
    assert(p.contains("partial_min"), s"no partial min aggregation:\n${p.take(3000)}")
  }

  test("dedup resolve round is equi-joins on bounded keys (no cartesian)") {
    // each label-propagation round must be hash shuffles keyed by id/lbl
    // — an accidental cross join here is O(n²) per iteration at corpus
    // scale; the per-round cost must stay |V|+|E|. Gate the round
    // builder directly (the registered query materializes between
    // rounds, which truncates the inspectable plan).
    import org.apache.spark.sql.functions.{col, lit}
    val spark0 = spark
    import spark0.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val labels = Seq(1L, 2L, 3L, 4L).toDF("id").withColumn("lbl", col("id"))
    val p = Relational.resolveRound(labels, edges)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"label propagation degraded to an all-pairs join:\n${p.take(3000)}")
    // the min-label pull is a partial+final agg (hot node combines map-side)
    assert(p.contains("partial_min"), s"no partial min aggregation:\n${p.take(3000)}")
    // and the registered query still resolves correctly end-to-end with
    // its per-round materialization in place (tiny smoke at sf0.001)
    val out = plan("q_dedup_resolve")
    assert(out.nonEmpty)
  }

  test("no round-4 query degrades to a cartesian product") {
    // (codegen-span presence is not asserted here: checkpoint-fed and
    // AQE-wrapped plans legitimately render without a *(n) marker
    // before execution; the codegen-critical paths have their own
    // dedicated gates above)
    for (name <- Seq("q_curate_corpus", "q_map_ops", "q_array_ops",
        "q_join_nullsafe", "q_time_ops", "q_string_ops", "q_agg_corr",
        "q_window_pctrank", "q_ann_ivf_multiprobe")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
  }

  test("no round-5 query degrades to a cartesian; time-range window runs a RANGE frame") {
    // q_table_* share one memoized table build (side-effectful but
    // deterministic); the first plan() pays it once at sf0.001
    for (name <- Seq("q_window_timerange", "q_table_merge", "q_table_asof",
        "q_table_changes")) {
      val p = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
    // the 7-day rolling window must be a value-distance RANGE frame,
    // not a row frame (row frames would be wrong under ts ties and
    // could not express the interval at all)
    val w = plan("q_window_timerange")
    assert(w.contains("RangeFrame") || w.contains("RANGE BETWEEN"),
      s"q_window_timerange is not running a RANGE frame:\n${w.take(2000)}")
    // the scalar corpus passes are scan+map only: a shuffle in front of
    // a per-row redaction/sampling pass would be a 100 TB-scale bug
    for (name <- Seq("q_text_redact", "q_sample_stratified")) {
      val p = plan(name)
      // the final orderBy is presentation; assert no exchange BEFORE it
      val body = p.split("Sort ").head
      assert(!body.contains("Exchange hashpartitioning"),
        s"$name shuffles before its scalar pass:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), p.take(1500))
    }
    // repetition + packing: no cartesian, aggs/windows only
    for (name <- Seq("q_text_repetition", "q_pack_sequences"))
      assert(!plan(name).contains("CartesianProduct"), name)
  }

  test("native top-k-per-key: partial heaps below the key exchange, final above, no window") {
    import org.apache.spark.sql.functions._
    val p = plan("q_topk_native")
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p.take(2500))
    assert(!p.contains("Window"),
      s"native top-k must not fall back to a window sort:\n${p.take(2500)}")
    // tree prints root-first: final ABOVE the exchange ABOVE partial —
    // i.e. the shuffle moves only each partition's <= k-per-key heap
    val (iF, iE, iP) = (p.indexOf("TopKPerKeyFinal"),
      p.indexOf("Exchange hashpartitioning"), p.indexOf("TopKPerKeyPartial"))
    assert(iF >= 0 && iE > iF && iP > iE,
      s"expected final > exchange > partial ordering:\n${p.take(2500)}")
    // exactness of the two-phase split on a deliberately many-partition
    // input: result SET must equal the window-rank derivation
    val e = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .repartition(13)
    val native = graft.functions.TopK.topKPerKey(e, 3,
        Seq(col("user_id")), Seq(col("c").desc, col("event_id").asc))
      .collect().map(_.toSeq).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("c").desc, col("event_id"))
    val viaWindow = e.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .drop("rn").collect().map(_.toSeq).toSet
    assert(native == viaWindow && native.nonEmpty)
  }

  test("TPC-H shapes: tiny dims broadcast, EXISTS decorrelates to a semi join, no cartesian") {
    val q5 = plan("q_tpch_q5")
    assert(!q5.contains("CartesianProduct"), q5.take(2000))
    assert(q5.contains("BroadcastHashJoin"), s"nation/region dims not broadcast:\n${q5.take(2000)}")
    val q4 = plan("q_tpch_q4")
    assert(q4.contains("Semi"), s"EXISTS did not decorrelate to a semi join:\n${q4.take(2000)}")
    assert(!q4.contains("CartesianProduct"), q4.take(2000))
    // Q3's dim filter must reach the customer scan (pushdown), not a
    // post-join filter
    val q3 = plan("q_tpch_q3")
    assert(q3.contains("PushedFilters") && q3.contains("c_mktsegment"),
      s"segment filter not pushed to the scan:\n${q3.take(2500)}")
    // Q7: both nation sides broadcast; the disjunctive locality
    // predicate must not degrade the 6-way chain to a cartesian
    val q7 = plan("q_tpch_q7")
    assert(q7.contains("BroadcastHashJoin"), q7.take(2000))
    assert(!q7.contains("CartesianProduct"), q7.take(2000))
    // the shipdate range reaches the fact scan
    assert(q7.contains("PushedFilters") && q7.contains("l_shipdate"),
      s"shipdate range not pushed:\n${q7.take(2500)}")
    // Q13: the non-key join predicate must keep the OUTER join (a WHERE
    // would have let the optimizer degrade it to inner and drop
    // zero-order customers)
    val q13 = plan("q_tpch_q13")
    assert(q13.contains("LeftOuter"), s"outer join lost:\n${q13.take(2000)}")
    assert(!q13.contains("CartesianProduct"), q13.take(2000))
    // Q21: EXISTS + NOT EXISTS over the same fact decorrelate to one
    // semi and one anti join — never a per-row re-scan or cartesian
    val q21 = plan("q_tpch_q21")
    assert(q21.contains("Semi"), s"EXISTS not decorrelated:\n${q21.take(2500)}")
    assert(q21.contains("Anti"), s"NOT EXISTS not decorrelated:\n${q21.take(2500)}")
    assert(!q21.contains("CartesianProduct"), q21.take(2000))
    // Q22: the scalar aggregate lands as a broadcast (one row), the
    // never-ordered set as an anti join
    val q22 = plan("q_tpch_q22")
    assert(q22.contains("Anti"), s"NOT EXISTS not decorrelated:\n${q22.take(2500)}")
    assert(q22.contains("BroadcastNestedLoopJoin") || q22.contains("BroadcastHashJoin"),
      s"scalar side not broadcast:\n${q22.take(2500)}")
    assert(!q22.contains("CartesianProduct"), q22.take(2000))
    // Q10: the returnflag filter reaches the fact scan; nation broadcast
    val q10 = plan("q_tpch_q10")
    assert(q10.contains("PushedFilters") && q10.contains("l_returnflag"),
      s"returnflag not pushed:\n${q10.take(2500)}")
    assert(q10.contains("BroadcastHashJoin") && !q10.contains("CartesianProduct"),
      q10.take(2000))
    // Q19: the three-branch OR must keep the partkey EQUI-join — never
    // a nested-loop or cartesian fallback
    val q19 = plan("q_tpch_q19")
    assert(!q19.contains("CartesianProduct") && !q19.contains("BroadcastNestedLoopJoin"),
      s"disjunctive predicate degraded the join:\n${q19.take(2500)}")
    // Q8: dims broadcast, the p_type filter pushed to the part scan
    val q8 = plan("q_tpch_q8")
    assert(q8.contains("BroadcastHashJoin") && !q8.contains("CartesianProduct"),
      q8.take(2000))
    assert(q8.contains("PushedFilters") && q8.contains("p_type"),
      s"p_type not pushed:\n${q8.take(2500)}")
    // Q15: the scalar MAX lands as a subquery/broadcast, not a per-row
    // re-aggregation
    val q15 = plan("q_tpch_q15")
    assert(!q15.contains("CartesianProduct"), q15.take(2000))
    assert(q15.contains("Subquery") || q15.contains("BroadcastNestedLoopJoin") ||
      q15.contains("BroadcastHashJoin"), s"scalar max not planned once:\n${q15.take(2500)}")
    for (name <- Seq("q_tpch_q12", "q_tpch_q14")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
  }

  test("TPC-H partsupp family (Q2/Q9/Q11/Q16/Q20): decorrelated, broadcast, pushed") {
    // Q2: the correlated per-part MIN must decorrelate into one
    // aggregate joined back on partkey — never a per-part re-scan of
    // the supply relation; the part filters reach the scan
    val q2 = plan("q_tpch_q2")
    assert(!q2.contains("CartesianProduct"), q2.take(2000))
    assert(q2.contains("HashAggregate"), s"correlated min not decorrelated to an agg:\n${q2.take(2500)}")
    assert(q2.contains("PushedFilters") && q2.contains("p_type"),
      s"part filters not pushed:\n${q2.take(2500)}")
    // Q9: nation broadcast; the color filter reaches the part scan; the
    // composite-key supply join stays an equi-join
    val q9 = plan("q_tpch_q9")
    assert(q9.contains("BroadcastHashJoin") && !q9.contains("CartesianProduct"),
      q9.take(2000))
    assert(q9.contains("PushedFilters") && q9.contains("p_name"),
      s"p_name color filter not pushed:\n${q9.take(2500)}")
    // Q11: the one-row (total, n_parts) side joins via broadcast — the
    // global threshold must not shuffle the per-part aggregate again
    val q11 = plan("q_tpch_q11")
    assert(q11.contains("BroadcastNestedLoopJoin") || q11.contains("BroadcastHashJoin"),
      s"global total not broadcast:\n${q11.take(2500)}")
    assert(!q11.contains("CartesianProduct"), q11.take(2000))
    // Q16: the NOT-IN exclusion is a broadcast anti join; the size/type
    // filters reach the part scan
    val q16 = plan("q_tpch_q16")
    assert(q16.contains("Anti"), s"NOT IN not planned as anti join:\n${q16.take(2500)}")
    assert(q16.contains("PushedFilters") && q16.contains("p_size"),
      s"part filters not pushed:\n${q16.take(2500)}")
    assert(!q16.contains("CartesianProduct"), q16.take(2000))
    // Q20: both IN subqueries decorrelate to semi joins and the
    // correlated date-window sum plans as agg-then-join
    val q20 = plan("q_tpch_q20")
    assert(q20.contains("Semi"), s"IN not decorrelated to semi join:\n${q20.take(2500)}")
    assert(!q20.contains("CartesianProduct"), q20.take(2000))
  }

  test("preference pairs aggregate once; reservoir sample runs the native top-k") {
    // pref pairs: ONE partial+final hash agg keyed by group — no window
    // sort, no self-join, no cartesian
    val pp = plan("q_pref_pairs")
    assert("HashAggregate".r.findAllIn(pp).size >= 2,
      s"pref pairs not a partial+final agg:\n${pp.take(2000)}")
    assert(!pp.contains("Window") && !pp.contains("CartesianProduct") &&
      !pp.contains("SortMergeJoin"), s"pref pairs degraded:\n${pp.take(2000)}")
    // reservoir: the native two-phase heap operator, never a full
    // window sort of every group
    val rs = plan("q_sample_reservoir")
    assert(rs.contains("TopKPerKeyPartial") && rs.contains("TopKPerKeyFinal"),
      s"reservoir sample not using the native top-k operator:\n${rs.take(2000)}")
    assert(!rs.contains("Window"), s"reservoir fell back to a window:\n${rs.take(2000)}")
    // hard negatives: the tiny query set is the BROADCAST side of the
    // label-inequality join (candidates stream); never a cartesian
    val hn = plan("q_ann_hard_negatives")
    assert(hn.contains("BroadcastNestedLoopJoin") || hn.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n${hn.take(2000)}")
    assert(!hn.contains("CartesianProduct"), hn.take(2000))
    // length buckets: scan + scalar map + ONE partial+final agg
    val lb = plan("q_pack_lenbuckets")
    assert("HashAggregate".r.findAllIn(lb).size >= 2, lb.take(2000))
    assert(!lb.contains("Join"), s"unexpected join:\n${lb.take(2000)}")
  }

  test("bucketed join is co-located: SMJ with the only exchange being the final agg") {
    val p = plan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), s"merge hint lost:\n${p.take(2000)}")
    // both join inputs read pre-bucketed files — the ONLY shuffle in the
    // whole plan is the 3-group final aggregation, never the two fact
    // tables (that re-shuffle is exactly what bucketing buys at 100 TB)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected <=1 exchange (final agg), got $exchanges:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("optimizer rule strength-reduces self-dot to norm2; non-self dots untouched") {
    import org.apache.spark.sql.functions.{array, col, expr, lit}
    // parquet-backed input — a literal input would constant-fold the
    // whole expression away before the plan can show the rewrite
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(expr("transform(embedding, x -> cast(round(x * 1000) as bigint))").as("v"))
    val df = e.select(
      graft.functions.ArrayMath.dotL(col("v"), col("v")).as("n2"),
      graft.functions.ArrayMath.dotL(col("v"), array(lit(1L), lit(1L))).as("dot"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("long_array_norm2"),
      s"self-dot not rewritten (is GraftExtensions wired into the session?):\n$p")
    assert(p.contains("long_array_dot"), s"non-self dot must stay a dot:\n$p")
    // value equivalence on a real row
    val row = e.select(col("v"),
      graft.functions.ArrayMath.dotL(col("v"), col("v")).as("n2")).head()
    val v = row.getSeq[Long](0)
    assert(row.getLong(1) == v.map(x => x * x).sum)
    // and the rewrite is live in a real ANN plan (norms are dot(v,v))
    val ann = Relational.queries("q_ann_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(ann.contains("long_array_norm2"), ann.take(2000))
  }

  test("custom LongArrayDot participates in whole-stage codegen (no CodegenFallback)") {
    val p = Relational.queries("q_ann_topk")(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("long_array_dot") || p.contains("longarraydot") ||
      p.toLowerCase.contains("long_array_dot"), p.take(2000))
  }

  test("no session-6 query degrades to a cartesian; key new shapes hold") {
    for (name <- Seq("q_events_stickiness", "q_events_cuped",
        "q_privacy_kanon", "q_privacy_dp_hist", "q_text_zipf_decades",
        "q_text_burstiness", "q_text_repeated_ngrams",
        "q_events_churn_hazard", "q_events_ks_drift", "q_ann_ivf_recall",
        "q_embed_dimstats", "q_docs_simpson", "q_events_benford",
        "q_events_lifecycle", "q_embed_label_margin", "q_events_cohort_ltv",
        "q_text_novelty", "q_events_peak_concurrency",
        "q_events_interarrival_hist", "q_docs_source_overlap",
        "q_events_mann_whitney", "q_ann_kmeans_purity", "q_tpch_q1",
        "q_events_rfm", "q_events_calendar", "q_docs_datacard",
        "q_events_bitmap", "q_events_active_time", "q_graph_assortativity",
        "q_agg_multi_distinct")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
    // multi-distinct must ride ONE Expand (not distinct subquery joins)
    assert(plan("q_agg_multi_distinct").contains("Expand"),
      plan("q_agg_multi_distinct").take(2000))
    // the data card's corpus-wide dup flags are a semi join on the
    // fingerprint, never a doc-pair join
    assert(plan("q_docs_datacard").contains("Semi"),
      plan("q_docs_datacard").take(2000))
    // Q1 proper: the shipdate cutoff dies at the parquet scan
    assert(plan("q_tpch_q1").contains("PushedFilters: [IsNotNull(l_shipdate)"),
      plan("q_tpch_q1").take(2000))
    // the recall sweep's candidate arms broadcast (query set + brute
    // truth + centroids), so candidates stream through hash joins
    assert(plan("q_ann_ivf_recall").contains("BroadcastHashJoin"),
      plan("q_ann_ivf_recall").take(2000))
  }

  test("no round-5-late query degrades to a cartesian; Q6 predicates reach the scan") {
    for (name <- Seq("q_graph_pagerank", "q_text_tfidf", "q_dedup_url",
        "q_events_retention", "q_text_countmin", "q_agg_quantiles",
        "q_tpch_q6", "q_text_hll_by_source", "q_dedup_component_sizes",
        "q_events_outliers", "q_text_chunks", "q_text_bigram_lm",
        "q_sample_mixture", "q_events_alternation", "q_window_locf",
        "q_agg_spearman", "q_agg_equidepth", "q_text_oov",
        "q_dedup_prefix_filter",
        // this session's additions (the PMI/jaro joins and the nation
        // dim cross in rolling-distinct must all stay keyed/broadcast;
        // the single-row total in q_text_pmi rides an explicit
        // broadcast nested-loop cross, which is not a CartesianProduct)
        "q_text_pmi", "q_join_jarowinkler", "q_events_rolling_distinct",
        "q_events_mad", "q_quality_expectations", "q_text_nfc",
        "q_dedup_savings", "q_text_langid_confusion")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
    // Q6 is THE pushdown query: the date band and quantity cut must
    // die at the parquet scan, not in a post-scan Filter — at 100 TB
    // that is the difference between reading one year and reading all
    // (the rendered PushedFilters list truncates, so assert on the
    // leading entries + the pruned ReadSchema rather than the tail)
    val q6 = plan("q_tpch_q6")
    assert(q6.contains("GreaterThanOrEqual(l_shipdate,1996-01-01"),
      s"Q6 date band not pushed:\n${q6.take(2000)}")
    val q6schema = q6.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!q6schema.contains("l_orderkey") && !q6schema.contains("l_comment"),
      s"Q6 scan reads unneeded columns: $q6schema")
    // bigram pair extraction must be per-row array work, not a
    // posexplode+lag window — at 100 TB the window form shuffles every
    // token once before the first aggregation even starts
    assert(!plan("q_text_bigram_lm").contains("Window"),
      plan("q_text_bigram_lm").take(2000))
    // chunking is per-doc generate — the only exchange is the final
    // presentation sort, never a hash repartition of the chunk stream
    val chunks = plan("q_text_chunks")
    assert(!chunks.contains("hashpartitioning"), chunks.take(2000))
    // the 1000-row vocabulary must broadcast — shuffling the full
    // token stream to join a bounded dim is the classic 100 TB mistake
    assert(plan("q_text_oov").contains("BroadcastHashJoin"),
      plan("q_text_oov").take(2000))
  }

  test("no round-5-session-3 query degrades to a cartesian; bloom probe broadcasts its filters") {
    for (name <- Seq("q_profile_columns", "q_events_props_json", "q_agg_mode",
        "q_join_editdist", "q_graph_khop", "q_window_hopping",
        "q_events_winsorized", "q_text_lm_surprisal", "q_dedup_semantic",
        "q_dedup_minhash_eval", "q_agg_entropy")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
    // the bloom probe is an INTENTIONAL broadcast nested loop: 25 tiny
    // filter rows shipped to every probe task (the deployment shape) —
    // it must be the broadcast form, never a shuffle cartesian
    val b = plan("q_sketch_bloom")
    assert(!b.contains("CartesianProduct"), b.take(2000))
    assert(b.contains("BroadcastNestedLoopJoin"),
      s"bloom probe must broadcast the 25 filters:\n${b.take(2000)}")
    // blocked edit-distance linkage joins on the block key (equi), with
    // levenshtein evaluated only on in-block candidates
    val e = plan("q_join_editdist")
    assert(e.contains("levenshtein") &&
      (e.contains("SortMergeJoin") || e.contains("ShuffledHashJoin") ||
        e.contains("BroadcastHashJoin")), e.take(2000))
  }

  test("duplicate-span mining semi-joins on the gram; importance lifts broadcast") {
    // q_dedup_spans: the dup-gram membership check must be a semi join
    // on the gram key (hash or merge — never a per-row re-scan or
    // cartesian), and the island merge must run as a real window
    val sp = plan("q_dedup_spans")
    assert(!sp.contains("CartesianProduct"), sp.take(2000))
    assert(sp.contains("Semi"), s"dup-gram check not a semi join:\n${sp.take(2500)}")
    assert(sp.contains("Window"), s"island merge lost its window:\n${sp.take(2500)}")
    // q_sample_importance: the 64-row lift table must broadcast back to
    // the per-doc counts; the only joins are broadcasts (lift + totals)
    val im = plan("q_sample_importance")
    assert(!im.contains("CartesianProduct"), im.take(2000))
    assert(im.contains("BroadcastHashJoin") || im.contains("BroadcastNestedLoopJoin"),
      s"lift table not broadcast:\n${im.take(2500)}")
    assert(!im.contains("SortMergeJoin") && !im.contains("ShuffledHashJoin"),
      s"importance scoring must not shuffle-join:\n${im.take(2500)}")
  }

  test("k-core peel round: two semi joins on the survivor set, no cartesian") {
    import org.apache.spark.sql.functions.{col, count, lit}
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 3).select(col("src").as("keep_id"))
    val round = edges
      .join(keep, col("src") === col("keep_id"), "left_semi")
      .join(keep, col("dst") === col("keep_id"), "left_semi")
    val p = round.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert("Semi".r.findAllIn(p).size >= 2, s"expected two semi joins:\n$p")
  }

  test("cusum broadcasts its per-type means; nearest/interval joins stay equi (no cartesian)") {
    // q_events_cusum: the k-row per-type mean table must broadcast back
    // over the fact scan — shuffling 100 TB of events to meet 10 rows
    // is the classic dim-join mistake
    val c = plan("q_events_cusum")
    assert(c.contains("BroadcastHashJoin"), c.take(2000))
    assert(!c.contains("CartesianProduct"), c.take(2000))
    // q_join_asof_nearest: per-user equi-join + bounded window, never a
    // time-cross product
    val a = plan("q_join_asof_nearest")
    assert(!a.contains("CartesianProduct") &&
      !a.contains("BroadcastNestedLoopJoin"), a.take(2000))
    // q_join_interval_overlap: the whole point of the week-bucket
    // banding is that the range predicate rides an EQUI join on
    // (user, week) — a cartesian or nested-loop plan means the
    // decomposition failed
    val i = plan("q_join_interval_overlap")
    assert(!i.contains("CartesianProduct") &&
      !i.contains("BroadcastNestedLoopJoin"), i.take(2000))
    assert(i.contains("SortMergeJoin") || i.contains("ShuffledHashJoin") ||
      i.contains("BroadcastHashJoin"), i.take(2000))
  }

  test("Q18 IN-HAVING decorrelates to a semi join; replica diff and drift broadcast their tiny sides") {
    // the IN over the grouped lineitem must become a join against ONE
    // aggregation of the fact table, never a per-row re-scan
    val q = plan("q_tpch_q18")
    assert(q.contains("Semi"), q.take(2000))
    assert(!q.contains("CartesianProduct"), q.take(2000))
    // anti-entropy: the dirty-bucket list (≤64 rows) must broadcast into
    // both repair-side semi joins — shuffling the full replicas to meet
    // it would defeat the protocol's entire point
    val r = plan("q_replica_diff")
    assert(!r.contains("CartesianProduct"), r.take(2000))
    assert(r.contains("BroadcastHashJoin") && r.contains("LeftSemi"),
      r.take(2000))
    // drift: the k-row per-type midpoint table broadcasts over the fact
    // scan (same shape as the cusum mean join)
    val d = plan("q_events_drift")
    assert(d.contains("BroadcastHashJoin"), d.take(2000))
    assert(!d.contains("CartesianProduct"), d.take(2000))
  }

  test("skyline windows the aggregated frame, never self-joins; sketch/temperature stay equi") {
    // the dominance window must be a value-RANGE frame over the
    // per-length aggregate — a raw-corpus self-join (the naive skyline)
    // would be quadratic at 100 TB
    val sk = plan("q_docs_skyline")
    assert(sk.contains("RangeFrame") || sk.contains("RANGE BETWEEN"), sk.take(2000))
    assert(!sk.contains("CartesianProduct") &&
      !sk.contains("BroadcastNestedLoopJoin"), sk.take(2000))
    for (name <- Seq("q_sketch_hll_setops", "q_sample_temperature")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
  }

  test("PQ codebook broadcasts; incremental dedup probes by hash join; unpivot expands") {
    // the 32-row codebook must be the broadcast side — shuffling the
    // vector stream to meet it would ship the 100 TB payload
    val pq = plan("q_ann_pq")
    assert(pq.contains("BroadcastHashJoin"), pq.take(2000))
    assert(!pq.contains("CartesianProduct") &&
      !pq.contains("BroadcastNestedLoopJoin"), pq.take(2000))
    // wave→index probe is an equi hash/SMJ on (band, sig) — at ingest
    // scale this is O(wave), and never a nested-loop rescan
    val inc = plan("q_dedup_incremental")
    assert(!inc.contains("CartesianProduct") &&
      !inc.contains("BroadcastNestedLoopJoin"), inc.take(2000))
    // native unpivot plans ONE Expand pass, not a per-measure union of
    // re-scans (the Expand multiplies rows after the 3-row aggregate)
    val up = plan("q_unpivot")
    assert(up.contains("Expand"), up.take(2000))
    assert("Scan parquet".r.findAllIn(up).size <= 1, up.take(2000))
    for (name <- Seq("q_events_markov", "q_text_distinct_ngrams"))
      assert(!plan(name).contains("CartesianProduct"), name)
    // ADC search: both the codebook join and the LUT join broadcast the
    // tiny side — the corpus-sized codes stream; never a nested loop
    val adc = plan("q_ann_adc")
    assert(adc.contains("BroadcastHashJoin"), adc.take(2000))
    assert(!adc.contains("CartesianProduct") &&
      !adc.contains("BroadcastNestedLoopJoin"), adc.take(2000))
    for (name <- Seq("q_events_pattern", "q_sample_epochs"))
      assert(!plan(name).contains("CartesianProduct"), name)
  }

  test("basket pairs stay an equi self-join; search AND broadcasts its term set") {
    // pair generation must join on the order key (basket-bounded
    // blowup), never a cartesian over parts
    val bp = plan("q_basket_pairs")
    assert(!bp.contains("CartesianProduct"), bp.take(2000))
    // the 3-term query set is the broadcast side of the postings probe
    val sa = plan("q_text_search_and")
    assert(sa.contains("BroadcastHashJoin"), sa.take(2000))
    assert(!sa.contains("CartesianProduct"), sa.take(2000))
    for (name <- Seq("q_quality_fk", "q_table_compact_plan"))
      assert(!plan(name).contains("CartesianProduct"), name)
    // the Lloyd-trained encode joins the 32-row codebook broadcast-side
    // exactly like the sample-codebook encode
    val pql = plan("q_ann_pq_lloyd")
    assert(pql.contains("BroadcastHashJoin"), pql.take(2000))
    assert(!pql.contains("CartesianProduct"), pql.take(2000))
  }

  test("matryoshka sweep broadcasts its query set; regression is one hash agg") {
    // the truncation sweep fans out via a generator (Explode), never a
    // join against the dims list, and the query side broadcasts —
    // candidates stream exactly like q_ann_topk
    val mt = plan("q_ann_matryoshka")
    assert(mt.contains("Generate explode"), mt.take(2000))
    assert(!mt.contains("CartesianProduct"), mt.take(2000))
    // per-group OLS: a single partial+final HashAggregate pair over the
    // scan — no window, no join, no second pass
    val rg = plan("q_agg_regression")
    assert(rg.contains("HashAggregate"), rg.take(2000))
    assert(!rg.contains("SortAggregate") && !rg.contains("Window") &&
      !rg.contains("Join"), rg.take(2000))
    // trending: the 1-row max-day side broadcasts into the per-(item,
    // day) partial agg — the event-grain rows never join anything
    val tr = plan("q_events_trending")
    assert(tr.contains("Broadcast"), tr.take(2000))
    assert(!tr.contains("CartesianProduct"), tr.take(2000))
    // BFS distance: the returned relation reads the converged
    // checkpoint; no round leaves a cartesian behind
    assert(!plan("q_graph_sssp").contains("CartesianProduct"))
    // winnowing is fully row-local now (the w=4 sliding min and the
    // survivor distinct fold inside each document's own row): the plan
    // must be scan + projects with NO explode, NO window shuffle and
    // NO join of any kind above the scan
    val wn = plan("q_text_minimizers")
    assert(!wn.contains("Generate") && !wn.contains("Window"), wn.take(2000))
    assert(!wn.contains("Join") && !wn.contains("CartesianProduct"), wn.take(2000))
    // Kneser-Ney: type-table aggs join back hash-side; the 1-row type
    // total broadcasts; nothing degrades to a cartesian
    val kn = plan("q_text_kneser_ney")
    assert(kn.contains("Broadcast"), kn.take(2000))
    assert(!kn.contains("CartesianProduct"), kn.take(2000))
    // EWMA: exactly one window shuffle, no join anywhere
    val ew = plan("q_window_ewma")
    assert(ew.contains("Window") && !ew.contains("Join"), ew.take(2000))
    // RRF: both rankers bound their lists with a distributed top-k
    // BEFORE the single-partition ranking window; tiny sides broadcast
    val rr = plan("q_text_rrf")
    assert(rr.contains("TakeOrderedAndProject"), rr.take(2000))
    assert(rr.contains("Broadcast"), rr.take(2000))
    assert(!rr.contains("CartesianProduct"), rr.take(2000))
    // conversion lag: user-sharded left join + two hash aggs
    val cl = plan("q_events_conversion_lag")
    assert(!cl.contains("CartesianProduct"), cl.take(2000))
    // zone maps: the 1-row min/max broadcasts; no sort of the data
    // anywhere (range-bucketing is arithmetic, not a global ordering)
    val zm = plan("q_table_zonemap")
    assert(zm.contains("Broadcast"), zm.take(2000))
    assert(!zm.contains("CartesianProduct"), zm.take(2000))
    // attribution: ONE RANGE-framed window, no join of any kind
    val at = plan("q_events_attribution")
    assert(at.contains("Window") && !at.contains("Join"), at.take(2000))
    // band join: value-grain fan-out joins on (type, bucket) — an
    // equi hash/merge join, never a theta/cartesian
    val bj = plan("q_join_band")
    assert(bj.contains("Generate"), bj.take(2000))
    assert(!bj.contains("CartesianProduct") &&
      !bj.contains("BroadcastNestedLoopJoin"), bj.take(2000))
    // concentration metrics: windows over aggregates, no joins
    for (name <- Seq("q_agg_gini", "q_events_power_users")) {
      val p = plan(name)
      assert(p.contains("Window") && !p.contains("Join"), name + ": " + p.take(1500))
    }
    // rolling slope: one window shuffle, five frame sums, no join
    val rs = plan("q_window_rolling_slope")
    assert(rs.contains("Window") && !rs.contains("Join"), rs.take(2000))
    // coverage: the rank window runs AFTER the distributed top-k
    val cv = plan("q_text_coverage")
    assert(cv.contains("TakeOrderedAndProject"), cv.take(2000))
    assert(!cv.contains("CartesianProduct"), cv.take(2000))
    // hapax: two hash aggs, nothing else
    val hx = plan("q_text_hapax")
    assert(hx.contains("HashAggregate") && !hx.contains("Join") &&
      !hx.contains("Window"), hx.take(2000))
    // link prediction: wedge equi-join + anti join, top-20 is a
    // distributed TakeOrdered, no cartesian
    val lp = plan("q_graph_link_pred")
    assert(lp.contains("TakeOrderedAndProject"), lp.take(2000))
    assert(!lp.contains("CartesianProduct"), lp.take(2000))
    // balanced sampling runs the native per-key top-k (partial heaps
    // below the label exchange), not a window rank
    val sb = plan("q_sample_balanced")
    assert(sb.contains("TopKPerKey") || sb.contains("topk"), sb.take(2000))
    assert(!sb.contains("Window"), sb.take(2000))
    // weighted median: ONE cumsum window over the value grain (after
    // the hash agg); the per-flag total rides a bounded broadcast join
    // instead of a second unbounded-frame window pass (r6: the
    // whole-partition window buffer is the term that hurts at scale)
    val wm = plan("q_agg_weighted_median")
    assert(wm.contains("Window") && wm.contains("HashAggregate") &&
      wm.contains("BroadcastHashJoin"), wm.take(2000))
    assert(!wm.contains("SortMergeJoin") && !wm.contains("CartesianProduct"),
      wm.take(2000))
    assert("Window".r.findAllIn(wm).length <= 2, wm.take(2000))
    // higher moments: one partial+final hash agg, no window, no join
    val mo = plan("q_agg_moments")
    assert(mo.contains("HashAggregate") && !mo.contains("Window") &&
      !mo.contains("Join"), mo.take(2000))
    // hive-partitioned read: the predicate lands in PartitionFilters
    // (directory pruning), not a post-scan Filter on the partition col
    // (lives in TrainingData — it writes the layout before reading)
    val sp = graft.queries.TrainingData.queries("q_source_partitioned")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(sp.contains("PartitionFilters: [") &&
      sp.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_type"), sp.take(2000))
    // star join on the partition column: Spark plants a dynamic
    // pruning subquery into the fact scan — only dim-selected
    // partition directories are ever listed
    val dp = graft.queries.TrainingData.queries("q_source_dpp")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(dp.toLowerCase.contains("dynamicpruning"), dp.take(3000))
    // chi-square drift: vocab-grain aggs + equi joins, no cartesian
    // (the 1-row corpus total broadcasts)
    val cq = plan("q_text_chisq_drift")
    assert(!cq.contains("CartesianProduct"), cq.take(2000))
    // radius search: query set broadcasts, candidates stream, the
    // per-query rollup keeps output bounded — no window, no rank
    val rq = plan("q_ann_range")
    assert(rq.contains("Broadcast") && !rq.contains("Window"), rq.take(2000))
    // autocorrelation: the lag-24 pairing is an equi self-join on the
    // HOUR-grain aggregate, never a window over the event stream
    val ac = plan("q_events_autocorr")
    assert(!ac.contains("Window") && !ac.contains("CartesianProduct"),
      ac.take(2000))
    // bootstrap: replicas come from a generator fan (no join), one
    // partial+final hash agg
    val bs = plan("q_sample_bootstrap")
    assert(bs.contains("Generate") && !bs.contains("Join"), bs.take(2000))
  }

  test("session-8 additions: anova/interpolate/rake plan shapes") {
    // ANOVA: the k-group moment sums are ONE partial+final hash agg
    // (map-side combine before the event_type shuffle); the final
    // k-row fold must not plan a second pass over the events scan
    val an = plan("q_agg_anova")
    assert(an.contains("partial"), an.take(2000))
    assert(!an.contains("CartesianProduct"), an.take(2000))
    // interpolation: both neighbor frames ride ONE user-keyed window
    // shuffle — a second exchange would double the 100 TB sort cost
    val ip = plan("q_window_interpolate")
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(ip).length
    assert(exchanges == 1, s"expected 1 user-keyed exchange, got $exchanges:\n${ip.take(2000)}")
    // RAKE: every stage is a hash agg or equi-join on token/phrase
    // keys; the top-50 must be a distributed TakeOrdered, not a global
    // sort materializing every phrase
    val rk = plan("q_text_rake")
    assert(!rk.contains("CartesianProduct"), rk.take(2000))
    assert(rk.contains("TakeOrderedAndProject"), rk.take(2000))
    // change point: prefix AND grand moments ride ONE type-keyed
    // window shuffle — a join against a separate totals agg would
    // re-shuffle the event stream
    val cp = plan("q_events_changepoint")
    val cpEx = "Exchange hashpartitioning".r.findAllIn(cp).length
    assert(cpEx == 1, s"expected 1 type-keyed exchange, got $cpEx:\n${cp.take(2000)}")
    assert(!cp.contains("Join"), cp.take(2000))
    // Gopher rules: pure in-row scalar pass — no shuffle before the
    // presentation sort, no join, no window
    val gr = plan("q_docs_gopher_rules")
    assert(!gr.contains("Join") && !gr.contains("Window"), gr.take(2000))
    // LPA rounds materialize via localCheckpoint; the final read must
    // not re-derive the graph (checkpoint-cadence rule)
    val lp = plan("q_graph_label_prop")
    assert(!lp.contains("CartesianProduct"), lp.take(2000))
    // bin packing: the rank is PER SOURCE — a global Window.orderBy
    // would single-partition the corpus at 100 TB
    val bp = plan("q_pack_binpack")
    assert(!bp.contains("SinglePartition"), bp.take(2000))
    // drawdown: window + rollup share ONE user-keyed exchange
    val dd = plan("q_window_drawdown")
    val ddEx = "Exchange hashpartitioning".r.findAllIn(dd).length
    assert(ddEx == 1, s"expected 1 user-keyed exchange, got $ddEx:\n${dd.take(2000)}")
    // feature hashing: vocabulary-free — no join, no broadcast, one
    // (doc, dim) hash agg over the token stream
    val fh = plan("q_text_feature_hash")
    assert(!fh.contains("Join"), fh.take(2000))
    // Kaplan–Meier: the horizon joins in as a 1-row broadcast; the
    // global windows run over bounded day-grain rows only
    val km = plan("q_events_kaplan_meier")
    assert(km.contains("Broadcast") && !km.contains("CartesianProduct"),
      km.take(2000))
    // grouped k-fold: one hash agg, no join (the leakage guard is the
    // hash, not a lookup)
    val kf = plan("q_sample_group_kfold")
    assert(!kf.contains("Join"), kf.take(2000))
    // Cramér's V: margins ride bounded window sums over the CELLS,
    // never a second pass over the documents scan
    val cv = plan("q_agg_cramers_v")
    val cvScans = "Scan parquet".r.findAllIn(cv).length
    assert(cvScans == 1, s"expected 1 documents scan, got $cvScans:\n${cv.take(2000)}")
    // modularity: reads the checkpointed LPA labels + memoized pair
    // list — equi-joins and hash aggs only
    val md = plan("q_graph_modularity")
    assert(!md.contains("CartesianProduct"), md.take(2000))
    // best-survivor: bounded per-component top-1 window over the
    // memoized components, one docs equi-join
    val bsv = plan("q_dedup_best_survivor")
    assert(!bsv.contains("CartesianProduct"), bsv.take(2000))
    // SPC rules: zone flags + consecutive counters all ride ONE
    // user-keyed exchange (same partitioning, chained Window ops)
    val spc = plan("q_events_spc_rules")
    val spcEx = "Exchange hashpartitioning".r.findAllIn(spc).length
    assert(spcEx == 1, s"expected 1 user-keyed exchange, got $spcEx:\n${spc.take(2000)}")
    // IDF-weighted jaccard: token-keyed equi-joins only, weights never
    // broadcast as a full vocab
    val jw = plan("q_dedup_jaccard_idf")
    assert(!jw.contains("CartesianProduct"), jw.take(2000))
    // ITS: both segments' five-sum pairs in ONE conditional hash agg
    // over one scan (the split joins in as a 1-row broadcast)
    val its = plan("q_events_its")
    val itsScans = "Scan parquet".r.findAllIn(its).length
    assert(itsScans == 2 && its.contains("Broadcast"),
      s"expected events scan + 1-row split scan:\n${its.take(2000)}")
    // DiD: same shape — four cells from one conditional agg
    val did = plan("q_events_did")
    assert(!did.contains("CartesianProduct") || did.contains("Broadcast"),
      did.take(2000))
    // Neyman: the k-row denominator joins back as a 1-row broadcast;
    // Yule's K is two chained hash aggs, no window, no join
    val ny = plan("q_sample_neyman")
    assert(ny.contains("Broadcast"), ny.take(2000))
    val yk = plan("q_text_yule_k")
    assert(!yk.contains("Join") && !yk.contains("Window"), yk.take(2000))
    // SAX: chunking + tiling + assembly all user-keyed — exactly one
    // user exchange, no join
    val sx = plan("q_window_sax")
    val sxEx = "Exchange hashpartitioning".r.findAllIn(sx).length
    assert(sxEx == 1 && !sx.contains("Join"),
      s"expected 1 user-keyed exchange, got $sxEx:\n${sx.take(2000)}")
    // MDE: one conditional agg over one scan, no join
    val mde = plan("q_events_mde")
    assert(!mde.contains("Join"), mde.take(2000))
    // wide-table denormalization: every dim is a broadcast hash join —
    // the only shuffle joins the fact rollup to orders
    val fw = plan("q_feature_wide")
    val bhj = "BroadcastHashJoin".r.findAllIn(fw).length
    assert(bhj >= 3, s"expected 3 broadcast dim joins, got $bhj:\n${fw.take(2000)}")
    assert(!fw.contains("CartesianProduct"), fw.take(2000))
    // IVFADC: probes and LUT broadcast; candidates stream through
    // equi-joins — never a cartesian over the vector table
    val ia = plan("q_ann_ivfadc")
    assert(ia.contains("Broadcast") && !ia.contains("CartesianProduct"),
      ia.take(2000))
    // Markov stationary: the iterations read the CHECKPOINTED bounded
    // matrix — the corpus scan never re-derives per round
    val ms = plan("q_events_markov_stationary")
    assert(!ms.contains("CartesianProduct"), ms.take(2000))
    val msScans = "Scan parquet".r.findAllIn(ms).length
    assert(msScans == 0, s"stationary iterations re-scan the corpus:\n${ms.take(2000)}")
    // OHLC: endpoint ranks + bar fold on one (user, day) exchange
    val oh = plan("q_window_ohlc")
    val ohEx = "Exchange hashpartitioning".r.findAllIn(oh).length
    assert(ohEx == 1, s"expected 1 (user,day) exchange, got $ohEx:\n${oh.take(2000)}")
    // AMS: replica fan-out reads the CHECKPOINTED count table; the
    // 9-row median is a bounded window
    val am = plan("q_sketch_ams")
    assert(!am.contains("CartesianProduct"), am.take(2000))
  }

  test("session-9 additions: classifier/sketch/rolling/rank-test plan shapes") {
    // kNN classify: the tiny query set broadcasts; candidates stream
    // through ONE BroadcastHashJoin — never a cartesian or a shuffle
    // of the full vector table against itself
    val knn = plan("q_ann_knn_classify")
    assert(knn.contains("BroadcastHashJoin") || knn.contains("BroadcastNestedLoopJoin"),
      knn.take(2000))
    assert(!knn.contains("CartesianProduct"), knn.take(2000))
    // Rocchio: the 640-row centroid table broadcasts into the per-dim
    // distance join
    val ro = plan("q_embed_rocchio")
    assert(ro.contains("BroadcastHashJoin"), ro.take(2000))
    assert(!ro.contains("CartesianProduct"), ro.take(2000))
    // Bollinger: all three frame aggregates ride ONE type-keyed window
    // exchange, no join anywhere
    val bo = plan("q_window_bollinger")
    val boEx = "Exchange hashpartitioning".r.findAllIn(bo).length
    assert(boEx == 1, s"expected 1 type-keyed exchange, got $boEx:\n${bo.take(2000)}")
    assert(!bo.contains("Join"), bo.take(2000))
    // RSI: lag + both rolling sums share the same single exchange
    val rs = plan("q_window_rsi")
    val rsEx = "Exchange hashpartitioning".r.findAllIn(rs).length
    assert(rsEx == 1, s"expected 1 type-keyed exchange, got $rsEx:\n${rs.take(2000)}")
    // day-grain pair analytics (Theil-Sen / Mann-Kendall / HL /
    // cross-correlation): every pair fan-out is an equi-join on the
    // bounded day table — never a cartesian over the event stream
    for (name <- Seq("q_agg_theilsen", "q_events_mann_kendall",
        "q_agg_hodges_lehmann", "q_events_crosscorr", "q_events_stl")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
    // KMV + Count-Sketch: sketch builds are partial+final hash aggs
    // (map-side combine before the shuffle)
    for (name <- Seq("q_sketch_kmv", "q_sketch_countsketch")) {
      val p = plan(name)
      assert(p.contains("partial"), s"$name:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
    // Kruskal-Wallis: ranks come from the bounded distinct-value
    // table; the event stream shuffles once for the group sums
    val kw = plan("q_events_kruskal_wallis")
    assert(!kw.contains("CartesianProduct"), kw.take(2000))
    // HITS: every pull is an equi-join + partial/final sum; the
    // normalizer rides a 1-row broadcast (BNLJ is the sanctioned
    // 1-row cross shape, a CartesianProduct is not)
    val hi = plan("q_graph_hits")
    assert(!hi.contains("CartesianProduct"), hi.take(2000))
    // TextRank: the pagerank rounds read the checkpointed edge table —
    // the corpus scan never re-derives per round
    val tr = plan("q_text_textrank")
    val trScans = "Scan parquet".r.findAllIn(tr).length
    assert(trScans == 0, s"textrank rounds re-scan the corpus:\n${tr.take(2000)}")
  }

  test("session-10 additions: bloom-prefilter/eval/ring/nonparam plan shapes") {
    // bloom prefilter: the 1-row bloom rides a broadcast (BNLJ is the
    // sanctioned 1-row cross shape), the exact semi join broadcasts
    // the dim side, and the fact side never sort-merges
    val bl = plan("q_join_bloom_prefilter")
    assert(bl.contains("BroadcastNestedLoopJoin"), bl.take(2000))
    assert(bl.contains("BroadcastHashJoin") && bl.contains("LeftSemi"), bl.take(2000))
    assert(!bl.contains("SortMergeJoin"), bl.take(2000))
    // soft dedup weights: one extra hash agg over components — the
    // memoized resolution is reused, no corpus re-scan inside, and the
    // size join stays equi
    val sw = plan("q_dedup_soft_weights")
    assert(!sw.contains("CartesianProduct"), sw.take(2000))
    // AUC: ranks come from the BOUNDED score support (per-score hash
    // agg with map-side combine), never a per-row global sort window
    val au = plan("q_eval_auc")
    assert(au.contains("partial"), au.take(2000))
    assert(!au.contains("CartesianProduct"), au.take(2000))
    // consistent-hash ring: the 128-row ring broadcasts both times —
    // assignment and shard resolution — nothing shuffles with corpus
    // size except the per-key agg
    val ch = plan("q_sample_consistent_hash")
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findAllIn(ch).length >= 2,
      ch.take(2000))
    assert(!ch.contains("CartesianProduct") && !ch.contains("SortMergeJoin"),
      ch.take(2000))
    // nonparametric battery: per-type windows + hash aggs only — no
    // cartesians, and the runs/wilcoxon/pacf windows partition by type
    for (name <- Seq("q_events_runs_test", "q_events_wilcoxon",
        "q_events_pacf2", "q_events_allan", "q_events_ulcer",
        "q_events_emd", "q_events_trend_ca", "q_agg_trimmed",
        "q_events_grubbs", "q_text_chao1", "q_text_good_turing",
        "q_eval_ece", "q_eval_gains", "q_eval_threshold")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
  }

  test("session-11 additions: planner/sketch/mining plan shapes") {
    // join-size estimate: both degree tables are partial+final hash
    // aggs, the key join stays equi (hash), and the sampled sum needs
    // no second scan — one plan, no cartesian
    val je = plan("q_join_size_estimate")
    assert(je.contains("partial"), je.take(2000))
    assert(!je.contains("CartesianProduct"), je.take(2000))
    // skew planner: the grand total rides a 1-row broadcast (BNLJ is
    // the sanctioned 1-row cross shape), never a cartesian
    val sp = plan("q_join_skew_planner")
    assert(sp.contains("BroadcastNestedLoopJoin"), sp.take(2000))
    assert(!sp.contains("CartesianProduct"), sp.take(2000))
    // quantile sketch: per-type min/max/width broadcast into the bin
    // agg — the data stream shuffles only for aggs, never sort-merges
    val qs = plan("q_agg_quantile_sketch")
    assert(qs.contains("BroadcastHashJoin"), qs.take(2000))
    assert(!qs.contains("SortMergeJoin") && !qs.contains("CartesianProduct"),
      qs.take(2000))
    // conformal: fit and q-hat both broadcast into the test-half scan
    val cf = plan("q_eval_conformal")
    assert("BroadcastHashJoin".r.findAllIn(cf).length >= 2, cf.take(2000))
    assert(!cf.contains("CartesianProduct"), cf.take(2000))
    // MASE: day-grain agg then per-type window — no cartesian
    val ms = plan("q_events_mase")
    assert(!ms.contains("CartesianProduct"), ms.take(2000))
    // a-priori triples: downward closure runs as LeftSemi joins against
    // the frequent-pair set; basket joins stay equi
    val bt = plan("q_basket_triples")
    assert(bt.contains("LeftSemi"), bt.take(2000))
    assert(!bt.contains("CartesianProduct"), bt.take(2000))
    // cluster-depth audit: extent assignment rides the 1-row min/max
    // broadcast and both 32x32 interval self-joins broadcast (BNLJ) —
    // nothing about the layout audit shuffles with corpus size except
    // the extent aggs
    val cd = plan("q_table_cluster_depth")
    assert("BroadcastNestedLoopJoin".r.findAllIn(cd).length >= 2, cd.take(2000))
    assert(!cd.contains("CartesianProduct") && !cd.contains("SortMergeJoin"),
      cd.take(2000))
    // greedy max-coverage: the loop ran during construction (bounded:
    // 5 one-row argmax collects against the checkpointed gram table);
    // the returned selection is exactly the 5 greedy rows
    val mc = Relational.queries("q_docs_maxcover")(spark, dir)
    assert(mc.count() == 5, "maxcover must return 5 greedy rounds")
  }

  test("session-12 additions: spectral/privacy/cluster-quality plan shapes") {
    // periodogram: the 32-row DFT weight table broadcasts into the
    // daily agg; the data stream is hash aggs only, no sort-merge
    val pg = plan("q_events_periodogram")
    assert(pg.contains("BroadcastHashJoin"), pg.take(2000))
    assert(!pg.contains("SortMergeJoin") && !pg.contains("CartesianProduct"),
      pg.take(2000))
    // PSI: the per-type mid bounds broadcast into the binning scan
    val ps = plan("q_eval_psi")
    assert(ps.contains("BroadcastHashJoin"), ps.take(2000))
    assert(!ps.contains("CartesianProduct"), ps.take(2000))
    // silhouette: the k×64 centroid relation broadcasts into the
    // point-dim stream — never a shuffle keyed on the raw points, and
    // never a cartesian (the join IS on the dim key)
    val sl = plan("q_ann_silhouette")
    assert(sl.contains("BroadcastHashJoin"), sl.take(2000))
    assert(!sl.contains("CartesianProduct"), sl.take(2000))
    // t-closeness: the bounded class×source grid is the sanctioned
    // broadcast nested-loop; the class fill stays an equi left join
    val tc = plan("q_privacy_tcloseness")
    assert(tc.contains("BroadcastNestedLoopJoin"), tc.take(2000))
    assert(!tc.contains("CartesianProduct"), tc.take(2000))
    // k-truss final round: wedge + membership joins stay equi (hash or
    // sort-merge on vertex keys), never a cartesian
    val kt = plan("q_graph_ktruss")
    assert(!kt.contains("CartesianProduct"), kt.take(2000))
    // JSD: combo assembly is the gram-hash equi SELF-join plus the
    // bounded histogram/subtraction joins and the 10-row pair BNLJ —
    // the shared-gram join must stay an equi hash/SMJ on h, and no
    // cartesian anywhere
    val js = plan("q_text_jsd")
    assert(js.contains("Join") && js.contains("LeftOuter"), js.take(2000))
    assert(!js.contains("CartesianProduct"), js.take(2000))
    // MaxSim: the 5×8×8 query grain broadcasts into the candidate
    // stream (the rerank-after-ANN shape); no cartesian
    val mx = plan("q_ann_maxsim")
    assert(mx.contains("BroadcastHashJoin"), mx.take(2000))
    assert(!mx.contains("CartesianProduct"), mx.take(2000))
    // Hurst / Heaps / seasonal / horvitz / adamic-adar / powerlaw /
    // logloss / pps / recursive / shots: no cartesian in any
    // session-12 plan
    for (q <- Seq("q_events_hurst", "q_text_heaps", "q_events_seasonal_index",
        "q_sample_horvitz", "q_graph_adamic_adar", "q_graph_powerlaw",
        "q_eval_logloss", "q_sample_pps", "q_sql_recursive"))
      assert(!plan(q).contains("CartesianProduct"), q)
    assert(!SparkEntry.queries("q_media_shots")(spark, dir)
      .queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("session-13 additions: isotonic/kendall/RDD/hazard plan shapes") {
    // isotonic: everything after the first corpus aggregate runs on
    // the 10-row bin table — the interval cascade is the sanctioned
    // bounded BroadcastNestedLoopJoin, never a CartesianProduct
    val is = plan("q_eval_isotonic")
    assert(is.contains("BroadcastNestedLoopJoin"), is.take(2000))
    assert(!is.contains("CartesianProduct"), is.take(2000))
    // kendall: both self-joins carry equi keys (day; then the type
    // pair) — hash/sort-merge joins on the bounded day-grain table
    val kd = plan("q_events_kendall")
    assert(!kd.contains("CartesianProduct") &&
      !kd.contains("BroadcastNestedLoopJoin"), kd.take(2000))
    // RDD: one corpus hash agg, then per-side five-sum aggs — no join
    // at all in the plan
    val rd = plan("q_events_rdd")
    assert(!rd.contains("Join"), rd.take(2000))
    // Nelson–Aalen: same shape class as KM — the horizon scalar is a
    // broadcast, the day-grain windows are bounded
    val na = plan("q_events_nelson_aalen")
    assert(na.contains("BroadcastNestedLoopJoin") || na.contains("BroadcastHashJoin"),
      na.take(2000))
    assert(!na.contains("CartesianProduct"), na.take(2000))
    // DTW: the corpus is touched by ONE hash agg; the 5-row profile
    // pair fan-out is the sanctioned bounded BNLJ and the whole DP is
    // a scalar expression (no per-cell join anywhere)
    val dt = plan("q_events_dtw")
    assert(dt.contains("BroadcastNestedLoopJoin"), dt.take(2000))
    assert(!dt.contains("CartesianProduct"), dt.take(2000))
    // Holt: one corpus hash agg + one bounded ordered collect — no
    // join in the plan at all
    val ho = plan("q_events_holt")
    assert(!ho.contains("Join"), ho.take(2000))
    // Hilbert: the 8-step walk is scan + projections only — no join
    // anywhere; the sole shuffle is the final 64-bucket agg
    val hi = plan("q_layout_hilbert")
    assert(!hi.contains("Join"), hi.take(2000))
    // Fellegi–Sunter: the blocked self-join stays equi and the 1-row
    // stats relation broadcasts; never a cartesian
    val fs = plan("q_join_fellegi")
    assert(fs.contains("Broadcast"), fs.take(2000))
    assert(!fs.contains("CartesianProduct"), fs.take(2000))
    // CDC + Shannon + LZ78: per-row array work then hash aggs (plus
    // the bounded per-source window for Shannon) — no join anywhere
    for (q <- Seq("q_dedup_cdc", "q_text_shannon_code", "q_text_lz78"))
      assert(!plan(q).contains("Join"), q)
    // NW alignment: ONE corpus hash agg, then the 8-row journey table
    // fans to 28 pairs through the sanctioned bounded BNLJ
    val nw = plan("q_events_nw_align")
    assert(nw.contains("BroadcastNestedLoopJoin"), nw.take(2000))
    assert(!nw.contains("CartesianProduct"), nw.take(2000))
    // Page–Hinkley: agg + fold, joinless
    assert(!plan("q_events_page_hinkley").contains("Join"))
    // bandit replay: the 30-row policy broadcasts back into the day
    // grain; no cartesian
    val br = plan("q_events_bandit_replay")
    assert(br.contains("BroadcastHashJoin"), br.take(2000))
    assert(!br.contains("CartesianProduct"), br.take(2000))
    // Burrows: the 20-word panel broadcasts; source-pair fan-out stays
    // equi on word; no cartesian
    val bd = plan("q_text_burrows_delta")
    assert(bd.contains("Broadcast"), bd.take(2000))
    assert(!bd.contains("CartesianProduct"), bd.take(2000))
    // JL: the consecutive-id pair join is equi (vec_id + 1 key) — no
    // BNLJ, no cartesian, projection folds are scalar expressions
    val jl = plan("q_embed_jl_distortion")
    assert(!jl.contains("BroadcastNestedLoopJoin") &&
      !jl.contains("CartesianProduct"), jl.take(2000))
    // matrix profile: per-type equi self-join over the bounded window
    // table; no cartesian
    assert(!plan("q_events_motif").contains("CartesianProduct"))
    // l-diversity: one hash agg + bounded class windows, joinless
    assert(!plan("q_privacy_ldiversity").contains("Join"))
    // IPS: the policy broadcasts into the day grain, no cartesian
    val ip = plan("q_events_ips")
    assert(ip.contains("BroadcastHashJoin"), ip.take(2000))
    assert(!ip.contains("CartesianProduct"), ip.take(2000))
    // Smith–Waterman: same bounded BNLJ pair shape as NW
    val sw = plan("q_events_sw_align")
    assert(sw.contains("BroadcastNestedLoopJoin") &&
      !sw.contains("CartesianProduct"), sw.take(2000))
  }

  test("session-14 additions: eval-metric/phonetic/APSP plan shapes") {
    // blanket: no session-14 query degrades to a cartesian product
    for (q <- Seq("q_eval_bleu", "q_eval_chrf", "q_eval_rouge_l",
        "q_eval_wer", "q_events_cliffs_delta", "q_events_iv_wald",
        "q_eval_fleiss", "q_text_bwt", "q_join_soundex", "q_sample_vdc",
        "q_graph_ecc", "q_text_mtld", "q_graph_betweenness"))
      assert(!plan(q).contains("CartesianProduct"), q)
    // BLEU/chrF: clipped matches come from hash-agg'd gram tables
    // equi-joined on (pair, n, gram), and the per-source lens/stat
    // side broadcasts — never an all-pairs shape
    for (q <- Seq("q_eval_bleu", "q_eval_chrf")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
        p.take(2000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    }
    // ROUGE-L/WER: the whole DP is a scalar fold after the pairing
    // window — no join anywhere in the plan
    for (q <- Seq("q_eval_rouge_l", "q_eval_wer"))
      assert(!plan(q).contains("Join"), q)
    // BWT / MTLD / vdc / cliffs / IV-Wald: scan + scalar work + aggs
    // (cliffs adds its ordered window) — joinless plans
    for (q <- Seq("q_text_bwt", "q_text_mtld", "q_sample_vdc",
        "q_events_cliffs_delta", "q_events_iv_wald"))
      assert(!plan(q).contains("Join"), q)
    // soundex blocking: vocab-grain sides meet in a broadcast hash
    // join on the code key
    val sx = plan("q_join_soundex")
    assert(sx.contains("BroadcastHashJoin"), sx.take(2000))
    // phash: the hamming candidates come from the (band, key)
    // equi-join, never a cross product or nested loop
    val ph = plan("q_media_phash")
    assert(!ph.contains("CartesianProduct") &&
      !ph.contains("BroadcastNestedLoopJoin"), ph.take(2000))
    // granger: day-grain equi join only
    val gr = plan("q_events_granger")
    assert(!gr.contains("CartesianProduct") &&
      !gr.contains("BroadcastNestedLoopJoin"), gr.take(2000))
  }

  test("session-15 additions: regression-diagnostic/sketch/fold plan shapes") {
    // blanket: no session-15 query degrades to a cartesian product
    for (q <- Seq("q_agg_chow", "q_agg_breusch_pagan", "q_agg_cooks",
        "q_eval_rbo", "q_sketch_ddsketch", "q_events_kalman"))
      assert(!plan(q).contains("CartesianProduct"), q)
    // Chow: two stacked hash aggs over the (type, seg) grain — joinless
    assert(!plan("q_agg_chow").contains("Join"), plan("q_agg_chow").take(2000))
    // BP / Cook's: the 5-row coefficient (and SSE) sides broadcast back
    // onto the fact — never a shuffle join against the scan
    for (q <- Seq("q_agg_breusch_pagan", "q_agg_cooks")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), p.take(2000))
      assert(!p.contains("SortMergeJoin") &&
        !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    }
    // RBO: the only non-equi shape is the bounded 20x20 depth expansion
    // (broadcast NL by construction); the prefix overlap itself is an
    // equi join of two TakeOrdered-bounded 20-row lists
    val rb = plan("q_eval_rbo")
    assert(rb.contains("TakeOrderedAndProject"), rb.take(2000))
    // DDSketch: bucket and rank-target sides meet in broadcast hash
    // joins; the cumulative walks are per-type bounded windows
    val dd = plan("q_sketch_ddsketch")
    assert(dd.contains("BroadcastHashJoin") && dd.contains("Window"),
      dd.take(2000))
    assert(!dd.contains("BroadcastNestedLoopJoin"), dd.take(2000))
    // Kalman: day-grain agg + per-type ordered collect + scalar fold —
    // joinless end to end
    assert(!plan("q_events_kalman").contains("Join"),
      plan("q_events_kalman").take(2000))
    // OLS2 / randomized response / Holt–Winters: scan + scalar
    // projection + partial+final hash agg (+ the bounded fold) —
    // joinless, map-side-combined plans
    for (q <- Seq("q_agg_ols2", "q_privacy_rr", "q_window_holt_winters")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: ${p.take(2000)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q: ${p.take(2000)}")
    }
  }

  test("session-16 additions: median-test/PRF/pseudonym/reconciliation plan shapes") {
    // blanket: no session-16 query degrades to a cartesian product
    for (q <- Seq("q_events_mood", "q_eval_prf", "q_privacy_pseudonym",
        "q_events_hier_forecast", "q_sample_rolling_origin"))
      assert(!plan(q).contains("CartesianProduct"), q)
    // mood: the 1-row grand median and margin totals ride broadcast NL
    // joins onto the bounded type table — never a shuffle join
    val md = plan("q_events_mood")
    assert(md.contains("BroadcastNestedLoopJoin"), md.take(2000))
    assert(!md.contains("SortMergeJoin") && !md.contains("ShuffledHashJoin"),
      md.take(2000))
    // PRF: the classifier keeps the rocchio broadcast-hash shape (the
    // k×64 centroid side broadcasts); only the ≤k-class tp/fp/fn
    // reconciliation is allowed a shuffle join
    val pr = plan("q_eval_prf")
    assert(pr.contains("BroadcastHashJoin"), pr.take(2000))
    assert(!pr.contains("BroadcastNestedLoopJoin"), pr.take(2000))
    // pseudonym: release and bridge meet in an EQUI join on the
    // pseudonym key — any nested-loop shape would be O(users²)
    val ps = plan("q_privacy_pseudonym")
    assert(ps.contains("Join") && !ps.contains("BroadcastNestedLoopJoin"),
      ps.take(2000))
    // reconciliation: forecast sides broadcast back onto the dense
    // test grid (hash joins) — the only NL shapes are the 1-row grand
    // broadcasts
    val hfp = plan("q_events_hier_forecast")
    assert(hfp.contains("BroadcastHashJoin"), hfp.take(2000))
    assert(!hfp.contains("SortMergeJoin"), hfp.take(2000))
    // rolling origins: ONE corpus scan, the 4-row fold axis arrives by
    // broadcast, and every fold membership is a conditional sum inside
    // one partial+final hash agg — never four passes
    val ro = plan("q_sample_rolling_origin")
    assert(ro.contains("BroadcastNestedLoopJoin"), ro.take(2000))
    assert("HashAggregate".r.findAllIn(ro).size >= 2, ro.take(2000))
    assert("FileScan".r.findAllIn(ro).size <= 1, ro.take(2000))
    // uplift / Cohen's d: scan + user-or-type-grain partial+final hash
    // aggs — joinless, map-side-combined plans
    for (q <- Seq("q_events_uplift", "q_eval_cohens_d")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: ${p.take(2000)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q: ${p.take(2000)}")
    }
    // DP top-k: the noise is scalar per vocabulary row and the ranking
    // window runs over the thresholded candidate set — joinless
    val dt = plan("q_privacy_dp_topk")
    assert(!dt.contains("Join") && dt.contains("Window"), dt.take(2000))
    // IRR: the only join is the 1-row exposure broadcast
    val ir = plan("q_events_irr")
    assert(ir.contains("BroadcastNestedLoopJoin"), ir.take(2000))
    assert(!ir.contains("SortMergeJoin") && !ir.contains("CartesianProduct"),
      ir.take(2000))
    // mixture budget: the 1-row budget broadcasts onto the source
    // table; the allocation is one capped running-sum window
    val mb = plan("q_docs_mixture_budget")
    assert(mb.contains("BroadcastNestedLoopJoin") && mb.contains("Window"),
      mb.take(2000))
    assert(!mb.contains("CartesianProduct"), mb.take(2000))
    // session rollup: the sessionizer's ONE per-user ordered window
    // carries the running session ids — joinless, two stacked aggs
    val ss = plan("q_events_session_stats")
    assert(!ss.contains("Join") && ss.contains("Window"), ss.take(2000))
    // partial correlation: the day-grain pair table is an EQUI join
    // and triple assembly joins the checkpointed k²-row table — no
    // cartesian, no nested loop anywhere
    val pc = plan("q_events_partial_corr")
    assert(!pc.contains("CartesianProduct") &&
      !pc.contains("BroadcastNestedLoopJoin"), pc.take(2000))
    // competing risks: per-user milestone window + day-grain fold
    // windows — joinless end to end
    val cr = plan("q_events_competing_risks")
    assert(!cr.contains("Join") && cr.contains("Window"), cr.take(2000))
    // Theil: the segment table and 1-row totals broadcast back onto
    // the user grain — never a shuffle join against the user table
    val th = plan("q_agg_theil")
    assert(th.contains("BroadcastHashJoin") || th.contains("BroadcastNestedLoopJoin"),
      th.take(2000))
    assert(!th.contains("SortMergeJoin") && !th.contains("CartesianProduct"),
      th.take(2000))
    // Atkinson / Kish: scan + user-grain agg + 1-row reduce — joinless
    for (q <- Seq("q_agg_atkinson", "q_sample_kish"))
      assert(!plan(q).contains("Join"), q)
    // MH hazard ratio: the log-rank strata machinery — grid broadcast,
    // equi-join fill, never a shuffle join or cartesian
    val hz = plan("q_events_hazard_ratio")
    assert(!hz.contains("CartesianProduct") && !hz.contains("SortMergeJoin"),
      hz.take(2000))
    // isotropy probe and rich-club sweep: 100-row / 3-row sides arrive
    // by broadcast; no cartesian anywhere
    for (q <- Seq("q_embed_isotropy", "q_graph_richclub")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(2000)}")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q: ${p.take(2000)}")
    }
  }
}
