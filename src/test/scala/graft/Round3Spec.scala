package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.model.GazRow
import graft.operators._
import org.apache.spark.sql.functions._

/** Round-3 fixes: multi-code preferred ranking, the guarded faceted
  * broadcast, the bounded automaton cache, as-of null contract, tiling
  * validation, and the persisted lexical index. */
class Round3Spec extends GraftSuite {
  import spark.implicits._

  test("preferredPerCode: every code under one (cui, sab) keeps its own preferred name") {
    // the r2 shape ranked per (cui, sab): code 101's mentions missed the
    // join and kept their alias as concept_name (VERDICT r2 missing #4)
    val gaz = Seq(
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C1", "SNOMEDCT_US", "SY", "N", "100", "kidney failure"),
      ("C1", "SNOMEDCT_US", "PT", "Y", "101", "renal insufficiency"),
      ("C1", "SNOMEDCT_US", "SY", "N", "101", "renal shutdown")
    ).toDF("cui", "sab", "tty", "ispref", "code", "str")
    val mentions = Seq(
      ("cv", 0, 0, 0, 14, "kidney failure", "C1", "SNOMEDCT_US", "100",
        "kidney failure", 0.99),
      ("cv", 0, 0, 20, 34, "renal shutdown", "C1", "SNOMEDCT_US", "101",
        "renal shutdown", 0.99)
    ).toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface",
      "cui", "source", "code", "concept_name", "acc")
    val out = Linking.link(mentions, gaz)
      .select($"code", $"concept_name").as[(String, String)].collect().toMap
    assert(out("100") == "renal failure")
    assert(out("101") == "renal insufficiency")
  }

  test("linkFaceted over maxBroadcastCombos: shuffle join, identical results") {
    val gaz = Seq(
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C2", "SNOMEDCT_US", "PT", "Y", "200", "acute renal failure")
    ).toDF("cui", "sab", "tty", "ispref", "code", "str")
    // per-mention-unique facets: combos ≈ mentions — the r2 driver-OOM shape
    val mentions = (0 until 64).map(i =>
      ("cv", i, 0, 5, 18, "renal failure", Map("k" -> Seq(s"v$i"))))
      .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface", "facets")
    // kill static broadcast estimation so the fallback is visible as SMJ in
    // the initial plan (the gazetteer joins keep their explicit hints)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val guarded = Linking.linkFaceted(mentions, gaz, maxBroadcastCombos = 4)
      val hinted = Linking.linkFaceted(mentions, gaz) // default: combos ≤ cap
      // the MENTION-stream join is the 3-key (qkey, surface, fentries) join
      // (match on its key list — other joins in the plan are internal)
      val mentionBJ = "BroadcastHashJoin \\[qkey#\\d+L, surface".r
      val mentionSMJ = "SortMergeJoin \\[qkey#\\d+L, surface".r
      val gp = guarded.queryExecution.sparkPlan.toString
      val hp = hinted.queryExecution.sparkPlan.toString
      assert(mentionSMJ.findFirstIn(gp).isDefined && mentionBJ.findFirstIn(gp).isEmpty,
        s"above the cap the mention join must be a shuffle join:\n$gp")
      assert(mentionBJ.findFirstIn(hp).isDefined,
        s"below the cap the mention join stays broadcast:\n$hp")
      val g = guarded.select($"mention_key", $"code", $"rn", $"selected")
        .collect().map(_.toString).sorted.toSeq
      val h = hinted.select($"mention_key", $"code", $"rn", $"selected")
        .collect().map(_.toString).sorted.toSeq
      assert(g == h && g.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("automaton cache: LRU-bounded, recent gazetteers survive") {
    val fps = (0 until 5).map { g =>
      val gaz = Array(GazRow(s"CX$g", "SNOMEDCT_US", "PT", "Y", s"K$g", s"term$g"))
      val fp = MentionExtractor.gazFingerprint(gaz)
      (0 to 2).foreach(v => MentionExtractor.variantFor(fp, gaz, v))
      fp
    }
    assert(MentionExtractor.cacheSize <= MentionExtractor.CacheCapacity)
    // most-recent gazetteer fully cached; the first of the five evicted
    (0 to 2).foreach(v => assert(MentionExtractor.cacheContains(fps.last, v)))
    assert(!MentionExtractor.cacheContains(fps.head, 0))
    // hot-path behavior unchanged: a hit returns the SAME instance
    val gaz4 = Array(GazRow("CX4", "SNOMEDCT_US", "PT", "Y", "K4", "term4"))
    val again = MentionExtractor.variantFor(fps.last, gaz4, 0)
    assert(again eq MentionExtractor.variantFor(fps.last, gaz4, 0))
  }

  test("asOf drops null-ts right rows (documented contract enforced)") {
    val left = Seq(("u1", Timestamp.valueOf("2024-01-01 00:00:10"), "click"))
      .toDF("user_id", "ts", "ev")
    val right = Seq(
      ("u1", None: Option[Timestamp], "phantom"),
      ("u1", Some(Timestamp.valueOf("2024-01-01 00:00:05")), "real"))
      .toDF("user_id", "ts", "payload")
    val out = AsOfJoin.asOf(left, right, Seq("user_id"), "ts")
      .select($"asof.payload").as[String].collect().toSeq
    assert(out == Seq("real"))
    // ONLY a null-ts right row: no match at all, not a phantom carry-forward
    val onlyNull = right.filter($"payload" === "phantom")
    val none = AsOfJoin.asOf(left, onlyNull, Seq("user_id"), "ts")
      .select($"asof").collect()
    assert(none.length == 1 && none.head.isNullAt(0))
  }

  test("tilingViolations: zero on disjoint spans, flags overlapping input") {
    val turns = Seq(("c", 0, "abcdefghij")).toDF("conv_id", "turn_idx", "text")
    def spans(s: Seq[(Int, Int)]) = s.zipWithIndex.map { case ((a, b), i) =>
      ("c", 0, 0, a, b, s"C$i", "S", s"K$i", "t", 0.99)
    }.toDF("conv_id", "turn_idx", "try_index", "start", "end", "cui",
      "source", "code", "concept_name", "acc")
    val good = SpanTable.tile(spans(Seq((0, 3), (5, 7))), turns)
    assert(SpanTable.tilingViolations(good, turns).count() == 0)
    val bad = SpanTable.tile(spans(Seq((0, 4), (2, 6))), turns)
    assert(SpanTable.tilingViolations(bad, turns).count() > 0)
  }

  test("sink manifest carries the HLL distinct-subject metric, near exact") {
    val cfg = Pipeline.Config(nConvs = 12, nBase = 32)
    val triples = Pipeline.triples(spark, cfg).toDF()
    val dir = Files.createTempDirectory("graft_sink_hll_").toString
    GraphSink.writeResumable(triples, dir, "hll_run", nBuckets = 4)
    val m = spark.read.parquet(GraphSink.manifestPath(dir))
    val approx = m.agg(sum($"subj_approx_distinct")).head().getLong(0)
    val exact = GraphSink.readTriples(spark, dir)
      .groupBy($"bucket").agg(countDistinct($"subj").as("d"))
      .agg(sum($"d")).head().getLong(0)
    assert(approx > 0 && math.abs(approx - exact).toDouble / exact < 0.1,
      s"HLL per-bucket distinct $approx vs exact $exact")
  }

  test("persisted lexical index: pruned postings read, scores == on-the-fly") {
    val gaz = Seq(
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C2", "SNOMEDCT_US", "PT", "Y", "200", "acute renal failure"),
      ("C3", "RXNORM", "PT", "Y", "R1", "aspirin"),
      ("C4", "LNC", "PT", "Y", "L1", "cardiac arrest")
    ).toDF("cui", "sab", "tty", "ispref", "code", "str")
    val mentions = Seq(
      ("cv", 0, 0, 5, 18, "renal failure"),
      ("cv", 1, 0, 2, 9, "aspirin"))
      .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface")
    val dir = Files.createTempDirectory("graft_lex_test").toString
    LexicalIndex.build(gaz, dir)
    val onTheFly = Linking.linkBySurface(mentions, gaz)
      .select($"mention_key", $"surface", $"code", $"score", $"rn", $"selected")
      .collect().map(_.toString).sorted.toSeq
    val indexed = LexicalIndex.linkBySurface(mentions, spark, dir)
    assert(indexed
      .select($"mention_key", $"surface", $"code", $"score", $"rn", $"selected")
      .collect().map(_.toString).sorted.toSeq == onTheFly)
    // the postings scan is pruned to the query tokens' shards. The scan
    // hides under AQE wrappers (the query has exchanges, unlike the direct
    // IVF read below) — descend through adaptive plans / query stages
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans) ++
        o.subqueries.flatMap(scans)
    }
    indexed.count() // materialize the adaptive stages
    val scan = scans(indexed.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("postings"))).get
    assert(scan.metadata("PartitionFilters").contains("shard"))
    val totalShards = spark.read.parquet(s"$dir/postings")
      .select($"shard").distinct().count()
    assert(scan.selectedPartitions.partitionCount < totalShards,
      s"expected pruning below $totalShards shards")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
