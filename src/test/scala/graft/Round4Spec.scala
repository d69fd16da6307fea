package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Regression tests for one review round's fixes: the resumable-sink
  * stale-bucket wedge, the guarded indexed-linking collect, the
  * star-contraction CC fallback, the merged extractor walk, the bench
  * headline and the `mm_features` decode. Filing them under their
  * operators' specs is ROADMAP direction 7. */
class Round4Spec extends GraftSuite {
  import spark.implicits._

  test("writeResumable survives stale files in an uncommitted bucket (no wedge)") {
    val cfg = Pipeline.Config(nConvs = 12, nBase = 32)
    val triples = Pipeline.triples(spark, cfg).toDF()
    val dir = SparkEntry.tmpDir("graft_sink_stale_")
    // a crashed prior attempt left output in a bucket id this run's data
    // never produces (nBuckets = 4 ⇒ real buckets are 0..3): under the r3
    // code the metrics read-back counted these rows (recorded != written)
    // and EVERY retry aborted — a permanent wedge (ADVICE r3)
    triples.limit(7).withColumn("bucket", lit(99L))
      .write.partitionBy("bucket").mode("append").parquet(s"$dir/triples")
    val n = GraphSink.writeResumable(triples, dir, "run_after_crash", nBuckets = 4)
    assert(n == 4L)
    // the stale bucket is gone; what's on disk is exactly this run's output
    val onDisk = GraphSink.readTriples(spark, dir)
    assert(onDisk.filter($"bucket" === 99L).count() == 0)
    assert(onDisk.count() == triples.count())
    // and the manifest certifies it
    val m = spark.read.parquet(GraphSink.manifestPath(dir))
    assert(m.agg(sum($"triple_count")).head().getLong(0) == triples.count())
  }

  test("onlyBuckets-restricted run sweeps ONLY its own stale buckets " +
      "(disjoint concurrent writers stay safe)") {
    val cfg = Pipeline.Config(nConvs = 12, nBase = 32)
    val triples = Pipeline.triples(spark, cfg).toDF()
    val dir = SparkEntry.tmpDir("graft_sink_scope_")
    // a sibling writer's in-flight (uncommitted) output in bucket 99 …
    triples.limit(5).withColumn("bucket", lit(99L))
      .write.partitionBy("bucket").mode("append").parquet(s"$dir/triples")
    // … must survive a run restricted to other buckets
    GraphSink.writeResumable(triples, dir, "scoped", nBuckets = 4,
      onlyBuckets = Some(Seq(0L, 1L)))
    assert(GraphSink.readTriples(spark, dir).filter($"bucket" === 99L).count() == 5)
    // an UNRESTRICTED run then sweeps it (the wedge fix)
    GraphSink.writeResumable(triples, dir, "full", nBuckets = 4)
    assert(GraphSink.readTriples(spark, dir).filter($"bucket" === 99L).count() == 0)
  }

  test("indexed linkBySurface over the surface cap: no driver collect of " +
      "surfaces, identical rows, shard pruning intact") {
    val gaz = Seq(
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C2", "SNOMEDCT_US", "PT", "Y", "200", "acute renal failure"),
      ("C3", "RXNORM", "PT", "Y", "R1", "aspirin")
    ).toDF("cui", "sab", "tty", "ispref", "code", "str")
    // free-form caller: surfaces NOT in the gazetteer (the OOM hazard shape
    // — ADVICE r3; under the old code these all landed on the driver)
    val mentions = ((0 until 40).map(i => ("cv", i, 0, 0, 9, s"freeform surface $i"))
      :+ (("cv", 99, 0, 5, 18, "renal failure")))
      .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface")
    val dir = SparkEntry.tmpDir("graft_lex_guard_")
    LexicalIndex.build(gaz, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"mention_key", $"surface", $"code", $"score", $"rn", $"selected")
      .collect().map(_.toString).sorted.toSeq
    val broadcastPath = LexicalIndex.linkBySurface(mentions, spark, dir)
    val guarded = LexicalIndex.linkBySurface(mentions, spark, dir,
      maxBroadcastSurfaces = 4) // force the fallback
    assert(rows(guarded) == rows(broadcastPath) && rows(guarded).nonEmpty)
    // the fallback keeps the partition-pruned postings read: shard ids come
    // from a distributed distinct bounded by NumShards, not from surfaces
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    guarded.count()
    val scan = scans(guarded.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("postings"))).get
    assert(scan.metadata("PartitionFilters").contains("shard"))
  }

  test("CC: 100-node path exceeds min-label maxIter, run() falls back to " +
      "star contraction and still returns the exact components") {
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = ConnectedComponents.run(path, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(out.size == 100 && out.values.forall(_ == 0L))
  }

  test("star contraction == min-label on assorted graphs (incl. isolated " +
      "self-loops and multi-component)") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),       // path
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (20L, 20L),                          // isolated self-loop
      (30L, 31L)                           // pair
    ).toDF("src", "dst")
    val byStar = ConnectedComponents.runStarContraction(edges)
      .as[(Long, Long)].collect().toMap
    val byMinLabel = ConnectedComponents.run(edges, maxIter = 25)
      .as[(Long, Long)].collect().toMap
    assert(byStar == byMinLabel)
    assert(byStar(4L) == 1L && byStar(12L) == 10L && byStar(20L) == 20L
      && byStar(31L) == 30L)
  }

  test("merged v0/v1 extractor walk == three independent variant walks") {
    import graft.model.{GazRow, Segment}
    // gazetteer exercising the subset relation: ISPREF and non-ISPREF rows
    // for the same pattern (payload resolution differs between variants),
    // an SY-only surface (variant 1 must MISS it), and an ambiguous alias
    val gaz = Array(
      GazRow("C2", "SNOMEDCT_US", "SY", "N", "200", "renal failure"),
      GazRow("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      GazRow("C3", "SNOMEDCT_US", "SY", "N", "300", "kidney stones"),
      GazRow("C4", "SNOMEDCT_US", "PT", "Y", "400", "acute renal failure"))
    val segs = Seq(
      Segment("cv", 0, 0, 0, "patient has acute renal failure and kidney stones"),
      Segment("cv", 1, 0, 0, "renal failure noted; kidney stone present"))
    val gazB = spark.sparkContext.broadcast(gaz)
    val merged = MentionExtractor.extract(segs.toDS(), gazB)
      .collect().map(_.toString).sorted.toSeq
    // the spec path: each variant with its OWN automaton, walked by the
    // unpacked reference form
    val fp = MentionExtractor.gazFingerprint(gaz)
    val independent = segs.flatMap { s =>
      (0 to 2).flatMap(v =>
        ExtractorReference.matchSegment(s, v,
          MentionExtractor.variantFor(fp, gaz, v)))
    }.map(_.toString).sorted
    assert(merged == independent && merged.nonEmpty)
    // and variant 1 really does miss the SY-only surface
    val m1codes = MentionExtractor.extract(segs.toDS(), gazB)
      .filter($"try_index" === 1).select($"code").as[String].collect().toSet
    assert(!m1codes.contains("300") && m1codes.contains("400"))
  }

  test("bench headline: any failure nulls value instead of shrinking it") {
    assert(Bench.headlineJson(0, 12.3456) == "\"value\":12.346")
    val failed = Bench.headlineJson(2, 9.9)
    assert(failed.contains("\"value\":null") &&
      failed.contains("\"total_ok_queries\":9.900"))
  }

  test("mm_features fake decode: byte- and order-sensitive, SQL-shaped") {
    val a = Multimodal.fakeDecode("abcd".getBytes("UTF-8"), 4)
    val b = Multimodal.fakeDecode("abce".getBytes("UTF-8"), 4)
    val c = Multimodal.fakeDecode("dcba".getBytes("UTF-8"), 4)
    assert(a.toSeq != b.toSeq && a.toSeq != c.toSeq)
    assert(Multimodal.fakeDecode("abcd".getBytes("UTF-8"), 4).toSeq == a.toSeq)
    // the restated arithmetic: tap0 of "abcd" with dims=4 is 1*'a'=97,
    // v = (97 * 2654435761 + 1) mod 2^31, f0 = v/2^31*2-1 as float
    val v = ((97L % 2147483648L) * 2654435761L + 1L) % 2147483648L
    assert(a(0) == (v.toDouble / 2147483648.0 * 2.0 - 1.0).toFloat)
    assert(Multimodal.fakeDecode(Array.empty[Byte], 4).length == 4)
  }
}
