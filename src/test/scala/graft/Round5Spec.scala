package graft

import java.nio.file.Files

import graft.operators._
import graft.streaming.StreamingDedup
import org.apache.spark.sql.functions._

/** Round-5 fixes: incremental and streaming dedup, minhash index
  * compaction, and the bucket-name parse guard in the resumable sink. */
class Round5Spec extends GraftSuite {
  import spark.implicits._

  test("incremental dedup vs persisted index == batch restricted to delta; " +
      "supersede survivors; append == rebuild; pruned index read") {
    def doc(seed: Int, n: Int) = (seed to seed + n).map(i => s"t$i").mkString(" ")
    // 30 unique corpus docs (so the 64-shard index has most shards
    // populated and the pruning assert below has room to prune) + one
    // corpus-corpus near-dup pair that must NOT appear in the delta view
    val corpus = ((0 until 30).map(i => (i.toLong, doc(i * 1000, 40)))
      :+ (30L, doc(0, 40) + " ctail")).toDF("doc_id", "text")
    val delta = Seq(
      (110L, doc(1000, 40) + " dtailA"), // near-dup of corpus doc 1
      (111L, doc(50000, 40)),            // unique → survives
      (112L, doc(60000, 40)),            // twin below; smaller id → survives
      (113L, doc(60000, 40) + " dtailB"),// delta-delta dup → superseded
      (114L, "short doc")                // < k words: never pairs, survives
    ).toDF("doc_id", "text")
    val all = corpus.unionByName(delta)
    val dir = Files.createTempDirectory("graft_inc_idx_").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", dir)
    val deltaIds = Seq(110L, 111L, 112L, 113L, 114L)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a".cast("long"), $"id_b".cast("long"), $"jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = Dedup.incrementalTrueJaccardPairs(spark, dir, delta,
      "doc_id", "text")
    val batchRestricted = Dedup.trueJaccardPairs(all, "doc_id", "text", Dedup.Minhash)
      .filter($"id_a".isin(deltaIds: _*) || $"id_b".isin(deltaIds: _*))
    assert(pairSet(inc) == pairSet(batchRestricted))
    assert(pairSet(inc).map(p => (p._1, p._2)) == Set((1L, 110L), (112L, 113L)))
    // supersede survivors: 110 dies to corpus, 113 dies to smaller delta
    // twin 112; the unique, the twin-keeper and the short doc survive
    val surv = Dedup.incrementalNewDocs(spark, dir, delta, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(surv == Set(111L, 112L, 114L))
    // the index read is partition-pruned to the delta's band-key shards
    val scans = {
      def rec(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          rec(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => rec(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case o => o.children.flatMap(rec) ++ o.subqueries.flatMap(rec)
      }
      inc.count()
      rec(inc.queryExecution.executedPlan)
    }
    val bandScan = scans
      .find(_.metadata.get("Location").exists(_.contains("bands"))).get
    assert(bandScan.metadata("PartitionFilters").contains("bshard"))
    val totalShards = spark.read.parquet(s"$dir/bands")
      .select($"bshard").distinct().count()
    // 5 delta docs × 16 bands = ≤ 80 keys, but the pruning contract is
    // per-key: selected shards ≤ distinct delta shards < total populated
    assert(bandScan.selectedPartitions.partitionCount < totalShards)
    // append == rebuild: same banding params ⇒ identical index content;
    // appending the same epoch TWICE (a retried ingest job) must too —
    // the epoch-scoped dynamic overwrite replaces, never duplicates
    Dedup.appendToMinhashIndex(delta, "doc_id", "text", dir, epoch = 1L)
    Dedup.appendToMinhashIndex(delta, "doc_id", "text", dir, epoch = 1L)
    val dir2 = Files.createTempDirectory("graft_inc_idx2_").toString
    Dedup.buildMinhashIndex(all, "doc_id", "text", dir2)
    def bandsOf(p: String) = spark.read.parquet(s"$p/bands")
      .select($"id".cast("long"), $"band", $"bkey", $"bshard".cast("long"))
      .collect().map(_.toSeq).toSet
    def docsOf(p: String) = spark.read.parquet(s"$p/docs")
      .select($"id".cast("long"), $"sh")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(bandsOf(dir) == bandsOf(dir2))
    assert(docsOf(dir) == docsOf(dir2))
    // set equality would mask duplicated rows — row counts and the meta
    // doc-count sum (the cap basis) must ALSO match the clean rebuild
    for (sub <- Seq("bands", "docs"))
      assert(spark.read.parquet(s"$dir/$sub").count()
        == spark.read.parquet(s"$dir2/$sub").count(), sub)
    assert(Dedup.indexedDocCount(spark, dir)
      == Dedup.indexedDocCount(spark, dir2))
    Seq(dir, dir2).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("streaming incremental dedup: accepted == batch incremental over the " +
      "concatenation; replayed batchId is idempotent even after later batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def doc(seed: Int, n: Int) = (seed to seed + n).map(i => s"s$i").mkString(" ")
    val corpus = (0 until 10).map(i => (i.toLong, doc(i * 1000, 40)))
      .toDF("doc_id", "text")
    val idx = Files.createTempDirectory("graft_sdd_idx_").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    val b1 = Seq(
      (100L, doc(2000, 40) + " x"), // near-dup of corpus 2 → dies (index)
      (101L, doc(70000, 40)),       // unique → accepted
      (102L, doc(80000, 40)))       // unique → accepted
    val b2 = Seq(
      (200L, doc(70000, 40) + " y"), // near-dup of b1-accepted 101 → dies (prior)
      (201L, doc(5000, 40) + " z"),  // near-dup of corpus 5 → dies (index)
      (202L, doc(90000, 40)),        // unique → accepted
      (203L, doc(90000, 40) + " w")) // near-dup of 202 → dies (within batch)
    val out = Files.createTempDirectory("graft_sdd_out_").toString
    val ck = Files.createTempDirectory("graft_sdd_ck_").toString
    val ms = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(
      ms.toDF.select($"_1".as("doc_id"), $"_2".as("text")), idx, out, ck)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    def accepted() = StreamingDedup.readAccepted(spark, out)
      .select($"doc_id").as[Long].collect().toSet
    assert(accepted() == Set(101L, 102L, 202L))
    // ids ascend across batches, so arrival-order supersede == the batch
    // min-id rule: streamed accepted set == one-shot incremental over the
    // concatenated delta
    val batchSurv = Dedup.incrementalNewDocs(spark, idx,
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(batchSurv == accepted())
    // replay batch 1 AFTER its original commit (Spark redelivers a batchId
    // on failure): dynamic overwrite of its own partition + the
    // batch_id < 1 prior filter ⇒ state unchanged
    StreamingDedup.commitBatch(idx, out, "doc_id", "text")(
      b2.toDF("doc_id", "text"), 1L)
    assert(accepted() == Set(101L, 102L, 202L))
    Seq(idx, out, ck).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("streaming dedup kills a dup chain spanning micro-batches (dead doc's " +
      "later twin): streamed == batch rule, seen-set not accepted-set") {
    // corpus a ≈ b (batch 1, dies vs index), b ≈ c (batch 2), a ̸≈ c:
    // the batch rule kills c (pairs with smaller-id delta doc b, dead or
    // not); dedup-vs-accepted-only would let c chain back to life. Exact
    // Jaccard arithmetic (k=3 word shingles, threshold 0.5):
    //   J(a,b) = 38/68 ≈ 0.559 ≥ 0.5   J(b,c) = 65/71 ≈ 0.915 ≥ 0.5
    //   J(a,c) = 35/71 ≈ 0.493 < 0.5  (one substituted word kills 3 of
    //   a's 38 shingles in c) — so only the seen set can kill c.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def words(seed: Int, n: Int) = (seed until seed + n).map(i => s"s$i")
    val aText = words(0, 40).mkString(" ")
    val bText = (words(0, 40) ++ words(50000, 30)).mkString(" ")
    val cText = (words(0, 40).updated(20, "zz") ++ words(50000, 30))
      .mkString(" ")
    val corpus = Seq((0L, aText), (1L, words(90000, 40).mkString(" ")))
      .toDF("doc_id", "text")
    val idx = Files.createTempDirectory("graft_sdc_idx_").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    val out = Files.createTempDirectory("graft_sdc_out_").toString
    val ck = Files.createTempDirectory("graft_sdc_ck_").toString
    val ms = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(
      ms.toDF.select($"_1".as("doc_id"), $"_2".as("text")), idx, out, ck)
    try {
      ms.addData(Seq((100L, bText))); q.processAllAvailable()
      ms.addData(Seq((101L, cText))); q.processAllAvailable()
    } finally q.stop()
    val accepted = StreamingDedup.readAccepted(spark, out)
      .select($"doc_id").as[Long].collect().toSet
    // sanity: the chain is as constructed — c really is out of the
    // index's reach (J(a,c) < 0.5), so its death proves the seen set
    val cAloneSurvives = Dedup.incrementalNewDocs(spark, idx,
        Seq((101L, cText)).toDF("doc_id", "text"), "doc_id", "text")
      .count() == 1
    assert(cAloneSurvives, "fixture drift: c should NOT pair with the corpus")
    assert(accepted == Set.empty[Long]) // b dead vs index, c dead vs seen b
    val batchSurv = Dedup.incrementalNewDocs(spark, idx,
        Seq((100L, bText), (101L, cText)).toDF("doc_id", "text"),
        "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(batchSurv == accepted)
    Seq(idx, out, ck).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("index compaction folds multi-epoch indexes to one epoch, one file " +
      "per shard, identical probe results") {
    def doc(seed: Int, n: Int) = (seed to seed + n).map(i => s"s$i").mkString(" ")
    val corpus = (0 until 8).map(i => (i.toLong, doc(i * 1000, 40)))
      .toDF("doc_id", "text")
    val src = Files.createTempDirectory("graft_cmp_src_").toString
    val dst = Files.createTempDirectory("graft_cmp_dst_").toString + "/idx"
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", src)
    Dedup.appendToMinhashIndex(
      Seq((100L, doc(0, 40) + " t1"), (101L, doc(50000, 40)))
        .toDF("doc_id", "text"), "doc_id", "text", src, epoch = 1L)
    Dedup.appendToMinhashIndex(
      Seq((200L, doc(1000, 40) + " t2")).toDF("doc_id", "text"),
      "doc_id", "text", src, epoch = 2L)
    Dedup.compactMinhashIndex(spark, src, dst)
    // identical probe results against the compacted copy
    val probe = Seq((300L, doc(0, 40) + " q"), (301L, doc(50000, 40) + " q2"))
      .toDF("doc_id", "text")
    def pairs(p: String) = Dedup.incrementalTrueJaccardPairs(spark, p, probe,
        "doc_id", "text")
      .select($"id_a".cast("long"), $"id_b".cast("long"), $"jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(dst) == pairs(src) && pairs(dst).nonEmpty)
    assert(Dedup.indexedDocCount(spark, dst) == Dedup.indexedDocCount(spark, src))
    // single epoch dir, exactly one parquet file per bshard
    def dirs(p: String, pre: String) = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith(pre))
    assert(dirs(s"$dst/bands", "epoch=").map(_.getName).toSeq == Seq("epoch=0"))
    assert(dirs(s"$dst/bands/epoch=0", "bshard=").forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    Seq(src, dst).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("readAccepted returns a typed empty frame when every committed " +
      "batch was empty (the _schema sentinel)") {
    val out = Files.createTempDirectory("graft_sde_out_").toString
    // an empty batch journals nothing (dynamic overwrite of an empty
    // frame writes no files) — only the sentinel gives readback a schema
    StreamingDedup.commitBatch("/nonexistent_index", out, "doc_id", "text")(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L)
    val acc = StreamingDedup.readAccepted(spark, out)
    assert(acc.count() == 0)
    assert(acc.columns.toSet == Set("doc_id", "text", "batch_id"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("LSH-bucketed embedding near-dup pairs ⊆ exact pairs (corpus-" +
      "independent safety behind dd_embed_neardup_lsh's measured literal)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairs(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.4, bits = 4))
    val exact = pairs(Similarity.cosineExactPairs(emb, "vec_id", "embedding",
      threshold = 0.4))
    assert(lsh.nonEmpty && lsh.subsetOf(exact))
  }

  test("writeResumable skips unparseable bucket directories instead of crashing") {
    val cfg = Pipeline.Config(nConvs = 8, nBase = 32)
    val triples = Pipeline.triples(spark, cfg).toDF()
    val dir = Files.createTempDirectory("graft_sink_junk_").toString
    // foreign debris the sweep must not choke on (ADVICE r4)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/triples/bucket=__HIVE_DEFAULT_PARTITION__"))
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/triples/bucket=not_a_number"))
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/triples/_temporary/0"))
    Files.createFile(java.nio.file.Paths.get(s"$dir/triples/_SUCCESS"))
    GraphSink.writeResumable(triples, dir, "junk_tolerant", nBuckets = 4)
    assert(GraphSink.readTriples(spark, dir).count() == triples.count())
    // the junk dirs are outside the contract: left alone, never read back
    assert(new java.io.File(s"$dir/triples/bucket=not_a_number").exists())
    assert(new java.io.File(s"$dir/triples/bucket=__HIVE_DEFAULT_PARTITION__").exists())
    assert(new java.io.File(s"$dir/triples/_temporary/0").exists())
    // the shared partition listing sees only the numeric bucket dirs
    val buckets = graft.util.PartitionedParquet.partitionIds(spark, s"$dir/triples", "bucket")
    assert(buckets.sorted == GraphSink.readTriples(spark, dir)
      .select("bucket").distinct().collect().map(_.getLong(0)).toSeq.sorted)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
