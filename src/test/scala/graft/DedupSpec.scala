package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.util.PartitionedParquet
import graft.operators.Dedup.{Minhash, Simhash}
import org.apache.spark.sql.functions._

/** The batch dedup surfaces and the persisted minhash index: build,
  * append, probe, compaction and its fence, and the meta commit marker. */
class DedupSpec extends GraftSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def doc(pre: String, seed: Int, n: Int) =
    (seed until seed + n).map(i => s"$pre$i").mkString(" ")

  /** The index's committed FULL doc count — the probe's cap basis. */
  private def docCount(path: String): Long =
    Dedup.readIndexMeta(spark, path).map(_._2).sum

  private val sf0001Docs = "/root/testdata/sf0.001/documents.parquet"

  test("exact dedup collapses identical texts to the min id") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val got = Dedup.exact(d, "doc_id", "text").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds a planted near-duplicate and skips unrelated text") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"word$i").mkString(" ") + " altered tail here"
    val other = (100 to 160).map(i => s"token$i").mkString(" ")
    val got = Dedup.estimatePairs(
      docs((1L, base), (2L, nearDup), (3L, other)), "doc_id", "text", Minhash,
      threshold = 0.4).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    val est = got.head.getDouble(2)
    assert(est > 0.4 && est <= 1.0)
  }

  test("simhash: identical texts distance 0; near texts within small hamming") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"word$i").mkString(" ") + " tail"
    val other = (100 to 160).map(i => s"tok$i").mkString(" ")
    val sigs = docs((1L, base), (2L, base), (3L, nearDup), (4L, other))
      .select(col("doc_id"), HofReference.simhash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
    val pairs = Dedup.estimatePairs(
      docs((1L, base), (2L, base)), "doc_id", "text", Simhash(4), threshold = 0)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ===
      Set((1L, 2L, 0)))
  }

  test("degenerate corpus: bucket cap kills the quadratic bucket, keeps honest pairs") {
    // 500 identical docs co-bucket in EVERY band — uncapped, that is one
    // 500²-pair bucket per band. The exact-dedup-first contract owns
    // identical texts; the cap must (a) drop those buckets, (b) still find
    // the planted near-dup pair living in small buckets.
    val boiler = (1 to 40).map(i => s"boiler$i").mkString(" ")
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"word$i").mkString(" ") + " altered tail here"
    val degenerate = (10L until 510L).map(i => (i, boiler))
    val d = docs(degenerate :+ (1L -> base) :+ (2L -> nearDup): _*)
    val mh = Dedup.estimatePairs(d, "doc_id", "text", Minhash,
      threshold = 0.4, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === Set((1L, 2L))) // boiler pairs capped away, honest pair kept
    val sh = Dedup.estimatePairs(d, "doc_id", "text", Simhash(4),
      threshold = 10, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sh.exists { case (a, b) => a >= 10L && b >= 10L })
    // and with the cap above the corpus size, the quadratic bucket is back
    // (sanity that the cap is what kills it)
    val uncapped = Dedup.estimatePairs(d.filter(col("doc_id") < 60),
      "doc_id", "text", Minhash, threshold = 0.4, maxBucket = 100000)
    assert(uncapped.count() >= 48L * 49 / 2)
  }

  test("ngram jaccard: exact on hand-computable shingle sets") {
    // "a b c d" shingles(k=2... here k=3): {abc, bcd}; "a b c e": {abc, bce}
    // jaccard = 1/3
    val got = Dedup.ngramJaccardPairs(
      docs((1L, "a b c d"), (2L, "a b c e")), "doc_id", "text",
      threshold = 0.2, maxDf = 10).collect()
    assert(got.length === 1)
    assert(math.abs(got.head.getDouble(2) - 1.0 / 3) < 1e-6)
  }

  test("dedup bucket-cap drop is auditable, not silent") {
    // 4 identical texts co-bucket in every band; cap 3 drops them all
    val docs = (0L until 4L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val dropped = Dedup.droppedBuckets(docs, "doc_id", "text", Minhash,
      maxBucket = 3)
    assert(dropped.count() > 0)
    assert(Dedup.estimatePairs(docs, "doc_id", "text", Minhash,
      threshold = 0.5, maxBucket = 3).count() == 0)
    // uncapped: all 6 pairs found, and the audit reports nothing dropped
    assert(Dedup.droppedBuckets(docs, "doc_id", "text", Minhash,
      maxBucket = 1000).count() == 0)
    assert(Dedup.estimatePairs(docs, "doc_id", "text", Minhash,
      threshold = 0.5).count() == 6)
  }

  test("canonicalByNearDup resolves transitive chains; id types preserved") {
    // a PATH-shaped cluster — J(a,b)=J(b,c)=0.6, J(a,c)=0.33 — that only
    // transitive closure merges (the synthetic corpus holds cliques only,
    // so this shape is exactly what the oracle can't exercise)
    val w = (1 to 26).map(i => f"tok$i%02d")
    val a = w.slice(0, 18).mkString(" ")   // words 1..18
    val b = w.slice(4, 22).mkString(" ")   // words 5..22: J(a,b)=12/20=0.6
    val c = w.slice(8, 26).mkString(" ")   // words 9..26: J(b,c)=0.6, J(a,c)=8/24=0.33
    val far = (1 to 18).map(i => s"other$i").mkString(" ")
    val docs = Seq(("dA", a), ("dB", b), ("dC", c), ("dD", far))
      .toDF("doc_id", "text") // STRING ids — must survive untouched
    val out = Dedup.canonicalByNearDup(docs, "doc_id", "text",
        trueThreshold = 0.5)
      .as[(String, String)].collect().toMap
    assert(out == Map("dA" -> "dA", "dB" -> "dA", "dC" -> "dA", "dD" -> "dD"))
  }

  test("ngramJaccardPairs never pairs docs shorter than one full shingle") {
    val docs = Seq((1L, "hello world"), (2L, "hello world"),
      (3L, "alpha beta gamma delta"), (4L, "alpha beta gamma epsilon"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.1, maxDf = 10)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // the identical 2-word docs must NOT pair (padded short shingles are
    // for LSH bucketing, not a Jaccard surface — and the exact SQL oracle
    // excludes sub-k docs); the real 3-shingle pair still does
    assert(pairs == Set((3L, 4L)))
  }

  test("simhash recall surface == minhash recall surface == exact pairs") {
    val docs = spark.read.parquet(sf0001Docs)
      .select($"doc_id", $"text")
    // exact O(n²) oracle, computed naively in-test (50 docs)
    val sh = docs.filter(size(Dedup.words($"text")) >= 3)
      .select($"doc_id".as("id"),
        graft.functions.SignatureExprs.shingleHashes($"text", 3).as("sh"))
    val exact = sh.as("a").join(sh.as("b"), $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        (size(array_intersect($"a.sh", $"b.sh")) /
          (size($"a.sh") + size($"b.sh") - size(array_intersect($"a.sh", $"b.sh")))
            .cast("double")).as("j"))
      .filter($"j" >= 0.5)
      .select($"id_a", $"id_b", round($"j", 6).as("jaccard"))
      .collect().map(_.toString).sorted.toSeq
    val bySimhash = Dedup.trueJaccardPairs(docs, "doc_id", "text", Simhash(8))
      .collect().map(_.toString).sorted.toSeq
    val byMinhash = Dedup.trueJaccardPairs(docs, "doc_id", "text", Minhash)
      .collect().map(_.toString).sorted.toSeq
    assert(bySimhash == exact, "simhash 8×8 blocking must recall every exact pair")
    assert(byMinhash == exact)
  }

  test("corpus-sized recall cap never drops what a tight fixed cap would") {
    // 40 near-identical docs: one simhash block bucket holds all of them
    val docs = (0L until 40L)
      .map(i => (i, s"shared boilerplate text body repeated across documents v$i"))
      .toDF("doc_id", "text")
    // a tight fixed cap drops the bucket…
    assert(Dedup.droppedBuckets(docs, "doc_id", "text", Simhash(8),
      maxBucket = 10).count() > 0)
    val capped = Dedup.trueJaccardPairs(docs, "doc_id", "text", Simhash(8),
      trueThreshold = 0.3, maxBucket = 10)
    // …the corpus-sized sentinel (maxBucket = 0 → max(1000, ⌈n/2⌉)) does not
    assert(Dedup.droppedBuckets(docs, "doc_id", "text", Simhash(8),
      maxBucket = 0).count() == 0)
    val sentinel = Dedup.trueJaccardPairs(docs, "doc_id", "text", Simhash(8),
      trueThreshold = 0.3, maxBucket = 0)
    assert(sentinel.count() > capped.count())
    assert(sentinel.count() == 40L * 39 / 2) // every pair is a true near-dup
  }

  test("simhashRecallMaxHamming reports the emitted pairs' margin") {
    // long docs differing in ONE word: the signature hamming stays small
    // (each word is a small fraction of the bit-counter mass), so the pair
    // is inside the guaranteed 8×8 ball and must be emitted
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base + " ending"),
      (2L, base + " different"),
      (3L, (101 to 140).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val r = Dedup.simhashRecallMaxHamming(docs, "doc_id", "text",
      trueThreshold = 0.3).head()
    assert(r.getLong(1) == 1L) // exactly the (1,2) pair
    val ham = r.getInt(0)
    assert(ham >= 0 && ham <= 7, s"near-dup pair hamming $ham outside the 8x8 ball")
  }

  test("restructured dd surfaces still match their pre-r8 row sets (spot: minhash recall + ngram)") {
    val docs = spark.read.parquet(sf0001Docs)
    // pre-r8 formulations restated inline as the oracle
    val mh = Dedup.trueJaccardPairs(docs, "doc_id", "text", Minhash,
      trueThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = docs.filter(size(Dedup.words(col("text"))) >= 3)
      .select(col("doc_id").as("id"),
        graft.functions.SignatureExprs.shingleHashes(col("text"), 3).as("sh"))
    val naive = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("j", col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("j") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("j"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mh == naive && naive.nonEmpty)
    val ng = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.5, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ng == naive)
  }

  test("maxBucket = 0 is the corpus-sized cap on the estimate surfaces and their audit") {
    // the planted-pair corpus of the minhash test: one true near-dup pair,
    // in buckets far below any cap — 0 must not read as "keep nothing"
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"word$i").mkString(" ") + " altered tail here"
    val other = (100 to 160).map(i => s"token$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, other))
    for ((blocking, threshold) <- Seq((Minhash, 0.4), (Simhash(4), 10.0))) {
      def pairs(maxBucket: Int) =
        Dedup.estimatePairs(d, "doc_id", "text", blocking, threshold, maxBucket)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(1000) == Set((1L, 2L)), blocking)
      assert(pairs(0) == pairs(1000), blocking)
      assert(Dedup.droppedBuckets(d, "doc_id", "text", blocking, maxBucket = 0)
        .count() == 0, blocking)
    }
  }

  test("Simhash rejects a block count that is not a positive divisor of 64") {
    for (n <- Seq(0, -4, 3)) intercept[IllegalArgumentException](Simhash(n))
    assert(Simhash(4).nKeys == 4 && Simhash(64).nKeys == 64)
  }

  test("cosine expression matches a driver-side computation") {
    import spark.implicits._
    val a = Seq(1.0f, 2.0f, 3.0f); val b = Seq(3.0f, 2.0f, 1.0f)
    val got = Seq((a, b)).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val exp = dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    assert(math.abs(got - exp) < 1e-12)
  }

  test("brute-force top-k is exact; LSH candidates are a subset with the same scores") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5).collect()
    assert(brute.head.getLong(0) === 0L) // self-similarity = 1.0 tops the list
    assert(math.abs(brute.head.getDouble(1) - 1.0) < 1e-6)
    val scores = brute.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.annTopK(emb, "vec_id", "embedding", q, 5, Similarity.Lsh())
      .collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      // every LSH hit's score equals the exact cosine (rerank is exact)
      scores.get(r.getLong(0)).foreach(s => assert(math.abs(s - r.getDouble(1)) < 1e-9))
    }
  }

  test("text analysis: token counts and langid behave on known inputs") {
    import spark.implicits._
    val d = Seq((1L, "the cat and the dog sat"), (2L, "zzz qqq kkk www")).toDF("doc_id", "text")
    val rows = d.select(col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).as("ws"),
      TextAnalysis.langIdHeuristic(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(rows(1L) === ((6, "en")))
    assert(rows(2L) === ((4, "other")))
  }

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
    val dir = SparkEntry.tmpDir("graft_inc_idx_")
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
    val dir2 = SparkEntry.tmpDir("graft_inc_idx2_")
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
    assert(docCount(dir)
      == docCount(dir2))
  }

  test("index compaction folds multi-epoch indexes to one epoch, one file " +
      "per shard, identical probe results") {
    def doc(seed: Int, n: Int) = (seed to seed + n).map(i => s"s$i").mkString(" ")
    val corpus = (0 until 8).map(i => (i.toLong, doc(i * 1000, 40)))
      .toDF("doc_id", "text")
    val src = SparkEntry.tmpDir("graft_cmp_src_")
    val dst = SparkEntry.tmpDir("graft_cmp_dst_") + "/idx"
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
    assert(docCount(dst) == docCount(src))
    // single epoch dir, exactly one parquet file per bshard
    def dirs(p: String, pre: String) = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith(pre))
    assert(dirs(s"$dst/bands", "epoch=").map(_.getName).toSeq == Seq("epoch=0"))
    assert(dirs(s"$dst/bands/epoch=0", "bshard=").forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1))
  }

  test("a half-appended epoch (no meta commit marker) is invisible to the " +
      "probe; the retried append completes it") {
    def doc(seed: Int, n: Int) = (seed to seed + n).map(i => s"h$i").mkString(" ")
    val corpus = (0 until 6).map(i => (i.toLong, doc(i * 1000, 40)))
      .toDF("doc_id", "text")
    val idx = SparkEntry.tmpDir("graft_half_idx_")
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    val delta = Seq((100L, doc(50000, 40))).toDF("doc_id", "text")
    val probe = Seq((300L, doc(50000, 40) + " q")).toDF("doc_id", "text")
    def pairs() = Dedup.incrementalTrueJaccardPairs(spark, idx, probe,
        "doc_id", "text")
      .select($"id_a".cast("long"), $"id_b".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() == Set.empty) // 50000-series not indexed yet
    // simulate the append crashing AFTER bands+docs, BEFORE meta (meta is
    // written last = the commit marker): append fully, then remove the
    // epoch's meta partition
    Dedup.appendToMinhashIndex(delta, "doc_id", "text", idx, epoch = 1L)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$idx/meta/epoch=1"))
    // bands/docs rows for epoch 1 exist on disk…
    assert(spark.read.parquet(s"$idx/bands")
      .filter($"epoch" === 1).count() > 0)
    // …but the probe must not see them (no partial-epoch candidates, and
    // the cap basis == the committed doc count)
    assert(pairs() == Set.empty)
    assert(docCount(idx) == 6)
    // the retried append completes the epoch; the probe now pairs
    Dedup.appendToMinhashIndex(delta, "doc_id", "text", idx, epoch = 1L)
    assert(pairs() == Set((100L, 300L)))
  }

  test("compaction fence: an append below min_next_epoch fails loudly; " +
      "appends at/above the fence work; the fence carries across a second " +
      "compaction") {
    val corpus = (0 until 6).map(i => (i.toLong, doc("fe", i * 1000, 40)))
      .toDF("doc_id", "text")
    val src = SparkEntry.tmpDir("graft_fence_src_")
    val dst = SparkEntry.tmpDir("graft_fence_dst_") + "/idx"
    val dst2 = SparkEntry.tmpDir("graft_fence_dst2_") + "/idx"
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", src)
    Dedup.appendToMinhashIndex(
      Seq((100L, doc("fe", 50000, 40))).toDF("doc_id", "text"),
      "doc_id", "text", src, epoch = 1L)
    assert(PartitionedParquet.minNextEpoch(spark, src) == 1L) // never compacted
    Dedup.compactMinhashIndex(spark, src, dst)
    // folded epochs 0 and 1 → the smallest legal append epoch is 2
    assert(PartitionedParquet.minNextEpoch(spark, dst) == 2L)
    val late = Seq((200L, doc("fe", 60000, 40))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(late, "doc_id", "text", dst, epoch = 1L)
    }
    assert(e.getMessage.contains("compaction fence"))
    // the refused append added NOTHING (no partial rows either: the fence
    // check runs before any job starts)
    assert(docCount(dst) == 7)
    assert(spark.read.parquet(s"$dst/docs")
      .filter($"id" === 200L).count() == 0)
    // the same append at the fence epoch is legal
    Dedup.appendToMinhashIndex(late, "doc_id", "text", dst, epoch = 2L)
    assert(docCount(dst) == 8)
    // a second compaction carries max(committed)+1 = 3 forward
    Dedup.compactMinhashIndex(spark, dst, dst2)
    assert(PartitionedParquet.minNextEpoch(spark, dst2) == 3L)
  }

  test("compaction reads only meta-committed epochs: a half-appended epoch " +
      "(bands/docs, no commit marker) stays invisible post-compaction " +
      "instead of being silently committed") {
    val corpus = (0 until 6).map(i => (i.toLong, doc("hc", i * 1000, 40)))
      .toDF("doc_id", "text")
    val src = SparkEntry.tmpDir("graft_hcmp_src_")
    val dst = SparkEntry.tmpDir("graft_hcmp_dst_") + "/idx"
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", src)
    // simulate the crash-before-meta half-append (meta is written last)
    Dedup.appendToMinhashIndex(
      Seq((100L, doc("hc", 50000, 40))).toDF("doc_id", "text"),
      "doc_id", "text", src, epoch = 1L)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$src/meta/epoch=1"))
    Dedup.compactMinhashIndex(spark, src, dst)
    // the uncommitted doc is NOT in the compacted copy — docs rows equal
    // the meta cap basis again (ADVICE r6: the old unfiltered copy folded
    // it into epoch 0, breaking the commit-marker invariant)
    assert(spark.read.parquet(s"$dst/docs").filter($"id" === 100L).count() == 0)
    assert(spark.read.parquet(s"$dst/bands").filter($"id" === 100L).count() == 0)
    assert(docCount(dst) == 6)
    assert(spark.read.parquet(s"$dst/docs").count() ==
      spark.read.parquet(s"$src/docs").filter($"epoch" === 0).count())
    // ...and the probe on the compacted copy agrees with the committed src
    val probe = Seq((300L, doc("hc", 50000, 40) + " q")).toDF("doc_id", "text")
    val pairs = Dedup.incrementalTrueJaccardPairs(spark, dst, probe,
      "doc_id", "text").count()
    assert(pairs == 0) // 50000-series never committed
    // a compaction fence exists even though only epoch 0 was committed
    assert(PartitionedParquet.minNextEpoch(spark, dst) == 1L)
  }
}
