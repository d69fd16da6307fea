package graft

import graft.operators.Dedup
import graft.streaming.StreamingDedup

/** Streaming incremental dedup: each micro-batch deduped against the
  * persisted index, the seen tail and itself (== the one-shot batch rule,
  * replay-idempotent), the fold-and-retire lifecycle and its watermark,
  * and the blue/green compaction pointer flip under a running stream. */
class StreamingDedupSpec extends GraftSuite {
  import spark.implicits._

  private def doc(pre: String, seed: Int, n: Int) =
    (seed until seed + n).map(i => s"$pre$i").mkString(" ")

  /** The index's committed FULL doc count — the probe's cap basis. */
  private def docCount(path: String): Long =
    Dedup.readIndexMeta(spark, path).map(_._2).sum

  /** The index's stream-fold watermark. */
  private def watermark(path: String): Long =
    Dedup.foldWatermark(Dedup.readIndexMeta(spark, path))

  test("streaming incremental dedup: accepted == batch incremental over the " +
      "concatenation; replayed batchId is idempotent even after later batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def doc(seed: Int, n: Int) = (seed to seed + n).map(i => s"s$i").mkString(" ")
    val corpus = (0 until 10).map(i => (i.toLong, doc(i * 1000, 40)))
      .toDF("doc_id", "text")
    val idx = SparkEntry.tmpDir("graft_sdd_idx_")
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
    val out = SparkEntry.tmpDir("graft_sdd_out_")
    val ck = SparkEntry.tmpDir("graft_sdd_ck_")
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
    val idx = SparkEntry.tmpDir("graft_sdc_idx_")
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    val out = SparkEntry.tmpDir("graft_sdc_out_")
    val ck = SparkEntry.tmpDir("graft_sdc_ck_")
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
  }

  test("readAccepted returns a typed empty frame when every committed " +
      "batch was empty (the _schema sentinel)") {
    val out = SparkEntry.tmpDir("graft_sde_out_")
    // an empty batch journals nothing (dynamic overwrite of an empty
    // frame writes no files) — only the sentinel gives readback a schema
    StreamingDedup.commitBatch("/nonexistent_index", out, "doc_id", "text")(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L)
    val acc = StreamingDedup.readAccepted(spark, out)
    assert(acc.count() == 0)
    assert(acc.columns.toSet == Set("doc_id", "text", "batch_id"))
  }

  test("fold-and-retire: stream 4 batches, fold after 2, stream 2 more — " +
      "accepted == one-shot batch rule (chain across the fold boundary), " +
      "seen tail holds only post-fold batches, re-fold is a no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def words(seed: Int, n: Int) = (seed until seed + n).map(i => s"f$i")
    def doc(seed: Int, n: Int) = words(seed, n).mkString(" ")
    // chain fixture crossing the FOLD boundary (the semantics the fold
    // must preserve: a dead doc folded into the index still kills its
    // later twin): corpus a ≈ b (batch 1, dies), b ≈ c (batch 2 — AFTER
    // the fold of batches 0-1), a ̸≈ c. Same Jaccard arithmetic as the
    // Round5 chain test: J(a,b)≈0.559, J(b,c)≈0.915, J(a,c)≈0.493.
    val aText = words(0, 40).mkString(" ")
    val bText = (words(0, 40) ++ words(50000, 30)).mkString(" ")
    val cText = (words(0, 40).updated(20, "zz") ++ words(50000, 30))
      .mkString(" ")
    val corpus = Seq((0L, aText), (1L, doc(90000, 40)), (2L, doc(80000, 40)))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (100L, doc(80000, 40) + " x"), // near-dup of corpus 2 → dies (index)
      (101L, doc(60000, 40)))        // unique → accepted
    val b2 = Seq(
      (200L, bText),                 // chain: dies vs corpus a
      (201L, doc(70000, 40)))        // unique → accepted
    val b3 = Seq(
      (300L, cText),                 // chain: must die vs FOLDED dead 200
      (301L, doc(61000, 40)))        // unique → accepted
    val b4 = Seq(
      (400L, doc(61000, 40) + " y"), // near-dup of post-fold tail 301 → dies
      (401L, doc(62000, 40)))        // unique → accepted
    // two identical indexes: `idx` is streamed against (and mutated by the
    // fold); `idx0` stays pristine for the one-shot batch-rule oracle
    val idx = SparkEntry.tmpDir("graft_fold_idx_")
    val idx0 = SparkEntry.tmpDir("graft_fold_idx0_")
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx0)
    // the streaming state dir goes through an EXPLICIT file: scheme so the
    // Hadoop-FS port is exercised with a real URI, not a bare local path
    val outLocal = SparkEntry.tmpDir("graft_fold_out_")
    val out = s"file://$outLocal"
    val ck = SparkEntry.tmpDir("graft_fold_ck_")
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF.select($"_1".as("doc_id"), $"_2".as("text"))
    val q1 = StreamingDedup.start(stream, idx, out, ck)
    try {
      ms.addData(b1); q1.processAllAvailable()
      ms.addData(b2); q1.processAllAvailable()
    } finally q1.stop()
    val nIndexedBefore = docCount(idx)
    // ---- fold batches 0-1 into the index, retire their dirs ----
    StreamingDedup.foldAndRetire(spark, idx, out, uptoBatch = 1L)
    // all 4 seen docs (accepted AND dead) are now in the index's kill set
    assert(docCount(idx) == nIndexedBefore + 4)
    // the retired batch dirs are gone; the seen tail is empty pre-batch-3
    def seenBatches(): Set[String] = {
      val d = new java.io.File(s"$outLocal/seen")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.startsWith("batch_id=")).toSet
    }
    assert(seenBatches() == Set.empty)
    assert(!new java.io.File(s"$outLocal/accepted/batch_id=0").exists())
    // accepted survivors of the folded range moved to accepted_folded
    assert(StreamingDedup.readAccepted(spark, out)
      .select($"doc_id").as[Long].collect().toSet == Set(101L, 201L))
    // re-fold of the same range: covered set empty → no-op, count stable
    StreamingDedup.foldAndRetire(spark, idx, out, uptoBatch = 1L)
    assert(docCount(idx) == nIndexedBefore + 4)
    // ---- resume the stream from the same checkpoint: batches 2, 3 ----
    val q2 = StreamingDedup.start(stream, idx, out, ck)
    try {
      ms.addData(b3); q2.processAllAvailable()
      ms.addData(b4); q2.processAllAvailable()
    } finally q2.stop()
    // the post-fold seen tail touches ONLY post-fold batches
    assert(seenBatches() == Set("batch_id=2", "batch_id=3"))
    val accepted = StreamingDedup.readAccepted(spark, out)
    // batch_id is long in the merged folded+tail readback (ADVICE r5)
    assert(accepted.schema("batch_id").dataType ==
      org.apache.spark.sql.types.LongType)
    val acceptedIds = accepted.select($"doc_id").as[Long].collect().toSet
    // 300 (chain twin of folded dead 200) must be dead — killed by the
    // INDEX probe now, since the seen tail no longer holds batch 1
    val oneShot = Dedup.incrementalNewDocs(spark, idx0,
        (b1 ++ b2 ++ b3 ++ b4).toDF("doc_id", "text"), "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(acceptedIds == oneShot)
    assert(acceptedIds == Set(101L, 201L, 301L, 401L))
  }

  test("full index lifecycle: stream -> fold -> blue/green compact -> " +
      "pointer flip -> stream on, with a second fold at a monotonic epoch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def doc(seed: Int, n: Int) = (seed until seed + n).map(i => s"l$i").mkString(" ")
    val corpus = Seq((0L, doc(0, 40)), (1L, doc(90000, 40)))
      .toDF("doc_id", "text")
    val b1 = Seq((100L, doc(0, 40) + " x"),   // dies vs corpus 0
                 (101L, doc(60000, 40)))      // accepted
    val b2 = Seq((200L, doc(70000, 40)))      // accepted
    val b3 = Seq((300L, doc(60000, 40) + " y"), // dies vs FOLDED+COMPACTED 101
                 (301L, doc(62000, 40)))        // accepted
    val b4 = Seq((400L, doc(62000, 40) + " z")) // dies vs post-flip tail 301
    val idx = SparkEntry.tmpDir("graft_lc_idx_")
    val idx0 = SparkEntry.tmpDir("graft_lc_idx0_")
    val idx2 = SparkEntry.tmpDir("graft_lc_idx2_") + "/green"
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx0)
    val out = SparkEntry.tmpDir("graft_lc_out_")
    val ck = SparkEntry.tmpDir("graft_lc_ck_")
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF.select($"_1".as("doc_id"), $"_2".as("text"))
    val q1 = StreamingDedup.start(stream, idx, out, ck)
    try {
      ms.addData(b1); q1.processAllAvailable()
      ms.addData(b2); q1.processAllAvailable()
    } finally q1.stop()
    // fold batches 0-1 (epoch 2), then compact blue -> green and FLIP
    StreamingDedup.foldAndRetire(spark, idx, out, uptoBatch = 1L)
    Dedup.compactMinhashIndex(spark, idx, idx2)
    // compaction preserves the probe AND the doc-count cap basis
    assert(docCount(idx2) ==
      docCount(idx))
    val q2 = StreamingDedup.start(stream, idx2, out, ck)
    try {
      ms.addData(b3); q2.processAllAvailable()
      ms.addData(b4); q2.processAllAvailable()
    } finally q2.stop()
    // second fold AGAINST THE COMPACTED index: epoch = 3+1 = 4 > the
    // compacted copy's epoch 0 — monotonic by construction, never reused
    StreamingDedup.foldAndRetire(spark, idx2, out, uptoBatch = 3L)
    assert(spark.read.parquet(s"$idx2/meta")
      .select($"epoch".cast("long")).collect().map(_.getLong(0)).toSet ==
      Set(0L, 4L))
    val acceptedIds = StreamingDedup.readAccepted(spark, out)
      .select($"doc_id").as[Long].collect().toSet
    val oneShot = Dedup.incrementalNewDocs(spark, idx0,
        (b1 ++ b2 ++ b3 ++ b4).toDF("doc_id", "text"), "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(acceptedIds == oneShot)
    assert(acceptedIds == Set(101L, 200L, 301L))
  }

  test("fold watermark: a fold retried at a HIGHER uptoBatch after an " +
      "append-then-crash (covered dirs still on disk) re-appends nothing, " +
      "sweeps the leftovers, and readback equals the one-shot batch rule") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = Seq((0L, doc("fw", 0, 40)), (1L, doc("fw", 90000, 40)))
      .toDF("doc_id", "text")
    val b1 = Seq((100L, doc("fw", 0, 40) + " x"), // dies vs corpus 0
                 (101L, doc("fw", 60000, 40)))    // accepted
    val b2 = Seq((200L, doc("fw", 70000, 40)))    // accepted
    val idx = SparkEntry.tmpDir("graft_fw_idx_")
    val idx0 = SparkEntry.tmpDir("graft_fw_idx0_")
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx0)
    val out = SparkEntry.tmpDir("graft_fw_out_")
    val ck = SparkEntry.tmpDir("graft_fw_ck_")
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF.select($"_1".as("doc_id"), $"_2".as("text"))
    val q = StreamingDedup.start(stream, idx, out, ck)
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // stash batch 0's dirs, fold it, then RESTORE them — the exact state a
    // fold leaves when it crashes between its commit (the index append's
    // meta, which carries the watermark) and its retire step
    val stash = SparkEntry.tmpDir("graft_fw_stash_")
    for (sub <- Seq("seen", "accepted"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$out/$sub/batch_id=0"),
        new java.io.File(s"$stash/$sub/batch_id=0"))
    StreamingDedup.foldAndRetire(spark, idx, out, uptoBatch = 0L)
    assert(watermark(idx) == 0L)
    val afterFirstFold = docCount(idx) // 2 + 2
    assert(afterFirstFold == 4)
    for (sub <- Seq("seen", "accepted"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$stash/$sub/batch_id=0"),
        new java.io.File(s"$out/$sub/batch_id=0"))
    // the retry at a HIGHER uptoBatch: r6's code would re-read the
    // restored batch 0 and append its docs AGAIN under a new epoch
    // (ADVICE r6 medium #2); the watermark filter folds only batch 1
    StreamingDedup.foldAndRetire(spark, idx, out, uptoBatch = 1L)
    assert(watermark(idx) == 1L)
    assert(docCount(idx) == 5) // +1, not +3
    // no duplicated (id, sh) doc rows anywhere
    val docsDup = spark.read.parquet(s"$idx/docs")
      .groupBy($"id").count().filter($"count" > 1).count()
    assert(docsDup == 0)
    // the leftovers were swept; readback equals the one-shot batch rule
    assert(!new java.io.File(s"$out/seen/batch_id=0").exists())
    assert(!new java.io.File(s"$out/accepted/batch_id=0").exists())
    val acceptedIds = StreamingDedup.readAccepted(spark, out)
      .select($"doc_id").as[Long].collect().toSet
    val oneShot = Dedup.incrementalNewDocs(spark, idx0,
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(acceptedIds == oneShot)
    assert(acceptedIds == Set(101L, 200L))
  }

  test("late fold retry against a COMPACTED index: batches under the " +
      "carried watermark no-op (never duplicate), and the watermark " +
      "survives the blue/green copy") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = Seq((0L, doc("lc", 0, 40))).toDF("doc_id", "text")
    val b1 = Seq((100L, doc("lc", 60000, 40)))
    val idx = SparkEntry.tmpDir("graft_lr_idx_")
    val green = SparkEntry.tmpDir("graft_lr_green_") + "/idx"
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    val out = SparkEntry.tmpDir("graft_lr_out_")
    val ck = SparkEntry.tmpDir("graft_lr_ck_")
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF.select($"_1".as("doc_id"), $"_2".as("text"))
    val q = StreamingDedup.start(stream, idx, out, ck)
    try { ms.addData(b1); q.processAllAvailable() } finally q.stop()
    // stash the batch dirs (the late retry's leftover state), fold, compact
    val stash = SparkEntry.tmpDir("graft_lr_stash_")
    for (sub <- Seq("seen", "accepted"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$out/$sub/batch_id=0"),
        new java.io.File(s"$stash/$sub/batch_id=0"))
    StreamingDedup.foldAndRetire(spark, idx, out, uptoBatch = 0L)
    Dedup.compactMinhashIndex(spark, idx, green)
    assert(watermark(green) == 0L) // carried into the copy
    for (sub <- Seq("seen", "accepted"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$stash/$sub/batch_id=0"),
        new java.io.File(s"$out/$sub/batch_id=0"))
    val before = docCount(green)
    // the late retry against the flipped pointer: covered set is empty
    // under the carried watermark → no-op + sweep, no fence violation
    StreamingDedup.foldAndRetire(spark, green, out, uptoBatch = 0L)
    assert(docCount(green) == before)
    assert(spark.read.parquet(s"$green/docs")
      .groupBy($"id").count().filter($"count" > 1).count() == 0)
    assert(!new java.io.File(s"$out/seen/batch_id=0").exists())
  }
}
