package graft

import java.nio.file.Files

import graft.operators._
import graft.streaming.StreamingDedup
import graft.util.PartitionedParquet
import org.apache.spark.sql.functions._

/** Round-7 fixes: the fold/compact fence enforced in CODE (VERDICT r6 next
  * #3 — a late epoch against a compacted index fails loudly; ADVICE r6
  * medium #1 — compaction preserves the meta commit marker; ADVICE r6
  * medium #2 — the fold watermark makes foldAndRetire idempotent at ANY
  * uptoBatch across every crash window), the cross-session stage-table
  * registration (ADVICE r6 low), and the bench's exclusivity lock +
  * co-tenancy probe (VERDICT r6 next #1/#2). */
class Round7Spec extends GraftSuite {
  import spark.implicits._

  private def rmAll(paths: String*): Unit = paths.foreach { p =>
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(p.stripPrefix("file://")))
  }

  private def doc(pre: String, seed: Int, n: Int) =
    (seed until seed + n).map(i => s"$pre$i").mkString(" ")

  test("compaction fence: an append below min_next_epoch fails loudly; " +
      "appends at/above the fence work; the fence carries across a second " +
      "compaction") {
    val corpus = (0 until 6).map(i => (i.toLong, doc("fe", i * 1000, 40)))
      .toDF("doc_id", "text")
    val src = Files.createTempDirectory("graft_fence_src_").toString
    val dst = Files.createTempDirectory("graft_fence_dst_").toString + "/idx"
    val dst2 = Files.createTempDirectory("graft_fence_dst2_").toString + "/idx"
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
    assert(Dedup.indexedDocCount(spark, dst) == 7)
    assert(spark.read.parquet(s"$dst/docs")
      .filter($"id" === 200L).count() == 0)
    // the same append at the fence epoch is legal
    Dedup.appendToMinhashIndex(late, "doc_id", "text", dst, epoch = 2L)
    assert(Dedup.indexedDocCount(spark, dst) == 8)
    // a second compaction carries max(committed)+1 = 3 forward
    Dedup.compactMinhashIndex(spark, dst, dst2)
    assert(PartitionedParquet.minNextEpoch(spark, dst2) == 3L)
    rmAll(src, dst, dst2)
  }

  test("compaction reads only meta-committed epochs: a half-appended epoch " +
      "(bands/docs, no commit marker) stays invisible post-compaction " +
      "instead of being silently committed") {
    val corpus = (0 until 6).map(i => (i.toLong, doc("hc", i * 1000, 40)))
      .toDF("doc_id", "text")
    val src = Files.createTempDirectory("graft_hcmp_src_").toString
    val dst = Files.createTempDirectory("graft_hcmp_dst_").toString + "/idx"
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
    assert(Dedup.indexedDocCount(spark, dst) == 6)
    assert(spark.read.parquet(s"$dst/docs").count() ==
      spark.read.parquet(s"$src/docs").filter($"epoch" === 0).count())
    // ...and the probe on the compacted copy agrees with the committed src
    val probe = Seq((300L, doc("hc", 50000, 40) + " q")).toDF("doc_id", "text")
    val pairs = Dedup.incrementalTrueJaccardPairs(spark, dst, probe,
      "doc_id", "text").count()
    assert(pairs == 0) // 50000-series never committed
    // a compaction fence exists even though only epoch 0 was committed
    assert(PartitionedParquet.minNextEpoch(spark, dst) == 1L)
    rmAll(src, dst)
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
    val idx = Files.createTempDirectory("graft_fw_idx_").toString
    val idx0 = Files.createTempDirectory("graft_fw_idx0_").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx0)
    val out = Files.createTempDirectory("graft_fw_out_").toString
    val ck = Files.createTempDirectory("graft_fw_ck_").toString
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
    val stash = Files.createTempDirectory("graft_fw_stash_").toString
    for (sub <- Seq("seen", "accepted"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$out/$sub/batch_id=0"),
        new java.io.File(s"$stash/$sub/batch_id=0"))
    StreamingDedup.foldAndRetire(spark, idx, out, uptoBatch = 0L)
    assert(Dedup.foldWatermark(spark, idx) == 0L)
    val afterFirstFold = Dedup.indexedDocCount(spark, idx) // 2 + 2
    assert(afterFirstFold == 4)
    for (sub <- Seq("seen", "accepted"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$stash/$sub/batch_id=0"),
        new java.io.File(s"$out/$sub/batch_id=0"))
    // the retry at a HIGHER uptoBatch: r6's code would re-read the
    // restored batch 0 and append its docs AGAIN under a new epoch
    // (ADVICE r6 medium #2); the watermark filter folds only batch 1
    StreamingDedup.foldAndRetire(spark, idx, out, uptoBatch = 1L)
    assert(Dedup.foldWatermark(spark, idx) == 1L)
    assert(Dedup.indexedDocCount(spark, idx) == 5) // +1, not +3
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
    rmAll(idx, idx0, out, ck, stash)
  }

  test("late fold retry against a COMPACTED index: batches under the " +
      "carried watermark no-op (never duplicate), and the watermark " +
      "survives the blue/green copy") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = Seq((0L, doc("lc", 0, 40))).toDF("doc_id", "text")
    val b1 = Seq((100L, doc("lc", 60000, 40)))
    val idx = Files.createTempDirectory("graft_lr_idx_").toString
    val green = Files.createTempDirectory("graft_lr_green_").toString + "/idx"
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    val out = Files.createTempDirectory("graft_lr_out_").toString
    val ck = Files.createTempDirectory("graft_lr_ck_").toString
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF.select($"_1".as("doc_id"), $"_2".as("text"))
    val q = StreamingDedup.start(stream, idx, out, ck)
    try { ms.addData(b1); q.processAllAvailable() } finally q.stop()
    // stash the batch dirs (the late retry's leftover state), fold, compact
    val stash = Files.createTempDirectory("graft_lr_stash_").toString
    for (sub <- Seq("seen", "accepted"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$out/$sub/batch_id=0"),
        new java.io.File(s"$stash/$sub/batch_id=0"))
    StreamingDedup.foldAndRetire(spark, idx, out, uptoBatch = 0L)
    Dedup.compactMinhashIndex(spark, idx, green)
    assert(Dedup.foldWatermark(spark, green) == 0L) // carried into the copy
    for (sub <- Seq("seen", "accepted"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$stash/$sub/batch_id=0"),
        new java.io.File(s"$out/$sub/batch_id=0"))
    val before = Dedup.indexedDocCount(spark, green)
    // the late retry against the flipped pointer: covered set is empty
    // under the carried watermark → no-op + sweep, no fence violation
    StreamingDedup.foldAndRetire(spark, green, out, uptoBatch = 0L)
    assert(Dedup.indexedDocCount(spark, green) == before)
    assert(spark.read.parquet(s"$green/docs")
      .groupBy($"id").count().filter($"count" > 1).count() == 0)
    assert(!new java.io.File(s"$out/seen/batch_id=0").exists())
    rmAll(idx, green, out, ck, stash)
  }

  test("stage tables are cross-session artifacts again: a fresh catalog " +
      "re-registers the bucketed tables from the parquet dir and the " +
      "read-back still plans ZERO shuffles") {
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      graft.util.PlanOps.executedShuffleExchanges(df)
    val cfg = Pipeline.Config(nConvs = 15, nBase = 48)
    val stage = Files.createTempDirectory("graft_xsession_stage").toString
    val expected = Pipeline.triples(spark, cfg).collect().toSet
    Pipeline.writeLinkedStage(spark, cfg, stage)
    Pipeline.writeTurnAggStage(spark, cfg, stage)
    // simulate "another session": drop the catalog entries (ADVICE r6 —
    // they are also what a long-lived session must not accumulate), so the
    // only remaining state is the stage DIR itself
    Pipeline.dropStageTables(spark, stage)
    assert(!spark.catalog.tableExists(Pipeline.stageTable(stage, "turn_agg")))
    // the read path re-registers from the dir and produces identical rows
    val reread = Pipeline.triplesFromStage(spark, cfg, stage)
    assert(reread.collect().toSet == expected)
    // ...and the re-registered table still carries the bucket spec: the
    // per-conv merge over it plans zero exchanges, same as the writer's
    // session (PipelineSpec's assert, now across the catalog boundary)
    val conv = graft.operators.Aggregation.perConv(
      spark.table(Pipeline.stageTable(stage, "turn_agg")))
    assert(shuffles(conv) === 0)
    Pipeline.dropStageTables(spark, stage)
    rmAll(stage)
  }

  test("stage tables are written zstd: the parquet footers say so, not " +
      "just the option string") {
    val cfg = Pipeline.Config(nConvs = 8, nBase = 48)
    val stage = Files.createTempDirectory("graft_codec_stage").toString
    Pipeline.writeLinkedStage(spark, cfg, stage)
    val hconf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(s"$stage/linked")
    val fs = dir.getFileSystem(hconf)
    val parts = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
      try {
        val codecs = reader.getFooter.getBlocks.get(0).getColumns
          .asInstanceOf[java.util.List[
            org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]]
        assert(codecs.get(0).getCodec.toString === "ZSTD",
          s"stage file $p not zstd-compressed")
      } finally reader.close()
    }
    Pipeline.dropStageTables(spark, stage)
    rmAll(stage)
  }

  test("bench exclusivity lock: held-by-live-pid refuses, dead-pid lock is " +
      "stale and replaced") {
    // serialize with any real bench via the same primitive under test
    val (ok, stale1) = Bench.acquireLock()
    assume(ok, "a real bench run holds the lock — skip")
    assert(!stale1)
    try {
      // second acquire while the holder (this JVM) is alive: refused
      val (again, _) = Bench.acquireLock()
      assert(!again)
      // dead-pid lock: stale → replaced
      java.nio.file.Files.write(Bench.LockPath,
        "999999999".getBytes("UTF-8"))
      val (reacquired, stale2) = Bench.acquireLock()
      assert(reacquired && stale2)
    } finally java.nio.file.Files.deleteIfExists(Bench.LockPath)
  }

  test("co-tenancy probe: loadSample reads real host state; cotenancyClean " +
      "flags the r6 double-run shape (a co-tenant JVM, or load1 past the " +
      "all-core ceiling) and passes a clean window") {
    val s = Bench.loadSample("test")
    assert(s.load1 >= 0.0) // /proc/loadavg parsed
    // this JVM and its sbt ancestor chain are excluded from the count, so
    // a quiet box reads 0 co-tenants; never negative on this platform
    assert(s.otherJava >= 0)
    val clean = Seq(Bench.LoadSample("a", 30.0, 28.0, 0))
    val cotenantJvm = clean :+ Bench.LoadSample("b", 33.0, 30.0, 1)
    val steadyOversub = clean :+ Bench.LoadSample("c", 64.0, 61.0, 0)
    assert(Bench.cotenancyClean(clean))
    assert(!Bench.cotenancyClean(cotenantJvm))  // the r6 failure, directly
    assert(!Bench.cotenancyClean(steadyOversub)) // even if the JVM scan missed
  }

  test("co-tenancy dry run: a LIVE co-tenant JVM (the r6 double-run " +
      "scenario) is seen by the probe and flags the window") {
    val baseline = Bench.loadSample("before").otherJava
    // a real second java process (single-file source launch), NOT an
    // ancestor of this JVM — exactly what a concurrent bench looks like
    val hog = Files.createTempFile("CoTenant", ".java")
    Files.write(hog, ("public class CoTenant { public static void main" +
      "(String[] a) throws Exception { Thread.sleep(30000); } }").getBytes)
    val proc = new ProcessBuilder("java", hog.toString).start()
    try {
      // the process image is `java` from exec; give the fork a moment
      Thread.sleep(1000)
      val during = Bench.loadSample("during")
      assert(during.otherJava >= baseline + 1,
        s"probe missed the co-tenant: before=$baseline during=${during.otherJava}")
      assert(!Bench.cotenancyClean(Seq(during)))
    } finally {
      proc.destroyForcibly()
      Files.deleteIfExists(hog)
    }
  }

  test("bench lock staleness is start-time-exact: a lock whose pid was " +
      "recycled by another live process is stale, not a permanent refusal") {
    val (ok, _) = Bench.acquireLock()
    assume(ok, "a real bench run holds the lock — skip")
    java.nio.file.Files.deleteIfExists(Bench.LockPath)
    try {
      // pid 1 is alive on any Linux box, but the recorded start time can
      // never match it — the pre-fix liveness check (/proc/<pid> exists)
      // would refuse forever; the start-time check sees a recycled pid
      java.nio.file.Files.write(Bench.LockPath, "1 999999999".getBytes("UTF-8"))
      val (reacquired, stale) = Bench.acquireLock()
      assert(reacquired && stale)
    } finally java.nio.file.Files.deleteIfExists(Bench.LockPath)
  }

  test("fold watermark survives a mixed-schema meta dir: a legacy epoch " +
      "without fold_upto next to a folded epoch with it still reads the " +
      "committed watermark (footer sampling would read -1 and re-fold)") {
    val idx = Files.createTempDirectory("graft_ms_idx_").toString
    // legacy build: meta epoch=0 carries ONLY n_docs (the pre-r7 schema)
    Seq(2L).toDF("n_docs").withColumn("epoch", lit(0L))
      .write.partitionBy("epoch").parquet(s"$idx/meta")
    assert(Dedup.foldWatermark(spark, idx) == -1L)
    // an r7 fold commits epoch=1 with fold_upto=3 into the same meta dir
    Seq((1L, 3L)).toDF("n_docs", "fold_upto").withColumn("epoch", lit(1L))
      .write.mode("append").partitionBy("epoch").parquet(s"$idx/meta")
    assert(Dedup.foldWatermark(spark, idx) == 3L)
    // the doc-count basis also spans both schemas
    assert(Dedup.indexedDocCount(spark, idx) == 3L)
    rmAll(idx)
  }

  test("pre-r7 accepted_folded layout (fold_epoch= partitions) is migrated " +
      "to the batch_id= scheme by the next fold — no conflicting-partition " +
      "readback break, identical accepted rows") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = Seq((0L, doc("mg", 0, 40))).toDF("doc_id", "text")
    val b1 = Seq((100L, doc("mg", 60000, 40)))   // accepted, then folded (r6)
    val b2 = Seq((200L, doc("mg", 70000, 40)))   // accepted, tail
    val idx = Files.createTempDirectory("graft_mg_idx_").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
    val out = Files.createTempDirectory("graft_mg_out_").toString
    val ck = Files.createTempDirectory("graft_mg_ck_").toString
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF.select($"_1".as("doc_id"), $"_2".as("text"))
    val q = StreamingDedup.start(stream, idx, out, ck)
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // hand-build the r6 layout a pre-upgrade fold left behind: batch 0's
    // accepted rows live under accepted_folded/fold_epoch=1 (batch_id a
    // data column), the index carries its docs (epoch 1, fold_upto=0),
    // and the batch-0 dirs are retired
    spark.read.parquet(s"$out/accepted/batch_id=0")
      .withColumn("batch_id", lit(0L)).withColumn("fold_epoch", lit(1L))
      .write.partitionBy("fold_epoch").parquet(s"$out/accepted_folded")
    Dedup.appendToMinhashIndex(
      spark.read.parquet(s"$out/seen/batch_id=0")
        .select($"doc_id", $"text"),
      "doc_id", "text", idx, epoch = 1L, foldUpto = 0L)
    for (sub <- Seq("seen", "accepted"))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$out/$sub/batch_id=0"))
    assert(new java.io.File(s"$out/accepted_folded/fold_epoch=1").exists())
    // the r7 fold over batch 1 migrates first, then writes batch_id=1 —
    // without the migration this readback throws
    // "Conflicting partition column names" on the mixed dir
    StreamingDedup.foldAndRetire(spark, idx, out, uptoBatch = 1L)
    assert(!new java.io.File(s"$out/accepted_folded/fold_epoch=1").exists())
    assert(new java.io.File(s"$out/accepted_folded/batch_id=0").exists())
    assert(new java.io.File(s"$out/accepted_folded/batch_id=1").exists())
    val accepted = StreamingDedup.readAccepted(spark, out)
      .select($"doc_id").as[Long].collect().toSet
    assert(accepted == Set(100L, 200L))
    // lineage column survives the layout swap
    val lineage = spark.read.parquet(s"$out/accepted_folded")
      .filter($"batch_id" === 0).select($"fold_epoch".cast("long"))
      .as[Long].collect().toSet
    assert(lineage == Set(1L))
    rmAll(idx, out, ck)
  }
}
