package graft

import graft.model.Turn
import graft.operators._
import graft.sources.{Gazetteer, SynthTranscripts}
import graft.streaming.StreamingTriples
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Structured-Streaming surface (SURVEY.md §2.10): narrow stages run
  * unchanged on an unbounded Dataset; foreachBatch commits are idempotent
  * under micro-batch replay; watermarked dedup absorbs duplicate arrivals. */
class StreamingSpec extends GraftSuite {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val nBase = 48
  private val cfg = Pipeline.Config(12, nBase)
  private lazy val gaz = Gazetteer.rows(nBase).toArray
  private lazy val gazDf = Gazetteer.rows(nBase).toDF()
  private lazy val allTurns: Seq[Turn] =
    SynthTranscripts.turns(spark, cfg.nConvs, nBase).collect().toSeq

  /** Batch-reference triples over the given turns. */
  private def batchTriples(ts: Seq[Turn]): Seq[String] = {
    val tdf = ts.toDS().toDF()
    val m = Pipeline.mentions(spark, cfg, tdf)
    Triples.all(Aggregation.perTurn(Linking.link(m, gazDf)), tdf)
      .select("subj", "pred", "obj", "confidence")
      .collect().map(_.toString).sorted.toSeq
  }

  test("streaming mention detection == batch mention detection") {
    val ms = MemoryStream[Turn]
    ms.addData(allTurns)
    val q = StreamingTriples.mentionsStream(ms.toDF(), gaz)
      .writeStream.format("memory").queryName("m_stream").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("m_stream").collect().map(_.toString).sorted.toSeq
    val want = Pipeline.mentions(spark, cfg, allTurns.toDS().toDF())
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("incremental foreachBatch commits == batch pipeline; replay is idempotent") {
    val dir = Files.createTempDirectory("kgstream").toString
    val ckpt = Files.createTempDirectory("kgckpt").toString
    // conversation-complete micro-batches (the ingest contract)
    val (b1, b2) = allTurns.partition(t => math.abs(t.conv_id.hashCode) % 2 == 0)
    assert(b1.nonEmpty && b2.nonEmpty)
    val ms = MemoryStream[Turn]
    // watermark wide enough that the second (event-time-older) micro-batch
    // is not dropped as late — arrival order here is not event-time order
    val q = StreamingTriples.start(ms.toDF(), gaz, gazDf, dir, ckpt,
      watermark = "3650 days")
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val got = StreamingTriples.readTriples(spark, dir)
      .select("subj", "pred", "obj", "confidence")
      .collect().map(_.toString).sorted.toSeq
    assert(got == batchTriples(allTurns))
    // replaying micro-batch 0 (Spark redelivers after failure) is a no-op
    // for BOTH the data AND the manifest — a replay must not duplicate the
    // batch's manifest rows (consumers sum triple_count)
    import org.apache.spark.sql.functions.{coalesce => cls, col, lit, sum}
    def manifestSum: Long = spark.read.parquet(GraphSink.manifestPath(dir))
      .agg(cls(sum(col("triple_count")), lit(0L))).head().getLong(0)
    val before = StreamingTriples.readTriples(spark, dir).count()
    val mBefore = manifestSum
    assert(mBefore == before) // manifest agrees with data pre-replay
    StreamingTriples.commitBatch(gaz, gazDf, dir)(b1.toDS().toDF(), 0L)
    assert(StreamingTriples.readTriples(spark, dir).count() == before)
    assert(manifestSum == mBefore)
  }

  test("commitBatch evaluates the batch plan once: the manifest is computed " +
      "from the written partition, not by re-running the pipeline") {
    val dir = Files.createTempDirectory("kgstream_once").toString
    val reads = spark.sparkContext.longAccumulator("batch_rows_evaluated")
    // a batch frame whose every evaluation of a source row is counted
    val batch = spark.createDataset(spark.sparkContext.parallelize(allTurns, 4)
      .map { t => reads.add(1); t }).toDF()
    def evaluated(body: => Unit): Long = { reads.reset(); body; reads.value }
    // one evaluation of the batch's triples plan (several branches read
    // the turns, so this is a multiple of the row count)
    val once = evaluated {
      Triples.all(Aggregation.perTurn(Linking.link(Pipeline.mentions(spark, cfg, batch),
        gazDf)), batch).write.format("noop").mode("overwrite").save()
    }
    assert(once >= allTurns.size)
    val commit = evaluated(StreamingTriples.commitBatch(gaz, gazDf, dir)(batch, 0L))
    // + the emptiness probe's limit(1), at most one row per partition
    assert(commit <= once + 4, s"commitBatch read $commit source rows, one plan reads $once")
    // and the manifest still certifies exactly what was written
    import org.apache.spark.sql.functions.{col, sum}
    assert(GraphSink.readManifest(spark, dir).agg(sum(col("triple_count"))).head().getLong(0)
      == StreamingTriples.readTriples(spark, dir).count())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("stateful per-conv support converges to the batch aggregate across micro-batches") {
    import org.apache.spark.sql.functions._
    val (b1, b2) = allTurns.partition(t => t.turn_idx % 2 == 0) // convs SPLIT across batches
    val ms = MemoryStream[Turn]
    val q = StreamingTriples.statefulConvSupport(
        StreamingTriples.mentionsStream(ms.toDF(), gaz))
      .writeStream.format("memory").queryName("conv_support")
      .outputMode("update").start()
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    // Update mode re-emits a conv's concept row whenever it changes; the
    // counts are monotone, so max-per-key IS the final emission
    val got = spark.table("conv_support")
      .groupBy("conv_id", "concept")
      .agg(max("total_count").cast("int").as("total_count"),
        max("unique_count").cast("int").as("unique_count"))
      .collect().map(_.toString).sorted.toSeq
    val batchMentions = Pipeline.mentions(spark, cfg, allTurns.toDS().toDF())
    val want = batchMentions
      .groupBy(col("conv_id"), concat_ws(":", col("source"), col("code")).as("concept"))
      .agg(count(lit(1)).cast("int").as("total_count"),
        countDistinct(col("try_index")).cast("int").as("unique_count"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("windowed agg: streaming complete-mode == batch; append emits only watermark-closed windows") {
    import org.apache.spark.sql.functions._
    val ms = MemoryStream[Turn]
    val q = StreamingTriples.windowedTurnStats(ms.toDF())
      .writeStream.format("memory").queryName("win_complete")
      .outputMode("complete").start()
    val (b1, b2) = allTurns.partition(_.turn_idx % 2 == 0)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val got = spark.table("win_complete").collect().map(_.toString).sorted.toSeq
    val want = StreamingTriples.windowedTurnStats(allTurns.toDS().toDF())
      .collect().map(_.toString).sorted.toSeq
    assert(got == want && got.nonEmpty)

    // append mode: only windows the watermark has passed are emitted
    val ms2 = MemoryStream[Turn]
    val q2 = StreamingTriples.windowedTurnStats(ms2.toDF())
      .writeStream.format("memory").queryName("win_append")
      .outputMode("append").start()
    ms2.addData(allTurns); q2.processAllAvailable()
    // watermark advances only on the NEXT batch after max(ts) is seen
    ms2.addData(Seq.empty[Turn]); q2.processAllAvailable()
    q2.stop()
    val appended = spark.table("win_append").collect().map(_.toString).toSet
    val all = want.toSet
    assert(appended.subsetOf(all))
    // every window strictly before max(ts) - watermark must have flushed
    val maxTs = allTurns.map(_.ts.getTime).max
    val horizon = maxTs - 30 * 60 * 1000
    val expectClosed = StreamingTriples.windowedTurnStats(allTurns.toDS().toDF())
      .filter(col("w_start") + expr("INTERVAL 1 HOUR") <= lit(new java.sql.Timestamp(horizon)))
      .collect().map(_.toString).toSet
    assert(expectClosed.subsetOf(appended))
    assert(appended.size < all.size) // the still-open windows are withheld
  }

  test("watermarked dedup absorbs duplicate turn arrivals") {
    val dir = Files.createTempDirectory("kgstream2").toString
    val ckpt = Files.createTempDirectory("kgckpt2").toString
    val (b1, _) = allTurns.partition(t => math.abs(t.conv_id.hashCode) % 2 == 0)
    val ms = MemoryStream[Turn]
    val q = StreamingTriples.start(ms.toDF(), gaz, gazDf, dir, ckpt)
    ms.addData(b1 ++ b1) // duplicated upload in one micro-batch
    q.processAllAvailable(); q.stop()
    val got = StreamingTriples.readTriples(spark, dir)
      .select("subj", "pred", "obj", "confidence")
      .collect().map(_.toString).sorted.toSeq
    assert(got == batchTriples(b1))
  }
}
