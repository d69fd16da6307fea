package graft

import graft.model.Turn
import graft.operators._
import graft.sources.{Gazetteer, SynthTranscripts}
import graft.streaming.StreamingTriples
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Structured-Streaming surface (SURVEY.md §2.10): foreachBatch commits
  * equal the batch pipeline, read each micro-batch once and are idempotent
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
    val m = Pipeline.mentions(tdf, gaz)
    Triples.all(Aggregation.perTurn(Linking.link(m, gazDf)), tdf)
      .select("subj", "pred", "obj", "confidence")
      .collect().map(_.toString).sorted.toSeq
  }

  test("incremental foreachBatch commits == batch pipeline; replay is idempotent") {
    val dir = SparkEntry.tmpDir("kgstream")
    val ckpt = SparkEntry.tmpDir("kgckpt")
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
    val dir = SparkEntry.tmpDir("kgstream_once")
    val reads = spark.sparkContext.longAccumulator("batch_rows_evaluated")
    // a batch frame whose every evaluation of a source row is counted
    val batch = spark.createDataset(spark.sparkContext.parallelize(allTurns, 4)
      .map { t => reads.add(1); t }).toDF()
    def evaluated(body: => Unit): Long = { reads.reset(); body; reads.value }
    // one evaluation of the batch's triples plan (several branches read
    // the turns, so this is a multiple of the row count)
    val once = evaluated {
      Triples.all(Aggregation.perTurn(Linking.link(Pipeline.mentions(batch, gaz),
        gazDf)), batch).write.format("noop").mode("overwrite").save()
    }
    assert(once >= allTurns.size)
    val commit = evaluated(StreamingTriples.commitBatch(gaz, gazDf, dir)(batch, 0L))
    // the batch is persisted once: the emptiness probe and every branch of
    // the plan read the cached rows, so each source row is evaluated once
    assert(commit <= allTurns.size,
      s"commitBatch read $commit source rows for ${allTurns.size} turns; one plan reads $once")
    // and the manifest still certifies exactly what was written
    import org.apache.spark.sql.functions.{col, sum}
    assert(GraphSink.readManifest(spark, dir).agg(sum(col("triple_count"))).head().getLong(0)
      == StreamingTriples.readTriples(spark, dir).count())
  }

  test("watermarked dedup absorbs duplicate turn arrivals") {
    val dir = SparkEntry.tmpDir("kgstream2")
    val ckpt = SparkEntry.tmpDir("kgckpt2")
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
