package graft.streaming

import graft.model.{GazRow, Mention}
import graft.operators._
import graft.util.PartitionedParquet
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental (Structured Streaming) surface of the KG pipeline
  * (SURVEY.md §2.10). The reference has no stream processing — work arrives
  * one document per Celery task with revoke-and-replace semantics
  * (`src/app.py:1191-1208,1339`); this module is the Spark-native
  * restatement of those obligations:
  *
  *  - duplicate/late arrivals → event-time watermark +
  *    dropDuplicatesWithinWatermark on the turn key (the queue's
  *    duplicate-upload guard, `src/app.py:1232-1285`);
  *  - per-unit processing → the same narrow segment→extract stages run
  *    unchanged on a streaming Dataset (append mode, zero state);
  *  - commit/supersede → foreachBatch writes each micro-batch's triples
  *    under `(batch_id, bucket)` partitions with a scoped overwrite
  *    ([[graft.util.PartitionedParquet.scopedOverwrite]]), so a
  *    replayed micro-batch (Spark redelivers the same batchId after a
  *    failure) overwrites exactly its own output — idempotent, and the
  *    manifest row (one per batch × bucket, lineage = batch id) is written
  *    only after the data commit, mirroring [[graft.operators.GraphSink]].
  *
  * Windowed predicates (`replies_to` via lag) are computed within a
  * micro-batch; the ingest contract is conversation-complete batches
  * (upstream sessionization), the same unit-of-work contract the reference
  * queue enforces per document.
  */
object StreamingTriples {

  /** Exactly-once turn stream: watermarked dedup on the turn key. */
  def dedupedTurns(turns: DataFrame, watermark: String = "10 minutes"): DataFrame =
    turns.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")

  /** Streaming mention detection: the batch stages are narrow, so they run
    * on an unbounded Dataset as-is (append mode, no state, no shuffle). */
  def mentionsStream(turns: DataFrame, gaz: Array[GazRow]): Dataset[Mention] = {
    val gazB = turns.sparkSession.sparkContext.broadcast(gaz)
    MentionExtractor.extract(Segmentation.segments(turns), gazB)
  }

  /** One micro-batch of the full pipeline body: turns → triples, committed
    * idempotently under (batch_id, bucket) partitions + manifest row. */
  def commitBatch(gaz: Array[GazRow], gazDf: DataFrame, dir: String,
      nBuckets: Int = 16)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val gazB = spark.sparkContext.broadcast(gaz)
    val mentions = MentionExtractor.extract(Segmentation.segments(batch), gazB).toDF()
    val linked = Linking.link(mentions, gazDf)
    val triples = Triples.all(Aggregation.perTurn(linked), batch)
      .withColumn("bucket", GraphSink.bucketCol(nBuckets))
      .withColumn("batch_id", lit(batchId))
    PartitionedParquet.scopedOverwrite(triples, "batch_id", "bucket")
      .parquet(s"$dir/triples")
    // The metrics come from the batch's WRITTEN partition, as in
    // GraphSink.writeResumable: the manifest certifies the files on disk,
    // and the unpersisted batch plan (segmentation through perTurn) is
    // evaluated once, by the write. A batch that wrote no rows has no
    // partition and gets no manifest rows.
    val written = s"$dir/triples/batch_id=$batchId"
    if (!PartitionedParquet.hasData(spark, written)) return
    // The manifest commit must be as idempotent as the data commit: a
    // redelivered batchId re-runs this whole function, and an APPEND here
    // would duplicate the batch's manifest rows (consumers summing
    // triple_count double-count). Partitioning by run_id + a scoped
    // overwrite makes the replay overwrite exactly its own rows.
    PartitionedParquet.scopedOverwrite(
        GraphSink.metrics(PartitionedParquet.readPartitioned(spark, written, "bucket"))
          .withColumn("run_id", concat(lit("batch-"), lit(batchId))), "run_id")
      .parquet(GraphSink.manifestPath(dir))
  }

  /** Start the end-to-end incremental KG query. `watermark` must cover the
    * expected event-time disorder across micro-batches — rows older than
    * max(seen ts) − watermark are dropped as late (by design; the
    * reference's queue had no such guard at all). */
  def start(turnsStream: DataFrame, gaz: Array[GazRow], gazDf: DataFrame,
      dir: String, checkpointDir: String,
      watermark: String = "10 minutes"): StreamingQuery =
    dedupedTurns(turnsStream, watermark)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(commitBatch(gaz, gazDf, dir) _)
      .start()

  /** Event-time windowed turn statistics — the canonical watermark +
    * tumbling-window streaming aggregation (builder brief §streams:
    * "watermarks + windowed aggs"). Append mode emits a (window, role) row
    * exactly once, when the watermark passes the window end; rows later
    * than the watermark are dropped as late. The same expression tree runs
    * unchanged on a batch DataFrame (tested equal). */
  def windowedTurnStats(turns: DataFrame, windowDur: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    turns.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("role"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(instr(col("text"), "renal") > 0, 1).otherwise(0)).as("n_renal"))
      .select(col("window.start").as("w_start"), col("role"),
        col("n_turns"), col("n_renal"))

  /** Running per-conversation concept support, maintained incrementally
    * with explicit state (the `flatMapGroupsWithState` surface): for every
    * micro-batch of mentions the per-(conv, source:code) distinct-round set
    * and occurrence count are folded into state, and the conversation's
    * updated concept rows are re-emitted — the streaming twin of the A3
    * cross-paragraph merge (`src/app.py:1570-1586`), where the reference
    * re-reads all three paragraph artifacts on every update. State is
    * bounded per conv (concept cardinality), timeout is the caller's
    * watermark policy. */
  final case class ConvConceptState(counts: Map[String, (Int, Set[Int])])
  final case class ConvConceptSupport(conv_id: String, concept: String,
      total_count: Int, unique_count: Int, confidence: Double)

  def statefulConvSupport(mentions: Dataset[Mention]): Dataset[ConvConceptSupport] = {
    import mentions.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    mentions
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (conv: String, it: Iterator[Mention], state: GroupState[ConvConceptState]) =>
          val prev = state.getOption.getOrElse(ConvConceptState(Map.empty))
          var counts = prev.counts
          val touched = scala.collection.mutable.LinkedHashSet.empty[String]
          it.foreach { m =>
            val key = m.source + ":" + m.code
            val (n, tries) = counts.getOrElse(key, (0, Set.empty[Int]))
            counts = counts.updated(key, (n + 1, tries + m.try_index))
            touched += key
          }
          state.update(ConvConceptState(counts))
          touched.iterator.map { key =>
            val (n, tries) = counts(key)
            ConvConceptSupport(conv, key, n, tries.size,
              tries.size / graft.operators.Aggregation.Rounds.toDouble)
          }
      }
  }

  def readTriples(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/triples")
}
