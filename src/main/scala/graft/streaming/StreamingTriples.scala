package graft.streaming

import graft.Pipeline
import graft.model.GazRow
import graft.operators.GraphSink
import graft.util.PartitionedParquet
import org.apache.spark.sql.DataFrame
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
  *  - per-unit processing → each micro-batch runs the batch chain
  *    ([[graft.Pipeline.triples]]: segment → extract → link → perTurn →
  *    triples) inside foreachBatch, on a plain DataFrame;
  *  - commit/supersede → foreachBatch writes each micro-batch's triples
  *    under `(batch_id, bucket)` partitions ([[graft.operators.GraphSink.Buckets]]
  *    buckets, the batch sink's one layout) with a scoped overwrite
  *    ([[graft.util.PartitionedParquet.scopedOverwrite]]), so a
  *    replayed micro-batch (Spark redelivers the same batchId after a
  *    failure) overwrites exactly its own output — idempotent, and the
  *    manifest row (one per batch × bucket, lineage = batch id, the batch
  *    sink's manifest schema) is written only after the data commit,
  *    mirroring [[graft.operators.GraphSink]]. One stream per sink dir.
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

  /** One micro-batch of the full pipeline body: turns → triples, committed
    * idempotently under (batch_id, bucket) partitions + manifest row. */
  def commitBatch(gaz: Array[GazRow], gazDf: DataFrame, dir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    // Segmentation, the asserts branch's role join, uses_tool and
    // replies_to each scan the turns, and under `start` each scan would
    // re-run the watermarked dedup: read the micro-batch once.
    val turns = batch.persist()
    try {
      if (turns.isEmpty) return
      val spark = turns.sparkSession
      val triples = Pipeline.triples(turns, gaz, gazDf, turns)
        .withColumn("bucket", GraphSink.bucketCol)
        .withColumn("batch_id", lit(batchId))
      PartitionedParquet.scopedOverwrite(triples, "batch_id", "bucket")
        .parquet(s"$dir/triples")
      // The metrics come from the batch's WRITTEN partition, as in
      // GraphSink.writeResumable: the manifest certifies the files on disk,
      // and the batch plan (segmentation through perTurn) is evaluated
      // once, by the write. A batch that wrote no rows has no partition and
      // gets no manifest rows.
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
    } finally turns.unpersist()
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

  def readTriples(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/triples")
}
