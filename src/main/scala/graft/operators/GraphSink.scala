package graft.operators

import graft.util.PartitionedParquet
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpointed, resumable graph sink (SURVEY.md §2.10 + §2.11 T2; north
  * rule "resumable from checkpoint with per-partition lineage + metrics").
  *
  * The triples table is hash-bucketed by conv_id into [[Buckets]] partition
  * directories (parquet `partitionBy("bucket")` — the Iceberg-less
  * equivalent of a snapshot commit per partition; the sandbox has no
  * Iceberg jar, SURVEY §7.4 risk 5). A `manifest` table records one row
  * per committed bucket: (bucket, triple_count, checksum, run_id) — no
  * wall clock, the run_id is the lineage key.
  *
  * Resume = the bucket space less the manifest's buckets (J4):
  * already-committed buckets are skipped; re-running after a partial
  * failure is idempotent because each bucket directory is overwritten
  * atomically ([[PartitionedParquet.scopedOverwrite]]) and the manifest row is
  * written only after the data commit.
  *
  * Contract: one writer per sink dir. A run owns every bucket the manifest
  * does not name, so two concurrent writers on one dir would sweep each
  * other's in-flight output.
  */
object GraphSink {

  /** The bucket count of every sink dir — a constant, like
    * [[LexicalIndex.NumShards]], so every writer, resume and reader of a
    * dir agree on which bucket a conversation's triples live in (a resume
    * under a second count would rewrite the other count's uncommitted
    * buckets and duplicate rows the manifest already certifies). */
  val Buckets = 16

  def bucketCol = pmod(xxhash64(col("conv_id")), lit(Buckets))

  def manifestPath(dir: String) = s"$dir/_manifest"

  /** Per-bucket metrics of an already-bucketed triples DataFrame (bucket,
    * triple_count, checksum). The checksum is an order-independent xor of
    * row hashes — verifiable without re-reading in any row order. */
  def metrics(withBucket: DataFrame): DataFrame =
    withBucket.groupBy("bucket")
      .agg(count(lit(1)).as("triple_count"),
        // bit_xor: order-independent and immune to ANSI-mode long overflow
        bit_xor(xxhash64(col("subj"), col("pred"), col("obj"))).as("checksum"))

  /** The manifest table: one row per committed bucket, ([[metrics]]'
    * three columns, run_id). Its two writers — [[writeResumable]] and
    * [[graft.streaming.StreamingTriples.commitBatch]] — write that one
    * schema, so every footer agrees and a plain read is the whole
    * manifest. All manifest readers go through here. */
  def readManifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(manifestPath(dir))

  /** The buckets the manifest names — at most [[Buckets]] ids. */
  def committedBuckets(spark: SparkSession, dir: String): Seq[Long] =
    if (PartitionedParquet.exists(spark, manifestPath(dir)))
      readManifest(spark, dir).select("bucket").distinct().collect().map(_.getLong(0)).toSeq
    else Seq.empty

  /** Write only the not-yet-committed buckets; returns #buckets written.
    *
    * No `.cache()` of the output (VERDICT r2 "what's wrong" #2): at 100 TB a
    * whole-output cache is a second copy of the dataset. The data pass is
    * consumed exactly once by the write (with an in-flight `observe()`
    * count); the manifest metrics are then computed from the WRITTEN bucket
    * files — one partition-pruned scan of only the new buckets — so the
    * manifest certifies the bytes on disk, not the pre-write plan, and the
    * observed-vs-manifest cross-check now also catches a torn file. */
  def writeResumable(triples: DataFrame, dir: String, runId: String): Long = {
    val spark = triples.sparkSession
    // the committed-bucket set drives the stale sweep, the resume
    // anti-filter and the pruned metrics read-back
    val done = committedBuckets(spark, dir)
    def notDone(c: org.apache.spark.sql.Column) =
      if (done.isEmpty) lit(true) else !c.isin(done: _*)
    // Stale-output sweep (ADVICE r3): a crashed prior attempt can leave
    // files in a NOT-yet-committed bucket; the scoped overwrite only
    // rewrites buckets present in THIS run's output, so a stale bucket that
    // receives zero rows this run would survive, be counted by the metrics
    // read-back below, and abort every retry (recorded != written) until
    // manual cleanup — a permanent wedge. Uncommitted bucket directories
    // are garbage by the resume contract (no manifest row ⇒ never read),
    // so delete them up front: the post-write on-disk state of every
    // not-done bucket is then exactly this run's output. Committed buckets
    // are never touched. Driver-side FS ops on ≤ Buckets directories.
    PartitionedParquet.deletePartitions(spark, s"$dir/triples", "bucket")(!done.contains(_))
    // in-flight lineage metric (SURVEY §2.11 T2 `observe()`): rows counted
    // DURING the data write, then cross-checked against the manifest
    val obs = org.apache.spark.sql.Observation(s"graft_sink_$runId")
    val todo = triples.withColumn("bucket", bucketCol)
      .filter(notDone(col("bucket")))
      .observe(obs, count(lit(1)).as("rows_written"))
    // the scoped overwrite promotes partition dirs on the DRIVER, so the
    // v2 task-side committer does not apply to this write (it does apply
    // to the plain-overwrite stage-table writes, see Pipeline.triplesStaged)
    PartitionedParquet.scopedOverwrite(todo, "bucket").parquet(s"$dir/triples")
    // zero-task writes (nothing left to resume) never evaluate the
    // CollectMetrics node — an absent metric means zero rows
    val written = obs.get.getOrElse("rows_written", 0L).asInstanceOf[Long]
    if (written == 0L) return 0L
    // metrics derived from the committed files via a bucket-pruned scan
    val metricsDf = metrics(readTriples(spark, dir).filter(notDone(col("bucket"))))
    val metricRows = metricsDf.collect() // ≤ Buckets rows by construction
    // the observed-vs-on-disk cross-check runs BEFORE the manifest append
    // (the commit point): a mismatch — torn file, stale leftovers in a
    // not-yet-committed bucket — must abort WITHOUT durably committing
    // those buckets, or resume would skip them forever
    val recorded = metricRows.map(_.getLong(1)).sum
    require(recorded == written,
      s"on-disk/observed mismatch: disk=$recorded observed=$written")
    spark.createDataFrame(
        spark.sparkContext.parallelize(metricRows.toSeq, 1), metricsDf.schema)
      .withColumn("run_id", lit(runId))
      .write.mode(SaveMode.Append).parquet(manifestPath(dir))
    metricRows.length.toLong
  }

  def readTriples(spark: SparkSession, dir: String): DataFrame =
    PartitionedParquet.readPartitioned(spark, s"$dir/triples", "bucket")
}
