package graft.operators

import graft.util.PartitionedParquet
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpointed, resumable graph sink (SURVEY.md §2.10 + §2.11 T2; north
  * rule "resumable from checkpoint with per-partition lineage + metrics").
  *
  * The triples table is hash-bucketed by conv_id into `nBuckets` partition
  * directories (parquet `partitionBy("bucket")` — the Iceberg-less
  * equivalent of a snapshot commit per partition; the sandbox has no
  * Iceberg jar, SURVEY §7.4 risk 5). A `manifest` table records one row
  * per committed bucket: (run_id, bucket, triple_count, checksum,
  * committed_at-free — no wall clock, the run_id is the lineage key).
  *
  * Resume = left_anti join of the bucket space against the manifest (J4):
  * already-committed buckets are skipped; re-running after a partial
  * failure is idempotent because each bucket directory is overwritten
  * atomically ([[PartitionedParquet.scopedOverwrite]]) and the manifest row is
  * written only after the data commit.
  */
object GraphSink {

  def bucketCol(nBuckets: Int) = pmod(xxhash64(col("conv_id")), lit(nBuckets))

  def manifestPath(dir: String) = s"$dir/_manifest"

  /** Per-bucket metrics of an already-bucketed triples DataFrame (bucket,
    * triple_count, checksum, subj_approx_distinct). The checksum is an
    * order-independent sum of row hashes — verifiable without re-reading in
    * any row order; the distinct-subject metric is HyperLogLog++
    * (`approx_count_distinct`) — the only distinct that is mergeable and
    * constant-memory at the 10^12-triple scale SURVEY §2.4 names. */
  def metrics(withBucket: DataFrame): DataFrame =
    withBucket.groupBy("bucket")
      .agg(count(lit(1)).as("triple_count"),
        // bit_xor: order-independent and immune to ANSI-mode long overflow
        bit_xor(xxhash64(col("subj"), col("pred"), col("obj"))).as("checksum"),
        approx_count_distinct(col("subj")).as("subj_approx_distinct"))

  /** The manifest table: one row per committed bucket, ([[metrics]]'
    * four columns, run_id). Its two writers — [[writeResumable]] and
    * [[graft.streaming.StreamingTriples.commitBatch]] — write that one
    * schema, so every footer agrees and a plain read is the whole
    * manifest. All manifest readers go through here. */
  def readManifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(manifestPath(dir))

  def committedBuckets(spark: SparkSession, dir: String): DataFrame =
    if (PartitionedParquet.exists(spark, manifestPath(dir)))
      readManifest(spark, dir).select("bucket").distinct()
    else spark.emptyDataFrame.withColumn("bucket", lit(0L)).limit(0).select("bucket")

  /** Write only the not-yet-committed buckets; returns #buckets written.
    *
    * No `.cache()` of the output (VERDICT r2 "what's wrong" #2): at 100 TB a
    * whole-output cache is a second copy of the dataset. The data pass is
    * consumed exactly once by the write (with an in-flight `observe()`
    * count); the manifest metrics are then computed from the WRITTEN bucket
    * files — one partition-pruned scan of only the new buckets — so the
    * manifest certifies the bytes on disk, not the pre-write plan, and the
    * observed-vs-manifest cross-check now also catches a torn file. */
  def writeResumable(triples: DataFrame, dir: String, runId: String,
      nBuckets: Int = 16, onlyBuckets: Option[Seq[Long]] = None): Long = {
    val spark = triples.sparkSession
    // the committed-bucket set is tiny by construction (≤ nBuckets rows per
    // completed run) — collected once, it drives BOTH the resume anti-filter
    // and the pruned metrics read-back
    val doneList = committedBuckets(spark, dir).collect().map(_.getLong(0)).toSeq
    def notDone(c: org.apache.spark.sql.Column) =
      if (doneList.isEmpty) lit(true) else !c.isin(doneList: _*)
    // Stale-output sweep (ADVICE r3): a crashed prior attempt can leave
    // files in a NOT-yet-committed bucket; the scoped overwrite only
    // rewrites buckets present in THIS run's output, so a stale bucket that
    // receives zero rows this run would survive, be counted by the metrics
    // read-back below, and abort every retry (recorded != written) until
    // manual cleanup — a permanent wedge. Uncommitted bucket directories
    // are garbage by the resume contract (no manifest row ⇒ never read),
    // so delete them up front: the post-write on-disk state of every
    // not-done bucket is then exactly this run's output. Committed buckets
    // are never touched, and an `onlyBuckets`-restricted run sweeps ONLY
    // its own bucket range — concurrent writers on disjoint onlyBuckets
    // stay safe (an unrestricted sweep would destroy a sibling's in-flight
    // output). Driver-side FS ops on ≤ nBuckets directories.
    val done = doneList.toSet
    PartitionedParquet.deletePartitions(spark, s"$dir/triples", "bucket")(b =>
      !done.contains(b) && onlyBuckets.forall(_.contains(b)))
    val withBucket = triples.withColumn("bucket", bucketCol(nBuckets))
    val restricted = onlyBuckets match {
      case Some(bs) => withBucket.filter(col("bucket").isin(bs: _*))
      case None     => withBucket
    }
    // in-flight lineage metric (SURVEY §2.11 T2 `observe()`): rows counted
    // DURING the data write, then cross-checked against the manifest
    val obs = org.apache.spark.sql.Observation(s"graft_sink_$runId")
    val todo = restricted.filter(notDone(col("bucket")))
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
    val readBack = readTriples(spark, dir)
      .filter(notDone(col("bucket")))
    val newOnly = onlyBuckets match {
      case Some(bs) => readBack.filter(col("bucket").isin(bs: _*))
      case None     => readBack
    }
    val metricsDf = metrics(newOnly)
    val metricRows = metricsDf.collect() // ≤ nBuckets rows by construction
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
