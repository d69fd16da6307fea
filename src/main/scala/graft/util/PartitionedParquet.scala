package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}

/** Every replay-safe parquet table in this repo — the GraphSink buckets,
  * the streaming sinks' batch partitions, the epoch-partitioned indexes
  * (minhash bands/docs/meta, IVF and LSH vectors) — is written, listed,
  * compacted and fenced here. It restates the reference's revoke-and-rerun
  * (SURVEY §1): a rerun overwrites exactly the partitions it writes, and a
  * rebuild replaces the whole table.
  *
  * The overwrite mode is always a per-write option, never a session conf:
  * a session left in dynamic mode silently turns every later
  * `mode("overwrite").partitionBy` rebuild in it into a partial overwrite
  * that keeps stale partitions (an index rebuilt over an appended one
  * would keep serving the appended epochs).
  *
  * Filesystem access resolves each path's own scheme against the session's
  * Hadoop conf, so a table dir may be local, a `file:` URI or an
  * object-store URI (`java.io.File` would silently no-op on non-local
  * schemes).
  */
object PartitionedParquet {

  def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(spark, path)
    fs.exists(p)
  }

  /** The `partCol=N` partition directories of `dir` with their ids — a
    * metadata listing, not a scan. Anything else (`__HIVE_DEFAULT_PARTITION__`
    * and other non-numeric values, `_temporary`, `_SUCCESS`, foreign debris)
    * is skipped: no writer here produces it and no reader here reads it. */
  private def partitionDirs(spark: SparkSession, dir: String,
      partCol: String): Seq[(Long, Path)] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      if (!name.startsWith(s"$partCol=")) None
      else name.stripPrefix(s"$partCol=").toLongOption.map(_ -> st.getPath)
    }
  }

  def partitionIds(spark: SparkSession, dir: String, partCol: String): Seq[Long] =
    partitionDirs(spark, dir, partCol).map(_._1)

  /** Delete the `partCol=N` partitions of `dir` whose id satisfies `drop`. */
  def deletePartitions(spark: SparkSession, dir: String, partCol: String)(
      drop: Long => Boolean): Unit = {
    val (fs, _) = fsOf(spark, dir)
    partitionDirs(spark, dir, partCol).foreach { case (id, p) =>
      if (drop(id)) fs.delete(p, true)
    }
  }

  /** True iff `dir` holds a parquet file outside Spark's hidden `_`/`.`
    * namespace — a dynamic overwrite of an empty frame writes no files at
    * all, so the directory existing proves nothing. */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fsOf(spark, dir)
    def holds(d: Path): Boolean = fs.listStatus(d).exists { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".") &&
        (if (st.isDirectory) holds(st.getPath) else name.endsWith(".parquet"))
    }
    fs.exists(p) && holds(p)
  }

  /** `dir` with its `partCol` normalized to long: partition discovery
    * infers int for small ids while writers, manifests and sentinels store
    * long — one type everywhere or unions and comparisons drift. */
  def readPartitioned(spark: SparkSession, dir: String, partCol: String): DataFrame =
    spark.read.parquet(dir).withColumn(partCol, col(partCol).cast("long"))

  /** A writer that replaces exactly the partitions `df` holds and leaves
    * every sibling in place: the idempotent commit of a bucket, a
    * micro-batch or an append epoch. It routes task output through
    * `.spark-staging` and promotes partition dirs on the driver. Returned
    * unwritten so the `.parquet(dir)` action keeps its caller's call site
    * (the SQL execution's description). */
  def scopedOverwrite(df: DataFrame, partCols: String*): DataFrameWriter[Row] =
    overwrite(df, "dynamic", partCols)

  private def overwrite(df: DataFrame, mode: String,
      partCols: Seq[String]): DataFrameWriter[Row] =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", mode)
      .partitionBy(partCols: _*)

  /** Write `df` as epoch `epoch` of the table at `dir`, partitioned by
    * `epoch` then `listCol`. Epoch 0 is the build: a static overwrite of
    * the whole table, appended epochs included. An epoch > 0 is an append:
    * a scoped overwrite of its own epoch, so a retried append replaces its
    * earlier (possibly partial) output instead of duplicating rows.
    * Partition pruning on `listCol` is unaffected by the epoch nesting
    * (plan-asserted in the index specs).
    *
    * `cluster` repartitions by `listCol` first (guide §6) so each task
    * writes whole lists: ~one file per list instead of tasks × lists. The
    * build pins the partition count to `defaultParallelism`: a bare
    * repartition(col) is AQE-coalescible, and a small corpus folds it to
    * ONE task that writes every list dir serially (profiled 1.1 s of the
    * 2.6 s minhash build at sf0.1). An append stays coalescible on
    * purpose: a tiny delta should collapse to one file per touched dir.
    * Leave `cluster` off when `listCol` has too few values to keep the
    * write parallel (IVF's 16 cids). */
  def writeEpoch(df: DataFrame, dir: String, epoch: Long,
      listCol: Option[String] = None, cluster: Boolean = true): Unit = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    val clustered = listCol.filter(_ => cluster).fold(df) { c =>
      if (epoch == 0L) df.repartition(n, col(c)) else df.repartition(col(c))
    }
    overwrite(clustered.withColumn("epoch", lit(epoch)),
      if (epoch == 0L) "static" else "dynamic", "epoch" +: listCol.toSeq)
      .parquet(dir)
  }

  /** Fold `epochs` of the epoch-partitioned table at `srcDir` into one
    * epoch-0 build at `dstDir` (clustered by `listCol`, so each list lands
    * as one file however many appends fed it). Blue/green: the caller
    * flips its index pointer to `dstDir` once the copy and its fence
    * ([[writeFence]]) are complete. */
  def compactEpochs(spark: SparkSession, srcDir: String, dstDir: String,
      epochs: Seq[Long], listCol: Option[String] = None): Unit = {
    val src = spark.read.parquet(srcDir)
      .filter(col("epoch").isin(epochs: _*)).drop("epoch")
    writeEpoch(listCol.fold(src)(c => src.withColumn(c, col(c).cast("long"))),
      dstDir, 0L, listCol)
  }

  /** The compaction fence of the index at `indexPath`: the smallest epoch
    * an append may use — 1 for a never-compacted index (0 is the build),
    * the recorded `min_next_epoch` of a compacted copy. */
  def minNextEpoch(spark: SparkSession, indexPath: String): Long =
    if (!exists(spark, s"$indexPath/fence")) 1L
    else spark.read.parquet(s"$indexPath/fence")
      .agg(max(col("min_next_epoch"))).head().getLong(0)

  /** Refuse an append `epoch` that is the build's or below the fence: a
    * late retry of an epoch already folded into a compacted copy would
    * duplicate its rows. Runs before any job, so a refused append writes
    * nothing. */
  def requireAppendable(spark: SparkSession, indexPath: String,
      epoch: Long): Unit = {
    require(epoch > 0, s"append epoch must be > 0 (0 is the build), got $epoch")
    val fence = minNextEpoch(spark, indexPath)
    require(epoch >= fence,
      s"append epoch $epoch is below the compaction fence $fence of $indexPath — " +
        "this epoch was already folded into the compacted copy; a retry " +
        "here would duplicate index rows. Use a fresh epoch >= the fence.")
  }

  /** Fence the compacted copy at `dstPath`, written last: every `folded`
    * epoch id — and anything below `srcPath`'s own fence — becomes illegal
    * to append there. */
  def writeFence(spark: SparkSession, srcPath: String, dstPath: String,
      folded: Seq[Long]): Unit = {
    import spark.implicits._
    Seq(math.max(folded.max + 1L, minNextEpoch(spark, srcPath)))
      .toDF("min_next_epoch")
      .write.mode(SaveMode.Overwrite).parquet(s"$dstPath/fence")
  }
}
