package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive fan-out of narrow sources (optimization guide §2: make
  * partitioning scale-adaptive rather than a constant; §6: a small input
  * file yields ONE scan split). The bench/verify corpora are single small
  * parquet files, so every per-row kernel projection (minhash/simhash
  * signatures, shingle tables, LSH signatures, IVF assignment) planned
  * directly over the scan serializes on one core of local[32] — measured
  * 4.5 s single-task stages at sf0.1. At cluster scale the inputs arrive
  * in thousands of splits and the fan-out is a no-op by construction.
  */
object Par {

  /** Run two INDEPENDENT driver actions as concurrent Spark jobs
    * (guide §2.6: Spark happily runs several jobs at once; actions are
    * only sequential because driver code calls them sequentially). `a`
    * runs on a fresh daemon thread, `b` on the caller's thread — no
    * shared pool, so NESTED calls (e.g. a caller overlapping an index
    * build that itself overlaps its two table writes) can never
    * pool-starve into a deadlock. Both sides always run to completion
    * before this returns. If one side fails, its error is rethrown; if
    * both fail, `a`'s error is rethrown with `b`'s attached via
    * `addSuppressed`, so neither failure is lost.
    *
    * `a`'s Spark jobs carry a job tag unique to this call (a tag, not a
    * job group: `a` keeps the caller's group, by which callers attribute
    * work). If the caller is interrupted while waiting for `a` (or `b`
    * ends in an InterruptedException), the jobs with that tag are
    * cancelled, `a` is joined, and the InterruptedException is rethrown
    * with any failure of either side attached as suppressed. A body that
    * runs no Spark job is not cancelled; the wait then lasts until it
    * returns. */
  def concurrently(a: => Unit, b: => Unit): Unit = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    @volatile var ea: Throwable = null
    val t = new Thread(() =>
      try { sc.foreach(_.addJobTag(tag)); a } catch { case x: Throwable => ea = x },
      "graft-par")
    t.setDaemon(true)
    t.start()
    val eb = try { b; null } catch { case x: Throwable => x }
    try {
      if (eb.isInstanceOf[InterruptedException]) throw eb
      t.join()
    } catch {
      case ie: InterruptedException =>
        sc.foreach(_.cancelJobsWithTag(tag))
        t.join()
        Seq(ea, eb).filter(e => e != null && (e ne ie)).foreach(ie.addSuppressed)
        throw ie
    }
    if (ea != null) {
      if (eb != null) ea.addSuppressed(eb)
      throw ea
    }
    if (eb != null) throw eb
  }

  /** Round-robin repartition `df` to the session's default parallelism IF
    * its current physical partitioning is narrower — otherwise return it
    * unchanged (no shuffle). The shuffle this inserts moves only the
    * narrow pre-kernel rows (id + text / id + vector), never derived
    * signatures, and round-robin repartition is retry-deterministic
    * (sort-before-repartition, SPARK-23207). */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // getNumPartitions plans the physical RDD but launches no job
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
