package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built (Verify, Bench, BenchExtra,
  * RecallCurve and the test suites all come through here), so the session
  * config cannot drift between the mains and the specs. Only values that
  * differ from Spark's defaults are set; AQE, partition coalescing and
  * skew-join are already on by default.
  *
  * The session-wide v2 output committer is deliberately NOT set: it would
  * make GraphSink's manifest append, its commit point, non-atomic. The
  * stage-table writes that measured the v2 win set it per write
  * (Pipeline.triplesStaged). */
object Sessions {

  /** `SPARK_GRAFT_CPUS` if set to a positive integer, else the JVM's
    * available processors. */
  def hostCores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` session with the graft SQL extensions and
    * `shuffle.partitions = cores`. Idempotent: while a session is active
    * this returns it (getOrCreate), so callers that want a different core
    * count stop the previous session first. */
  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // Force the serialized (Unsafe) shuffle writer. With
      // shuffle.partitions = cores (< the default bypassMergeThreshold of
      // 200) every SQL exchange here selects the bypass-merge writer,
      // which opens numPartitions shuffle files per map task — a writer a
      // 100 TB cluster run (partitions >> 200) never uses. Forcing the
      // cluster-scale writer (one sorted file + index per map task) both
      // matches what production would run and removes the profiled ~25%
      // of busy executor samples spent in shuffle file IO at local[32]:
      // interleaved flagship A/B best-of-3 11.1s -> 8.4s at 32 cores, a
      // wash at 2 and 8 cores (r7 KgTime A/B).
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.shuffle.file.buffer", "256k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drops everything queries left cached in `spark`. `clearCache` goes
    * first: it removes the CacheManager entries, and an RDD-level unpersist
    * alone leaves a dead registration that turns the next `.cache()` of the
    * same plan into a silent no-op. The RDD sweep then catches
    * `localCheckpoint` blocks, which live outside the catalog. It spares
    * the lookup tables [[graft.operators.Linking]] keeps per gazetteer: at
    * most three gazetteers' worth, which the next query of the same
    * gazetteer joins instead of rebuilding. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val kept = graft.operators.Linking.keptRddIds(spark.sparkContext)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept(id)) rdd.unpersist(false)
    }
  }
}
