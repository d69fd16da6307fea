package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Dedup, GraphSink}
import graft.streaming.StreamingTriples
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The manifest-committed resumable sink: idempotent resume, foreign
  * bucket dirs, the per-bucket manifest metrics, the one manifest schema
  * and bucket layout it shares with the stream sink, and the session conf
  * it must leave alone. */
class GraphSinkSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String = SparkEntry.tmpDir("graft_sink_")

  test("resume after partial write ≡ fresh full run (idempotent commit)") {
    val cfg = Pipeline.Config(nConvs = 20, nBase = 48)
    val triples = Pipeline.triples(spark, cfg).toDF()

    // fresh full run
    val freshDir = tmp()
    GraphSink.writeResumable(triples, freshDir, "run_full")
    val fresh = GraphSink.readTriples(spark, freshDir).drop("bucket")
      .collect().toSet

    // crashed run: only the lower half of the buckets committed, then resume
    val resumeDir = tmp()
    val half = GraphSink.Buckets / 2
    val n1 = GraphSink.writeResumable(triples.filter(GraphSink.bucketCol < half),
      resumeDir, "run_a")
    assert(n1 <= half)
    val n2 = GraphSink.writeResumable(triples, resumeDir, "run_b")
    val resumed = GraphSink.readTriples(spark, resumeDir).drop("bucket")
      .collect().toSet
    assert(resumed === fresh)
    // second resume is a no-op: every bucket already committed
    val n3 = GraphSink.writeResumable(triples, resumeDir, "run_c")
    assert(n3 === 0)

    // manifest lineage: per-bucket counts + checksums cover the whole table
    val manifest = spark.read.parquet(GraphSink.manifestPath(resumeDir))
    val total = manifest.agg(sum(col("triple_count"))).head().getLong(0)
    assert(total === fresh.size.toLong)
    val recomputed = GraphSink.metrics(
      GraphSink.readTriples(spark, resumeDir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val recorded = manifest.select("bucket", "triple_count", "checksum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(recomputed === recorded)
  }

  test("writeResumable leaves the session's partitionOverwriteMode alone: " +
      "an index rebuilt after a sink write holds only the build epoch") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    def doc(seed: Int) = (seed until seed + 30).map(i => s"w$i").mkString(" ")
    val corpus = (0 until 6).map(i => (i.toLong, doc(i * 100))).toDF("doc_id", "text")
    val idx = tmp()
    try {
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
      Dedup.appendToMinhashIndex(Seq((100L, doc(5000))).toDF("doc_id", "text"),
        "doc_id", "text", idx, epoch = 1L)
      GraphSink.writeResumable(
        Pipeline.triples(spark, Pipeline.Config(nConvs = 4, nBase = 32)).toDF(),
        tmp(), "conf_leak")
      assert(spark.conf.get(key) === before)
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
      for (table <- Seq("meta", "bands", "docs")) {
        val epochs = spark.read.parquet(s"$idx/$table")
          .select(col("epoch").cast("long")).distinct().as[Long].collect().toSeq
        assert(epochs === Seq(0L), table)
      }
    } finally spark.conf.set(key, before)
  }

  test("writeResumable skips unparseable bucket directories instead of crashing") {
    val cfg = Pipeline.Config(nConvs = 8, nBase = 32)
    val triples = Pipeline.triples(spark, cfg).toDF()
    val dir = tmp()
    // foreign debris the sweep must not choke on (ADVICE r4)
    Files.createDirectories(Paths.get(s"$dir/triples/bucket=__HIVE_DEFAULT_PARTITION__"))
    Files.createDirectories(Paths.get(s"$dir/triples/bucket=not_a_number"))
    Files.createDirectories(Paths.get(s"$dir/triples/_temporary/0"))
    Files.createFile(Paths.get(s"$dir/triples/_SUCCESS"))
    GraphSink.writeResumable(triples, dir, "junk_tolerant")
    assert(GraphSink.readTriples(spark, dir).count() == triples.count())
    // the junk dirs are outside the contract: left alone, never read back
    assert(new java.io.File(s"$dir/triples/bucket=not_a_number").exists())
    assert(new java.io.File(s"$dir/triples/bucket=__HIVE_DEFAULT_PARTITION__").exists())
    assert(new java.io.File(s"$dir/triples/_temporary/0").exists())
    // the shared partition listing sees only the numeric bucket dirs
    val buckets = graft.util.PartitionedParquet.partitionIds(spark, s"$dir/triples", "bucket")
    assert(buckets.sorted == GraphSink.readTriples(spark, dir)
      .select("bucket").distinct().collect().map(_.getLong(0)).toSeq.sorted)
  }

  test("writeResumable survives stale files in an uncommitted bucket (no wedge)") {
    val cfg = Pipeline.Config(nConvs = 12, nBase = 32)
    val triples = Pipeline.triples(spark, cfg).toDF()
    val dir = SparkEntry.tmpDir("graft_sink_stale_")
    // a crashed prior attempt left output in a bucket id this run's data
    // never produces (real buckets are 0 until GraphSink.Buckets): under the r3
    // code the metrics read-back counted these rows (recorded != written)
    // and EVERY retry aborted — a permanent wedge (ADVICE r3)
    triples.limit(7).withColumn("bucket", lit(99L))
      .write.partitionBy("bucket").mode("append").parquet(s"$dir/triples")
    val n = GraphSink.writeResumable(triples, dir, "run_after_crash")
    assert(n == triples.select(GraphSink.bucketCol).distinct().count())
    // the stale bucket is gone; what's on disk is exactly this run's output
    val onDisk = GraphSink.readTriples(spark, dir)
    assert(onDisk.filter($"bucket" === 99L).count() == 0)
    assert(onDisk.count() == triples.count())
    // and the manifest certifies it
    val m = spark.read.parquet(GraphSink.manifestPath(dir))
    assert(m.agg(sum($"triple_count")).head().getLong(0) == triples.count())
  }

  test("the batch and stream sinks write one manifest schema and put each " +
      "triple in the same bucket") {
    val (turns, gaz, gazDf) = Pipeline.synthetic(spark, Pipeline.Config(nConvs = 8, nBase = 32))
    val batchDir = tmp()
    val streamDir = tmp()
    GraphSink.writeResumable(Pipeline.triples(turns, gaz, gazDf, turns).toDF(),
      batchDir, "batch")
    StreamingTriples.commitBatch(gaz, gazDf, streamDir)(turns, 0L)
    // one schema: a reader of either manifest reads the other unchanged
    assert(GraphSink.readManifest(spark, batchDir).schema ===
      GraphSink.readManifest(spark, streamDir).schema)
    def placed(df: DataFrame) = df
      .select(col("subj"), col("pred"), col("obj"), col("bucket").cast("long"))
      .collect().map(_.toString).sorted.toSeq
    val batch = placed(GraphSink.readTriples(spark, batchDir))
    assert(batch.nonEmpty)
    assert(placed(StreamingTriples.readTriples(spark, streamDir)) === batch)
  }
}
