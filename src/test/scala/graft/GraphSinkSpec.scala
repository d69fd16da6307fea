package graft

import java.nio.file.Files

import graft.operators.{Dedup, GraphSink}
import org.apache.spark.sql.functions._

class GraphSinkSpec extends GraftSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft_sink_").toString

  test("resume after partial write ≡ fresh full run (idempotent commit)") {
    val cfg = Pipeline.Config(nConvs = 20, nBase = 48)
    val triples = Pipeline.triples(spark, cfg).toDF()

    // fresh full run
    val freshDir = tmp()
    GraphSink.writeResumable(triples, freshDir, "run_full", nBuckets = 8)
    val fresh = GraphSink.readTriples(spark, freshDir).drop("bucket")
      .collect().toSet

    // crashed run: only half the buckets committed, then resume
    val resumeDir = tmp()
    val n1 = GraphSink.writeResumable(triples, resumeDir, "run_a", nBuckets = 8,
      onlyBuckets = Some(Seq(0L, 1L, 2L, 3L)))
    assert(n1 <= 4)
    val n2 = GraphSink.writeResumable(triples, resumeDir, "run_b", nBuckets = 8)
    val resumed = GraphSink.readTriples(spark, resumeDir).drop("bucket")
      .collect().toSet
    assert(resumed === fresh)
    // second resume is a no-op: every bucket already committed
    val n3 = GraphSink.writeResumable(triples, resumeDir, "run_c", nBuckets = 8)
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
    val sparkSession = spark
    import sparkSession.implicits._
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
        tmp(), "conf_leak", nBuckets = 4)
      assert(spark.conf.get(key) === before)
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
      for (table <- Seq("meta", "bands", "docs")) {
        val epochs = spark.read.parquet(s"$idx/$table")
          .select(col("epoch").cast("long")).distinct().as[Long].collect().toSeq
        assert(epochs === Seq(0L), table)
      }
    } finally spark.conf.set(key, before)
  }
}
