package graft

import java.nio.file.Files

import graft.operators._

/** Round-5 fixes: the corpus-independent safety of the LSH embedding
  * near-dup surface, and the bucket-name parse guard in the resumable
  * sink. */
class Round5Spec extends GraftSuite {

  test("LSH-bucketed embedding near-dup pairs ⊆ exact pairs (corpus-" +
      "independent safety behind dd_embed_neardup_lsh's measured literal)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairs(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.4, bits = 4))
    val exact = pairs(Similarity.cosineExactPairs(emb, "vec_id", "embedding",
      threshold = 0.4))
    assert(lsh.nonEmpty && lsh.subsetOf(exact))
  }

  test("writeResumable skips unparseable bucket directories instead of crashing") {
    val cfg = Pipeline.Config(nConvs = 8, nBase = 32)
    val triples = Pipeline.triples(spark, cfg).toDF()
    val dir = Files.createTempDirectory("graft_sink_junk_").toString
    // foreign debris the sweep must not choke on (ADVICE r4)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/triples/bucket=__HIVE_DEFAULT_PARTITION__"))
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/triples/bucket=not_a_number"))
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/triples/_temporary/0"))
    Files.createFile(java.nio.file.Paths.get(s"$dir/triples/_SUCCESS"))
    GraphSink.writeResumable(triples, dir, "junk_tolerant", nBuckets = 4)
    assert(GraphSink.readTriples(spark, dir).count() == triples.count())
    // the junk dirs are outside the contract: left alone, never read back
    assert(new java.io.File(s"$dir/triples/bucket=not_a_number").exists())
    assert(new java.io.File(s"$dir/triples/bucket=__HIVE_DEFAULT_PARTITION__").exists())
    assert(new java.io.File(s"$dir/triples/_temporary/0").exists())
    // the shared partition listing sees only the numeric bucket dirs
    val buckets = graft.util.PartitionedParquet.partitionIds(spark, s"$dir/triples", "bucket")
    assert(buckets.sorted == GraphSink.readTriples(spark, dir)
      .select("bucket").distinct().collect().map(_.getLong(0)).toSeq.sorted)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
