package graft

import graft.operators.Similarity
import graft.operators.Similarity.{Ivf, Lsh}
import graft.util.PartitionedParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted ANN vector indexes of [[Similarity]] for both kinds
  * (IVF lists, LSH signature buckets): partition-pruned probes, recall and
  * its detail form, codebook sampling and Lloyd refinement, the multi-probe
  * ball, appends, blue/green compaction and its fence. */
class VectorIndexSpec extends GraftSuite {
  import spark.implicits._

  private val sfEmb = "/root/testdata/sf0.001/embeddings.parquet"

  /** Deterministic clustered embedding corpus: `n` vectors in `nClusters`
    * well-separated axis clusters with small hash-seeded noise — the data
    * shape where an IVF codebook is MEANT to work (the sf corpora are
    * isotropic random, ANN's worst case). */
  private def clustered(n: Int, nClusters: Int, dims: Int = 16): DataFrame = {
    def h(i: Int, j: Int): Double =
      (((i * 2654435761L + j * 40503L) % 1000L).toDouble / 1000.0 - 0.5) * 0.1
    (0 until n).map { i =>
      val c = i % nClusters
      val base = Array.tabulate(dims)(d => if (d == c) 1.0 else 0.0)
      (i.toLong, base.zipWithIndex.map { case (v, d) => (v + h(i, d)).toFloat }.toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** The embedding of `id` as a double query vector. */
  private def queryOf(emb: DataFrame, id: Long): Seq[Double] =
    emb.filter($"vec_id" === id).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble).toSeq

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def epochDirs(p: String) = new java.io.File(p).listFiles()
    .filter(_.getName.startsWith("epoch=")).map(_.getName).toSeq

  test("persisted IVF index: partition-pruned probes, exact at full probing") {
    val emb = spark.read.parquet(sfEmb)
    val q = queryOf(emb, 0L)
    val dir = SparkEntry.tmpDir("graft_ivf_test")
    Similarity.buildVectorIndex(emb, "vec_id", "embedding", dir, Ivf(nCentroids = 8))
    // full probing == brute force (the index is lossless, only partitioned)
    val bf = rows(Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10))
    val full = rows(Similarity.annTopKIndexed(spark, dir, "vec_id", "embedding",
      q, 10, Ivf(nCentroids = 8, nProbe = 8)))
    assert(full == bf)
    // partial probing must PRUNE: the ivf_cid filter lands in the scan's
    // PartitionFilters and strictly fewer partitions are read
    val part = Similarity.annTopKIndexed(spark, dir, "vec_id", "embedding",
      q, 10, Ivf(nCentroids = 8, nProbe = 2))
    val scan = part.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").contains("ivf_cid"))
    assert(scan.selectedPartitions.partitionCount == 2)
  }

  test("persisted LSH index: pruned multi-probe == in-flight annTopK; " +
      "exact at full probing; partition pruning in the plan") {
    val emb = spark.read.parquet(sfEmb)
    val q = queryOf(emb, 0L)
    val dir = SparkEntry.tmpDir("graft_lsh_idx_")
    val lsh = Lsh(bits = 12, prefixBits = 6)
    Similarity.buildVectorIndex(emb, "vec_id", "embedding", dir, lsh)
    // full probing (the whole hamming ball) == brute force: the index is
    // lossless, only partitioned
    assert(rows(Similarity.annTopKIndexed(spark, dir, "vec_id", "embedding",
        q, 10, lsh.copy(probeHamming = 12)))
      == rows(Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)))
    // pruned multi-probe == the in-flight path (same probes by construction)
    val pruned = Similarity.annTopKIndexed(spark, dir, "vec_id", "embedding",
      q, 5, lsh)
    assert(rows(pruned)
      == rows(Similarity.annTopK(emb, "vec_id", "embedding", q, 5, lsh)))
    // the probe filter lands in PartitionFilters; ≤ prefixBits+1 of the
    // 2^prefixBits prefixes are read
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").contains("lsh_prefix"))
    val totalPrefixes = spark.read.parquet(s"$dir/vectors")
      .select($"lsh_prefix").distinct().count()
    assert(scan.selectedPartitions.partitionCount <= 7 &&
      scan.selectedPartitions.partitionCount < totalPrefixes)
  }

  test("sampleCentroids: hash-range pre-filter == full sort; tiny slice " +
      "falls back") {
    val emb = spark.read.parquet(sfEmb)
    // sliceShift=1 keeps ~half the rows — enough for 8 centroids, so the
    // pre-filtered path answers; it must equal the exhaustive sort
    val full = Similarity.sampleCentroids(emb, "vec_id", "embedding", 8,
      sliceShift = 0)
    val sliced = Similarity.sampleCentroids(emb, "vec_id", "embedding", 8,
      sliceShift = 1)
    assert(sliced.toSeq == full.toSeq && full.length == 8)
    // a slice too thin for 8 survivors must fall back, same answer again
    val fallback = Similarity.sampleCentroids(emb, "vec_id", "embedding", 8,
      sliceShift = 40)
    assert(fallback.toSeq == full.toSeq)
  }

  test("Lloyd refinement is non-decreasing on clustered data at fixed nProbe " +
      "and preserves full-probe exactness") {
    val emb = clustered(160, 8).cache()
    emb.count()
    val queries = (0 until 8).map(i => (i.toLong, queryOf(emb, i.toLong)))
    def meanRecall(lloyd: Int): Double = {
      val idx = SparkEntry.tmpDir(s"graft_r5_ivf$lloyd")
      val ivf = Ivf(nCentroids = 8, lloydIters = lloyd, nProbe = 1)
      Similarity.buildVectorIndex(emb, "vec_id", "embedding", idx, ivf)
      Similarity.recallIndexed(spark, idx, "vec_id", "embedding",
        queries, 5, ivf).agg(avg($"recall")).head().getDouble(0)
    }
    val r0 = meanRecall(0)
    val r1 = meanRecall(1)
    assert(r1 >= r0, s"lloyd=1 recall $r1 < lloyd=0 recall $r0")
    // on well-separated clusters one refinement step should recover the
    // true centroids and make nProbe=1 exact
    assert(r1 == 1.0, s"refined codebook nProbe=1 recall $r1 != 1.0 on clustered data")
    // full-probe exactness is centroid-independent — refined index included
    val idx = SparkEntry.tmpDir("graft_r5_ivf_full")
    val ivf = Ivf(nCentroids = 8, lloydIters = 1, nProbe = 8)
    Similarity.buildVectorIndex(emb, "vec_id", "embedding", idx, ivf)
    val q0 = queries.head._2
    val full = Similarity.annTopKIndexed(spark, idx, "vec_id", "embedding",
      q0, 5, ivf).collect().toSeq
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q0, 5)
      .collect().toSeq
    assert(full == exact)
    emb.unpersist()
  }

  test("recall surfaces report 1.0 when the probe set covers every bucket") {
    val emb = clustered(80, 4).cache()
    emb.count()
    val queries = (0 until 4).map(i => (i.toLong, queryOf(emb, i.toLong)))
    val ivfIdx = SparkEntry.tmpDir("graft_r5_ivf_cov")
    val ivfAll = Ivf(nCentroids = 4, nProbe = 4) // every list probed
    Similarity.buildVectorIndex(emb, "vec_id", "embedding", ivfIdx, ivfAll)
    val ivf = Similarity.recallIndexed(spark, ivfIdx, "vec_id", "embedding",
      queries, 5, ivfAll)
    assert(ivf.filter($"recall" =!= 1.0).count() == 0)
    val lshIdx = SparkEntry.tmpDir("graft_r5_lsh_cov")
    val lshAll = Lsh(bits = 4, prefixBits = 2, probeHamming = 4) // 2^4 probes = all
    Similarity.buildVectorIndex(emb, "vec_id", "embedding", lshIdx, lshAll)
    val lsh = Similarity.recallIndexed(spark, lshIdx, "vec_id", "embedding",
      queries, 5, lshAll)
    assert(lsh.filter($"recall" =!= 1.0).count() == 0)
    emb.unpersist()
  }

  test("probeSigs enumerates exactly the hamming-<=h ball") {
    val sigs = Similarity.probeSigs(0b1010L, bits = 6, probeHamming = 2)
    assert(sigs.size == 1 + 6 + 15) // C(6,0)+C(6,1)+C(6,2)
    assert(sigs.distinct.size == sigs.size)
    assert(sigs.forall(s => java.lang.Long.bitCount(s ^ 0b1010L) <= 2))
    // width 1 = the legacy probe set (sig + single-bit flips)
    assert(Similarity.probeSigs(7L, 12, 1).toSet ==
      (7L +: (0 until 12).map(b => 7L ^ (1L << b))).toSet)
  }

  test("index appends: IVF append keeps full-probe exactness over the union " +
      "under the build-time codebook; LSH append == rebuild exactly") {
    val base = clustered(120, 6).cache()
    base.count()
    val corpus = base.filter($"vec_id" < 90)
    val delta = base.filter($"vec_id" >= 90)
    val ivfDir = SparkEntry.tmpDir("graft_ivf_app_")
    val ivf = Ivf(nCentroids = 6, nProbe = 6)
    Similarity.buildVectorIndex(corpus, "vec_id", "embedding", ivfDir, ivf)
    Similarity.appendToVectorIndex(delta, "embedding", ivfDir, 1L, ivf)
    // retried append (same epoch): idempotent, not duplicating
    Similarity.appendToVectorIndex(delta, "embedding", ivfDir, 1L, ivf)
    val q = queryOf(base, 93L)
    // full probing over the appended index == brute force over the union —
    // the append landed every delta vector in the list the persisted
    // codebook routes probes to (a delta query vector, so the probe must
    // find its appended twin first)
    assert(rows(Similarity.annTopKIndexed(spark, ivfDir, "vec_id",
        "embedding", q, 7, ivf))
      == rows(Similarity.bruteForceTopK(base, "vec_id", "embedding", q, 7)))
    // LSH: signature is data-independent ⇒ append is EXACTLY a rebuild
    val d1 = SparkEntry.tmpDir("graft_lsh_app1_")
    val d2 = SparkEntry.tmpDir("graft_lsh_app2_")
    val lsh = Lsh(bits = 8, prefixBits = 3)
    Similarity.buildVectorIndex(corpus, "vec_id", "embedding", d1, lsh)
    Similarity.appendToVectorIndex(delta, "embedding", d1, 1L, lsh)
    // retried append (same epoch): idempotent, not duplicating
    Similarity.appendToVectorIndex(delta, "embedding", d1, 1L, lsh)
    Similarity.buildVectorIndex(base, "vec_id", "embedding", d2, lsh)
    def content(p: String) = spark.read.parquet(s"$p/vectors")
      .select($"vec_id", $"lsh_sig", $"lsh_prefix".cast("long"))
      .collect().map(_.toSeq).toSet
    assert(content(d1) == content(d2))
    // and no row duplication from the retried append (toSet would mask it)
    assert(spark.read.parquet(s"$d1/vectors").count()
      == spark.read.parquet(s"$d2/vectors").count())
    assert(spark.read.parquet(s"$ivfDir/vectors").count() == 120)
    base.unpersist()
  }

  test("LSH index compaction folds a multi-epoch index to one epoch with " +
      "identical content and top-k") {
    val base = clustered(120, 6).cache(); base.count()
    val v1 = SparkEntry.tmpDir("graft_cmp_v1_")
    val v2 = SparkEntry.tmpDir("graft_cmp_v2_") + "/idx"
    val lsh = Lsh(bits = 8, prefixBits = 3)
    Similarity.buildVectorIndex(base.filter($"vec_id" < 90), "vec_id",
      "embedding", v1, lsh)
    Similarity.appendToVectorIndex(base.filter($"vec_id" >= 90),
      "embedding", v1, 1L, lsh)
    Similarity.compactVectorIndex(spark, v1, v2, lsh)
    assert(spark.read.parquet(s"$v2/vectors").count() == 120)
    assert(epochDirs(s"$v2/vectors") == Seq("epoch=0"))
    val q = queryOf(base, 93L)
    def top(p: String) = rows(Similarity.annTopKIndexed(spark, p, "vec_id",
      "embedding", q, 7, lsh.copy(probeHamming = 8)))
    assert(top(v2) == top(v1))
    base.unpersist()
  }

  test("recall detail rows aggregate to the summary form and carry exactly " +
      "k exact-neighbor rows per query (the DuckDB-recomputable denominator)") {
    def doc(seed: Int, dims: Int = 12) = (0 until dims)
      .map(d => (((seed * 31 + d * 7) % 19).toDouble / 19.0 - 0.5).toFloat).toSeq
    val emb = (0 until 60).map(i => (i.toLong, doc(i))).toDF("vec_id", "embedding")
      .cache(); emb.count()
    val queries = (0 until 4).map { i =>
      (i.toLong, doc(i).map(_.toDouble).toSeq)
    }
    val idx = SparkEntry.tmpDir("graft_r6_detail_")
    val ivf = Ivf(nCentroids = 4, nProbe = 2)
    Similarity.buildVectorIndex(emb, "vec_id", "embedding", idx, ivf)
    val detail = Similarity.recallIndexed(spark, idx, "vec_id", "embedding",
      queries, 5, ivf, detail = true)
    // exactly k rows per query — every query's full exact top-5, hit or not
    assert(detail.groupBy($"query_id").count()
      .filter($"count" =!= 5).count() == 0)
    // detail aggregates to the summary form exactly
    val fromDetail = detail.groupBy($"query_id")
      .agg(sum($"hit").cast("long").as("n_hits"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val summary = Similarity.recallIndexed(spark, idx, "vec_id", "embedding",
        queries, 5, ivf)
      .select($"query_id", $"n_hits")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromDetail == summary)
    // the detail's (query_id, vec_id, cos) triples ARE the exact top-5:
    // parity with bruteForceTopK per query
    val q0 = queries.head._2
    val exact = rows(Similarity.bruteForceTopK(emb, "vec_id", "embedding", q0, 5)).toSet
    val det0 = rows(detail.filter($"query_id" === 0L).select($"vec_id", $"cos")).toSet
    assert(det0 == exact)
    emb.unpersist()
  }

  test("IVF index compaction preserves the codebook and probe parity " +
      "(src vs dst, pruned and full probing)") {
    val base = clustered(120, 6).cache(); base.count()
    val src = SparkEntry.tmpDir("graft_ivfc_src_")
    val dst = SparkEntry.tmpDir("graft_ivfc_dst_") + "/idx"
    val ivf = Ivf(nCentroids = 6)
    Similarity.buildVectorIndex(base.filter($"vec_id" < 90), "vec_id",
      "embedding", src, ivf)
    Similarity.appendToVectorIndex(base.filter($"vec_id" >= 90),
      "embedding", src, 1L, ivf)
    Similarity.compactVectorIndex(spark, src, dst, ivf)
    // codebook copied verbatim (it is what routes probes)
    def cb(p: String) = spark.read.parquet(s"$p/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
    assert(cb(dst) == cb(src))
    assert(spark.read.parquet(s"$dst/vectors").count() == 120)
    val q = queryOf(base, 93L)
    def top(p: String, nProbe: Int) = rows(Similarity.annTopKIndexed(spark, p,
      "vec_id", "embedding", q, 7, ivf.copy(nProbe = nProbe)))
    assert(top(dst, 1) == top(src, 1)) // pruned probe parity
    assert(top(dst, 6) == top(src, 6)) // full probe parity
    base.unpersist()
  }

  test("vector-index compaction fence (IVF + LSH parity with the minhash " +
      "fence): a below-fence append fails loudly, an at-fence append works, " +
      "probe parity is preserved") {
    val base = clustered(120, 6).cache(); base.count()
    val src = SparkEntry.tmpDir("graft_vf_src_")
    val dst = SparkEntry.tmpDir("graft_vf_dst_") + "/idx"
    val ivf = Ivf(nCentroids = 6, nProbe = 6)
    Similarity.buildVectorIndex(base.filter($"vec_id" < 90), "vec_id",
      "embedding", src, ivf)
    Similarity.appendToVectorIndex(base.filter($"vec_id" >= 90 && $"vec_id" < 105),
      "embedding", src, 1L, ivf)
    assert(PartitionedParquet.minNextEpoch(spark, src) == 1L) // never compacted
    Similarity.compactVectorIndex(spark, src, dst, ivf)
    assert(PartitionedParquet.minNextEpoch(spark, dst) == 2L)
    val late = base.filter($"vec_id" >= 105)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToVectorIndex(late, "embedding", dst, 1L, ivf)
    }
    assert(e.getMessage.contains("compaction fence"))
    assert(spark.read.parquet(s"$dst/vectors").count() == 105) // nothing added
    Similarity.appendToVectorIndex(late, "embedding", dst, 2L, ivf)
    assert(spark.read.parquet(s"$dst/vectors").count() == 120)
    // probing still works across the fence-carrying copy
    val q = queryOf(base, 93L)
    assert(Similarity.annTopKIndexed(spark, dst, "vec_id", "embedding",
      q, 7, ivf).count() == 7)
    // LSH: the same fence via the shared compaction path
    val lsrc = SparkEntry.tmpDir("graft_vf_lsrc_")
    val ldst = SparkEntry.tmpDir("graft_vf_ldst_") + "/idx"
    val lsh = Lsh(bits = 8, prefixBits = 3)
    Similarity.buildVectorIndex(base.filter($"vec_id" < 90), "vec_id",
      "embedding", lsrc, lsh)
    Similarity.appendToVectorIndex(base.filter($"vec_id" >= 90),
      "embedding", lsrc, 1L, lsh)
    Similarity.compactVectorIndex(spark, lsrc, ldst, lsh)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.appendToVectorIndex(late, "embedding", ldst, 1L, lsh)
    }
    assert(e2.getMessage.contains("compaction fence"))
    base.unpersist()
  }
}
