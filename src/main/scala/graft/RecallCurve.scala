package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.operators.Similarity.{Ivf, Lsh}

/** Committed recall-vs-scan-fraction curves for both pruned ANN paths
  * (VERDICT r5 next #6) plus the Lloyd-iteration saturation point (next
  * #8) — the numbers a 100 TB operator tunes by: "what recall do I buy at
  * what fraction of the table scanned, and how much codebook refinement is
  * worth paying for".
  *
  * Protocol = the driver recall rows' exactly: the same 20 fixed queries
  * ([[SparkEntry.fixedQueryVecs]], vec_id < 20), recall@5 vs the exact
  * top-5 (ties broken by id), indexes built with the registered params
  * (IVF nCentroids=16, LSH bits=12 / prefixBits=6). Sweeps: IVF nProbe
  * ∈ {1,2,4,8,16} at the registered lloydIters=1 codebook; LSH
  * probeHamming ∈ {0,1,2,3}; IVF lloydIters ∈ {0,1,2} at the registered
  * nProbe=4 (where refinement saturates). Scan fraction = mean over queries of (rows in probed lists / corpus rows) —
  * [[Similarity.scanFraction]]. Index dirs come from [[SparkEntry.tmpDir]],
  * deleted with their contents at JVM exit.
  *
  * Usage: `runMain graft.RecallCurve <sfDir> [<sfDir> ...]`; prints ONE
  * JSON line (saved as `bench_runs/r6_recall_curve.json`). nProbe=16 of 16
  * and the full Hamming ball are the built-in sanity anchors (recall must
  * read 1.0 at scan fraction 1.0 for IVF full probe). */
object RecallCurve {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallCurve <sfDir> [<sfDir> ...]")
    val spark = Sessions.local(Sessions.hostCores)
    val perSf = args.toSeq.map { dir =>
      val sf = dir.split('/').last
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      val queries = SparkEntry.fixedQueryVecs(emb, 20)
      def meanRecall(df: org.apache.spark.sql.DataFrame): Double =
        df.agg(avg(col("recall"))).head().getDouble(0)

      // ---- IVF: nProbe sweep at the registered codebook (lloydIters=1)
      val ivfIdx = SparkEntry.tmpDir("graft_rc_ivf_")
      Similarity.buildVectorIndex(emb, "vec_id", "embedding", ivfIdx, Ivf())
      val ivfCurve = Seq(1, 2, 4, 8, 16).map { nProbe =>
        val rec = meanRecall(Similarity.recallIndexed(spark, ivfIdx,
          "vec_id", "embedding", queries, 5, Ivf(nProbe = nProbe)))
        val frac = Similarity.scanFraction(spark, ivfIdx, queries,
          Ivf(nProbe = nProbe))
        f"""{"n_probe":$nProbe,"recall":$rec%.4f,"scan_fraction":$frac%.4f}"""
      }

      // ---- LSH: probeHamming sweep at the registered bits=12/prefixBits=6
      val lshIdx = SparkEntry.tmpDir("graft_rc_lsh_")
      Similarity.buildVectorIndex(emb, "vec_id", "embedding", lshIdx, Lsh())
      val lshCurve = Seq(0, 1, 2, 3).map { ham =>
        val rec = meanRecall(Similarity.recallIndexed(spark, lshIdx,
          "vec_id", "embedding", queries, 5, Lsh(probeHamming = ham)))
        val frac = Similarity.scanFraction(spark, lshIdx, queries,
          Lsh(probeHamming = ham))
        f"""{"probe_hamming":$ham,"recall":$rec%.4f,"scan_fraction":$frac%.4f}"""
      }

      // ---- Lloyd saturation: iters ∈ {0,1,2} at the registered nProbe=4
      val lloydPts = Seq(0, 1, 2).map { iters =>
        val idx = SparkEntry.tmpDir(s"graft_rc_ll$iters")
        Similarity.buildVectorIndex(emb, "vec_id", "embedding", idx,
          Ivf(lloydIters = iters))
        val rec = meanRecall(Similarity.recallIndexed(spark, idx,
          "vec_id", "embedding", queries, 5, Ivf(nProbe = 4)))
        f"""{"lloyd_iters":$iters,"recall":$rec%.4f}"""
      }

      s""""$sf":{"n_vectors":$n,""" +
        s""""ivf_nprobe_curve":${ivfCurve.mkString("[", ",", "]")},""" +
        s""""lsh_hamming_curve":${lshCurve.mkString("[", ",", "]")},""" +
        s""""ivf_lloyd_at_nprobe4":${lloydPts.mkString("[", ",", "]")}}"""
    }
    println(s"""{"metric":"recall_vs_scan","k":5,"n_queries":20,""" +
      s""""ivf_n_centroids":16,"lsh_bits":12,${perSf.mkString(",")}}""")
    spark.stop()
  }
}
