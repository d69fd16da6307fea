package graft

import graft.operators.Similarity
import graft.operators.Similarity.Ivf
import org.apache.spark.sql.functions._

/** Scale paths of the similarity suite: IVF ANN and the exact all-pairs
  * verification baseline. */
class SimilarityScaleSpec extends GraftSuite {
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def queryVec: Seq[Double] =
    emb.filter($"vec_id" === 0).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)

  test("ivfTopK with full probing equals brute force; partial probing is a sound subset") {
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queryVec, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.annTopK(emb, "vec_id", "embedding", queryVec, 10,
      Ivf(nCentroids = 8, lloydIters = 0, nProbe = 8))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq == bf.toSeq) // probing every list == exact
    val part = Similarity.annTopK(emb, "vec_id", "embedding", queryVec, 10,
      Ivf(nCentroids = 8, lloydIters = 0, nProbe = 2))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val bfMap = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queryVec, 1000000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    part.foreach { case (id, cos) => assert(bfMap(id) == cos) } // scores exact
    // the query's own vector lives in the best-probed list
    assert(part.head._1 == 0L && part.head._2 == 1.0)
  }

  test("cosineExactPairs matches a driver-side O(n²) computation") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.95f, 0.05f)),
      (5L, Array(-1.0f, 0.0f, 0.0f))
    )
    val df = vecs.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      val na = math.sqrt(ad.map(x => x * x).sum)
      val nb = math.sqrt(bd.map(x => x * x).sum)
      if (na > 0 && nb > 0) dot / (na * nb) else 0.0
    }
    val expected = (for {
      i <- vecs.indices; j <- vecs.indices if vecs(i)._1 < vecs(j)._1
      c = BigDecimal(cos(vecs(i)._2, vecs(j)._2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.5
    } yield (vecs(i)._1, vecs(j)._1, c)).toSet
    val got = Similarity.cosineExactPairs(df, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
  }

  test("LSH near-dup pairs is a subset of exact pairs with identical scores") {
    val exact = Similarity.cosineExactPairs(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    lsh.foreach { case (k, v) => assert(exact(k) == v) }
  }

  test("LSH-bucketed embedding near-dup pairs ⊆ exact pairs (corpus-" +
      "independent safety behind dd_embed_neardup_lsh's measured literal)") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairs(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.4, bits = 4))
    val exact = pairs(Similarity.cosineExactPairs(emb, "vec_id", "embedding",
      threshold = 0.4))
    assert(lsh.nonEmpty && lsh.subsetOf(exact))
  }
}
