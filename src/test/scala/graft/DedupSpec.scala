package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class DedupSpec extends GraftSuite {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup collapses identical texts to the min id") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val got = Dedup.exact(d, "doc_id", "text").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds a planted near-duplicate and skips unrelated text") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"word$i").mkString(" ") + " altered tail here"
    val other = (100 to 160).map(i => s"token$i").mkString(" ")
    val got = Dedup.minhashLshPairs(
      docs((1L, base), (2L, nearDup), (3L, other)), "doc_id", "text",
      m = 32, bands = 16, threshold = 0.4).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    val est = got.head.getDouble(2)
    assert(est > 0.4 && est <= 1.0)
  }

  test("simhash: identical texts distance 0; near texts within small hamming") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"word$i").mkString(" ") + " tail"
    val other = (100 to 160).map(i => s"tok$i").mkString(" ")
    val sigs = docs((1L, base), (2L, base), (3L, nearDup), (4L, other))
      .select(col("doc_id"), HofReference.simhash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
    val pairs = Dedup.simhashPairs(
      docs((1L, base), (2L, base)), "doc_id", "text", maxHamming = 0)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ===
      Set((1L, 2L, 0)))
  }

  test("degenerate corpus: bucket cap kills the quadratic bucket, keeps honest pairs") {
    // 500 identical docs co-bucket in EVERY band — uncapped, that is one
    // 500²-pair bucket per band. The exact-dedup-first contract owns
    // identical texts; the cap must (a) drop those buckets, (b) still find
    // the planted near-dup pair living in small buckets.
    val boiler = (1 to 40).map(i => s"boiler$i").mkString(" ")
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"word$i").mkString(" ") + " altered tail here"
    val degenerate = (10L until 510L).map(i => (i, boiler))
    val d = docs(degenerate :+ (1L -> base) :+ (2L -> nearDup): _*)
    val mh = Dedup.minhashLshPairs(d, "doc_id", "text",
      m = 32, bands = 16, threshold = 0.4, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === Set((1L, 2L))) // boiler pairs capped away, honest pair kept
    val sh = Dedup.simhashPairs(d, "doc_id", "text",
      maxHamming = 10, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sh.exists { case (a, b) => a >= 10L && b >= 10L })
    // and with the cap above the corpus size, the quadratic bucket is back
    // (sanity that the cap is what kills it)
    val uncapped = Dedup.minhashLshPairs(d.filter(col("doc_id") < 60),
      "doc_id", "text", m = 32, bands = 16, threshold = 0.4, maxBucket = 100000)
    assert(uncapped.count() >= 48L * 49 / 2)
  }

  test("ngram jaccard: exact on hand-computable shingle sets") {
    // "a b c d" shingles(k=2... here k=3): {abc, bcd}; "a b c e": {abc, bce}
    // jaccard = 1/3
    val got = Dedup.ngramJaccardPairs(
      docs((1L, "a b c d"), (2L, "a b c e")), "doc_id", "text",
      k = 3, threshold = 0.2, maxDf = 10).collect()
    assert(got.length === 1)
    assert(math.abs(got.head.getDouble(2) - 1.0 / 3) < 1e-6)
  }

  test("cosine expression matches a driver-side computation") {
    import spark.implicits._
    val a = Seq(1.0f, 2.0f, 3.0f); val b = Seq(3.0f, 2.0f, 1.0f)
    val got = Seq((a, b)).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val exp = dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    assert(math.abs(got - exp) < 1e-12)
  }

  test("brute-force top-k is exact; LSH candidates are a subset with the same scores") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5).collect()
    assert(brute.head.getLong(0) === 0L) // self-similarity = 1.0 tops the list
    assert(math.abs(brute.head.getDouble(1) - 1.0) < 1e-6)
    val scores = brute.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.annTopK(emb, "vec_id", "embedding", q, 5, Similarity.Lsh())
      .collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      // every LSH hit's score equals the exact cosine (rerank is exact)
      scores.get(r.getLong(0)).foreach(s => assert(math.abs(s - r.getDouble(1)) < 1e-9))
    }
  }

  test("text analysis: token counts and langid behave on known inputs") {
    import spark.implicits._
    val d = Seq((1L, "the cat and the dog sat"), (2L, "zzz qqq kkk www")).toDF("doc_id", "text")
    val rows = d.select(col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).as("ws"),
      TextAnalysis.langIdHeuristic(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(rows(1L) === ((6, "en")))
    assert(rows(2L) === ((4, "other")))
  }
}
