package graft

import graft.operators.{RangeJoin, Similarity}
import org.apache.spark.sql.functions._

/** Round-8 optimization invariants: the new native kernels are
  * bit-identical to the HOF executable specs they replace, and the
  * restructured canonical-band range join emits exactly the same rows as
  * before (the dedup surfaces' row-set check lives in DedupSpec).
  */
class Round8Spec extends GraftSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("native LSH signature == HOF spec on real embeddings (float) and double query vectors") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for (bits <- Seq(4, 8, 12)) {
      val mism = emb
        .select(Similarity.lshSignature(col("embedding"), bits).as("n"),
          HofReference.lshSignatureHof(col("embedding"), bits).as("h"))
        .filter(col("n") =!= col("h")).count()
      assert(mism == 0L, s"bits=$bits float-vector parity")
    }
    // double literal vectors (the query-side shape), incl. zero and
    // negative components
    val q = Seq(0.5, -1.25, 0.0, 3.75, -0.001, 2.0)
    val row = spark.range(1)
      .select(Similarity.lshSignature(array(q.map(lit): _*), 12).as("n"),
        HofReference.lshSignatureHof(array(q.map(lit): _*), 12).as("h"))
      .head()
    assert(row.getLong(0) == row.getLong(1), "double-vector parity")
    // the driver-side query signature that routes LSH probes == the kernel
    // column on the same vectors (corpus floats widened to doubles, and
    // the double literal above)
    for (bits <- Seq(4, 8, 12)) {
      val lsh = Similarity.Lsh(bits = bits, prefixBits = 1)
      val mismRows = emb
        .select(col("embedding"), Similarity.lshSignature(col("embedding"), bits))
        .collect().count(r =>
          lsh.signatureOf(r.getSeq[Float](0).map(_.toDouble).toSeq) != r.getLong(1))
      assert(mismRows == 0, s"bits=$bits driver-side float-vector parity")
    }
    assert(Similarity.Lsh().signatureOf(q) == row.getLong(0),
      "driver-side double-vector parity")
  }

  test("native jaccard == size(array_intersect)/union form on corpus shingles") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sh = docs.select(col("doc_id").as("id"),
      graft.functions.SignatureExprs.shingleHashes(col("text"), 3).as("sh"))
    // every consecutive-id pair — includes disjoint, overlapping and
    // identical shingle sets
    val a = sh.select(col("id"), col("sh").as("sh_a"))
    val b = sh.select((col("id") - 1).as("id"), col("sh").as("sh_b"))
    val mism = a.join(b, "id")
      .withColumn("nat", graft.functions.SignatureExprs.jaccard(col("sh_a"), col("sh_b")))
      .withColumn("hof",
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          (size(col("sh_a")) + size(col("sh_b")) -
            size(array_intersect(col("sh_a"), col("sh_b")))).cast("double"))
      .filter(col("nat") =!= col("hof")).count()
    assert(mism == 0L)
    // duplicate elements on the probe side are counted once (the
    // array_intersect dedup semantics)
    val r = spark.range(1).select(
      graft.functions.SignatureExprs.jaccard(
        array(lit(1L), lit(2L), lit(3L)),
        array(lit(2L), lit(2L), lit(9L))).as("j")).head()
    // inter=1 (the duplicate 2 counts once), union = 3 + 3 - 1 = 5
    assert(math.abs(r.getDouble(0) - 0.2) < 1e-15)
  }

  test("canonical-band overlapPairs emits each overlapping pair exactly once") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val s = rnd.nextDouble() * 50
      (s"k${rnd.nextInt(2)}", i, s, s + rnd.nextDouble() * 8)
    }
    val df = rows.toDF("key", "id", "start", "end")
    val got = RangeJoin.overlapPairs(df, Seq("key"), "id", "start", "end", 3.0)
      .select("id_a", "id_b").collect().map(r => (r.getInt(0), r.getInt(1)))
    val naive = (for {
      a <- rows; b <- rows
      if a._1 == b._1 && a._2 < b._2 && a._3 < b._4 && b._3 < a._4
    } yield (a._2, b._2))
    // set equality AND multiplicity 1 (the distinct() was removed — the
    // canonical band must make each pair unique by construction)
    assert(got.toSet == naive.toSet && naive.nonEmpty)
    assert(got.length == got.toSet.size, "a pair was emitted more than once")
  }
}
