package graft

import graft.functions.SignatureExprs
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The native codegen'd signature expressions must be BIT-IDENTICAL to the
  * higher-order-function reference forms in Dedup — on real corpus text and
  * on adversarial edge cases (empty, whitespace-only, unicode, digits). */
class SignatureParitySpec extends GraftSuite {
  import spark.implicits._

  private lazy val documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val corpora = {
    val docs = documents.select(col("text"))
    val edges = Seq("", " ", "\n\n", "a", "ab cd", "ÜNÏCÖDE Ünïcödé mixed",
      "123 456 789", "a-b_c.d", "中文 測試 words between 中文",
      "tabs\tand\nnewlines\r\nand  double  spaces",
      "ALL CAPS TEXT WITH numbers 42 AND symbols !!!").toDF("text")
    docs.unionByName(edges)
  }

  test("simhash64 native == HOF on corpus + edge cases") {
    val diff = corpora
      .select(SignatureExprs.simhash64(col("text")).as("a"),
        HofReference.simhash64(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("shingleHashes native == HOF shingles on corpus + edge cases") {
    val diff = corpora
      .select(SignatureExprs.shingleHashes(col("text"), 3).as("a"),
        HofReference.shingles(col("text"), 3).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("minhashSig native == HOF minhashSignature on corpus + edge cases") {
    val diff = corpora
      .select(SignatureExprs.minhashSig(col("text"), 32, 3).as("a"),
        HofReference.minhashSignature(col("text"), 32, 3).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("cosine native == HOF on real embeddings and degenerate vectors") {
    import graft.operators.Similarity
    // same-length vectors only: the HOF form nulls out on length mismatch
    // (zip_with padding), the native kernel truncates — malformed input,
    // out of contract for both
    val zeros = Seq(Seq.fill(64)(0f)).toDF("v")
    val emb = embeddings.select(col("embedding").as("v")).unionByName(zeros)
    val q = array((1 to 64).map(i => lit(i / 64.0)): _*)
    val diff = emb
      .select(Similarity.cosine(col("v"), q).as("a"),
        HofReference.cosineHof(col("v"), q).as("b"))
      .filter(!(col("a") <=> col("b"))).count() // bit-exact: no tolerance
    assert(diff == 0)
  }

  test("native LSH signature == HOF spec on real embeddings (float) and double query vectors") {
    import graft.operators.Similarity
    for (bits <- Seq(4, 8, 12)) {
      val mism = embeddings
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
      val mismRows = embeddings
        .select(col("embedding"), Similarity.lshSignature(col("embedding"), bits))
        .collect().count(r =>
          lsh.signatureOf(r.getSeq[Float](0).map(_.toDouble).toSeq) != r.getLong(1))
      assert(mismRows == 0, s"bits=$bits driver-side float-vector parity")
    }
    assert(Similarity.Lsh().signatureOf(q) == row.getLong(0),
      "driver-side double-vector parity")
  }

  test("native jaccard == size(array_intersect)/union form on corpus shingles") {
    val sh = documents.select(col("doc_id").as("id"),
      SignatureExprs.shingleHashes(col("text"), 3).as("sh"))
    // every consecutive-id pair — includes disjoint, overlapping and
    // identical shingle sets
    val a = sh.select(col("id"), col("sh").as("sh_a"))
    val b = sh.select((col("id") - 1).as("id"), col("sh").as("sh_b"))
    val mism = a.join(b, "id")
      .withColumn("nat", SignatureExprs.jaccard(col("sh_a"), col("sh_b")))
      .withColumn("hof",
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          (size(col("sh_a")) + size(col("sh_b")) -
            size(array_intersect(col("sh_a"), col("sh_b")))).cast("double"))
      .filter(col("nat") =!= col("hof")).count()
    assert(mism == 0L)
    // duplicate elements on the probe side are counted once (the
    // array_intersect dedup semantics)
    val r = spark.range(1).select(
      SignatureExprs.jaccard(
        array(lit(1L), lit(2L), lit(3L)),
        array(lit(2L), lit(2L), lit(9L))).as("j")).head()
    // inter=1 (the duplicate 2 counts once), union = 3 + 3 - 1 = 5
    assert(math.abs(r.getDouble(0) - 0.2) < 1e-15)
  }

  test("SQL-surface registration: named functions plan the identical kernels") {
    import graft.functions.GraftFunctions
    GraftFunctions.registerAll(spark) // extensions also inject at build time
    corpora.createOrReplaceTempView("sig_corpus")
    val viaSql = spark.sql(
      """SELECT graft_simhash64(text) AS s,
        |graft_minhash_sig(text, 32, 3) AS m,
        |graft_shingle_hashes(text, 3) AS h FROM sig_corpus""".stripMargin)
    val viaCols = corpora.select(
      SignatureExprs.simhash64(col("text")).as("s"),
      SignatureExprs.minhashSig(col("text"), 32, 3).as("m"),
      SignatureExprs.shingleHashes(col("text"), 3).as("h"))
    assert(viaSql.collect().map(_.toString).sorted
      .sameElements(viaCols.collect().map(_.toString).sorted))
    // SQL-planned kernels stay in whole-stage codegen too
    assert(viaSql.queryExecution.executedPlan.toString.contains("*(1) Project"))
    // cosine by name == Column API, on real embeddings
    embeddings.createOrReplaceTempView("emb_sig")
    val a = spark.sql(
      """SELECT vec_id, graft_cosine(embedding, embedding) AS c
        |FROM emb_sig""".stripMargin).collect().map(_.toString).sorted
    val b = embeddings.select(col("vec_id"),
        graft.operators.Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("native expressions stay inside whole-stage codegen") {
    val plan = corpora
      .select(SignatureExprs.simhash64(col("text")).as("s"),
        SignatureExprs.minhashSig(col("text"), 32, 3).as("m"))
      .queryExecution.executedPlan.toString
    // the "*(n)" stage prefix is the WholeStageCodegen marker in the
    // compact plan string; a codegen fallback would print a bare Project
    assert(plan.contains("*(1) Project"), plan)
  }
}
