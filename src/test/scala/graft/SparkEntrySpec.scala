package graft

import org.apache.spark.sql.functions._

/** The driver contract's shape: one registry of named queries, each with
  * its oracle SQL or none, and the resources a query body leaves behind. */
class SparkEntrySpec extends GraftSuite {

  private val noOracle = Set(
    "kg_mentions", "kg_linked", "kg_voted", "kg_triples", "kg_triples_staged",
    "kg_link_surface", "kg_export_json", "kg_link_faceted", "kg_canonical",
    "kg_span_tiles", "kg_span_readback",
    "dd_minhash", "dd_simhash", "sim_lsh_topk")

  test("registry: 81 unique queries, 67 with oracle SQL, the 14 others pinned by name") {
    assert(SparkEntry.queries.size == 81)
    assert(SparkEntry.oracleSql.size == 67)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == noOracle)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name has a blank oracle")
    }
  }

  test("registry views refuse a duplicated query name") {
    val q = SparkEntry.Query("q", None, (s, _) => s.emptyDataFrame)
    val e = intercept[IllegalArgumentException](
      SparkEntry.byName(Seq(q, SparkEntry.Query("other", None, q.body), q)))
    assert(e.getMessage.contains("duplicate query names: q"))
    assert(SparkEntry.byName(Seq(q)).keySet == Set("q"))
  }

  test("dd_stream leaves no persisted RDD behind") {
    // 40 docs: ids < 30 repeat eight texts (near-dups across corpus and
    // delta), the rest are unique, so the stream both rejects and accepts
    val dir = SparkEntry.tmpDir("sparkentry_docs")
    spark.range(40).select(col("id").as("doc_id"),
        concat_ws(" ", lit("alpha beta gamma"),
          when(col("id") < 30, col("id") % 8).otherwise(col("id")).cast("string"),
          lit("delta epsilon zeta")).as("text"))
      .write.parquet(s"$dir/documents.parquet")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val accepted = SparkEntry.queries("dd_stream")(spark, dir).collect().map(_.getLong(0))
    assert(accepted.toSeq == Seq(34L, 39L))
    assert(sc.getPersistentRDDs.keySet == before)
  }
}
