package graft

import graft.operators.{Ingest, Linking}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** P4/P6 ingest quarantine and L1-L3 lexical surface linking (SURVEY §2.2
  * P4, §2.11 L1-L3). The F5 position re-mapping tests left with
  * `util/Alignment`; filing these under IngestSpec and LinkingSpec is
  * ROADMAP direction 7. */
class AlignmentIngestSpec extends GraftSuite {
  import spark.implicits._

  test("ingest: reasons, latest-wins supersede, nothing silently dropped") {
    val ts = (s: Long) => new Timestamp(1700000000000L + s * 1000)
    val rows = Seq(
      ("c1", 0, "user", "hello", None: Option[String], ts(0)),
      ("c1", 0, "user", "hello v2", None, ts(5)),     // duplicate key, newer
      ("c1", 1, "robot", "bad role", None, ts(1)),    // bad_role
      ("c1", 2, "user", "", None, ts(2)),             // empty_text
      ("", 0, "user", "x", None, ts(3)),              // null_conv_id
      ("c2", -1, "user", "x", None, ts(4)),           // bad_turn_idx
      ("c2", 0, "assistant", "fine", Some("search"), ts(6)),
      ("c3", 0, null, "null role", None, ts(7))      // NULL role → bad_role
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val (valid, quarantine) = Ingest.validate(rows)
    val v = valid.select("conv_id", "turn_idx", "text").as[(String, Int, String)]
      .collect().toSet
    assert(v == Set(("c1", 0, "hello v2"), ("c2", 0, "fine")))
    val q = quarantine.select("reason").as[String].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(q == Map("bad_role" -> 2, "empty_text" -> 1, "null_conv_id" -> 1,
      "bad_turn_idx" -> 1, "superseded_duplicate" -> 1))
    assert(valid.count() + quarantine.count() == rows.count()) // conservation
  }

  test("linkBySurface: idf-overlap scoring, top-k, deterministic selection") {
    val gaz = Seq(
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C2", "SNOMEDCT_US", "PT", "Y", "200", "acute renal failure"),
      ("C3", "RXNORM", "PT", "Y", "R1", "aspirin")
    ).toDF("cui", "sab", "tty", "ispref", "code", "str")
    val mentions = Seq(("cv", 0, 0, 5, 18, "renal failure"))
      .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface")
    val out = Linking.linkBySurface(mentions, gaz, topK = 10)
      .select("code", "score", "rn", "selected")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2), r.getBoolean(3)))
      .sortBy(_._3)
    // both renal concepts are candidates; aspirin shares no token
    assert(out.map(_._1).toSeq == Seq("100", "200"))
    // identical token overlap => identical score; shorter alias wins
    val expectedScore = BigDecimal(2 * math.log(1.0 + 3.0 / 2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.forall(_._2 == expectedScore))
    assert(out.head._1 == "100" && out.head._4) // selected = rank 1
  }

  test("linkFaceted: facet keywords flip the selected candidate (U4)") {
    val gaz = Seq(
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C2", "SNOMEDCT_US", "PT", "Y", "200", "acute renal failure"),
      ("C3", "RXNORM", "PT", "Y", "R1", "aspirin")
    ).toDF("cui", "sab", "tty", "ispref", "code", "str")
    def mentions(facets: Map[String, Seq[String]]) =
      Seq(("cv", 0, 0, 5, 18, "renal failure", facets))
        .toDF("conv_id", "turn_idx", "try_index", "start", "end", "surface", "facets")
    // no facets: surface-only semantics — shorter alias (code 100) wins
    val plain = Linking.linkFaceted(mentions(Map.empty), gaz)
      .filter(col("selected")).select("code").as[String].collect()
    assert(plain.toSeq == Seq("100"))
    // the reference's search-keyword should-clause: facet "severity: acute"
    // scores against the alias STR and flips selection to the acute concept
    val faceted = Linking.linkFaceted(mentions(Map("severity" -> Seq("acute"))), gaz)
      .filter(col("selected")).select("code").as[String].collect()
    assert(faceted.toSeq == Seq("200"))
    // faceted-with-empty == surface-only scoring, candidate for candidate
    val a = Linking.linkFaceted(mentions(Map.empty), gaz)
      .select("code", "score", "rn").collect().map(_.toString).sorted.toSeq
    val b = Linking.linkBySurface(mentions(Map.empty).drop("facets"), gaz)
      .select("code", "score", "rn").collect().map(_.toString).sorted.toSeq
    assert(a == b)
    // a NULL keyword array inside the map degrades to surface-only scoring
    // (not a dropped mention: flatten would null out on the nested null)
    val nullKw = Linking.linkFaceted(mentions(Map("severity" -> null)), gaz)
      .select("code", "score", "rn").collect().map(_.toString).sorted.toSeq
    assert(nullKw == b)
  }
}
