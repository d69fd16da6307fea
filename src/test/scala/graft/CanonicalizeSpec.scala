package graft

import graft.operators.Canonicalize

/** Alias canonicalization: concepts sharing a CUI or a normalized alias
  * are one entity, whose canonical id is the least `sab:code` member. */
class CanonicalizeSpec extends GraftSuite {
  import spark.implicits._

  test("canonicalConcepts: CUI bridge, alias bridge, a hub alias shared by " +
      "k concepts, transitive chains, and isolated concepts") {
    val k = 6
    val gaz = (Seq(
      // CUI bridge: two sources, one CUI, unrelated strings
      ("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      ("C1", "ICD10CM", "PT", "Y", "N17", "acute kidney failure"),
      // alias bridge: different CUIs, strings equal after normalization
      ("C2", "SNOMEDCT_US", "PT", "Y", "200", "Heart Attack"),
      ("C3", "RXNORM", "SY", "N", "300", "heart-attack"),
      // chain: 400 ~ 401 by CUI, 401 ~ 402 by alias, 400 !~ 402 directly
      ("C4", "SNOMEDCT_US", "PT", "Y", "400", "gout"),
      ("C4", "SNOMEDCT_US", "SY", "N", "401", "podagra"),
      ("C5", "ICD10CM", "PT", "Y", "M10", "Podagra"),
      // isolated: shares nothing with anyone
      ("C6", "SNOMEDCT_US", "PT", "Y", "600", "sprained ankle"),
      // a second alias row of one concept: still one output row
      ("C6", "SNOMEDCT_US", "SY", "N", "600", "ankle sprain")) ++
      // hub: one alias shared by k concepts of k different CUIs (the
      // groupBy star gives k-1 edges to the least member, not k² pairs)
      (0 until k).map(i => (s"H$i", "HUB", "SY", "N", s"h$i", "common cold"))
    ).toDF("cui", "sab", "tty", "ispref", "code", "str")
    val got = Canonicalize.canonicalConcepts(gaz).as[(String, String)].collect()
    assert(got.length == got.map(_._1).distinct.length, "one row per concept")
    val canon = got.toMap
    val want = Map(
      "SNOMEDCT_US:100" -> "ICD10CM:N17", "ICD10CM:N17" -> "ICD10CM:N17",
      "SNOMEDCT_US:200" -> "RXNORM:300", "RXNORM:300" -> "RXNORM:300",
      "SNOMEDCT_US:400" -> "ICD10CM:M10", "SNOMEDCT_US:401" -> "ICD10CM:M10",
      "ICD10CM:M10" -> "ICD10CM:M10",
      "SNOMEDCT_US:600" -> "SNOMEDCT_US:600") ++
      (0 until k).map(i => s"HUB:h$i" -> "HUB:h0")
    assert(canon == want)
  }
}
