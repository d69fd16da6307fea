package graft.sources

import graft.model.GazRow
import graft.util.DetHash._

/** Deterministic seeded gazetteer (FIXTURES.md §2) mirroring the reference's
  * filtered MRCONSO subset (`create_filtered_data.py:31,79`): per-concept
  * alias rows across SNOMEDCT_US / RXNORM / LNC plus an ICD10CM crosswalk
  * row sharing the CUI (the crosswalk key, reference `src/app.py:891-917`).
  *
  * Construction goals:
  *  - multi-token aliases for longest-match tests ("renal failure" vs a
  *    separate concept "acute renal failure");
  *  - preference-ranking fixtures (ISPREF/TTY combos,
  *    `dhp_fhir_tool1_v1.py:228-243`);
  *  - deliberate shared-alias bridges between some concepts so alias-edge
  *    connected components (SURVEY.md §2.11 C2) has real work.
  *
  * Everything is a pure function of the concept index — no RNG state.
  */
object Gazetteer {

  val adjs: Vector[String] = Vector(
    "renal", "cardiac", "hepatic", "pulmonary", "gastric", "neural",
    "dermal", "ocular", "femoral", "spinal", "thoracic", "cranial",
    "venous", "arterial", "lymphatic", "adrenal")

  val nouns: Vector[String] = Vector(
    "failure", "infarction", "stenosis", "embolism", "fibrosis", "lesion",
    "edema", "necrosis", "atrophy", "sclerosis", "rupture", "occlusion",
    "prolapse", "dysplasia", "hemorrhage", "thrombosis")

  val sabs: Vector[String] = Vector("SNOMEDCT_US", "RXNORM", "LNC")

  /** Max distinct base concepts (adj × noun combinations). */
  val maxBase: Int = adjs.length * nouns.length

  def cuiOf(k: Int): String = f"C$k%07d"

  def baseTerm(k: Int): String = adjs(k % adjs.length) + " " + nouns(k / adjs.length % nouns.length)

  def sabOf(k: Int): String = sabs(k % sabs.length)

  def codeOf(k: Int): String = {
    val p = sabOf(k) match {
      case "SNOMEDCT_US" => ""
      case "RXNORM"      => "R"
      case "LNC"         => "LP"
    }
    s"$p${100003 + k * 7}"
  }

  def icdCodeOf(k: Int): String = f"${('A' + k % 26).toChar}${k % 100}%02d.${k % 10}"

  /** All rows for a gazetteer of `nBase` base concepts. Concepts
    * [nBase, nBase + nBase/4) are "acute <base>" longest-match traps. */
  def rows(nBase: Int): Vector[GazRow] = {
    require(nBase <= maxBase, s"nBase must be <= $maxBase")
    val nAcute = nBase / 4
    val b = Vector.newBuilder[GazRow]
    // base concepts
    for (k <- 0 until nBase) {
      val cui = cuiOf(k); val sab = sabOf(k); val code = codeOf(k); val t = baseTerm(k)
      b += GazRow(cui, sab, "PT", "Y", code, t)
      b += GazRow(cui, sab, "FN", "Y", code, t + " disorder")
      b += GazRow(cui, sab, "SY", "N", code, "chronic " + t)
      // crosswalk row: same CUI, ICD10CM vocabulary (reference L4 join key)
      b += GazRow(cui, "ICD10CM", "PT", "Y", icdCodeOf(k), t)
      // alias bridge: every 17th concept also carries the NEXT concept's
      // base term as a non-preferred synonym -> C2 alias edge
      if (k % 17 == 0 && k + 1 < nBase)
        b += GazRow(cui, sab, "SY", "N", code, baseTerm(k + 1))
    }
    // acute variants: distinct concepts whose PT strictly extends a base term
    for (j <- 0 until nAcute) {
      val k = nBase + j
      val cui = cuiOf(k); val sab = sabOf(k); val code = codeOf(k)
      val t = "acute " + baseTerm(j)
      b += GazRow(cui, sab, "PT", "Y", code, t)
      b += GazRow(cui, sab, "FN", "N", code, t + " disorder")
    }
    b.result()
  }

  /** The plantable surface list used by the transcript generator: the PT of
    * every concept, in concept order (stable index -> surface). */
  def plantableSurfaces(nBase: Int): Vector[String] = {
    val nAcute = nBase / 4
    (0 until nBase).map(baseTerm).toVector ++
      (0 until nAcute).map(j => "acute " + baseTerm(j)).toVector
  }

  /** Number of concepts (base + acute) for a given nBase. */
  def nConcepts(nBase: Int): Int = nBase + nBase / 4
}
