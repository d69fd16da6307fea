package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Alias canonicalization (SURVEY.md §2.11 C2; north_star "connected-
  * components over alias edges"): concepts (= `sab:code` nodes) are the
  * same real-world entity when they share a CUI (the reference's crosswalk
  * bridge, `app.py:891-917`) or share a normalized alias string. The
  * canonical id of each component is its lexicographically-least member —
  * deterministic, no coordinator ([[ConnectedComponents.canonicalIds]]).
  *
  * Scale notes: the two edge-inducing self-joins go through `groupBy` on
  * the bridging key first, so a mega-alias hub (one string shared by k
  * concepts) contributes k rows to a clique-star (k-1 edges to its least
  * member), NOT k² pairwise edges — the same star-reduction that salting
  * would otherwise have to fix.
  */
object Canonicalize {

  def conceptId = concat_ws(":", col("sab"), col("code"))

  def normAlias = regexp_replace(lower(col("str")), "[^a-z0-9]+", " ")

  /** gazetteer -> (concept_id, canonical_id). */
  def canonicalConcepts(gaz: DataFrame): DataFrame = {
    val nodes = gaz.select(conceptId.as("node"), col("cui"), normAlias.as("alias"))
    // instead of a pairwise self-join (k² for a hub of degree k), connect
    // every member of a bridging-key group to the group's MIN member
    // (k-1 star edges, same components)
    def starEdges(bridge: String): DataFrame = {
      val keyed = nodes.select(col("node"), col(bridge).as("bridge")).distinct()
      keyed.join(keyed.groupBy("bridge").agg(min(col("node")).as("rep")), "bridge")
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("src"), col("rep").as("dst"))
    }
    ConnectedComponents.canonicalIds(nodes, starEdges("cui").union(starEdges("alias")))
      .select(col("node").as("concept_id"), col("canonical_id"))
  }
}
