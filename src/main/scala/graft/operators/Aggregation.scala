package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Support aggregation (SURVEY.md §2.4 A1-A3; reference `app.py:972-1004`,
  * `app.py:1570-1586`):
  *
  *   A1 per (turn, source, code): count = occurrences across all rounds,
  *      unique = distinct rounds that found it, "first" fields = the
  *      earliest (try_index, start) occurrence — pinned ordering where the
  *      reference relied on dict insertion order;
  *   A2 confidence = unique / 3 (`app.py:1004`);
  *   A3 per (conv, source, code): counts summed across turns, unique/
  *      confidence merged by max (deviation from the reference's
  *      "keep first paragraph's confidence", pinned here as the monotone
  *      merge — documented + tested).
  *
  * Both are one partial/final aggregation over one shuffle — Spark's
  * partial/final agg IS the reference's two-level dict merge, executed
  * map-side first. They plan as SortAggregates, not HashAggregates: `min`
  * over strings has no fixed-width buffer.
  */
object Aggregation {

  /** Ensemble rounds per turn (the reference's `TOTAL_RETRY`): every
    * `try_index` lies in `[0, Rounds)`. */
  val Rounds = 3

  /** Distinct rounds among a group's `tryIndex` values, as a bigint:
    * exactly `countDistinct(tryIndex)` for rounds in `[0, Rounds)`, computed
    * as the popcount of an OR of one-hot round bits. The one-long buffer
    * plans as an ordinary partial/final aggregate, where a distinct adds a
    * second aggregate level and a shuffle keyed by the group keys plus
    * `try_index`. A round outside `[0, Rounds)`, or a null one, fails the
    * query: it would count past `Rounds` (and `1L << 64` would alias
    * round 0). */
  def roundSupport(tryIndex: Column): Column = {
    val bit = when(tryIndex >= 0 && tryIndex < Rounds,
        call_function("shiftleft", lit(1L), tryIndex))
      .otherwise(raise_error(
        format_string(s"try_index outside [0, $Rounds): %s", tryIndex)))
    bit_count(bit_or(bit)).cast("bigint")
  }

  /** linked mentions -> per-turn concept support (A1+A2). */
  def perTurn(mentions: DataFrame): DataFrame = {
    mentions.groupBy(col("conv_id"), col("turn_idx"), col("source"), col("code"))
      .agg(
        count(lit(1)).as("total_count"),
        roundSupport(col("try_index")).as("unique_count"),
        min(struct(col("try_index"), col("start"), col("cui"),
          col("concept_name"), col("surface"))).as("rep"),
        min(col("icd10_code")).as("icd10_code"),
        min(col("icd10_name")).as("icd10_name"))
      .select(col("conv_id"), col("turn_idx"), col("source"), col("code"),
        col("rep.cui").as("cui"),
        col("rep.concept_name").as("concept_name"),
        col("rep.surface").as("text"),
        col("total_count"), col("unique_count"),
        (col("unique_count") / lit(Rounds.toDouble)).as("confidence"),
        col("icd10_code"), col("icd10_name"))
  }

  /** per-turn -> per-conversation merge (A3). */
  def perConv(turnAgg: DataFrame): DataFrame = {
    turnAgg.groupBy(col("conv_id"), col("source"), col("code"))
      .agg(
        sum(col("total_count")).as("total_count"),
        max(col("unique_count")).as("unique_count"),
        min(struct(col("turn_idx"), col("cui"), col("concept_name"),
          col("text"))).as("rep"),
        min(col("icd10_code")).as("icd10_code"),
        min(col("icd10_name")).as("icd10_name"))
      .select(col("conv_id"), col("source"), col("code"),
        col("rep.cui").as("cui"),
        col("rep.concept_name").as("concept_name"),
        col("rep.text").as("text"),
        col("total_count"), col("unique_count"),
        (col("unique_count") / lit(Rounds.toDouble)).as("confidence"),
        col("icd10_code"), col("icd10_name"))
  }
}
