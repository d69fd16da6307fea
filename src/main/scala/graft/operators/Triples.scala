package graft.operators

import graft.model.Triple
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Triple materialization (SURVEY.md §2.11 T1): the KG output surface.
  * The reference's entity rows ARE triples — `(paragraph_id, "mentions",
  * source:code)` with confidence/count qualifiers (`app.py:1007-1026`);
  * the graft adds the predicates derived from role/tool transitions
  * (BASELINE.json north_star): `asserts`, `uses_tool`, `replies_to`.
  *
  * Node ids are deterministic (`conv_id` / `conv_id#turn_idx`) — the
  * reference's uuid4 entity ids are not reproducible and thus not portable
  * to a re-runnable distributed pipeline (SURVEY §7.4 risk 1).
  */
object Triples {

  def turnNode(conv: Column, idx: Column) =
    concat_ws("#", conv, idx)

  private def conceptNode(source: Column, code: Column) =
    concat_ws(":", source, code)

  /** One triple row: (subj, pred, obj) then the qualifier tail. */
  private def triple(subj: Column, pred: String, obj: Column, tail: Seq[Column]): Seq[Column] =
    Seq(subj.as("subj"), lit(pred).as("pred"), obj.as("obj")) ++ tail

  /** The qualifiers of a concept triple, from a perTurn/perConv aggregate. */
  private def support: Seq[Column] = Seq(
    col("conv_id"),
    col("confidence"),
    col("unique_count").cast("int").as("unique_count"),
    col("total_count").cast("int").as("total_count"),
    col("icd10_code"), col("icd10_name"))

  /** The qualifiers of a structural triple: certain, counted once, no code. */
  private def constant: Seq[Column] = Seq(
    col("conv_id"),
    lit(1.0).as("confidence"),
    lit(1).as("unique_count"),
    lit(1).as("total_count"),
    lit(null).cast("string").as("icd10_code"),
    lit(null).cast("string").as("icd10_name"))

  /** (turn) -[mentions]-> (concept), qualified, from the per-turn agg. */
  def mentionsTriples(turnAgg: DataFrame): DataFrame =
    turnAgg.select(triple(turnNode(col("conv_id"), col("turn_idx")), "mentions",
      conceptNode(col("source"), col("code")), support): _*)

  /** (conv) -[asserts]-> (concept): conversation-level concept support from
    * ASSISTANT turns only (the reference's analogue: the merged cross-
    * paragraph entity list, `app.py:1570-1586`). `turns` provides the role. */
  def assertsTriples(turnAgg: DataFrame, turns: DataFrame): DataFrame = {
    val roles = turns.select(col("conv_id"), col("turn_idx"), col("role"))
    val assistantAgg = turnAgg
      .join(roles, Seq("conv_id", "turn_idx"))
      .filter(col("role") === "assistant")
    Aggregation.perConv(assistantAgg.drop("role")).select(triple(col("conv_id"), "asserts",
      conceptNode(col("source"), col("code")), support): _*)
  }

  /** (turn) -[uses_tool]-> (tool) for turns with a non-null tool. */
  def usesToolTriples(turns: DataFrame): DataFrame =
    turns.filter(col("tool").isNotNull).select(triple(
      turnNode(col("conv_id"), col("turn_idx")), "uses_tool", col("tool"), constant): _*)

  /** (turn_i) -[replies_to]-> (turn_{i-1}) via a lag window (W6/J5) —
    * the as-of pairing the reference does with its char-offset cursor
    * (`dhp_fhir_tool1_v1.py:244-249`), shuffle-partitioned by conv_id. */
  def repliesToTriples(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    turns
      .withColumn("prev_idx", lag(col("turn_idx"), 1).over(w))
      .filter(col("prev_idx").isNotNull)
      .select(triple(turnNode(col("conv_id"), col("turn_idx")), "replies_to",
        turnNode(col("conv_id"), col("prev_idx")), constant): _*)
  }

  /** All four predicates unioned into one graph table.
    *
    * The explicit no-op filter on the shared `turnAgg` aligns both of its
    * consumers on the join-key null predicates the asserts branch's inner
    * role join INFERS and pushes below the aggregate anyway
    * (InferFiltersFromConstraints): without it the mentions and asserts
    * subtrees differ by exactly that pushed `isnotnull`, canonicalize
    * unequal, and ReuseExchange cannot dedup the dominant
    * extraction→perTurn exchange — each branch then re-runs the FULL
    * extraction (guide §2.4: remove shuffles outright; r8 measured the two
    * duplicate 204 MB map stages collapsing to one, flagship mult=64
    * 11.5 → 8.1 s at local[32]). `conv_id`/`turn_idx` are never null by
    * construction (deterministic id grammar), so results are unchanged —
    * oracle-verified. */
  def all(turnAgg: DataFrame, turns: DataFrame): Dataset[Triple] = {
    import turns.sparkSession.implicits._
    val ta = turnAgg.filter(col("conv_id").isNotNull && col("turn_idx").isNotNull)
    mentionsTriples(ta)
      .unionByName(assertsTriples(ta, turns))
      .unionByName(usesToolTriples(turns))
      .unionByName(repliesToTriples(turns))
      .as[Triple]
  }
}
