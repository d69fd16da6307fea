package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ingest validation + quarantine (SURVEY.md §2.2 P4/P6; reference request
  * validation `src/app.py:1163-1173` and duplicate-upload guard
  * `src/app.py:1232-1285`). The reference rejects bad requests with a 400
  * and duplicate paragraph uploads with a conflict; batch-side, the same
  * contract is: split the input into (valid, quarantined-with-reason),
  * never silently drop.
  *
  * One narrow pass computes the reason; the duplicate check is the only
  * wide op (latest-wins by ts over the turn key — supersede semantics W4,
  * `src/app.py:1342-1351`). Quarantine keeps the ORIGINAL row plus a
  * `reason` column, so reprocessing after upstream fixes is a plain re-run.
  */
object Ingest {

  val Roles = Seq("user", "assistant", "tool")

  /** reason column: null = valid. */
  def reasonCol = {
    when(col("conv_id").isNull || length(col("conv_id")) === 0, "null_conv_id")
      .when(col("turn_idx").isNull || col("turn_idx") < 0, "bad_turn_idx")
      // NULL-safe: `!isin` is NULL for NULL input, which would skip this
      // branch and let a null-role row through as valid
      .when(col("role").isNull || !col("role").isin(Roles: _*), "bad_role")
      .when(col("text").isNull || length(col("text")) === 0, "empty_text")
      .when(col("ts").isNull, "null_ts")
      .otherwise(lit(null).cast("string"))
  }

  /** (valid turns — exactly one row per (conv_id, turn_idx), latest ts wins;
    * quarantine rows with a `reason`). Superseded duplicates go to
    * quarantine as `superseded_duplicate`, mirroring the reference's
    * revoke-and-replace rather than rejecting the re-upload. */
  def validate(turns: DataFrame): (DataFrame, DataFrame) = {
    val tagged = turns.withColumn("reason", reasonCol)
    val invalid = tagged.filter(col("reason").isNotNull)
    val candidates = tagged.filter(col("reason").isNull).drop("reason")
    val w = Window.partitionBy("conv_id", "turn_idx")
      .orderBy(col("ts").desc, xxhash64(col("text")).asc)
    val ranked = candidates.withColumn("rn", row_number().over(w))
    val valid = ranked.filter(col("rn") === 1).drop("rn")
    val superseded = ranked.filter(col("rn") > 1).drop("rn")
      .withColumn("reason", lit("superseded_duplicate"))
    (valid, invalid.unionByName(superseded))
  }
}
