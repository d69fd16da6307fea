package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** §3.3 batch export (reference `labeling_transform.py:134-165`,
  * `labeling_transform_db.py:152-207`): reshape the per-unit concept
  * aggregate into the labeling JSON hierarchy.
  *
  * The reference walks files one by one, re-queries ES per entity for the
  * ICD10CM crosswalk, escapes newlines in `text`, adds the fixed review
  * fields (correctness/insurance_related/remark), and emits nested JSON.
  * Spark restatement: the crosswalk is already joined upstream (L4,
  * [[Linking.link]]); the hierarchy build is one groupBy + sorted
  * collect_list; JSON encoding is `to_json` — all narrow after a single
  * shuffle, and the files are `df.write` partitions instead of a driver
  * loop. */
object Export {

  /** The reconstructed entity struct (`labeling_transform.py:140-156`):
    * review defaults pinned exactly as the reference writes them. */
  def entityStruct: Column = struct(
    col("source"), col("code"),
    col("concept_name").as("code_name"),
    // the reference escapes LITERAL newlines into the two-char sequence \n
    regexp_replace(col("text"), "\n", "\\\\n").as("text"),
    struct(coalesce(col("icd10_code"), lit("N/A")).as("code"),
      coalesce(col("icd10_name"), lit("N/A")).as("name")).as("icd10cm"),
    col("unique_count").cast("int").as("unique"),
    col("confidence"),
    col("total_count").cast("int").as("count"),
    lit(true).as("correctness"),
    lit(false).as("insurance_related"),
    lit("").as("remark"))

  /** Per-conversation nested JSON export: one row per conv,
    * `{"entities":[...]}` with entities sorted by (source, code) — the
    * reference's per-file llmExtract JSON, determinized. Written with
    * `.select("json").write.text(...)` this IS the S5 ndjson bulk sink
    * (one JSON document per line, ES `_bulk`-shaped). */
  def conceptJson(convAgg: DataFrame): DataFrame =
    convAgg
      .groupBy(col("conv_id"))
      .agg(sort_array(collect_list(entityStruct)).as("entities"))
      .select(col("conv_id"),
        to_json(struct(col("entities"))).as("json"))
}
