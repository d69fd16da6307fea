package graft.sources

import graft.model.GazRow
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The documents-table KG corpus (round-3 evidence surface): maps the
  * driver's SQL-visible `documents` parquet into the engine's transcript
  * shape so the WHOLE reference §3.1 path — segmentation, 3-round ensemble
  * NER (`/root/reference/src/app.py:957-1004`), linking + ICD10CM crosswalk
  * (`app.py:891-917`), support/confidence aggregation (`app.py:972-1004`)
  * and 4-predicate triple materialization, i.e. [[graft.Pipeline]]'s
  * chain over [[turns]] and [[gaz]] — runs end to end over data DuckDB can
  * also see, making every stage oracle-checkable in plain SQL.
  *
  * Why this is checkable: the corpus text is single-space-joined lowercase
  * words from a closed vocabulary, so token-occurrence counts equal
  * substring counts — `(length(text) − length(replace(text, s, ''))) /
  * length(s)` — and the ensemble/linking/aggregation algebra on top of
  * them is plain arithmetic. The gazetteer below is engineered so every
  * ensemble-semantics branch is exercised AND SQL-predictable:
  *
  *  - `data`, `merge`, `window`: preferred single-token concepts — found by
  *    all 3 rounds (unique=3, confidence=1);
  *  - `stream`: a NON-preferred synonym (ISPREF='N') whose concept carries
  *    a separate preferred PT (`stream processing`, a bigram absent from
  *    the corpus): ensemble round 1 (ISPREF-only) misses it → unique=2,
  *    confidence=2/3, and linking must swap its concept_name to the PT;
  *  - `data column`: a two-token surface overlapping `data` — exercises
  *    longest-match-wins (the inner `data` is suppressed, so
  *    n(data) = occ("data") − occ("data column") in SQL);
  *  - two ICD10CM rows sharing the `data`/`stream` CUIs: the J2 crosswalk
  *    left-join hits for those concepts and misses (null) for the rest.
  *
  * No vocabulary word ends in a bare 's', so the stemmed round-2 variant
  * matches exactly the strict round's spans (acc differs only).
  */
object DocCorpus {

  val gaz: Vector[GazRow] = Vector(
    GazRow("CD000001", "SNOMEDCT_US", "PT", "Y", "D100", "data"),
    GazRow("CD000002", "SNOMEDCT_US", "PT", "Y", "M100", "merge"),
    GazRow("CD000003", "SNOMEDCT_US", "PT", "Y", "W100", "window"),
    GazRow("CD000004", "SNOMEDCT_US", "SY", "N", "S100", "stream"),
    GazRow("CD000004", "SNOMEDCT_US", "PT", "Y", "S100", "stream processing"),
    GazRow("CD000005", "SNOMEDCT_US", "PT", "Y", "DC100", "data column"),
    // crosswalk rows: token 'icd' never occurs in the corpus, so these are
    // pure dimension rows (never matched as patterns)
    GazRow("CD000001", "ICD10CM", "PT", "Y", "A10.1", "icd alpha"),
    GazRow("CD000004", "ICD10CM", "PT", "Y", "B20.2", "icd beta"))

  /** documents -> the engine's Turn shape: conv = lang (five mega-
    * conversations — deliberately also a skew shape), turn_idx = doc_id
    * (globally unique, ordered), deterministic role/tool assignment so the
    * role-derived predicates are SQL-reconstructable. */
  def turns(docs: DataFrame): DataFrame =
    docs.select(
      col("lang").as("conv_id"),
      col("doc_id").cast("int").as("turn_idx"),
      when(col("doc_id") % 2 === 0, "assistant").otherwise("user").as("role"),
      col("text"),
      when(col("doc_id") % 5 === 0, "search").otherwise(lit(null))
        .cast("string").as("tool"))

  /** Inputs for the voting oracle (A4-A6): per doc, rounds 0 and 1 propose
    * COMPETING concepts (D100 at acc .99 / DA200 at acc .99) on the SAME
    * span — the first `data` occurrence — and round 2 re-supports D100 at
    * acc .9; round 1 alone additionally flags the first `window`
    * occurrence. The identical-span cluster spans all 3 rounds (support
    * 1.0) and the acc-weighted mode must pick D100 (1.89 over .99); the
    * window singleton (support 1/3 < 0.5) must be dropped. Both outcomes
    * are plain `instr` arithmetic for the oracle. */
  def voteInputs(docs: DataFrame): org.apache.spark.sql.Dataset[graft.model.Mention] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col("doc_id").cast("string").as("conv_id"),
      lit(0).as("turn_idx"), col("text"))
    val dataRows = Seq(
      (0, "D100", "data", 0.99), (1, "DA200", "alt data", 0.99),
      (2, "D100", "data", 0.9)).map { case (r, code, name, acc) =>
      base.withColumn("pos", instr(col("text"), "data"))
        .filter(col("pos") > 0)
        .select(col("conv_id"), col("turn_idx"), lit(r).as("try_index"),
          (col("pos") - 1).cast("int").as("start"),
          (col("pos") + 3).cast("int").as("end"),
          lit("data").as("surface"), lit("CD000001").as("cui"),
          lit("SNOMEDCT_US").as("source"), lit(code).as("code"),
          lit(name).as("concept_name"), lit(acc).as("acc"))
    }.reduce(_ unionByName _)
    val windowRow = base.withColumn("pos", instr(col("text"), "window"))
      .filter(col("pos") > 0)
      .select(col("conv_id"), col("turn_idx"), lit(1).as("try_index"),
        (col("pos") - 1).cast("int").as("start"),
        (col("pos") + 5).cast("int").as("end"),
        lit("window").as("surface"), lit("CD000003").as("cui"),
        lit("SNOMEDCT_US").as("source"), lit("W100").as("code"),
        lit("window").as("concept_name"), lit(0.99).as("acc"))
    dataRows.unionByName(windowRow).as[graft.model.Mention]
  }

  /** Deterministic (mentions, turns) inputs for the span-table operators:
    * newlines are injected (` merge ` → `\n`, the q22 convention — the raw
    * corpus is single-line) so `<NEW_LINE>` escaping and the orig-len
    * correction do real work, and each ensemble round carries at most ONE
    * span per doc — the FIRST substring occurrence of a round-specific
    * surface, i.e. exactly DuckDB's `instr`, which is what makes the tiled
    * offsets and the global read-back splice plain-SQL-checkable. */
  def spanInputs(docs: DataFrame): (DataFrame, DataFrame) = {
    val injected = regexp_replace(col("text"), " merge ", "\n")
    val turnsDf = docs.select(col("doc_id").cast("string").as("conv_id"),
      lit(0).as("turn_idx"), injected.as("text"))
    val surf = Seq((0, "data", "RB0"), (1, "window", "RB1"), (2, "query", "RB2"))
    val m = surf.map { case (r, sfc, code) =>
      turnsDf.withColumn("pos", instr(col("text"), sfc))
        .filter(col("pos") > 0)
        .select(col("conv_id"), col("turn_idx"), lit(r).as("try_index"),
          (col("pos") - 1).cast("int").as("start"),
          (col("pos") - 1 + lit(sfc.length)).cast("int").as("end"),
          lit("CRB").as("cui"), lit("RB").as("source"), lit(code).as("code"),
          lit(sfc).as("concept_name"), lit(0.99).as("acc"))
    }.reduce(_ unionByName _)
    (m, turnsDf)
  }
}
