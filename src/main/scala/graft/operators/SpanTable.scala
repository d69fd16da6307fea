package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-free span tiling + newline escaping + global-offset read-back — the
  * reference's pipe span-table artifact and its `/txt_ner_result` splice
  * (SURVEY.md §2.8 F2, §2.5 W1/W2, §3.2).
  *
  * The reference writer interleaves non-entity chunks with entity spans so
  * the emitted rows tile the text exactly, escaping literal newlines inside
  * a chunk as `<NEW_LINE>` (`src/small_tasks/dhp_fhir_tool1_v1.py:244-249`):
  *
  *   index|chunk|cui|source|code|string|acc        (`src/app.py:1484-1491`)
  *   0|**|-|-|-|-|-
  *   2|Admission|C0184666|SNOMEDCT_US|32485007|Hospital admission|0.99
  *
  * The read-back reconstructs per-entity GLOBAL char offsets across the
  * three per-round artifacts laid end to end with an 8-char separator,
  * correcting each chunk's length for the `<NEW_LINE>` escapes
  * (`src/app.py:1496-1523`):
  *
  *   orig_len(chunk) = len(chunk) − count(NEW_LINE) · (len("<NEW_LINE>") − 1)
  *   base(file f)    = Σ_{g<f} (last_ind_g + orig_len(last_chunk_g) + 8)
  *
  * Spark restatement: the tiling is ONE fold (`aggregate` HOF) per
  * (conv, turn, try) over the sorted span array — a narrow projection after
  * a single groupBy — and the read-back's base is a W2 running-offset
  * window over try order. Everything is column expressions; nothing leaves
  * the optimizer.
  */
object SpanTable {

  val NewLineToken = "<NEW_LINE>"
  val FileSeparatorLen = 8 // "8是檔案間的\n" — `src/app.py:1523`
  val LostCode = "<LOST>"

  /** F2: escape literal newlines inside a chunk. */
  def escapeNewlines(c: Column): Column = regexp_replace(c, "\n", NewLineToken)

  /** Number of `<NEW_LINE>` tokens in an ESCAPED chunk. */
  def newlineTokens(escaped: Column): Column =
    (length(escaped) - length(regexp_replace(escaped, NewLineToken, ""))) /
      lit(NewLineToken.length)

  /** Original (pre-escape) length of an ESCAPED chunk — the reference's
    * `len(parts[1]) - new_line_count*(len("<NEW_LINE>")-1)`. */
  def origLen(escaped: Column): Column =
    (length(escaped) - newlineTokens(escaped) * lit(NewLineToken.length - 1))
      .cast("int")

  // one row of the tiled span table, as a SQL struct literal
  private def rowStruct(idx: String, chunk: String, cui: String, source: String,
      code: String, term: String, acc: String, isEntity: String): String =
    s"""struct(cast($idx as int) as idx,
       |  replace($chunk, '\\n', '$NewLineToken') as chunk,
       |  $cui as cui, $source as source, $code as code, $term as term,
       |  cast($acc as double) as acc, $isEntity as is_entity)""".stripMargin

  private val gapAfter: String = // gap row from st.pos up to `stop` (exclusive)
    rowStruct("st.pos", "substring(text, st.pos + 1, %s - st.pos)",
      "'-'", "'-'", "'-'", "'-'", "null", "false")

  /** The interleave fold: sorted spans + text -> tiled row array.
    * Mirrors the reference writer loop (`dhp_fhir_tool1_v1.py:244-249`)
    * including the trailing gap so Σ orig_len(chunk) == length(text). */
  val tileExpr: String = {
    val entityRow = rowStruct("s.start",
      "substring(text, s.start + 1, s.end - s.start)",
      "s.cui", "s.source", "s.code", "s.term", "s.acc", "true")
    val emptyRows = "slice(array(" + rowStruct("0", "''", "''", "''", "''", "''", "null", "false") + "), 1, 0)"
    s"""aggregate(
       |  array_sort(spans),
       |  struct(cast(0 as int) as pos, $emptyRows as rows),
       |  (st, s) -> struct(
       |    s.end as pos,
       |    concat(st.rows,
       |      if(s.start > st.pos, array(${gapAfter.format("s.start")}), $emptyRows),
       |      array($entityRow)) as rows),
       |  st -> if(st.pos < length(text),
       |    concat(st.rows, array(${gapAfter.format("length(text)")})),
       |    st.rows))""".stripMargin
  }

  /** mentions (turn-coordinate spans) × turns (text) -> the tiled span
    * table: one row per chunk, (conv_id, turn_idx, try_index, idx, chunk,
    * cui, source, code, term, acc, is_entity), rows tiling each turn's text
    * exactly. One shuffle (the span groupBy); the turns join reuses the
    * same (conv_id, turn_idx) hash partitioning. Turns with zero spans in
    * a round still tile (one full-text gap row) — the try universe comes
    * from the left (turns × rounds), not from the spans.
    *
    * PRECONDITION: spans within one (conv, turn, try) must be disjoint —
    * the extractor's longest-match-wins output guarantees this, but VOTED /
    * merged mentions fed back in may overlap, which silently breaks the
    * gap-free invariant (a span starting before the fold's cursor emits a
    * mis-lengthed row) and corrupts read-back offsets. The invariant is
    * Σ orig_len(chunk) == length(text) for every artifact. */
  def tile(mentions: DataFrame, turns: DataFrame, nTries: Int = 3): DataFrame = {
    val spans = mentions.groupBy(col("conv_id"), col("turn_idx"), col("try_index"))
      .agg(collect_list(struct(col("start"), col("end"), col("cui"),
        col("source"), col("code"), col("concept_name").as("term"),
        col("acc"))).as("spans"))
    val universe = turns.select(col("conv_id"), col("turn_idx"), col("text"))
      .crossJoin(broadcast(
        turns.sparkSession.range(0, nTries).select(col("id").cast("int").as("try_index"))))
    universe.join(spans, Seq("conv_id", "turn_idx", "try_index"), "left")
      .withColumn("spans", coalesce(col("spans"), expr(
        "cast(array() as array<struct<start:int,end:int,cui:string," +
          "source:string,code:string,term:string,acc:double>>)")))
      .select(col("conv_id"), col("turn_idx"), col("try_index"),
        posexplode(expr(tileExpr)).as(Seq("row_idx", "r")))
      .select(col("conv_id"), col("turn_idx"), col("try_index"), col("row_idx"),
        col("r.idx").as("idx"), col("r.chunk").as("chunk"),
        col("r.cui").as("cui"), col("r.source").as("source"),
        col("r.code").as("code"), col("r.term").as("term"),
        col("r.acc").as("acc"), col("r.is_entity").as("is_entity"))
  }

  /** §3.2 read-back: per-entity GLOBAL offsets across the per-round
    * artifacts of one turn, laid end to end with the 8-char separator
    * (`src/app.py:1496-1523`). Skips gap rows and `<LOST>` crosswalk
    * misses exactly as the reference does.
    *
    * Single-lineage plan: a groupBy-then-join-back would consume `tiles`
    * twice and RECOMPUTE its whole upstream DAG (extraction included) for
    * each branch — measured 5.0s vs 2.8s for the tiling alone at sf0.1.
    * Instead both the per-artifact length and the running base are window
    * functions over one explicitly co-partitioned pass: file_len is the
    * artifact-window max (the reference's last_ind + orig_len(last_chunk) —
    * it trusts the file, not the text), and base is the running sum of
    * prior artifacts' (file_len + 8), derived from first-row markers. */
  def readBack(tiles: DataFrame): DataFrame = {
    // one exchange on (conv, turn): satisfies BOTH window requirements
    // ((conv,turn,try) is a superset clustering), so the artifact window
    // and the running window add only sorts, never a second shuffle
    val wArt = Window.partitionBy("conv_id", "turn_idx", "try_index")
    val wRun = Window.partitionBy("conv_id", "turn_idx")
      .orderBy("try_index", "row_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    val sep = lit(FileSeparatorLen.toLong)
    val withLen = tiles
      .repartition(col("conv_id"), col("turn_idx"))
      .withColumn("file_len",
        max(col("idx") + origLen(col("chunk"))).over(wArt).cast("long"))
    // each artifact's first row carries its (file_len + 8) contribution;
    // the running sum over prior rows then over-counts exactly the OWN
    // artifact's contribution for rows past the first — subtract it back
    val withBase = withLen
      .withColumn("base_ind",
        coalesce(sum(when(col("row_idx") === 0, col("file_len") + sep)
          .otherwise(lit(0L))).over(wRun), lit(0L))
          - when(col("row_idx") > 0, col("file_len") + sep).otherwise(lit(0L)))
    withBase.filter(col("is_entity") && col("code") =!= LostCode)
      .select(col("conv_id"), col("turn_idx"), col("try_index"),
        (col("base_ind") + col("idx")).as("start_ind"),
        (col("base_ind") + col("idx") + origLen(col("chunk"))).as("end_ind"),
        col("term").as("value"), col("acc"))
  }
}
