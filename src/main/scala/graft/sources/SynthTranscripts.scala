package graft.sources

import java.sql.Timestamp

import graft.model.Turn
import graft.util.DetHash._
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic transcripts table (graft `input_hint`:
  * `(conv_id, turn_idx, role, text, tool, ts)`). The reference's input is
  * one medical document per task (xlsx/csv rows,
  * `src/small_tasks/dhp_fhir_tool1_v1.py:112-121`); here the analogue is a
  * conversation of turns. Every value is a pure function of
  * (conv index, turn index) — re-running the generator at any parallelism
  * yields byte-identical rows (the per-turn text-equality invariant).
  *
  * Skew by construction: conv 0 is a "mega conversation" holding ~5% of all
  * turns (SURVEY.md §4 skew handling); remaining conv sizes ∈ [2, 40).
  */
object SynthTranscripts {

  val fillers: Vector[String] = Vector(
    "patient", "was", "seen", "today", "with", "stable", "signs", "review",
    "of", "notes", "and", "plan", "for", "follow", "up", "visit", "care",
    "team", "noted", "during", "exam", "the", "results", "were", "within",
    "normal", "range", "no", "new", "issues", "found", "continue", "current",
    "course", "monitor", "weekly", "report", "any", "change", "discussed")

  val tools: Vector[String] =
    Vector("search", "calculator", "retrieval", "browser", "coder")

  private val baseEpochMs = 1700000000000L // fixed; never wall-clock

  /** Zero-padded by hand: the `f"conv_$c%06d"` form runs a format-string
    * parse per row and profiled at ~5% of pipeline executor samples (r7);
    * output is byte-identical (golden-tested). */
  def convId(c: Long): String = {
    val d = java.lang.Long.toString(c)
    if (d.length >= 6) "conv_" + d
    else {
      val sb = new java.lang.StringBuilder(11).append("conv_")
      var i = 6 - d.length
      while (i > 0) { sb.append('0'); i -= 1 }
      sb.append(d).toString
    }
  }

  def convSize(c: Long, nConvs: Int): Int =
    if (c == 0L) math.max(nConvs, 40) // mega conversation
    else 2 + pos(h(c, 9L), 38)

  def roleOf(c: Long, t: Int): String = {
    val r = pos(h(c, t.toLong, 6L), 10)
    if (r < 5) "user" else if (r < 9) "assistant" else "tool"
  }

  def toolOf(c: Long, t: Int, role: String): Option[String] =
    if (role == "tool") Some(tools(pos(h(c, t.toLong, 11L), tools.length)))
    else if (role == "assistant" && pos(h(c, t.toLong, 12L), 4) == 0)
      Some(tools(pos(h(c, t.toLong, 13L), tools.length)))
    else None

  def tsOf(c: Long, t: Int): Timestamp =
    new Timestamp(baseEpochMs + c * 86400000L + t * 60000L)

  private def pluralize(surface: String): String = surface + "s"

  /** Turn text: 1..18 lines, occasional blank-line paragraph breaks
    * (to exercise the `\n\n` split, reference `src/app.py:218-224`), ~40% of
    * lines carry one planted gazetteer surface, sometimes pluralized (only
    * the stemmed ensemble variant catches those). */
  def turnText(c: Long, t: Int, surfaces: Vector[String]): String = {
    // streams words straight into one builder — the earlier per-line
    // Array.tabulate/take/drop/mkString form allocated four arrays per line
    // and profiled at ~16% of pipeline executor samples (r7); output is
    // byte-identical (golden-tested)
    val nLines = 1 + pos(h(c, t.toLong, 1L), 18)
    val sb = new java.lang.StringBuilder(nLines * 48)
    var j = 0
    while (j < nLines) {
      val nWords = 4 + pos(h(c, t.toLong, j.toLong, 2L), 5)
      val plant = surfaces.nonEmpty && pos(h(c, t.toLong, j.toLong, 4L), 10) < 4
      // planted surface goes BEFORE word `at` (== nWords appends at end)
      val at = if (plant) pos(h(c, t.toLong, j.toLong, 8L), nWords + 1) else -1
      var first = true
      def append(s: String): Unit = {
        if (first) first = false else sb.append(' ')
        sb.append(s)
      }
      def appendSurface(): Unit = {
        val s0 = surfaces(pos(h(c, t.toLong, j.toLong, 5L), surfaces.length))
        append(if (pos(h(c, t.toLong, j.toLong, 7L), 5) == 0) pluralize(s0) else s0)
      }
      var w = 0
      while (w < nWords) {
        if (w == at) appendSurface()
        append(fillers(pos(h(c, t.toLong, j.toLong, 3L, w.toLong), fillers.length)))
        w += 1
      }
      if (at == nWords) appendSurface()
      if (j < nLines - 1)
        sb.append(if (pos(h(c, t.toLong, j.toLong, 14L), 7) == 0) "\n\n" else "\n")
      j += 1
    }
    sb.toString
  }

  def mkTurn(c: Long, t: Int, surfaces: Vector[String]): Turn = {
    val role = roleOf(c, t)
    Turn(convId(c), t, role, turnText(c, t, surfaces), toolOf(c, t, role), tsOf(c, t))
  }

  /** Turn-block size for distributed generation: the unit of work that gets
    * hash-spread across partitions, so a mega conversation cannot pin one
    * task (SURVEY §4 skew handling — the same block decomposition a real
    * ingest would apply before any heavy per-turn stage). */
  val BlockSize = 256

  /** Partitions per core for the heavy text-synthesis/extraction stage.
    * Per-turn work varies ~20× (1-18 lines), so coarse waves leave a
    * straggler tail at high core counts; more, smaller tasks smooth it
    * (4 chosen by measurement). */
  val GenPartsMult = 4

  /** Distributed generation in two phases: a cheap per-conv flatMap emits
    * (conv, turn-range) block DESCRIPTORS, a hash repartition on
    * (conv, block) spreads them evenly (this is where mega-conversation
    * skew dies — descriptor rows are bytes, the shuffle is ~free), and the
    * heavy text synthesis runs post-shuffle. Rows are a pure function of
    * (conv, turn): any partitioning yields identical content. */
  def turns(spark: SparkSession, nConvs: Int, nBaseConcepts: Int): Dataset[Turn] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val surfaces = Gazetteer.plantableSurfaces(nBaseConcepts)
    val n = nConvs
    spark.range(0, n.toLong, 1, math.min(n, 64)).as[Long]
      .flatMap { c =>
        val size = convSize(c, n)
        (0 until size by BlockSize).iterator.map(t0 =>
          (c, t0, math.min(t0 + BlockSize, size)))
      }
      .toDF("c", "t0", "t1")
      // EXPLICIT partition count: descriptor rows are bytes, so AQE's
      // byte-sized coalescing would collapse this shuffle to one partition
      // and serialize the heavy expansion downstream — partition count must
      // track the post-expansion work, not the shuffle payload
      .repartition(spark.sparkContext.defaultParallelism * GenPartsMult,
        col("c"), col("t0"))
      .as[(Long, Int, Int)]
      .flatMap { case (c, t0, t1) =>
        (t0 until t1).iterator.map(t => mkTurn(c, t, surfaces))
      }
  }

  /** Metadata-only generation — (conv_id, turn_idx, role, tool, ts) without
    * the text column. Text synthesis dominates generation cost, so
    * consumers that never read `text` (role joins, uses_tool/replies_to
    * triples) use this instead: the generator-side analogue of parquet
    * column pruning. Rows agree with [[turns]] on every shared column by
    * construction (same pure functions of (conv, turn)). */
  def turnsMeta(spark: SparkSession, nConvs: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val n = nConvs
    spark.range(0, n.toLong, 1, math.min(n, 64)).as[Long].flatMap { c =>
      val size = convSize(c, n)
      (0 until size).iterator.map { t =>
        val role = roleOf(c, t)
        (convId(c), t, role, toolOf(c, t, role), tsOf(c, t))
      }
    }.toDF("conv_id", "turn_idx", "role", "tool", "ts")
  }
}
