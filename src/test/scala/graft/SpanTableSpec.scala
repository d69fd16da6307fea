package graft

import graft.model.Mention
import graft.operators.SpanTable
import org.apache.spark.sql.functions._

/** Span-table export + read-back (SURVEY §2.8 F2, §3.2): byte-level golden
  * grammar vs an independent literal port of the reference writer loop
  * (`dhp_fhir_tool1_v1.py:244-249`), the gap-free tiling invariant, and the
  * global-offset splice (`app.py:1496-1523`). */
object PipeWriterOracle {
  // literal port of the Python writer/read-back semantics — shares no code
  // with SpanTable (field-by-field reimplementation of the loops)
  final case class Span(start: Int, end: Int, cui: String, source: String,
      code: String, term: String, acc: Double)

  def esc(s: String): String = s.replace("\n", "<NEW_LINE>")

  /** rows of one artifact file: (index, escapedChunk, cui, src, code, term, accStr) */
  def writeFile(text: String, spans: Seq[Span]): Vector[(Int, String, String, String, String, String, String)] = {
    val out = Vector.newBuilder[(Int, String, String, String, String, String, String)]
    var indexNow = 0
    spans.sortBy(s => (s.start, s.end)).foreach { e =>
      if (e.start > indexNow)
        out += ((indexNow, esc(text.substring(indexNow, e.start)), "-", "-", "-", "-", "-"))
      out += ((e.start, esc(text.substring(e.start, e.end)), e.cui, e.source,
        e.code, e.term, e.acc.toString))
      indexNow = e.end
    }
    if (indexNow < text.length)
      out += ((indexNow, esc(text.substring(indexNow)), "-", "-", "-", "-", "-"))
    out.result()
  }

  def render(r: (Int, String, String, String, String, String, String)): String =
    s"${r._1}|${r._2}|${r._3}|${r._4}|${r._5}|${r._6}|${r._7}"

  /** app.py:1496-1523 read-back over a sequence of files:
    * (value, startInd, endInd, acc) with base accumulation + NEW_LINE math. */
  def readBack(files: Seq[Vector[(Int, String, String, String, String, String, String)]])
      : Vector[(String, Long, Long, Double)] = {
    val out = Vector.newBuilder[(String, Long, Long, Double)]
    var baseInd = 0L
    files.foreach { lines =>
      var lastInd = 0
      var lastChunk = ""
      var lastNl = 0
      lines.foreach { p =>
        lastInd = p._1
        lastChunk = p._2
        val nl = ("<NEW_LINE>".r.findAllIn(p._2)).length
        lastNl = nl
        if (p._3 != "-" && p._5 != "<LOST>") {
          out += ((p._6, baseInd + p._1,
            baseInd + p._1 + p._2.length - nl * ("<NEW_LINE>".length - 1),
            p._7.toDouble))
        }
      }
      baseInd = baseInd + lastInd + lastChunk.length -
        lastNl * ("<NEW_LINE>".length - 1) + 8
    }
    out.result()
  }
}

class SpanTableSpec extends GraftSuite {
  import spark.implicits._
  import PipeWriterOracle.Span

  // fixture: newline inside a gap chunk AND inside an entity chunk
  private val text = "admit note\nfor Retinal\ndetachment seen today\n\nplan follow up"
  private val spansByTry: Map[Int, Seq[Span]] = Map(
    0 -> Seq(
      Span(0, 5, "C1", "SNOMEDCT_US", "100", "Admission", 0.99),
      Span(15, 33, "C2", "SNOMEDCT_US", "200", "Retinal detachment", 0.96)),
    1 -> Seq(Span(15, 33, "C2", "SNOMEDCT_US", "200", "Retinal detachment", 0.96)),
    2 -> Seq(
      Span(0, 5, "C1", "SNOMEDCT_US", "100", "Admission", 0.9),
      Span(46, 50, "C3", "RXNORM", "<LOST>", "plan thing", 0.9), // crosswalk miss
      Span(51, 60, "C4", "SNOMEDCT_US", "400", "Follow-up", 0.9)))

  private def fixtureTiles = {
    val mentions = spansByTry.toSeq.flatMap { case (t, ss) =>
      ss.map(s => Mention("cv", 0, t, s.start, s.end, text.substring(s.start, s.end),
        s.cui, s.source, s.code, s.term, s.acc))
    }.toDS().toDF()
    val turns = Seq(("cv", 0, text)).toDF("conv_id", "turn_idx", "text")
    SpanTable.tile(mentions, turns).cache()
  }

  test("golden: rendered pipe rows == literal port of the reference writer loop") {
    // the reference's pipe line grammar (`src/app.py:1484-1491`):
    // index|chunk|cui|source|code|string|acc, acc only on entity rows
    val got = fixtureTiles
      .withColumn("line", concat_ws("|", col("idx"), col("chunk"), col("cui"),
        col("source"), col("code"), col("term"),
        when(col("is_entity"), col("acc").cast("string")).otherwise("-")))
      .orderBy("try_index", "row_idx")
      .select("try_index", "line").as[(Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toVector).toMap
    (0 to 2).foreach { t =>
      val want = PipeWriterOracle.writeFile(text, spansByTry(t))
        .map(PipeWriterOracle.render)
      assert(got(t) == want, s"try $t")
    }
    // the newline-bearing chunks really carry the escape token
    assert(got(0).exists(_.contains("<NEW_LINE>for ")))
    assert(got(1).exists(_.contains("Retinal<NEW_LINE>detachment")))
  }

  test("tiling invariant: chunks tile the text exactly (every try, every turn)") {
    val tiles = fixtureTiles
    // Σ orig_len == length(text) per artifact
    val sums = tiles.groupBy("try_index")
      .agg(sum(SpanTable.origLen(col("chunk"))).as("s"),
        min("idx").as("first"), max(col("idx") + SpanTable.origLen(col("chunk"))).as("last"))
      .collect()
    sums.foreach { r =>
      assert(r.getLong(1) == text.length && r.getInt(2) == 0 && r.getInt(3) == text.length)
    }
    // unescaped chunks concatenated in row order reproduce the text
    val rebuilt = tiles.orderBy("try_index", "row_idx")
      .select(col("try_index"),
        regexp_replace(col("chunk"), SpanTable.NewLineToken, "\n").as("c"))
      .as[(Int, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).mkString)
    (0 to 2).foreach(t => assert(rebuilt(t) == text, s"try $t"))
  }

  test("read-back: global offsets == literal port; gaps and <LOST> skipped") {
    val got = SpanTable.readBack(fixtureTiles)
      .orderBy("try_index", "start_ind")
      .select("value", "start_ind", "end_ind", "acc")
      .as[(String, Long, Long, Double)].collect().toVector
    val want = PipeWriterOracle.readBack(
      (0 to 2).map(t => PipeWriterOracle.writeFile(text, spansByTry(t))))
    assert(got == want)
    // <LOST> row excluded, gap rows excluded
    assert(!got.exists(_._1 == "plan thing"))
    // files tile fully, so base of try t is exactly t * (len + 8)
    got.foreach { case (v, s, e, _) =>
      val t = spansByTry.toSeq.flatMap { case (ti, ss) =>
        ss.filter(x => x.term == v).map(_ => ti) }
      assert(t.exists(ti => spansByTry(ti).exists(x =>
        x.term == v && ti * (text.length + 8) + x.start == s &&
          ti * (text.length + 8) + x.end == e)))
    }
  }

  test("readBack plan hygiene: tiles lineage appears once, windows share one exchange") {
    // regression for the groupBy-join-back shape that recomputed the whole
    // tiling DAG (extraction included) per branch. conv id differs from
    // fixtureTiles so the suite's cached copy can't substitute an
    // InMemoryRelation into this plan.
    val mentions = spansByTry.toSeq.flatMap { case (t, ss) =>
      ss.map(s => Mention("cp", 0, t, s.start, s.end, text.substring(s.start, s.end),
        s.cui, s.source, s.code, s.term, s.acc))
    }.toDS().toDF()
    val turns = Seq(("cp", 0, text)).toDF("conv_id", "turn_idx", "text")
    val plan = SpanTable.readBack(SpanTable.tile(mentions, turns))
      .queryExecution.executedPlan.toString
    val generates = plan.linesIterator.count(_.contains("Generate"))
    assert(generates == 1, s"tile posexplode must appear once:\n$plan")
    // exactly two hash exchanges: the span groupBy and the (conv,turn)
    // co-partitioning both windows share
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"expected 2 exchanges, plan:\n$plan")
    assert(plan.linesIterator.count(_.contains("Window")) == 2)
  }

  test("corpus: tiling holds on the real pipeline mentions (incl. zero-span turns)") {
    val cfg = Pipeline.Config(12, 48)
    val turns = Pipeline.turns(spark, cfg).toDF().cache()
    val mentions = Pipeline.mentions(turns, sources.Gazetteer.rows(cfg.nBase).toArray)
    val tiles = SpanTable.tile(mentions, turns)
    val bad = tiles.groupBy("conv_id", "turn_idx", "try_index")
      .agg(sum(SpanTable.origLen(col("chunk"))).as("tiled"))
      .join(turns.select(col("conv_id"), col("turn_idx"), length(col("text")).as("n")),
        Seq("conv_id", "turn_idx"))
      .filter(col("tiled") =!= col("n"))
    assert(bad.count() == 0)
    // every (turn, try) pair is present — even rounds with zero mentions
    assert(tiles.select("conv_id", "turn_idx", "try_index").distinct().count()
      == turns.count() * 3)
    turns.unpersist()
  }
}
