package graft

import graft.model.{GazRow, Mention}
import graft.operators.{MentionExtractor, Segmentation}
import graft.sources.{Gazetteer, SynthTranscripts}

import java.util.Locale

/** Independent naive O(n*m) oracle matcher: no trie, no shared match code —
  * scans every token position against every alias (FIXTURES.md §3 oracle). */
object NaiveMatcher {
  def simpleTokens(text: String): Vector[(String, Int, Int)] = {
    val re = "[A-Za-z0-9]+".r
    re.findAllMatchIn(text).map(m => (m.matched.toLowerCase, m.start, m.end)).toVector
  }
  def stem(t: String): String =
    if (t.length > 3 && t.endsWith("s") && !t.endsWith("ss")) t.dropRight(1) else t

  def rank(tty: String): Int = tty match { case "PT" => 0; case "FN" => 1; case _ => 2 }

  /** variant rules identical to MentionExtractor's spec (not its code). */
  def mentions(convId: String, turnIdx: Int, text: String,
      gaz: Vector[GazRow]): Vector[Mention] = {
    (0 to 2).toVector.flatMap { v =>
      val rows = if (v == 1) gaz.filter(_.ispref == "Y") else gaz
      val doStem = v == 2
      // alias -> best payload by (ttyRank, cui)
      val aliasMap: Map[Vector[String], GazRow] = rows
        .map(r => (simpleTokens(r.str).map(t => if (doStem) stem(t._1) else t._1), r))
        .filter(_._1.nonEmpty)
        .groupBy(_._1)
        .view.mapValues(_.map(_._2).minBy(r => (rank(r.tty), r.cui))).toMap
      val maxLen = if (aliasMap.isEmpty) 0 else aliasMap.keys.map(_.length).max
      // segment exactly like the pipeline, then scan each segment
      Segmentation.segmentTextOracle(text).flatMap { case (segOff, segText) =>
        val toks = simpleTokens(segText)
        val norm = toks.map(t => if (doStem) stem(t._1) else t._1)
        val out = Vector.newBuilder[Mention]
        var i = 0
        while (i < toks.length) {
          var bestLen = 0
          var best: GazRow = null
          var len = math.min(maxLen, toks.length - i)
          while (len >= 1) {
            if (bestLen == 0) {
              aliasMap.get(norm.slice(i, i + len)) match {
                case Some(r) => bestLen = len; best = r
                case None    => ()
              }
            }
            len -= 1
          }
          if (bestLen > 0) {
            val s = toks(i)._2; val e = toks(i + bestLen - 1)._3
            out += Mention(convId, turnIdx, v, segOff + s, segOff + e,
              segText.substring(s, e), best.cui, best.sab, best.code, best.str,
              if (doStem) 0.9 else 0.99)
            i += bestLen
          } else i += 1
        }
        out.result()
      }
    }
  }
}

class MentionSpec extends GraftSuite {
  import spark.implicits._

  test("longest match wins: 'acute renal failure' beats 'renal failure'") {
    val gaz = Gazetteer.rows(48)
    val text = "patient with acute renal failure today"
    val got = NaiveMatcher.mentions("c", 0, text, gaz)
      .filter(_.try_index == 0)
    assert(got.map(_.surface) === Vector("acute renal failure"))
  }

  test("Spark extractor == naive oracle on synthetic corpus") {
    import spark.implicits._
    val nBase = 48
    val gaz = Gazetteer.rows(nBase)
    val gazB = spark.sparkContext.broadcast(gaz.toArray)
    val turns = SynthTranscripts.turns(spark, 40, nBase).cache()
    val got = MentionExtractor
      .extract(Segmentation.segments(turns.toDF()), gazB)
      .collect().toSet
    val expected = turns.collect().flatMap { t =>
      NaiveMatcher.mentions(t.conv_id, t.turn_idx, t.text, gaz)
    }.toSet
    assert(got.nonEmpty, "no mentions found at all")
    val missing = expected -- got
    val extra = got -- expected
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.take(5)} extra=${extra.take(5)}")
  }

  test("mention offsets index the original turn text exactly") {
    import spark.implicits._
    val nBase = 48
    val gazB = spark.sparkContext.broadcast(Gazetteer.rows(nBase).toArray)
    val turns = SynthTranscripts.turns(spark, 25, nBase).cache()
    val textByTurn = turns.collect().map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
    val ms = MentionExtractor.extract(Segmentation.segments(turns.toDF()), gazB).collect()
    assert(ms.nonEmpty)
    ms.foreach { m =>
      val full = textByTurn((m.conv_id, m.turn_idx))
      assert(full.substring(m.start, m.end) === m.surface)
    }
  }

  test("stemmed variant (try 2) catches pluralized surfaces the strict one misses") {
    val gaz = Gazetteer.rows(48)
    val text = "noted cardiac infarctions during exam"
    val byTry = NaiveMatcher.mentions("c", 0, text, gaz).groupBy(_.try_index)
    assert(!byTry.contains(0))
    assert(byTry(2).map(_.surface) === Vector("cardiac infarctions"))
  }

  test("gazFingerprint: distinct for every payload-relevant field change") {
    // The automaton cache is keyed by this fingerprint — two gazetteers
    // colliding means a silently-wrong cached automaton (source/code
    // payloads or variant-1 filtering from the OTHER gazetteer).
    val base = Array(GazRow("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"))
    def fp(g: Array[GazRow]) = MentionExtractor.gazFingerprint(g)
    val variants = Seq(
      base.map(_.copy(cui = "C2")),
      base.map(_.copy(sab = "RXNORM")),
      base.map(_.copy(tty = "SY")),
      base.map(_.copy(ispref = "N")),
      base.map(_.copy(code = "999")),
      base.map(_.copy(str = "renal disease")),
      // commutative str+tty collision: swapped values must NOT collide
      base.map(_.copy(tty = base(0).str, str = base(0).tty)))
    variants.foreach(v => assert(fp(v) != fp(base), v.toSeq.toString))
    assert(variants.map(fp).distinct.size == variants.size)
  }

  test("automaton cache: LRU-bounded, recent gazetteers survive") {
    val built = (0 until 5).map { g =>
      val gaz = Array(GazRow(s"CX$g", "SNOMEDCT_US", "PT", "Y", s"K$g", s"term$g"))
      val fp = MentionExtractor.gazFingerprint(gaz)
      (fp, gaz, (0 to 2).map(v => MentionExtractor.variantFor(fp, gaz, v)))
    }
    // a cached variant is returned as the SAME instance, an evicted one is
    // rebuilt as a new one. Newest first: a hit only reorders survivors,
    // and the eviction a miss causes drops a variant already checked.
    val cached = for (g <- 4 to 0 by -1; v <- 2 to 0 by -1) yield {
      val (fp, gaz, vs) = built(g)
      MentionExtractor.variantFor(fp, gaz, v) eq vs(v)
    }
    assert(cached.count(identity) <= MentionExtractor.CacheCapacity)
    // most-recent gazetteer fully cached; the first of the five evicted
    assert(cached.take(3).forall(identity))
    assert(!cached.last)
    // hot-path behavior unchanged: a hit returns the SAME instance
    val (fp4, gaz4, _) = built(4)
    val again = MentionExtractor.variantFor(fp4, gaz4, 0)
    assert(again eq MentionExtractor.variantFor(fp4, gaz4, 0))
  }

  test("merged v0/v1 extractor walk == three independent variant walks") {
    import graft.model.{GazRow, Segment}
    // gazetteer exercising the subset relation: ISPREF and non-ISPREF rows
    // for the same pattern (payload resolution differs between variants),
    // an SY-only surface (variant 1 must MISS it), and an ambiguous alias
    val gaz = Array(
      GazRow("C2", "SNOMEDCT_US", "SY", "N", "200", "renal failure"),
      GazRow("C1", "SNOMEDCT_US", "PT", "Y", "100", "renal failure"),
      GazRow("C3", "SNOMEDCT_US", "SY", "N", "300", "kidney stones"),
      GazRow("C4", "SNOMEDCT_US", "PT", "Y", "400", "acute renal failure"))
    val segs = Seq(
      Segment("cv", 0, 0, 0, "patient has acute renal failure and kidney stones"),
      Segment("cv", 1, 0, 0, "renal failure noted; kidney stone present"))
    val gazB = spark.sparkContext.broadcast(gaz)
    val merged = MentionExtractor.extract(segs.toDS(), gazB)
      .collect().map(_.toString).sorted.toSeq
    // the spec path: each variant with its OWN automaton, walked by the
    // unpacked reference form
    val fp = MentionExtractor.gazFingerprint(gaz)
    val independent = segs.flatMap { s =>
      (0 to 2).flatMap(v =>
        ExtractorReference.matchSegment(s, v,
          MentionExtractor.variantFor(fp, gaz, v)))
    }.map(_.toString).sorted
    assert(merged == independent && merged.nonEmpty)
    // and variant 1 really does miss the SY-only surface
    val m1codes = MentionExtractor.extract(segs.toDS(), gazB)
      .filter($"try_index" === 1).select($"code").as[String].collect().toSet
    assert(!m1codes.contains("300") && m1codes.contains("400"))
  }

  test("extraction lowercases under Locale.ROOT whatever the default locale") {
    // Under a Turkish default locale "I".toLowerCase() is a dotless "ı": a
    // pattern built that way never matches ASCII text, which the hot path
    // lowercases by ASCII rule. The rows are unique to this test, so the
    // content-keyed automaton cache holds no variant built under another
    // locale.
    val gaz = Array(
      GazRow("CLOCALE1", "SNOMEDCT_US", "PT", "Y", "LOC1", "Insulin Lispro Loctest"),
      GazRow("CLOCALE2", "SNOMEDCT_US", "PT", "Y", "LOC2", "insülin aspart loctest"))
    val text = "gave insulin lispro loctest then Insülin Aspart Loctest"
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      val fp = MentionExtractor.gazFingerprint(gaz)
      Seq(0, 2).foreach { v =>
        val variant = MentionExtractor.variantFor(fp, gaz, v)
        val (starts, ends, n) = MentionExtractor.tokenRanges(text)
        val ids = Array.tabulate(n)(i =>
          variant.ac.tokenIdRange(text, starts(i), ends(i), variant.stem))
        val codes = ExtractorReference.findAll(variant.ac, ids)
          .map(h => variant.payloads(h._3).code)
        assert(codes.sorted == Seq("LOC1", "LOC2"), s"variant $v")
      }
    } finally Locale.setDefault(saved)
  }
}
