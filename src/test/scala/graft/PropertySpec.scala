package graft

import graft.operators.{ConnectedComponents, Segmentation}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5; scalacheck from build.sbt).
  * Pure-function properties run under forAll; the Spark CC check batches
  * many random graphs into ONE job (per-sample Spark jobs would be
  * pathologically slow). Seeded: failures reproduce. */
class PropertySpec extends GraftSuite {

  private def check(name: String, p: Prop, n: Int = 50): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n)
        .withInitialSeed(Seed(42L)), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val lineGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.const(' '))).map(_.mkString)
  private val textGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      6 -> lineGen, 2 -> Gen.const(""), 1 -> Gen.const("")))
      .map(_.mkString("\n"))

  test("fixed-arity DetHash.h overloads are bit-identical to the varargs fold " +
      "(r7 hot-path rewrite guard)") {
    import graft.util.DetHash
    check("dethash", Prop.forAll(Gen.listOfN(6, Gen.long)) { xs =>
      val Seq(a, b, c, d, e, f) = xs: @unchecked
      DetHash.h(a, b) == DetHash.h(Seq(a, b): _*) &&
        DetHash.h(a, b, c) == DetHash.h(Seq(a, b, c): _*) &&
        DetHash.h(a, b, c, d) == DetHash.h(Seq(a, b, c, d): _*) &&
        DetHash.h(a, b, c, d, e) == DetHash.h(Seq(a, b, c, d, e): _*) &&
        DetHash.h(a, b, c, d, e, f) == DetHash.h(Seq(a, b, c, d, e, f): _*)
    })
  }

  test("synth generator rewrites are byte-identical: convId zero-pad and " +
      "streamed turnText match the original formatting forms (r7 guard)") {
    import graft.sources.SynthTranscripts._
    check("convid", Prop.forAll(Gen.chooseNum(0L, 10000000L)) { c =>
      convId(c) == f"conv_$c%06d"
    })
    // the original turnText form, verbatim (take/drop/mkString over arrays)
    def turnTextOld(c: Long, t: Int, surfaces: Vector[String]): String = {
      import graft.util.DetHash._
      val nLines = 1 + pos(h(Seq(c, t.toLong, 1L): _*), 18)
      val sb = new StringBuilder
      var j = 0
      while (j < nLines) {
        val nWords = 4 + pos(h(Seq(c, t.toLong, j.toLong, 2L): _*), 5)
        val words = Array.tabulate(nWords)(w =>
          fillers(pos(h(Seq(c, t.toLong, j.toLong, 3L, w.toLong): _*), fillers.length)))
        val line =
          if (pos(h(Seq(c, t.toLong, j.toLong, 4L): _*), 10) < 4 && surfaces.nonEmpty) {
            val si = pos(h(Seq(c, t.toLong, j.toLong, 5L): _*), surfaces.length)
            val s0 = surfaces(si)
            val s = if (pos(h(Seq(c, t.toLong, j.toLong, 7L): _*), 5) == 0) s0 + "s" else s0
            val at = pos(h(Seq(c, t.toLong, j.toLong, 8L): _*), nWords + 1)
            (words.take(at) ++ Array(s) ++ words.drop(at)).mkString(" ")
          } else words.mkString(" ")
        sb.append(line)
        if (j < nLines - 1)
          sb.append(if (pos(h(Seq(c, t.toLong, j.toLong, 14L): _*), 7) == 0) "\n\n" else "\n")
        j += 1
      }
      sb.toString
    }
    val surfaces = graft.sources.Gazetteer.plantableSurfaces(48)
    check("turntext", Prop.forAll(
      Gen.chooseNum(0L, 5000L), Gen.chooseNum(0, 200)) { (c, t) =>
      turnText(c, t, surfaces) == turnTextOld(c, t, surfaces) &&
        turnText(c, t, Vector.empty) == turnTextOld(c, t, Vector.empty)
    })
  }

  test("segmentation oracle tiles the text: every segment matches its offset substring") {
    check("tiling", Prop.forAll(textGen) { text =>
      Segmentation.segmentTextOracle(text).forall { case (off, seg) =>
        off >= 0 && off + seg.length <= text.length &&
          text.substring(off, off + seg.length) == seg
      }
    })
  }

  test("span tiling + read-back invariants hold on 30 random (text, spans) cases (one Spark job)") {
    import graft.model.Mention
    import graft.operators.SpanTable
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // random newline-bearing texts with random non-overlapping spans per try
    val cases = (0 until 30).map { i =>
      val text = (0 until 3 + rnd.nextInt(40)).map { _ =>
        if (rnd.nextInt(6) == 0) "\n" else ('a' + rnd.nextInt(26)).toChar.toString
      }.mkString
      val spans = (0 to 2).flatMap { t =>
        var pos = 0
        val out = Vector.newBuilder[(Int, Int, Int)]
        while (pos < text.length - 1 && rnd.nextInt(3) > 0) {
          val s = pos + rnd.nextInt(math.max(1, text.length - pos - 1))
          val e = math.min(text.length, s + 1 + rnd.nextInt(6))
          if (e > s) { out += ((t, s, e)); pos = e } else pos = text.length
        }
        out.result()
      }
      (s"c$i", text, spans)
    }
    val mentions = cases.flatMap { case (cid, text, spans) =>
      spans.map { case (t, s, e) =>
        Mention(cid, 0, t, s, e, text.substring(s, e), "C1", "SRC", "X", "name", 0.9) }
    }.toDS().toDF()
    val turns = cases.map { case (cid, text, _) => (cid, 0, text) }
      .toDF("conv_id", "turn_idx", "text")
    val tiles = SpanTable.tile(mentions, turns).cache()
    // invariant 1: per artifact, chunks tile [0, len) exactly
    val lens = cases.map { case (cid, text, _) => cid -> text.length }.toMap
    tiles.groupBy("conv_id", "try_index")
      .agg(sum(SpanTable.origLen(col("chunk"))).as("s")).collect()
      .foreach(r => assert(r.getLong(2) == lens(r.getString(0)).toLong, r.toString))
    // invariant 2: read-back start == try * (len + 8) + span start, for all
    val got = SpanTable.readBack(tiles)
      .select("conv_id", "try_index", "start_ind", "end_ind")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val want = cases.flatMap { case (cid, text, spans) =>
      spans.map { case (t, s, e) =>
        (cid, t, (t * (text.length + 8) + s).toLong, (t * (text.length + 8) + e).toLong) }
    }.toSet
    assert(got == want)
    tiles.unpersist()
  }

  test("connected components == driver union-find on 40 random graphs (one Spark job)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val graphs = (0 until 40).map { g =>
      val nNodes = 2 + rnd.nextInt(12)
      val nEdges = rnd.nextInt(16)
      val edges = Seq.fill(nEdges)((rnd.nextInt(nNodes), rnd.nextInt(nNodes)))
      (g, nNodes, edges)
    }
    // namespaced node id: graph*1000 + node — all graphs in one edge table
    val allEdges = graphs.flatMap { case (g, nNodes, edges) =>
      val self = (0 until nNodes).map(n => (g * 1000L + n, g * 1000L + n))
      self ++ edges.map { case (u, v) => (g * 1000L + u, g * 1000L + v) }
    }.toDF("src", "dst")
    val got = ConnectedComponents.run(allEdges)
      .as[(Long, Long)].collect().toMap
    // the star-contraction fallback must reach the SAME fixpoint on the
    // same composite graph (it is the at-scale path for high diameters —
    // ConnectedComponentsSpec covers the auto-switch; this covers answer
    // equality on 40 random topologies in one job)
    val gotStar = ConnectedComponents.runStarContraction(allEdges)
      .as[(Long, Long)].collect().toMap
    assert(gotStar == got)
    graphs.foreach { case (g, nNodes, edges) =>
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      (0 until nNodes).foreach { n =>
        val expectComp = (0 until nNodes)
          .filter(m => find(m) == find(n)).map(m => g * 1000L + m).min
        assert(got(g * 1000L + n) == expectComp, s"graph $g node $n")
      }
    }
  }
}
