package graft

import graft.operators.{AhoCorasick, MentionExtractor}
import org.scalatest.funsuite.AnyFunSuite

import java.util.Locale
import scala.util.Random

/** The automaton on its own, without Spark: every occurrence of every
  * pattern, checked against a brute-force scan of every (position,
  * pattern) pair — a check the longest-match oracles cannot make, since a
  * missed nested-suffix output is usually shadowed by a longer match. */
class AhoCorasickSpec extends AnyFunSuite {

  /** Every (start, endExclusive, pid) whose tokens equal pattern pid's. */
  private def bruteForce(pats: Array[Array[Int]], toks: Array[Int]): Seq[(Int, Int, Int)] =
    for {
      s <- toks.indices
      (p, pid) <- pats.zipWithIndex
      if s + p.length <= toks.length && toks.slice(s, s + p.length).sameElements(p)
    } yield (s, s + p.length, pid)

  private def hits(ac: AhoCorasick, toks: Array[Int]): Seq[(Int, Int, Int)] =
    ExtractorReference.findAll(ac, toks)

  test("findAllPacked emits exactly the brute-force hit multiset") {
    val rnd = new Random(20261020L)
    (0 until 60).foreach { round =>
      val vocab = Array.tabulate(6 + rnd.nextInt(3))(i => s"w$i")
      val random = Array.fill(4 + rnd.nextInt(20)) {
        Array.fill(1 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.length)))
      }
      // nested suffixes, a shared prefix and duplicate token sequences that
      // keep distinct pattern ids
      val fixed = Array(Array("w0", "w1", "w2"), Array("w1", "w2"), Array("w2"),
        Array("w0", "w1", "w3"), Array("w1", "w2"), Array("w2"))
      val strPats = rnd.shuffle((random ++ fixed).toSeq).toArray
      val ac = AhoCorasick.build(strPats)
      val pats = strPats.map(_.map(ac.tokenId))
      (0 until 20).foreach { _ =>
        // "zz" is in no pattern (id -1, a reset); so is every 13th position
        val words = vocab :+ "zz"
        val toks = Array.tabulate(rnd.nextInt(60)) { i =>
          if (i % 13 == 12) -1 else ac.tokenId(words(rnd.nextInt(words.length)))
        }
        val got = hits(ac, toks).sorted
        val want = bruteForce(pats, toks).sorted
        assert(got == want, s"round $round toks=${toks.toSeq}")
      }
    }
  }

  test("a nested suffix emits every output on its dictionary-suffix chain") {
    val ac = AhoCorasick.build(Array(Array("a", "b", "c"), Array("b", "c"),
      Array("c"), Array("b", "c"), Array("x", "b")))
    val toks = Array("x", "a", "b", "c").map(ac.tokenId)
    assert(hits(ac, toks).sorted ==
      Seq((1, 4, 0), (2, 4, 1), (2, 4, 3), (3, 4, 2)))
  }

  test("tokenIdRange == tokenId of the lowercased, stemmed substring") {
    val ac = AhoCorasick.build(Array(Array("insulin", "pens"), Array("insulin", "pen"),
      Array("größe", "glass"), Array("glas"), Array("a1c")))
    val text = "INSULIN Pens insulins Größe GLASS glass a1c A1Cs größes"
    val (starts, ends, n) = MentionExtractor.tokenRanges(text)
    (0 until n).foreach { i =>
      Seq(false, true).foreach { stem =>
        val t = text.substring(starts(i), ends(i)).toLowerCase(Locale.ROOT)
        val want = ac.tokenId(if (stem) MentionExtractor.stemToken(t) else t)
        assert(ac.tokenIdRange(text, starts(i), ends(i), stem) == want, s"$t stem=$stem")
      }
    }
    assert(ac.tokenIdRange(text, 0, 7, stem = false) == ac.tokenId("insulin"))
    assert(ac.tokenId("zz") == -1)
  }

  test("findAllPacked refuses a segment past the TokBits packing bound") {
    val ac = AhoCorasick.build(Array(Array("a")))
    val a = ac.tokenId("a")
    val atBound = Array.fill((1 << AhoCorasick.TokBits) - 1)(a)
    assert(ac.findAllPacked(atBound).size == atBound.length)
    intercept[IllegalArgumentException](
      ac.findAllPacked(new Array[Int](1 << AhoCorasick.TokBits)))
  }
}
