package graft

import graft.model.{Mention, Segment}
import graft.operators.{AhoCorasick, MentionExtractor}
import graft.operators.MentionExtractor.{Payload, Variant}

import scala.collection.mutable

/** The unpacked reference form of the extractor's per-segment walk: one
  * variant's own automaton over substring-tokenized text, hits as tuples,
  * resolved by a stable tuple sort. Kept as the executable spec the packed
  * hot path ([[MentionExtractor.extract]]) is equality-checked against.
  * No main code uses it. */
object ExtractorReference {

  /** Every match of `toks` (start, endExclusive, patternId), overlaps
    * included, unpacked from [[AhoCorasick.findAllPacked]]. */
  def findAll(ac: AhoCorasick, toks: Array[Int]): Seq[(Int, Int, Int)] = {
    val packed = ac.findAllPacked(toks)
    (0 until packed.size).map { i =>
      val h = packed.buf(i)
      (AhoCorasick.hitStart(h), AhoCorasick.hitEnd(h), AhoCorasick.hitPid(h))
    }
  }

  /** Match one segment with one variant; offsets in TURN coordinates. */
  def matchSegment(seg: Segment, vIdx: Int, variant: Variant): Iterator[Mention] = {
    val (toks0, starts, ends) = MentionExtractor.tokenize(seg.seg_text)
    val toks = if (variant.stem) toks0.map(MentionExtractor.stemToken) else toks0
    sweep(seg, vIdx, findAll(variant.ac, toks.map(variant.ac.tokenId)),
      variant.payloads, variant.acc, starts, ends)
  }

  /** Longest-match-wins, leftmost-first, non-overlapping resolution of a
    * raw hit list. */
  private def sweep(seg: Segment, vIdx: Int, hits: Seq[(Int, Int, Int)],
      payloads: Array[Payload], acc: Double, starts: Array[Int],
      ends: Array[Int]): Iterator[Mention] = {
    val sorted = hits.sortBy { case (s, e, pid) => (s, -e, payloads(pid).ttyRank) }
    val out = new mutable.ArrayBuffer[Mention]
    var lastEnd = -1 // token index
    sorted.foreach { case (ts, te, pid) =>
      if (ts >= lastEnd) {
        val p = payloads(pid)
        out += Mention(seg.conv_id, seg.turn_idx, vIdx,
          seg.seg_start + starts(ts), seg.seg_start + ends(te - 1),
          seg.seg_text.substring(starts(ts), ends(te - 1)),
          p.cui, p.source, p.code, p.alias, acc)
        lastEnd = te
      }
    }
    out.iterator
  }
}
