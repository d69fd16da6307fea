package graft.operators

import scala.collection.mutable

/** Token-level Aho-Corasick automaton (SURVEY.md §2.9 M1): the Spark-native
  * replacement for the reference's MedCAT dictionary NER
  * (`cat.get_entities`, `src/small_tasks/dhp_fhir_tool1_v1.py:203`).
  * Patterns are normalized token sequences from the broadcast gazetteer;
  * matching runs per partition inside a narrow flatMap — the automaton is
  * built once per executor (see [[AutomatonCache]]) and shared.
  *
  * Design for 100 TB: the automaton is O(gazetteer) memory, built from a
  * broadcast variable; matching is O(tokens) per row with no shuffle. Tokens
  * are interned to Int ids so goto edges are Int->Int hash lookups.
  */
final class AhoCorasick private (
    val tokenIds: java.util.HashMap[String, Integer],
    gotoEdges: Array[mutable.LongMap[Int]],
    fail: Array[Int],
    outputs: Array[List[Int]], // node -> pattern ids ending here
    val patternLen: Array[Int]) {

  @inline private def step(state: Int, tok: Int): Int = {
    // one map lookup per visited state (r7; the contains+getOrElse form
    // paid two)
    var s = state
    var n = gotoEdges(s).getOrElse(tok.toLong, -1)
    while (s != 0 && n == -1) {
      s = fail(s)
      n = gotoEdges(s).getOrElse(tok.toLong, -1)
    }
    if (n == -1) 0 else n
  }

  /** Run over a token-id sequence; emit every match (overlaps included —
    * resolution is the caller's longest-match policy) as a packed
    * start | endExclusive | patternId long ([[AhoCorasick.packHit]]),
    * allocation-free (r7 hot path). Unknown tokens (-1) reset the state.
    * Segment token counts are bounded by the ≤10-line chunking upstream;
    * the packing limits are asserted, not assumed. */
  def findAllPacked(toks: Array[Int]): LongBuf = {
    require(toks.length < (1 << AhoCorasick.TokBits),
      s"segment of ${toks.length} tokens exceeds the 2^${AhoCorasick.TokBits}" +
        " hit-packing bound — upstream ≤10-line segmentation should make" +
        " this impossible")
    val hits = new LongBuf(8)
    var s = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t < 0) s = 0
      else {
        s = step(s, t)
        var o = s
        while (o != 0) {
          var out = outputs(o)
          while (out.nonEmpty) {
            val pid = out.head
            hits.add(AhoCorasick.packHit(i + 1 - patternLen(pid), i + 1, pid))
            out = out.tail
          }
          o = fail(o)
        }
      }
      i += 1
    }
    hits
  }

  def tokenId(tok: String): Int = {
    val v = tokenIds.get(tok)
    if (v == null) -1 else v.intValue()
  }

  // ---- allocation-free token interning (r7) ----
  // open-addressing mirror of tokenIds: probe by the ASCII-lowercased char
  // range of the ORIGINAL text, so the per-token substring+toLowerCase
  // allocations (which profiled at ~10% of pipeline executor samples)
  // happen only on the rare non-ASCII fallback.
  private val probeCap = {
    var c = 16
    while (c < tokenIds.size * 2 + 1) c <<= 1
    c
  }
  private val probeKeys = new Array[String](probeCap)
  private val probeIds = new Array[Int](probeCap)
  locally {
    val it = tokenIds.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      var h = 0
      var i = 0
      while (i < k.length) { h = 31 * h + k.charAt(i); i += 1 }
      var slot = h & (probeCap - 1)
      while (probeKeys(slot) != null) slot = (slot + 1) & (probeCap - 1)
      probeKeys(slot) = k
      probeIds(slot) = e.getValue.intValue()
    }
  }

  @inline private def lowerAscii(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** Token id of `text[s0, e0)` lowercased (and plural-stemmed when `stem`),
    * without allocating the token string on the all-ASCII path. The
    * non-ASCII fallback reproduces the legacy substring semantics exactly. */
  def tokenIdRange(text: String, s0: Int, e0: Int, stem: Boolean): Int = {
    var ascii = true
    var i = s0
    while (ascii && i < e0) { if (text.charAt(i) >= 128) ascii = false; i += 1 }
    if (!ascii) {
      val t0 = text.substring(s0, e0).toLowerCase
      return tokenId(if (stem) MentionExtractor.stemToken(t0) else t0)
    }
    var e = e0
    if (stem && e0 - s0 > 3 && lowerAscii(text.charAt(e0 - 1)) == 's' &&
        lowerAscii(text.charAt(e0 - 2)) != 's') e = e0 - 1
    var h = 0
    i = s0
    while (i < e) { h = 31 * h + lowerAscii(text.charAt(i)); i += 1 }
    var slot = h & (probeCap - 1)
    while (true) {
      val k = probeKeys(slot)
      if (k == null) return -1
      if (k.length == e - s0) {
        var j = 0
        var eq = true
        while (eq && j < k.length) {
          if (k.charAt(j) != lowerAscii(text.charAt(s0 + j))) eq = false
          j += 1
        }
        if (eq) return probeIds(slot)
      }
      slot = (slot + 1) & (probeCap - 1)
    }
    -1 // unreachable
  }
}

/** Minimal growable long array (hot-path hit buffer — ArrayBuffer[(Int,Int,
  * Int)] boxed three Integers + a Tuple3 per hit). */
final class LongBuf(initialCap: Int) {
  var buf = new Array[Long](initialCap)
  var size = 0
  def add(v: Long): Unit = {
    if (size == buf.length) buf = java.util.Arrays.copyOf(buf, size * 2)
    buf(size) = v
    size += 1
  }
}

object AhoCorasick {

  // hit packing: start(19b) << 41 | endExclusive(19b) << 22 | pid(22b).
  // Token indices are 19-bit so the SORT key (same widths + a 2-bit tty
  // rank, see MentionExtractor.sweepPacked) stays positive under signed
  // long ordering.
  val TokBits = 19
  val PidBits = 22
  @inline def packHit(s: Int, e: Int, pid: Int): Long =
    (s.toLong << (TokBits + PidBits)) | (e.toLong << PidBits) | pid.toLong
  @inline def hitStart(h: Long): Int = (h >>> (TokBits + PidBits)).toInt
  @inline def hitEnd(h: Long): Int = ((h >>> PidBits) & ((1 << TokBits) - 1)).toInt
  @inline def hitPid(h: Long): Int = (h & ((1 << PidBits) - 1)).toInt

  /** Build from token-sequence patterns. Duplicate patterns allowed; each
    * keeps its own pattern id (payload disambiguation happens upstream). */
  def build(patterns: Array[Array[String]]): AhoCorasick = {
    require(patterns.length < (1 << PidBits),
      s"${patterns.length} patterns exceed the 2^$PidBits hit-packing bound")
    val tokenIds = new java.util.HashMap[String, Integer]
    def intern(t: String): Int = {
      val v = tokenIds.get(t)
      if (v != null) v.intValue()
      else { val id = tokenIds.size(); tokenIds.put(t, id); id }
    }
    val gotoEdges = mutable.ArrayBuffer(mutable.LongMap.empty[Int])
    val outputsB = mutable.ArrayBuffer(List.empty[Int])
    // trie insert
    patterns.zipWithIndex.foreach { case (pat, pid) =>
      var node = 0
      pat.foreach { tok =>
        val t = intern(tok).toLong
        node = gotoEdges(node).get(t) match {
          case Some(next) => next
          case None =>
            gotoEdges += mutable.LongMap.empty[Int]
            outputsB += Nil
            val nn = gotoEdges.length - 1
            gotoEdges(node).update(t, nn)
            nn
        }
      }
      outputsB(node) = pid :: outputsB(node)
    }
    // BFS failure links
    val n = gotoEdges.length
    val fail = new Array[Int](n)
    val queue = mutable.Queue.empty[Int]
    gotoEdges(0).foreach { case (_, child) => fail(child) = 0; queue += child }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      gotoEdges(u).foreach { case (tok, v) =>
        var f = fail(u)
        while (f != 0 && !gotoEdges(f).contains(tok)) f = fail(f)
        fail(v) = gotoEdges(f).getOrElse(tok, 0)
        if (fail(v) == v) fail(v) = 0
        queue += v
      }
    }
    new AhoCorasick(tokenIds, gotoEdges.toArray, fail,
      outputsB.toArray.map(_.reverse), patterns.map(_.length))
  }
}
