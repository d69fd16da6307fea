package graft.operators

import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Token-level Aho-Corasick automaton (SURVEY.md §2.9 M1): the Spark-native
  * replacement for the reference's MedCAT dictionary NER
  * (`cat.get_entities`, `src/small_tasks/dhp_fhir_tool1_v1.py:203`).
  * Patterns are normalized token sequences from the broadcast gazetteer;
  * matching runs per partition inside a narrow flatMap — the automaton is
  * built once per executor (see [[AutomatonCache]]) and shared.
  *
  * Design for 100 TB: the automaton is O(gazetteer) memory, built from a
  * broadcast variable; matching is O(tokens) per row with no shuffle. Tokens
  * are interned to Int ids (an open-addressing table over one char pool),
  * and the automaton is flat primitive arrays:
  *   - the root's goto edges are a dense row indexed by token id (0 = no
  *     child) — after a miss nearly every token lands there;
  *   - every other goto edge is one slot of a single open-addressing table
  *     keyed `node << 32 | token`. Each state keeps a 64-bit mask of its
  *     children's token hashes next to its fail link, so a state with no
  *     child on the token (most probes on sparse text) skips the table;
  *   - outputs are CSR (`outStart`/`outPids`), and each state's dictionary
  *     suffix link names the nearest proper suffix state that has outputs,
  *     so the output walk visits only states that emit.
  */
final class AhoCorasick private (
    rootNext: Array[Int],
    edgeKeys: Array[Long], // AhoCorasick.NoEdge = empty slot
    edgeVals: Array[Int],
    nodes: Array[Long], // 2 a node: child-token mask, fail | firstOut << 32
    outStart: Array[Int], // node -> [outStart(node), outStart(node + 1))
    outPids: Array[Int], // of outPids: the pattern ids ending at node
    val patternLen: Array[Int],
    vocab: Array[Int], // token interning, 4 ints a slot: hash, pool offset,
    pool: Array[Char]) { // length (-1 = empty slot), id; chars in pool

  private val edgeShift = 64 - Integer.numberOfTrailingZeros(edgeKeys.length)
  private val edgeMask = edgeKeys.length - 1
  private val vocabShift = 32 - Integer.numberOfTrailingZeros(vocab.length / 4)
  private val vocabMask = vocab.length / 4 - 1

  @inline private def child(s: Int, tok: Int): Int = {
    val key = (s.toLong << 32) | tok
    var slot = AhoCorasick.edgeSlot(key, edgeShift)
    while (true) {
      val k = edgeKeys(slot)
      if (k == key) return edgeVals(slot)
      if (k == AhoCorasick.NoEdge) return 0
      slot = (slot + 1) & edgeMask
    }
    0 // unreachable
  }

  @inline private def fail(s: Int): Int = nodes(2 * s + 1).toInt
  /** `s` if it has outputs, else its dictionary suffix link (0 = none). */
  @inline private def firstOut(s: Int): Int = (nodes(2 * s + 1) >>> 32).toInt

  @inline private def step(state: Int, tok: Int): Int = {
    val bit = AhoCorasick.tokenBit(tok)
    var s = state
    while (s != 0) {
      if ((nodes(2 * s) & bit) != 0) {
        val n = child(s, tok)
        if (n != 0) return n
      }
      s = fail(s)
    }
    if (tok < rootNext.length) rootNext(tok) else 0
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
        var o = firstOut(s)
        while (o != 0) {
          var j = outStart(o)
          val end = outStart(o + 1)
          while (j < end) {
            val pid = outPids(j)
            hits.add(AhoCorasick.packHit(i + 1 - patternLen(pid), i + 1, pid))
            j += 1
          }
          o = firstOut(fail(o))
        }
      }
      i += 1
    }
    hits
  }

  def tokenId(tok: String): Int = probe(tok, 0, tok.length, tok.hashCode, ascii = false)

  @inline private def lowerAscii(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** Id of the token `text[s0, e)` whose String.hashCode is `h`; with
    * `ascii` the text's chars are ASCII-lowercased before comparing. One
    * slot holds the hash, so only a matching hash reads the pooled chars. */
  private def probe(text: String, s0: Int, e: Int, h: Int, ascii: Boolean): Int = {
    var slot = AhoCorasick.vocabSlot(h, vocabShift)
    while (true) {
      val b = slot << 2
      val len = vocab(b + 2)
      if (len < 0) return -1
      if (vocab(b) == h && len == e - s0) {
        val off = vocab(b + 1)
        var j = 0
        var eq = true
        while (eq && j < len) {
          val c = text.charAt(s0 + j)
          if (pool(off + j) != (if (ascii) lowerAscii(c) else c)) eq = false
          j += 1
        }
        if (eq) return vocab(b + 3)
      }
      slot = (slot + 1) & vocabMask
    }
    -1 // unreachable
  }

  /** Token id of `text[s0, e0)` lowercased (and plural-stemmed when `stem`),
    * without allocating the token string on the all-ASCII path: one pass
    * over the chars both hashes them and checks they are ASCII. The
    * non-ASCII fallback reproduces the substring semantics exactly. */
  def tokenIdRange(text: String, s0: Int, e0: Int, stem: Boolean): Int = {
    var e = e0
    if (stem && e0 - s0 > 3 && lowerAscii(text.charAt(e0 - 1)) == 's' &&
        lowerAscii(text.charAt(e0 - 2)) != 's') e = e0 - 1
    var h = 0
    var bits = 0
    var i = s0
    while (i < e) {
      val c = text.charAt(i)
      bits |= c
      h = 31 * h + lowerAscii(c)
      i += 1
    }
    if (bits >= 128) {
      val t0 = text.substring(s0, e0).toLowerCase(Locale.ROOT)
      tokenId(if (stem) MentionExtractor.stemToken(t0) else t0)
    } else probe(text, s0, e, h, ascii = true)
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

  // edge-table keys are node(≥1) << 32 | token(≥0), never negative
  private val NoEdge = -1L
  @inline private def edgeSlot(key: Long, shift: Int): Int =
    ((key * 0x9E3779B97F4A7C15L) >>> shift).toInt
  /** A token's bit in a node's child-token mask: a node whose mask lacks
    * it has no child on that token, and skips the edge-table probe. */
  @inline private def tokenBit(tok: Int): Long = 1L << ((tok * 0x9E3779B9) >>> 26)
  @inline private def vocabSlot(h: Int, shift: Int): Int = (h * 0x9E3779B9) >>> shift

  /** Smallest power of two ≥ 16 that holds `n` keys at load ≤ 1/2. */
  private def tableCap(n: Int): Int = {
    var c = 16
    while (c < n * 2 + 1) c <<= 1
    c
  }

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
    // trie insert into build-time scratch: one map of node << 32 | token
    // edges, and each node's parent and token (nodes are numbered in
    // creation order, so a parent's number is below its children's)
    val edges = mutable.LongMap.empty[Int]
    val parent = mutable.ArrayBuilder.make[Int]; parent += 0
    val label = mutable.ArrayBuilder.make[Int]; label += -1
    var n = 1
    val endNode = new Array[Int](patterns.length)
    var pid = 0
    while (pid < patterns.length) {
      var node = 0
      patterns(pid).foreach { tok =>
        val t = intern(tok)
        val key = (node.toLong << 32) | t
        val next = edges.getOrElse(key, 0)
        node = if (next != 0) next else {
          edges.update(key, n)
          parent += node
          label += t
          n += 1
          n - 1
        }
      }
      endNode(pid) = node
      pid += 1
    }
    val par = parent.result()
    val lab = label.result()
    // BFS order by a counting sort on depth
    val dep = new Array[Int](n)
    var maxDep = 0
    var v = 1
    while (v < n) { dep(v) = dep(par(v)) + 1; maxDep = maxDep max dep(v); v += 1 }
    val depStart = new Array[Int](maxDep + 2)
    dep.foreach(d => depStart(d + 1) += 1)
    var d = 0
    while (d <= maxDep) { depStart(d + 1) += depStart(d); d += 1 }
    val bfs = new Array[Int](n)
    v = 0
    while (v < n) { bfs(depStart(dep(v))) = v; depStart(dep(v)) += 1; v += 1 }

    // outputs as CSR, pattern ids ascending per node
    val outStart = new Array[Int](n + 1)
    endNode.foreach(e => outStart(e + 1) += 1)
    v = 0
    while (v < n) { outStart(v + 1) += outStart(v); v += 1 }
    val outPids = new Array[Int](patterns.length)
    val fill = java.util.Arrays.copyOf(outStart, n)
    pid = 0
    while (pid < patterns.length) {
      val e = endNode(pid)
      outPids(fill(e)) = pid
      fill(e) += 1
      pid += 1
    }

    // flat goto: the root's children in a dense row, the rest in one
    // open-addressing table
    val rootNext = new Array[Int](tokenIds.size())
    val nonRoot = (1 until n).count(par(_) != 0)
    val edgeKeys = Array.fill(tableCap(nonRoot))(NoEdge)
    val edgeVals = new Array[Int](edgeKeys.length)
    val shift = 64 - Integer.numberOfTrailingZeros(edgeKeys.length)
    val nodes = new Array[Long](2 * n)
    v = 1
    while (v < n) {
      val p = par(v)
      nodes(2 * p) |= tokenBit(lab(v))
      if (p == 0) rootNext(lab(v)) = v
      else {
        val key = (p.toLong << 32) | lab(v)
        var slot = edgeSlot(key, shift)
        while (edgeKeys(slot) != NoEdge) slot = (slot + 1) & (edgeKeys.length - 1)
        edgeKeys(slot) = key
        edgeVals(slot) = v
      }
      v += 1
    }
    def goto(s: Int, t: Int): Int =
      if (s == 0) rootNext(t) else edges.getOrElse((s.toLong << 32) | t, 0)

    // failure and dictionary-suffix links in BFS order: a node's fail state
    // is shallower, so its links are final when the node is reached
    val fail = new Array[Int](n)
    val firstOut = new Array[Int](n) // the root's outputs are never emitted
    var i = 1 // bfs(0) is the root
    while (i < n) {
      val v = bfs(i)
      val p = par(v)
      if (p != 0) {
        val t = lab(v)
        var f = fail(p)
        var next = goto(f, t)
        while (f != 0 && next == 0) { f = fail(f); next = goto(f, t) }
        fail(v) = next
      }
      firstOut(v) = if (outStart(v + 1) > outStart(v)) v else firstOut(fail(v))
      nodes(2 * v + 1) = (fail(v) & 0xFFFFFFFFL) | (firstOut(v).toLong << 32)
      i += 1
    }

    // token interning table, keyed by String.hashCode, chars pooled
    val vocab = new Array[Int](tableCap(tokenIds.size()) * 4)
    var e = 2
    while (e < vocab.length) { vocab(e) = -1; e += 4 }
    val pool = new Array[Char](tokenIds.keySet().asScala.iterator.map(_.length).sum)
    val vshift = 32 - Integer.numberOfTrailingZeros(vocab.length / 4)
    var off = 0
    tokenIds.forEach { (k, id) =>
      val h = k.hashCode
      var slot = vocabSlot(h, vshift)
      while (vocab((slot << 2) + 2) >= 0) slot = (slot + 1) & (vocab.length / 4 - 1)
      val b = slot << 2
      vocab(b) = h; vocab(b + 1) = off; vocab(b + 2) = k.length; vocab(b + 3) = id
      k.getChars(0, k.length, pool, off)
      off += k.length
    }
    new AhoCorasick(rootNext, edgeKeys, edgeVals, nodes,
      outStart, outPids, patterns.map(_.length), vocab, pool)
  }
}
