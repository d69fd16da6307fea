package graft.functions

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** JVM kernels for the dedup signature functions (SimHash, MinHash,
  * shingle hashing). Bit-identical to the higher-order-function forms in
  * [[graft.operators.Dedup]] (same tokenizer as
  * `split(lower(text), '[^a-z0-9]+')`, same xxhash64 seed-42 chains) —
  * parity is asserted in DedupSpec on real corpora. They exist because the
  * HOF forms allocate one array per token per row; a flat JVM loop over
  * the text is ~10× faster and, wrapped in the codegen'd expressions of
  * [[SignatureExprs]], stays inside whole-stage codegen.
  */
object Signatures {

  val Seed = 42L

  /** xxhash64(string) — Spark's XxHash64 on a StringType child, seed 42. */
  def hashString(s: UTF8String): Long = XxHash64Function.hash(s, StringType, Seed)

  /** xxhash64(longCol, intLit) — Spark chains: seed → long → int. */
  def hashLongInt(l: Long, j: Int): Long =
    XxHash64Function.hash(j, IntegerType,
      XxHash64Function.hash(l, LongType, Seed))

  /** Tokens of `lower(text)` split on `[^a-z0-9]+`, empties dropped —
    * mirrors Dedup.words. Flat scan, no regex. */
  def tokens(text: UTF8String): Array[String] = {
    val s = text.toLowerCase.toString
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val st = i
        while (i < n && { val d = s.charAt(i); (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9') }) i += 1
        out += s.substring(st, i)
      } else i += 1
    }
    out.toArray
  }

  /** Distinct k-word shingle hashes, first-occurrence order — mirrors
    * Dedup.shingles: i ∈ [0, max(nTokens−k, 0)], shingle = join(" "),
    * so an empty/short text yields exactly one shingle (possibly ""). */
  def shingleHashes(text: UTF8String, k: Int): Array[Long] = {
    val ts = tokens(text)
    val hi = math.max(ts.length - k, 0)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= hi) {
      val sb = new java.lang.StringBuilder
      var j = i
      val end = math.min(i + k, ts.length)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(ts(j))
        j += 1
      }
      seen.add(hashString(UTF8String.fromString(sb.toString)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    out
  }

  /** MinHash signature over the distinct shingle hashes: sig(j) =
    * min_s xxhash64(s, j) — mirrors HofReference.minhashSignature (empty set ⇒
    * all Long.MaxValue, unreachable in practice since shingleHashes ≥ 1). */
  def minhashSig(text: UTF8String, m: Int, k: Int): Array[Long] = {
    val sh = shingleHashes(text, k)
    val sig = Array.fill(m)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var j = 0
      while (j < m) {
        val h = hashLongInt(sh(i), j)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Cosine similarity of two numeric arrays — mirrors Similarity.cosine
    * exactly (cast-to-double, left-to-right sums, 0.0 on zero norms) so
    * results are bit-identical to the zip_with/aggregate form. `aFloat`/
    * `bFloat` select the element reader (parquet float vectors vs double
    * literal query vectors). */
  def cosine(a: org.apache.spark.sql.catalyst.util.ArrayData, aFloat: Boolean,
      b: org.apache.spark.sql.catalyst.util.ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      i += 1
    }
    var na = 0.0
    i = 0
    while (i < a.numElements()) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      na += x * x; i += 1
    }
    var nb = 0.0
    i = 0
    while (i < b.numElements()) {
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      nb += y * y; i += 1
    }
    val sa = math.sqrt(na); val sb = math.sqrt(nb)
    if (sa > 0 && sb > 0) dot / (sa * sb) else 0.0
  }

  /** Exact Jaccard of two long arrays whose DISTINCT-element intersection
    * is wanted against their RAW lengths — mirrors the HOF verify tail
    * `size(array_intersect(a, b)) / (size(a) + size(b) − inter)` exactly
    * (array_intersect dedups; raw sizes count duplicates; division is the
    * same int-to-double divide). Inputs here are [[shingleHashes]] outputs
    * (already distinct), but duplicate `b` elements are counted once via
    * the matched flag, so the result equals the HOF form on ANY input with
    * distinct `a`. One open-addressing probe per element, no array
    * materialization — replaces the array_intersect verify that profiled
    * at ~38 s CPU per recall surface at sf0.1. */
  def jaccard(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    // power-of-two table ≥ 2×na, min 8
    var cap = 8
    while (cap < na * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val state = new Array[Byte](cap) // 0 empty, 1 present, 2 matched
    val mask = cap - 1
    var i = 0
    while (i < na) {
      val k = a.getLong(i)
      var p = (java.lang.Long.hashCode(k * -7046029254386353131L)) & mask
      var done = false
      while (!done) {
        if (state(p) == 0) { keys(p) = k; state(p) = 1; done = true }
        else if (keys(p) == k) done = true
        else p = (p + 1) & mask
      }
      i += 1
    }
    var inter = 0
    i = 0
    while (i < nb) {
      val k = b.getLong(i)
      var p = (java.lang.Long.hashCode(k * -7046029254386353131L)) & mask
      var done = false
      while (!done) {
        if (state(p) == 0) done = true
        else if (keys(p) == k) {
          if (state(p) == 1) { state(p) = 2; inter += 1 }
          done = true
        } else p = (p + 1) & mask
      }
      i += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** `bits`-bit random-hyperplane LSH signature — mirrors
    * HofReference.lshSignatureHof bit-for-bit: plane p's ±1 component for
    * dimension i is the parity of xxhash64(i·31 + p·100003) (an INT input,
    * Spark seed 42), the projection is the in-order left fold
    * Σ x_i·sign_i over the double-cast elements, and bit p is set iff the
    * projection is > 0. `isFloat` selects the element reader (parquet
    * float vectors vs double literal query vectors), like [[cosine]]. */
  def lshSignature(v: org.apache.spark.sql.catalyst.util.ArrayData,
      isFloat: Boolean, bits: Int): Long = {
    val n = v.numElements()
    var sig = 0L
    var p = 0
    while (p < bits) {
      val base = p * 100003
      var proj = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashInt(i * 31 + base, Seed)
        // pmod(h, 2) == 0 ⟺ low bit clear (pmod maps −1 → 1)
        proj += (if ((h & 1L) == 0L) x else -x)
        i += 1
      }
      if (proj > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** SimHash-64 of the token multiset — mirrors HofReference.simhash64: per token
    * hash, ±1 per bit, sign-bit sig. */
  def simhash64(text: UTF8String): Long = {
    val ts = tokens(text)
    val counters = new Array[Int](64)
    var i = 0
    while (i < ts.length) {
      val h = hashString(UTF8String.fromString(ts(i)))
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
