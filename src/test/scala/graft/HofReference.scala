package graft

import graft.operators.Dedup.words
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function reference forms of the native signature kernels
  * (graft.functions.SignatureExprs): pure column expressions kept as the
  * executable specs the parity suites check the codegen'd kernels against.
  * No main code uses them. */
object HofReference {

  /** Cosine similarity of two array<float|double> columns (SURVEY §2.8 F6). */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (s, v) => s + v))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (s, v) => s + v))
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(lit(0.0))
  }

  /** Deterministic ±1 hyperplane component for (plane, dim): parity of
    * xxhash64(plane * 100003 + dim). Same formula on both the data and the
    * query side — no stored model. */
  private def planeSign(plane: Int, dim: Column): Column =
    when(pmod(xxhash64(dim * 31 + lit(plane * 100003)), lit(2)) === 0, lit(1.0))
      .otherwise(lit(-1.0))

  /** `bits`-bit random-hyperplane signature of a vector column. */
  def lshSignatureHof(vec: Column, bits: Int): Column = {
    val vd = transform(vec, x => x.cast("double"))
    val bitCols = (0 until bits).map { p =>
      val proj = aggregate(
        zip_with(vd, sequence(lit(0), size(vd) - 1),
          (x, i) => x * planeSign(p, i)),
        lit(0.0), (s, v) => s + v)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** k-word shingle hashes (distinct) as array<long>. */
  def shingles(text: Column, k: Int = 3): Column = {
    val ws = words(text)
    array_distinct(transform(
      sequence(lit(0), greatest(size(ws) - k, lit(0))),
      i => xxhash64(array_join(slice(ws, i + 1, lit(k)), " "))))
  }

  /** MinHash signature: m hash functions h_j(s) = xxhash64(s, j), each
    * minimized over the shingle set. Written as ONE fold over the shingles
    * (per shingle: all m hashes; accumulator: element-wise min) instead of
    * the textbook m-passes form — Catalyst re-evaluates a lambda's input
    * per outer-loop iteration and does no cross-lambda CSE, so the m-passes
    * form re-shingled the document m times (measured ~30× slower).
    * Empty shingle set ⇒ all-Long.MaxValue signature (callers filter). */
  def minhashSignatureOf(shingleCol: Column, m: Int = 32): Column =
    aggregate(
      transform(shingleCol,
        s => transform(sequence(lit(0), lit(m - 1)), j => xxhash64(s, j))),
      array_repeat(lit(Long.MaxValue), m),
      (acc, hs) => zip_with(acc, hs, (a, b) => least(a, b)))

  def minhashSignature(text: Column, m: Int = 32, k: Int = 3): Column =
    minhashSignatureOf(shingles(text, k), m)

  /** SimHash-64 of the word multiset: for each bit position, sum ±1 over
    * token hashes and take the sign bit. Written as ONE fold over the
    * tokens (accumulator = 64 bit-counters, per token all 64
    * contributions) — the textbook per-bit outer loop would re-tokenize
    * the document 64 times (see [[minhashSignatureOf]]). (`call_function`
    * because the Scala `shiftright`/`shiftleft` helpers only take literal
    * Int shift amounts, not lambda-bound columns.) */
  def simhash64(text: Column): Column = {
    val counters = aggregate(
      transform(words(text), w => xxhash64(w)),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (a, b) => a + when(call_function("shiftright", h, b.cast("int"))
          .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))))
    aggregate(
      zip_with(counters, sequence(lit(0), lit(63)),
        (c, b) => when(c > 0,
          call_function("shiftleft", lit(1L), b.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }
}
