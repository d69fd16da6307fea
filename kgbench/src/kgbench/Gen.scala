package kgbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.model.GazRow
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every value is a pure function of
  * (seed, indices), so the same seed gives the same tables at any
  * parallelism, and the program under test only ever sees the written
  * tables. Independent of the program's own synthetic sources on purpose. */
object Gen {

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def h(a: Long, b: Long): Long = mix(mix(a) ^ (b * 0x632be59bd9b4e019L))
  def h(a: Long, b: Long, c: Long): Long = mix(h(a, b) ^ (c * 0x85157af5L))
  def h(a: Long, b: Long, c: Long, d: Long): Long = mix(h(a, b, c) ^ (d * 0x9e3779b1L))
  def h(a: Long, b: Long, c: Long, d: Long, e: Long): Long = mix(h(a, b, c, d) ^ (e * 0x7f4a7c15L))
  /** Uniform in [0, n). */
  def pick(x: Long, n: Int): Int = java.lang.Math.floorMod(x, n.toLong).toInt

  // two-letter consonant-vowel syllables: concatenations parse uniquely,
  // and no word ends in 's', so stemming only touches planted plurals
  private val consonants = "bcdfghjklmnprtvwxyz"
  private val vowels = "aeiou"
  private def syl(i: Int): String =
    s"${consonants.charAt(i % consonants.length)}${vowels.charAt(i / consonants.length % vowels.length)}"
  private val nSyl = consonants.length * vowels.length

  /** Word `i` of the seed's vocabulary; distinct for i < nSyl². */
  def word(seed: Long, i: Int): String =
    syl(i % nSyl) + syl(i / nSyl % nSyl) + syl(pick(h(seed, 7L, i.toLong), nSyl))

  private val baseTs = 1700000000000L
  private val sabs = Vector("SNOMEDCT_US", "RXNORM", "LNC")
  private val tools = Vector("search", "calculator", "retrieval", "browser", "coder")

  def convId(c: Int): String = "c" + (10000000 + c).toString.substring(1)

  def role(seed: Long, c: Int, t: Int): String = {
    val r = pick(h(seed, 11L, c.toLong, t.toLong), 10)
    if (r < 5) "user" else if (r < 9) "assistant" else "tool"
  }

  def tool(seed: Long, c: Int, t: Int, role: String): String =
    if (role == "tool" || (role == "assistant" && pick(h(seed, 12L, c.toLong, t.toLong), 4) == 0))
      tools(pick(h(seed, 13L, c.toLong, t.toLong), tools.length))
    else null

  /** Timestamps stay inside a five-minute span: nothing is ever late for
    * the streaming watermark, so dedup state never expires mid-run. */
  def ts(seed: Long, c: Int, t: Int): Timestamp =
    new Timestamp(baseTs + pick(h(seed, 14L, c.toLong), 240) * 1000L + t)

  // ---------------------------------------------------------------- shapes

  /** How turns of one workload look. `conv sizes`: conv 0 holds
    * `megaShare` of all turns when > 0, the rest draw from [minTurns, maxTurns]. */
  sealed trait Text extends Serializable { def text(seed: Long, c: Int, t: Int): String }

  /** Long turns of vocabulary filler with a planted alias about every
    * `plantEvery` tokens (a fifth of them pluralised). */
  final case class Sparse(aliases: Array[String], vocab: Int, plantEvery: Int) extends Text {
    @transient private lazy val words = mutable.HashMap.empty[Long, Array[String]]
    private def vocabOf(seed: Long): Array[String] = words.synchronized(
      words.getOrElseUpdate(seed, Array.tabulate(vocab)(word(seed, _))))
    def text(seed: Long, c: Int, t: Int): String = {
      val v = vocabOf(seed)
      val nLines = 20 + pick(h(seed, 1L, c.toLong, t.toLong), 41)
      val sb = new java.lang.StringBuilder(nLines * 80)
      var j = 0
      while (j < nLines) {
        val nWords = 8 + pick(h(seed, 2L, c.toLong, t.toLong, j.toLong), 9)
        var w = 0
        while (w < nWords) {
          if (w > 0) sb.append(' ')
          val x = h(seed, 3L, c.toLong, t.toLong, (j.toLong << 8) | w)
          if (pick(x, plantEvery) == 0) {
            sb.append(aliases(pick(x >>> 8, aliases.length)))
            if (pick(x >>> 40, 5) == 0) sb.append('s')
          } else sb.append(v(pick(x >>> 8, vocab)))
          w += 1
        }
        if (j < nLines - 1)
          sb.append(if (pick(h(seed, 4L, c.toLong, t.toLong, j.toLong), 4) == 0) "\n\n" else "\n")
        j += 1
      }
      sb.toString
    }
  }

  /** Short turns (1-3 lines) with an alias about every third token, drawn
    * from a per-turn subset of four concepts so concepts repeat; each
    * plant is the PT, its plural, the "chronic" synonym or the "acute"
    * longest-match trap. */
  final case class Dense(surfaces: Array[String], nAcute: Int, fillers: Array[String]) extends Text {
    def text(seed: Long, c: Int, t: Int): String = {
      val nLines = 1 + pick(h(seed, 21L, c.toLong, t.toLong), 3)
      val nBase = surfaces.length
      val sb = new java.lang.StringBuilder(nLines * 96)
      var j = 0
      while (j < nLines) {
        val nSlots = 6 + pick(h(seed, 22L, c.toLong, t.toLong, j.toLong), 5)
        var s = 0
        while (s < nSlots) {
          if (s > 0) sb.append(' ')
          val x = h(seed, 23L, c.toLong, t.toLong, (j.toLong << 8) | s)
          sb.append(fillers(pick(x, fillers.length))).append(' ')
          val k = pick(h(seed, 24L, c.toLong, t.toLong, pick(x >>> 8, 4).toLong), nBase)
          pick(x >>> 16, 6) match {
            case 0 => sb.append(surfaces(k)).append('s')
            case 1 => sb.append("chronic ").append(surfaces(k))
            case 2 if k < nAcute => sb.append("acute ").append(surfaces(k))
            case _ => sb.append(surfaces(k))
          }
          s += 1
        }
        if (j < nLines - 1) sb.append('\n')
        j += 1
      }
      sb.toString
    }
  }

  /** Default density: 1-18 lines of 4-8 filler words, about 40% of lines
    * carry one planted surface (a fifth pluralised), blank-line breaks. */
  final case class Default(surfaces: Array[String], fillers: Array[String]) extends Text {
    def text(seed: Long, c: Int, t: Int): String = {
      val nLines = 1 + pick(h(seed, 31L, c.toLong, t.toLong), 18)
      val sb = new java.lang.StringBuilder(nLines * 48)
      var j = 0
      while (j < nLines) {
        val nWords = 4 + pick(h(seed, 32L, c.toLong, t.toLong, j.toLong), 5)
        val x = h(seed, 33L, c.toLong, t.toLong, j.toLong)
        val at = if (pick(x, 10) < 4) pick(x >>> 8, nWords + 1) else -1
        var w = 0
        while (w <= nWords) {
          if (w == at) {
            if (sb.length > 0 && sb.charAt(sb.length - 1) != '\n') sb.append(' ')
            sb.append(surfaces(pick(x >>> 16, surfaces.length)))
            if (pick(x >>> 40, 5) == 0) sb.append('s')
          }
          if (w < nWords) {
            if (sb.length > 0 && sb.charAt(sb.length - 1) != '\n') sb.append(' ')
            sb.append(fillers(pick(h(seed, 34L, c.toLong, t.toLong, (j.toLong << 8) | w), fillers.length)))
          }
          w += 1
        }
        if (j < nLines - 1)
          sb.append(if (pick(h(seed, 35L, c.toLong, t.toLong, j.toLong), 7) == 0) "\n\n" else "\n")
        j += 1
      }
      sb.toString
    }
  }

  /** Conversation sizes: conv 0 is a mega-conversation holding `megaShare`
    * of `nTurns` when that is > 0; the others draw from [lo, hi]. Returns
    * sizes summing to exactly `nTurns`. */
  def convSizes(seed: Long, nTurns: Int, lo: Int, hi: Int, megaShare: Double): Array[Int] = {
    val b = Array.newBuilder[Int]
    var left = nTurns
    if (megaShare > 0) { val m = (nTurns * megaShare).toInt; b += m; left -= m }
    var c = 1
    while (left > 0) {
      val s = math.min(left, lo + pick(h(seed, 41L, c.toLong), hi - lo + 1))
      b += s; left -= s; c += 1
    }
    b.result()
  }

  final case class TurnRow(conv_id: String, turn_idx: Int, role: String,
      text: String, tool: String, ts: Timestamp)

  /** The turns table of the given conversation sizes, generated on the
    * executors in blocks of at most 64 turns. */
  def turns(spark: SparkSession, seed: Long, sizes: Array[Int], shape: Text,
      parts: Int): DataFrame = {
    import spark.implicits._
    val blocks = sizes.indices.flatMap(c => (0 until sizes(c) by 64).map(t0 =>
      (c, t0, math.min(t0 + 64, sizes(c)))))
    spark.sparkContext.parallelize(blocks, parts).flatMap { case (c, t0, t1) =>
      (t0 until t1).iterator.map { t =>
        val r = role(seed, c, t)
        TurnRow(convId(c), t, r, shape.text(seed, c, t), tool(seed, c, t, r), ts(seed, c, t))
      }
    }.toDF()
  }

  /** A large seeded gazetteer: `nConcepts` concepts, each with a 2-3 word
    * PT, an FN ("... disorder"), a 2-3 word non-preferred SY, and for two
    * thirds of them an ICD10CM crosswalk row — about 3.7 rows per concept. */
  def bigGazetteer(seed: Long, nConcepts: Int, vocab: Int): Array[GazRow] = {
    def phrase(k: Int, salt: Long): String = {
      val n = 2 + pick(h(seed, salt, k.toLong), 2)
      (0 until n).map(i => word(seed, pick(h(seed, salt + 1, k.toLong, i.toLong), vocab))).mkString(" ")
    }
    val b = Array.newBuilder[GazRow]
    var k = 0
    while (k < nConcepts) {
      val cui = "C" + (10000000 + k).toString.substring(1)
      val sab = sabs(pick(h(seed, 51L, k.toLong), 3))
      val code = s"${sab.take(1)}${100003 + 7L * k}"
      val pt = phrase(k, 60L)
      b += GazRow(cui, sab, "PT", "Y", code, pt)
      b += GazRow(cui, sab, "FN", "Y", code, pt + " disorder")
      b += GazRow(cui, sab, "SY", "N", code, phrase(k, 70L))
      if (pick(h(seed, 52L, k.toLong), 3) != 0)
        b += GazRow(cui, "ICD10CM", "PT", "Y",
          f"${('A' + k % 26).toChar}${k % 100}%02d.${k % 10}", pt)
      k += 1
    }
    b.result()
  }

  /** Plantable aliases of a gazetteer: every non-crosswalk string. */
  def aliases(gaz: Array[GazRow]): Array[String] =
    gaz.filter(_.sab != "ICD10CM").map(_.str).distinct

  // ---------------------------------------------------------------- dedup

  /** Near-duplicate document corpus. Corpus docs are fresh random texts.
    * Delta docs (ids after the corpus, streamed in id order) are fresh,
    * near-duplicates of a corpus doc, or near-duplicates of an earlier
    * delta doc up to 300 ids back — which builds cross-batch chains
    * a ≈ b ≈ c with a ≉ c, since each mutation rewrites every 12th word
    * at an offset 6 away from its parent's. */
  final case class Docs(nCorpus: Int, nDelta: Int, vocab: Int) {
    @transient private lazy val vocabs = mutable.HashMap.empty[Long, Array[String]]
    private def vocabOf(seed: Long): Array[String] = vocabs.synchronized(
      vocabs.getOrElseUpdate(seed, Array.tabulate(vocab)(word(seed, _))))
    private def len(seed: Long, id: Long): Int = 48 + pick(h(seed, 81L, id), 33)

    /** (parent id or -1, mutation offset) of a doc. */
    private def parent(seed: Long, id: Long): (Long, Int) =
      if (id < nCorpus) (-1L, 0)
      else {
        val x = h(seed, 82L, id)
        pick(x, 20) match {
          case r if r < 3 => (pick(x >>> 8, nCorpus).toLong, pick(x >>> 24, 12))
          case r if r < 7 =>
            val p = math.max(nCorpus.toLong, id - 1 - pick(x >>> 8, 300))
            if (p == id) (-1L, 0) else (p, -1) // offset derived from the parent's
          case _ => (-1L, 0)
        }
      }

    private def offsetOf(seed: Long, id: Long): Int = {
      val (p, off) = parent(seed, id)
      if (p < 0) 0 else if (off >= 0) off else (offsetOf(seed, p) + 6) % 12
    }

    def words(seed: Long, id: Long): Array[String] = {
      val (p, _) = parent(seed, id)
      if (p < 0)
        Array.tabulate(len(seed, id))(i => vocabOf(seed)(pick(h(seed, 83L, id, i.toLong), vocab)))
      else {
        val base = words(seed, p)
        val off = offsetOf(seed, id)
        var i = off
        while (i < base.length) {
          base(i) = vocabOf(seed)(pick(h(seed, 84L, id, i.toLong), vocab))
          i += 12
        }
        base
      }
    }

    def text(seed: Long, id: Long): String = words(seed, id).mkString(" ")

    def frame(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int): DataFrame = {
      import spark.implicits._
      val n = this
      spark.range(from, until, 1, parts).as[Long]
        .map(id => (id, n.text(seed, id))).toDF("doc_id", "text")
    }
  }
}
