package graft

import graft.model.Mention
import graft.operators.Voting

class VotingSpec extends GraftSuite {

  /** The 3-model fixture from the reference voting.py:139-154 (IoU=0.3,
    * vote=0.5). Expected final entities derived by hand from its algorithm:
    * cluster {(0,4),(0,8),(5,8)} -> concept C0012346 (max score .95), span
    * (0,8); cluster {(7,10),(7,13),(7,13)} -> C0026790 (.9+.92), span (7,13). */
  private def m(tryIdx: Int, s: Int, e: Int, code: String, acc: Double) =
    Mention("c", 0, tryIdx, s, e, "surf", "CUI" + code, "X", code, "name" + code, acc)

  private val fixture = Seq(
    m(0, 0, 4, "C0012345", 0.9), m(0, 7, 10, "C0026789", 0.85),
    m(1, 0, 8, "C0012346", 0.95), m(1, 7, 13, "C0026790", 0.9),
    m(2, 5, 8, "C0012347", 0.88), m(2, 7, 13, "C0026790", 0.92))

  test("local vote reproduces the reference voting.py fixture") {
    import spark.implicits._
    val got = Voting.vote(fixture.toDS(), 0.3, 0.5).collect().sortBy(_.start)
    assert(got.map(v => (v.start, v.end, v.code)).toSeq ===
      Seq((0, 8, "C0012346"), (7, 13, "C0026790")))
    assert(got.forall(_.support === 1.0))
  }

  test("vote threshold drops clusters with insufficient model support") {
    import spark.implicits._
    // only round 0 sees this span -> support 1/3 < 0.5
    val solo = Seq(m(0, 100, 110, "C9", 0.9))
    val got = Voting.vote((fixture ++ solo).toDS(), 0.3, 0.5).collect()
    assert(!got.exists(_.code == "C9"))
    // threshold 1/3 keeps it
    val got2 = Voting.vote((fixture ++ solo).toDS(), 0.3, 0.33).collect()
    assert(got2.exists(_.code == "C9"))
  }

  test("distributed (CC self-join) vote == local vote on a synthetic corpus") {
    import spark.implicits._
    val nBase = 48
    val gazB = spark.sparkContext.broadcast(sources.Gazetteer.rows(nBase).toArray)
    val turns = sources.SynthTranscripts.turns(spark, 25, nBase)
    val mentions = operators.MentionExtractor
      .extract(operators.Segmentation.segments(turns.toDF()), gazB)
    val local = Voting.vote(mentions).collect()
      .map(v => (v.conv_id, v.turn_idx, v.start, v.end, v.source, v.code, v.support)).toSet
    val dist = Voting.voteDistributed(mentions).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(5), r.getString(6), r.getDouble(8))).toSet
    assert(local.nonEmpty)
    assert(dist === local)
  }

  test("skewed fixture: one mega conversation holding ~50% of all mentions " +
    "(SURVEY §7.4 risk 2) — distributed vote == local vote") {
    import spark.implicits._
    def mention(conv: String, turn: Int, tryIdx: Int, start: Int, end: Int,
        code: Int): graft.model.Mention =
      graft.model.Mention(conv, turn, tryIdx, start, end, s"s$code",
        f"C$code%07d", "SNOMEDCT_US", code.toString, s"concept $code", 0.9)
    // mega conv: 3000 mentions across 100 turns, dense overlaps per turn
    val mega = for {
      t <- 0 until 100; i <- 0 until 10; v <- 0 until 3
    } yield mention("mega", t, v, i * 7 + v, i * 7 + v + 6, i % 5)
    // 50 small convs with 60 mentions each
    val small = for {
      c <- 0 until 50; t <- 0 until 20; v <- 0 until 3
    } yield mention(s"c$c", t, v, t * 3, t * 3 + 4, (c + t) % 7)
    val all = (mega ++ small).toDS().repartition(16)
    assert(mega.size.toDouble / (mega.size + small.size) > 0.45)
    val local = Voting.vote(all, 0.3, 0.5).collect()
      .map(_.toString).sorted.toSeq
    val dist = Voting.voteDistributed(all, 0.3, 0.5)
      .as[graft.model.VotedMention].collect().map(_.toString).sorted.toSeq
    assert(local.nonEmpty && local == dist)
  }
}
