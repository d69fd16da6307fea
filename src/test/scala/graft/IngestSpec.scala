package graft

import graft.operators.Ingest
import java.sql.Timestamp

/** P4/P6 ingest quarantine (SURVEY §2.2 P4): every rejected row carries a
  * reason, duplicates resolve latest-wins, nothing is silently dropped. */
class IngestSpec extends GraftSuite {
  import spark.implicits._

  test("ingest: reasons, latest-wins supersede, nothing silently dropped") {
    val ts = (s: Long) => new Timestamp(1700000000000L + s * 1000)
    val rows = Seq(
      ("c1", 0, "user", "hello", None: Option[String], ts(0)),
      ("c1", 0, "user", "hello v2", None, ts(5)),     // duplicate key, newer
      ("c1", 1, "robot", "bad role", None, ts(1)),    // bad_role
      ("c1", 2, "user", "", None, ts(2)),             // empty_text
      ("", 0, "user", "x", None, ts(3)),              // null_conv_id
      ("c2", -1, "user", "x", None, ts(4)),           // bad_turn_idx
      ("c2", 0, "assistant", "fine", Some("search"), ts(6)),
      ("c3", 0, null, "null role", None, ts(7))      // NULL role → bad_role
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val (valid, quarantine) = Ingest.validate(rows)
    val v = valid.select("conv_id", "turn_idx", "text").as[(String, Int, String)]
      .collect().toSet
    assert(v == Set(("c1", 0, "hello v2"), ("c2", 0, "fine")))
    val q = quarantine.select("reason").as[String].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(q == Map("bad_role" -> 2, "empty_text" -> 1, "null_conv_id" -> 1,
      "bad_turn_idx" -> 1, "superseded_duplicate" -> 1))
    assert(valid.count() + quarantine.count() == rows.count()) // conservation
  }
}
